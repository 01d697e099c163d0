package graft.queries

import graft.operators.{Filters, Partitioners, Scan, Transforms}
import graft.sinks.Sinks
import graft.sources.Tables
import graft.spec.TableSpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The reference's own operator surface (SURVEY.md §2.1-§2.13), one catalog
  * entry per key, each with a DuckDB oracle. Timestamps are exported as epoch
  * millis (BIGINT) everywhere — parquet ns-vs-us precision would otherwise
  * make engine comparison ill-defined. Every query carries a total ORDER BY
  * so results are deterministic in both engines.
  */
object ReferenceQueries {

  /** Watermark used by filter_modified_ts: 2024-06-01T00:00:00Z in millis. */
  val WatermarkMs: Long = 1717200000000L

  def defs: Seq[QueryDef] = Seq(

    // ---- §2.1 scans ----
    QueryDef.headline("scan_full",
      (s, dir) => Tables.events(s, dir)
        .select(col("event_id"), unix_millis(col("ts")).as("ts_ms"),
          col("user_id"), col("event_type"), col("value"), col("props"))
        .orderBy("event_id"),
      Some("""SELECT event_id, CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ts_ms,
             |       user_id, event_type, value, props
             |FROM events ORDER BY event_id""".stripMargin)),

    QueryDef("scan_count",
      (s, dir) => Tables.lineitem(s, dir).agg(count(lit(1)).as("cnt")),
      Some("SELECT count(*) AS cnt FROM lineitem")),

    QueryDef("scan_count_filtered",
      // the reference's count_data supports a pushed solr_query filter
      // (datacrawler.py:186-200); here the predicate reaches the scan
      (s, dir) => Filters.solr(Tables.events(s, dir), "event_type:purchase")
        .agg(count(lit(1)).as("cnt")),
      Some("SELECT count(*) AS cnt FROM events WHERE event_type = 'purchase'")),

    QueryDef("scan_resume",
      // fetch_size=1000; pages 0,1 done; page 2 delivered through record 500
      (s, dir) => Scan.resume(
          Tables.events(s, dir).select("event_id"), "event_id", 1000,
          donePages = Set(0L, 1L), lastRecordOffset = Map(2L -> 500L))
        .orderBy("event_id"),
      Some("""WITH r AS (SELECT event_id, row_number() OVER (ORDER BY event_id) AS rn FROM events)
             |SELECT event_id FROM r
             |WHERE CAST(floor((rn-1)/1000) AS BIGINT) NOT IN (0,1)
             |  AND NOT (CAST(floor((rn-1)/1000) AS BIGINT) = 2 AND rn - 2000 <= 500)
             |ORDER BY event_id""".stripMargin)),

    QueryDef.headline("scan_page_scalable",
      // SCALE-PATH page numbering: same page semantics as the global-window
      // parity form, computed via range buckets + per-bucket ranking — no
      // single-partition window anywhere (the oracle IS the global form, so
      // a green row proves the two agree row-for-row)
      (s, dir) => Scan.withPageNumberScalable(
          Tables.events(s, dir).select("event_id", "user_id"),
          "event_id", fetchSize = 1000)
        .orderBy("event_id"),
      Some("""SELECT event_id, user_id,
             |       CAST(floor((row_number() OVER (ORDER BY event_id) - 1) / 1000) AS BIGINT) AS page
             |FROM events ORDER BY event_id""".stripMargin)),

    // ---- §2.2 projection / filters ----
    QueryDef("project_columns",
      (s, dir) => Scan.projectColumns(Tables.events(s, dir),
        Seq("event_id", "event_type", "value")).orderBy("event_id"),
      Some("SELECT event_id, event_type, value FROM events ORDER BY event_id")),

    QueryDef.headline("filter_solr",
      (s, dir) => Filters.solr(Tables.events(s, dir),
          "event_type:click AND value:[10 TO 100]")
        .select("event_id", "event_type", "value").orderBy("event_id"),
      Some("""SELECT event_id, event_type, value FROM events
             |WHERE event_type = 'click' AND value >= 10 AND value <= 100
             |ORDER BY event_id""".stripMargin)),

    QueryDef("filter_solr_compound",
      (s, dir) => Filters.solr(Tables.events(s, dir),
          "(event_type:view OR event_type:purchase) AND NOT user_id:7 AND event_type:*")
        .select("event_id", "event_type", "user_id").orderBy("event_id"),
      Some("""SELECT event_id, event_type, user_id FROM events
             |WHERE (event_type = 'view' OR event_type = 'purchase')
             |  AND NOT user_id = 7 AND event_type IS NOT NULL
             |ORDER BY event_id""".stripMargin)),

    QueryDef("filter_modified_ts",
      (s, dir) => Filters.watermark(Tables.events(s, dir)
            .withColumn("ts_ms", unix_millis(col("ts"))),
          col("ts_ms"), WatermarkMs)
        .select("event_id", "ts_ms").orderBy("event_id"),
      Some(s"""SELECT event_id, CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ts_ms
              |FROM events
              |WHERE CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) < $WatermarkMs
              |ORDER BY event_id""".stripMargin)),

    // ---- §2.7 sort / limit / paging ----
    QueryDef("sort_limit",
      (s, dir) => Scan.limitPages(
        Scan.sortBy(Tables.events(s, dir).select("event_id", "value"),
          Seq(("value", false), ("event_id", true))), pages = 1, fetchSize = 100),
      Some("SELECT event_id, value FROM events ORDER BY value DESC, event_id LIMIT 100")),

    QueryDef("limit_fetch",
      (s, dir) => Scan.fetchPage(
        Tables.events(s, dir).select("event_id", "event_type").orderBy("event_id"),
        page = 3, fetchSize = 1000),
      Some("SELECT event_id, event_type FROM events ORDER BY event_id LIMIT 1000 OFFSET 3000")),

    // ---- §2.3 transform pipeline ----
    QueryDef("rename_cols",
      (s, dir) => Transforms.renameCols(Tables.events(s, dir),
          Seq("props" -> "payload", "value" -> "amount"))
        .select("event_id", "amount", "payload").orderBy("event_id"),
      Some("SELECT event_id, value AS amount, props AS payload FROM events ORDER BY event_id")),

    QueryDef("drop_cols",
      (s, dir) => Transforms.dropCols(Tables.events(s, dir), Seq("props", "ts", "value"))
        .orderBy("event_id"),
      Some("SELECT event_id, user_id, event_type FROM events ORDER BY event_id")),

    QueryDef("convert_object",
      (s, dir) => Transforms.convertObject(Tables.events(s, dir), "props",
          StructType.fromDDL("k BIGINT"))
        .select(col("event_id"), col("props.k").as("k")).orderBy("event_id"),
      Some("""SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
             |FROM events ORDER BY event_id""".stripMargin)),

    QueryDef("convert_list",
      // list-of-JSON-strings shape built from props, then decoded back
      (s, dir) => Transforms.convertList(
          Tables.events(s, dir).withColumn("items", array(col("props"), col("props"))),
          "items", StructType.fromDDL("k BIGINT"))
        .select(col("event_id"),
          element_at(col("items"), 1).getField("k").as("k1"),
          element_at(col("items"), 2).getField("k").as("k2"))
        .orderBy("event_id"),
      Some("""SELECT event_id,
             |       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k1,
             |       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k2
             |FROM events ORDER BY event_id""".stripMargin)),

    QueryDef("convert_map",
      (s, dir) => Transforms.convertMap(
          Tables.events(s, dir).withColumn("attrs", map(lit("a"), col("props"))),
          "attrs", StructType.fromDDL("k BIGINT"))
        .select(col("event_id"),
          element_at(col("attrs"), "a").getField("k").as("ak"))
        .orderBy("event_id"),
      Some("""SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS ak
             |FROM events ORDER BY event_id""".stripMargin)),

    QueryDef("convert_timestamp",
      // reference shape: "<%Y-%m-%d %H:%M:%S.%f>Z" string -> epoch millis
      (s, dir) => Tables.events(s, dir)
        .withColumn("ts_str",
          concat(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"), lit("Z")))
        .select(col("event_id"),
          Transforms.timestampMillis(col("ts_str")).as("ts_ms"))
        .orderBy("event_id"),
      Some("""SELECT event_id, CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ts_ms
             |FROM events ORDER BY event_id""".stripMargin)),

    QueryDef("convert_template",
      (s, dir) => Transforms.convertTemplate(Tables.events(s, dir), "derived",
          "str(row['event_type']) + '-' + str(row['user_id'])")
        .select("event_id", "derived").orderBy("event_id"),
      Some("""SELECT event_id, event_type || '-' || CAST(user_id AS VARCHAR) AS derived
             |FROM events ORDER BY event_id""".stripMargin)),

    QueryDef("convert_template_arith",
      (s, dir) => Transforms.convertTemplate(Tables.events(s, dir), "derived",
          "int(row['user_id']) * 100 + 7")
        .select("event_id", "derived").orderBy("event_id"),
      Some("""SELECT event_id, CAST(user_id AS BIGINT) * 100 + 7 AS derived
             |FROM events ORDER BY event_id""".stripMargin)),

    QueryDef("apply_spec",
      // full spec-driven pipeline: rename + object-decode + template + drop
      (s, dir) => Transforms.applySpec(Tables.events(s, dir), TableSpec.parse(
          """{"columns": [
            |  {"name": "value", "renameTo": "amount"},
            |  {"name": "props", "convertTo": "object", "schema": "k BIGINT"},
            |  {"name": "derived",
            |   "convertTo": "template:str(row['event_type']) + ':' + str(row['user_id'])"},
            |  {"name": "ts", "remove": true}
            |]}""".stripMargin))
        .select(col("event_id"), col("amount"), col("props.k").as("k"), col("derived"))
        .orderBy("event_id"),
      Some("""SELECT event_id, value AS amount,
             |       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
             |       event_type || ':' || CAST(user_id AS VARCHAR) AS derived
             |FROM events ORDER BY event_id""".stripMargin)),

    QueryDef("inject_id",
      (s, dir) => Transforms.injectId(
          Tables.events(s, dir)
            .withColumn("id", when(col("event_id") % 7 =!= 0,
              col("event_id").cast("string"))),
          fallback = Some(md5(concat(lit("evt-"), col("event_id")))))
        .select("event_id", "id").orderBy("event_id"),
      Some("""SELECT event_id,
             |       coalesce(CASE WHEN event_id % 7 <> 0 THEN CAST(event_id AS VARCHAR) END,
             |                md5('evt-' || CAST(event_id AS VARCHAR))) AS id
             |FROM events ORDER BY event_id""".stripMargin)),

    QueryDef("attach_raw_json",
      (s, dir) => Transforms.attachRawJson(
          Tables.events(s, dir).select("event_id", "event_type"))
        .orderBy("event_id"),
      Some("""SELECT event_id, event_type,
             |       CAST(to_json(struct_pack(event_id := event_id, event_type := event_type)) AS VARCHAR) AS json
             |FROM events ORDER BY event_id""".stripMargin)),

    // ---- §2.3 render + §2.11 sink shapes ----
    QueryDef("render_template",
      (s, dir) => Tables.events(s, dir)
        .withColumn("value_json", graft.functions.Templates.render(
          "{[DQ]type[DQ]: [DQ]event[DQ], [DQ]id[DQ]: [DQ]%(event_id)s[DQ], [DQ]pct[DQ]: [DQ]100%%[DQ]}"))
        .select("event_id", "value_json").orderBy("event_id"),
      Some("""SELECT event_id,
             |       '{"type": "event", "id": "' || CAST(event_id AS VARCHAR) || '", "pct": "100%"}' AS value_json
             |FROM events ORDER BY event_id""".stripMargin)),

    QueryDef("sink_kafka_shape",
      (s, dir) => Sinks.prepareKafka(
          Tables.events(s, dir),
          valueTemplate = "{[DQ]id[DQ]: %(event_id)s, [DQ]type[DQ]: [DQ]%(event_type)s[DQ]}",
          keyTemplate = "%(user_id)s",
          topics = Seq("t1", "t2"), topicPrefix = "pfx-",
          partitionWeights = Some("0:3,1:1"), orderCol = Some("event_id"))
        .drop("headers")
        .orderBy("topic", "key", "value"),
      Some("""WITH r AS (
             |  SELECT CAST(user_id AS VARCHAR) AS key,
             |         '{"id": ' || CAST(event_id AS VARCHAR) || ', "type": "' || event_type || '"}' AS value,
             |         CAST(([0,0,1,0])[CAST((row_number() OVER (ORDER BY event_id) - 1) % 4 + 1 AS INT)] AS INT) AS partition
             |  FROM events)
             |SELECT key, value, t.topic, partition
             |FROM r CROSS JOIN (VALUES ('pfx-t1'), ('pfx-t2')) AS t(topic)
             |ORDER BY topic, key, value""".stripMargin)),

    QueryDef.headline("sink_kafka_shape_hash",
      // SCALE-PATH kafka shape: partition = stateless weighted key hash
      // (no WRR row counter, no global window); oracle recomputes the md5
      // slice, the weight-expanded lookup, and the full rendered layout
      (s, dir) => Sinks.prepareKafkaScalable(
          Tables.events(s, dir),
          valueTemplate = "{[DQ]id[DQ]: %(event_id)s, [DQ]type[DQ]: [DQ]%(event_type)s[DQ]}",
          keyTemplate = "%(user_id)s",
          topics = Seq("t1", "t2"), topicPrefix = "pfx-",
          partitionWeights = Some("0:3,1:1"))
        .drop("headers")
        .orderBy("topic", "key", "value"),
      Some(s"""WITH r AS (
             |  SELECT CAST(user_id AS VARCHAR) AS key,
             |         '{"id": ' || CAST(event_id AS VARCHAR) || ', "type": "' || event_type || '"}' AS value,
             |         CAST(([0,0,0,1])[CAST(
             |           ${OracleSql.md5SliceSql("CAST(user_id AS VARCHAR)")} % 4 + 1
             |         AS INT)] AS INT) AS partition
             |  FROM events)
             |SELECT key, value, t.topic, partition
             |FROM r CROSS JOIN (VALUES ('pfx-t1'), ('pfx-t2')) AS t(topic)
             |ORDER BY topic, key, value""".stripMargin)),

    QueryDef("sink_s3_shape",
      (s, dir) => Sinks.prepareS3(
          Tables.events(s, dir).withColumn("id", col("event_id").cast("string"))
            .select("id", "event_type"),
          keyTemplate = "events/%(id)s.json",
          bodyTemplate = Some("{[DQ]id[DQ]: [DQ]%(id)s[DQ], [DQ]t[DQ]: [DQ]%(event_type)s[DQ]}"))
        .orderBy("s3key"),
      Some("""SELECT 'events/' || CAST(event_id AS VARCHAR) || '.json' AS s3key,
             |       '{"id": "' || CAST(event_id AS VARCHAR) || '", "t": "' || event_type || '"}' AS body
             |FROM events ORDER BY s3key""".stripMargin)),

    QueryDef("sink_rds_shape",
      (s, dir) => Sinks.prepareRds(
          Tables.events(s, dir).select("event_id", "event_type"),
          "INSERT INTO events_t (id, doc) VALUES ('%(event_id)s', '%(json)s')")
        .orderBy("insert_sql"),
      Some("""SELECT 'INSERT INTO events_t (id, doc) VALUES (''' || CAST(event_id AS VARCHAR)
             |       || ''', ''' || CAST(to_json(struct_pack(event_id := event_id, event_type := event_type)) AS VARCHAR)
             |       || ''')' AS insert_sql
             |FROM events ORDER BY insert_sql""".stripMargin)),

    QueryDef("sink_rds_partition_ddl",
      (s, dir) => Sinks.partitionDdl(Tables.events(s, dir), "events_t", "event_type")
        .orderBy("ddl"),
      Some("""SELECT DISTINCT 'CREATE TABLE IF NOT EXISTS events_t_'
             |       || regexp_replace(lower(trim(event_type)), '[^a-z0-9]', '_', 'g')
             |       || ' PARTITION OF events_t FOR VALUES IN (''' || event_type || ''')' AS ddl
             |FROM events ORDER BY ddl""".stripMargin)),

    QueryDef("sink_json_lines",
      (s, dir) => Sinks.prepareJsonLines(
          Tables.events(s, dir).select("event_id", "event_type"))
        .orderBy("line"),
      Some("""SELECT CAST(to_json(struct_pack(event_id := event_id, event_type := event_type)) AS VARCHAR) AS line
             |FROM events ORDER BY line""".stripMargin)),

    // ---- §3.1 full pipeline composition ----
    // Settings resolved through the reference's config grammar (properties
    // text + per-table spec JSON -> GraftConfig -> Pipeline), so the whole
    // config->plan->execute path sits behind the correctness gate.
    QueryDef("pipeline_e2e",
      (s, dir) => {
        val global = graft.config.GraftConfig.loadGlobal(
          """cassandra_fetch_size = 1000
            |cassandra_filter = event_type:click OR event_type:view
            |""".stripMargin)
        val cfg = graft.config.GraftConfig.loadTable("events", global,
          propertiesText =
            """cassandra_columns = event_id,event_type,user_id,value,props
              |cassandra_pages = 2
              |cassandra_sort_by = event_id
              |""".stripMargin,
          specJson = Some(
            """{"columns": [
              |  {"name": "value", "renameTo": "amount"},
              |  {"name": "props", "convertTo": "object", "schema": "k BIGINT"},
              |  {"name": "derived",
              |   "convertTo": "template:str(row['event_type']) + '#' + str(row['user_id'])"}
              |]}""".stripMargin))
        graft.Pipeline.extract(s, dir, cfg.toPipelineConfig)
          .select(col("event_id"), col("event_type"), col("amount"),
            col("props.k").as("k"), col("derived"))
      },
      Some("""SELECT event_id, event_type, value AS amount,
             |       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
             |       event_type || '#' || CAST(user_id AS VARCHAR) AS derived
             |FROM events
             |WHERE event_type = 'click' OR event_type = 'view'
             |ORDER BY event_id LIMIT 2000""".stripMargin)),

    // ---- §2.12 partitioners ----
    QueryDef("partition_rr_smooth",
      (s, dir) => Tables.events(s, dir).select("event_id")
        .withColumn("partition", Partitioners.smoothAssign(
          row_number().over(Window.orderBy("event_id")), "0:3,1:1"))
        .orderBy("event_id"),
      Some("""SELECT event_id,
             |       CAST(([0,0,1,0])[CAST((row_number() OVER (ORDER BY event_id) - 1) % 4 + 1 AS INT)] AS INT) AS partition
             |FROM events ORDER BY event_id""".stripMargin)),

    QueryDef("partition_rr_basic",
      (s, dir) => Tables.events(s, dir).select("event_id")
        .withColumn("partition", Partitioners.basicAssign(
          row_number().over(Window.orderBy("event_id")), 5))
        .orderBy("event_id"),
      Some("""SELECT event_id,
             |       CAST((row_number() OVER (ORDER BY event_id) - 1) % 5 AS INT) AS partition
             |FROM events ORDER BY event_id""".stripMargin)),

    QueryDef("partition_rr_weighted",
      (s, dir) => Tables.events(s, dir).select("event_id")
        .withColumn("partition", Partitioners.assign(
          row_number().over(Window.orderBy("event_id")),
          Partitioners.weightedSchedule(Seq(2 -> 5, 7 -> 3, 9 -> 2))))
        .orderBy("event_id"),
      Some {
        val sched = Partitioners.weightedSchedule(Seq(2 -> 5, 7 -> 3, 9 -> 2))
        s"""SELECT event_id,
           |       CAST(([${sched.mkString(",")}])[CAST((row_number() OVER (ORDER BY event_id) - 1) % ${sched.size} + 1 AS INT)] AS INT) AS partition
           |FROM events ORDER BY event_id""".stripMargin
      }))
}
