package graft.queries

import graft.functions.Multimodal
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Multimodal decoding (images, audio, frames, perceptual-hash dedup)
  * and storage layout: source and sink round trips, DataSource V2 paging
  * and pushdown, z-order and bucketed lookup layouts, CDC and SCD2
  * merges, rollup maintenance and compaction planning. */
object MultimodalLayoutQueries {

  def defs: Seq[QueryDef] = Seq(

    QueryDef("source_json_roundtrip",
      // the READ side of the reference's JSON-file sink format: land the
      // table as JSON lines, read it back through spark.read.json with an
      // EXPLICIT schema (inference would scan twice at 100 TB), prove the
      // round trip is content-identical against the parquet-sourced oracle
      (s, dir) => {
        val out = Artifacts.scratchPath("jsonl", dir)
        Tables.documents(s, dir)
          .select("doc_id", "text", "lang", "source", "n_chars")
          .write.mode("overwrite").json(out)
        s.read.schema(
            "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
          .json(out)
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, text, lang, source, n_chars
             |FROM documents ORDER BY doc_id""".stripMargin)),

    QueryDef("source_schema_evolution",
      // schema evolution on a landed layout: an old batch without `lang`
      // plus a new batch with it, read back through mergeSchema — rows
      // from the pre-evolution files surface the new column as NULL; the
      // oracle states exactly that contract
      (s, dir) => {
        val out = Artifacts.scratchPath("evolve", dir)
        val docs = Tables.documents(s, dir)
        docs.filter(col("doc_id") % 2 === 0).select("doc_id", "n_chars")
          .write.mode("overwrite").parquet(out)
        docs.filter(col("doc_id") % 2 =!= 0).select("doc_id", "n_chars", "lang")
          .write.mode("append").parquet(out)
        s.read.option("mergeSchema", "true").parquet(out)
          .select("doc_id", "n_chars", "lang")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, n_chars,
             |  CASE WHEN doc_id % 2 != 0 THEN lang END AS lang
             |FROM documents ORDER BY doc_id""".stripMargin)),

    QueryDef("compact_roundtrip",
      // storage-maintenance gate: compact the table into ~4 MB range-
      // clustered files and prove the rewrite is content-identical (the
      // layout changed, the data did not)
      (s, dir) => {
        val out = Artifacts.scratchPath("compact", dir)
        graft.sources.Layout.compact(Tables.documents(s, dir), out,
          sortCols = Seq("source", "doc_id"), targetFileBytes = 4L * 1024 * 1024)
        s.read.parquet(out).select("doc_id", "source", "n_chars").orderBy("doc_id")
      },
      Some("SELECT doc_id, source, n_chars FROM documents ORDER BY doc_id")),

    QueryDef.headline("layout_zorder",
      // multi-column clustering gate: land the table Z-ordered on
      // (n_chars, doc_id), read it back, and recompute every Morton value —
      // proves the rewrite is content-identical AND the bit interleave is
      // engine-exact (the file-skipping evidence itself is PlanSpec-side:
      // per-file min/max tightness on both dimensions)
      (s, dir) => {
        val out = Artifacts.scratchPath("zorder", dir)
        graft.sources.Layout.writeZOrdered(
          Tables.documents(s, dir), "n_chars", "doc_id", out, numFiles = 8)
        s.read.parquet(out)
          .select(col("doc_id"), col("n_chars"),
            graft.sources.Layout.zValue(col("n_chars"), col("doc_id")).as("zval"))
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id, n_chars,
              |  CAST(${graft.sources.Layout.zValueSql("n_chars", "doc_id")} AS BIGINT) AS zval
              |FROM documents ORDER BY doc_id""".stripMargin)),

    QueryDef.headline("scan_point_lookup",
      // serving-path point read: documents landed bucketed+sorted on
      // doc_id, an IN-list lookup prunes to the matching buckets at plan
      // time (SelectedBucketsCount — asserted in PlanSpec) and reads
      // 1/buckets of the table no matter how big it is
      (s, dir) => {
        graft.sources.Layout.lookupKeys(s,
            Artifacts.lookupTable(s, dir), "doc_id", Seq(7L, 42L, 123L, 444L))
          .select("doc_id", "text", "lang", "source", "n_chars")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, text, lang, source, n_chars FROM documents
             |WHERE doc_id IN (7, 42, 123, 444) ORDER BY doc_id""".stripMargin)),

    QueryDef.headline("agg_rollup_cascade",
      // granularity cascade: WEEKLY totals re-aggregated from the daily
      // partial states (associativity is the whole contract) — identical
      // to aggregating raw events by epoch week
      (s, dir) =>
        graft.sources.Layout.readRollupWeekly(s, Artifacts.rollupPath(s, dir))
          .orderBy("wk", "event_type"),
      Some("""SELECT datediff('day', DATE '1970-01-01',
             |         CAST(CAST(ts AS TIMESTAMP) AS DATE)) // 7 AS wk,
             |  event_type, count(*) AS n_events,
             |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS value_sum
             |FROM events
             |GROUP BY wk, event_type ORDER BY wk, event_type""".stripMargin)),

    QueryDef.headline("scd2_merge",
      // type-2 dimension maintenance (the versioned sibling of
      // snapshot_merge's type-1 overwrite): changed keys close their
      // current version and append an open one, no-op change rows touch
      // nothing, never-seen keys append. One id-keyed join + unions; the
      // oracle reconstructs every branch
      (s, dir) => {
        val c = Tables.customer(s, dir)
        val base = c.select(col("c_custkey").as("id"),
          col("c_mktsegment").as("segment"),
          lit(0L).as("valid_from"), lit(null).cast("long").as("valid_to"))
        val changes = c.filter(col("c_custkey") % 7 === 0)
          .select(col("c_custkey").as("id"),
            concat(lit("MOVED-"), (col("c_custkey") % 3).cast("string"))
              .as("segment"), lit(1000L).as("ts"))
          .unionAll(c.filter(col("c_custkey") % 7 === 3)
            .select(col("c_custkey").as("id"),
              col("c_mktsegment").as("segment"), lit(1000L).as("ts")))
          .unionAll(c.filter(col("c_custkey") % 97 === 0)
            .select((col("c_custkey") + 1000000L).as("id"),
              lit("NEWSEG").as("segment"), lit(1000L).as("ts")))
        graft.functions.Scd.scd2Merge(base, changes, "id",
            Seq("segment"), "ts")
          .orderBy("id", "valid_from")
      },
      Some("""WITH base AS (SELECT c_custkey AS id, c_mktsegment AS segment,
             |         CAST(0 AS BIGINT) AS valid_from,
             |         CAST(NULL AS BIGINT) AS valid_to
             |       FROM customer),
             |ch AS (
             |  SELECT c_custkey AS id,
             |    'MOVED-' || CAST(c_custkey % 3 AS VARCHAR) AS segment,
             |    CAST(1000 AS BIGINT) AS ts
             |  FROM customer WHERE c_custkey % 7 = 0
             |  UNION ALL SELECT c_custkey, c_mktsegment, 1000
             |  FROM customer WHERE c_custkey % 7 = 3
             |  UNION ALL SELECT c_custkey + 1000000, 'NEWSEG', 1000
             |  FROM customer WHERE c_custkey % 97 = 0),
             |j AS (SELECT b.id, b.segment, b.valid_from,
             |        ch.segment AS nseg, ch.ts
             |      FROM base b LEFT JOIN ch USING (id)),
             |closed AS (SELECT id, segment, valid_from,
             |             CAST(ts AS BIGINT) AS valid_to
             |           FROM j WHERE ts IS NOT NULL AND nseg <> segment),
             |kept AS (SELECT id, segment, valid_from,
             |           CAST(NULL AS BIGINT) AS valid_to
             |         FROM j WHERE ts IS NULL OR nseg = segment),
             |fresh AS (SELECT id, nseg AS segment, CAST(ts AS BIGINT),
             |            CAST(NULL AS BIGINT)
             |          FROM j WHERE ts IS NOT NULL AND nseg <> segment),
             |brandnew AS (SELECT ch.id, ch.segment, CAST(ch.ts AS BIGINT),
             |               CAST(NULL AS BIGINT)
             |             FROM ch LEFT JOIN base USING (id)
             |             WHERE base.id IS NULL)
             |SELECT * FROM closed UNION ALL SELECT * FROM kept
             |UNION ALL SELECT * FROM fresh UNION ALL SELECT * FROM brandnew
             |ORDER BY id, valid_from""".stripMargin)),

    QueryDef.headline("scd2_asof_lookup",
      // the point-in-time join SCD2 exists FOR: each order resolves the
      // segment its customer had ON THE ORDER DATE — equi-join on the key
      // with the validity window as join filter (broadcastable dim, never
      // a range explosion). Orders before the day-10000 change batch see
      // the original segment, later ones the moved segment; the oracle
      // rebuilds the SCD2 table and the temporal resolution end-to-end
      (s, dir) => {
        val c = Tables.customer(s, dir)
        val base = c.select(col("c_custkey").as("id"),
          col("c_mktsegment").as("segment"),
          lit(0L).as("valid_from"), lit(null).cast("long").as("valid_to"))
        val changes = c.filter(col("c_custkey") % 7 === 0)
          .select(col("c_custkey").as("id"),
            concat(lit("MOVED-"), (col("c_custkey") % 3).cast("string"))
              .as("segment"), lit(10000L).as("ts"))
        val dim = graft.functions.Scd.scd2Merge(base, changes, "id",
          Seq("segment"), "ts")
        val o = Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_custkey"),
            datediff(col("o_orderdate"), lit("1970-01-01").cast("date"))
              .cast("long").as("_day"))
        o.join(dim, o("o_custkey") === dim("id")
            && o("_day") >= dim("valid_from")
            && (dim("valid_to").isNull || o("_day") < dim("valid_to")))
          .groupBy(col("segment"))
          .agg(count(lit(1)).as("n_orders"),
            min(col("o_orderkey")).as("min_okey"),
            max(col("o_orderkey")).as("max_okey"))
          .orderBy("segment")
      },
      Some("""WITH base AS (SELECT c_custkey AS id, c_mktsegment AS segment,
             |         CAST(0 AS BIGINT) AS valid_from,
             |         CAST(NULL AS BIGINT) AS valid_to
             |       FROM customer),
             |ch AS (SELECT c_custkey AS id,
             |         'MOVED-' || CAST(c_custkey % 3 AS VARCHAR) AS segment,
             |         CAST(10000 AS BIGINT) AS ts
             |       FROM customer WHERE c_custkey % 7 = 0),
             |closed AS (SELECT b.id, b.segment, b.valid_from, ch.ts AS valid_to
             |           FROM base b JOIN ch USING (id)
             |           WHERE ch.segment <> b.segment),
             |fresh AS (SELECT ch.id, ch.segment, ch.ts, CAST(NULL AS BIGINT)
             |          FROM base b JOIN ch USING (id)
             |          WHERE ch.segment <> b.segment),
             |kept AS (SELECT b.id, b.segment, b.valid_from, b.valid_to
             |         FROM base b LEFT JOIN ch USING (id)
             |         WHERE ch.id IS NULL OR ch.segment = b.segment),
             |dim AS (SELECT * FROM closed UNION ALL SELECT * FROM fresh
             |        UNION ALL SELECT * FROM kept),
             |o AS (SELECT o_orderkey, o_custkey,
             |        CAST(datediff('day', DATE '1970-01-01',
             |          CAST(o_orderdate AS DATE)) AS BIGINT) AS d
             |      FROM orders)
             |SELECT dim.segment, count(*) AS n_orders,
             |  min(o.o_orderkey) AS min_okey, max(o.o_orderkey) AS max_okey
             |FROM o JOIN dim ON o.o_custkey = dim.id
             |  AND o.d >= dim.valid_from
             |  AND (dim.valid_to IS NULL OR o.d < dim.valid_to)
             |GROUP BY dim.segment ORDER BY segment""".stripMargin)),

    QueryDef.headline("snapshot_merge",
      // CDC apply: a change batch (deletes, updates, inserts, and a delete
      // SHADOWED by a later upsert — latest seq wins) merged into the
      // snapshot; one batch-side reduction shuffle + one key-keyed join
      (s, dir) => {
        val snap = Tables.documents(s, dir)
          .select("doc_id", "lang", "source", "n_chars")
        val d = Tables.documents(s, dir)
        val ch = d.filter(col("doc_id") % 10 === 0)
          .select(col("doc_id"), lit("d").as("op"), lit(1L).as("seq"),
            col("lang"), col("source"), col("n_chars"))
          .unionAll(d.filter(col("doc_id") % 10 === 1)
            .select(col("doc_id"), lit("u").as("op"), lit(1L).as("seq"),
              lit("xx").as("lang"), col("source"),
              (col("n_chars") + 1000).as("n_chars")))
          .unionAll(d.filter(col("doc_id") % 10 === 2)
            .select((col("doc_id") + 1000000L).as("doc_id"), lit("u").as("op"),
              lit(1L).as("seq"), col("lang"), lit("ins").as("source"),
              col("n_chars")))
          .unionAll(d.filter(col("doc_id") % 10 === 3)
            .select(col("doc_id"), lit("d").as("op"), lit(1L).as("seq"),
              col("lang"), col("source"), col("n_chars")))
          .unionAll(d.filter(col("doc_id") % 10 === 3)
            .select(col("doc_id"), lit("u").as("op"), lit(2L).as("seq"),
              col("lang"), col("source"), (col("n_chars") + 5).as("n_chars")))
        graft.functions.Merge.applyChanges(snap, ch, "doc_id")
          .orderBy("doc_id")
      },
      Some("""WITH snap AS (SELECT doc_id, lang, source, n_chars FROM documents),
             |ch AS (
             |  SELECT doc_id, 'd' AS op, 1 AS seq, lang, source, n_chars
             |  FROM documents WHERE doc_id % 10 = 0
             |  UNION ALL SELECT doc_id, 'u', 1, 'xx', source, n_chars + 1000
             |  FROM documents WHERE doc_id % 10 = 1
             |  UNION ALL SELECT doc_id + 1000000, 'u', 1, lang, 'ins', n_chars
             |  FROM documents WHERE doc_id % 10 = 2
             |  UNION ALL SELECT doc_id, 'd', 1, lang, source, n_chars
             |  FROM documents WHERE doc_id % 10 = 3
             |  UNION ALL SELECT doc_id, 'u', 2, lang, source, n_chars + 5
             |  FROM documents WHERE doc_id % 10 = 3),
             |latest AS (SELECT * FROM (
             |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY seq DESC) AS rn
             |  FROM ch) WHERE rn = 1)
             |SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
             |  CASE WHEN l.op IS NOT NULL THEN l.lang ELSE s.lang END AS lang,
             |  CASE WHEN l.op IS NOT NULL THEN l.source ELSE s.source END AS source,
             |  CASE WHEN l.op IS NOT NULL THEN l.n_chars ELSE s.n_chars END AS n_chars
             |FROM snap s FULL OUTER JOIN latest l ON s.doc_id = l.doc_id
             |WHERE l.op IS NULL OR l.op <> 'd'
             |ORDER BY doc_id""".stripMargin)),

    QueryDef.headline("snapshot_merge_mor",
      // merge-on-read: the SAME change set as snapshot_merge, landed as an
      // append-only two-batch change log and resolved at READ time — same
      // oracle, proving MOR == eager apply (the Hudi/Iceberg trade: append-
      // only writes, one join at read)
      (s, dir) => {
        val out = Artifacts.scratchPath("cdclog", dir)
        val snap = Tables.documents(s, dir)
          .select("doc_id", "lang", "source", "n_chars")
        val d = Tables.documents(s, dir)
        // batch 0: deletes + updates; batch 1: inserts + shadowed delete
        val b0 = d.filter(col("doc_id") % 10 === 0)
          .select(col("doc_id"), lit("d").as("op"), lit(1L).as("seq"),
            col("lang"), col("source"), col("n_chars"))
          .unionAll(d.filter(col("doc_id") % 10 === 1)
            .select(col("doc_id"), lit("u").as("op"), lit(1L).as("seq"),
              lit("xx").as("lang"), col("source"),
              (col("n_chars") + 1000).as("n_chars")))
        val b1 = d.filter(col("doc_id") % 10 === 2)
          .select((col("doc_id") + 1000000L).as("doc_id"), lit("u").as("op"),
            lit(1L).as("seq"), col("lang"), lit("ins").as("source"),
            col("n_chars"))
          .unionAll(d.filter(col("doc_id") % 10 === 3)
            .select(col("doc_id"), lit("d").as("op"), lit(1L).as("seq"),
              col("lang"), col("source"), col("n_chars")))
          .unionAll(d.filter(col("doc_id") % 10 === 3)
            .select(col("doc_id"), lit("u").as("op"), lit(2L).as("seq"),
              col("lang"), col("source"), (col("n_chars") + 5).as("n_chars")))
        val log = graft.streaming.Incremental.cdcLog(out)
        log(b0, 0L); log(b1, 1L)
        graft.functions.Merge.readMergeOnRead(snap, out, "doc_id")
          .orderBy("doc_id")
      },
      Some("""WITH snap AS (SELECT doc_id, lang, source, n_chars FROM documents),
             |ch AS (
             |  SELECT doc_id, 'd' AS op, 1 AS seq, lang, source, n_chars
             |  FROM documents WHERE doc_id % 10 = 0
             |  UNION ALL SELECT doc_id, 'u', 1, 'xx', source, n_chars + 1000
             |  FROM documents WHERE doc_id % 10 = 1
             |  UNION ALL SELECT doc_id + 1000000, 'u', 1, lang, 'ins', n_chars
             |  FROM documents WHERE doc_id % 10 = 2
             |  UNION ALL SELECT doc_id, 'd', 1, lang, source, n_chars
             |  FROM documents WHERE doc_id % 10 = 3
             |  UNION ALL SELECT doc_id, 'u', 2, lang, source, n_chars + 5
             |  FROM documents WHERE doc_id % 10 = 3),
             |latest AS (SELECT * FROM (
             |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY seq DESC) AS rn
             |  FROM ch) WHERE rn = 1)
             |SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
             |  CASE WHEN l.op IS NOT NULL THEN l.lang ELSE s.lang END AS lang,
             |  CASE WHEN l.op IS NOT NULL THEN l.source ELSE s.source END AS source,
             |  CASE WHEN l.op IS NOT NULL THEN l.n_chars ELSE s.n_chars END AS n_chars
             |FROM snap s FULL OUTER JOIN latest l ON s.doc_id = l.doc_id
             |WHERE l.op IS NULL OR l.op <> 'd'
             |ORDER BY doc_id""".stripMargin)),

    QueryDef.headline("agg_incremental_rollup",
      // incremental view maintenance: land per-(day, type) PARTIAL
      // aggregate states (associative longs) day-partitioned, then answer
      // a two-week range query by merging partials — pruned to the touched
      // day directories, identical to aggregating the raw range
      (s, dir) => {
        graft.sources.Layout.readRollupRange(s, Artifacts.rollupPath(s, dir),
            "2024-01-08", "2024-01-21")
          .orderBy("event_type")
      },
      Some("""SELECT event_type, count(*) AS n_events,
             |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS value_sum
             |FROM events
             |WHERE CAST(CAST(ts AS TIMESTAMP) AS DATE)
             |      BETWEEN DATE '2024-01-08' AND DATE '2024-01-21'
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    QueryDef.headline("sink_v2_manifest",
      // the V2 sink's full two-phase protocol exercised END-TO-END under
      // the hash gate: write documents through task-temp -> task-commit ->
      // driver-rename -> manifest, read the committed TSVs back, and
      // aggregate; the oracle computes the same census straight from the
      // source table, so any torn/duplicated/missing write breaks the hash
      (s, dir) => {
        val path = Artifacts.scratchPath("v2sink", dir)
        Tables.documents(s, dir)
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .write.format("graft.sources.v2.ManifestSink")
          .option("path", path).mode("overwrite").save()
        s.read.option("sep", "\t")
          .schema("doc_id LONG, lang STRING, n_chars LONG")
          .csv(path + "/part-*.tsv")
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n"),
            sum(col("n_chars")).as("sum_chars"),
            min(col("doc_id")).as("min_id"),
            max(col("doc_id")).as("max_id"))
          .orderBy("lang")
      },
      Some("""SELECT lang, count(*) AS n,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  min(doc_id) AS min_id, max(doc_id) AS max_id
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    QueryDef.headline("source_v2_paged",
      // the DataSource V2 paged connector (sources.v2.PagedSource): pages
      // as InputPartitions, id-range filter pushdown narrowing the pages
      // BEFORE planning, column pruning at the source. Rows are a pure
      // function of (seed, index), so the oracle recomputes the ENTIRE
      // scan — content included — from generate_series; min/max payload
      // per bucket pin the generated strings byte-for-byte
      (s, dir) => s.read.format("graft.sources.v2.PagedSource")
        .option("rows", "100000").option("fetchSize", "8192")
        .option("seed", "s42").load()
        .filter(col("id") >= 25000 && col("id") < 50000)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("id")).as("min_id"), max(col("id")).as("max_id"),
          min(col("payload")).as("min_payload"),
          max(col("payload")).as("max_payload"),
          max(col("modified_ts")).as("max_ts"))
        .orderBy("bucket"),
      Some("""WITH g AS (SELECT unnest(generate_series(25000, 49999)) AS i),
             |r AS (SELECT i, CAST(i % 32 AS INT) AS bucket,
             |        md5('s42#' || CAST(i AS VARCHAR)) AS payload,
             |        1700000000000 + i * 1000 AS modified_ts
             |      FROM g)
             |SELECT bucket, count(*) AS n,
             |  min(i) AS min_id, max(i) AS max_id,
             |  min(payload) AS min_payload, max(payload) AS max_payload,
             |  CAST(max(modified_ts) AS BIGINT) AS max_ts
             |FROM r GROUP BY bucket ORDER BY bucket""".stripMargin)),

    QueryDef.headline("source_v2_pushdown_agg",
      // connector-level aggregate pushdown — the reference's server-side
      // SELECT count(*) pre-scan (datacrawler.py:186-200) as DSv2
      // SupportsPushDownAggregates: ungrouped COUNT(*)/MIN/MAX over the
      // monotone columns answer from the FILTERED RANGE's endpoints with
      // no rows generated (complete pushdown — the plan has no aggregate
      // node; SourceV2Spec pins it). The oracle recomputes from
      // generate_series
      (s, dir) => s.read.format("graft.sources.v2.PagedSource")
        .option("rows", "100000").option("fetchSize", "8192")
        .option("seed", "s42").load()
        .filter(col("id") >= 25000 && col("id") < 75000)
        .agg(expr("count(*)").as("n"),
          min(col("id")).as("min_id"), max(col("id")).as("max_id"),
          min(col("modified_ts")).as("min_ts"),
          max(col("modified_ts")).as("max_ts")),
      Some("""WITH g AS (SELECT unnest(generate_series(25000, 74999)) AS i)
             |SELECT CAST(count(*) AS BIGINT) AS n,
             |  CAST(min(i) AS BIGINT) AS min_id,
             |  CAST(max(i) AS BIGINT) AS max_id,
             |  CAST(1700000000000 + min(i) * 1000 AS BIGINT) AS min_ts,
             |  CAST(1700000000000 + max(i) * 1000 AS BIGINT) AS max_ts
             |FROM g""".stripMargin)),

    QueryDef.headline("source_v2_runtime_prune",
      // connector-level DYNAMIC pruning (SupportsRuntimeV2Filtering —
      // the DPP analogue for paged stores): the selective dim side runs
      // first, its join keys arrive as an id IN runtime filter, and
      // pages containing none of the probed ids are never planned
      // (SourceV2Spec proves readers-created ~= matching pages). The
      // oracle recomputes the joined rows from the generator identity
      (s, dir) => {
        val paged = s.read.format("graft.sources.v2.PagedSource")
          .option("rows", "100000").option("fetchSize", "1024")
          .option("seed", "s42").load()
        val dim = s.range(0, 3)
          .select((col("id") * 49997L + 5L).as("k"))
          .filter(col("k") >= 5)
        paged.join(dim, paged("id") === dim("k"))
          .select(paged("id"), paged("bucket"), paged("payload"),
            paged("modified_ts"))
          .orderBy("id")
      },
      Some("""WITH k AS (
             |  SELECT CAST(5 + 49997 * i AS BIGINT) AS id
             |  FROM (SELECT unnest(generate_series(0, 2)) AS i))
             |SELECT id, CAST(id % 32 AS INT) AS bucket,
             |  md5('s42#' || CAST(id AS VARCHAR)) AS payload,
             |  CAST(1700000000000 + id * 1000 AS BIGINT) AS modified_ts
             |FROM k ORDER BY id""".stripMargin)),

    QueryDef("multimodal_meta",
      (s, dir) => Multimodal.attachBinary(Tables.documents(s, dir))
        .select(col("doc_id"), col("media_meta.format").as("format"),
          col("media_meta.byte_len").as("byte_len"),
          col("media_meta.width").as("width"),
          col("media_meta.height").as("height"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, 'fake/raw' AS format,
             |  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
             |  CAST(octet_length(encode(text)) % 640 AS INT) AS width,
             |  CAST(octet_length(encode(text)) % 480 AS INT) AS height
             |FROM documents ORDER BY doc_id""".stripMargin)),

    QueryDef("multimodal_frames",
      (s, dir) => Multimodal.sampleFrames(
          Multimodal.attachBinary(Tables.documents(s, dir)),
          frameBytes = 64, everyNth = 4)
        .select(col("doc_id"), col("frame_idx"),
          length(col("frame_bytes")).as("frame_len"))
        .orderBy("doc_id", "frame_idx"),
      Some("""WITH d AS (SELECT doc_id, octet_length(encode(text)) AS bl FROM documents),
             |f AS (SELECT doc_id, bl,
             |        unnest(generate_series(0, greatest(CAST(floor(bl / 256) AS INT), 1) - 1)) AS frame_idx
             |      FROM d)
             |SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
             |       CAST(least(64, greatest(bl - frame_idx * 256, 0)) AS INT) AS frame_len
             |FROM f ORDER BY doc_id, frame_idx""".stripMargin)),

    QueryDef("multimodal_resize",
      (s, dir) => Multimodal.resizeStub(
          Multimodal.attachBinary(Tables.documents(s, dir)), 320, 240)
        .select(col("doc_id"),
          col("resized_meta.byte_len").as("r_len"),
          col("resized_meta.width").as("r_w"),
          col("resized_meta.height").as("r_h"),
          length(col("resized_payload")).as("payload_len"))
        .orderBy("doc_id"),
      Some("""WITH m AS (
             |  SELECT doc_id, octet_length(encode(text)) AS bl,
             |         octet_length(encode(text)) % 640 AS w,
             |         octet_length(encode(text)) % 480 AS h
             |  FROM documents),
             |s AS (
             |  SELECT doc_id, bl, w, h,
             |         least(CASE WHEN w > 0 THEN floor(320000 / w) ELSE 1000 END,
             |               CASE WHEN h > 0 THEN floor(240000 / h) ELSE 1000 END,
             |               1000) AS scale_mil
             |  FROM m)
             |SELECT doc_id,
             |       CAST(floor(bl * scale_mil / 1000) AS BIGINT) AS r_len,
             |       CAST(floor(w * scale_mil / 1000) AS INT) AS r_w,
             |       CAST(floor(h * scale_mil / 1000) AS INT) AS r_h,
             |       CAST(least(CAST(floor(bl * scale_mil / 1000) AS BIGINT), bl) AS INT) AS payload_len
             |FROM s ORDER BY doc_id""".stripMargin)),

    QueryDef.headline("multimodal_decode",
      // Arrow-columnar decode seam (the production seat); ScalaTest pins it
      // row-identical to the row-wise mapDecode form
      (s, dir) => Multimodal.mapDecodeArrow(
          Multimodal.attachBinary(Tables.documents(s, dir)), "doc_id", "payload")
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  CASE WHEN length(text) = 0 THEN 0
             |       ELSE list_reduce(list_transform(regexp_extract_all(text, '.'),
             |              c -> CAST(unicode(c) AS BIGINT)), (a, b) -> a + b) END AS byte_sum,
             |  CAST(octet_length(encode(text)) AS INT) AS byte_len
             |FROM documents ORDER BY doc_id""".stripMargin)),

    QueryDef.headline("multimodal_decode_real",
      // REAL codec round trip, zero new deps: deterministic grayscale PNGs
      // (w = 4+id%5, h = 4+id%7, pixel = (id*31 + x*7 + y*13) % 256) are
      // encoded by the JDK's real PNG writer into a parquet payload table
      // (bytes-in-parquet, the multimodal layout stance; staged once per
      // dir — fixture synthesis is not the operator) and decoded through
      // the partition-wise ImageIO seam; PNG is lossless, so the oracle can
      // predict every decoded sample from the id alone and recompute
      // width/height/pixel-sum without ever seeing the bytes
      (s, dir) => Multimodal.decodeImage(
          s.read.parquet(Artifacts.pngFixturePath(s, dir)), "doc_id", "png")
        .orderBy("doc_id"),
      Some("""WITH d AS (SELECT doc_id, 4 + doc_id % 5 AS w, 4 + doc_id % 7 AS h
             |           FROM documents),
             |px AS (SELECT doc_id, w, h,
             |         unnest(generate_series(0, w * h - 1)) AS p FROM d)
             |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
             |  CAST(sum((doc_id * 31 + (p % w) * 7 + (p // w) * 13) % 256) AS BIGINT)
             |    AS pix_sum
             |FROM px GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin)),

    QueryDef.headline("multimodal_decode_audio",
      // REAL audio codec round trip (the WAV analogue of
      // multimodal_decode_real): deterministic 16-bit mono PCM payloads
      // (n = 8 + id%5 samples, sample(i) = (id*37 + i*101) % 2001 - 1000)
      // are written by the JDK's real WAV encoder into a parquet payload
      // table and decoded back through the partition-wise
      // javax.sound.sampled seam; PCM is lossless, so the oracle predicts
      // every decoded sample from the id alone
      (s, dir) => Multimodal.decodeAudio(
          s.read.parquet(Artifacts.wavFixturePath(s, dir)), "doc_id", "wav")
        .orderBy("doc_id"),
      Some("""WITH d AS (SELECT doc_id, 8 + doc_id % 5 AS n FROM documents),
             |sm AS (SELECT doc_id, n,
             |         unnest(generate_series(0, n - 1)) AS i FROM d)
             |SELECT doc_id, CAST(n AS INT) AS n_samples,
             |  CAST(sum((doc_id * 37 + i * 101) % 2001 - 1000) AS BIGINT)
             |    AS sample_sum,
             |  CAST(8000 AS INT) AS sample_rate
             |FROM sm GROUP BY doc_id, n ORDER BY doc_id""".stripMargin)),

    QueryDef("multimodal_features",
      // gate shape: the array is projected to scalar columns (driver's
      // pandas compare can't hash ndarray cells); the array form is pinned
      // by ScalaTest. Feature arithmetic is the rolling-hash fingerprint
      // scaled per index — exactly recomputable in the oracle.
      (s, dir) => Multimodal.fakeDecodeFeatures(
          Multimodal.attachBinary(Tables.documents(s, dir)))
        .select(col("doc_id") +:
          (0 until 8).map(j => col("features")(j).as(s"f$j")): _*)
        .orderBy("doc_id"),
      Some {
        val fp = """CASE WHEN length(text) = 0 THEN 0
                   |       ELSE list_reduce(list_transform(regexp_extract_all(text, '.'),
                   |              c -> CAST(unicode(c) AS BIGINT)),
                   |            (a, b) -> (a * 31 + b) % 1000000007) END""".stripMargin
        val feats = (0 until 8).map(j =>
          s"CAST((fp * ${j + 1}) % 1000 AS DOUBLE) / 1000.0 AS f$j").mkString(",\n  ")
        s"""WITH d AS (SELECT doc_id, $fp AS fp FROM documents)
           |SELECT doc_id,
           |  $feats
           |FROM d ORDER BY doc_id""".stripMargin
      }),

    QueryDef.headline("image_dhash_near_dup",
      // image near-duplicate detection via perceptual hash: every PNG is
      // REALLY decoded (ImageIO), dHash'd on a deterministic 8x8
      // integer-floor grid (56 bits of row-wise brightness gradients),
      // and pairs come from four 14-bit block-keyed equi-joins — the
      // Manku pigeonhole in relational form: hamming <= 3 pairs MUST
      // share a block, so recall is exact and the n^2 cross join never
      // happens. Only candidates pay bit_count(xor). The fixture's PNGs
      // are lossless and id-predictable, so the oracle recomputes hash,
      // blocks, candidates, and hamming without seeing a byte
      (s, dir) => Multimodal.dhashNearDupPairs(
          Multimodal.imageDHash(
            s.read.parquet(Artifacts.pngFixturePath(s, dir)), "doc_id", "png"),
          "doc_id", maxHamming = 3)
        .orderBy("id_a", "id_b"),
      Some("""WITH d AS (SELECT doc_id, 4 + doc_id % 5 AS w, 4 + doc_id % 7 AS h
             |           FROM documents),
             |g AS (SELECT doc_id, w, h,
             |        unnest(generate_series(0, 55)) AS b FROM d),
             |bits AS (SELECT doc_id,
             |    CASE WHEN
             |      (doc_id*31 + (((b % 7) + 1) * w // 8) * 7
             |        + ((b // 7) * h // 8) * 13) % 256
             |      > (doc_id*31 + ((b % 7) * w // 8) * 7
             |        + ((b // 7) * h // 8) * 13) % 256
             |    THEN CAST(1 AS BIGINT) << b ELSE CAST(0 AS BIGINT) END AS bit
             |  FROM g),
             |hs AS (SELECT doc_id, CAST(sum(bit) AS BIGINT) AS dhash
             |       FROM bits GROUP BY 1),
             |blk AS (SELECT doc_id, dhash,
             |          unnest(generate_series(0, 3)) AS t FROM hs),
             |b2 AS (SELECT doc_id, dhash, t,
             |         (dhash >> (14 * t)) & 16383 AS blockv FROM blk),
             |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             |           a.dhash AS ha, b.dhash AS hb
             |  FROM b2 a JOIN b2 b ON a.t = b.t AND a.blockv = b.blockv
             |    AND a.doc_id < b.doc_id)
             |SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
             |FROM cand WHERE bit_count(xor(ha, hb)) <= 3
             |ORDER BY id_a, id_b""".stripMargin)),

    QueryDef.headline("image_dhash_incremental",
      // the nightly-ingest seat of image dedup: the new batch
      // (doc_id % 7 = 0) is the ONLY thing decoded — its signatures probe
      // the persisted corpus signature index (built offline, 16 bytes a
      // row) through the same exact-recall block pigeonhole. The oracle
      // can brute the cross set precisely BECAUSE recall is exact: block
      // candidates == all hamming <= 3 pairs by construction
      (s, dir) => Multimodal.dhashAgainstIndex(
          Multimodal.imageDHash(
            s.read.parquet(Artifacts.pngFixturePath(s, dir))
              .filter(col("doc_id") % 7 === 0), "doc_id", "png"),
          s.read.parquet(Artifacts.dhashIndexPath(s, dir)), "doc_id", maxHamming = 3)
        .orderBy("id_new", "id_corp"),
      Some("""WITH d AS (SELECT doc_id, 4 + doc_id % 5 AS w, 4 + doc_id % 7 AS h
             |           FROM documents),
             |g AS (SELECT doc_id, w, h,
             |        unnest(generate_series(0, 55)) AS b FROM d),
             |bits AS (SELECT doc_id,
             |    CASE WHEN
             |      (doc_id*31 + (((b % 7) + 1) * w // 8) * 7
             |        + ((b // 7) * h // 8) * 13) % 256
             |      > (doc_id*31 + ((b % 7) * w // 8) * 7
             |        + ((b // 7) * h // 8) * 13) % 256
             |    THEN CAST(1 AS BIGINT) << b ELSE CAST(0 AS BIGINT) END AS bit
             |  FROM g),
             |hs AS (SELECT doc_id, CAST(sum(bit) AS BIGINT) AS dhash
             |       FROM bits GROUP BY 1)
             |SELECT a.doc_id AS id_new, b.doc_id AS id_corp,
             |  CAST(bit_count(xor(a.dhash, b.dhash)) AS INT) AS hamming
             |FROM hs a JOIN hs b
             |  ON a.doc_id % 7 = 0 AND b.doc_id % 7 != 0
             |  AND bit_count(xor(a.dhash, b.dhash)) <= 3
             |ORDER BY id_new, id_corp""".stripMargin)),

    QueryDef.headline("compaction_plan",
      // small-file compaction advisor: per source, files (documents stand
      // in: doc_id/n_chars) ordered size DESC then binned by cumulative
      // size at a 4 KB target — one row per planned output file. Window
      // partitioned by the group key (file censuses are per-partition
      // metadata); the rewrite job coalesces each bin
      (s, dir) => graft.sources.Layout.compactionPlan(
          Tables.documents(s, dir), "source", "doc_id", "n_chars",
          targetBytes = 4096L)
        .orderBy("source", "bin"),
      Some("""WITH f AS (
             |  SELECT source, doc_id, CAST(n_chars AS BIGINT) AS sz,
             |    sum(CAST(n_chars AS BIGINT))
             |      OVER (PARTITION BY source
             |            ORDER BY n_chars DESC, doc_id
             |            ROWS BETWEEN UNBOUNDED PRECEDING
             |            AND CURRENT ROW) AS cum
             |  FROM documents)
             |SELECT source, CAST((cum - sz) // 4096 AS BIGINT) AS bin,
             |  CAST(count(*) AS BIGINT) AS n_files,
             |  CAST(sum(sz) AS BIGINT) AS bytes
             |FROM f GROUP BY 1, 2 ORDER BY source, bin""".stripMargin)))
}
