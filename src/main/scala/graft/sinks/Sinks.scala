package graft.sinks

import graft.functions.Templates
import graft.operators.{Partitioners, Transforms}
import graft.sources.v2.{ManifestCodec, ManifestSink}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The four sink shapes of the reference, as DataFrame preparation +
  * writer wiring.
  *
  * Design: each `prepare*` returns the exact column layout the corresponding
  * writer consumes, so the transform is testable (and oracle-checkable)
  * without a broker/bucket/database — which is also the honest contract at
  * scale: the expensive part is the distributed render, and the write is a
  * format binding.
  *
  * Every file-backed write here — the S3 stand-in, the JSON-lines directory
  * and the single JSON file — commits through the one two-phase protocol of
  * [[graft.sources.v2.ManifestSink]] with its `lines` codec, the protocol
  * the kafka and rds shapes write through with its `tsv` codec: task temp
  * file, task commit message, driver rename at job commit, and a
  * `_MANIFEST.tsv` naming exactly the committed `part-*` files. Overwrite
  * replaces the previous write's files; a failed job adds none. No
  * Hadoop output committer runs, so a task deserializes no Hadoop
  * `Configuration` and builds no `JobConf`.
  *
  * Reference: kafka `/root/reference/wadlabs/hub/migration/kafkaworker.py`,
  * s3 `s3worker.py`, rds `rdsworker.py`, json `jsonworker.py` (details per
  * method below).
  */
object Sinks {

  /** Kafka sink shape (`kafkaworker.py:57-83,173-190`): templated `value`,
    * templated `key`, templated `headers` (map of name -> template), explicit
    * `partition` from smooth weighted round-robin over `partitionWeights`
    * ("0:3,1:1", `kafkaworker.py:40-55`), one output row per (record, topic)
    * — the reference produces each record to every configured topic
    * (`kafkaworker.py:176-190`), with an optional topic prefix.
    *
    * The result has columns `(key, value, topic, partition, headers)` — the
    * exact layout `df.write.format("kafka")` binds to. The row number that
    * drives the WRR schedule comes from a caller-supplied total order; at
    * scale you would instead leave `partition` NULL and let the broker-side
    * partitioner hash the key — kept here for reference parity.
    */
  def prepareKafka(
      df: DataFrame,
      valueTemplate: String,
      keyTemplate: String,
      topics: Seq[String],
      topicPrefix: String = "",
      headerTemplates: Seq[(String, String)] = Nil,
      partitionWeights: Option[String] = None,
      orderCol: Option[String] = None): DataFrame = {
    val rendered = renderKafka(df, valueTemplate, keyTemplate, headerTemplates)
    val withPartition = (partitionWeights, orderCol) match {
      case (Some(cfg), Some(oc)) =>
        val rn = row_number().over(Window.orderBy(col(oc)))
        rendered.withColumn("partition", Partitioners.smoothAssign(rn, cfg))
      case _ => rendered.withColumn("partition", lit(null).cast("int"))
    }
    finishKafka(withPartition, topics, topicPrefix)
  }

  /** SCALE-PATH kafka shape: identical `(key, value, topic, partition,
    * headers)` layout, but `partition` is a stateless weighted hash of the
    * record key ([[Partitioners.hashWeightedAssign]]) — the broker-side
    * hash-partitioner seat, with the reference's weights respected in
    * expectation. No row counter, no global window: the whole prepare is a
    * narrow map, so it scales to any corpus and survives task retry
    * unchanged. Use this form on any bench/production path; `prepareKafka`'s
    * WRR form exists for exact reference parity. */
  def prepareKafkaScalable(
      df: DataFrame,
      valueTemplate: String,
      keyTemplate: String,
      topics: Seq[String],
      topicPrefix: String = "",
      headerTemplates: Seq[(String, String)] = Nil,
      partitionWeights: Option[String] = None): DataFrame = {
    val rendered = renderKafka(df, valueTemplate, keyTemplate, headerTemplates)
    val withPartition = partitionWeights match {
      case Some(cfg) => rendered.withColumn("partition",
        Partitioners.hashWeightedAssign(col("key"), cfg))
      case None => rendered.withColumn("partition", lit(null).cast("int"))
    }
    finishKafka(withPartition, topics, topicPrefix)
  }

  private def renderKafka(df: DataFrame, valueTemplate: String,
      keyTemplate: String, headerTemplates: Seq[(String, String)]): DataFrame =
    df.withColumn("value", Templates.render(valueTemplate, col))
      .withColumn("key", Templates.render(keyTemplate, col))
      .withColumn("headers",
        if (headerTemplates.isEmpty) lit(null).cast("map<string,string>")
        else map(headerTemplates.flatMap { case (k, t) =>
          Seq(lit(k), Templates.render(t, col)) }: _*))

  private def finishKafka(df: DataFrame, topics: Seq[String],
      topicPrefix: String): DataFrame =
    df.withColumn("topic",
        explode(array(topics.map(t => lit(topicPrefix + t)): _*)))
      .select("key", "value", "topic", "partition", "headers")

  /** S3 sink shape (`s3worker.py:18-24,52-104`): per-record object key from
    * the `object_key` template (default `%(id)s`, `app.py:529`) and body =
    * rendered template or the raw row JSON; a missing `id` is injected
    * upstream (Transforms.injectId). Returns `(s3key, body)`.
    */
  def prepareS3(df: DataFrame, keyTemplate: String = "%(id)s",
      bodyTemplate: Option[String] = None): DataFrame = {
    val body = bodyTemplate.map(t => Templates.render(t, col))
      .getOrElse(to_json(struct(df.columns.map(col).toSeq: _*)))
    df.withColumn("s3key", Templates.render(keyTemplate, col))
      .withColumn("body", body)
      .select("s3key", "body")
  }

  /** File-backed stand-in for the S3 object store, on the local
    * filesystem (a path with a URI scheme other than `file` throws): one
    * JSON document per record, the lines Spark's JSON file writer writes —
    * `to_json` over all columns runs the same Jackson generator with the
    * same defaults — committed as `part-*.txt` files by the manifest
    * protocol. Production S3 would be a client in `foreachPartition`
    * (per-record PUTs, `s3worker.py` parity), or multi-record objects at
    * 100 TB. */
  def writeS3Shaped(s3Shaped: DataFrame, path: String): Unit =
    writeLines(s3Shaped.select(to_json(struct(col("*")))), path)

  /** RDS sink shape (`rdsworker.py:29-36,85-106`): the templated SQL INSERT
    * per record, with the raw row JSON re-attached as field `json` first
    * (`rdsworker.py:97`) so templates can embed the whole document. Returns
    * a single `insert_sql` column. Production write is
    * `df.write.mode("append").jdbc(...)` — parameterized, transactional per
    * partition — rather than SQL-text execution; the rendered form exists for
    * parity and testing.
    */
  def prepareRds(df: DataFrame, insertTemplate: String): DataFrame =
    Transforms.attachRawJson(df)
      .select(Templates.render(insertTemplate, col).as("insert_sql"))

  /** Postgres LIST-partition auto-create DDL the reference emits when a new
    * partition value appears (`rdsdatabase.py:73-119`), including its
    * partition-name normalization (`rdsdatabase.py:93-102`: lower, strip,
    * non-alnum -> `_`). Returns the distinct DDL statements for a batch —
    * one row per new partition value, computed distributed, applied by the
    * driver before the JDBC append. */
  def partitionDdl(df: DataFrame, table: String, partitionColumn: String): DataFrame =
    df.select(col(partitionColumn).cast("string").as("v")).distinct()
      .select(concat(
        lit(s"CREATE TABLE IF NOT EXISTS ${table}_"),
        regexp_replace(lower(trim(col("v"))), "[^a-z0-9]", "_"),
        lit(s" PARTITION OF $table FOR VALUES IN ('"), col("v"), lit("')"))
        .as("ddl"))

  /** JSON-file sink (`jsonworker.py:18-44`): JSON-lines body column, plus the
    * optional header/footer/comma-separator single-file variant. */
  def prepareJsonLines(df: DataFrame, bodyTemplate: Option[String] = None): DataFrame =
    df.select(bodyTemplate.map(t => Templates.render(t, col))
      .getOrElse(to_json(struct(df.columns.map(col).toSeq: _*))).as("line"))

  /** Scalable path: plain JSON-lines directory write, one line per record
    * (the lines Spark's text file writer writes), committed by the
    * manifest protocol. */
  def writeJsonLines(df: DataFrame, path: String): Unit =
    writeLines(prepareJsonLines(df), path)

  /** Reference-parity path: ONE file with header, comma-separated records,
    * footer (`jsonworker.py:33-44,90-101`). Inherently single-writer — the
    * reference's own shape — so this coalesces to one partition; not a
    * 100 TB path and documented as such. */
  def writeSingleJsonFile(df: DataFrame, path: String,
      header: String = "", footer: String = "", separator: String = ",\n",
      bodyTemplate: Option[String] = None, append: Boolean = false): Unit = {
    // mode 'a' parity (jsonworker.py:30-32): re-open the existing document —
    // body carried over, header written only on a fresh file
    val existingBody: Option[String] =
      if (!append) None
      else {
        val dir = new java.io.File(path)
        Option(dir.listFiles()).toSeq.flatten
          .find(_.getName.startsWith("part-"))
          .map { f =>
            val full = java.nio.file.Files.readString(f.toPath)
            full.stripPrefix(header).stripSuffix("\n").stripSuffix(footer)
          }
      }
    val lines = prepareJsonLines(df, bodyTemplate).coalesce(1)
    import lines.sparkSession.implicits._
    val assembled = lines.mapPartitions { it =>
      val sb = new StringBuilder(header)
      existingBody.foreach(sb.append)
      var first = existingBody.isEmpty
      it.foreach { row =>
        if (!first) sb.append(separator)
        sb.append(row.getString(0))
        first = false
      }
      sb.append(footer)
      Iterator(sb.toString)
    }
    writeLines(assembled.toDF(), path)
  }

  /** Overwrites `path` with one string column's rows as lines, through the
    * manifest sink's two-phase commit (`codec` = `lines`). */
  private def writeLines(lines: DataFrame, path: String): Unit =
    lines.write.format(classOf[ManifestSink].getName).option("path", path)
      .option("codec", ManifestCodec.Lines).mode(SaveMode.Overwrite).save()
}
