package graft.config

import graft.spec.TableSpec

/** The reference's 3-level configuration resolution, re-hosted.
  *
  * Reference (`/root/reference/wadlabs/hub/migration/app.py`):
  *  - properties files are section-less; a shim injects `[DEFAULT]`
  *    (`fakesectionhead.py:2-8`), so `[KAFKA] topics_prefix` is looked up as
  *    `kafka_topics_prefix` in the flat file (`app.py:118-148`);
  *  - per option the priority is CLI > env var > properties > default
  *    (`get_property` chain, `app.py:151-198`);
  *  - per-table configs overlay the global one: same properties grammar,
  *    `<TABLE>_<ENV>` env names, global values as defaults
  *    (`load_table_config`, `app.py:365-540`).
  *
  * Env and CLI are injected as maps (not read from the process) so resolution
  * is pure and testable; the Spark engine consumes the result through
  * [[toPipelineConfig]].
  */
final case class SinkTemplates(
    kafkaTopics: Seq[String] = Nil,
    kafkaTopicPrefix: String = "",
    kafkaMessageKey: Option[String] = None,
    kafkaPartitions: Option[String] = None,
    s3Bucket: Option[String] = None,
    s3ObjectKey: String = "%(id)s",
    jsonFilename: Option[String] = None,
    jsonHeader: Option[String] = None,
    jsonFooter: Option[String] = None,
    jsonTemplate: Option[String] = None,
    rdsInsertTemplate: Option[String] = None)

final case class GraftConfig(
    table: String = "",
    keyspace: String = "hub",
    columns: Seq[String] = Seq("*"),
    filter: Option[String] = None,
    sortBy: Seq[(String, Boolean)] = Nil,
    fetchSize: Int = 10000,
    pages: Option[Int] = None,
    timestampFormat: String = graft.operators.Transforms.DefaultTimestampFormat,
    modifiedTimestampFilter: Option[Long] = None,
    stateless: Boolean = true,
    enableKafka: Boolean = false,
    enableRds: Boolean = false,
    enableS3: Boolean = false,
    enableJson: Boolean = false,
    tables: Seq[String] = Nil,
    spec: TableSpec = TableSpec.Empty,
    sinks: SinkTemplates = SinkTemplates()) {

  def toPipelineConfig: graft.Pipeline.Config = graft.Pipeline.Config(
    table = table, columns = columns, solrFilter = filter, sortBy = sortBy,
    pages = pages, fetchSize = fetchSize, spec = spec,
    watermarkMillis = modifiedTimestampFilter)
}

object GraftConfig {

  /** Parse section-less properties text (the post-shim flat form): `k = v`
    * lines, `#`/`;` comments, later keys win — configparser semantics for
    * the subset the reference uses. */
  def parseProperties(text: String): Map[String, String] =
    text.linesIterator
      .map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#") && !l.startsWith(";") &&
        !l.startsWith("["))
      .flatMap { l =>
        val i = l.indexWhere(c => c == '=' || c == ':')
        if (i < 0) Some(l.toLowerCase -> "") // allow_no_value=True
        else Some(l.take(i).trim.toLowerCase -> l.drop(i + 1).trim)
      }
      .toList.toMap // later wins via toMap over ordered list

  /** One option's resolution: CLI > env > properties > default.
    * `section` "DEFAULT" reads the bare option name; any other section reads
    * `section_option` (the shim flattening). */
  final case class Resolver(
      props: Map[String, String],
      env: Map[String, String] = Map.empty,
      cli: Map[String, String] = Map.empty,
      envPrefix: String = "") {

    def raw(section: String, option: String, envName: String): Option[String] = {
      val key =
        if (section == "DEFAULT") option.toLowerCase
        else s"${section.toLowerCase}_${option.toLowerCase}"
      cli.get(envName)
        .orElse(env.get(envPrefix + envName))
        .orElse(props.get(key))
    }

    def str(section: String, option: String, envName: String,
        default: Option[String] = None): Option[String] =
      raw(section, option, envName).orElse(default)

    def int(section: String, option: String, envName: String,
        default: Option[Int] = None): Option[Int] =
      raw(section, option, envName).map(_.toInt).orElse(default)

    def long(section: String, option: String, envName: String,
        default: Option[Long] = None): Option[Long] =
      raw(section, option, envName).map(_.toLong).orElse(default)

    def bool(section: String, option: String, envName: String,
        default: Boolean): Boolean =
      raw(section, option, envName)
        .map(v => Set("yes", "true", "t", "1", "on").contains(v.toLowerCase))
        .getOrElse(default)

    def list(section: String, option: String, envName: String,
        default: Seq[String] = Nil): Seq[String] =
      raw(section, option, envName)
        .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
        .getOrElse(default)
  }

  /** Global config: properties text + env + cli maps -> GraftConfig. */
  def loadGlobal(propertiesText: String = "",
      env: Map[String, String] = Map.empty,
      cli: Map[String, String] = Map.empty): GraftConfig = {
    val r = Resolver(parseProperties(propertiesText), env, cli)
    build(r, GraftConfig())
  }

  /** Per-table overlay (`app.py:365-540`): table properties + `<TABLE>_*`
    * env names, global values as the defaults. A timestamp conversion
    * whose spec names no format takes the resolved `timestamp_format`
    * (the reference's global format, `worker.py:146-148`). */
  def loadTable(table: String, global: GraftConfig,
      propertiesText: String = "",
      env: Map[String, String] = Map.empty,
      cli: Map[String, String] = Map.empty,
      specJson: Option[String] = None): GraftConfig = {
    val r = Resolver(parseProperties(propertiesText), env, cli,
      envPrefix = table.toUpperCase + "_")
    val overlaid = build(r, global).copy(table = table)
    val spec = specJson.map(TableSpec.parse).getOrElse(overlaid.spec)
    overlaid.copy(spec = spec.withTimestampFormat(overlaid.timestampFormat))
  }

  private def build(r: Resolver, d: GraftConfig): GraftConfig = d.copy(
    keyspace = r.str("CASSANDRA", "keyspace", "CASSANDRA_KEYSPACE",
      Some(d.keyspace)).get,
    columns = r.list("CASSANDRA", "columns", "CASSANDRA_COLUMNS", d.columns),
    filter = r.str("CASSANDRA", "filter", "CASSANDRA_FILTER", d.filter),
    sortBy = r.str("CASSANDRA", "sort_by", "CASSANDRA_SORT_BY")
      .map(parseSortBy).getOrElse(d.sortBy),
    fetchSize = r.int("CASSANDRA", "fetch_size", "CASSANDRA_FETCH_SIZE",
      Some(d.fetchSize)).get,
    pages = r.int("CASSANDRA", "pages", "CASSANDRA_PAGES", d.pages),
    timestampFormat = r.str("CASSANDRA", "timestamp_format",
      "CASSANDRA_TIMESTAMP_FORMAT", Some(d.timestampFormat)).get,
    modifiedTimestampFilter = r.long("CASSANDRA", "modified_timestamp_filter",
      "CASSANDRA_MODIFIED_TIMESTAMP_FILTER", d.modifiedTimestampFilter),
    stateless = r.bool("DEFAULT", "stateless", "STATELESS_CRAWLER", d.stateless),
    enableKafka = r.bool("DEFAULT", "enable_kafka", "ENABLE_KAFKA", d.enableKafka),
    enableRds = r.bool("DEFAULT", "enable_rds", "ENABLE_RDS", d.enableRds),
    enableS3 = r.bool("DEFAULT", "enable_s3", "ENABLE_S3", d.enableS3),
    enableJson = r.bool("DEFAULT", "enable_json", "ENABLE_JSON", d.enableJson),
    tables = r.list("CASSANDRA", "tables", "CASSANDRA_TABLES", d.tables),
    sinks = d.sinks.copy(
      kafkaTopics = r.list("KAFKA", "topics", "KAFKA_TOPICS", d.sinks.kafkaTopics),
      kafkaTopicPrefix = r.str("KAFKA", "topics_prefix", "KAFKA_TOPIC_PREFIX",
        Some(d.sinks.kafkaTopicPrefix)).get,
      kafkaMessageKey = r.str("KAFKA", "message_key", "KAFKA_MESSAGE_KEY",
        d.sinks.kafkaMessageKey),
      kafkaPartitions = r.str("KAFKA", "partitions", "KAFKA_PARTITIONS",
        d.sinks.kafkaPartitions),
      s3Bucket = r.str("S3", "bucket", "S3_BUCKET", d.sinks.s3Bucket),
      s3ObjectKey = r.str("S3", "object_key", "S3_OBJECT_KEY",
        Some(d.sinks.s3ObjectKey)).get,
      jsonFilename = r.str("JSON", "filename", "JSON_FILENAME", d.sinks.jsonFilename),
      jsonHeader = r.str("JSON", "header", "JSON_HEADER", d.sinks.jsonHeader),
      jsonFooter = r.str("JSON", "footer", "JSON_FOOTER", d.sinks.jsonFooter),
      jsonTemplate = r.str("JSON", "template", "JSON_TEMPLATE", d.sinks.jsonTemplate),
      rdsInsertTemplate = r.str("RDS", "insert_template", "RDS_INSERT_TEMPLATE",
        d.sinks.rdsInsertTemplate)))

  /** `"col1,col2 desc,col3 asc"` -> ordered (column, ascending) pairs. */
  def parseSortBy(s: String): Seq[(String, Boolean)] =
    s.split(",").toSeq.map(_.trim).filter(_.nonEmpty).map { part =>
      part.split("\\s+").toSeq match {
        case Seq(c) => (c, true)
        case Seq(c, dir) => (c, !dir.equalsIgnoreCase("desc"))
        case other => (other.head, true)
      }
    }
}
