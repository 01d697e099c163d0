package graft.spec

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** Typed model of the reference's table-specs JSON.
  *
  * The reference loads `<table>.json` (search paths
  * `/root/reference/wadlabs/hub/migration/app.py:457-479`, inline via env at
  * `app.py:481-482`) and consumes per-column directives in `worker.py:110-162`:
  *
  * {{{
  * {"columns": [
  *   {"name": "old", "renameTo": "new"},
  *   {"name": "payload", "convertTo": "object"},
  *   {"name": "items",   "convertTo": "list"},
  *   {"name": "attrs",   "convertTo": "map"},
  *   {"name": "ts", "convertTo": "timestamp", "timestamp_format": "..."},
  *   {"name": "derived", "convertTo": "template:<expr>"},
  *   {"name": "secret",  "remove": true}
  * ]}
  * }}}
  *
  * `convertTo` values map to conversions in [[graft.operators.Transforms]].
  * The optional `schema` field (our extension — the reference is schemaless
  * and infers nothing) carries a Spark DDL string for object/list/map targets
  * so `from_json` gets a real StructType instead of permissive parsing.
  */
final case class ColumnSpec(
    name: String,
    renameTo: Option[String] = None,
    convertTo: Option[String] = None,
    timestampFormat: Option[String] = None,
    schemaDdl: Option[String] = None,
    remove: Boolean = false)

final case class TableSpec(columns: Seq[ColumnSpec]) {
  def renames: Seq[(String, String)] =
    columns.collect { case c if c.renameTo.isDefined => c.name -> c.renameTo.get }
  def removals: Seq[String] = columns.filter(_.remove).map(_.name)
  /** Conversions keyed by the column's post-rename name, matching the
    * reference pipeline order rename -> convert (`kafkaworker.py:173-178`). */
  def conversions: Seq[ColumnSpec] =
    columns.filter(c => c.convertTo.isDefined && !c.remove)
      .map(c => c.copy(name = c.renameTo.getOrElse(c.name)))
  /** `format` for every timestamp conversion that names none. */
  def withTimestampFormat(format: String): TableSpec = TableSpec(columns.map {
    case c if c.convertTo.contains("timestamp") && c.timestampFormat.isEmpty =>
      c.copy(timestampFormat = Some(format))
    case c => c
  })
}

object TableSpec {
  private val mapper = new ObjectMapper()

  val Empty: TableSpec = TableSpec(Nil)

  /** Parse the reference-shaped JSON spec text. */
  def parse(json: String): TableSpec = {
    val root = mapper.readTree(json)
    val cols = Option(root.get("columns")).map(_.elements().asScala.toSeq).getOrElse(Nil)
    TableSpec(cols.map(parseColumn))
  }

  private def parseColumn(n: JsonNode): ColumnSpec = {
    def str(f: String): Option[String] = Option(n.get(f)).map(_.asText())
    ColumnSpec(
      name = str("name").getOrElse(
        throw new IllegalArgumentException(s"column spec missing 'name': $n")),
      renameTo = str("renameTo"),
      convertTo = str("convertTo"),
      timestampFormat = str("timestamp_format"),
      schemaDdl = str("schema"),
      remove = Option(n.get("remove")).exists(_.asBoolean(false)))
  }
}
