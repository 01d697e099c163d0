package graft.observability

/** The one JSON rendering every hand-built artifact line shares: the
  * bench's stdout/partial/compact/results lines, the [[QueryProfile]]
  * record and Verify's `oracle_sql.json`. */
object Json {

  /** `s` as a JSON string literal: quote, backslash and every control
    * char (< 0x20) escaped, so a path or SQL text can never end the
    * string early. Control chars render as `\u00XX`; with
    * `shortControls` newline, CR and tab take their short forms (the
    * byte form `oracle_sql.json` has always had). */
  def str(s: String, shortControls: Boolean = false): String = {
    val sb = new StringBuilder(s.length + 2).append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' if shortControls => sb.append("\\n")
      case '\r' if shortControls => sb.append("\\r")
      case '\t' if shortControls => sb.append("\\t")
      case c if c < 0x20 =>
        sb.append(String.format(java.util.Locale.ROOT, "\\u%04x", Int.box(c.toInt)))
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  /** Millisecond-precision number; Locale.ROOT because the f-interpolator
    * is locale-sensitive (a comma-decimal locale breaks the parse). */
  def num(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** `{"k":v,...}` over already-rendered values, keys escaped. */
  def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
