package graft

/** The JSON text of the measurement mains' records (Bench, StreamBench,
  * Verify's oracle_sql.json). Values are rendered JSON fragments, so a
  * record is built as nested `obj`/`arr` calls over `str`, `num` and
  * plain integer or boolean `toString`s, in the order its keys must
  * appear. */
object Json {

  /** A JSON string literal. Quote, backslash and every control char
    * below 0x20 are escaped, so a path, an env value or a tab in
    * builder-authored SQL can never make a record unparseable. */
  def str(s: String): String = {
    val b = new StringBuilder(s.length + 2).append('"')
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  /** A number with three decimals and a '.' point in every locale. */
  def num(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)

  /** An object of (key, rendered value) fields, in the order given. */
  def obj(fields: Iterable[(String, String)]): String =
    fields.iterator.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  /** An array of rendered values. */
  def arr(values: Iterable[String]): String = values.mkString("[", ",", "]")
}
