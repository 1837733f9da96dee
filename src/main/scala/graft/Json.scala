package graft

/** JSON text shared by the driver mains (Bench, Verify) and the flu API. */
object Json {

  /** A JSON string literal. Backslash, quote and ALL control chars
    * (< 0x20) are escaped: captured error text and builder-authored SQL
    * carry newlines and tabs, and one unescaped char makes a consumer's
    * json.load fail on the whole record.
    */
  def string(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
