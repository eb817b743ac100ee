package graft

/** JSON string literal for the mains' hand-built JSON output. */
object Json {

  /** `s` quoted, with quote, backslash and every control char (< 0x20)
    * escaped: a tab or CR left raw in a query's error text or oracle
    * SQL would make the whole document unparseable.
    */
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case '\n'         => "\\n"
    case '\r'         => "\\r"
    case '\t'         => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  } + "\""
}
