package graft

/** JSON text for the report files `Bench` and `Verify` write by hand. */
object Json {

  /** `s` as a JSON string literal. Escapes quote, backslash and every
    * control character below 0x20: one tab or CR in an exception message
    * or an oracle's SQL would otherwise make the whole report unparseable.
    */
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
