package graft

object Json {

  /** A JSON string literal: quote, backslash and ALL control chars
    * (< 0x20) escaped — exception messages are routinely multi-line,
    * and a raw newline or tab inside the quotes breaks both one-line
    * stdout artifacts and `json.load` of the file artifacts. */
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
