package graft

/** The one JSON string escaper of the records graft's mains write
  * (Bench, Verify, DiffFuzz, HashGate): backslash, quote and every
  * control character (< 0x20) escaped — a tab or CR left raw in
  * oracle SQL makes the reader's json.load fail.
  */
private[graft] object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case '\n'         => "\\n"
    case '\r'         => "\\r"
    case '\t'         => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  } + "\""
}
