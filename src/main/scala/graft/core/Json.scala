package graft.core

/** JSON output helpers for the harness mains (Verify, Bench, Profile). */
object Json {
  /** A JSON string literal: escapes backslash, quote, and ALL control
    * chars (< 0x20) — a tab or CR in an exception message or in
    * builder-authored SQL would otherwise make a line-wise json.load
    * reject the whole record. */
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
