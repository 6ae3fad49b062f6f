package graft

/** The one JSON string writer for the hand-built records (`Verify`'s
  * oracle_sql.json, `Bench`'s record line).
  */
object Json {

  /** Quoted JSON string: escapes backslash, quote and ALL control
    * chars (<0x20) — a tab or CR in builder-authored SQL would
    * otherwise make the reader's json.load fail.
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
