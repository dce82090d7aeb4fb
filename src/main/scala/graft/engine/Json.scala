package graft.engine

/** JSON text helpers for the hand-assembled JSON this project prints
  * (the bench line, `/debug` errors). */
object Json {
  /** `s` as a JSON string literal: quote, backslash and every control
    * character escaped; null reads as the empty string. */
  def quote(s: String): String =
    "\"" + Option(s).getOrElse("").flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
