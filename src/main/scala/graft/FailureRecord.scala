package graft

/** Structured failure record for a registered query that throws: one JSON
  * line carrying the query, the exception class and message, the cause
  * chain, and the top frames of the root cause. `Bench`, `Verify` and
  * `Soak` print it to stderr (their stdout protocols stay untouched), so
  * a failure's mechanism can be read from the run's stderr artifact
  * alone — grep for `"failure":`.
  */
private[graft] object FailureRecord {

  /** JSON string literal: backslash, quote, and ALL control chars (<0x20)
    * escaped — a tab or CR in a message or in registered oracle SQL
    * would otherwise break a downstream `json.load`.
    */
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def json(tool: String, query: String, e: Throwable): String = {
    // bounded: a self-referencing cause chain must not loop
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10).toSeq
    def entry(t: Throwable): String =
      s"""{"exception":${quote(t.getClass.getName)},"message":${quote(String.valueOf(t.getMessage).take(500))}}"""
    val causes = chain.drop(1).map(entry).mkString("[", ",", "]")
    val top = chain.last.getStackTrace.take(12)
      .map(f => quote(f.toString)).mkString("[", ",", "]")
    s"""{"failure":${quote(tool)},"query":${quote(query)},""" +
      s""""exception":${quote(e.getClass.getName)},""" +
      s""""message":${quote(String.valueOf(e.getMessage).take(2000))},""" +
      s""""causes":$causes,"root_frames":$top}"""
  }
}
