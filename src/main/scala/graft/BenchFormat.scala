package graft

/** Pure formatting/aggregation helpers for [[Bench]], extracted so the
  * JSON contract is unit-testable without running the suite (the
  * Round7FixesSpec pin previously re-implemented the NaN rendering
  * inline, which tested nothing).
  */
object BenchFormat {
  /** Locale.ROOT: f-interpolation uses the default locale, which can
    * emit ',' decimal separators and break the JSON.
    */
  def num(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** Per-query map → JSON object; a NaN (no successful sample) renders
    * as null so a failed query can never contribute a bogus time.
    */
  def jsonOf(rs: Seq[(String, Double)]): String = rs
    .map { case (k, v) => "\"" + k + "\":" + (if (v.isNaN) "null" else num(v)) }
    .mkString("{", ",", "}")

  /** Suite total excluding failed (NaN) entries. */
  def totalOf(rs: Seq[(String, Double)]): Double =
    rs.map(_._2).filterNot(_.isNaN).sum

  /** JSON string literal: escapes backslash, quote and ALL control
    * chars (<0x20) — a tab or CR in a message or in builder-authored SQL
    * would otherwise make a reader's json.load fail. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def minOf(xs: List[Double]): Double = xs.min
  def medianOf(xs: List[Double]): Double = xs.sorted.apply(xs.size / 2)
}
