package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Behavior pins for pipeline_bpe_vocab (r14). The DuckDB gate proves
  * Spark and the oracle agree; these pins prove the agreed-on answer
  * is actually BPE: greedy left-to-right merge application, merged
  * symbols feeding later rounds, and run-to-run determinism.
  */
class BpeSpec extends AnyFunSuite with SparkFixture with Matchers {

  test("greedy replace on doubled-space sequences is BPE's merge pass") {
    // ' x  x  x  x ' must become ' xx  xx ' (two non-overlapping
    // merges), not ' xx  x  x ' — the property the doubled-space
    // representation exists to guarantee in BOTH engines
    val out = spark.sql(
      "SELECT replace(' x  x  x  x ', ' x  x ', ' xx ') AS s").head().getString(0)
    out shouldBe " xx  xx "
    // odd run: trailing symbol survives unmerged
    spark.sql("SELECT replace(' x  x  x ', ' x  x ', ' xx ') AS s")
      .head().getString(0) shouldBe " xx  x "
  }

  test("8 deterministic merges; later rounds compose earlier ones") {
    val rows = SparkEntry.queries("pipeline_bpe_vocab")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    rows.map(_._1).toSeq shouldBe (1L to 8L)
    // at least one merge consumes a previously-merged multi-char
    // symbol — the rounds genuinely feed each other
    assert(rows.exists { case (_, l, r, _) => l.length > 1 || r.length > 1 },
      s"no compositional merge in ${rows.mkString(", ")}")
    val again = SparkEntry.queries("pipeline_bpe_vocab")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    again.toSeq shouldBe rows.toSeq
  }
}
