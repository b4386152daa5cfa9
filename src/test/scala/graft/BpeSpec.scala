package graft

import org.apache.spark.sql.execution.LogicalRDD
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

  test("a BPE row leaves stored only the checkpoints its returned frame reads") {
    // learnBpe frees each superseded vocab checkpoint in the call (and
    // learnUnigram each superseded count checkpoint), the merge table
    // row frees the vocab it has already collected, and the unigram
    // vocab row frees the word checkpoint only its discarded final
    // E-step reads
    def stored = spark.sparkContext.getPersistentRDDs.keySet.toSet
    for (name <- Seq("pipeline_bpe_vocab", "pipeline_bpe_tokenize",
        "pipeline_bpe_encode", "pipeline_tokenizer_eval",
        "pipeline_unigram_vocab", "pipeline_unigram_tokenize",
        "pipeline_unigram_encode")) {
      val before = stored
      val out = SparkEntry.queries(name)(spark, sfDir)
      val read = out.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }
      withClue(s"$name: ") { (stored -- before -- read) shouldBe empty }
      // the freed checkpoints are not needed to read the result
      out.collect() should not be empty
    }
  }
}
