package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Float-margin audit for the unigram-LM tokenizer (the PqMarginSpec /
  * HybridRrfMarginSpec precedent): the ONLY cross-engine fp decision
  * in the whole tokenizer is the micro-nat quantization
  * round(ln(cnt/T)·1e6) — cnt/T is one IEEE division of exact BIGINTs
  * (bit-identical both engines) and everything downstream is integer
  * arithmetic (Viterbi totals are BIGINT sums; ties break on integer
  * np then the seg string). So determinism reduces to: the raw value's
  * distance from the nearest .5 rounding boundary must dwarf the ≤1-ulp
  * cross-libm ln noise, which at |ln|≤16 scaled by 1e6 is ≲4e-9
  * absolute. The audited frames are the SAME private[graft] helper the
  * shipped rounds quantize (learnUnigram's audited raw frames — the audit
  * cannot drift from the gate).
  */
class UnigramMarginSpec extends AnyFunSuite with SparkFixture with Matchers {

  test("micro-nat quantization sits clear of every .5 boundary, all rounds") {
    import spark.implicits._
    val margins = Seq.newBuilder[Double]
    graft.queries.TextPipeline.learnUnigram(spark, sfDir, raw =>
      margins += raw.select(abs(($"raw" - floor($"raw")) - 0.5).as("m"))
        .agg(min($"m")).head.getDouble(0))
    margins.result() should have size 3 // seed + per-round + final rescore
    val minMargin = margins.result().min
    info(f"min quantization margin across rounds: $minMargin%.3e")
    minMargin should be >= 1e-5
  }

  test("every final segmentation reconstructs its word exactly (round-trip)") {
    // lossless-tokenization property (SentencePiece's core contract):
    // concatenating the argmax pieces must give back the word for
    // EVERY vocabulary entry — a dropped/overlapping piece in the
    // cut-mask enumeration would break this before any oracle ran
    import spark.implicits._
    val (_, best) = graft.queries.TextPipeline.learnUnigram(spark, sfDir)
    val broken = best
      .filter(regexp_replace($"seg", " ", "") =!= $"w")
    broken.count() shouldBe 0L
    best.count() should be > 0L
  }
}
