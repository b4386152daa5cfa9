package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** What graft.tools.Profile reports of one run: the AQE final plan of
  * the execution that ran, its operator metric rows and the jobs of
  * each phase. */
class ProfileSpec extends AnyFunSuite with SparkFixture with Matchers {

  test("tpch_q3: the final plan that ran, its execute jobs and operator rows") {
    val c = tools.Profile.capture(spark, sfDir, "tpch_q3")
    c.executed.toString should include("isFinalPlan=true")
    c.executeJobs should be > 0
    c.operators shouldBe plans.ExplainAnalyze.operatorMetrics(c.executed)
    // read off the execution that ran: a plan that never ran reads 0
    c.operators.filter(_._3 == "numOutputRows").map(_._4).max should be > 0L
  }

  test("dedup_minhash_lsh_full: builder-time checkpoints count as build jobs") {
    tools.Profile.capture(spark, sfDir, "dedup_minhash_lsh_full")
      .buildJobs should be > 0
  }
}
