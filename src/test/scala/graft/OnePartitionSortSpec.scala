package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Pins the output order of the rows whose final sort
  * [[graft.plans.OnePartitionSort]] runs in one partition: the same rows
  * in the same order as the range-partitioned sort they had before.
  * `scripts/check.py` compares sorted rows, so this spec is what checks
  * the order. With AQE's partition coalescing off the rule never fires.
  */
class OnePartitionSortSpec extends AnyFunSuite with SparkFixture with Matchers {

  private val rows = Seq("tpch_q1", "tpch_q5", "tpch_q12", "fn_string", "sort_multi",
    "sim_embed_neardup_full")

  /** The collected rows of `name` and its final plan (AQE's initial
    * plan left out). */
  private def run(name: String): (Seq[Row], String) = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    val out = df.collect().toSeq
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    (out, plan.toString)
  }

  for (name <- rows) test(s"$name returns the same rows in the same order with the rule off") {
    val (onePartition, plan) = run(name)
    plan should include("Coalesce 1")
    plan should not include "rangepartitioning"
    val (ranged, rangedPlan) =
      withConf("spark.sql.adaptive.coalescePartitions.enabled", "false")(run(name))
    rangedPlan should include("rangepartitioning")
    rangedPlan should not include "Coalesce 1"
    onePartition should not be empty
    onePartition shouldBe ranged
  }
}
