package graft.tools

import java.nio.file.{Files, Paths}

import graft.Bench.{canarySeconds, dropStorage}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.concurrent.{Await, Promise}
import scala.concurrent.duration._
import scala.util.control.NonFatal

/** Dev tool: dump `.explain("formatted")` for a set of registered
  * queries into per-query files, and time each with the noop sink
  * (guide §1.4: eager full-column evaluation, no output cost).
  *
  * Usage: runMain graft.tools.PlanBatch <sfDir> <outDir> <suffix> [names...]
  * Writes <outDir>/<name>_<suffix>.txt, and <name>_<suffix>_final.txt
  * with the AQE final plan of the noop write that ran; with no names,
  * dumps nothing (explicit list keeps artifact churn intentional).
  * Timing: one unmeasured warm pass then min of 3, printed to stderr.
  * A row whose warm pass fails, or whose captured plan is not final, is
  * printed as FAILED with the reason and not timed.
  */
object PlanBatch {
  /** Runs `df` into the noop sink and returns the executed plan of that
    * write, as the listener bus reports it for the execution that ran.
    * The write plans a QueryExecution of its own, so `df`'s
    * executedPlan would be a fresh plan that never executed. */
  private def noopWriteExecutedPlan(spark: SparkSession, df: DataFrame): String = {
    val plan = Promise[String]()
    // only the noop write is a V2 write command: a builder's earlier
    // actions (checkpoints, parquet writes) may still be queued on the
    // bus when the listener is registered
    def isWrite(qe: QueryExecution) =
      qe.logical.exists(_.isInstanceOf[V2WriteCommand])
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (isWrite(qe)) plan.trySuccess(qe.executedPlan.toString)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        if (isWrite(qe)) plan.tryFailure(e)
    }
    spark.listenerManager.register(listener)
    try {
      df.write.format("noop").mode("overwrite").save()
      Await.result(plan.future, 60.seconds)
    } finally spark.listenerManager.unregister(listener)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names = args.drop(3)
    val spark = graft.GraftSession.build("plan-batch")
    Files.createDirectories(Paths.get(outDir))
    // the bench's load canary: lets isolated runs on a noisy sandbox be
    // normalized like BENCH_NOTES
    canarySeconds(spark)
    val canary = (1 to 3).map(_ => canarySeconds(spark)).min
    System.err.println(f"[planbatch] canary min $canary%.3fs")
    for (name <- names) {
      val fn = graft.SparkEntry.queries(name)
      val plan = fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
        plan.getBytes("UTF-8"))
      spark.sparkContext.setJobDescription(s"$name warm")
      // the warm pass doubles as the AQE FINAL-plan capture (VERDICT r19
      // next #5): the runtime-reoptimized plan shows SMJ→SHJ rewrites,
      // coalesced reads etc., none of which static explain shows
      val failure =
        try {
          val finalPlan = noopWriteExecutedPlan(spark, fn(spark, sfDir))
          if (finalPlan.contains("isFinalPlan=true")) {
            Files.write(Paths.get(outDir, s"${name}_${suffix}_final.txt"),
              finalPlan.getBytes("UTF-8"))
            None
          } else Some("the executed write plan has no isFinalPlan=true")
        } catch { case NonFatal(e) => Some(s"${e.getClass.getName}: ${e.getMessage}") }
      dropStorage(spark)
      failure match {
        case Some(reason) => System.err.println(s"[planbatch] $name FAILED: $reason")
        case None =>
          val ts = (1 to 3).map { i =>
            spark.sparkContext.setJobDescription(s"$name pass $i")
            val t0 = System.nanoTime()
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            val d = (System.nanoTime() - t0) / 1e9
            dropStorage(spark)
            d
          }
          System.err.println(
            f"[planbatch] $name%-32s min ${ts.min}%8.3fs  samples ${ts.map(t => f"$t%.3f").mkString(" ")}")
      }
    }
    spark.stop()
  }
}
