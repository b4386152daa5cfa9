package graft.tools

import java.nio.file.{Files, Paths}
import java.util.UUID

import graft.Bench.{canarySeconds, dropStorage}
import graft.plans.ExplainAnalyze
import org.apache.spark.graft.ListenerBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.concurrent.{Await, Promise}
import scala.concurrent.duration._
import scala.util.control.NonFatal

/** Profiles registered queries, as Presto's EXPLAIN ANALYZE and
  * QueryStats do: per query, the jobs its build and its execution ran,
  * the AQE final plan of the execution, that plan's actual
  * per-operator metrics, and its time in the noop sink (eager
  * full-column evaluation, no output cost).
  *
  * Usage: runMain graft.tools.Profile <sfDir> <outDir> <suffix> <names...>
  * Writes <outDir>/<name>_<suffix>.txt with the formatted plan, and
  * <name>_<suffix>_final.txt with the AQE final plan of the noop write
  * that ran. Prints the load canary, then per query its job counts, the
  * persistent RDDs its build left stored, its operator metric rows and,
  * after the profiled run as warm-up, the min of 3 timed runs. A query whose profiled run fails, or whose captured
  * plan is not final, is printed as FAILED with the reason and not
  * timed. Exits 1 if a name is not registered, before any query runs,
  * or if any query FAILED.
  */
object Profile {
  /** One profiled run of a query: its formatted plan, the plan its noop
    * write executed, that plan's [[ExplainAnalyze.operatorMetrics]], the
    * jobs the build and the execution ran, and the persistent RDDs held
    * once the build returned. */
  private[graft] final case class Capture(formatted: String, executed: SparkPlan,
      operators: Seq[(Int, String, String, Long)], buildJobs: Int, executeJobs: Int,
      storedAfterBuild: Int)

  /** Builds `name` and runs it into the noop sink, with the jobs of each
    * phase under a job tag of its own. */
  private[graft] def capture(spark: SparkSession, sfDir: String, name: String): Capture = {
    val sc = spark.sparkContext
    val tag = s"graft-profile-${UUID.randomUUID}"
    def tagged[T](phase: String)(body: => T): T = {
      sc.addJobTag(s"$tag-$phase")
      try body finally sc.removeJobTag(s"$tag-$phase")
    }
    val df = tagged("build")(graft.SparkEntry.queries(name)(spark, sfDir))
    val stored = sc.getPersistentRDDs.size
    val formatted = df.queryExecution.explainString(FormattedMode)
    val executed = tagged("execute")(noopWriteExecutedPlan(spark, df))
    // the status store learns of each job from the listener bus,
    // asynchronously
    ListenerBus.drain(sc)
    def jobs(phase: String) = sc.statusTracker.getJobIdsForTag(s"$tag-$phase").length
    Capture(formatted, executed, ExplainAnalyze.operatorMetrics(executed),
      jobs("build"), jobs("execute"), stored)
  }

  /** Runs `df` into the noop sink and returns the executed plan of that
    * write, as the listener bus reports it for the execution that ran.
    * The write plans a QueryExecution of its own, so `df`'s
    * executedPlan would be a fresh plan that never executed. */
  private def noopWriteExecutedPlan(spark: SparkSession, df: DataFrame): SparkPlan = {
    val plan = Promise[SparkPlan]()
    // only the noop write is a V2 write command: a builder's earlier
    // actions (checkpoints, parquet writes) may still be queued on the
    // bus when the listener is registered
    def isWrite(qe: QueryExecution) =
      qe.logical.exists(_.isInstanceOf[V2WriteCommand])
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (isWrite(qe)) plan.trySuccess(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        if (isWrite(qe)) plan.tryFailure(e)
    }
    spark.listenerManager.register(listener)
    try {
      noopWrite(df)
      Await.result(plan.future, 60.seconds)
    } finally spark.listenerManager.unregister(listener)
  }

  private def noopWrite(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    if (args.length < 4) {
      System.err.println("usage: graft.tools.Profile <sfDir> <outDir> <suffix> <names...>")
      sys.exit(1)
    }
    val Array(sfDir, outDir, suffix) = args.take(3)
    val names = args.drop(3)
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"[profile] not registered: ${unknown.mkString(" ")}")
      sys.exit(1)
    }
    val spark = graft.GraftSession.build("profile")
    Files.createDirectories(Paths.get(outDir))
    // the bench's load canary, so runs on a loaded machine can be
    // normalized as in BENCH_NOTES.md
    canarySeconds(spark)
    val canary = (1 to 3).map(_ => canarySeconds(spark)).min
    println(f"[profile] canary min $canary%.3fs")
    val failed = names.filter { name =>
      // the profiled run doubles as the warm pass, and its final plan
      // shows the runtime re-optimizations (SMJ→SHJ rewrites, coalesced
      // reads) that static explain does not
      val captured =
        try {
          val c = capture(spark, sfDir, name)
          Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
            c.formatted.getBytes("UTF-8"))
          val finalPlan = c.executed.toString
          if (finalPlan.contains("isFinalPlan=true")) {
            Files.write(Paths.get(outDir, s"${name}_${suffix}_final.txt"),
              finalPlan.getBytes("UTF-8"))
            Right(c)
          } else Left("the executed write plan has no isFinalPlan=true")
        } catch { case NonFatal(e) => Left(s"${e.getClass.getName}: ${e.getMessage}") }
      dropStorage(spark)
      captured match {
        case Left(reason) =>
          println(s"[profile] $name FAILED: $reason")
          true
        case Right(c) =>
          println(s"[profile] $name jobs build ${c.buildJobs} execute ${c.executeJobs} stored ${c.storedAfterBuild}")
          for ((id, op, metric, value) <- c.operators)
            println(f"[profile] $name op $id%3d $op%-36s $metric%-28s $value")
          val fn = graft.SparkEntry.queries(name)
          val ts = (1 to 3).map { _ =>
            val t0 = System.nanoTime()
            noopWrite(fn(spark, sfDir))
            val d = (System.nanoTime() - t0) / 1e9
            dropStorage(spark)
            d
          }
          println(f"[profile] $name%-32s min ${ts.min}%8.3fs  samples ${ts.map(t => f"$t%.3f").mkString(" ")}")
          false
      }
    }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
