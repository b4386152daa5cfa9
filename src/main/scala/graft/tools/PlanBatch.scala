package graft.tools

import java.nio.file.{Files, Paths}

/** Dev tool: dump `.explain("formatted")` for a set of registered
  * queries into per-query files, and time each with the noop sink
  * (guide §1.4: eager full-column evaluation, no output cost).
  *
  * Usage: runMain graft.tools.PlanBatch <sfDir> <outDir> <suffix> [names...]
  * Writes <outDir>/<name>_<suffix>.txt; with no names, dumps nothing
  * (explicit list keeps artifact churn intentional). Timing: one
  * unmeasured warm pass then min of 3, printed to stderr.
  */
object PlanBatch {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names = args.drop(3)
    val spark = graft.GraftSession.build("plan-batch")
    Files.createDirectories(Paths.get(outDir))
    // the bench's load canary (fixed-cost codegen kernel): lets
    // isolated runs on a noisy sandbox be normalized like BENCH_NOTES
    def canaryOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 134217728L, 1L, 32)
        .selectExpr("bit_xor(xxhash64(id)) AS h").head()
      (System.nanoTime() - t0) / 1e9
    }
    canaryOnce()
    val canary = (1 to 3).map(_ => canaryOnce()).min
    System.err.println(f"[planbatch] canary min $canary%.3fs")
    def dropStorage(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    for (name <- names) {
      val fn = graft.SparkEntry.queries(name)
      val plan = fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
        plan.getBytes("UTF-8"))
      spark.sparkContext.setJobDescription(s"$name warm")
      // the warm pass doubles as the AQE FINAL-plan capture (r20;
      // VERDICT r19 next #5): after execution the same frame's
      // executedPlan is the runtime-reoptimized plan (isFinalPlan=true
      // — where SMJ→SHJ rewrites, coalesced reads etc. are visible,
      // none of which static explain shows)
      try {
        val warm = fn(spark, sfDir)
        warm.write.format("noop").mode("overwrite").save()
        Files.write(Paths.get(outDir, s"${name}_${suffix}_final.txt"),
          warm.queryExecution.executedPlan.toString.getBytes("UTF-8"))
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[planbatch] $name FAILED: ${e.getClass.getName}: ${e.getMessage}") }
      dropStorage()
      val ts = (1 to 3).map { i =>
        spark.sparkContext.setJobDescription(s"$name pass $i")
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val d = (System.nanoTime() - t0) / 1e9
        dropStorage()
        d
      }
      System.err.println(
        f"[planbatch] $name%-32s min ${ts.min}%8.3fs  samples ${ts.map(t => f"$t%.3f").mkString(" ")}")
    }
    spark.stop()
  }
}
