package graft
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal
object Bench {
  /** Bench hygiene, shared by the three measuring mains (Bench,
    * tools.Profile, ScaleProbe): drops every CacheManager entry and
    * frees every persistent RDD, among them the checkpoints a returned
    * frame reads ([[graft.queries.Checkpoints]] states the storage
    * rule), so storage pressure never bleeds into the next measurement.
    * No query may therefore cache state for reuse across bench passes;
    * a cross-pass asset persists to the warehouse instead (the
    * materializeStar/materializeStemDict pattern). */
  def dropStorage(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  /** Seconds for one run of the noise canary (VERDICT r8 "What's
    * wrong" #2): identical code measured twice in round 8 swung the
    * suite total ~1.35x purely from sandbox load, and nothing in the
    * JSON let a reader tell that from a regression. A fixed-cost,
    * data-independent calibration kernel — bit_xor(xxhash64) over a
    * 128M range, pure codegen CPU, no IO, no shuffle — whose ratio
    * across runs normalizes out machine load (BENCH_NOTES.md). bit_xor,
    * not sum: summing 128M 64-bit hashes overflows Long under ANSI
    * mode. */
  def canarySeconds(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 134217728L, 1L, 32)
      .selectExpr("bit_xor(xxhash64(id)) AS h").head()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build("graft-bench")
    val selected =
      if (args.nonEmpty) SparkEntry.queries.view.filterKeys(args.contains).toMap
      else SparkEntry.queries
    val ordered = selected.toSeq.sortBy(_._1)
    // Pass 0: UNMEASURED full-suite warm-up. Interleaving alone (r6)
    // destroyed the JIT/code-cache warmth back-to-back repeats had, and
    // every per-query number drifted up ~1.4x with unchanged code
    // (VERDICT r7 "Performance"). One full unmeasured pass compiles
    // every query's generated code and faults in the page cache before
    // anything is timed, so measured passes see a warm JVM regardless
    // of suite order. Storage is dropped after every execution.
    // why each query last failed, "Class: message", for bench_full.json
    val reasons = scala.collection.mutable.Map.empty[String, String]
    def reason(e: Throwable): String = s"${e.getClass.getName}: ${e.getMessage}"
    for ((name, fn) <- ordered) {
      try fn(spark, sfDir).count()
      catch { case NonFatal(e) => reasons(name) = reason(e) }
      dropStorage(spark)
    }
    // Min + median of three INTERLEAVED measured passes (not three
    // consecutive runs per query): a multi-second machine stall spans
    // consecutive samples of ONE query and fabricates a regression
    // (BENCH_r05's q12-q15 block), but it cannot span the same query
    // in three suite-wide passes minutes apart. Min absorbs ±JIT/GC
    // noise; median is robust to one lucky sample. The canary is
    // timed once per measured pass; its min lands in the JSON as
    // canary_s.
    canarySeconds(spark) // unmeasured warm-up, same as the suite
    val canarySamples = scala.collection.mutable.ListBuffer.empty[Double]
    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
    val failed = scala.collection.mutable.Set.empty[String]
    for (_ <- 1 to 3) {
      canarySamples += canarySeconds(spark)
      for ((name, fn) <- ordered) {
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
          catch { case NonFatal(e) => reasons(name) = reason(e); false }
        val d = (System.nanoTime() - t0) / 1e9
        dropStorage(spark)
        // a fast-failing query must not record its (tiny) elapsed time
        // as a legitimate sample and deflate the total — flag it instead
        if (ok) samples(name) = d :: samples.getOrElse(name, Nil)
        else failed += name
      }
    }
    import BenchFormat.{jsonOf, medianOf, minOf, num}
    val canaryMin = minOf(canarySamples.toList)
    System.err.println(f"[bench] canary min $canaryMin%8.2fs  " +
      f"samples ${canarySamples.map(s => f"$s%.2f").mkString(" ")}")
    val results = ordered.map { case (name, _) =>
      val xs = samples.getOrElse(name, Nil)
      val (mn, md) =
        if (xs.isEmpty) (Double.NaN, Double.NaN) else (minOf(xs), medianOf(xs))
      System.err.println(f"[bench] $name%-30s min $mn%8.2fs  med $md%8.2fs" +
        (if (xs.isEmpty && failed(name)) "  FAILED" else ""))
      (name, mn, md)
    }
    // only queries with NO successful pass count as failed
    val failedNames = failed.toSeq.filterNot(samples.contains).sorted
    val failedJson = failedNames.map("\"" + _ + "\"").mkString("[", ",", "]")
    val reasonsJson = failedNames
      .map(n => BenchFormat.jsonString(n) + ":" + BenchFormat.jsonString(reasons(n)))
      .mkString("{", ",", "}")
    // the machine behind the numbers: effective task slots and master
    val sc = spark.sparkContext
    val machineJson = s""""cpus":${sc.defaultParallelism},"master":""" +
      BenchFormat.jsonString(sc.master)
    val nFailed = failedNames.size
    val mins = results.map { case (n, mn, _) => (n, mn) }
    val medians = results.map { case (n, _, md) => (n, md) }
    val total = num(BenchFormat.totalOf(mins))
    val totalMedian = num(BenchFormat.totalOf(medians))
    val canaryJson = num(canaryMin)
    // Full per-query detail: the one-line form blows past the driver's
    // ~1.7 KB stdout-tail window at 200+ queries (BENCH_r02 "parsed":
    // null), so it goes to a file the driver/judge can read whole.
    // n_failed rides alongside value so a round where queries newly fail
    // can never be misread as a speedup (ADVICE r7).
    val full =
      s"""{"metric":"total","value":$total,"value_median":$totalMedian,"unit":"sec","canary_s":$canaryJson,"queries":${jsonOf(mins)},"queries_median":${jsonOf(medians)},"failed":$failedJson,"failure_reasons":$reasonsJson,"n_failed":$nFailed,"sf":"$sfDir",$machineJson}"""
    // selective runs (explicit query args) are local iteration — they
    // must not clobber the committed full-registry artifact
    if (args.isEmpty)
      java.nio.file.Files.write(java.nio.file.Paths.get("bench_full.json"),
        full.getBytes("UTF-8"))
    // stdout line stays within the tail window: total over ALL queries,
    // per-query detail limited to the TPC-H headline set.
    val headline = mins.filter(_._1.startsWith("tpch_"))
    val headlineJson =
      s"""{"metric":"total","value":$total,"value_median":$totalMedian,"unit":"sec","canary_s":$canaryJson,"queries":${jsonOf(headline)},"failed":$failedJson,"n_failed":$nFailed,"sf":"$sfDir","n_queries":${results.size},$machineJson,"detail":"bench_full.json"}"""
    // The driver's stdout parser has recorded "parsed": null three
    // rounds running (VERDICT r3 #4 suspects the sbt "[info] " prefix),
    // so the same line also lands in a FIXED file it can read whole.
    if (args.isEmpty)
      java.nio.file.Files.write(java.nio.file.Paths.get("bench_headline.json"),
        headlineJson.getBytes("UTF-8"))
    println(headlineJson)
    System.out.flush()
    spark.stop()
  }
}
