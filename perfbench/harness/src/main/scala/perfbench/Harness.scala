package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import java.lang.management.ManagementFactory
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import scala.collection.mutable
import scala.util.control.NonFatal

/** One JVM run of one workload: set-up, `warmup` untimed warm-up passes
  * (numbered 1 - warmup to 0), then `passes` measured passes (1 to passes).
  * Every call into the program is timed from outside. Writes everything it
  * measured as one JSON file; `run.py` turns that into metrics.
  *
  * After set-up and after every pass the harness pauses: it prints
  * `perfbench-pause` on standard output and waits for a line on standard
  * input. `run.py` takes canary readings in that time, with this JVM stopped.
  *
  * Arguments (key=value): data, queries (comma-separated), seed, warmup,
  * passes, trace (0|1), spans (file for the trace spans), out (result file).
  */
object Harness extends AdaptiveSparkPlanHelper {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  private val PauseLine = "perfbench-pause"

  /** Result of running one query's physical plan to completion. */
  private final case class Digest(rows: Long, hash: Long) {
    override def toString: String = f"$rows:$hash%016x"
  }

  private final case class Span(id: Int, parent: Int, name: String,
      query: String, pass: Int, startMs: Double, endMs: Double)

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val data = opt("data")
    val queries = opt("queries").split(',').toSeq
    val seed = opt("seed").toLong
    val warmup = opt("warmup").toInt
    val passes = opt("passes").toInt
    val trace = opt("trace") == "1"

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val b0 = System.nanoTime()
    val spark = graft.GraftSession.build("perfbench")
    val b1 = System.nanoTime()
    graft.Tables.registerAll(spark, data)
    val b2 = System.nanoTime()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val sc = spark.sparkContext
    val registry = graft.SparkEntry.queries

    // ms since the epoch, on the monotonic clock (Spark's job times are epoch ms)
    val anchorNs = System.nanoTime()
    val anchorMs = System.currentTimeMillis().toDouble
    def ms(ns: Long): Double = anchorMs + (ns - anchorNs) / 1e6

    val listener = new TagListener
    val spans = mutable.ArrayBuffer.empty[Span]
    def span(parent: Int, name: String, q: String, pass: Int, t0: Long, t1: Long): Int = {
      spans += Span(spans.size + 1, parent, name, q, pass, ms(t0), ms(t1))
      spans.size
    }

    def dropStorage(): Unit = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }

    /** Runs `body` as one phase, with its jobs tagged when traced. */
    def phase[T](traced: Boolean, q: String, ph: String)(body: => T): (T, Long, Long) = {
      val tag = Key.phaseTag(q, ph)
      if (traced) sc.addJobTag(tag)
      val t0 = System.nanoTime()
      try { val r = body; (r, t0, System.nanoTime()) }
      finally if (traced) sc.removeJobTag(tag)
    }

    /** Build, plan and execute `q`; the execution consumes every result row
      * and folds it into an order-insensitive digest. */
    def execute(q: String, pass: Int, traced: Boolean, passSpan: Int): Map[String, Any] = {
      val rec = mutable.LinkedHashMap[String, Any]("pass" -> pass, "query" -> q, "traced" -> traced)
      val q0 = System.nanoTime()
      try {
        val (df, bt0, bt1) = phase(traced, q, "build")(registry(q)(spark, data))
        val (plan, pt0, pt1) = phase(traced, q, "plan")(df.queryExecution.executedPlan)
        val (digest, et0, et1) = phase(traced, q, "exec")(run(spark, df))
        val qs = span(passSpan, "query", q, pass, bt0, et1)
        span(qs, "build", q, pass, bt0, bt1)
        span(qs, "plan", q, pass, pt0, pt1)
        span(qs, "exec", q, pass, et0, et1)
        rec ++= Seq("build_s" -> (bt1 - bt0) / 1e9, "plan_s" -> (pt1 - pt0) / 1e9,
          "exec_s" -> (et1 - et0) / 1e9, "latency_s" -> (et1 - bt0) / 1e9,
          "digest" -> digest.toString)
        if (traced) {
          val phases = df.queryExecution.tracker.phases
          def phaseS(p: String): Double = phases.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
          rec ++= Seq("analysis_s" -> phaseS("analysis"),
            "optimization_s" -> phaseS("optimization"), "planning_s" -> phaseS("planning"),
            "exchanges" -> collectWithSubqueries(plan) { case e: Exchange => e }.size,
            "storage_rdds_held" -> sc.getRDDStorageInfo.length)
        }
      } catch {
        case NonFatal(e) =>
          rec ++= Seq("error" -> s"${e.getClass.getName}: ${e.getMessage}",
            "latency_s" -> (System.nanoTime() - q0) / 1e9)
      } finally {
        dropStorage()
      }
      rec.toMap
    }

    def pause(): Unit = {
      println(PauseLine)
      System.out.flush()
      scala.io.StdIn.readLine()
    }

    val execs = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passRecs = mutable.ArrayBuffer.empty[Map[String, Any]]
    pause()
    val runStart = System.nanoTime()
    // passes up to 0 are the untimed warm-up; in a traced run the measured passes
    // go traced, untraced, untraced, traced, ... so the tracing overhead is
    // measured within one JVM and a steady drift (JIT) cancels out
    for (pass <- 1 - warmup to passes) {
      val traced = trace && pass % 4 <= 1 && pass > 0
      if (traced) {
        sc.addSparkListener(listener)
        sc.addJobTag(Key.passTag(pass))
      }
      // warm-up passes run the queries in the listed order, so every run's JIT
      // sees the same sequence; measured passes use orders drawn from the seed
      val order = if (pass <= 0) queries
        else new scala.util.Random(seed * 1000003L + pass).shuffle(queries)
      val p0 = System.nanoTime()
      val passSpan = spans.size + 1
      spans += null // placeholder, filled once the pass ends
      for (q <- order) execs += execute(q, pass, traced, passSpan)
      val p1 = System.nanoTime()
      spans(passSpan - 1) = Span(passSpan, 0, "pass", "", pass, ms(p0), ms(p1))
      val rec = mutable.LinkedHashMap[String, Any](
        "pass" -> pass, "traced" -> traced)
      if (traced) {
        sc.removeJobTag(Key.passTag(pass))
        org.apache.spark.perfbench.ListenerBus.drain(sc)
        sc.removeSparkListener(listener)
        System.gc()
        val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
        rec += "heap_live_mb" -> heap / 1048576.0
      }
      passRecs += rec.toMap
      pause()
    }
    val runEnd = System.nanoTime()

    val work = if (!trace) Nil else
      for (e <- execs.toList if e("traced") == true; ph <- Key.phases) yield {
        val k = Key(e("pass").asInstanceOf[Int], e("query").toString, ph)
        Map("pass" -> k.pass, "query" -> k.query, "phase" -> ph) ++ listener.workOf(k).toMap
      }
    val result = Map(
      "setup" -> Map("setup_s" -> setupS, "graft_session_build_s" -> (b1 - b0) / 1e9,
        "tables_register_s" -> (b2 - b1) / 1e9),
      "machine" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "default_parallelism" -> sc.defaultParallelism,
        "master" -> sc.master,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "jdk" -> System.getProperty("java.version"),
        "spark" -> spark.version),
      "passes" -> passRecs.toList,
      "executions" -> execs.toList,
      "work" -> work,
      "peak_rss_mb" -> peakRssMb())
    mapper.writeValue(new java.io.File(opt("out")), result)

    if (trace) {
      val runSpan = Span(0, -1, "run", "", -1, ms(runStart), ms(runEnd))
      val jobSpans = listener.jobSpans.map { j =>
        val parent = spans.find(s => s != null && s.pass == j.key.pass &&
          s.query == j.key.query && s.name == j.key.phase).map(_.id).getOrElse(-1)
        Span(-j.jobId - 1, parent, "job", j.key.query, j.key.pass, j.startMs.toDouble, j.endMs.toDouble)
      }
      writeSpans(opt("spans"), runSpan +: (spans.toList ++ jobSpans))
    }
    spark.stop()
  }

  /** Runs the planned query to completion, as a noop write would, without
    * planning it a second time; returns the result's row count and the
    * wrapping sum of one 64-bit hash per row (independent of row order). */
  private def run(spark: SparkSession, df: DataFrame): Digest = {
    val qe = df.queryExecution
    val types = qe.executedPlan.schema.fields.map(_.dataType)
    SQLExecution.withNewExecutionId(qe, Some("perfbench")) {
      qe.executedPlan.execute().mapPartitions { rows =>
        val toUnsafe = UnsafeProjection.create(types)
        var n = 0L
        var h = 0L
        rows.foreach { r =>
          val u = toUnsafe(r)
          h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
          n += 1
        }
        Iterator(Digest(n, h))
      }.collect().foldLeft(Digest(0, 0))((a, b) => Digest(a.rows + b.rows, a.hash + b.hash))
    }
  }

  private def peakRssMb(): Double = {
    val status = scala.io.Source.fromFile("/proc/self/status")
    try status.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(-1.0)
    finally status.close()
  }

  /** Writes spans with their self time: duration minus the part of it that
    * child spans cover. */
  private def writeSpans(path: String, spans: Seq[Span]): Unit = {
    val children = spans.groupBy(_.parent)
    val out = spans.map { s =>
      val covered = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0.0, Double.MinValue)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach) else (sum + b - math.max(a, reach), b)
        }._1
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "query" -> s.query,
        "pass" -> s.pass, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "self_ms" -> (s.endMs - s.startMs - covered))
    }
    mapper.writeValue(new java.io.File(path), out)
  }
}
