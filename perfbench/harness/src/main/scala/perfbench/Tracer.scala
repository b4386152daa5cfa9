package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** One call into the program (pass, query, phase), named by its job tags. */
final case class Key(pass: Int, query: String, phase: String)

object Key {
  val phases = Seq("build", "plan", "exec")
  def passTag(pass: Int): String = s"perfbench-pass$pass"
  def phaseTag(query: String, phase: String): String = s"$query/$phase"

  private val PassTag = "perfbench-pass(\\d+)".r

  /** The key of a job whose `spark.job.tags` property is `tags`, if the
    * harness tagged it. */
  def parse(tags: String): Option[Key] = {
    val ts = Option(tags).toSeq.flatMap(_.split(','))
    val pass = ts.collectFirst { case PassTag(n) => n.toInt }
    val qp = ts.collectFirst {
      case t if phases.exists(p => t.endsWith("/" + p)) =>
        val i = t.lastIndexOf('/'); (t.take(i), t.drop(i + 1))
    }
    for (p <- pass; (q, ph) <- qp) yield Key(p, q, ph)
  }
}

/** Spark work one key caused: counts, summed task times and bytes. */
final class Work {
  var jobs, stages, tasks = 0L
  var taskRunMs, taskCpuNs, taskWaitMs, gcMs = 0L
  var shuffleWriteBytes, shuffleReadBytes, spillBytes = 0L

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_run_ms" -> taskRunMs, "task_cpu_ns" -> taskCpuNs,
    "task_wait_ms" -> taskWaitMs, "gc_ms" -> gcMs,
    "shuffle_write_bytes" -> shuffleWriteBytes,
    "shuffle_read_bytes" -> shuffleReadBytes, "spill_bytes" -> spillBytes)
}

final case class JobSpan(jobId: Int, key: Key, startMs: Long, endMs: Long)

/** Attributes jobs, stages and tasks to the call that started them by the
  * job tags the harness set around it. The listener bus delivers events
  * after the fact, so attribution by tag (not by time window) is what keeps
  * a late task from landing on the next query. Read the results only after
  * [[org.apache.spark.perfbench.ListenerBus.drain]]. */
final class TagListener extends SparkListener {
  private val tagsProp = "spark.job.tags"
  private val work = mutable.Map.empty[Key, Work]
  private val stageOf = mutable.Map.empty[(Int, Int), (Key, Long)]
  private val openJobs = mutable.Map.empty[Int, (Key, Long)]
  private val jobs = mutable.ArrayBuffer.empty[JobSpan]

  private def keyOf(props: java.util.Properties): Option[Key] =
    Option(props).flatMap(p => Key.parse(p.getProperty(tagsProp)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    keyOf(e.properties).foreach { k =>
      work.getOrElseUpdate(k, new Work).jobs += 1
      openJobs(e.jobId) = (k, e.time)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs.remove(e.jobId).foreach { case (k, t) => jobs += JobSpan(e.jobId, k, t, e.time) }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val info = e.stageInfo
    keyOf(e.properties).foreach { k =>
      stageOf((info.stageId, info.attemptNumber())) =
        (k, info.submissionTime.getOrElse(System.currentTimeMillis()))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageOf.get((info.stageId, info.attemptNumber())).foreach { case (k, _) =>
      work.getOrElseUpdate(k, new Work).stages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOf.get((e.stageId, e.stageAttemptId)).foreach { case (k, submitted) =>
      val w = work.getOrElseUpdate(k, new Work)
      w.tasks += 1
      w.taskWaitMs += math.max(0L, e.taskInfo.launchTime - submitted)
      val m = e.taskMetrics
      if (m != null) {
        w.taskRunMs += m.executorRunTime
        w.taskCpuNs += m.executorCpuTime
        w.gcMs += m.jvmGCTime
        w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        w.shuffleReadBytes += m.shuffleReadMetrics.localBytesRead +
          m.shuffleReadMetrics.remoteBytesRead
        w.spillBytes += m.diskBytesSpilled
      }
    }
  }

  def workOf(k: Key): Work = synchronized(work.getOrElse(k, new Work))
  def jobSpans: Seq[JobSpan] = synchronized(jobs.toList)
}
