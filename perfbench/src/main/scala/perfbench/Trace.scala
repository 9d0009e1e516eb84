package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

object Tracer {
  /** The local property Spark stamps on each job as its job group. */
  val JobGroup = "spark.jobGroup.id"
}

/** Spans recorded around each operation and each call into a layer. All
  * times are milliseconds since the run's anchor, the same clock the
  * listener's stage records use.
  */
final class Tracer(anchorNs: Long, sc: () => SparkContext) {
  private final class Open(val id: Long, val trace: Long, val parent: Long,
      val name: String, val start: Double, val attrs: mutable.Map[String, Double])

  /** Spans are recorded, and jobs tagged with them, only while enabled. */
  @volatile var enabled = false
  private val closed = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var stack: List[Open] = Nil
  private var nextId = 1L
  private var nextTrace = 1L

  private def nowMs: Double = (System.nanoTime() - anchorNs) / 1e6

  /** Runs `f` inside a span named `layer/call`. Jobs it submits carry the
    * span id as their job group, which is how the listener attributes them.
    */
  def span[A](name: String)(f: => A): A = {
    if (!enabled) return f
    val id = nextId
    nextId += 1
    val (trace, parent) = stack.headOption match {
      case Some(p) => (p.trace, p.id)
      case None =>
        nextTrace += 1
        (nextTrace - 1, 0L)
    }
    val ctx = sc()
    val prev = ctx.getLocalProperty(Tracer.JobGroup)
    ctx.setLocalProperty(Tracer.JobGroup, id.toString)
    stack = new Open(id, trace, parent, name, nowMs, mutable.Map.empty) :: stack
    try f
    finally {
      val o = stack.head
      stack = stack.tail
      closed += Map("id" -> o.id, "trace" -> o.trace, "parent" -> o.parent,
        "name" -> o.name, "start_ms" -> o.start, "end_ms" -> nowMs,
        "attrs" -> o.attrs.toMap)
      sc().setLocalProperty(Tracer.JobGroup, prev)
    }
  }

  /** Attaches a count to the innermost open span (no-op when disabled). */
  def attr(key: String, value: Double): Unit =
    if (enabled) stack.headOption.foreach(_.attrs(key) = value)

  def spans: Seq[Map[String, Any]] = closed.toSeq
}

/** Records jobs, stages and task run times of one SparkContext, each tagged
  * with the span whose job group submitted it. Idle unless `enabled`, so an
  * untraced run pays one flag read per event.
  */
final class StageListener(anchorEpochMs: Double, enabled: () => Boolean)
    extends SparkListener {
  private val jobSpan = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val jobs = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val jobStart = mutable.Map.empty[Int, Double]
  private val taskRun = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val taskWait = mutable.Map.empty[(Int, Int), Long]
  private val stages = mutable.ArrayBuffer.empty[Map[String, Any]]

  private def rel(epochMs: Long): Double = epochMs - anchorEpochMs

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled()) synchronized {
    jobSpan(e.jobId) = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.JobGroup)))
      .flatMap(_.toLongOption).getOrElse(0L)
    jobStart(e.jobId) = rel(e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { t0 =>
      jobs += Map("id" -> e.jobId, "span" -> jobSpan.getOrElse(e.jobId, 0L),
        "start_ms" -> t0, "end_ms" -> rel(e.time))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (stageJob.contains(e.stageId) && e.taskMetrics != null) {
      val key = (e.stageId, e.stageAttemptId)
      val m = e.taskMetrics
      taskRun.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += m.executorRunTime
      val wait = e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        e.taskInfo.gettingResultTime
      taskWait(key) = taskWait.getOrElse(key, 0L) + math.max(0L, wait)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageJob.get(info.stageId).foreach { job =>
      val key = (info.stageId, info.attemptNumber())
      val runs = taskRun.remove(key).getOrElse(mutable.ArrayBuffer.empty[Long]).sorted
      val m = info.taskMetrics
      stages += Map(
        "id" -> info.stageId, "attempt" -> info.attemptNumber(), "job" -> job,
        "span" -> jobSpan.getOrElse(job, 0L),
        "submit_ms" -> info.submissionTime.map(rel).getOrElse(0.0),
        "done_ms" -> info.completionTime.map(rel).getOrElse(0.0),
        "tasks" -> info.numTasks,
        "run_ms" -> runs.sum,
        "task_max_ms" -> runs.lastOption.getOrElse(0L),
        "task_median_ms" -> (if (runs.isEmpty) 0L else runs(runs.size / 2)),
        "wait_ms" -> taskWait.remove(key).getOrElse(0L),
        "cpu_ns" -> Option(m).map(_.executorCpuTime).getOrElse(0L),
        "gc_ms" -> Option(m).map(_.jvmGCTime).getOrElse(0L),
        "shuffle_read" -> Option(m).map(x =>
          x.shuffleReadMetrics.remoteBytesRead + x.shuffleReadMetrics.localBytesRead)
          .getOrElse(0L),
        "shuffle_write" -> Option(m).map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
        "spill" -> Option(m).map(x => x.memoryBytesSpilled + x.diskBytesSpilled)
          .getOrElse(0L),
        "input_bytes" -> Option(m).map(_.inputMetrics.bytesRead).getOrElse(0L),
        "input_records" -> Option(m).map(_.inputMetrics.recordsRead).getOrElse(0L),
        "output_bytes" -> Option(m).map(_.outputMetrics.bytesWritten).getOrElse(0L))
    }
  }

  def jobRecords: Seq[Map[String, Any]] = synchronized(jobs.toSeq)
  def stageRecords: Seq[Map[String, Any]] = synchronized(stages.toSeq)
}
