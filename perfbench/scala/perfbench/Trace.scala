package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener,
  StreamingQueryProgress}

/** One interval of the traced run. Times are epoch nanoseconds so the
  * benchmark's own spans and Spark's (millisecond) event times share a
  * base. `op` is the id shared by every span of one operation. */
final case class Span(op: String, kind: String, name: String,
                      start: Long, end: Long) {
  def dur: Long = math.max(0L, end - start)
}

object Span {
  private val base = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = base + System.nanoTime()

  /** Length of the union of `children` clipped to [start, end). */
  def covered(start: Long, end: Long, children: Iterable[(Long, Long)])
      : Long = {
    var total = 0L
    var cursor = start
    children.map { case (s, e) => (math.max(s, start), math.min(e, end)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
      .foreach { case (s, e) =>
        if (e > cursor) { total += e - math.max(s, cursor); cursor = e }
      }
    total
  }

  /** Self time: duration minus the part its children cover. */
  def self(parent: Span, children: Iterable[Span]): Long =
    parent.dur - covered(parent.start, parent.end,
      children.map(c => (c.start, c.end)))
}

/** Per-op totals of Spark's task metrics. */
final class ExecTotals {
  var jobs, stages, tasks = 0L
  var runNs, cpuNs, gcNs = 0L
  var shuffleWrite, shuffleRead, spill = 0L
  var inputBytes, inputRecords, outputBytes, outputRecords = 0L
  var resultBytes = 0L
  /** slowest ÷ median task time, per stage with >= nproc tasks */
  val skews = mutable.ArrayBuffer.empty[Double]

  def add(o: ExecTotals): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runNs += o.runNs; cpuNs += o.cpuNs; gcNs += o.gcNs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; inputBytes += o.inputBytes
    inputRecords += o.inputRecords; outputBytes += o.outputBytes
    outputRecords += o.outputRecords; resultBytes += o.resultBytes
    skews ++= o.skews
  }
}

/** Folds Spark's scheduler events into spans and per-op totals. Jobs are
  * attributed to the op and phase named by the local properties the
  * benchmark sets on its driver thread before each call (streaming
  * query threads inherit them). */
final class ExecListener(nproc: Int) extends SparkListener {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"

  private val jobOp = mutable.Map.empty[Int, (String, String, Long)]
  private val stageOp = mutable.Map.empty[Int, String]
  /** task durations per (stage, attempt) until the stage completes */
  private val taskDurations =
    mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val totals = mutable.Map.empty[String, ExecTotals]
  val spans = new ConcurrentLinkedQueue[Span]()

  private def tot(op: String) = totals.getOrElseUpdate(op, new ExecTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val op = props.flatMap(p => Option(p.getProperty(OpKey))).getOrElse("-")
    val phase = props.flatMap(p => Option(p.getProperty(PhaseKey)))
      .getOrElse("-")
    jobOp(e.jobId) = (op, phase, e.time)
    e.stageIds.foreach(s => stageOp(s) = op)
    tot(op).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOp.remove(e.jobId).foreach { case (op, phase, t0) =>
      spans.add(Span(op, "job", phase, t0 * 1000000L, e.time * 1000000L))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val info = e.stageInfo
      val op = stageOp.getOrElse(info.stageId, "-")
      tot(op).stages += 1
      for (s <- info.submissionTime; c <- info.completionTime)
        spans.add(Span(op, "stage", s"stage ${info.stageId}",
          s * 1000000L, c * 1000000L))
      val key = (info.stageId, info.attemptNumber())
      taskDurations.remove(key).foreach { ds =>
        val d = ds.sorted
        if (d.length >= nproc && d.nonEmpty) {
          val med = d(d.length / 2)
          if (med > 0) tot(op).skews += d.last.toDouble / med
        }
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val op = stageOp.getOrElse(e.stageId, "-")
    val t = tot(op)
    t.tasks += 1
    taskDurations.getOrElseUpdate((e.stageId, e.stageAttemptId),
      mutable.ArrayBuffer.empty) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      t.runNs += m.executorRunTime * 1000000L
      t.cpuNs += m.executorCpuTime
      t.gcNs += m.jvmGCTime * 1000000L
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      t.inputBytes += m.inputMetrics.bytesRead
      t.inputRecords += m.inputMetrics.recordsRead
      t.outputBytes += m.outputMetrics.bytesWritten
      t.outputRecords += m.outputMetrics.recordsWritten
      t.resultBytes += m.resultSize
    }
  }

  def totalsFor(op: String): ExecTotals = synchronized {
    totals.getOrElse(op, new ExecTotals)
  }
  def jobSpans(op: String): Seq[Span] =
    spans.asScala.filter(s => s.kind == "job" && s.op == op).toSeq
}

/** Collects every micro-batch progress report of the streaming drains. */
object StreamListener {
  /** A progress report as a span: trigger start plus its duration. */
  def span(p: StreamingQueryProgress): (Long, Long) = {
    val t = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L
    val d = Option(p.durationMs.get("triggerExecution"))
      .map(_.longValue).getOrElse(0L)
    (t, t + d * 1000000L)
  }
}

final class StreamListener extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(
      e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress)
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}
