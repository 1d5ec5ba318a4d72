package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.collection.mutable

/** Spark work counted per benchmark span, from outside the engine.
  *
  * Attribution rules:
  *   - a job belongs to the span open at its submission time
  *     ([[Trace.nameAt]]), never to its call site;
  *   - a stage belongs to the first job that lists it (`getOrElseUpdate`):
  *     a later job that re-lists a shared stage does not take it over;
  *   - each `(stageId, attempt)` completes once, and a stage a job lists
  *     but never submits counts as skipped for that job's span;
  *   - task counters follow the stage's owner, so the bytes of a reused
  *     shuffle are counted once, by the span that wrote them.
  *
  * The listener bus is asynchronous: call [[drain]] before reading. */
final class Meter(trace: Trace) extends SparkListener {

  final class Counts {
    var jobs = 0L
    var stages = 0L
    var skippedStages = 0L
    var taskMs = 0L
    var shuffleWriteBytes = 0L
    var shuffleWriteRecords = 0L
    var spillBytes = 0L
    var inputRecords = 0L
    var failedTasks = 0L
    /** per (stageId, attempt): stage wall and its task durations */
    val stageWallMs = mutable.Map.empty[(Int, Int), Long]
    val stageTaskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]

    /** max ÷ median task duration in the span's longest stage (1 when the
      * span ran no tasks). */
    def taskSkew: Double =
      if (stageWallMs.isEmpty) 1.0
      else {
        val key = stageWallMs.maxBy { case (k, w) => (w, k._1) }._1
        val ts = stageTaskMs.getOrElse(key, mutable.ArrayBuffer.empty[Long]).sorted
        if (ts.isEmpty) 1.0
        else math.max(ts.last, 1L).toDouble / math.max(Stats.median(ts.map(_.toDouble).toSeq), 1.0)
      }
  }

  private val counts = mutable.Map.empty[String, Counts]
  private val stageOwner = mutable.Map.empty[Int, String]
  private val jobStages = mutable.Map.empty[Int, (String, Seq[Int])]
  private val submitted = mutable.Set.empty[Int]
  private val completed = mutable.Set.empty[(Int, Int)]

  private def of(span: String): Counts = counts.getOrElseUpdate(span, new Counts)

  /** Nanoseconds spent inside this listener's callbacks: its own cost. */
  @volatile private var busyNs = 0L
  private def timed(body: => Unit): Unit = synchronized {
    val t0 = System.nanoTime()
    body
    busyNs += System.nanoTime() - t0
  }
  def busySeconds: Double = busyNs / 1e9

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val span = trace.nameAt(e.time)
    of(span).jobs += 1
    e.stageIds.foreach(id => stageOwner.getOrElseUpdate(id, span))
    jobStages(e.jobId) = (span, e.stageIds)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
    submitted += e.stageInfo.stageId
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val si = e.stageInfo
    val key = (si.stageId, si.attemptNumber())
    if (completed.add(key)) {
      val c = of(stageOwner.getOrElse(si.stageId, "-"))
      c.stages += 1
      for (s <- si.submissionTime; d <- si.completionTime) c.stageWallMs(key) = d - s
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    jobStages.remove(e.jobId).foreach { case (span, ids) =>
      of(span).skippedStages += ids.count(id => !submitted.contains(id))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val c = of(stageOwner.getOrElse(e.stageId, "-"))
    if (!e.taskInfo.successful) c.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskMs += m.executorRunTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputRecords += m.inputMetrics.recordsRead
      c.stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
        e.taskInfo.duration
    }
  }

  /** Counters of one span name (all zero when nothing ran in it). */
  def apply(span: String): Counts = synchronized(counts.getOrElse(span, new Counts))

  /** Failed tasks over every span. */
  def failedTasks: Long = synchronized(counts.values.map(_.failedTasks).sum)

  def drain(sc: SparkContext): Unit = org.apache.spark.PerfbenchBus.drain(sc)
}

/** Micro-batch progress of every streaming query, per batch. */
final class StreamMeter extends StreamingQueryListener {
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized(progress += e)

  /** Duration of one phase ("triggerExecution", "addBatch", "walCommit")
    * for every batch that read at least one row. */
  def durations(phase: String): Seq[Double] = synchronized {
    progress.toSeq.filter(_.progress.numInputRows > 0)
      .flatMap(e => Option(e.progress.durationMs.get(phase)).map(_.doubleValue))
  }
}

object Stats {
  /** Median; the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }
}
