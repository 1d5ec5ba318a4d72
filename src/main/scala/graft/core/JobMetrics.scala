package graft.core

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftShims, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import scala.collection.mutable

/** Where the time and the shuffle bytes of a build or of queries went, per
  * job label: the engine's one Spark listener.
  *
  * A Spark job belongs to its `spark.job.description` label — the pipeline
  * sets `graft-stage:*`, `graft-link:*`, `graft-mat:*` and `graft-comm:*`
  * through [[Par.labelled]] — and to `(unlabelled)` when it has
  * none. A stage belongs to the first job that lists it: a later job that
  * reuses its shuffle output lists it again, as skipped. Counters
  * accumulate once per (stageId, attempt). Per label the table shows jobs,
  * stages run, tasks run, task-seconds (executor run time), shuffle write
  * bytes and records, and the span from the label's first job start to its
  * last job end; the last row holds the grand totals. Tasks per stage show
  * the stages AQE coalesced to one task.
  *
  * The report ends with the run's whole-stage/expression codegen: the
  * classes Janino compiled since the listener was made and the time that
  * took — a fixed cost per distinct plan that no job row shows. The
  * counters are JVM-wide: the driver's compiles, plus the executors' in
  * local mode (a cluster executor compiles in its own JVM).
  */
object JobMetrics {

  val Unlabelled = "(unlabelled)"

  final case class Row(label: String, jobs: Int, stages: Int, tasks: Int, taskMs: Long,
                       shuffleWriteBytes: Long, shuffleWriteRecords: Long, spanMs: Long)

  final class Listener extends SparkListener {
    private final class Acc {
      var jobs = 0; var stages = 0; var tasks = 0; var taskMs = 0L; var bytes = 0L; var records = 0L
      var first = Long.MaxValue; var last = Long.MinValue
      def row(label: String) =
        Row(label, jobs, stages, tasks, taskMs, bytes, records, math.max(last - first, 0L))
    }
    private val byLabel = mutable.LinkedHashMap.empty[String, Acc]
    private val total = new Acc
    private val jobLabel = mutable.HashMap.empty[Int, String]
    private val stageLabel = mutable.HashMap.empty[Int, String]
    private val seen = mutable.HashSet.empty[(Int, Int)]
    private val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    private val compileNs0 = CodeGenerator.compileTime

    private def both(label: String) = Seq(byLabel.getOrElseUpdate(label, new Acc), total)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val label = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse(Unlabelled)
      jobLabel(e.jobId) = label
      e.stageIds.foreach(stageLabel.getOrElseUpdate(_, label))
      both(label).foreach { a => a.jobs += 1; a.first = math.min(a.first, e.time) }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobLabel.remove(e.jobId).foreach(both(_).foreach(a => a.last = math.max(a.last, e.time)))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      if (seen.add((si.stageId, si.attemptNumber()))) {
        val m = Option(si.taskMetrics)
        both(stageLabel.getOrElse(si.stageId, Unlabelled)).foreach { a =>
          a.stages += 1
          a.tasks += si.numTasks
          m.foreach { m =>
            a.taskMs += m.executorRunTime
            a.bytes += m.shuffleWriteMetrics.bytesWritten
            a.records += m.shuffleWriteMetrics.recordsWritten
          }
        }
      }
    }

    /** One row per label, in order of first appearance. */
    def rows: Seq[Row] = synchronized(byLabel.toSeq.map { case (l, a) => a.row(l) })
    def totals: Row = synchronized(total.row("total"))
    /** (classes compiled, compile ms) since this listener was made. */
    def codegen: (Long, Long) = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0,
      (CodeGenerator.compileTime - compileNs0) / 1000000L)
  }

  /** Attach a fresh [[Listener]] to `spark`. */
  def listen(spark: SparkSession): Listener = {
    val l = new Listener
    spark.sparkContext.addSparkListener(l)
    l
  }

  /** The table, once every event posted so far has reached `l`. */
  def report(spark: SparkSession, l: Listener): Seq[String] = {
    GraftShims.drainListeners(spark.sparkContext)
    def fmt(r: Row) = f"[profile] ${r.label}%-32s ${r.jobs}%5d ${r.stages}%6d ${r.tasks}%6d " +
      f"${r.taskMs / 1e3}%9.1f ${r.shuffleWriteBytes}%14d ${r.shuffleWriteRecords}%11d " +
      f"${r.spanMs / 1e3}%8.2f"
    val header = f"[profile] ${"label"}%-32s ${"jobs"}%5s ${"stages"}%6s ${"tasks"}%6s ${"task_s"}%9s " +
      f"${"shuffle_w_bytes"}%14s ${"shuffle_rec"}%11s ${"span_s"}%8s"
    val (compiles, compileMs) = l.codegen
    (header +: l.rows.map(fmt) :+ fmt(l.totals)) :+
      s"[profile] codegen compiles=$compiles compile_ms=$compileMs"
  }
}
