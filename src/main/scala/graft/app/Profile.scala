package graft.app

import graft.SparkEntry
import graft.core.{Corpus, Par, Sessions}
import graft.extract.DeterministicExtractor
import graft.pipeline.BuildPipeline
import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftShims, SparkSession}

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Where the time and the shuffle bytes of a build or of queries went, per
  * job label. (Unrelated to `graft.ops.Profile`, the order statistics.)
  *
  * A Spark job belongs to its `spark.job.description` label — the pipeline
  * sets `graft-stage:*`, `graft-link:*`, `graft-mat:*` and `graft-comm:*`
  * through [[graft.core.Par.labelled]] — and to `(unlabelled)` when it has
  * none. A stage belongs to the first job that lists it: a later job that
  * reuses its shuffle output lists it again, as skipped. Counters
  * accumulate once per (stageId, attempt). Per label the table shows jobs,
  * stages run, tasks run, task-seconds (executor run time), shuffle write
  * bytes and records, and the span from the label's first job start to its
  * last job end; the last row holds the grand totals. Tasks per stage show
  * the stages AQE coalesced to one task.
  *
  * Usage (cores default to SPARK_GRAFT_CPUS, as in Bench/Verify):
  * {{{
  *   Profile build <nDocs> [cores]            one no-work-dir build of the seeded corpus
  *   Profile query <sfDir> <reps> <q> [q ...]  each SparkEntry query reps times, each rep cold
  *   Profile plan  <sfDir> <outDir> <q> [q ...] <outDir>/<q>.txt: the formatted physical plan
  * }}}
  * Plans are taken under the engine session, the one Bench and Verify run.
  * Queries whose DataFrame construction is eager (the CC loops of
  * q_dedup_clusters, q_semantic_dedup, q_curate_pack) show only the final
  * plan over their cached stage cuts; their loop jobs land in the table.
  */
object Profile {

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
    header +: l.rows.map(fmt) :+ fmt(l.totals)
  }

  private def secondsSince(t0: Long) = (System.nanoTime() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    def session(c: Int) = {
      val s = Sessions.local(c, "graft-profile")
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    val (spark, listener) = args.toList match {
      case "build" :: nDocs :: rest if rest.size <= 1 =>
        val spark = session(rest.headOption.fold(cores)(_.toInt))
        val l = listen(spark)
        val t0 = System.nanoTime()
        val triples = BuildPipeline.run(Corpus.docs(spark, nDocs.toLong),
          new DeterministicExtractor).triples
        val n = Par.labelled(spark, "graft-profile:count")(triples.count())
        println(f"[profile] build docs=$nDocs triples=$n wall=${secondsSince(t0)}%.1f s")
        (spark, l)
      case "query" :: sfDir :: reps :: queries if queries.nonEmpty =>
        val spark = session(cores)
        val l = listen(spark)
        queries.foreach { q =>
          val samples = (1 to reps.toInt).map { _ =>
            val t0 = System.nanoTime()
            val n = Par.labelled(spark, s"graft-query:$q")(SparkEntry.queries(q)(spark, sfDir).count())
            val sec = secondsSince(t0)
            // each rep starts cold, as in Bench
            spark.sparkContext.getPersistentRDDs.valuesIterator.foreach(_.unpersist(blocking = false))
            spark.sharedState.cacheManager.clearCache()
            (sec, n)
          }
          val secs = samples.map(_._1)
          println(f"[profile] $q%-20s min=${secs.min}%8.3f s  " +
            f"samples=${secs.map(s => f"$s%.3f").mkString("/")}  rows=${samples.head._2}")
        }
        (spark, l)
      case "plan" :: sfDir :: outDir :: queries if queries.nonEmpty =>
        val spark = session(cores)
        val l = listen(spark)
        Files.createDirectories(Paths.get(outDir))
        queries.foreach { q =>
          val plan = Par.labelled(spark, s"graft-plan:$q")(SparkEntry.queries(q)(spark, sfDir))
            .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(outDir, s"$q.txt"), plan)
          println(s"[profile] wrote $outDir/$q.txt (${plan.length} chars)")
        }
        (spark, l)
      case _ =>
        System.err.println("usage: Profile build <nDocs> [cores] | query <sfDir> <reps> <q>... | " +
          "plan <sfDir> <outDir> <q>...")
        sys.exit(2)
    }
    report(spark, listener).foreach(println)
    spark.stop()
  }
}
