package graft.app

import graft.SparkEntry
import graft.core.{Corpus, Par, Sessions}
import graft.core.JobMetrics.{listen, report}
import graft.extract.DeterministicExtractor
import graft.pipeline.BuildPipeline

import java.nio.file.{Files, Paths}

/** Where the time and the shuffle bytes of a build or of queries went, per
  * job label: the [[graft.core.JobMetrics]] table over one run. (Unrelated
  * to `graft.ops.Profile`, the order statistics.)
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
