package graft.perfbench

import graft.extract.DeterministicExtractor
import graft.pipeline.BuildPipeline
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Input sizes. Chosen so that one run, JVM start included, takes about a
  * minute on a 4-core host (see perfbench/README.md). */
object Sizes {
  val BulkDocs = 1000L
  /** drawn from the 5 000 documents and 2 000 embeddings of sf0.1 */
  val NearDupDocs = 2000
  val NearDupVecs = 500
  val SetupReps = 3
  /** the four near-duplicate operators of SparkEntry.queries */
  val NearDupQueries = Seq("q_ngram_jaccard", "q_minhash_lsh", "q_simhash", "q_dedup_clusters")
}

/** The untraced workloads. Each reports the same end-to-end metrics:
  * `setup_s`, `docs_per_s` and `peak_live_heap_mb`. */
object Workloads {

  final case class Ctx(spark: SparkSession, work: String, state: String, data: String,
                       seed: Long, seconds: Double, sessionS: Double, run: Run)

  private def now = System.nanoTime()
  private def secs(t0: Long) = (now - t0) / 1e9

  /** Median wall of `reps` runs of a set-up step (the set-up is repeated
    * so that one slow write does not decide `setup_s`). */
  private def setupMedian(reps: Int)(body: => Unit): Double =
    Stats.median((1 to reps).map { _ => val t0 = now; body; secs(t0) })

  /** build_bulk: one fresh no-work-dir BuildPipeline.run over the seeded
    * corpus, read back from parquet, timed until every output table the
    * build leaves lazy (search index, documents registry, dropped edges)
    * is counted as well as the triples. It is the first build of the JVM;
    * only the session start and the input writes ran before it. */
  def buildBulk(c: Ctx): Unit = {
    import c._
    val dir = s"$work/corpus"
    val writeS = setupMedian(Sizes.SetupReps)(Inputs.writeCorpus(spark, dir, Sizes.BulkDocs, seed))
    run.metric("setup_s", sessionS + writeS, "s")

    val walls = mutable.ArrayBuffer.empty[Double]
    var heap = 0.0
    val t0 = now
    do {
      run.check("no_cached_rdds_before_op", Jvm.noCachedRdds(spark))
      run.op("build") {
        val r = BuildPipeline.run(Inputs.readCorpus(spark, dir), new DeterministicExtractor)
        (r, r.triples.count(), r.searchIndex.count(), r.documents.count(), r.droppedEdges.count())
      } match {
        case Some(((r, n, indexRows, docRows, _), wall)) =>
          heap = math.max(heap, Jvm.liveHeapMb())
          val (p, rc) = BuildPipeline.parity(r.triples,
            Inputs.oracleTriples(spark, Sizes.BulkDocs, seed))
          val parityOk = run.accept("build_parity", p >= 0.95 && rc >= 0.95, s"P=$p R=$rc")
          val stableOk = run.accept("build_triples_stable",
            State.sameAsBefore(state, s"bulk-${Sizes.BulkDocs}-$seed", n.toString), s"triples=$n")
          val tablesOk = run.accept("build_tables_filled", indexRows > 0 && docRows == Sizes.BulkDocs,
            s"search_index=$indexRows documents=$docRows")
          if (parityOk && stableOk && tablesOk) walls += wall
          System.err.println(f"[perfbench] build docs=${Sizes.BulkDocs} triples=$n wall=$wall%.2fs P=$p%.4f R=$rc%.4f")
          r.cleanup()
        case None =>
      }
      Jvm.dropCaches(spark)
    } while (secs(t0) < seconds)
    run.check("corpus_span_sequences",
      Inputs.corpusMismatches(spark, dir, Sizes.BulkDocs, seed) == 0)

    if (walls.nonEmpty) run.metric("docs_per_s", Sizes.BulkDocs / Stats.median(walls.toSeq), "docs/s")
    run.metric("peak_live_heap_mb", heap, "MiB")
  }

  /** neardup_docs: one pass runs the four near-dup queries, each started
    * with no cached data, over a seeded sample of the sf0.1 tables; like
    * the bulk build, the first pass of the JVM.
    * Outputs of the last pass go to the DuckDB oracle compare. */
  def nearDup(c: Ctx): Unit = {
    import c._
    val sf = s"$work/sf"
    val out = s"$work/out"
    val writeS = setupMedian(Sizes.SetupReps)(
      Inputs.writeNearDup(spark, s"$data/sf0.1", sf, Sizes.NearDupDocs, Sizes.NearDupVecs, seed))
    run.metric("setup_s", sessionS + writeS, "s")

    var heap = 0.0
    val walls = mutable.ArrayBuffer.empty[Double]
    val t0 = now
    do {
      val pass = Sizes.NearDupQueries.map { q =>
        Jvm.dropCaches(spark)
        run.check("no_cached_rdds_before_op", Jvm.noCachedRdds(spark))
        val res = run.op(q)(runQuery(spark, sf, out, q))
        heap = math.max(heap, Jvm.liveHeapMb())
        res.foreach(r => System.err.println(f"[perfbench] $q wall=${r._2}%.2fs"))
        res.map(_._2)
      }
      Jvm.dropCaches(spark)
      if (pass.forall(_.isDefined)) walls += pass.flatten.sum
    } while (secs(t0) < seconds)
    Sizes.NearDupQueries.foreach(q => run.oracle(q, s"$out/$q"))

    if (walls.nonEmpty) run.metric("docs_per_s", Sizes.NearDupDocs / Stats.median(walls.toSeq), "docs/s")
    run.metric("peak_live_heap_mb", heap, "MiB")
  }

  /** Run one near-dup query to its written output. */
  def runQuery(spark: SparkSession, sf: String, out: String, q: String): Unit =
    graft.SparkEntry.queries(q)(spark, sf).write.mode("overwrite").parquet(s"$out/$q")
}

/** Values that must repeat across runs of one seed in one checkout. */
object State {
  def sameAsBefore(dir: String, key: String, value: String): Boolean = {
    val f = new java.io.File(dir, key)
    if (f.exists()) {
      val src = scala.io.Source.fromFile(f)
      try src.mkString.trim == value finally src.close()
    } else {
      f.getParentFile.mkdirs()
      val w = new java.io.PrintWriter(f)
      try w.print(value) finally w.close()
      true
    }
  }
}
