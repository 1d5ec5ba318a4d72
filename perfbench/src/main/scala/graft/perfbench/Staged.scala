package graft.perfbench

import graft.build.Chunker
import graft.community.Communities
import graft.core._
import graft.extract.{BoundedExec, DeterministicExtractor, Extract}
import graft.index.SearchIndex
import graft.io.{Checkpoints, ParquetTableIO}
import graft.link.Linker
import graft.materialize.GraphTables
import graft.pipeline.BuildPipeline
import graft.query.Search
import graft.streaming.StreamingBuild
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** The traced run: per-layer numbers, measured from outside the engine.
  *
  * The benchmark calls each layer's public entry point itself, in pipeline
  * order, and forces each output inside one span per layer, so every
  * Spark job it triggers is attributed by [[Meter]] to exactly one layer.
  * Then it runs the real `BuildPipeline.run` (fused plan, fork overlap)
  * with and without the listener, a checkpointed build and its resume,
  * searches over the resumed tables, a micro-batch stream and the four
  * near-dup queries. */
object Staged {

  val TraceDocs = 200L
  val StreamDocs = 32L
  val StreamFiles = 16 // StreamingBuild reads up to 16 files per trigger: one batch
  val Queries = 3
  /** layers with the common counter set */
  val Layers = Seq("build", "extract", "link", "materialize", "community", "index")

  private def mb(b: Long) = b / (1024.0 * 1024.0)

  def measure(c: Workloads.Ctx): Unit = {
    import c._
    import spark.implicits._
    val trace = new Trace
    val meter = new Meter(trace)
    val streams = new StreamMeter
    spark.sparkContext.addSparkListener(meter)
    spark.streams.addListener(streams)
    def metric(name: String, v: Double, unit: String) = run.metric(name, v, unit)
    // the engine's own stage cut: persisted rows behind a fresh plan leaf,
    // so later layers do not carry every upstream plan
    val rows = mutable.Map.empty[String, Long]
    def cut(name: String)(df: DataFrame): DataFrame = {
      val (d, _, n) = Materialize.stageCutHandleN(df)
      rows(name) = n
      d
    }

    // --- core: session + input tables -------------------------------------
    val dir = s"$work/corpus"
    val t0 = System.nanoTime()
    Inputs.writeCorpus(spark, dir, TraceDocs, seed)
    metric("core.session_s", sessionS, "s")
    metric("core.input_write_s", (System.nanoTime() - t0) / 1e9, "s")
    run.check("corpus_span_sequences", Inputs.corpusMismatches(spark, dir, TraceDocs, seed) == 0)
    val docs = Inputs.readCorpus(spark, dir)
    val ex = new DeterministicExtractor

    // --- staged build: one span per layer ----------------------------------
    run.attempted += 1
    val chunks = trace("build")(cut("chunks")(Chunker.chunks(docs).toDF()))
    val (logs, docMeta) = trace("extract") {
      val l = cut("logs")(Extract.withProperties(
        Extract.rawLogs(chunks.as[Chunk], Chunker.visualSpans(docs), ex), ex).toDF())
      val m = cut("doc_meta")(Chunker.fullTexts(docs).mapPartitions { it =>
        BoundedExec.mapBounded(it, ex.maxConcurrency) { case (id, txt) =>
          (id, ex.keywords(txt), ex.summary(txt))
        }
      }.toDF("doc_id", "keywords", "summary"))
      (l, m)
    }
    val logsT = logs.as[ExtractionLog]
    val mapping = trace("link") {
      val lr = Linker.canonicalMappingResult(logsT)
      val m = cut("mapping")(lr.mapping)
      lr.cleanup()
      m
    }
    val (names, pairs) = trace("link.probe") {
      val n = Linker.uniqueNamesSlim(logsT)
      (n.count(), Linker.matchedPairs(n).count())
    }
    val renamed = mapping.filter(col("name_norm") =!= col("canonical_norm")).count()
    val (nodes0, edges0, props0, triples, dropped, mat) = trace("materialize") {
      val m = GraphTables.build(logsT, mapping)
      (cut("nodes0")(m.nodes.toDF()), cut("edges0")(m.edges.toDF()),
        cut("properties0")(m.properties.toDF()), cut("triples")(m.triples),
        cut("dropped_edges")(m.droppedEdges), m)
    }
    val (nodes, edges, props) = trace("community") {
      val l = Communities.build(nodes0.as[NodeRow], edges0.as[EdgeRow], props0.as[PropertyRow],
        docMeta.select(col("doc_id"), col("keywords")), docMeta.select(col("doc_id"), col("summary")))
      val out = (cut("nodes")(l.nodesWithCommunity.unionByName(l.communityNodes).unionByName(l.docNodes)),
        cut("edges")(edges0.unionByName(l.communityEdges)),
        cut("properties")(props0.unionByName(l.communityProperties).unionByName(l.docProperties)))
      l.cleanup()
      out
    }
    val index = trace("index")(cut("search_index")(SearchIndex.build(nodes, edges, props)))
    val (p, r) = BuildPipeline.parity(triples, Inputs.oracleTriples(spark, TraceDocs, seed))
    run.accept("staged_parity", p >= 0.95 && r >= 0.95, s"P=$p R=$r")
    val stagedTriples = rows("triples")
    metric("build.chunks_out", rows("chunks").toDouble, "count")
    metric("extract.logs_out", rows("logs").toDouble, "count")
    metric("link.unique_names", names.toDouble, "count")
    metric("link.candidate_pairs", pairs.toDouble, "count")
    metric("link.merge_ratio", renamed.toDouble / math.max(pairs, 1L), "ratio")
    require(rows("search_index") > 0, "empty search index")

    // --- io: every staged output through Checkpoints, then a full resume ---
    // (the stage names BuildPipeline checkpoints under)
    val stageOut = Seq("chunks" -> chunks, "logs" -> logs, "doc_meta" -> docMeta,
      "mapping" -> mapping, "nodes0" -> nodes0, "edges0" -> edges0, "properties0" -> props0,
      "triples" -> triples, "dropped_edges" -> dropped, "nodes" -> nodes, "edges" -> edges,
      "properties" -> props, "search_index" -> index)
    val cpDir = s"$work/checkpoints"
    val io = new ParquetTableIO(cpDir)
    run.op("checkpoint_write")(trace("io.write") {
      val cp = new Checkpoints(spark, io, "fresh")
      stageOut.foreach { case (name, df) => cp.stage(name)(df) }
    })
    val resumed = run.op("resume")(trace("io.read") {
      val cp = new Checkpoints(spark, io, "resume")
      stageOut.map { case (name, _) =>
        val d = cp.stage(name)(throw new IllegalStateException(s"stage $name recomputed on resume"))
        d.count()
        name -> d
      }.toMap
    })
    val lineage = spark.read.parquet(s"$cpDir/_lineage")
    val written = lineage.filter(col("run_id") === "fresh" && !col("resumed")).count()
    val resumedStages = lineage.filter(col("run_id") === "resume" && col("resumed")).count()
    metric("io.write_s", trace.seconds("io.write"), "s")
    metric("io.write_amp", Jvm.bytes(cpDir).toDouble / math.max(Jvm.bytes(dir), 1L), "ratio")
    metric("io.read_s", trace.seconds("io.read"), "s")
    metric("io.resumed_stages", resumedStages.toDouble, "count")
    def tripleHash(t: DataFrame): (Long, Long) =
      (t.count(), t.select(bit_xor(xxhash64(col("doc_id"), col("subj"), col("pred"), col("obj"))))
        .head().getLong(0))
    for ((res, _) <- resumed) {
      run.accept("resume_all_stages", resumedStages == stageOut.size && written == stageOut.size,
        s"resumed $resumedStages, wrote $written of ${stageOut.size}")
      run.accept("resume_identical_triples", tripleHash(res("triples")) == tripleHash(triples),
        s"resumed ${res("triples").count()} vs staged $stagedTriples")

      // --- query: searches over the resumed tables -------------------------
      val univ = Corpus.universe(Corpus.DefaultUniverseSize, Corpus.DefaultSeed)
      val rng = new scala.util.Random(seed)
      val qs = Seq.fill(Queries)(s"${univ(rng.nextInt(univ.size)).canonical} " +
        Corpus.predicates(rng.nextInt(Corpus.predicates.size)))
      val idx = res("search_index")
      def search(kind: String, q: String): Array[Row] =
        (if (kind == "quick") Search.quickSearch(idx, q) else Search.globalSearch(idx, q)).collect()
      var hits = 0L
      for (kind <- Seq("quick", "global"); q <- qs) {
        run.op(s"search_$kind")(trace(s"query.$kind")(search(kind, q))).foreach { case (rows, _) =>
          val (limit, threshold) = if (kind == "quick") (40, 0.1) else (15, 0.0)
          val again = search(kind, q)
          run.accept(s"search_$kind", rows.length <= limit &&
            rows.forall(_.getAs[Double]("score") > threshold) &&
            rows.map(_.getAs[String]("id")).toSeq == again.map(_.getAs[String]("id")).toSeq,
            s"'$q' rows=${rows.length}")
          if (kind == "quick") {
            hits += rows.length
            val h = spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1),
              Search.quickSearch(idx, q).schema)
            run.op("enrich")(trace("query.enrich")(
              Search.enrich(h, res("nodes"), res("edges"), res("properties")).collect()))
          }
        }
      }
      meter.drain(spark.sparkContext)
      metric("query.quick.jobs_per_query", meter("query.quick").jobs.toDouble / Queries, "count")
      metric("query.quick.rows_scanned_per_hit",
        meter("query.quick").inputRecords.toDouble / math.max(hits, 1L), "ratio")
      metric("query.global.jobs_per_query", meter("query.global").jobs.toDouble / Queries, "count")
      metric("query.enrich_ms", trace.seconds("query.enrich") * 1e3 / Queries, "ms")
    }
    mat.cleanup()
    Jvm.dropCaches(spark)

    // --- pipeline: the real fused build, listener attached -----------------
    meter.drain(spark.sparkContext)
    val busy0 = meter.busySeconds
    run.op("pipeline")(trace("pipeline") {
      val res = BuildPipeline.run(Inputs.readCorpus(spark, dir), ex)
      val n = res.triples.count()
      // the outputs a no-work-dir build leaves lazy
      Seq(res.searchIndex, res.documents, res.droppedEdges).foreach(_.count())
      res.cleanup()
      n
    }).foreach { case (n, wall) =>
      run.accept("pipeline_triples", n == stagedTriples, s"$n vs staged $stagedTriples")
      meter.drain(spark.sparkContext)
      val pc = meter("pipeline")
      metric("pipeline.jobs_total", pc.jobs.toDouble, "count")
      metric("pipeline.stages_total", pc.stages.toDouble, "count")
      metric("pipeline.task_s_total", pc.taskMs / 1e3, "s")
      metric("pipeline.occupancy", pc.taskMs / 1e3 / (wall * Main.Cores), "ratio")
      metric("pipeline.shuffle_write_mb_total", mb(pc.shuffleWriteBytes), "MiB")
      // the listener's own cost: time its callbacks held the listener bus
      metric("pipeline.trace_overhead_s", meter.busySeconds - busy0, "s")
    }
    Jvm.dropCaches(spark)

    // --- streaming: one micro-batch of documents through the stream -------
    val inDir = s"$work/stream_in"
    Inputs.corpus(spark, StreamDocs, seed).repartition(StreamFiles, col("doc_id"))
      .write.mode("overwrite").parquet(inDir)
    val outDir = s"$work/stream_out"
    run.op("stream")(trace("streaming") {
      val q = StreamingBuild.start(StreamingBuild.readDocs(spark, inDir), ex,
        new ParquetTableIO(outDir), s"$work/stream_checkpoint")
      q.awaitTermination()
      q.exception.foreach(e => throw e)
    }).foreach { _ =>
      val (sp, sr) = BuildPipeline.parity(spark.read.parquet(s"$outDir/triples"),
        Inputs.oracleTriples(spark, StreamDocs, seed))
      run.accept("stream_parity", sp >= 0.95 && sr >= 0.95, s"P=$sp R=$sr")
    }
    meter.drain(spark.sparkContext) // streaming progress rides the same bus
    val addBatch = streams.durations("addBatch")
    val walCommit = streams.durations("walCommit")
    if (addBatch.nonEmpty) metric("streaming.add_batch_p50_s", Stats.median(addBatch) / 1e3, "s")
    if (walCommit.nonEmpty) metric("streaming.wal_commit_p50_ms", Stats.median(walCommit), "ms")
    metric("streaming.batches", addBatch.size.toDouble, "count")
    Jvm.dropCaches(spark)

    // --- ops: the four near-dup queries ------------------------------------
    val sf = s"$work/sf"
    val out = s"$work/out"
    Inputs.writeNearDup(spark, s"$data/sf0.1", sf, Sizes.NearDupDocs, Sizes.NearDupVecs, seed)
    Sizes.NearDupQueries.foreach { q =>
      Jvm.dropCaches(spark)
      run.op(q)(trace(s"ops.$q")(Workloads.runQuery(spark, sf, out, q))).foreach { case (_, wall) =>
        meter.drain(spark.sparkContext)
        metric(s"ops.$q.wall_s", wall, "s")
        metric(s"ops.$q.task_s", meter(s"ops.$q").taskMs / 1e3, "s")
        metric(s"ops.$q.shuffle_records", meter(s"ops.$q").shuffleWriteRecords.toDouble, "count")
        metric(s"ops.$q.pairs_out", spark.read.parquet(s"$out/$q").count().toDouble, "count")
      }
      run.oracle(q, s"$out/$q")
    }
    Jvm.dropCaches(spark)

    // --- the common counter set per layer ----------------------------------
    meter.drain(spark.sparkContext)
    Layers.foreach { l =>
      val m = meter(l)
      metric(s"$l.wall_s", trace.seconds(l), "s")
      metric(s"$l.task_s", m.taskMs / 1e3, "s")
      metric(s"$l.jobs", m.jobs.toDouble, "count")
      metric(s"$l.stages", m.stages.toDouble, "count")
      // the chunker and the extractors are narrow maps: no shuffle to report
      if (l != "build" && l != "extract") {
        metric(s"$l.shuffle_write_mb", mb(m.shuffleWriteBytes), "MiB")
        metric(s"$l.shuffle_records", m.shuffleWriteRecords.toDouble, "count")
      }
      metric(s"$l.task_skew", m.taskSkew, "ratio")
    }
    val failedTasks = meter.failedTasks
    run.check("no_failed_tasks", failedTasks == 0, s"$failedTasks failed tasks")
    // one summary line per span name: counters are kept per name
    trace.all.map(_.name).distinct.foreach { name =>
      val m = meter(name)
      System.err.println(f"[perfbench] span $name%-24s ${trace.seconds(name)}%8.2fs jobs=${m.jobs}%4d " +
        f"stages=${m.stages}%4d skipped=${m.skippedStages}%4d task=${m.taskMs / 1e3}%7.2fs " +
        f"shuffle=${mb(m.shuffleWriteBytes)}%7.2fMiB spill=${mb(m.spillBytes)}%.2fMiB")
    }
  }
}
