package graft.pipeline

import graft.build.Chunker
import graft.community.Communities
import graft.core._
import graft.extract.{BoundedExec, Extract, SpanExtractor}
import graft.index.SearchIndex
import graft.io.Checkpoints
import graft.link.Linker
import graft.materialize.GraphTables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end KG build (the Spark equivalent of
  * eschergraph/graph/graph.py:237-273 + builder/build_pipeline.py:55-100):
  *
  *   read docs → Chunker (A1/A2/F1) → Extract L3 → Properties L4 → Visual
  *   L5/L6 → Linking (blocking J4 + union-find J5 + resolve L7/L11) →
  *   Materialize (J3/J1/J2, G1) → Communities (G2/G3) → Document node (G4)
  *   → search_index (G5) + documents registry.
  *
  * Every stage is Catalyst-planned Dataset/DataFrame work; the only typed
  * folds are the order-dependent chunk packing (groupByKey.flatMapGroups)
  * and the bounded-concurrency extraction clients (mapPartitions). When a
  * [[Checkpoints]] is supplied, each stage output persists to the work dir
  * and a killed build resumes after its last completed stage with
  * byte-identical results (all ids are deterministic).
  */
object BuildPipeline {

  case class BuildResult(
      chunks: DataFrame,
      logs: DataFrame,
      mapping: DataFrame,
      nodes: DataFrame, // all levels, community_id filled
      edges: DataFrame, // level-0 + community edges
      properties: DataFrame, // extracted + findings + keywords
      triples: DataFrame, // parity surface (doc_id, subj, pred, obj)
      documents: DataFrame,
      searchIndex: DataFrame,
      droppedEdges: DataFrame,
      // frees the build's caches (the no-workdir stage cuts and anything
      // a layer left cached); lineage stays intact, so a late consumer
      // recomputes instead of failing. Call once the outputs are persisted
      // (the streaming path calls it per micro-batch).
      cleanup: () => Unit = () => ())

  /** `docTags`: optional sidecar `(doc_id, tags: map<string,string>)` —
    * the input table keeps the canonical (doc_id, spans) shape, tags ride
    * separately and land on the documents registry (reference
    * Document.tags, persistence/document.py + simple_repository.py:629-648). */
  def run(docs: Dataset[DocRow], extractor: SpanExtractor,
          checkpoints: Option[Checkpoints] = None,
          docTags: Option[DataFrame] = None): BuildResult =
    Materialize.Scope.open { scope =>
      build(docs, extractor, checkpoints, docTags).copy(cleanup = () => scope.close())
    }

  /** The build; every cache it makes registers with the current scope —
    * a long-running stream would otherwise accumulate ~9 cached RDDs per
    * micro-batch until driver GC. */
  private def build(docs: Dataset[DocRow], extractor: SpanExtractor,
                    checkpoints: Option[Checkpoints],
                    docTags: Option[DataFrame]): BuildResult = {
    val spark = docs.sparkSession
    import spark.implicits._

    // The build's session tuning (no corpus-sized driver broadcasts, AQE
    // shuffled hash joins on the doc-scoped keys, hash-based provenance
    // aggs) lives in graft.core.Sessions.builder — set once at session
    // construction, never mutated here: a build must not leak conf changes
    // into the caller's session (queries run AFTER a build would silently
    // inherit build-scoped tuning). On a foreign session, warn instead of
    // mutating: the rationale for each setting is documented on Sessions.
    if (spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold").forall(_ != "-1"))
      System.err.println("[graft] note: this session lacks the engine tuning from " +
        "graft.core.Sessions (autoBroadcastJoinThreshold != -1); corpus-sized " +
        "intermediates may be driver-broadcast — build sessions with Sessions.builder")

    // Without a work dir, a stage is materialized (a stage cut) only when
    // >= 2 downstream consumers would otherwise recompute its lineage (the
    // reference materializes its BuildLog list for the same reason);
    // single-consumer stages stay lazy so Catalyst fuses them into their
    // consumer — fewer jobs, less fixed overhead per build. With a work dir
    // every stage persists to parquet (that is the resume contract).
    //
    // A persisted cut, NOT localCheckpoint: a local checkpoint TRUNCATES
    // lineage, so its correctness depends on every block staying fetchable
    // for the build's lifetime. On a multi-executor cluster that is not a
    // safe assumption — concretely, Spark 4.1 cannot serve a remote fetch
    // of an EMPTY deserialized cached partition ("[INTERNAL_ERROR_STORAGE]
    // Empty buffer received for non empty block"), so any AQE-coalesced
    // stage output with empty partitions read from another executor threw
    // CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND (observed at 4x8-core executors;
    // invisible in local mode, which never fetches remotely). A persisted
    // stage keeps its lineage: a missed block silently RECOMPUTES the
    // partition from the (deterministic, seeded) upstream instead of
    // crashing or corrupting — block availability can cost time, never
    // correctness.

    // The input table has THREE consumers (chunk packing, visual-span
    // routing inside the logs stage, full-text assembly for doc_meta) —
    // without a cut each re-runs the source (for the synthetic corpus:
    // three full generation passes; for a real source: three scans).
    // LAZY persist: the first consumer to touch a partition computes it,
    // the block manager's per-partition lock shares it with the others,
    // and a fully-resumed checkpointed build never materializes it at
    // all. Freed with the other stage cuts by BuildResult.cleanup.
    val docsC = Materialize.stageCutLazy(docs.toDF()).as[DocRow]
    // label the materializing jobs so the UI and graft.app.Profile
    // attribute stages to pipeline stages by name
    def stage(name: String, shared: Boolean = true)(compute: => DataFrame): DataFrame =
      Par.labelled(spark, s"graft-stage:$name") {
        checkpoints match {
          case Some(cp) => cp.stage(name)(compute)
          case None =>
            if (shared) Materialize.stageCut(compute) else compute
        }
      }

    // Overlap independent stages (graft.core.Par: concurrent job
    // submission — how independent DAG branches overlap on a real cluster).
    def fork[T](body: => T): scala.concurrent.Future[T] = Par.fork(spark)(body)
    def await[T](f: scala.concurrent.Future[T]): T = Par.await(f)

    // --- per-doc keywords + summary (L1/L2) --------------------------------
    // Independent of the chunk→extract→link chain (it reads only the raw
    // docs) — runs concurrently with ALL of it; first consumer is the
    // community layer, which awaits it.
    // (no per-doc token count here: the documents registry sums the
    // CHUNKS' token_num — a doc-level estimateTokens over the full text
    // would be an O(text) pass per document whose result nothing reads)
    val docMetaF = fork(stage("doc_meta") {
      Chunker.fullTexts(docsC).mapPartitions { it =>
        BoundedExec.mapBounded(it, extractor.maxConcurrency) { case (docId, txt) =>
          (docId, extractor.keywords(txt), extractor.summary(txt))
        }
      }.toDF("doc_id", "keywords", "summary")
    })

    // --- chunking ---------------------------------------------------------
    val chunks = stage("chunks")(Chunker.chunks(docsC).toDF())
    val chunksT = chunks.as[Chunk]

    // --- extraction (L3..L6) ------------------------------------------------
    val logs = stage("logs") {
      val raw = Extract.rawLogs(chunksT, Chunker.visualSpans(docsC), extractor)
      Extract.withProperties(raw, extractor).toDF()
    }
    val logsT = logs.as[ExtractionLog]

    // The linker, materializer and community layers are each built by the
    // first stage body that needs them (OnDemand): a stage that resumes
    // from the work dir never runs its body, so a fully resumed build
    // builds none of their internal cuts, and frees only what it built.

    // --- linking + canonicalization (J4/J5/L7/L11) --------------------------
    val link = new OnDemand(Linker.canonicalMappingResult(logsT))(_.cleanup)
    val mapping = stage("mapping")(link.get.mapping)
    // the mapping checkpoint exists now — free the linker's internal
    // materializations (names/resolved/ambiguous) so they stop competing
    // for executor memory with the materialize/community stages
    link.free()

    // --- materialize level-0 graph (G1) -------------------------------------
    // GraphTables.build materializes the shared resolution lineage once;
    // the five table projections are then independent — materialize them
    // concurrently. dropped_edges is cut with them: it filters the
    // materializer's own cuts, which mat.free() releases below.
    val mat = new OnDemand(GraphTables.build(logsT, mapping))(_.cleanup)
    // nodes0 is ALREADY materialized inside GraphTables (endpoint-resolution
    // map) — a second cut would copy it for nothing, so the stage is lazy
    // without a work dir (and persists normally with one).
    val nodes0F = fork(stage("nodes0", shared = false)(mat.get.nodes.toDF()))
    val edges0F = fork(stage("edges0")(mat.get.edges.toDF()))
    val props0F = fork(stage("properties0")(mat.get.properties.toDF()))
    val triplesF = fork(stage("triples")(mat.get.triples))
    val droppedF = fork(stage("dropped_edges")(mat.get.droppedEdges))
    val (nodes0, edges0, props0, triples, dropped) =
      (await(nodes0F), await(edges0F), await(props0F), await(triplesF), await(droppedF))

    // --- community + document layers (G2/G3/G4) -----------------------------
    val docMeta = await(docMetaF)
    val layer = new OnDemand(Communities.build(
      nodes0.as[NodeRow], edges0.as[EdgeRow], props0.as[PropertyRow],
      docMeta.select(col("doc_id"), col("keywords")),
      docMeta.select(col("doc_id"), col("summary"))))(_.cleanup)

    // the three final tables derive from the SAME materialized membership —
    // independent of each other.
    //
    // Without a work dir, the edges/properties stages materialize ONLY
    // the community-layer part and return a LAZY union with the already-
    // cached level-0 stage (edges0/props0): the round-5 stages re-copied
    // every level-0 byte into a second cache just to append the (small)
    // community rows — pure byte duplication a union-of-caches avoids
    // (consumers re-scan two caches, a narrow zero-shuffle read). The
    // nodes stage stays a full materialization: its level-0 half is the
    // n0 ⋈ membership JOIN (real work many downstream consumers read).
    // With a work dir every stage persists whole, as before (resume
    // contract unchanged).
    def unionStage(name: String)(base: DataFrame)(part: => DataFrame): DataFrame =
      checkpoints match {
        case Some(_) => stage(name)(base.unionByName(part))
        case None =>
          base.unionByName(Par.labelled(spark, s"graft-stage:$name-part")(Materialize.stageCut(part)))
      }
    val nodesF = fork(stage("nodes") {
      val l = layer.get
      l.nodesWithCommunity.unionByName(l.communityNodes).unionByName(l.docNodes)
    })
    val edgesF = fork(unionStage("edges")(edges0)(layer.get.communityEdges))
    val propertiesF = fork(unionStage("properties")(props0) {
      layer.get.communityProperties.unionByName(layer.get.docProperties)
    })
    val (nodes, edges, properties) = (await(nodesF), await(edgesF), await(propertiesF))
    // all downstream tables are checkpointed (or derive from checkpoints) —
    // free the materialize/community internals
    mat.free()
    layer.free()

    // --- documents registry (S6) ---------------------------------------------
    val documents = stage("documents", shared = false) {
      val chunkStats = chunks.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("chunk_num"), sum(col("token_num")).as("token_num"))
      val base = docMeta.select(col("doc_id")).join(chunkStats, Seq("doc_id"), "left")
      val withTags = docTags match {
        case Some(t) =>
          base.join(t.select(col("doc_id"), col("tags")), Seq("doc_id"), "left")
        case None => base.withColumn("tags", lit(null).cast("map<string,string>"))
      }
      withTags.select(
        Ids.idCol(lit("doc"), col("doc_id")).as("id"),
        col("doc_id").as("name"),
        coalesce(col("chunk_num"), lit(0L)).cast("int").as("chunk_num"),
        coalesce(col("token_num"), lit(0L)).cast("int").as("token_num"),
        coalesce(col("tags"), map().cast("map<string,string>")).as("tags"))
    }

    // --- search index (G5) ----------------------------------------------------
    val searchIndex = stage("search_index", shared = false)(SearchIndex.build(nodes, edges, properties))

    BuildResult(chunks, logs, mapping, nodes, edges, properties, triples,
      documents, searchIndex, dropped)
  }

  /** A layer built by the first caller of [[get]], on any thread; [[free]]
    * runs its cleanup only if it was built. */
  private final class OnDemand[T](make: => T)(cleanup: T => () => Unit) {
    private var built: Option[T] = None
    def get: T = synchronized(built.getOrElse { val t = make; built = Some(t); t })
    def free(): Unit = synchronized(built).foreach(cleanup(_)())
  }

  /** Parity metric: precision / recall of distinct (doc_id, subj, pred, obj)
    * vs an expected triple set (BASELINE.json: P/R >= 0.95). */
  def parity(got: DataFrame, expected: DataFrame): (Double, Double) = {
    val g = got.select("doc_id", "subj", "pred", "obj").distinct().cache()
    val e = expected.select("doc_id", "subj", "pred", "obj").distinct().cache()
    try {
      val inter = g.intersect(e).count().toDouble
      val gc = g.count().toDouble
      val ec = e.count().toDouble
      (if (gc == 0) 0.0 else inter / gc, if (ec == 0) 0.0 else inter / ec)
    } finally {
      // deterministic release — a verify loop calling parity() per round
      // would otherwise pin two cached tables per call for the session
      Seq(g, e).foreach(_.unpersist(blocking = false))
    }
  }
}
