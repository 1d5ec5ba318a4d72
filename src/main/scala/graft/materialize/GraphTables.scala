package graft.materialize

import graft.core._
import graft.extract.Extract
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Persist-to-graph (reference eschergraph/builder/build_pipeline.py:249-308):
  * canonicalized extraction logs → nodes / edges / properties tables and the
  * (subj, pred, obj) triple parity surface.
  *
  * Semantics preserved from the reference:
  *   - node dedup by (document_id, lower(name)) with first-writer-wins
  *     description (graph/node.py:90-105; deterministic "first" = min
  *     chunk_id, then min description);
  *   - edges whose endpoint failed to resolve are dropped but counted
  *     (build_pipeline.py:283-284);
  *   - self-loop edges become properties on the node
  *     (build_pipeline.py:286-291);
  *   - undirected edge equality {frm,to}+description for dedup
  *     (graph/edge.py:87-104) — triples stay directional as extracted
  *     (build_log.py:18-23);
  *   - is_visual set when the node is the main entity of a visual log
  *     (build_pipeline.py:253-271).
  *
  * Everything is plain DataFrame ops: the joins key on (doc_id, name_norm)
  * so Catalyst plans hash joins partitioned per document — a globally hot
  * entity name never concentrates on one partition. AQE handles residual
  * skew from giant single documents.
  */
object GraphTables {

  /** `cleanup` frees the three internal materializations (the node map,
    * the endpoint-resolution join and the endpoint-join cut) — call
    * once the downstream table checkpoints exist, `droppedEdges`' too: it
    * is two filters over those cuts. Safe at any point: they are PERSISTS
    * with intact lineage, so a late consumer recomputes instead of
    * failing. */
  case class Materialized(
      nodes: Dataset[NodeRow],
      edges: Dataset[EdgeRow],
      properties: Dataset[PropertyRow],
      triples: DataFrame, // (doc_id, subj, pred, obj) distinct, canonical
      droppedEdges: DataFrame, // (doc_id, chunk_id, source, target, relationship)
      cleanup: () => Unit = () => ())

  /** Provenance struct incl. visual origin (reference MetadataVisual,
    * persistence/metadata.py:10-22): mentions sourced from a table/figure
    * span carry (media_ref, page_num = span offset, visual_type); text
    * mentions carry a null visual field. Requires `media_ref` /
    * `visual_kind` columns in scope. */
  private def metaStruct =
    struct(col("doc_id").as("document_id"), col("chunk_id"),
      when(col("media_ref") =!= "",
        struct(col("media_ref"),
          (col("chunk_id") - Extract.VisualChunkBase).as("page_num"),
          col("visual_kind").as("visual_type"))).as("visual"))

  // ids are codegen built-ins (Ids.idCol), not UDFs — see core/Schema.scala
  private def nodeIdCol(doc: Column, nameNorm: Column): Column =
    Ids.idCol(lit("node"), doc, nameNorm, lit("0"))
  private def edgeIdCol(a: Column, b: Column, d: Column): Column =
    Ids.idCol(lit("edge"), a, b, d)
  private def propIdCol(n: Column, d: Column): Column =
    Ids.idCol(lit("prop"), n, d)

  /** Resolve a name column against the two-tier mapping: per-chunk
    * override (ambiguous mentions only) wins over the doc-level default.
    * Adds `<prefix>_canon_norm` / `<prefix>_canon` (null when the name is
    * unknown to the mapping). Input df must carry doc_id + chunk_id. */
  private def resolveNames(df: DataFrame, mapping: DataFrame,
                           nameCol: String, prefix: String): DataFrame = {
    val d = mapping.filter(col("chunk_id") === -1).select(
      col("doc_id").as(s"${prefix}_dd"), col("name_norm").as(s"${prefix}_dn"),
      col("canonical_norm").as(s"${prefix}_dcn"), col("canonical").as(s"${prefix}_dc"))
    val c = mapping.filter(col("chunk_id") =!= -1).select(
      col("doc_id").as(s"${prefix}_cd"), col("chunk_id").as(s"${prefix}_cc"),
      col("name_norm").as(s"${prefix}_cn"),
      col("canonical_norm").as(s"${prefix}_ccn"), col("canonical").as(s"${prefix}_ccan"))
    df.join(d, df("doc_id") === col(s"${prefix}_dd") && df(nameCol) === col(s"${prefix}_dn"), "left")
      .join(c, df("doc_id") === col(s"${prefix}_cd") && df("chunk_id") === col(s"${prefix}_cc") &&
        df(nameCol) === col(s"${prefix}_cn"), "left")
      .withColumn(s"${prefix}_canon_norm", coalesce(col(s"${prefix}_ccn"), col(s"${prefix}_dcn")))
      .withColumn(s"${prefix}_canon", coalesce(col(s"${prefix}_ccan"), col(s"${prefix}_dc")))
      .drop(s"${prefix}_dd", s"${prefix}_dn", s"${prefix}_dcn", s"${prefix}_dc",
        s"${prefix}_cd", s"${prefix}_cc", s"${prefix}_cn", s"${prefix}_ccn", s"${prefix}_ccan")
  }

  def build(logs: Dataset[ExtractionLog], mapping: DataFrame): Materialized =
    Materialize.Scope.open(scope => tables(logs, mapping).copy(cleanup = () => scope.close()))

  /** The tables; their materializations register with the current scope. */
  private def tables(logs: Dataset[ExtractionLog], mapping: DataFrame): Materialized = {
    val spark = logs.sparkSession
    import spark.implicits._

    // ---- node mentions → nodes ---------------------------------------
    val mentions = logs
      .select(col("doc_id"), col("chunk_id"), col("is_visual"),
        col("media_ref"), col("visual_kind"),
        lower(trim(col("main_visual_entity"))).as("mv"), explode(col("nodes")).as("n"))
      .select(col("doc_id"), col("chunk_id"), col("media_ref"), col("visual_kind"),
        lower(trim(col("n.name"))).as("name_norm"),
        trim(col("n.name")).as("name_raw"),
        col("n.description").as("description"),
        // coalesce: externally-persisted logs may carry is_visual=true with
        // a null main_visual_entity — `true && null` is null, and max() over
        // all-null viz would yield a null non-nullable NodeRow.is_visual
        coalesce(col("is_visual") && col("mv") === lower(trim(col("n.name"))),
          lit(false)).as("viz"))
    val mentionsCanon = resolveNames(mentions, mapping, "name_norm", "m")
      .select(col("doc_id"), col("chunk_id"), col("media_ref"), col("visual_kind"),
        coalesce(col("m_canon_norm"), col("name_norm")).as("canonical_norm"),
        // display fallback for mapping misses (possible only with an
        // external partial mapping) keeps the ORIGINAL casing, matching the
        // in-pipeline display = min(raw) semantics — not the lowercased norm
        coalesce(col("m_canon"), col("name_raw")).as("canonical"),
        col("description"), col("viz"))

    val nodesPlan = mentionsCanon
      .groupBy(col("doc_id"), col("canonical_norm"))
      .agg(
        min(col("canonical")).as("name"),
        min(struct(col("chunk_id"), col("description"))).as("first_desc"),
        max(col("viz")).as("is_visual"),
        array_sort(collect_set(metaStruct)).as("metadata"))
      .select(
        nodeIdCol(col("doc_id"), col("canonical_norm")).as("id"),
        col("name"),
        col("first_desc.description").as("description"),
        lit(0).as("level"),
        col("is_visual"),
        lit("").as("community_id"),
        array().cast("array<string>").as("child_ids"),
        col("metadata"),
        col("doc_id"), col("canonical_norm"))
    // materialized once: consumed as the nodes table AND as the endpoint
    // resolution map for edges/properties. Independent of the edge-mention
    // resolution below — the two materializations overlap (Par).
    val nodesF = Par.fork(spark)(
      Par.labelled(spark, "graft-mat:nodes_map")(Materialize.stageCut(nodesPlan)))

    lazy val nodes = Par.await(nodesF)
    lazy val nodeKeys = nodes.select(col("doc_id").as("nk_doc"), col("canonical_norm").as("nk_name"),
      col("id").as("node_id"), col("name").as("node_name"))

    // ---- edge mentions: resolve endpoints, split self-loops ----------
    val edgeMentions = logs
      .select(col("doc_id"), col("chunk_id"), col("media_ref"), col("visual_kind"),
        explode(col("edges")).as("e"))
      .select(col("doc_id"), col("chunk_id"), col("media_ref"), col("visual_kind"),
        col("e.source").as("source"), col("e.target").as("target"),
        col("e.relationship").as("relationship"),
        lower(trim(col("e.source"))).as("src_norm"), lower(trim(col("e.target"))).as("dst_norm"))

    // materialized once: dropped/triples/edges all branch from this join
    val resolved = Par.labelled(spark, "graft-mat:edge_resolve")(Materialize.stageCut(resolveNames(
        resolveNames(edgeMentions, mapping, "src_norm", "s"), mapping, "dst_norm", "d")
      .withColumnRenamed("s_canon_norm", "src_canon_norm")
      .withColumnRenamed("s_canon", "src_canon")
      .withColumnRenamed("d_canon_norm", "dst_canon_norm")
      .withColumnRenamed("d_canon", "dst_canon")))

    val mappingMissDropped = resolved
      .filter(col("src_canon_norm").isNull || col("dst_canon_norm").isNull)
      .select(col("doc_id"), col("chunk_id"), col("source"), col("target"), col("relationship"))

    val ok = resolved.filter(col("src_canon_norm").isNotNull && col("dst_canon_norm").isNotNull)

    // self-loops → properties (reference build_pipeline.py:286-291)
    val selfLoops = ok.filter(col("src_canon_norm") === col("dst_canon_norm"))
      .select(col("doc_id"), col("chunk_id"), col("media_ref"), col("visual_kind"),
        col("src_canon_norm").as("owner_norm"), col("relationship").as("prop_desc"))

    val realEdges = ok.filter(col("src_canon_norm") =!= col("dst_canon_norm"))

    // edges table: resolve to node ids, dedup on undirected {frm,to}+desc.
    // LEFT joins: an endpoint can resolve in the mapping (which covers edge
    // mentions) yet have no NODE row (built from node mentions only) —
    // such edges are dropped AND COUNTED below, per the reference contract
    // (build_pipeline.py:283-284), and their triples are not emitted.
    val srcNodes = nodeKeys.select(col("nk_doc").as("sn_doc"), col("nk_name").as("sn_name"), col("node_id").as("frm_id"))
    val dstNodes = nodeKeys.select(col("nk_doc").as("dn_doc"), col("nk_name").as("dn_name"), col("node_id").as("to_id"))
    val withBoth = realEdges
      .join(srcNodes, col("doc_id") === col("sn_doc") && col("src_canon_norm") === col("sn_name"), "left")
      .join(dstNodes, col("doc_id") === col("dn_doc") && col("dst_canon_norm") === col("dn_name"), "left")
    // stage-cut ONCE, slim: the `triples` and `edges` projections each
    // used to re-run the two endpoint joins from the resolved cache (two
    // concurrent consumers of a lazy plan = the whole join subtree twice);
    // this cuts the joins to a single run and both consumers read compact
    // rows (round-5 plan: 2x [resolved scan + 2 node-key joins]; now 1x +
    // two cheap cache scans). Persist without a count: the first
    // consumer to arrive fills the cache (block-level locking dedups the
    // concurrent computation). Not lazy: building the RDD runs the
    // adaptive plan's shuffle stages (the endpoint joins) right here, on
    // this thread, before the triples/edges0 consumers are forked; only
    // the final projection waits for them. Column-pruned to what the two
    // consumers and metaStruct read. Labelled for those shuffle jobs.
    // The rows whose endpoint has no node ride the same cut, with the
    // source/target names only they carry, so `droppedEdges` filters this
    // cut instead of re-running both joins in a second plan.
    val hasIds = col("frm_id").isNotNull && col("to_id").isNotNull
    val endpoints = Par.labelled(spark, "graft-mat:with_ids")(Materialize.stageCutLazy(withBoth
      .select(col("doc_id"), col("chunk_id"), col("media_ref"), col("visual_kind"),
        col("relationship"), col("src_canon"), col("dst_canon"),
        col("frm_id"), col("to_id"),
        when(!hasIds, col("source")).as("source"), when(!hasIds, col("target")).as("target"))))
    val withIds = endpoints.filter(hasIds)
    val droppedEdges = mappingMissDropped.unionByName(endpoints.filter(!hasIds)
      .select(col("doc_id"), col("chunk_id"), col("source"), col("target"), col("relationship")))

    // triples: directional, canonical, distinct — the parity surface;
    // built from the node-resolved edges so triples and edges agree
    val triples = withIds
      .select(col("doc_id"), col("src_canon").as("subj"),
        col("relationship").as("pred"), col("dst_canon").as("obj"))
      .distinct()

    val edges = withIds
      .withColumn("lo", least(col("frm_id"), col("to_id")))
      .withColumn("hi", greatest(col("frm_id"), col("to_id")))
      .groupBy(col("doc_id"), col("lo"), col("hi"), col("relationship"))
      .agg(
        min(struct(col("chunk_id"), col("frm_id"), col("to_id"))).as("first_dir"),
        array_sort(collect_set(metaStruct)).as("metadata"))
      .select(
        edgeIdCol(col("lo"), col("hi"), col("relationship")).as("id"),
        col("first_dir.frm_id").as("frm"),
        col("first_dir.to_id").as("to"),
        col("relationship").as("description"),
        col("metadata"))

    // ---- properties: extracted + self-loop conversions ----------------
    val propMentions = logs
      .select(col("doc_id"), col("chunk_id"), col("media_ref"), col("visual_kind"),
        explode(col("properties")).as("p"))
      .select(col("doc_id"), col("chunk_id"), col("media_ref"), col("visual_kind"),
        lower(trim(col("p.entity_name"))).as("owner_raw"),
        explode(col("p.properties")).as("prop_desc"))
    val propsCanon = resolveNames(propMentions, mapping, "owner_raw", "o")
      .filter(col("o_canon_norm").isNotNull) // J2: unknown owners are dropped
      .select(col("doc_id"), col("chunk_id"), col("media_ref"), col("visual_kind"),
        col("o_canon_norm").as("owner_norm"), col("prop_desc"))
      .union(selfLoops.select(col("doc_id"), col("chunk_id"), col("media_ref"), col("visual_kind"),
        col("owner_norm"), col("prop_desc")))

    val ownerNodes = nodeKeys.select(col("nk_doc").as("on_doc"), col("nk_name").as("on_name"), col("node_id"))
    val properties = propsCanon
      .join(ownerNodes, col("doc_id") === col("on_doc") && col("owner_norm") === col("on_name"))
      .groupBy(col("node_id"), col("prop_desc"))
      .agg(array_sort(collect_set(metaStruct)).as("metadata"))
      .select(
        propIdCol(col("node_id"), col("prop_desc")).as("id"),
        col("node_id"),
        col("prop_desc").as("description"),
        col("metadata"))

    Materialized(
      nodes.drop("doc_id", "canonical_norm").as[NodeRow],
      edges.as[EdgeRow],
      properties.as[PropertyRow],
      triples,
      droppedEdges)
  }
}
