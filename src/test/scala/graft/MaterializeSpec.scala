package graft

import graft.core._
import graft.extract.Extract
import graft.link.Linker
import graft.materialize.GraphTables
import org.apache.spark.sql.functions._

/** Persist-to-graph semantics (mirrors reference
  * tests/builder/test_build_pipeline.py:79-145 and the invariants at
  * build_pipeline.py:249-308). */
class MaterializeSpec extends SparkSpec {

  test("Ids.of (scala twin) is byte-identical to Ids.idCol (codegen md5)") {
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val rows = Seq(("doc-1", "alpha corp"), ("doc-2", "βeta λabs"), ("d", ""))
      .toDF("doc", "name")
    val got = rows.select(
      graft.core.Ids.idCol(lit("node"), col("doc"), col("name"), lit("0")).as("id"),
      col("doc"), col("name")).collect()
    got.foreach { r =>
      assert(r.getString(0) ===
        graft.core.Ids.nodeId(r.getString(1), r.getString(2), 0))
    }
  }
  import spark.implicits._

  // fixture ported from the reference's persist test: two logs, repeated
  // "node 2", one edge, two properties on "node 1"
  val logs = Seq(
    ExtractionLog("d1", 0, is_visual = false,
      nodes = Seq(NodeExt("node 1", "desc one"), NodeExt("node 2", "desc two")),
      edges = Seq(EdgeExt("node 1", "node 2", "loves")),
      properties = Seq(PropertyExt("node 1", Seq("kind", "smart"))),
      main_visual_entity = ""),
    ExtractionLog("d1", 1, is_visual = false,
      nodes = Seq(NodeExt("node 2", "desc two later")),
      edges = Seq(),
      properties = Seq(),
      main_visual_entity = ""))

  lazy val mat = {
    val ds = spark.createDataset(logs)
    GraphTables.build(ds, Linker.canonicalMappingResult(ds).mapping)
  }

  test("node dedup by (doc, lower(name)) with first-writer-wins description") {
    val nodes = mat.nodes.collect()
    assert(nodes.length === 2)
    val n2 = nodes.find(_.name == "node 2").get
    assert(n2.description === "desc two") // chunk 0 wins over chunk 1
    assert(n2.metadata.map(_.chunk_id).sorted === Seq(0, 1))
  }

  test("edge endpoint with no node row is dropped AND counted; its triple is not emitted") {
    // "ghost" appears only as an edge target: the mapping covers it (edge
    // mentions feed the mapping) but no node row exists — the reference
    // drops such edges and counts them (build_pipeline.py:283-284)
    val ds = spark.createDataset(Seq(
      ExtractionLog("d9", 0, is_visual = false,
        nodes = Seq(NodeExt("anchor", "a node")),
        edges = Seq(EdgeExt("anchor", "ghost", "points at")),
        properties = Seq(), main_visual_entity = "")))
    val m = GraphTables.build(ds, Linker.canonicalMappingResult(ds).mapping)
    assert(m.edges.count() === 0)
    assert(m.droppedEdges.count() === 1)
    val d = m.droppedEdges.collect().head
    assert(d.getAs[String]("source") === "anchor" && d.getAs[String]("target") === "ghost")
    assert(m.triples.count() === 0) // triples agree with the edges table
  }

  test("one edge, two properties, no dropped edges") {
    assert(mat.edges.count() === 1)
    assert(mat.properties.count() === 2)
    assert(mat.droppedEdges.count() === 0)
    assert(mat.triples.collect().map(r => (r.getString(1), r.getString(2), r.getString(3))).toSet
      === Set(("node 1", "loves", "node 2")))
  }

  test("self-loop edges become properties (build_pipeline.py:286-291)") {
    val selfLogs = Seq(ExtractionLog("d1", 0, is_visual = false,
      nodes = Seq(NodeExt("acme corp", "a company")),
      edges = Seq(EdgeExt("acme corp", "Acme Corp", "rebranded itself")),
      properties = Seq(), main_visual_entity = ""))
    val ds = spark.createDataset(selfLogs)
    val m = GraphTables.build(ds, Linker.canonicalMappingResult(ds).mapping)
    assert(m.edges.count() === 0)
    assert(m.triples.count() === 0)
    val props = m.properties.collect()
    assert(props.length === 1)
    assert(props.head.description === "rebranded itself")
  }

  test("edges with an unresolvable endpoint are dropped and counted") {
    val ds = spark.createDataset(Seq(ExtractionLog("d1", 0, is_visual = false,
      nodes = Seq(NodeExt("known", "desc")),
      edges = Seq(EdgeExt("known", "ghost entity", "mentions")),
      properties = Seq(), main_visual_entity = "")))
    // mapping that only knows "known" (chunk_id -1 = doc-level row)
    val mapping = Seq(("d1", -1, "known", "known", "known"))
      .toDF("doc_id", "chunk_id", "name_norm", "canonical_norm", "canonical")
    val m = GraphTables.build(ds, mapping)
    assert(m.edges.count() === 0)
    assert(m.droppedEdges.count() === 1)
  }

  test("undirected edge dedup: {frm,to}+description counted once, metadata merged") {
    val ds = spark.createDataset(Seq(
      ExtractionLog("d1", 0, is_visual = false,
        nodes = Seq(NodeExt("a", "x"), NodeExt("b", "y")),
        edges = Seq(EdgeExt("a", "b", "knows")), properties = Seq(), main_visual_entity = ""),
      ExtractionLog("d1", 1, is_visual = false,
        nodes = Seq(NodeExt("a", "x"), NodeExt("b", "y")),
        edges = Seq(EdgeExt("b", "a", "knows")), properties = Seq(), main_visual_entity = "")))
    val m = GraphTables.build(ds, Linker.canonicalMappingResult(ds).mapping)
    val edges = m.edges.collect()
    assert(edges.length === 1)
    assert(edges.head.metadata.length === 2)
    // triples stay directional
    assert(m.triples.count() === 2)
  }

  test("ambiguous bare mention resolves PER CHUNK by its own context (node_matcher.py:199-296)") {
    // one doc, two Timmermans; chunk 2 and 3 each mention bare "Timmermans"
    // in different contexts — assignments must differ per chunk
    val ds = spark.createDataset(Seq(
      ExtractionLog("d1", 0, is_visual = false,
        nodes = Seq(NodeExt("Lennart Timmermans", "lennart timmermans works on search infrastructure")),
        edges = Seq(), properties = Seq(), main_visual_entity = ""),
      ExtractionLog("d1", 1, is_visual = false,
        nodes = Seq(NodeExt("Patrick Timmermans", "patrick timmermans leads the finance team")),
        edges = Seq(), properties = Seq(), main_visual_entity = ""),
      ExtractionLog("d1", 2, is_visual = false,
        nodes = Seq(NodeExt("Timmermans", "timmermans works on search infrastructure"), NodeExt("Acme", "a firm")),
        edges = Seq(EdgeExt("Timmermans", "Acme", "advises")), properties = Seq(), main_visual_entity = ""),
      ExtractionLog("d1", 3, is_visual = false,
        nodes = Seq(NodeExt("Timmermans", "timmermans leads the finance team"), NodeExt("Acme", "a firm")),
        edges = Seq(EdgeExt("Acme", "Timmermans", "employs")), properties = Seq(), main_visual_entity = "")))
    val mapping = Linker.canonicalMappingResult(ds).mapping
    // chunk-level override rows exist for the ambiguous bare mention
    val overrides = mapping.filter(col("chunk_id") >= 0 && col("name_norm") === "timmermans")
      .collect().map(r => r.getAs[Int]("chunk_id") -> r.getAs[String]("canonical_norm")).toMap
    assert(overrides(2) === "lennart timmermans")
    assert(overrides(3) === "patrick timmermans")
    // and the triples carry the per-chunk canonicals
    val m = GraphTables.build(ds, mapping)
    val trip = m.triples.collect()
      .map(r => (r.getAs[String]("subj"), r.getAs[String]("pred"), r.getAs[String]("obj"))).toSet
    assert(trip === Set(
      ("Lennart Timmermans", "advises", "Acme"),
      ("Acme", "employs", "Patrick Timmermans")))
  }

  test("visual main entity marks the node is_visual") {
    val ds = spark.createDataset(Seq(ExtractionLog("d1", 100001, is_visual = true,
      nodes = Seq(NodeExt("Figure Hero", "caption"), NodeExt("Other", "caption")),
      edges = Seq(EdgeExt("Figure Hero", "Other", "is depicted with")),
      properties = Seq(), main_visual_entity = "Figure Hero")))
    val m = GraphTables.build(ds, Linker.canonicalMappingResult(ds).mapping)
    val viz = m.nodes.collect().filter(_.is_visual).map(_.name)
    assert(viz.toSeq === Seq("Figure Hero"))
  }

  test("figure-derived provenance carries media_ref/page/type (MetadataVisual analog)") {
    val vLogs = Seq(
      ExtractionLog("d1", Extract.VisualChunkBase + 7, is_visual = true,
        nodes = Seq(NodeExt("chart entity", "entity from a figure")),
        edges = Seq(), properties = Seq(), main_visual_entity = "chart entity",
        media_ref = "img://doc-d1/fig-7.png", visual_kind = Kinds.Figure),
      ExtractionLog("d1", 0, is_visual = false,
        nodes = Seq(NodeExt("text entity", "plain text entity")),
        edges = Seq(EdgeExt("chart entity", "text entity", "appears beside")),
        properties = Seq(), main_visual_entity = ""))
    val ds = spark.createDataset(vLogs)
    val m = GraphTables.build(ds, Linker.canonicalMappingResult(ds).mapping)
    val byName = m.nodes.collect().map(n => n.name -> n).toMap
    val vis = byName("chart entity").metadata.flatMap(_.visual)
    assert(vis.nonEmpty)
    assert(vis.head.media_ref === "img://doc-d1/fig-7.png")
    assert(vis.head.page_num === 7)
    assert(vis.head.visual_type === Kinds.Figure)
    // text-sourced provenance carries no visual struct
    assert(byName("text entity").metadata.forall(_.visual.isEmpty))
    // the cross-sourced edge keeps per-mention provenance: the text-chunk
    // mention is non-visual
    val edge = m.edges.collect().head
    assert(edge.metadata.exists(_.visual.isEmpty))
  }
}
