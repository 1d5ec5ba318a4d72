package graft

import graft.functions.TextFns
import graft.query.Search
import org.apache.spark.sql.functions._

/** Retrieve semantics vs the reference (quick_search.py:180-209): results
  * are score-ordered and the filter BREAKS at the first below-threshold
  * row — a later row with a passing score is still dropped. */
class SearchSpec extends SparkSpec {
  import spark.implicits._

  private def indexRow(id: String, text: String, level: Int = 0) =
    (id, text, "node", level, "doc-1", TextFns.embed(text))

  test("prefix-break: rows after the first below-threshold score are dropped") {
    // query "alpha beta" → scores: "alpha beta"=1.0, "alpha"≈0.7, "zzz"=0,
    // "beta"≈0.7 — score order: [1.0, .7, .7, 0]; all pass except the last
    // → no break before passing rows
    val idx = Seq(
      indexRow("a", "alpha beta"),
      indexRow("b", "alpha"),
      indexRow("c", "zzz"),
      indexRow("d", "beta")
    ).toDF("id", "text", "type", "level", "document_id", "embedding")
    val hits = Search.retrieve(idx, "alpha beta", level = 0, topN = 10, threshold = 0.1)
      .select("id").as[String].collect().toSet
    assert(hits === Set("a", "b", "d"))
  }

  test("threshold prunes the score-ordered suffix (break ≡ filter on ordered lists)") {
    // the reference breaks at the first below-threshold row of a
    // score-DESC list — failures are always a suffix, so the observable
    // contract is: exactly the above-threshold prefix survives
    val idx = Seq(
      indexRow("a", "alpha beta"),
      indexRow("b", "alpha"),
      indexRow("d", "beta")
    ).toDF("id", "text", "type", "level", "document_id", "embedding")
    val strict = Search.retrieve(idx, "alpha beta", level = 0, topN = 10, threshold = 0.9)
      .select("id").as[String].collect().toSet
    assert(strict === Set("a"))
  }

  test("level + document filters select the right index slice") {
    val idx = Seq(
      indexRow("n0", "alpha", level = 0),
      indexRow("n1", "alpha", level = 1)
    ).toDF("id", "text", "type", "level", "document_id", "embedding")
    assert(Search.retrieve(idx, "alpha", 1, 10, 0.0).select("id").as[String].collect().toSeq === Seq("n1"))
    assert(Search.retrieve(idx, "alpha", 0, 10, 0.0, docIds = Seq("doc-2")).count() === 0)
  }

  test("Q3 visuals selection: visual-provenance hits surface their visual parent nodes") {
    import graft.core._
    import graft.extract.Extract
    import graft.index.SearchIndex
    import graft.link.Linker
    import graft.materialize.GraphTables
    // a figure log whose main entity is visual + a plain-text log
    val logs = spark.createDataset(Seq(
      ExtractionLog("d1", Extract.VisualChunkBase + 3, is_visual = true,
        nodes = Seq(NodeExt("Revenue Chart", "quarterly revenue trend figure")),
        edges = Seq(EdgeExt("Revenue Chart", "Finance Team", "is maintained by")),
        properties = Seq(), main_visual_entity = "Revenue Chart",
        media_ref = "img://d1/fig-3.png", visual_kind = Kinds.Figure),
      ExtractionLog("d1", 0, is_visual = false,
        nodes = Seq(NodeExt("Finance Team", "the finance department staff")),
        edges = Seq(), properties = Seq(), main_visual_entity = "")))
    val m = GraphTables.build(logs, Linker.canonicalMappingResult(logs).mapping)
    val idx = SearchIndex.build(m.nodes.toDF(), m.edges.toDF(), m.properties.toDF())
    val hits = Search.quickSearch(idx, "quarterly revenue trend figure")
    val enriched = Search.enrich(hits, m.nodes.toDF(), m.edges.toDF(), m.properties.toDF())
    val visualsDf = Search.suitableVisuals(enriched, m.nodes.toDF(), m.edges.toDF(), m.properties.toDF())
    val visuals = visualsDf.collect()
    assert(visuals.map(_.getAs[String]("name")).toSet === Set("Revenue Chart"))
    assert(visuals.map(_.getAs[String]("media_ref")).toSet === Set("img://d1/fig-3.png"))
    // content round-trip: media_ref joins back to the spans table and
    // recovers the figure's text (reference MetadataVisual.content)
    val docs = spark.createDataset(Seq(DocRow("d1", Seq(
      Span(Kinds.Text, "intro text", "", 0),
      Span(Kinds.Figure, "quarterly revenue trend by region", "img://d1/fig-3.png", 1)))))
    val withContent = Search.visualContent(visualsDf, docs.toDF()).collect()
    assert(withContent.map(_.getAs[String]("content")).toSet
      === Set("quarterly revenue trend by region"))
    // node hits carry themselves as parent (reference quick_search.py:230)
    val nodeParents = enriched.filter(col("type") === "node" && col("subject") === "Revenue Chart")
      .select("parent_names").as[Seq[String]].collect()
    assert(nodeParents.forall(_ === Seq("Revenue Chart")))
  }
}
