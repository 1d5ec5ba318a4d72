package graft.community

import graft.core._
import graft.link.UnionFind
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Community layer + document node (reference
  * eschergraph/tools/community_builder.py:29-121 and
  * eschergraph/builder/build_pipeline.py:132-170).
  *
  * The reference runs Leiden (leidenalg C library) over the level-0 graph
  * and builds one level-1 community node per partition, then a level-2
  * document node whose children are the communities. No GraphFrames /
  * igraph jar exists here, and community *membership* does not affect the
  * triple parity surface (SURVEY.md §7.5), so we compute communities as
  * per-document connected components (the linker's per-group
  * [[graft.link.UnionFind]]) refined by greedy modularity moves
  * ([[LocalCommunities]]) in one doc-keyed cogroup, preserving the
  * reference's structural invariants that its tests assert
  * (tests/tools/test_community_builder.py:76-182):
  *   - partitions disjointly cover the level-0 nodes;
  *   - the level-1 edge set equals the set of community-crossing level-0
  *     edges (one per crossing source edge, description "");
  *   - community findings become properties of the community node;
  *   - the document node's children are the communities, communities point
  *     to the document node as parent.
  *
  * Deterministic community report (L8 stand-in): title = top-degree member
  * name + " network"; summary = sorted member names; findings = up to 5
  * member properties (sorted).
  */
object Communities {

  /** Null visual provenance for synthesized level-1/2 rows (Meta.visual). */
  private val VisualTpe = "struct<media_ref:string,page_num:int,visual_type:string>"

  case class CommunityLayer(
      nodesWithCommunity: DataFrame, // level-0 nodes with community_id filled
      communityNodes: DataFrame, // level-1 NodeRow-shaped
      communityEdges: DataFrame, // level-1 EdgeRow-shaped
      communityProperties: DataFrame, // PropertyRow-shaped (findings)
      docNodes: DataFrame, // level-2 NodeRow-shaped
      docProperties: DataFrame, // keyword properties of doc nodes
      cleanup: () => Unit = () => ()) // frees the membership cache

  // ids are codegen built-ins (Ids.idCol), not UDFs — see core/Schema.scala
  private def commIdUdf(doc: Column, minMember: Column): Column =
    Ids.idCol(lit("comm"), doc, minMember, lit("1"))
  private def docNodeIdUdf(doc: Column): Column = Ids.idCol(lit("docnode"), doc)
  private def propIdUdf(n: Column, d: Column): Column = Ids.idCol(lit("prop"), n, d)
  private def edgeIdUdf(a: Column, b: Column, d: Column): Column =
    Ids.idCol(lit("edge"), a, b, d)

  def build(
      nodes: Dataset[NodeRow],
      edges: Dataset[EdgeRow],
      properties: Dataset[PropertyRow],
      docKeywords: DataFrame, // (doc_id, keywords: array<string>)
      docSummaries: DataFrame // (doc_id, summary)
  ): CommunityLayer = Materialize.Scope.open { scope =>
    layer(nodes, edges, properties, docKeywords, docSummaries)
      .copy(cleanup = () => scope.close())
  }

  /** The layer; its membership cache registers with the current scope. */
  private def layer(nodes: Dataset[NodeRow], edges: Dataset[EdgeRow],
      properties: Dataset[PropertyRow], docKeywords: DataFrame,
      docSummaries: DataFrame): CommunityLayer = {
    val spark = nodes.sparkSession

    // NOT checkpointed: `nodes` arrives materialized (GraphTables checkpoints
    // it; the pipeline stage persists it), so this projection is free to
    // recompute per consumer — a checkpoint here would only add a barrier.
    val n0 = nodes.toDF()
      .withColumn("doc_id", element_at(col("metadata"), 1).getField("document_id"))

    // --- membership: ONE doc-keyed cogroup of (doc, node) with (doc, frm,
    // to). Per-doc graphs are bounded by doc size, so component formation
    // (the shared per-group UnionFind; undeclared edge endpoints bridge
    // but are not emitted) and the Leiden-style refinement inside each
    // component both run in one typed fold: each node leaves with the min
    // member of its sub-community, all the community id depends on.
    // Refinement is order-insensitive (sorted visits, integer weights,
    // sorted candidates), so per-group row order cannot change a row.
    import spark.implicits._
    val nodeRows = n0.select(col("doc_id"), col("id")).as[(String, String)].groupByKey(_._1)
    val edgeRows = edges.toDF().select(
      element_at(col("metadata"), 1).getField("document_id"), col("frm"), col("to"))
      .as[(String, String, String)].groupByKey(_._1)
    val minMembers = nodeRows.cogroup(edgeRows) {
      (doc: String, ns: Iterator[(String, String)], es: Iterator[(String, String, String)]) =>
        val uf = new UnionFind[String]
        val members = ns.map(_._2).toVector
        val pairs = es.map { case (_, a, b) => (a, b) }.toVector
        pairs.foreach { case (a, b) => uf.union(a, b) }
        // refine ignores edge endpoints outside the component's members
        val compEdges = pairs.groupBy { case (a, _) => uf.find(a) }
        members.groupBy(uf.find).iterator.flatMap { case (root, ms) =>
          LocalCommunities.refine(ms, compEdges.getOrElse(root, Vector.empty))
            .groupMap(_._2)(_._1).valuesIterator.flatMap { sub =>
              val minMember = sub.min
              sub.iterator.map(node => (doc, node, minMember))
            }
        }
    }.toDF("doc_id", "node_id", "min_member")

    val membership = Par.labelled(spark, "graft-comm:membership") {
      Materialize.stageCut(minMembers.select(col("doc_id"), col("node_id"),
        commIdUdf(col("doc_id"), col("min_member")).as("community_id")))
    }

    // --- level-0 nodes annotated with their community ---------------------
    val nodesWithCommunity = n0
      .join(membership.select(col("node_id").as("m_id"), col("community_id").as("cid")),
        col("id") === col("m_id"), "left")
      .select(col("id"), col("name"), col("description"), col("level"), col("is_visual"),
        coalesce(col("cid"), lit("")).as("community_id"), col("child_ids"), col("metadata"))

    // --- degree for report titles -----------------------------------------
    val degree = edges.toDF()
      .select(explode(array(col("frm"), col("to"))).as("node_id"))
      .groupBy(col("node_id")).agg(count(lit(1)).as("deg"))

    val memberInfo = membership
      .join(n0.select(col("id").as("node_id"), col("name")), Seq("node_id"))
      .join(degree, Seq("node_id"), "left")
      .na.fill(0L, Seq("deg"))

    // --- community node rows ------------------------------------------------
    val communityNodes = memberInfo
      .groupBy(col("doc_id"), col("community_id"))
      .agg(
        max(struct(col("deg"), col("name"))).as("top"),
        array_sort(collect_list(col("name"))).as("member_names"),
        array_sort(collect_list(col("node_id"))).as("child_ids"))
      .select(
        col("community_id").as("id"),
        concat(col("top.name"), lit(" network")).as("name"),
        concat_ws(", ", col("member_names")).as("description"),
        lit(1).as("level"),
        lit(false).as("is_visual"),
        docNodeIdUdf(col("doc_id")).as("community_id"), // parent = doc node
        col("child_ids"),
        array(struct(col("doc_id").as("document_id"), lit(-1).as("chunk_id"),
          lit(null).cast(VisualTpe).as("visual"))).as("metadata"),
        col("doc_id"))

    // --- findings: member properties → community properties (<=5) ---------
    val memberProps = membership
      .join(properties.toDF().select(col("node_id"), col("description").as("pdesc")), Seq("node_id"))
      .groupBy(col("doc_id"), col("community_id"))
      .agg(slice(array_sort(collect_set(col("pdesc"))), 1, 5).as("findings"))
    val communityProperties = memberProps
      .select(col("doc_id"), col("community_id"), explode(col("findings")).as("description"))
      .select(
        propIdUdf(col("community_id"), col("description")).as("id"),
        col("community_id").as("node_id"),
        col("description"),
        array(struct(col("doc_id").as("document_id"), lit(-1).as("chunk_id"),
          lit(null).cast(VisualTpe).as("visual"))).as("metadata"))

    // --- inter-community edges: one per crossing source edge --------------
    // Full edge rows ride the two membership joins DELIBERATELY: a
    // slim-join variant (decide crossing on (id, frm, to), rejoin
    // metadata by id for crossing edges only) was measured WORSE at 96k
    // docs (453 -> 543 MiB): the dominant per-row payload here is the
    // three 32-char hex ids, not the metadata array, and the rejoin adds
    // a full id-keyed exchange of its own.
    val mFrm = membership.select(col("node_id").as("frm"), col("community_id").as("comm_frm"))
    val mTo = membership.select(col("node_id").as("to"), col("community_id").as("comm_to"))
    val communityEdges = edges.toDF()
      .join(mFrm, Seq("frm")).join(mTo, Seq("to"))
      .filter(col("comm_frm") =!= col("comm_to"))
      .select(
        edgeIdUdf(least(col("comm_frm"), col("comm_to")),
          greatest(col("comm_frm"), col("comm_to")), col("id")).as("id"),
        col("comm_frm").as("frm"),
        col("comm_to").as("to"),
        lit("").as("description"),
        col("metadata"))

    // --- document node (level 2) -------------------------------------------
    val commChildren = communityNodes
      .groupBy(col("doc_id")).agg(array_sort(collect_list(col("id"))).as("child_ids"))
    val docNodes = docSummaries
      .join(commChildren, Seq("doc_id"), "left")
      .select(
        docNodeIdUdf(col("doc_id")).as("id"),
        col("doc_id").as("name"),
        col("summary").as("description"),
        lit(2).as("level"),
        lit(false).as("is_visual"),
        lit("").as("community_id"),
        coalesce(col("child_ids"), array().cast("array<string>")).as("child_ids"),
        array(struct(col("doc_id").as("document_id"), lit(-1).as("chunk_id"),
          lit(null).cast(VisualTpe).as("visual"))).as("metadata"),
        col("doc_id"))

    // --- keyword properties on the doc node --------------------------------
    // array_distinct: a custom extractor may repeat a keyword, and repeated
    // keywords would yield duplicate rows under the SAME deterministic
    // property id (id = propId(docNode, keyword))
    val docProperties = docKeywords
      .select(col("doc_id"), explode(array_distinct(col("keywords"))).as("description"))
      .select(
        propIdUdf(docNodeIdUdf(col("doc_id")), col("description")).as("id"),
        docNodeIdUdf(col("doc_id")).as("node_id"),
        col("description"),
        array(struct(col("doc_id").as("document_id"), lit(-1).as("chunk_id"),
          lit(null).cast(VisualTpe).as("visual"))).as("metadata"))

    CommunityLayer(
      nodesWithCommunity,
      communityNodes.drop("doc_id"),
      communityEdges,
      communityProperties,
      docNodes.drop("doc_id"),
      docProperties)
  }

  /** F5 — community CSV rendering (reference
    * tools/community_builder.py:180-187): the two CSV context strings fed
    * to the community-report prompt — member properties as
    * `node_name,property` lines and member-touching edges (frm OR to in
    * the community, `_filter_edges` :150-162) as `from,to,description`
    * lines, each under its header row. The reference emits lines in
    * repository iteration order; here lines are sorted lexicographically so
    * the render is deterministic and cluster-order-independent.
    *
    * Shape: membership is doc-scoped (community ids embed doc_id), all
    * joins key on node id — no corpus-global shuffle key.
    */
  def communityCsv(nodesWithCommunity: DataFrame, edges: DataFrame,
                   properties: DataFrame): DataFrame = {
    val members = nodesWithCommunity
      .filter(col("level") === 0 && col("community_id") =!= "")
      .select(col("id").as("node_id"), col("name"), col("community_id"))

    val propLines = members
      .join(properties.select(col("node_id"), col("description")), Seq("node_id"))
      .groupBy(col("community_id"))
      .agg(concat_ws("\n",
        array_sort(collect_list(concat_ws(",", col("name"), col("description"))))).as("plines"))

    // an edge joins a community when EITHER endpoint is a member (it may
    // therefore appear in two communities, as in the reference)
    val names = nodesWithCommunity.filter(col("level") === 0)
      .select(col("id"), col("name"))
    val withNames = edges
      .join(names.select(col("id").as("frm"), col("name").as("frm_name")), Seq("frm"))
      .join(names.select(col("id").as("to"), col("name").as("to_name")), Seq("to"))
      .select(col("id"), col("frm"), col("to"), col("frm_name"), col("to_name"), col("description"))
    val touching = withNames
      .join(members.select(col("node_id").as("frm"), col("community_id")), Seq("frm"))
      .unionByName(withNames
        .join(members.select(col("node_id").as("to"), col("community_id")), Seq("to")))
      .select(col("community_id"), col("id"),
        concat_ws(",", col("frm_name"), col("to_name"), col("description")).as("line"))
      .groupBy(col("community_id"), col("id")).agg(first(col("line")).as("line")) // dedup both-endpoint edges
    val edgeLines = touching
      .groupBy(col("community_id"))
      .agg(concat_ws("\n", array_sort(collect_list(col("line")))).as("elines"))

    members.select(col("community_id")).distinct()
      .join(propLines, Seq("community_id"), "left")
      .join(edgeLines, Seq("community_id"), "left")
      .select(col("community_id"),
        concat(lit("node_name,property"),
          when(coalesce(col("plines"), lit("")) =!= "", concat(lit("\n"), col("plines")))
            .otherwise(lit(""))).as("prop_csv"),
        concat(lit("from,to,description"),
          when(coalesce(col("elines"), lit("")) =!= "", concat(lit("\n"), col("elines")))
            .otherwise(lit(""))).as("edge_csv"))
  }
}
