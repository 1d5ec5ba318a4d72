package graft

import graft.community.{Communities, LocalCommunities}
import graft.core._

class CommunitySpec extends SparkSpec {

  test("barbell graph splits into its two dense sides") {
    val members = Vector("a", "b", "c", "x", "y", "z")
    val edges = Vector(
      ("a", "b"), ("b", "c"), ("a", "c"), // triangle 1
      ("x", "y"), ("y", "z"), ("x", "z"), // triangle 2
      ("c", "x")) // bridge
    val part = LocalCommunities.refine(members, edges)
    assert(part("a") === part("b") && part("b") === part("c"))
    assert(part("x") === part("y") && part("y") === part("z"))
    assert(part("a") !== part("x"))
  }

  test("partition is a disjoint cover with dense labels") {
    val members = Vector("n1", "n2", "n3", "n4")
    val edges = Vector(("n1", "n2"), ("n3", "n4"))
    val part = LocalCommunities.refine(members, edges)
    assert(part.keySet === members.toSet)
    val labels = part.values.toSet
    assert(labels === (0 until labels.size).toSet)
  }

  test("deterministic regardless of member/edge order") {
    val members = Vector("a", "b", "c", "x", "y", "z")
    val edges = Vector(("a", "b"), ("b", "c"), ("a", "c"), ("x", "y"), ("y", "z"), ("x", "z"), ("c", "x"))
    val p1 = LocalCommunities.refine(members, edges)
    val p2 = LocalCommunities.refine(members.reverse, edges.reverse.map { case (u, v) => (v, u) })
    assert(p1 === p2)
  }

  test("edgeless and tiny components collapse to one community") {
    assert(LocalCommunities.refine(Vector("solo"), Vector.empty) === Map("solo" -> 0))
    assert(LocalCommunities.refine(Vector("a", "b"), Vector(("a", "b"))).values.toSet === Set(0))
  }

  test("F5 community CSV render: member properties + touching edges under headers") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // two communities; edge n2->n3 crosses them and must appear in BOTH
    val nodes = Seq(
      ("n1", "Alpha Corp", 0, "c1"), ("n2", "Beta Labs", 0, "c1"),
      ("n3", "Gamma Inc", 0, "c2"),
      ("cn", "Alpha Corp network", 1, "")) // level-1 row must be ignored
      .toDF("id", "name", "level", "community_id")
    val edges = Seq(
      ("e1", "n1", "n2", "partners with"),
      ("e2", "n2", "n3", "supplies")).toDF("id", "frm", "to", "description")
    val properties = Seq(
      ("p1", "n1", "publicly listed"), ("p2", "n2", "research lab"))
      .toDF("id", "node_id", "description")

    val csv = graft.community.Communities.communityCsv(nodes, edges, properties)
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    assert(csv.keySet === Set("c1", "c2"))
    assert(csv("c1")._1 === "node_name,property\nAlpha Corp,publicly listed\nBeta Labs,research lab")
    assert(csv("c1")._2 ===
      "from,to,description\nAlpha Corp,Beta Labs,partners with\nBeta Labs,Gamma Inc,supplies")
    // c2 has no member properties -> header-only prop csv; the crossing
    // edge still renders (reference _filter_edges: either endpoint)
    assert(csv("c2")._1 === "node_name,property")
    assert(csv("c2")._2 === "from,to,description\nBeta Labs,Gamma Inc,supplies")
  }

  test("Communities.build: per-doc components refined, ghosts bridge unseen, ids per doc") {
    import spark.implicits._
    def node(doc: String, n: String) =
      NodeRow(s"$doc:$n", n, "", 0, is_visual = false, "", Seq.empty, Seq(Meta(doc, 0)))
    def edge(doc: String, a: String, b: String) =
      EdgeRow(s"$doc:$a-$b", s"$doc:$a", s"$doc:$b", "rel", Seq(Meta(doc, 0)))
    val barbell = Seq(("a", "b"), ("b", "c"), ("a", "c"), ("x", "y"), ("y", "z"), ("x", "z"), ("c", "x"))
    val docs = Seq("d1", "d2")
    // same barbell in both docs; d1 also has an isolated node and an edge
    // to an endpoint that is never declared as a node
    val nodes = docs.flatMap(d => Seq("a", "b", "c", "x", "y", "z").map(node(d, _))) :+ node("d1", "solo")
    val edges = docs.flatMap(d => barbell.map { case (a, b) => edge(d, a, b) }) :+ edge("d1", "a", "ghost")
    val layer = Communities.build(nodes.toDS(), edges.toDS(), Seq.empty[PropertyRow].toDS(),
      docs.map(d => (d, Seq("kw"))).toDF("doc_id", "keywords"),
      docs.map(d => (d, "summary")).toDF("doc_id", "summary"))
    try {
      val got = layer.nodesWithCommunity.select("id", "community_id").as[(String, String)]
        .collect().toMap
      assert(got.keySet === nodes.map(_.id).toSet, "every declared node once, the ghost never")
      def comm(doc: String, minMember: String) = Ids.communityId(doc, s"$doc:$minMember", 1)
      val expect = docs.flatMap { d =>
        Seq("a", "b", "c").map(n => s"$d:$n" -> comm(d, "a")) ++
          Seq("x", "y", "z").map(n => s"$d:$n" -> comm(d, "x"))
      }.toMap + ("d1:solo" -> comm("d1", "solo"))
      assert(got === expect)
      val commNodes = layer.communityNodes.select("id", "child_ids").as[(String, Seq[String])]
        .collect().toMap
      assert(commNodes.keySet === expect.values.toSet)
      assert(commNodes(comm("d1", "solo")) === Seq("d1:solo"))
      assert(!commNodes.values.flatten.exists(_.contains("ghost")))
      // the c-x bridge crosses communities once per doc; the ghost edge
      // has no community on its far end
      assert(layer.communityEdges.select("frm", "to").as[(String, String)].collect().toSet ===
        docs.map(d => (comm(d, "a"), comm(d, "x"))).toSet)
    } finally layer.cleanup()
  }
}
