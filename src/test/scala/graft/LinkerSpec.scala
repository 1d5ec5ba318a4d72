package graft

import graft.core._
import graft.functions.TextFns
import graft.link.{ConnectedComponents, Linker, UnionFind}
import org.apache.spark.sql.functions._

/** Linking semantics: token_set_ratio fixtures, cluster resolution
  * (reference tests/tools/test_node_matcher.py:20-67 surface forms), and
  * connected components vs brute-force transitive closure (seeded
  * property-style sweep). */
class LinkerSpec extends SparkSpec {

  /** Per-group labels from the shared UnionFind: each declared vertex
    * labelled with the min member of its component (the contract of
    * ConnectedComponents.runBigStar), ghost endpoints bridging but not
    * emitted. */
  private def unionFindLabels(vs: Seq[String], es: Seq[(String, String)]): Seq[(String, String)] = {
    val uf = new UnionFind[String]
    es.foreach { case (a, b) => uf.union(a, b) }
    vs.groupBy(uf.find).values.toSeq.flatMap(c => c.map(_ -> c.min))
  }

  test("token_set_ratio: subset aliases score 100, distinct names do not match") {
    assert(TextFns.tokenSetRatio("Lennart", "Lennart Timmermans") === 100)
    assert(TextFns.tokenSetRatio("Timmermans", "Patrick Timmermans") === 100)
    assert(TextFns.tokenSetRatio("Dr Elena Vasquez", "elena vasquez") === 100)
    assert(TextFns.tokenSetRatio("Elena Vasquez", "Elena Park") < 95)
    assert(TextFns.tokenSetRatio("Vertex Analytics Group", "Solstice Analytics Group") < 95)
    assert(TextFns.tokenSetRatio("same", "same") === 100)
  }

  test("cluster resolution: Timmermans fixture (ambiguous mention assigned by context)") {
    // surface forms from the reference's identifying_nodes prompt example
    val members = Vector(
      ("lennart", "Lennart", "lennart works on search infrastructure"),
      ("lennart timmermans", "Lennart Timmermans", "lennart timmermans works on search infrastructure"),
      ("patrick timmermans", "Patrick Timmermans", "patrick timmermans leads the finance team"),
      ("timmermans", "Timmermans", "timmermans works on search infrastructure"))
    val res = Linker.resolveCluster(members)
    val canon = res.map(r => r.name_norm -> r.canonical_norm).toMap
    assert(canon("lennart") === "lennart timmermans")
    assert(canon("lennart timmermans") === "lennart timmermans")
    assert(canon("patrick timmermans") === "patrick timmermans")
    // ambiguous "timmermans": context mentions search infra -> Lennart
    assert(canon("timmermans") === "lennart timmermans")
    // and only the ambiguous member carries the candidate set
    assert(res.find(_.name_norm == "timmermans").get.candidates.map(_._1).sorted ===
      Vector("lennart timmermans", "patrick timmermans"))
    assert(res.filter(_.name_norm != "timmermans").forall(_.candidates.isEmpty))
  }

  test("A6 containment gathering: candidate context reaches names that CONTAIN it") {
    import spark.implicits._
    // "The John Smithsonian" is NOT in the smith-cluster (token_set_ratio
    // vs "john smith" < 95) but CONTAINS the candidate string "john smith",
    // so reference containment gathering (node_matcher.py:118-131) credits
    // its cardiology description to candidate "john smith". The ambiguous
    // mention "smith" talks about the cardiology department -> must resolve
    // to John Smith; exact-name gathering would tie at 0 and fall to the
    // lexicographic tie-break ("mary smith").
    val logs = spark.createDataset(Seq(
      ExtractionLog("d1", 0, is_visual = false,
        nodes = Seq(
          NodeExt("John Smith", "a person"),
          NodeExt("Mary Smith", "an engineer who designs bridges"),
          NodeExt("The John Smithsonian", "heads the cardiology department research wing")),
        edges = Seq(EdgeExt("Smith", "Research Council", "heads research in cardiology department wing")),
        properties = Seq(), main_visual_entity = "")))
    val mapping = Linker.canonicalMappingResult(logs).mapping
    val docRow = mapping.filter(col("chunk_id") === -1 && col("name_norm") === "smith").collect()
    assert(docRow.length === 1)
    assert(docRow.head.getAs[String]("canonical_norm") === "john smith")
    // the per-chunk override agrees (same containment context drives it)
    val chunkRow = mapping.filter(col("chunk_id") === 0 && col("name_norm") === "smith").collect()
    assert(chunkRow.head.getAs[String]("canonical_norm") === "john smith")
  }

  test("single-maximal cluster maps every alias to it") {
    val members = Vector(
      ("dr elena vasquez", "Dr Elena Vasquez", "d1"),
      ("elena vasquez", "Elena Vasquez", "d2"),
      ("vasquez", "Vasquez", "d3"))
    val canon = Linker.resolveCluster(members).map(r => r.name_norm -> r.canonical_norm).toMap
    assert(canon.values.toSet === Set("dr elena vasquez"))
  }

  test("connected components equal brute-force transitive closure (seeded sweep)") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    (1 to 10).foreach { _ =>
      val pairs = List.fill(12)((rng.nextInt(15), rng.nextInt(15)))
      val vs = (0 to 14).map(i => ("k", f"v$i%02d"))
      val es = pairs.map { case (a, b) => ("k", f"v$a%02d", f"v$b%02d") }
      val gotUnionFind = unionFindLabels(vs.map(_._2), es.map(e => (e._2, e._3))).toMap
      val gotBigStar = ConnectedComponents.runBigStar(
          vs.toDF("key", "v"), es.toDF("key", "a", "b"))
        .collect().map(r => r.getString(1) -> r.getString(2)).toMap
      // brute force union-find
      val parent = scala.collection.mutable.Map(vs.map(v => v._2 -> v._2).toSeq: _*)
      def find(x: String): String = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(f"v$a%02d"), find(f"v$b%02d"))
        if (ra != rb) parent(ra) = rb
      }
      val expect = vs.map { case (_, v) =>
        v -> vs.map(_._2).filter(u => find(u) == find(v)).min
      }.toMap
      assert(gotUnionFind === expect, s"(UnionFind) pairs=$pairs")
      assert(gotBigStar === expect, s"(bigStar) pairs=$pairs")
    }
  }

  test("large-star/small-star handles diameter far beyond its round count") {
    // a 200-node chain: min-label propagation would need 200 rounds;
    // star contraction collapses it in O(log² n)
    import spark.implicits._
    val n = 200
    val vs = (0 until n).map(i => ("k", f"v$i%03d")).toDF("key", "v")
    val es = (0 until n - 1).map(i => ("k", f"v$i%03d", f"v${i + 1}%03d"))
      .toDF("key", "a", "b")
    val got = ConnectedComponents.runBigStar(vs, es)
      .collect().map(r => r.getString(1) -> r.getString(2))
    assert(got.length === n, "every declared vertex emitted exactly once")
    assert(got.forall(_._2 == "v000"), "one chain => one component rooted at min")
    // cut short of its fixpoint (a loud warning): labels may split the
    // chain, but still one row per declared vertex, each a member <= it
    val capped = ConnectedComponents.runBigStar(vs, es, maxIter = 1)
      .collect().map(r => r.getString(1) -> r.getString(2))
    assert(capped.map(_._1).sorted.toSeq === (0 until n).map(i => f"v$i%03d"))
    assert(capped.forall { case (v, c) => c <= v })
  }

  test("large-star/small-star equals UnionFind per shape; a star forest stops after 0 rounds") {
    import spark.implicits._
    def v(i: Int) = f"v$i%02d"
    // (key, a, b) edges; every endpoint is declared
    def check(name: String, es: Seq[(String, String, String)]): Int = {
      val vs = es.flatMap(e => Seq(e._1 -> e._2, e._1 -> e._3)).distinct
      val got = ConnectedComponents.runBigStar(vs.toDF("key", "v"), es.toDF("key", "a", "b"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
      val expect = vs.groupBy(_._1).toSeq.flatMap { case (k, kvs) =>
        unionFindLabels(kvs.map(_._2), es.filter(_._1 == k).map(e => (e._2, e._3)))
          .map { case (x, c) => (k, x) -> c }
      }.toMap
      assert(got === expect, s"($name) edges=$es")
      ConnectedComponents.starRounds
    }
    val starForest = Seq(("k", v(0), v(5)), ("k", v(9), v(0)), ("k", v(0), v(7)),
      ("k", v(3), v(4)), ("k", v(8), v(8)))
    assert(check("star forest centred on minima", starForest) === 0,
      "a star-forest input must stop on the init cut")
    assert(check("single edges", Seq(("k", v(1), v(2)), ("k", v(4), v(3)))) === 0)
    assert(check("chain", (0 until 30).map(i => ("k", v(i), v(i + 1)))) > 0)
    assert(check("depth-3 tree", Seq(("k", v(0), v(1)), ("k", v(1), v(2)), ("k", v(2), v(3)),
      ("k", v(1), v(4)), ("k", v(4), v(5)), ("k", v(0), v(6)))) > 0)
    assert(check("star centred off its minimum", Seq(("k", v(5), v(1)), ("k", v(5), v(2)),
      ("k", v(5), v(9)))) > 0)
    assert(check("two keys", Seq(("k1", v(3), v(1)), ("k1", v(3), v(2)), ("k2", v(1), v(2)),
      ("k2", v(2), v(3)), ("k2", v(6), v(7)))) > 0)
    assert(check("two keys, each a star forest", Seq(("k1", v(1), v(3)), ("k1", v(1), v(2)),
      ("k2", v(3), v(1)), ("k2", v(2), v(4)))) === 0)
  }

  test("large-star/small-star scopes labels per key (shared vertex names)") {
    import spark.implicits._
    // the same vertex names exist under both keys; edges join them only
    // under k1 — k2's copies must stay singletons
    val vs = Seq(("k1", "a"), ("k1", "b"), ("k2", "a"), ("k2", "b"))
      .toDF("key", "v")
    val es = Seq(("k1", "a", "b")).toDF("key", "a", "b")
    val got = ConnectedComponents.runBigStar(vs, es)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    assert(got === Map(("k1", "a") -> "a", ("k1", "b") -> "a",
      ("k2", "a") -> "a", ("k2", "b") -> "b"))
  }

  test("large-star/small-star: ghosts bridge, singletons self-label, empty edges") {
    import spark.implicits._
    val vs = Seq(("k", "a"), ("k", "b"), ("k", "z")).toDF("key", "v")
    val es = Seq(("k", "a", "x"), ("k", "x", "b")).toDF("key", "a", "b")
    val got = ConnectedComponents.runBigStar(vs, es)
      .collect().map(r => r.getString(1) -> r.getString(2)).toMap
    assert(got === Map("a" -> "a", "b" -> "a", "z" -> "z"))
    val empty = ConnectedComponents.runBigStar(vs, es.limit(0))
      .collect().map(r => r.getString(1) -> r.getString(2)).toMap
    assert(empty === Map("a" -> "a", "b" -> "b", "z" -> "z"))
  }

  test("UnionFind conserves every vertex at HashMap growth-trigger sizes") {
    // regression: the map-backed per-key folds once emitted via
    // parent.keysIterator while find() was still path-compressing; scala
    // 2.13 HashMap.put checks the growth trigger BEFORE probing for the
    // existing key, so a value update could RESIZE the table mid-iteration
    // and the live iterator skipped entries. 11 members (trigger = 12 at
    // the default capacity 16) + a chain that leaves a deep uncompressed
    // path at emission is the smallest shape that could fire it; the
    // array-backed forest must emit every vertex exactly once, also while
    // iterating its keys past the initial array capacity.
    val vs = (0 to 10).map(i => f"v$i%02d")
    val es = (9 to 0 by -1).map(i => (f"v$i%02d", f"v${i + 1}%02d"))
    val out = unionFindLabels(vs, es)
    assert(out.map(_._1).sorted === vs.sorted, "every vertex must be emitted exactly once")
    assert(out.forall(_._2 == "v00"), "single chain => one component rooted at min")
    val big = (0 until 40).map(i => f"w$i%02d")
    val chain = unionFindLabels(big, big.reverse.zip(big.reverse.tail))
    assert(chain.map(_._1).sorted === big.sorted)
    assert(chain.forall(_._2 == "w00"))
  }

  test("undeclared edge endpoints bridge but are not emitted (runBigStar == UnionFind)") {
    import spark.implicits._
    val vs = Seq(("k", "a"), ("k", "b"))
    // "x" never appears as a vertex: it must connect a and b into one
    // component without appearing in the output of either implementation
    val es = Seq(("k", "a", "x"), ("k", "x", "b"))
    val expect = Map("a" -> "a", "b" -> "a")
    val got = ConnectedComponents.runBigStar(vs.toDF("key", "v"), es.toDF("key", "a", "b"))
      .collect().map(r => r.getString(1) -> r.getString(2)).toMap
    val gotUnionFind = unionFindLabels(vs.map(_._2), es.map(e => (e._2, e._3)))
    assert(got === expect)
    assert(gotUnionFind.toMap === expect)
    assert(gotUnionFind.length === 2)
  }

  test("prefix blocking reaches single-token spelling variants") {
    import spark.implicits._
    // disjoint token sets, no shared full token — shared-token blocking
    // would never pair them; the reference's O(n^2) matcher scores them 95
    val names = Seq(("d1", "internationalization"), ("d1", "internationalisation"))
      .toDF("doc_id", "name_norm")
      .withColumn("display", col("name_norm"))
      .withColumn("descs", lit(""))
    val pairs = Linker.matchedPairs(names)
      .select("a", "b").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs === Set(("internationalisation", "internationalization")))
  }

  test("blocking join finds exactly the >=95 pairs on a doc's names") {
    import spark.implicits._
    val names = Seq(
      ("d1", "dr elena vasquez"), ("d1", "elena vasquez"), ("d1", "vasquez"),
      ("d1", "vertex analytics group"), ("d1", "vertex analytics"),
      ("d2", "elena vasquez"), ("d2", "marco petrov"))
      .toDF("doc_id", "name_norm")
      .withColumn("display", col("name_norm"))
      .withColumn("descs", lit(""))
    val pairs = Linker.matchedPairs(names)
      .select("doc_id", "a", "b").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(pairs === Set(
      ("d1", "dr elena vasquez", "elena vasquez"),
      ("d1", "dr elena vasquez", "vasquez"),
      ("d1", "elena vasquez", "vasquez"),
      ("d1", "vertex analytics", "vertex analytics group")))
    // no cross-doc pairs: linking is per-document (reference name index is per doc)
    assert(!pairs.exists { case (_, a, b) => a.contains("marco") || b.contains("marco") })
  }
}
