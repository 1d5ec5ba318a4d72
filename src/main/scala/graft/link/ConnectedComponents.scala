package graft.link

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over DataFrames for graphs with NO bounded
  * per-key size (the corpus-global near-dup graph of
  * `Dedup.dedupClusters`); reference semantics: transitive closure of the
  * fuzzy-match graph, eschergraph/tools/fuzzy_matcher.py:79-131.
  * Per-document graphs (linking, communities) never come here: they fit
  * one task, so their cogroups fold a local [[UnionFind]] instead.
  *
  * Input: `vertices(key, v)` and undirected `edges(key, a, b)`; `key`
  * scopes independent graphs, so labels never cross keys (the dedup
  * callers pass one constant key: their near-dup graph is corpus-wide).
  *
  * One plan, large-star/small-star ([[runBigStar]]): its round count is
  * O(log² n) on any diameter. Min-label propagation needs one round per
  * hop of diameter, so any fixed round cap splits a deep enough chain, and
  * it was no faster on q_dedup_clusters' shallow sf0.1 graph (4 cores,
  * best of 8 warm runs per JVM: 3.9–4.0 s min-label, 2.9–4.4 s here).
  * Its loop stops at the first star forest, tested by one groupBy over
  * each cut (the initial one included), rather than at an equal pair set
  * one round later: a pair graph that starts as a star forest, like
  * q_dedup_clusters' planted copies, costs no round at all.
  */
object ConnectedComponents {

  /** Large-star/small-star connected components (Kiveris et al. 2014,
    * "Connected Components in MapReduce and Beyond", public algorithm) —
    * the alternating star-contraction whose round count is O(log² n)
    * on ANY graph. Contract: (vertices(key,v), edges(key,a,b)) →
    * (key, v, component) with component = min member (string order), one
    * row per DECLARED vertex; edge endpoints absent from `vertices` still
    * BRIDGE (they join components, exactly as in [[UnionFind]]) but are
    * not emitted. This is the path for graphs whose diameter is NOT
    * bounded by construction (corpus-global near-dup chains);
    * per-document graphs use [[UnionFind]] in a cogroup.
    *
    * Each round is two (groupBy + join) passes over the current pair set:
    *   large-star: every neighbor v > u re-attaches to m = min(Γ(u) ∪ {u});
    *   small-star: every neighbor (all < u after large-star) plus u itself
    *   re-attaches to the minimum of the closed neighborhood.
    * Pairs stay oriented u > v throughout, so the evolving relation is a
    * canonical set. The loop stops as soon as that set is a STAR FOREST:
    * every u has one parent and no parent is itself a child. Both steps
    * map a star forest to itself (large-star re-attaches each leaf to its
    * centre, small-star re-emits it), and with u > v each centre is its
    * component's minimum, so the relation at the stop carries the labels
    * the fixpoint would; one more round would only confirm it. */
  def runBigStar(vertices: DataFrame, edges: DataFrame, maxIter: Int = 40): DataFrame =
    vertices.select(col("key"), col("v"))
      .join(starRelation(edges, maxIter), Seq("key", "v"), "left")
      .select(col("key"), col("v"), coalesce(col("component"), col("v")).as("component"))

  /** The contraction behind [[runBigStar]], without the declared vertices:
    * (key, v, component) for every edge endpoint whose component minimum
    * is not itself. Roots have no row, so a caller labels any vertex
    * missing here with itself. It reads the loop's final cache, which
    * registers with the caller's [[graft.core.Materialize.Scope]];
    * superseded iteration caches are freed as the loop goes. */
  private[graft] def starRelation(edges: DataFrame, maxIter: Int = 40): DataFrame = {
    // canonical orientation u > v; self-loops dropped; set semantics
    val init = edges
      .select(col("key"), greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    // stage-cut counts ride the materializing action (no second count job)
    var (p, pRdd, n) = graft.core.Materialize.stageCutHandleN(init)
    var iter = 0
    var converged = n == 0L || isStarForest(p)
    while (!converged && iter < maxIter) {
      // LARGE-STAR over bidirectional neighborhoods. m <= u < v for every
      // emitted (v, m), so the u > v orientation is preserved by renaming.
      val nbrs = p.select(col("key"), col("u"), col("v"))
        .union(p.select(col("key"), col("v").as("u"), col("u").as("v")))
      val lmin = nbrs.groupBy("key", "u").agg(min("v").as("mv"))
        .select(col("key"), col("u"), least(col("mv"), col("u")).as("m"))
      // NOT deduplicated (no self-pair guard needed: m <= u < v
      // throughout): the two consumers below are duplicate-insensitive —
      // smin is a min-aggregate and the join's output feeds small's own
      // canonicalizing distinct — so a distinct here would buy nothing
      // semantically and cost a full (key, u, v)-keyed exchange per
      // iteration. Duplicate multiplicity of a (v, m) row is bounded by
      // how many large-star hubs re-attach v to the same m in one round;
      // those extra rows ride two cheap exchanges and collapse at the
      // aggregates.
      val large = nbrs.join(lmin, Seq("key", "u"))
        .filter(col("v") > col("u"))
        .select(col("key"), col("v").as("u"), col("m").as("v"))
      // SMALL-STAR: after large-star every neighbor of u is < u, so the
      // closed-neighborhood minimum is just min(v); u itself re-attaches.
      val smin = large.groupBy("key", "u").agg(min("v").as("m"))
      val small = large.join(smin, Seq("key", "u"))
        .select(col("key"), col("v").as("x"), col("m"))
        .union(smin.select(col("key"), col("u").as("x"), col("m")))
        .filter(col("x") =!= col("m"))
        .select(col("key"), col("x").as("u"), col("m").as("v"))
        .distinct()
      val (cp, cpRdd, _) = graft.core.Materialize.stageCutHandleN(small)
      pRdd.unpersist(blocking = false)
      p = cp; pRdd = cpRdd
      iter += 1
      converged = isStarForest(p)
    }
    starRounds = iter
    if (!converged)
      System.err.println(s"[graft] WARNING: large-star/small-star did NOT reach a star " +
        s"forest in $maxIter rounds — labels may split a component; raise maxIter")
    // a star forest has one row u → component min per non-root. min()
    // guards a cut-short relation, where u could still carry several
    // parents.
    val star = if (converged) p else p.groupBy("key", "u").agg(min("v").as("v"))
    star.select(col("key"), col("u").as("v"), col("v").as("component"))
  }

  /** Rounds the last [[starRelation]] ran — spec observability only
    * (LinkerSpec asserts a star-forest input stops after 0 rounds). */
  @volatile private[graft] var starRounds: Int = 0

  /** Whether the oriented relation (key, u, v), a set of pairs u > v, is a
    * star forest: no x that is a child (some u = x) has a second row, be it
    * a second parent or a child of its own. One groupBy over the cut. */
  private def isStarForest(p: DataFrame): Boolean =
    p.select(col("key"), col("u").as("x"), lit(1).as("child"))
      .union(p.select(col("key"), col("v").as("x"), lit(0).as("child")))
      .groupBy("key", "x").agg(sum("child").as("c"), count(lit(1)).as("rows"))
      .filter(col("c") > 0 && col("rows") > 1)
      .isEmpty
}
