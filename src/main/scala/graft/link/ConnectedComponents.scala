package graft.link

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over DataFrames for graphs with NO bounded
  * per-key size (the corpus-global near-dup graph of
  * `Dedup.dedupClusters`); reference semantics: transitive closure of the
  * fuzzy-match graph, eschergraph/tools/fuzzy_matcher.py:79-131.
  * Per-document graphs (linking, communities) never come here: they fit
  * one task, so their cogroups fold a local [[UnionFind]] instead.
  * Two plans with one contract: iterative min-label propagation
  * ([[run]], rounds = component diameter) and large-star/small-star
  * ([[runBigStar]], O(log² n) rounds on any diameter).
  *
  * Input: `vertices(key, v)` and undirected `edges(key, a, b)`; `key`
  * scopes independent graphs, so labels never cross keys (the dedup
  * callers pass one constant key: their near-dup graph is corpus-wide).
  *
  * Each iteration propagates the minimum label one hop and cuts the
  * accumulated plan at a persisted materialization (Materialize.stageCut:
  * plan truncated, RDD lineage kept — cluster-safe, unlike localCheckpoint
  * whose blocks are unrecoverable if a remote fetch fails); convergence is
  * detected via a
  * changed-row count. Iterations are bounded by component diameter, so
  * shallow graphs converge in a handful of rounds regardless of corpus
  * size; graphs with long chains belong on [[runBigStar]].
  */
object ConnectedComponents {

  /** Returns (key, v, component) with component = min label (string order)
    * over the vertex's component, one row per DECLARED vertex. Edge
    * endpoints absent from `vertices` still BRIDGE (they join components,
    * exactly as in [[UnionFind]]) but are not emitted.
    *
    * Superseded iteration caches are freed deterministically (only the
    * final labels stay persisted for the consumer); on non-convergence at
    * `maxIter` the partial labels are still returned — one component may
    * be reported as several — with a loud stderr warning, since silently
    * splitting a component would corrupt dedup groups downstream. */
  def run(vertices: DataFrame, edges: DataFrame, maxIter: Int = 25): DataFrame =
    runHandle(vertices, edges, maxIter)._1

  /** [[run]] plus the final persisted label RDD, so long-lived callers can
    * free the one cache this loop leaves behind deterministically (the
    * lineage is kept — a post-unpersist consumer recomputes instead of
    * failing). */
  def runHandle(vertices: DataFrame, edges: DataFrame, maxIter: Int = 25)
      : (DataFrame, org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow]) = {
    // adjacency in both directions, deduped
    val (adj, adjRdd) = graft.core.Materialize.stageCutHandle(
      edges.select(col("key"), col("a"), col("b"))
        .union(edges.select(col("key"), col("b").as("a"), col("a").as("b")))
        .distinct())

    // declared vertices + ghost endpoints (decl=false), so bridging through
    // an undeclared endpoint matches UnionFind's semantics
    val init = vertices.select(col("key"), col("v"), lit(true).as("decl"))
      .unionByName(edges.select(col("key"), col("a").as("v"), lit(false).as("decl")))
      .unionByName(edges.select(col("key"), col("b").as("v"), lit(false).as("decl")))
      .groupBy(col("key"), col("v")).agg(max(col("decl")).as("decl"))
      .select(col("key"), col("v"), col("v").as("label"), col("decl"))
    var (labels, labelsRdd) = graft.core.Materialize.stageCutHandle(init)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val nbrMin = adj
        .join(labels, adj("key") === labels("key") && adj("a") === labels("v"))
        .groupBy(adj("key").as("nk"), adj("b").as("nv"))
        .agg(min(col("label")).as("nbr_label"))
      val updated = labels
        .join(nbrMin, labels("key") === col("nk") && labels("v") === col("nv"), "left")
        .select(
          labels("key"),
          labels("v"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("new_label"),
          labels("decl"),
          (col("nbr_label").isNotNull && col("nbr_label") < col("label")).as("changed"))
      val t0 = System.nanoTime()
      // changed-row probe folded into the materializing action itself
      // (accumulator over the persisted rows, ordinal 4 = `changed`) —
      // one job per iteration where the round-5 loop paid two
      val (cp, cpRdd, changed) =
        graft.core.Materialize.stageCutHandleFlagCount(updated, 4)
      labelsRdd.unpersist(blocking = false) // superseded; cp holds the data
      labelsRdd = cpRdd
      labels = cp.select(col("key"), col("v"), col("new_label").as("label"), col("decl"))
      converged = changed == 0L
      iter += 1
      if (sys.env.contains("GRAFT_STAGE_TIMING"))
        System.err.println(f"[cc-timing] iter=$iter changed=${changed > 0} ${(System.nanoTime() - t0) / 1e9}%6.2f s")
    }
    adjRdd.unpersist(blocking = false)
    if (!converged)
      System.err.println(s"[graft] WARNING: connected components did NOT converge in " +
        s"$maxIter iterations — a component with diameter > $maxIter is split into " +
        s"several labels; raise maxIter (or use large-star/small-star) for this graph")
    (labels.filter(col("decl")).select(col("key"), col("v"), col("label").as("component")),
      labelsRdd)
  }

  /** Large-star/small-star connected components (Kiveris et al. 2014,
    * "Connected Components in MapReduce and Beyond", public algorithm) —
    * the alternating star-contraction whose round count is O(log² n)
    * on ANY graph, vs [[run]]'s min-label propagation whose rounds equal
    * the component diameter. Same contract as [[run]]: (vertices(key,v),
    * edges(key,a,b)) → (key, v, component) with component = min member,
    * ghost endpoints bridge but are not emitted. This is the path for
    * graphs whose diameter is NOT bounded by construction (corpus-global
    * linking chains); per-document graphs use [[UnionFind]] in a cogroup.
    *
    * Each round is two (groupBy + join) passes over the current pair set:
    *   large-star: every neighbor v > u re-attaches to m = min(Γ(u) ∪ {u});
    *   small-star: every neighbor (all < u after large-star) plus u itself
    *   re-attaches to the minimum of the closed neighborhood.
    * Pairs stay oriented u > v throughout, so the evolving relation is a
    * canonical set and the fixpoint test is an exact set compare of two
    * cached iterations, not a checksum. At fixpoint the relation is a
    * star: every non-root points directly at its component minimum. */
  def runBigStar(vertices: DataFrame, edges: DataFrame, maxIter: Int = 40): DataFrame =
    runBigStarHandle(vertices, edges, maxIter)._1

  /** [[runBigStar]] plus the final persisted RDD for deterministic cache
    * release (same discipline as [[runHandle]]). */
  def runBigStarHandle(vertices: DataFrame, edges: DataFrame, maxIter: Int = 40)
      : (DataFrame, org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow]) = {
    // canonical orientation u > v; self-loops dropped; set semantics
    val init = edges
      .select(col("key"), greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    // stage-cut counts ride the materializing action (no second count job)
    var (p, pRdd, prevCount) = graft.core.Materialize.stageCutHandleN(init)
    var iter = 0
    var converged = prevCount == 0L
    while (!converged && iter < maxIter) {
      val t0 = System.nanoTime()
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
      val (cp, cpRdd, curCount) = graft.core.Materialize.stageCutHandleN(small)
      // exact set fixpoint: both sides cached, equal counts + empty diff
      // (the except only runs once counts agree — near convergence)
      converged = curCount == prevCount && cp.except(p).limit(1).count() == 0L
      pRdd.unpersist(blocking = false)
      p = cp; pRdd = cpRdd; prevCount = curCount
      iter += 1
      if (sys.env.contains("GRAFT_STAGE_TIMING"))
        System.err.println(f"[cc-bigstar] iter=$iter pairs=$curCount ${(System.nanoTime() - t0) / 1e9}%6.2f s")
    }
    if (!converged)
      System.err.println(s"[graft] WARNING: large-star/small-star did NOT reach its " +
        s"fixpoint in $maxIter rounds — labels may split a component; raise maxIter")
    // fixpoint relation is a star (u → component min); roots and isolated
    // declared vertices label themselves. min() guards a non-converged
    // partial relation where u could still carry several parents.
    val lbl = p.groupBy("key", "u").agg(min("v").as("m"))
      .select(col("key"), col("u").as("v"), col("m"))
    val out = vertices.select(col("key"), col("v"))
      .join(lbl, Seq("key", "v"), "left")
      .select(col("key"), col("v"), coalesce(col("m"), col("v")).as("component"))
    (out, pRdd)
  }
}
