package graft.query

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Node-centrality analytics over the materialized graph (edges table with
  * (frm, to) endpoint ids — materialize/GraphTables.scala). The dashboard's
  * degree stats (GraphOps.stats) answer "most connected"; PageRank answers
  * "most structurally important", the ranking a KG consumer wants when
  * picking seed entities for community summaries or curriculum ordering.
  */
object Centrality {

  /** Power-iteration PageRank with uniform teleport and dangling-mass
    * redistribution, fixed iteration count (the classic
    * Brin/Page formulation; damping d, rank mass conserved at 1.0):
    *
    * r'(v) = (1-d)/N + d * (sum_{u->v} r(u)/outdeg(u) + dangling/N)
    *
    * Expressed as iterative DataFrame self-joins per BASELINE.json's
    * canonicalization idiom — no RDD, no GraphX:
    *  - the slim edge list, vertices and out-degrees are materialized once
    *    (Materialize.stageCut: plan truncated, RDD lineage kept — cluster-
    *    safe, unlike localCheckpoint, whose blocks are unrecoverable when a
    *    remote fetch fails); the per-iteration work is one (frm)-keyed
    *    equi-join + one (to)-keyed partial-agg sum, both hash shuffles on
    *    the same keys every iteration, so AQE reuses shuffle-partition
    *    sizing and a real cluster co-locates them.
    *  - the dangling-node mass (rank parked on zero-outdegree vertices) is
    *    a one-row aggregate CROSS-JOIN-broadcast back into the update —
    *    never a driver-side collect, so the whole iteration stays on the
    *    executors.
    *  - each iteration materializes its rank table and FREES the superseded
    *    one (same discipline as ConnectedComponents.starRelation): plans
    *    stay O(1) deep instead of O(iterations) — flat driver planning
    *    time — and a run pins exactly one rank-table cache at any moment,
    *    not one per iteration. The edge and degree tables are freed before
    *    returning.
    *
    * High-degree hubs are exactly the rows AQE skew-splits on the (to)
    * aggregation; the (frm) join side is pre-divided by outdeg so hot
    * sources fan out value-free. Returns (id, rank) with rank rounded to
    * 6 decimals; ranks over all vertices sum to 1.
    *
    * The returned frame reads the final cached rank table, which registers
    * with the caller's [[graft.core.Materialize.Scope]] (lineage is kept,
    * so a consumer after the scope closes recomputes instead of failing). */
  def pageRank(edges: DataFrame, frmCol: String = "frm", toCol: String = "to",
               iterations: Int = 10, damping: Double = 0.85): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")
    val spark = edges.sparkSession
    // slim (src, dst) edge list, materialized ONCE — every iteration joins
    // against it; without the cut each iteration re-scans the edges input
    val (e, eRdd, _) = graft.core.Materialize.stageCutHandleN(
      edges.select(col(frmCol).as("src"), col(toCol).as("dst"))
        .filter(col("src").isNotNull && col("dst").isNotNull))
    val vertices = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id")))
      .distinct()
    // (id, deg) for every vertex; deg null => dangling
    val outDeg = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
    val (withDeg, dRdd, n) = graft.core.Materialize.stageCutHandleN(
      vertices.join(outDeg, Seq("id"), "left"))
    try {
      if (n == 0)
        spark.emptyDataFrame
          .withColumn("id", lit(null).cast("string"))
          .withColumn("rank", lit(null).cast("double"))
      else {
        var (ranks, rRdd, _) = graft.core.Materialize.stageCutHandleN(
          withDeg.select(col("id"), lit(1.0 / n).as("rank")))
        val base = (1.0 - damping) / n
        for (_ <- 1 to iterations) {
          val cur = ranks.join(withDeg.select("id", "deg"), Seq("id"))
          val dangling = cur.agg(
            coalesce(sum(when(col("deg").isNull, col("rank"))), lit(0.0)).as("_dm"))
          val contribs = cur.filter(col("deg").isNotNull)
            .join(e, cur("id") === e("src"))
            .select(col("dst").as("id"), (col("rank") / col("deg")).as("c"))
            .groupBy("id").agg(sum("c").as("inflow"))
          val (cp, cpRdd, _) = graft.core.Materialize.stageCutHandleN(
            withDeg.select("id")
              .join(contribs, Seq("id"), "left")
              .crossJoin(broadcast(dangling))
              .select(col("id"),
                (lit(base) + lit(damping) *
                  (coalesce(col("inflow"), lit(0.0)) + col("_dm") / n)).as("rank")))
          rRdd.unpersist(blocking = false) // superseded; cp holds the data
          ranks = cp
          rRdd = cpRdd
        }
        ranks.select(col("id"), round(col("rank"), 6).as("rank"))
      }
    } finally Seq(eRdd, dRdd).foreach(_.unpersist(blocking = false))
  }
}
