package graft.community

import scala.collection.mutable

/** Deterministic modularity-based local community refinement — the role
  * leidenalg's ModularityVertexPartition plays in the reference
  * (eschergraph/graph/community_alg.py:25-50).
  *
  * Connected components alone make every component one community (no
  * crossing edges, unlike Leiden); this refinement runs greedy modularity
  * local moves *inside* each component. Components are per-document and
  * small by construction (entity graphs of single documents), so the
  * refinement runs inside the community layer's per-document cogroup; a
  * size cap keeps pathological components as single communities rather
  * than blowing up a task (documented scale valve).
  *
  * Deterministic: nodes are visited in sorted-id order, ties broken by
  * smallest community index, so the partition is a pure function of the
  * component's edge set.
  */
object LocalCommunities {

  val MaxRefineSize = 10000

  /** members: component's node ids; edges: intra-component undirected
    * edges (may repeat). Returns node id -> sub-community index, indices
    * dense from 0, numbered by first (smallest) member id. */
  def refine(members: Vector[String], edges: Vector[(String, String)]): Map[String, Int] = {
    val sorted = members.distinct.sorted
    val n = sorted.length
    if (n <= 2 || n > MaxRefineSize) return sorted.map(_ -> 0).toMap
    val idx = sorted.zipWithIndex.toMap

    val adj = Array.fill(n)(mutable.LinkedHashMap[Int, Double]())
    var m2 = 0.0
    edges.foreach { case (a, b) =>
      for (ia <- idx.get(a); ib <- idx.get(b); if ia != ib) {
        adj(ia)(ib) = adj(ia).getOrElse(ib, 0.0) + 1.0
        adj(ib)(ia) = adj(ib).getOrElse(ia, 0.0) + 1.0
        m2 += 2.0
      }
    }
    if (m2 == 0.0) return sorted.map(_ -> 0).toMap

    val deg = Array.tabulate(n)(i => adj(i).values.sum)
    val comm = Array.tabulate(n)(identity)
    val commDeg = deg.clone()

    var changed = true
    var rounds = 0
    while (changed && rounds < 20) {
      changed = false
      rounds += 1
      var i = 0
      while (i < n) {
        val old = comm(i)
        commDeg(old) -= deg(i)
        // links from i to each neighboring community
        val linksTo = mutable.Map[Int, Double]().withDefaultValue(0.0)
        adj(i).foreach { case (j, w) => linksTo(comm(j)) += w }
        // candidate communities: neighbors' + staying alone in old
        var bestC = old
        var bestGain = linksTo(old) - deg(i) * commDeg(old) / m2
        linksTo.keys.toSeq.sorted.foreach { c =>
          val gain = linksTo(c) - deg(i) * commDeg(c) / m2
          if (gain > bestGain + 1e-12 || (math.abs(gain - bestGain) <= 1e-12 && c < bestC)) {
            bestGain = gain
            bestC = c
          }
        }
        if (bestC != old) changed = true
        comm(i) = bestC
        commDeg(bestC) += deg(i)
        i += 1
      }
    }
    // dense re-labeling in order of smallest member index
    val relabel = mutable.LinkedHashMap[Int, Int]()
    (0 until n).foreach(i => relabel.getOrElseUpdate(comm(i), relabel.size))
    sorted.indices.map(i => sorted(i) -> relabel(comm(i))).toMap
  }
}
