package graft.link

import scala.collection.mutable

/** Union-find over the vertices of ONE bounded group — a document's
  * entity names or its graph nodes — the fold shared by the linker's and
  * the community layer's per-document cogroups.
  *
  * Keys are interned to dense `Int` indices in first-seen order and the
  * forest is an `Int` array, so [[find]]'s path compression writes only
  * the array: the key map is insert-only, and a caller may iterate its
  * own keys while calling [[find]] without any map growing under it.
  * Union by smaller index, so a root is the first-seen member of its
  * component; callers that need a label use a content-defined one (the
  * min member) or treat roots as opaque grouping keys.
  *
  * Ghost endpoints are allowed: an edge endpoint never declared by the
  * caller is interned like any key and bridges components; callers emit
  * only the keys they declared.
  */
final class UnionFind[K] {
  private val index = mutable.HashMap.empty[K, Int]
  private var parent = new Array[Int](16)

  /** Root index of `k`'s component (`k` joins as a singleton if unseen). */
  def find(k: K): Int = {
    val i = index.getOrElse(k, {
      val j = index.size
      if (j == parent.length) parent = java.util.Arrays.copyOf(parent, 2 * j)
      parent(j) = j
      index.update(k, j)
      j
    })
    var r = i
    while (parent(r) != r) r = parent(r)
    var c = i
    while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
    r
  }

  def union(a: K, b: K): Unit = {
    val ra = find(a); val rb = find(b)
    if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
  }
}
