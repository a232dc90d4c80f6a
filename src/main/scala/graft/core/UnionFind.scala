package graft.core

import scala.collection.mutable

/** Driver-side union-find with path compression + union by rank.
  *
  * The driver arm of [[graft.operators.ConnectedComponents]]: graphs up
  * to its edge gate are closed here, larger ones by distributed
  * large-star/small-star rounds. It replaces the reference's
  * adjacency-map BFS graph (reference: DBSCANGraph.scala:36-87), which
  * merges local cluster ids across spatial partitions.
  */
final class UnionFind[T] {
  private val parent = mutable.HashMap.empty[T, T]
  private val rank = mutable.HashMap.empty[T, Int]

  def add(x: T): Unit = if (!parent.contains(x)) { parent(x) = x; rank(x) = 0 }

  def find(x: T): T = {
    add(x)
    var root = x
    while (parent(root) != root) root = parent(root)
    // path compression
    var cur = x
    while (parent(cur) != root) {
      val next = parent(cur)
      parent(cur) = root
      cur = next
    }
    root
  }

  def union(a: T, b: T): Unit = {
    val ra = find(a)
    val rb = find(b)
    if (ra != rb) {
      if (rank(ra) < rank(rb)) parent(ra) = rb
      else if (rank(ra) > rank(rb)) parent(rb) = ra
      else { parent(rb) = ra; rank(ra) += 1 }
    }
  }

  def connected(a: T, b: T): Boolean = find(a) == find(b)

  def elements: Iterable[T] = parent.keys
}
