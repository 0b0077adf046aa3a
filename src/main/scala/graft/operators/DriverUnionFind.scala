package graft.operators

/**
 * Driver-side union-find with path compression — the small-graph half of
 * [[Closure.connectedComponents]]' cost switch (entity merging and near-dup
 * grouping both go through it), also used directly by
 * `DedupOps.incrementalMinhashDedup` on verified pairs it already holds.
 * Kept generic so a root-preference rule (e.g. numeric min) can be folded
 * into the unions instead of a post-pass.
 */
private[graft] object DriverUnionFind {

  /**
   * @param preferRoot picks the surviving root when two components merge;
   *        must be a selection of one of its two arguments
   * @return member → component root, for every id that appeared in any pair
   *         (self-pairs count as membership, matching the distributed CC)
   */
  def components[K](pairs: IterableOnce[(K, K)])(preferRoot: (K, K) => K): Map[K, K] = {
    val parent = scala.collection.mutable.HashMap[K, K]()
    val seen = scala.collection.mutable.LinkedHashSet[K]()
    def find(x: K): K = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    pairs.iterator.foreach { case (a, b) =>
      seen += a += b
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        val root = preferRoot(ra, rb)
        if (root == ra) parent(rb) = ra else parent(ra) = rb
      }
    }
    seen.iterator.map(m => m -> find(m)).toMap
  }
}
