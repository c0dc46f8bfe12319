package perfbench

/** Driver-side connected-components oracle over string node labels:
  * union by size with path halving. `labels` names every node by the
  * minimum label of its component, the contract the engine's
  * ConnectedComponents must meet exactly.
  */
final class UnionFind {
  private val index = scala.collection.mutable.HashMap.empty[String, Int]
  private val names = scala.collection.mutable.ArrayBuffer.empty[String]
  private val parent = scala.collection.mutable.ArrayBuffer.empty[Int]
  private val size = scala.collection.mutable.ArrayBuffer.empty[Int]

  private def id(x: String): Int =
    index.getOrElseUpdate(x, { names += x; parent += names.length - 1; size += 1; names.length - 1 })

  private def find(i0: Int): Int = {
    var i = i0
    while (parent(i) != i) {
      parent(i) = parent(parent(i))
      i = parent(i)
    }
    i
  }

  def union(a: String, b: String): Unit = {
    val ra = find(id(a))
    val rb = find(id(b))
    if (ra != rb) {
      val (big, small) = if (size(ra) >= size(rb)) (ra, rb) else (rb, ra)
      parent(small) = big
      size(big) += size(small)
    }
  }

  /** node -> minimum node label of its component, for every node seen. */
  def labels: Map[String, String] = {
    val minOf = scala.collection.mutable.HashMap.empty[Int, String]
    names.indices.foreach { i =>
      val r = find(i)
      val n = names(i)
      minOf.get(r) match {
        case Some(m) if m <= n => ()
        case _ => minOf(r) = n
      }
    }
    names.indices.iterator.map(i => names(i) -> minOf(find(i))).toMap
  }
}

object UnionFind {
  def labels(edges: Iterable[(String, String)]): Map[String, String] = {
    val uf = new UnionFind
    edges.foreach { case (a, b) => uf.union(a, b) }
    uf.labels
  }

  /** Pairwise (precision, recall, F1) of a predicted assignment against a
    * true one over the same nodes, from cluster-size contingency counts:
    * no pair is enumerated, so it is linear in the node count.
    */
  def pairwiseF1(pred: Map[String, String], truth: Map[String, String]): Double = {
    def pairs(n: Long): Long = n * (n - 1) / 2
    val nodes = pred.keySet ++ truth.keySet
    val cell = nodes.toSeq.groupBy(n => (pred.getOrElse(n, n), truth.getOrElse(n, n))).values.map(_.size.toLong)
    val tp = cell.map(pairs).sum
    val predPairs = nodes.toSeq.groupBy(n => pred.getOrElse(n, n)).values.map(v => pairs(v.size.toLong)).sum
    val truePairs = nodes.toSeq.groupBy(n => truth.getOrElse(n, n)).values.map(v => pairs(v.size.toLong)).sum
    val p = if (predPairs == 0) 1.0 else tp.toDouble / predPairs
    val r = if (truePairs == 0) 1.0 else tp.toDouble / truePairs
    if (p + r == 0) 0.0 else 2 * p * r / (p + r)
  }
}
