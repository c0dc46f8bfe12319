package perfbench

import org.scalatest.funsuite.AnyFunSuite

class UnionFindSpec extends AnyFunSuite {

  /** Components by breadth-first search, labelled by their minimum node. */
  private def bruteForce(edges: Seq[(String, String)]): Map[String, String] = {
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    adj.keys.map { start =>
      val seen = scala.collection.mutable.Set(start)
      var frontier = List(start)
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(adj(_)).filter(seen.add)
      }
      start -> seen.min
    }.toMap
  }

  test("a chain collapses to its minimum label; separate components stay apart") {
    val labels = UnionFind.labels(Seq("d" -> "a", "e" -> "d", "f" -> "e", "b" -> "f", "x" -> "y"))
    assert(labels == Map("a" -> "a", "b" -> "a", "d" -> "a", "e" -> "a", "f" -> "a", "x" -> "x", "y" -> "x"))
  }

  test("equals breadth-first closure on the benchmark's own chain/tree/star graphs") {
    (1 to 5).foreach { seed =>
      val g = Chains.graph(seed, 3000)
      assert(UnionFind.labels(g) == bruteForce(g), s"seed $seed")
    }
  }

  test("equals breadth-first closure on random sparse graphs") {
    val rng = new scala.util.Random(11)
    (1 to 20).foreach { _ =>
      val n = 2 + rng.nextInt(60)
      val edges = Seq.fill(rng.nextInt(80))((s"v${rng.nextInt(n)}", s"v${rng.nextInt(n)}")).filter { case (a, b) => a != b }
      assert(UnionFind.labels(edges) == bruteForce(edges))
    }
  }

  test("benchmark graphs: every node is in an edge, the seed fixes the graph") {
    val g = Chains.graph(7, 1000)
    assert(g == Chains.graph(7, 1000))
    assert(g != Chains.graph(8, 1000))
    assert(g.flatMap { case (a, b) => Seq(a, b) }.toSet.size == 1000)
  }

  test("pairwise F1 from contingency counts") {
    val truth = Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "d")
    assert(UnionFind.pairwiseF1(truth, truth) == 1.0)
    // predicted {a,b} {c} {d}: tp = 1 of 3 true pairs, precision 1
    val pred = Map("a" -> "a", "b" -> "a", "c" -> "c", "d" -> "d")
    assert(math.abs(UnionFind.pairwiseF1(pred, truth) - 2 * (1.0 * (1.0 / 3)) / (1.0 + 1.0 / 3)) < 1e-12)
    // predicted all together: 6 pairs, 3 true
    val lumped = truth.map { case (k, _) => k -> "a" }
    assert(math.abs(UnionFind.pairwiseF1(lumped, truth) - 2 * 0.5 * 1.0 / 1.5) < 1e-12)
  }
}
