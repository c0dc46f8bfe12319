package graft

import graft.operators.Assignment

class AssignmentSpec extends SparkSpec {
  import spark.implicits._

  test("matchRound: mutual bests pair up, one-sided bests don't") {
    // a-b 0.9 mutual; c's best is a (taken? no — single round: best(c)=a
    // via 0.8 but best(a)=b, so c stays unmatched); c-d 0.85 mutual beats
    // c-a 0.8 -> actually best(c)=d (0.85 > 0.8) and best(d)=c -> match
    val edges = Seq(("a", "b", 0.9), ("a", "c", 0.8), ("c", "d", 0.85)).toDF("u", "v", "score")
    val got = Assignment
      .matchRound(edges)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      .toSet
    assert(got === Set(("a", "b", 0.9), ("c", "d", 0.85)))
  }

  test("matchRound ties break on the smaller partner id (deterministic)") {
    val edges = Seq(("a", "b", 0.7), ("a", "c", 0.7)).toDF("u", "v", "score")
    val got = Assignment
      .matchRound(edges)
      .collect()
      .map(r => (r.getString(0), r.getString(1)))
      .toSet
    assert(got === Set(("a", "b"))) // b < c; c's best is a but a prefers b
  }

  test("matching peels: second-choice pairs match in later rounds") {
    // chain a-b 0.9, b-c 0.85, c-d 0.8: round 1 matches (a,b) — c's best
    // partner b is one-sided; round 2 pool {c,d} matches (c,d)
    val edges = Seq(("a", "b", 0.9), ("b", "c", 0.85), ("c", "d", 0.8)).toDF("u", "v", "score")
    val got = Assignment
      .matching(edges)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(3)))
      .toSet
    assert(got === Set(("a", "b", 1), ("c", "d", 2)))
  }

  test("matchRound is orientation-agnostic: flipped input orientation still matches") {
    // the r5 oneToOne bug: table-keyed orientation where v sorts BELOW u
    // silently dropped the pair (the old final join required the input's
    // orientation); the rewrite emits canonical u < v regardless
    val flipped = Seq(("b", "a", 0.9)).toDF("u", "v", "score") // a < b but given as (b, a)
    val got = Assignment
      .matchRound(flipped)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      .toSet
    assert(got === Set(("a", "b", 0.9)))
  }

  test("matchRound ignores null scores and carries the argmax score through") {
    val edges = Seq(
      ("a", "b", java.lang.Double.valueOf(0.9)),
      ("a", "c", null.asInstanceOf[java.lang.Double])
    ).toDF("u", "v", "score")
    val got = Assignment
      .matchRound(edges)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      .toSet
    assert(got === Set(("a", "b", 0.9)))
  }

  test("matching is a matching: no node appears twice; empty input yields empty output") {
    val edges = Seq(
      ("a", "b", 0.9), ("a", "c", 0.8), ("b", "c", 0.7),
      ("d", "e", 0.6), ("d", "f", 0.6), ("e", "f", 0.5)
    ).toDF("u", "v", "score")
    val m = Assignment.matching(edges).collect()
    val nodes = m.flatMap(r => Seq(r.getString(0), r.getString(1)))
    assert(nodes.distinct.length === nodes.length, s"node matched twice: ${m.mkString(",")}")
    val empty = Assignment.matching(edges.limit(0))
    assert(empty.columns.toSeq === Seq("u", "v", "score", "round") && empty.count() === 0)
  }

  /** Sequential global greedy matching: edges by descending score, taken
    * when both ends are still free. Returns canonical (u < v, score) pairs.
    */
  private def greedy(edges: Seq[(String, String, Double)]): Set[(String, String, Double)] = {
    val used = scala.collection.mutable.Set.empty[String]
    edges.sortBy(-_._3).collect {
      case (a, b, s) if !used(a) && !used(b) =>
        used += a += b
        if (a < b) (a, b, s) else (b, a, s)
    }.toSet
  }

  private def peel(edges: Seq[(String, String, Double)], maxRounds: Int): Seq[(String, String, Double, Int)] =
    Assignment
      .matching(edges.toDF("u", "v", "score"), maxRounds)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getInt(3)))
      .toSeq

  test("label-permuted paths, trees and stars with distinct scores: the peel equals global greedy") {
    val rng = new scala.util.Random(61)
    val cases = GraphShapes.shapes.map { es =>
      val scores = rng.shuffle((1 to es.size).toVector).map(_.toDouble / (es.size + 1))
      es.zip(scores).map { case ((a, b), s) => (a, b, s) }
    }
    GraphShapes.eachConcurrently(cases) { es =>
      val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct.size
      val got = peel(es, maxRounds = nodes)
      assert(got.map(m => (m._1, m._2, m._3)).toSet === greedy(es), s"on $es")
    }
  }

  test("a 20-node chain with decreasing scores peels in 10 rounds and throws at the default cap of 8") {
    // one pair per round: each next pair's best partner was the one just taken
    val chain = (0 until 19).map(i => (f"c$i%02d", f"c${i + 1}%02d", 1.0 - i / 100.0))
    val full = peel(chain, maxRounds = 10)
    assert(full.map(_._4).sorted === (1 to 10))
    assert(full.map(m => (m._1, m._2, m._3)).toSet === greedy(chain))
    val e = intercept[IllegalStateException](Assignment.matching(chain.toDF("u", "v", "score")))
    assert(e.getMessage.contains("8 rounds") && e.getMessage.contains("|E| = 3"), e.getMessage)
  }
}
