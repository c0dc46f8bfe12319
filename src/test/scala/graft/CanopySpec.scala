package graft

import graft.operators.Canopy
import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.functions._
import scala.collection.mutable

class CanopySpec extends SparkSpec {
  import spark.implicits._

  /** Sequential canopy construction in rank order — the KDD 2000 loop.
    * Rank is (xxhash64(id), id), as `pivot` ranks nodes.
    */
  private def sequential[T: Encoder: Ordering](nodes: Seq[T], t1: Seq[(T, T)], t2: Seq[(T, T)]): Set[(T, T)] = {
    val hash: Map[T, Long] = nodes
      .toDF("id")
      .select(col("id"), xxhash64(col("id")))
      .collect()
      .map(r => r.getAs[T](0) -> r.getLong(1))
      .toMap
    def adj(edges: Seq[(T, T)]): Map[T, Set[T]] = {
      val m = mutable.Map.empty[T, mutable.Set[T]]
      edges.foreach { case (a, b) =>
        if (a != b) {
          m.getOrElseUpdate(a, mutable.Set.empty) += b
          m.getOrElseUpdate(b, mutable.Set.empty) += a
        }
      }
      m.view.mapValues(_.toSet).toMap
    }
    val a1 = adj(t1)
    val a2 = adj(t2)
    val candidates = mutable.LinkedHashSet(nodes.sortBy(v => (hash(v), v)): _*)
    val out = mutable.Set.empty[(T, T)]
    while (candidates.nonEmpty) {
      val c = candidates.head
      out += ((c, c))
      a1.getOrElse(c, Set.empty).foreach(u => out += ((u, c)))
      candidates --= a2.getOrElse(c, Set.empty) + c
    }
    // uncovered points (possible only when t2 is not a subset of t1)
    nodes.filterNot(n => out.exists(_._1 == n)).foreach(n => out += ((n, n)))
    out.toSet
  }

  private def parallel[T: Encoder](nodes: Seq[T], t1: Seq[(T, T)], t2: Seq[(T, T)]): Set[(T, T)] = {
    val pairs = Encoders.tuple(implicitly[Encoder[T]], implicitly[Encoder[T]])
    Canopy
      .canopies(
        nodes.toDF("id"),
        spark.createDataset(t1)(pairs).toDF("src", "dst"),
        spark.createDataset(t2)(pairs).toDF("src", "dst")
      )
      .collect()
      .map(r => r.getAs[T](0) -> r.getAs[T](1))
      .toSet
  }

  test("hand case: overlapping canopies, tight removal, isolated center") {
    val nodes = (1L to 6L)
    val t2 = Seq((1L, 2L), (3L, 4L))
    val t1 = t2 ++ Seq((2L, 3L), (4L, 5L)) // looser: extra membership edges
    assert(parallel(nodes, t1, t2) === sequential(nodes, t1, t2))
  }

  test("seeded random graphs: parallel equals sequential (t2 subset of t1)") {
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 4) {
      val n = 25 + trial * 8
      val nodes = (1L to n.toLong)
      val t1 = for {
        a <- 1L to n.toLong; b <- (a + 1) to n.toLong
        if rnd.nextDouble() < 0.15
      } yield (a, b)
      val t2 = t1.filter(_ => rnd.nextDouble() < 0.5)
      assert(parallel(nodes, t1, t2) === sequential(nodes, t1, t2), s"trial $trial")
    }
  }

  test("every node is covered when t2 is a subset of t1") {
    val nodes = (1L to 30L)
    val rnd = new scala.util.Random(3)
    val t1 = for {
      a <- 1L to 30L; b <- (a + 1) to 30L
      if rnd.nextDouble() < 0.2
    } yield (a, b)
    val got = parallel(nodes, t1, t1)
    assert(nodes.toSet === got.map(_._1).toSet)
  }

  test("label-permuted paths, trees and stars: T1 = the shape, T2 = a seeded subset, parallel equals sequential") {
    val rng = new scala.util.Random(67)
    val cases = GraphShapes.shapes.map(t1 => (t1, t1.filter(_ => rng.nextBoolean())))
    GraphShapes.eachConcurrently(cases) { case (t1, t2) =>
      val nodes = t1.flatMap(e => Seq(e._1, e._2)).distinct
      assert(parallel(nodes, t1, t2) === sequential(nodes, t1, t2), s"on T1 = $t1, T2 = $t2")
    }
  }
}
