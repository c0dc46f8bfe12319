package graft

import graft.operators.CorrelationClustering
import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.functions._
import scala.collection.mutable

class CorrelationClusteringSpec extends SparkSpec {
  import spark.implicits._

  /** Sequential KwikCluster in rank order — the published algorithm the
    * parallel peeling must reproduce exactly (CDK14 Lemma 1). Rank is
    * (xxhash64(id), id), as `pivot` ranks nodes.
    */
  private def sequential[T: Encoder: Ordering](edges: Seq[(T, T)]): Map[T, T] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val hash: Map[T, Long] =
      nodes
        .toDF("id")
        .select(col("id"), xxhash64(col("id")))
        .collect()
        .map(r => r.getAs[T](0) -> r.getLong(1))
        .toMap
    val adj = mutable.Map.empty[T, mutable.Set[T]]
    edges.foreach { case (a, b) =>
      if (a != b) {
        adj.getOrElseUpdate(a, mutable.Set.empty) += b
        adj.getOrElseUpdate(b, mutable.Set.empty) += a
      }
    }
    val assign = mutable.Map.empty[T, T]
    for (v <- nodes.sortBy(v => (hash(v), v)) if !assign.contains(v)) {
      assign(v) = v
      adj.getOrElse(v, mutable.Set.empty).foreach { u =>
        if (!assign.contains(u)) assign(u) = v
      }
    }
    assign.toMap
  }

  private def parallel[T: Encoder](edges: Seq[(T, T)]): Map[T, T] =
    CorrelationClustering
      .pivot(spark.createDataset(edges)(Encoders.tuple(implicitly[Encoder[T]], implicitly[Encoder[T]])).toDF("src", "dst"))
      .collect()
      .map(r => r.getAs[T](0) -> r.getAs[T](1))
      .toMap

  test("path graph: parallel peeling equals sequential KwikCluster") {
    val edges = (1L to 9L).map(i => (i, i + 1))
    assert(parallel(edges) === sequential(edges))
  }

  test("two cliques joined by one bridge: bridge does not chain everything") {
    val c1 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val c2 = for (a <- 11L to 14L; b <- (a + 1) to 14L) yield (a, b)
    val edges = c1 ++ c2 ++ Seq((4L, 11L))
    val got = parallel(edges)
    assert(got === sequential(edges))
    // correlation clustering's point vs connected components: > 1 cluster
    assert(got.values.toSet.size > 1)
  }

  test("seeded random graphs match sequential KwikCluster") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 5) {
      val n = 20 + trial * 10
      val edges = for {
        a <- 1L to n.toLong
        b <- (a + 1) to n.toLong
        if rnd.nextDouble() < 0.12
      } yield (a, b)
      assert(parallel(edges) === sequential(edges), s"trial $trial (n=$n)")
    }
  }

  test("self-loops dropped; isolated-by-peeling nodes become singletons") {
    // star 1-(2,3,4) plus 5-6; rank decides pivots, every node gets a row
    val edges = Seq((1L, 1L), (1L, 2L), (1L, 3L), (1L, 4L), (5L, 6L))
    val got = parallel(edges)
    assert(got.keySet === Set(1L, 2L, 3L, 4L, 5L, 6L))
    assert(got === sequential(edges.filter(e => e._1 != e._2)))
  }

  test("label-permuted paths, trees and stars, each alone, equal sequential KwikCluster") {
    GraphShapes.eachConcurrently(GraphShapes.shapes)(es => assert(parallel(es) === sequential(es), s"on $es"))
  }

  test("two mid-range hubs bridged by a label-permuted path equal sequential KwikCluster") {
    val edges = GraphShapes.twoHubBridge(43)
    assert(parallel(edges) === sequential(edges))
  }
}
