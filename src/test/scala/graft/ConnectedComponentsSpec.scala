package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.GraphShapes._
import graft.io.ParquetTableIO
import graft.operators.ConnectedComponents
import graft.util.Checkpoints

class ConnectedComponentsSpec extends SparkSpec {

  private def cc(edges: Seq[(String, String)]): Map[String, String] = {
    import spark.implicits._
    ConnectedComponents
      .run(edges.toDF("src", "dst"))
      .collect()
      .map(r => r.getString(0) -> r.getString(1))
      .toMap
  }

  /** Brute-force transitive closure for the oracle. */
  private def bruteForce(edges: Seq[(String, String)]): Map[String, String] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
    def find(x: String): String = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(if (ra < rb) rb else ra) = if (ra < rb) ra else rb
    }
    nodes.map(n => n -> find(n)).toMap
  }

  private def rmrf(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete()
  }

  test("simple chain collapses to min") {
    val got = cc(Seq(("b", "a"), ("c", "b"), ("d", "c")))
    assert(got == Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "a"))
  }

  test("two components stay separate") {
    val got = cc(Seq(("a", "b"), ("x", "y"), ("y", "z")))
    assert(got("a") == "a" && got("b") == "a")
    assert(got("x") == "x" && got("y") == "x" && got("z") == "x")
  }

  test("matches brute-force closure on random graphs (seeded)") {
    val rng = new scala.util.Random(7)
    (1 to 5).foreach { trial =>
      val n = 30 + rng.nextInt(40)
      val edges = (1 to n).map { _ =>
        (s"n${rng.nextInt(25)}", s"n${rng.nextInt(25)}")
      }.filter(e => e._1 != e._2).distinct
      if (edges.nonEmpty) {
        val expected = bruteForce(edges)
        val got = cc(edges)
        assert(got == expected, s"trial $trial mismatch")
      }
    }
  }

  test("mid-run compaction on a random graph matches the uncompacted run") {
    import spark.implicits._
    val rng = new scala.util.Random(13)
    val edges = (1 to 80)
      .map(_ => (s"u${rng.nextInt(30)}", s"u${rng.nextInt(30)}"))
      .filter(e => e._1 != e._2)
      .distinct
    val df = edges.toDF("src", "dst")
    val plain = ConnectedComponents.run(df).collect().map(r => (r.getString(0), r.getString(1))).toSet
    var idMaps = 0
    val countingIds: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame = ids => {
      idMaps += 1
      graft.util.Checkpoints.serializedLocal(ids)
    }
    val compacted = ConnectedComponents
      .run(df, idSnapshot = Some(countingIds), compactAfter = 1)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(idMaps == 1, "the run must have compacted after its first round")
    assert(plain == compacted)
    assert(plain.toMap == bruteForce(edges))
  }

  test("mid-run compaction + rotating durable checkpoints: idSnapshot keeps the ids map alive") {
    import spark.implicits._
    val rng = new scala.util.Random(29)
    val edges = (1 to 80)
      .map(_ => (s"u${rng.nextInt(30)}", s"u${rng.nextInt(30)}"))
      .filter(e => e._1 != e._2)
      .distinct
    val df = edges.toDF("src", "dst")
    val plain = ConnectedComponents.run(df).collect().map(r => (r.getString(0), r.getString(1))).toSet
    // a rotating iteration snapshot (keepLast = 2, as LinkagePipeline wires
    // for Config.checkpointDir) deletes old checkpoints; the compacted ids
    // map is read again AFTER the last iteration, so it must go through the
    // non-rotating idSnapshot or the final map-back would hit a deleted dir
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-rot").toString
    val rotated = ConnectedComponents
      .run(
        df,
        snapshot = graft.util.Checkpoints.reliable(s"$dir/cc", keepLast = 2),
        idSnapshot = Some(graft.util.Checkpoints.reliable(s"$dir/ids")),
        compactAfter = 1
      )
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(new java.io.File(s"$dir/ids/ck_0").isDirectory, "the run must have compacted mid-run")
    assert(plain == rotated)
    rmrf(new java.io.File(dir))
  }

  test("mid-run auto-compaction on a deep chain matches the uncompacted run") {
    import spark.implicits._
    // a 700-node chain needs ~10 star rounds — past compactAfter = 3, so
    // the loop provably switches the live edge set to long nids mid-run;
    // zero-padded urls keep lexicographic order == numeric order for the
    // brute-force oracle comparison
    val chain = (1 until 700).map(i => (f"c${i - 1}%04d", f"c$i%04d"))
    val df = chain.toDF("src", "dst")
    val auto = ConnectedComponents
      .run(df, compactAfter = 3)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val never = ConnectedComponents
      .run(df, compactAfter = Int.MaxValue)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(auto == never)
    assert(auto.forall(_._2 == "c0000"), "every chain node must link to the min url")
    assert(auto.size == 700)
  }

  // --- adversarial oracle: the label-permuted shapes of GraphShapes, each
  // run alone

  /** The four CC paths: plain, mid-run compaction, mid-run compaction over
    * rotating durable checkpoints with a non-rotating ids map, and the
    * durable resumable run.
    */
  private def ccPaths(edges: DataFrame, dir: String): Seq[(String, DataFrame)] = Seq(
    "run" -> ConnectedComponents.run(edges),
    "compactAfter=2" -> ConnectedComponents.run(edges, compactAfter = 2),
    "compactAfter=2+rotating" -> ConnectedComponents.run(
      edges,
      snapshot = Checkpoints.reliable(s"$dir/cc", keepLast = 2),
      idSnapshot = Some(Checkpoints.reliable(s"$dir/ids")),
      compactAfter = 2
    ),
    "runResumable" -> ConnectedComponents.runResumable(edges, new ParquetTableIO(s"$dir/io", "run1", "cc"))
  )

  private def assertMatchesOracle(edges: Seq[(String, String)]): Unit = {
    import spark.implicits._
    val expected = bruteForce(edges)
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-oracle").toFile
    try ccPaths(edges.toDF("src", "dst"), dir.toString).foreach { case (name, out) =>
      val rows = out.collect().map(r => r.getString(0) -> r.getString(1)).toSeq
      assert(rows.size == rows.map(_._1).distinct.size, s"$name: a node got several cluster_ids on $edges: $rows")
      assert(rows.toMap == expected, s"$name: wrong clustering of $edges")
    }
    finally rmrf(dir)
  }

  test("a-d-e-f-b: the depth-1 exit state with a two-parent node is not converged") {
    // this chain reaches {(d,a),(d,b),(e,a),(f,b)} with a stable count and
    // no node both src and dst, yet d has two parents and b is not linked
    assertMatchesOracle(Seq(("a", "d"), ("d", "e"), ("e", "f"), ("f", "b")))
  }

  test("label-permuted paths, trees and stars, each alone, match the oracle through every CC path") {
    eachConcurrently(shapes)(assertMatchesOracle)
  }

  test("a hub labelled mid-range with 2k leaves on each side matches the oracle through every CC path") {
    assertMatchesOracle(hubStar("n", 2000, new scala.util.Random(41)))
  }

  test("two mid-range hubs bridged by a label-permuted 6-node path match the oracle through every CC path") {
    assertMatchesOracle(twoHubBridge(43))
  }

  test("a run that does not converge within maxIterations throws instead of returning a partial assignment") {
    import spark.implicits._
    val labels = new scala.util.Random(47).shuffle((0 until 12).map(i => f"n$i%02d"))
    val path = labels.sliding(2).map(p => (p(0), p(1))).toSeq.toDF("src", "dst")
    val e = intercept[IllegalStateException](ConnectedComponents.run(path, maxIterations = 1))
    assert(e.getMessage.contains("1 rounds") && e.getMessage.contains("|E| ="), e.getMessage)
  }

  test("result is invariant under repartitioning") {
    import spark.implicits._
    val edges = (1 to 60).map(i => (s"v${i % 23}", s"v${(i * 7) % 23}")).filter(e => e._1 != e._2)
    val df1 = edges.toDF("src", "dst").repartition(1)
    val df8 = edges.toDF("src", "dst").repartition(8, col("src"))
    val r1 = ConnectedComponents.run(df1).collect().map(r => (r.getString(0), r.getString(1))).toSet
    val r8 = ConnectedComponents.run(df8).collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(r1 == r8)
  }
}
