package perfbench

import org.apache.spark.sql.functions._

import graft.operators.{Blocker, ConnectedComponents, PairScorer}
import graft.pipeline.LinkagePipeline
import graft.util.Checkpoints

/** The flagship's layers called one at a time through their public
  * functions, in `cli/Profile`'s order, each materialized inside its own
  * span. It calls the operators; it never copies their internals.
  */
object ProfileLeg {

  final case class Counts(docs: Long, keyRows: Long, candidatePairs: Long, maxBlockRows: Long, acceptedEdges: Long)

  def run(ctx: Ctx, corpusDir: String): Counts = ctx.span("leg.profile") {
    val cfg = LinkagePipeline.Config()
    val corpus = ctx.spark.read.parquet(corpusDir).select("url", "text")
    val docs = corpus.count()
    val keys = ctx.span("blocking.keys") { Checkpoints.serializedLocal(Blocker.allKeys(corpus, cfg.strategies)) }
    val keyRows = keys.count()
    val pairs = ctx.span("blocking.pairs") { Checkpoints.serializedLocal(Blocker.pairs(keys, cfg.maxBlockSize)) }
    val candidates = pairs.count()
    // the largest block, beside maxBlockSize (where salting starts)
    val maxBlock = ctx.span("blocking.stats") {
      Blocker.skewCensus(keys, cfg.maxBlockSize, topN = 1).collect()(0).getAs[Long]("n")
    }
    val (feats, release) = ctx.span("scoring.features") {
      val (f, r) = PairScorer.featuresWithRelease(corpus)
      (Checkpoints.serializedLocal(f), r)
    }
    val scored = ctx.span("scoring.score") { Checkpoints.serializedLocal(PairScorer.score(pairs, feats, cfg.weights)) }
    val accepted = ctx.span("scoring.threshold") {
      Checkpoints.serializedLocal(PairScorer.threshold(scored, cfg.weights, cfg.perKeyThresholds))
    }
    release()
    val edges = accepted.count()
    val clusters = ctx.span("cc.shallow") {
      Checkpoints.serializedLocal(ConnectedComponents.run(accepted.select(col("urlA").as("src"), col("urlB").as("dst"))))
    }
    ctx.span("pipeline.assemble") { LinkagePipeline.assemblePredictions(corpus, clusters, accepted).count() }
    Counts(docs, keyRows, candidates, maxBlock, edges)
  }
}

/** Deep connected components: `ConnectedComponents.run` with its defaults
  * over a seeded graph of label-permuted paths plus random trees and
  * stars, read from Parquet, with a Parquet write of the assignment as the
  * terminal action; checked label-for-label against a driver-side
  * union-find.
  */
final class Chains(ctx: Ctx, val nodes: Int, name: String = "chains") {
  import ctx.spark.implicits._

  val edgesDir = s"${ctx.work}/$name/edges"
  val outDir = s"${ctx.work}/$name/components"
  var edges = 0L
  private var truth = Map.empty[String, String]

  def generate(): Unit = ctx.span("synth.gen") {
    val g = Chains.graph(ctx.seed, nodes)
    g.toDF("src", "dst").write.mode("overwrite").parquet(edgesDir)
    truth = UnionFind.labels(g)
    edges = g.size.toLong
  }

  def op(): Sample = ctx.timed(edges) {
    ctx.span("cc.run") {
      ConnectedComponents.run(ctx.spark.read.parquet(edgesDir)).write.mode("overwrite").parquet(outDir)
    }
  }

  /** Check the last op's assignment; returns its pairwise F1 against the
    * union-find components.
    */
  def check(): Double = {
    val got = ctx.spark.read.parquet(outDir).collect().map(r => r.getString(0) -> r.getString(1))
    val gotMap = got.toMap
    val wrong = truth.count { case (n, l) => !gotMap.get(n).contains(l) }
    ctx.record(
      name,
      Seq(
        if (got.length != gotMap.size) Some(s"${got.length - gotMap.size} nodes with several labels") else None,
        if (gotMap.size != truth.size) Some(s"${gotMap.size} labelled nodes, union-find has ${truth.size}") else None,
        if (wrong > 0) Some(s"$wrong nodes labelled differently from union-find") else None
      ).flatten
    )
    UnionFind.pairwiseF1(gotMap, truth)
  }
}

object Chains {

  /** Edges of a seeded graph with about `nodes` nodes: 70% of the
    * components are 4-10-node paths, 20% random recursive trees of 4-30
    * nodes, 10% stars of 5-40 nodes. Node labels are a seeded permutation,
    * so label order never follows path order, and each edge's orientation
    * is random.
    */
  def graph(seed: Long, nodes: Int): Vector[(String, String)] = {
    val rng = new scala.util.Random(seed * 1000003L + 17)
    val labels = rng.shuffle((0 until nodes).toVector).map(i => f"n$i%08d")
    val edges = Vector.newBuilder[(String, String)]
    def edge(a: Int, b: Int): Unit =
      if (rng.nextBoolean()) edges += ((labels(a), labels(b))) else edges += ((labels(b), labels(a)))
    var next = 0
    while (next < nodes) {
      val kind = rng.nextDouble()
      val size =
        if (kind < 0.7) 4 + rng.nextInt(7)
        else if (kind < 0.9) 4 + rng.nextInt(27)
        else 5 + rng.nextInt(36)
      val members = next until math.min(next + size, nodes)
      if (members.size >= 2) {
        if (kind < 0.7) members.sliding(2).foreach(p => edge(p(0), p(1)))
        else if (kind < 0.9) members.tail.foreach(m => edge(m, members(rng.nextInt(m - members.head))))
        else members.tail.foreach(m => edge(members.head, m))
      }
      next += size
    }
    edges.result()
  }
}
