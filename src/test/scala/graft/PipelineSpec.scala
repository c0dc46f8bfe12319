package graft

import org.apache.spark.sql.functions._

import graft.eval.PairwiseEval
import graft.pipeline.LinkagePipeline
import graft.synth.WebCorpus

class PipelineSpec extends SparkSpec {

  private val cfg = WebCorpus.Config(numClusters = 120, seed = 42L)

  lazy val pages = WebCorpus.pages(spark, cfg).toDF.cache()
  lazy val gold = WebCorpus.goldPairs(spark, cfg).toDF.cache()

  test("synthetic corpus is deterministic and well-formed") {
    val n = pages.count()
    assert(n > 200)
    assert(pages.select("url").distinct().count() == n, "urls must be unique")
    val again = WebCorpus.pages(spark, cfg).toDF
    assert(again.exceptAll(pages).isEmpty && pages.exceptAll(again).isEmpty)
    assert(gold.count() > 100)
  }

  test("end-to-end linkage reaches pairwise F1 >= 0.99 on planted gold") {
    val preds = LinkagePipeline.run(pages).cache()
    assert(preds.count() == pages.count())
    val m = PairwiseEval.metrics(preds.select("url", "cluster_id"), gold)
    info(s"tp=${m.tp} fp=${m.fp} fn=${m.fn} p=${m.precision} r=${m.recall} f1=${m.f1}")
    assert(m.f1 >= 0.99, s"F1 ${m.f1} below target (tp=${m.tp} fp=${m.fp} fn=${m.fn})")
  }

  test("per-row invariant: text byte-identical per url") {
    val preds = LinkagePipeline.run(pages)
    val cmp = preds
      .select(col("url"), col("text").as("out_text"))
      .join(pages.select(col("url"), col("text").as("in_text")), "url")
      .where(col("out_text") =!= col("in_text") || col("out_text").isNull)
    assert(cmp.count() == 0)
  }

  test("seq is a deterministic dense total order by url") {
    val preds = LinkagePipeline.run(pages)
    val n = preds.count()
    assert(preds.select("seq").distinct().count() == n)
    assert(preds.agg(min("seq"), max("seq")).collect()(0) match {
      case r => r.getLong(0) == 1L && r.getLong(1) == n
    })
    // order by seq == order by url
    val mismatch = preds
      .withColumn("rk", row_number().over(org.apache.spark.sql.expressions.Window.orderBy("url")))
      .where(col("rk").cast("long") =!= col("seq"))
    assert(mismatch.count() == 0)
  }

  test("seq is identical across range-partition counts (boundary independence)") {
    // the range exchange takes its width from the session: with AQE
    // coalescing off, each width is a real range-partition count
    val df = pages.select("url", "text")
    def seqs(width: Int) = withConf(
      "spark.sql.shuffle.partitions" -> width.toString,
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false"
    ) {
      graft.util.DeterministicSeq
        .assign(df, "url")
        .select("url", "seq").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    }
    assert(seqs(16) == seqs(64))
    // and the single-range degenerate case
    assert(seqs(16) == seqs(1))
  }

  test("zero-weight scoring legs skip their kernel without changing the combined score") {
    import graft.operators.{Blocker, PairScorer}
    val corpus = pages.select("url", "text")
    val keys = Blocker.allKeys(corpus, LinkagePipeline.Config().strategies)
    val pairs = Blocker.pairs(keys, 1000)
    val feats = PairScorer.features(corpus)
    val full = PairScorer
      .score(pairs, feats, PairScorer.Weights(jw = 0.0, lev = 1.0, cosine = 0.0))
      .select("urlA", "urlB", "score")
    val ref = PairScorer
      .score(pairs, feats, PairScorer.Weights(jw = 1e-300, lev = 1.0, cosine = 1e-300))
      .select(
        col("urlA"),
        col("urlB"),
        // reconstruct the lev-only score from the all-kernels run
        graft.functions.Normalize.clamp01(col("lev") * 1.0).as("score")
      )
    assert(full.exceptAll(ref.select("urlA", "urlB", "score")).count() === 0)
    assert(ref.select("urlA", "urlB", "score").exceptAll(full).count() === 0)
  }

  test("per-key threshold table overrides the constant threshold") {
    import spark.implicits._
    import graft.operators.PairScorer
    val scored = Seq(
      ("a", "b", "u:x", 0.65),
      ("c", "d", "d:y#s#3", 0.65), // salted key matches its base key
      ("e", "f", "m:z", 0.65)
    ).toDF("urlA", "urlB", "key", "score")
    val perKey = Seq(("u:x", 0.6), ("d:y", 0.9)).toDF("key", "threshold")
    val w = PairScorer.Weights(threshold = 0.7)
    // constant threshold rejects all three
    assert(PairScorer.threshold(scored, w).count() == 0)
    // per-key: u:x lowered to 0.6 -> accepted; d:y raised to 0.9 -> rejected;
    // m:z falls back to the constant 0.7 -> rejected
    val out = PairScorer.threshold(scored, w, Some(perKey)).select("key").collect().map(_.getString(0))
    assert(out.toSeq == Seq("u:x"))
  }

  test("per-key thresholds wire through Config end-to-end") {
    import graft.operators.Blocker
    val cfgDefault = LinkagePipeline.Config()
    // a threshold table covering EVERY blocking key at an impossible 1.01:
    // all pairs get the per-key value (clamped scores max at 1.0) -> zero
    // links; keys absent from the table would fall back to the constant
    val allKeys = Blocker
      .allKeys(pages.select("url", "text"), cfgDefault.strategies)
      .select("key")
      .distinct()
      .withColumn("threshold", lit(1.01))
    val strictOut =
      LinkagePipeline.run(pages, cfgDefault.copy(perKeyThresholds = Some(allKeys)))
    val defaultLinked = LinkagePipeline.run(pages).where(col("status") === "linked").count()
    val strictLinked = strictOut.where(col("status") === "linked").count()
    info(s"default linked=$defaultLinked, all-keys-at-1.01 linked=$strictLinked")
    assert(defaultLinked > 0)
    assert(strictLinked == 0)
  }

  test("clusters are identical across parallelism levels (repartition)") {
    val a = LinkagePipeline.run(pages.repartition(2))
      .select("url", "cluster_id").collect().map(r => (r.getString(0), r.getString(1))).toSet
    val b = LinkagePipeline.run(pages.repartition(13))
      .select("url", "cluster_id").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(a == b)
  }

  test("deep-chain corpus compacts CC ids mid-run, plain and durable (checkpointDir) alike") {
    import spark.implicits._
    // identical texts under distinct canonical urls, linked only by a
    // window-2 sorted-neighborhood pass over url: the accepted edges are
    // one url-sorted path of 500 pages, which needs 9 star rounds — past
    // the default compactAfter = 8, so the ids map is built mid-run
    val chain = (0 until 500)
      .map(i => (f"https://chain.example/p$i%04d", "the same page body under another address"))
      .toDF("url", "text")
    val cfg = LinkagePipeline.Config(strategies = Seq(graft.operators.CanonicalUrlBlocking), windowPasses = Seq(("url", 2)))
    val plain = LinkagePipeline.run(chain, cfg)
      .select("url", "cluster_id", "seq").collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(plain.size == 500 && plain.forall(_._2 == "https://chain.example/p0000"), "one cluster rooted at the min url")
    // compaction + durable: the ids map rides its own NON-rotating root,
    // so the final map-back cannot read a rotated-away checkpoint
    val ckDir = java.nio.file.Files.createTempDirectory("graft-ck-compact").toString
    val durable = LinkagePipeline
      .run(chain, cfg.copy(checkpointDir = Some(ckDir)))
      .select("url", "cluster_id", "seq").collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(durable == plain)
    val idCks = new java.io.File(s"$ckDir/cc-ids").list()
    assert(idCks != null && idCks.contains("ck_0"), String.valueOf(idCks))
  }

  test("durable checkpointDir run matches the localCheckpoint run exactly") {
    val ckDir = java.nio.file.Files.createTempDirectory("graft-ck").toString
    val plain = LinkagePipeline.run(pages)
      .select("url", "cluster_id", "seq").collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val durable = LinkagePipeline
      .run(pages, LinkagePipeline.Config(checkpointDir = Some(ckDir)))
      .select("url", "cluster_id", "seq").collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(durable == plain)
    // the edge set persisted durably; CC iterations rotate keep-last-2
    val acceptedCks = new java.io.File(s"$ckDir/accepted").list()
    assert(acceptedCks != null && acceptedCks.contains("ck_0"), String.valueOf(acceptedCks))
    val ccCks = new java.io.File(s"$ckDir/cc").list()
    assert(ccCks != null && ccCks.count(_.startsWith("ck_")) >= 1, String.valueOf(ccCks))
    assert(ccCks.count(_.startsWith("ck_")) <= 2, s"CC checkpoints must rotate: ${ccCks.mkString(",")}")
  }
}
