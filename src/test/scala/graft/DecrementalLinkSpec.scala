package graft

import org.apache.spark.sql.functions._

import graft.operators.IncrementalLinkage
import graft.pipeline.LinkagePipeline
import graft.synth.WebCorpus

/** Decremental linkage (IncrementalLinkage.remove): delete-vs-rerun
  * equivalence, bridge splits, label handoff when the removed url WAS the
  * cluster label, tombstone idempotence, and index maintenance.
  */
class DecrementalLinkSpec extends SparkSpec {

  import spark.implicits._

  private val cfg = WebCorpus.Config(numClusters = 110, seed = 11L)
  lazy val pages = WebCorpus.pages(spark, cfg).toDF.cache()

  test("remove == full rerun over (base \\ removed): labels, status, seq exact") {
    // remove a pseudo-random ~quarter of the corpus, including docs inside
    // planted clusters (splits + label handoffs) and cluster-min urls
    val rmUrls = pages.where(pmod(xxhash64(col("url")), lit(4)) === 0).select("url").cache()
    assert(rmUrls.count() > 0)

    val pipeCfg = LinkagePipeline.Config()
    val basePred = LinkagePipeline.run(pages, pipeCfg).cache()
    val index = IncrementalLinkage.buildIndex(pages, pipeCfg)
    val out = IncrementalLinkage.remove(rmUrls, basePred, index, pipeCfg)

    val reduced = pages.join(rmUrls, Seq("url"), "left_anti")
    val rerun = LinkagePipeline.run(reduced, pipeCfg)

    val cols = Seq("url", "cluster_id", "status", "seq")
    val want = rerun.select(cols.map(col): _*).orderBy("url").collect()
    val got = out.predictions.select(cols.map(col): _*).orderBy("url").collect()
    assert(want.length == got.length, s"row counts differ: rerun=${want.length} rm=${got.length}")
    want.zip(got).foreach { case (a, b) => assert(a == b, s"row differs:\n rerun=$a\n rm   =$b") }

    // no removed url survives anywhere
    assert(out.predictions.join(rmUrls, Seq("url"), "left_semi").count() == 0)

    // the reduced index must equal a fresh index over the reduced corpus
    val freshIndex = IncrementalLinkage.buildIndex(reduced, pipeCfg)
    assert(out.index.idfDocs == freshIndex.idfDocs)
    val d1 = out.index.idfDf.orderBy("t").collect().map(r => (r.getLong(0), r.getLong(1)))
    val d2 = freshIndex.idfDf.orderBy("t").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(d1.sameElements(d2), "reduced IDF artifact != fresh reduced artifact")
    val k1 = out.index.keys.orderBy("url", "key").collect()
    val k2 = freshIndex.keys.orderBy("url", "key").collect()
    assert(k1.length == k2.length && k1.zip(k2).forall { case (a, b) => a == b })
  }

  test("removing a bridge doc splits its cluster into the rerun's components") {
    // sliding-window chain under a cosine-only scorer: adjacent docs share
    // 4/6 tokens (cos ~0.54), docs 2 apart share 2/6 (cos ~0.18) — with
    // threshold 0.4 the middle doc is the only bridge
    val toks = "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9".split(" ")
    // shared two-token prefix: the domain strategy's key is
    // domain|tok1|tok2, so all three docs land in ONE block
    def textOf(i: Int) = "chain corp " + toks.slice(2 * i, 2 * i + 6).mkString(" ")
    val chain = Seq(0, 1, 2)
      .map(i => (s"https://chain.example.org/p$i", textOf(i)))
      .toDF("url", "text")
    val pipeCfg = LinkagePipeline.Config(
      weights = graft.operators.PairScorer.Weights(jw = 0.0, lev = 0.0, cosine = 1.0, threshold = 0.4)
    )
    val basePred = LinkagePipeline.run(chain, pipeCfg).cache()
    // precondition: the chain is one 3-doc cluster in the base run
    assert(basePred.select("cluster_id").distinct().count() == 1)

    val index = IncrementalLinkage.buildIndex(chain, pipeCfg)
    val out = IncrementalLinkage.remove(
      Seq("https://chain.example.org/p1").toDF("url"),
      basePred,
      index,
      pipeCfg
    )
    val got = out.predictions
      .select("url", "cluster_id", "status")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .toSet
    // p0 and p2 share no tokens: both become nil singletons
    assert(
      got == Set(
        ("https://chain.example.org/p0", "https://chain.example.org/p0", "nil"),
        ("https://chain.example.org/p2", "https://chain.example.org/p2", "nil")
      ),
      s"got $got"
    )
    // and the rerun agrees
    val rerun = LinkagePipeline.run(chain.where(col("url") =!= "https://chain.example.org/p1"), pipeCfg)
    val want = rerun
      .select("url", "cluster_id", "status")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .toSet
    assert(got == want)
  }

  test("window-refresh removal: new adjacencies link, affected window links survive, == rerun") {
    // canonical-url blocking only (every url its own block -> zero key
    // pairs): windows are the ONLY link source, so removal MUST create new
    // rank adjacencies. Three regimes in one corpus:
    //   a0 junk a2   — removing the junk doc makes two similar singletons
    //                  adjacent: a brand-new link between UNAFFECTED docs
    //   b0~b1 junk b3~b4 — removing the junk bridge makes b1/b3 adjacent:
    //                  two unaffected multi-doc clusters MERGE (mergeMap +
    //                  in-place relabel path)
    //   c0~c1~c2     — removing c2 from a window-linked cluster: the
    //                  surviving window link must be rescored and kept
    def words(seed: Int): String =
      (0 until 60).map(i => f"w${(seed * 31 + i * 7) % 9973}%04d").mkString(" ")
    def tweak(t: String, k: Int): String = t.replaceFirst(s"w$k", s"x$k")
    val simA = words(1000)
    val simB = words(2000)
    val simC = words(3000)
    val docs = Seq(
      "a0" -> simA,
      "a1" -> words(1),
      "a2" -> tweak(simA, 0),
      "b0" -> simB,
      "b1" -> tweak(simB, 0),
      "b2" -> words(2),
      "b3" -> tweak(simB, 1),
      "b4" -> tweak(tweak(simB, 1), 2),
      "c0" -> simC,
      "c1" -> tweak(simC, 0),
      "c2" -> tweak(simC, 1)
    ).toDF("url", "text").cache()
    val rm = Seq("a1", "b2", "c2").toDF("url")

    val pipeCfg = LinkagePipeline.Config(
      strategies = Seq(graft.operators.CanonicalUrlBlocking),
      windowPasses = Seq(("url", 2))
    )
    val basePred = LinkagePipeline.run(docs, pipeCfg).cache()
    // precondition: base has {b0,b1}, {b3,b4}, {c0,c1,c2} linked; a0/a2 nil
    val baseBy = basePred.select("url", "cluster_id").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(baseBy("b0") == baseBy("b1") && baseBy("b3") == baseBy("b4") && baseBy("b1") != baseBy("b3"))
    assert(baseBy("c0") == baseBy("c1") && baseBy("c1") == baseBy("c2"))
    assert(baseBy("a0") != baseBy("a2"))

    val index = IncrementalLinkage.buildIndex(docs, pipeCfg)
    // without the flag the composition refuses loudly
    intercept[IllegalArgumentException](
      IncrementalLinkage.remove(rm, basePred, index, pipeCfg)
    )
    val out = IncrementalLinkage.remove(rm, basePred, index, pipeCfg, windowRefresh = true)

    val rerun = LinkagePipeline.run(docs.join(rm, Seq("url"), "left_anti"), pipeCfg)
    val cols = Seq("url", "cluster_id", "status", "seq")
    val want = rerun.select(cols.map(col): _*).orderBy("url").collect()
    val got = out.predictions.select(cols.map(col): _*).orderBy("url").collect()
    assert(want.length == got.length, s"row counts differ: rerun=${want.length} rm=${got.length}")
    want.zip(got).foreach { case (a, b) => assert(a == b, s"row differs:\n rerun=$a\n rm   =$b") }

    val by = got.map(r => r.getString(0) -> r.getString(1)).toMap
    assert(by("a0") == by("a2"), "new adjacency across the removed doc must link")
    assert(by("b0") == by("b4"), "unaffected clusters bridged by a new adjacency must merge")
    assert(by("c0") == by("c1"), "surviving window link inside the affected cluster lost")
    // the merge relabeled {b3,b4} onto the surviving min label
    val merges = out.mergeMap.collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(merges.contains((baseBy("b3"), by("b0"))), s"mergeMap missing b-cluster merge: $merges")
    // the upsert view covers the unaffected clusters the new adjacency merged
    UpsertPatch.assertReproduces(basePred, out.changed, out.predictions, Some(out.removed))
    out.release()
  }

  test("unknown urls are a no-op; removing nothing returns the base store") {
    val pipeCfg = LinkagePipeline.Config()
    val basePred = LinkagePipeline.run(pages, pipeCfg).cache()
    val index = IncrementalLinkage.buildIndex(pages, pipeCfg)
    val out = IncrementalLinkage.remove(
      Seq("https://never-crawled.example.org/x").toDF("url"),
      basePred,
      index,
      pipeCfg,
      reseq = false
    )
    assert(out.removed.count() == 0)
    assert(out.changed.count() == 0)
    val cols = Seq("url", "cluster_id", "score", "status")
    val want = basePred.select(cols.map(col): _*).orderBy("url").collect()
    val got = out.predictions.select(cols.map(col): _*).orderBy("url").collect()
    assert(want.length == got.length && want.zip(got).forall { case (a, b) => a == b })
  }

  test("changed upsert + tombstones applied onto the base store reproduce predictions") {
    val rmUrls = pages.where(pmod(xxhash64(col("url")), lit(4)) === 0).select("url").cache()
    val basePred = LinkagePipeline.run(pages).cache()
    val index = IncrementalLinkage.buildIndex(pages)
    val out = IncrementalLinkage.remove(rmUrls, basePred, index, reseq = false)

    val changed = out.changed.cache()
    UpsertPatch.assertReproduces(basePred, changed, out.predictions, Some(out.removed))
    // the upsert never ships text
    assert(changed.where(col("text").isNotNull).count() == 0)
    // window configs are refused
    val winCfg = LinkagePipeline.Config(windowPasses = Seq(("substring(url, 1, 30)", 3)))
    intercept[IllegalArgumentException] {
      IncrementalLinkage.remove(rmUrls, basePred, index, winCfg)
    }
  }
}
