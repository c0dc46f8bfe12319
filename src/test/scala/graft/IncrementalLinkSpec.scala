package graft

import org.apache.spark.sql.functions._

import graft.operators.IncrementalLinkage
import graft.pipeline.LinkagePipeline
import graft.synth.WebCorpus

/** Incremental linkage (operators/IncrementalLinkage): delta-vs-rerun
  * equivalence, the merge semantics, and the "old-old pairs are never
  * generated" cost contract.
  */
class IncrementalLinkSpec extends SparkSpec {

  import spark.implicits._

  private val cfg = WebCorpus.Config(numClusters = 110, seed = 7L)
  lazy val pages = WebCorpus.pages(spark, cfg).toDF.cache()

  test("incremental link == full rerun over the union (exact, incl. labels, scores, seq)") {
    // split pseudo-randomly by url hash so planted clusters straddle the
    // base/delta boundary: deltas attach to existing clusters, merge them,
    // and form new ones — all three regimes in one corpus
    val base = pages.where(pmod(xxhash64(col("url")), lit(3)) =!= 0).cache()
    val delta = pages.where(pmod(xxhash64(col("url")), lit(3)) === 0).cache()
    assert(base.count() > 0 && delta.count() > 0)

    val pipeCfg = LinkagePipeline.Config() // default cap 1000: no oversized blocks at this size
    val full = LinkagePipeline.run(pages, pipeCfg)
    val basePred = LinkagePipeline.run(base, pipeCfg).cache()
    val index = IncrementalLinkage.buildIndex(base, pipeCfg)
    val inc = IncrementalLinkage.link(delta, basePred, index, pipeCfg)

    // labels/status/seq must be EXACT. Scores: exact for delta urls (scored
    // at union IDF); old urls keep max(base-time score, new edges) — the
    // rerun rescores old-old pairs under union IDF, the incremental path
    // deliberately freezes them (contract condition 3), so old-url scores
    // may differ in the IDF term while the partition stays identical.
    val cols = Seq("url", "cluster_id", "status", "seq")
    val f = full.select(cols.map(col): _*).orderBy("url").collect()
    val i = inc.predictions.select(cols.map(col): _*).orderBy("url").collect()
    assert(f.length == i.length, s"row counts differ: full=${f.length} inc=${i.length}")
    f.zip(i).foreach { case (a, b) => assert(a == b, s"row differs:\n full=$a\n inc =$b") }
    val deltaUrls = delta.select("url").as[String].collect().toSet
    val fScores = full.select("url", "score").collect().map(r => r.getString(0) -> r).toMap
    inc.predictions.select("url", "score").collect().foreach { r =>
      val url = r.getString(0)
      val fr = fScores(url)
      if (deltaUrls(url))
        assert(r.get(1) == fr.get(1), s"delta url $url score ${r.get(1)} != rerun ${fr.get(1)}")
      else if (!fr.isNullAt(1))
        // old url: frozen base score vs union-rescored — may differ in the
        // IDF term, but never disagree about HAVING an accepted edge
        assert(!r.isNullAt(1), s"old url $url lost its score")
    }

    // the updated index must equal a fresh union index (additive IDF)
    val unionIndex = IncrementalLinkage.buildIndex(pages, pipeCfg)
    assert(inc.index.idfDocs == unionIndex.idfDocs)
    val d1 = inc.index.idfDf.orderBy("t").collect().map(r => (r.getLong(0), r.getLong(1)))
    val d2 = unionIndex.idfDf.orderBy("t").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(d1.sameElements(d2), "combined IDF artifact != fresh union artifact")
  }

  test("candidatePairs skips old-old pairs but keeps new-new and new-old") {
    val newKeys = Seq(("n1", "k1"), ("n2", "k1"), ("n9", "lonely")).toDF("url", "key")
    val oldKeys = Seq(("o1", "k1"), ("o2", "k1"), ("o3", "k2")).toDF("url", "key")
    val got = IncrementalLinkage
      .candidatePairs(newKeys, oldKeys)
      .select("urlA", "urlB")
      .collect()
      .map(r => (r.getString(0), r.getString(1)))
      .toSet
    val want = Set(("n1", "n2"), ("n1", "o1"), ("n1", "o2"), ("n2", "o1"), ("n2", "o2"))
    assert(got == want, s"got $got")
  }

  test("contractAndCluster merges base clusters through a bridging delta doc") {
    val accepted = Seq(("n1", "o1", 0.9), ("n1", "o2", 0.8)).toDF("urlA", "urlB", "score")
    val baseAssign = Seq(("o1", "a0"), ("o2", "b0")).toDF("url", "cluster_id")
    val r = IncrementalLinkage.contractAndCluster(accepted, baseAssign)
    val merges = r.mergeMap.collect().map(x => (x.getString(0), x.getString(1))).toSet
    assert(merges == Set(("b0", "a0")), s"got $merges") // min("a0","b0","n1") = a0
    val assign = r.assignments.collect().map(x => (x.getString(0), x.getString(1))).toMap
    assert(assign == Map("n1" -> "a0", "a0" -> "a0", "b0" -> "a0"))
  }

  test("upsert view applied onto the base store reproduces the full output") {
    val base = pages.where(pmod(xxhash64(col("url")), lit(3)) =!= 0).cache()
    val delta = pages.where(pmod(xxhash64(col("url")), lit(3)) === 0).cache()
    val basePred = LinkagePipeline.run(base).cache()
    val index = IncrementalLinkage.buildIndex(base)
    val inc = IncrementalLinkage.link(delta, basePred, index, reseq = false)

    val changed = inc.changed.cache()
    UpsertPatch.assertReproduces(basePred, changed, inc.predictions)
    // the upsert never re-ships base text, and is small: every changed old
    // row carries null text
    val oldChanged = changed.join(basePred.select("url"), Seq("url"), "left_semi")
    assert(oldChanged.where(col("text").isNotNull).count() == 0, "old upsert rows must not carry text")
  }

  test("window-refresh: increment with sorted-neighborhood passes == full rerun under append-ordered keys") {
    // Corpus built so window passes are the ONLY link source: blocking is
    // canonical-url alone (every url its own block -> zero key pairs) and
    // the near-matches sort adjacently by url. Append-ordered window key:
    // every delta url ("d…") sorts after every base url ("b…"), the
    // exactness condition of the windowRefresh contract — old ranks are
    // unchanged, so old-old window adjacency is identical in base and
    // union, and every window candidate a full rerun would propose either
    // existed in the base run or touches a delta doc.
    def words(seed: Int): String =
      (0 until 60).map(i => f"w${(seed * 31 + i * 7) % 9973}%04d").mkString(" ")
    def tweak(t: String): String = t.replaceFirst("w0", "x0")
    val simA = words(1000)
    val simB = words(2000)
    val simC = words(3000)
    val baseDocs = (0 until 17).map(i => (f"b$i%02d", words(i))) ++
      Seq("b17" -> simA, "b18" -> tweak(simA), "b19" -> simB) // old-old window pair + boundary doc
    val deltaDocs = Seq("d00" -> tweak(simB), "d01" -> simC, "d02" -> tweak(simC)) ++ // new-old + new-new pairs
      (3 until 10).map(i => (f"d$i%02d", words(100 + i)))
    val base = baseDocs.toDF("url", "text").cache()
    val delta = deltaDocs.toDF("url", "text").cache()
    val union = (baseDocs ++ deltaDocs).toDF("url", "text")

    val pipeCfg = LinkagePipeline.Config(
      strategies = Seq(graft.operators.CanonicalUrlBlocking),
      windowPasses = Seq(("url", 3))
    )
    val full = LinkagePipeline.run(union, pipeCfg)
    val basePred = LinkagePipeline.run(base, pipeCfg).cache()
    val index = IncrementalLinkage.buildIndex(base, pipeCfg)

    // without the flag the composition still refuses loudly
    intercept[IllegalArgumentException](
      IncrementalLinkage.link(delta, basePred, index, pipeCfg)
    )
    val inc = IncrementalLinkage.link(delta, basePred, index, pipeCfg, windowRefresh = true)

    val cols = Seq("url", "cluster_id", "status", "seq")
    val f = full.select(cols.map(col): _*).orderBy("url").collect()
    val i = inc.predictions.select(cols.map(col): _*).orderBy("url").collect()
    assert(f.length == i.length, s"row counts differ: full=${f.length} inc=${i.length}")
    f.zip(i).foreach { case (a, b) => assert(a == b, s"row differs:\n full=$a\n inc =$b") }

    // the window path must actually contribute all three regimes: an
    // old-old pair carried from the base run, a new-old boundary pair,
    // and a new-new pair — with single-url blocks, windows are the ONLY
    // possible link source
    val byUrl = i.map(r => r.getString(0) -> r.getString(1)).toMap
    assert(byUrl("b17") == byUrl("b18"), "old-old window link (from the base run) lost")
    assert(byUrl("b19") == byUrl("d00"), "new-old boundary window link missing")
    assert(byUrl("d01") == byUrl("d02"), "new-new window link missing")
    assert(byUrl("b00") != byUrl("b01"), "unrelated neighbors must not link")
    // the upsert view covers the window-refresh relabels and rescores too
    UpsertPatch.assertReproduces(basePred, inc.changed, inc.predictions)
    inc.release()
  }

  test("re-delivered urls are dropped; empty effective delta is a no-op") {
    val base = pages.limit(50).cache()
    val basePred = LinkagePipeline.run(base).cache()
    val index = IncrementalLinkage.buildIndex(base)
    // the "delta" is a subset of base: everything is a cache hit
    val inc = IncrementalLinkage.link(base.limit(20), basePred, index)
    assert(inc.mergeMap.count() == 0)
    val cols = Seq("url", "cluster_id", "score", "status", "seq")
    val a = basePred.select(cols.map(col): _*).orderBy("url").collect()
    val b = inc.predictions.select(cols.map(col): _*).orderBy("url").collect()
    assert(a.sameElements(b), "no-op delta must leave predictions unchanged")
  }

  test("featuresWithRelease == featuresWithIdf over the corpus's own IDF artifact, row for row") {
    import graft.operators.PairScorer
    // the exactness contract rests on this: a base scored with its own
    // stats and a delta scored through artifacts see the same weights
    def rows(features: (org.apache.spark.sql.DataFrame, () => Unit)) = {
      val (feats, release) = features
      try
        feats
          .select("url", "title_norm", "text_cap", "tfidf.ts", "tfidf.ws")
          .collect()
          .map { r =>
            val bits = Option(r.getSeq[Double](4)).map(_.map(java.lang.Double.doubleToRawLongBits))
            (r.getString(0), r.getString(1), r.getString(2), Option(r.getSeq[Long](3)), bits)
          }
          .sortBy(_.toString)
          .toSeq
      finally release()
    }
    val corpora = Seq(
      "seeded WebCorpus" -> WebCorpus.pages(spark, WebCorpus.Config(numClusters = 40, seed = 11L)).toDF,
      "empty" -> Seq.empty[(String, String)].toDF("url", "text"),
      "all-blank" -> Seq(("u1", ""), ("u2", "   "), ("u3", "\t\n")).toDF("url", "text")
    )
    corpora.foreach { case (name, corpus) =>
      val own = rows(PairScorer.featuresWithRelease(corpus))
      assert(own == rows(PairScorer.featuresWithIdf(corpus, Seq(PairScorer.idfArtifact(corpus)))), name)
      assert(own.size == corpus.count(), name)
      if (name == "seeded WebCorpus") assert(own.exists(_._5.exists(_.nonEmpty)), "no tfidf weights to compare")
    }
  }

  test("battery q_inc_link == the accept-and-cluster leg rerun over all documents (sf0.001)") {
    // the battery's incremental theorem, checked in-process: q_inc_link
    // links the doc_id % 4 == 0 delta onto a base run over the rest; the
    // rerun closes the whole corpus in one leg at the same cap
    val sf = "/root/testdata/sf0.001"
    val pages = SparkEntry.pages60(spark, sf)
    val texts = pages.select("url", "text")
    val (acc, clusters) = SparkEntry.acceptAndCluster(SparkEntry.symKeys(pages), texts, 100000)
    val fresh = LinkagePipeline.freshRows(texts, clusters, LinkagePipeline.bestScores(acc))
    val rerun = graft.util.DeterministicSeq.assign(fresh.select("url", "cluster_id", "status"), "url")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("url", "cluster_id", "status", "seq").orderBy("url").collect().toSeq
    val inc = rows(SparkEntry.queries("q_inc_link")(spark, sf))
    assert(inc.size == 500)
    assert(inc == rows(rerun))
    // not vacuous: some cluster holds both a delta and a base document
    val straddling = inc.groupBy(_.get(1)).values.exists(_.map(_.getLong(0) % 4 == 0).toSet.size == 2)
    assert(straddling, "no cluster straddles the base/delta split")
  }
}
