package graft

import org.apache.spark.sql.functions._

import graft.operators.Curation

/** Corpus-curation operators: decontamination hit semantics, quota-sample
  * determinism, PII redaction.
  */
class CurationSpec extends SparkSpec {

  import spark.implicits._

  test("decontaminate flags docs sharing an n-gram with the benchmark, counts exactly") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"), // contains the planted 5-gram
      (2L, "completely unrelated words that never overlap anything benchmarked"),
      (3L, "too short"), // < n tokens: zero grams, never contaminated
      (4L, "quick brown fox jumps over and quick brown fox jumps again") // overlaps twice -> distinct grams
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "we ask about the quick brown fox jumps over it")).toDF("doc_id", "text")
    val got = Curation
      .decontaminate(docs, bench, n = 5)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    // doc 1 grams hitting: "the quick brown fox jumps", "quick brown fox jumps over"
    assert(got(1L) == ((6L, 2L, true)), got(1L).toString)
    assert(got(2L)._2 == 0L && !got(2L)._3)
    assert(got(3L) == ((0L, 0L, false)))
    // doc 4 shares "quick brown fox jumps over" only (distinct grams)
    assert(got(4L)._2 == 1L && got(4L)._3)
  }

  test("quotaSample: per-key cap, deterministic across partitionings") {
    val docs = (0 until 200)
      .map(i => (i.toLong, s"k${i % 3}"))
      .toDF("doc_id", "key")
    val a = Curation.quotaSample(docs.repartition(7), Seq("key"), 10, idCol = "doc_id")
    val b = Curation.quotaSample(docs.repartition(1), Seq("key"), 10, idCol = "doc_id")
    val sa = a.select("doc_id").as[Long].collect().toSet
    val sb = b.select("doc_id").as[Long].collect().toSet
    assert(sa == sb, "sample must be partitioning-independent")
    val perKey = a.groupBy("key").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perKey.values.forall(_ == 10L), perKey.toString)
    // a key smaller than the quota survives whole
    val tiny = Seq((900L, "solo"), (901L, "solo")).toDF("doc_id", "key")
    assert(Curation.quotaSample(tiny, Seq("key"), 10).count() == 2)
  }

  test("hashSplit: deterministic, cluster-atomic, proportions near weights") {
    val docs = (0 until 3000)
      .map(i => (i.toLong, (i / 3).toLong)) // 3-doc near-dup clusters
      .toDF("doc_id", "cluster_key")
    val splits = Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1)
    val out = Curation.hashSplit(docs, splits, keyCol = "cluster_key")
    // leakage-safety: every cluster lands in exactly one split
    val perCluster = out
      .groupBy("cluster_key")
      .agg(countDistinct(col("split")).as("n"))
      .where(col("n") > 1)
    assert(perCluster.count() == 0, "a cluster split across train/eval leaks")
    // determinism across partitionings: same doc -> same split
    val again = Curation
      .hashSplit(docs.repartition(13), splits, keyCol = "cluster_key")
      .select("doc_id", "split")
      .as[(Long, String)]
      .collect()
      .toMap
    val first = out.select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(first == again, "split assignment must be partitioning-independent")
    // realized proportions within a few points of the weights
    val frac = out
      .groupBy("split")
      .count()
      .collect()
      .map(r => r.getString(0) -> r.getLong(1).toDouble / 3000)
      .toMap
    assert(math.abs(frac("train") - 0.8) < 0.05, frac.toString)
    assert(math.abs(frac("valid") - 0.1) < 0.05, frac.toString)
    assert(math.abs(frac("test") - 0.1) < 0.05, frac.toString)
    // weights must sum to 1
    intercept[IllegalArgumentException] {
      Curation.hashSplit(docs, Seq("a" -> 0.5, "b" -> 0.2))
    }
  }

  test("qualityGate: reason codes fire in fixed order, clean doc passes") {
    val docs = Seq(
      (1L, "one two three four five six seven eight"), // clean at these thresholds
      (2L, "tiny doc"), // too_short
      (3L, ("w " * 15).trim), // 15 identical tokens: low_diversity + repetitive grams
      (4L, (1 to 50).map(i => s"t$i").mkString(" ")) // too_long at maxTokens = 20
    ).toDF("doc_id", "text").select(col("doc_id"), split(col("text"), " ").as("toks"))
    val out = Curation
      .qualityGate(
        docs,
        minTokens = 5,
        maxTokens = 20,
        minDistinctRatio = 0.3,
        maxTopBigramFrac = 0.5,
        maxDupTrigramFrac = 0.5
      )
      .collect()
      .map(r => r.getLong(0) -> ((r.getAs[Seq[String]]("reasons"), r.getBoolean(r.fieldIndex("keep")))))
      .toMap
    assert(out(1L) == ((Seq(), true)), out(1L).toString)
    // a 2-token doc has ONE bigram, so its top-bigram fraction is 1.0 by
    // definition — the gate reports the raw signal and too_short composes
    // with it (tiny docs never reach the repetition thresholds in practice
    // because minTokens fails them first; both reasons are informative)
    assert(out(2L) == ((Seq("too_short", "repetitive_bigram"), false)))
    assert(
      out(3L) == ((Seq("low_diversity", "repetitive_bigram", "repetitive_trigram"), false)),
      "order must be the fixed check order: " + out(3L)
    )
    assert(out(4L) == ((Seq("too_long"), false)))
    // null text: every threshold comparison is NULL (would silently PASS
    // without the explicit guard) — must drop with its own reason
    val nullOut = Curation
      .qualityGate(
        Seq((9L, null: String)).toDF("doc_id", "text")
          .select(col("doc_id"), split(col("text"), " ").as("toks")),
        minTokens = 5
      )
      .collect()(0)
    assert(nullOut.getSeq[String](nullOut.fieldIndex("reasons")) == Seq("no_text"))
    assert(!nullOut.getAs[Boolean]("keep"))
  }

  test("mixWeights: temperature reweighting sums to 1, upsamples small sources") {
    val docs = Seq.fill(90)(("big", 100L)) ++ Seq.fill(10)(("small", 100L))
    val out = Curation
      .mixWeights(docs.toDF("source", "n_tokens"), "source", "n_tokens", alpha = 0.5)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out("big")._1 == 90 && out("big")._2 == 9000L)
    assert(math.abs(out.values.map(_._3).sum - 1.0) < 1e-5)
    // alpha=0.5: masses sqrt(9000):sqrt(1000) = 3:1 -> 0.75/0.25
    assert(math.abs(out("big")._3 - 0.75) < 1e-6, out.toString)
    assert(math.abs(out("small")._3 - 0.25) < 1e-6, out.toString)
    // alpha=1 is proportional sampling
    val prop = Curation
      .mixWeights(docs.toDF("source", "n_tokens"), "source", "n_tokens", alpha = 1.0)
      .collect()
      .map(r => r.getString(0) -> r.getDouble(3))
      .toMap
    assert(math.abs(prop("big") - 0.9) < 1e-6 && math.abs(prop("small") - 0.1) < 1e-6)
  }

  test("redactPii replaces emails and phone-shaped digit runs") {
    val docs = Seq(
      (1L, "write to First.Last+tag@sub.example.co.uk or call +44 (0) 1234 567890 now"),
      (2L, "no pii here just words and the number 42")
    ).toDF("doc_id", "text")
    val got = Curation.redactPii(docs).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L).contains("<EMAIL>") && got(1L).contains("<PHONE>"), got(1L))
    assert(!got(1L).contains("example.co.uk") && !got(1L).contains("567890"), got(1L))
    assert(got(2L) == "no pii here just words and the number 42")
  }

  /** The running token sum's range exchange takes the session width; with
    * AQE coalescing off, `n` is a real range-partition count.
    */
  private def rangeWidth[T](n: Int)(body: => T): T = withConf(
    "spark.sql.shuffle.partitions" -> n.toString,
    "spark.sql.adaptive.coalescePartitions.enabled" -> "false"
  )(body)

  test("packSequences: closed-form stream positions, span packs, zero-token docs, partition-invariance") {
    // order by id itself -> stream order d0,d1,... and positions are the
    // hand-computable prefix sums of the token counts
    val docs = Seq(
      ("d0", 3L),
      ("d1", 7L), // ends at 10 = exactly one 10-token pack
      ("d2", 25L), // spans packs 1..3 (starts at 10, ends at 34)
      ("d3", 0L), // zero tokens: occupies no stream positions
      ("d4", 5L)
    ).toDF("id", "n")
    def run(parts: Int) = rangeWidth(3) {
      Curation
        .packSequences(docs.repartition(parts), "id", col("id"), col("n"), budget = 10L)
        .select("id", "n_tokens", "start_pos", "pack_id", "pack_offset", "pack_id_end")
        .collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
        .toMap
    }
    val got = run(1)
    assert(got("d0") == ((3L, 0L, 0L, 0L, 0L)))
    assert(got("d1") == ((7L, 3L, 0L, 3L, 0L)), got("d1").toString) // ends exactly at the pack cut
    assert(got("d2") == ((25L, 10L, 1L, 0L, 3L)), got("d2").toString) // spans packs 1..3
    assert(got("d3") == ((0L, 35L, 3L, 5L, 3L)), got("d3").toString) // zero-token: end pack == start pack
    assert(got("d4") == ((5L, 35L, 3L, 5L, 3L)))
    // the layout is a function of (order key, counts) alone — not of the
    // input partitioning or the range-partition count
    assert(run(7) == got, "packing must be partition-invariant")
    val wide = rangeWidth(11) {
      Curation
        .packSequences(docs.repartition(5), "id", col("id"), col("n"), budget = 10L)
        .select("id", "start_pos")
        .collect()
        .map(r => r.getString(0) -> r.getLong(1))
        .toMap
    }
    assert(wide == got.view.mapValues(_._2).toMap, "range-partition count must not change positions")
  }

  test("takeTokenBudget: prefix cut at the stream position, boundary kept, no knapsack") {
    val docs = Seq(
      ("d0", 3L),
      ("d1", 7L), // ends exactly at 10 -> kept at budget 10
      ("d2", 25L), // crosses -> dropped
      ("d3", 0L), // zero-token doc AFTER the crossing doc: still dropped (prefix, except...)
      ("d4", 2L) // would fit on its own: still dropped (prefix, not knapsack)
    ).toDF("id", "n")
    def ids(budget: Long, parts: Int = 3) = rangeWidth(3) {
      Curation
        .takeTokenBudget(docs.repartition(parts), "id", col("id"), col("n"), budget)
        .select("id")
        .collect()
        .map(_.getString(0))
        .toSet
    }
    assert(ids(10L) === Set("d0", "d1"))
    assert(ids(9L) === Set("d0")) // d1 no longer fits entirely
    assert(ids(37L) === Set("d0", "d1", "d2", "d3", "d4")) // exact total fit
    assert(ids(35L) === Set("d0", "d1", "d2", "d3")) // zero-token d3 sits exactly at the cut: kept
    assert(ids(10L, parts = 7) === Set("d0", "d1"), "cut must be partition-invariant")
    // output schema: pack columns are gone, start_pos/n_tokens remain
    val cols = Curation
      .takeTokenBudget(docs, "id", col("id"), col("n"), 10L)
      .columns
      .toSet
    assert(cols === Set("id", "n", "n_tokens", "start_pos"))
    intercept[IllegalArgumentException](
      Curation.takeTokenBudget(docs, "id", col("id"), col("n"), 0L)
    )
  }

  test("c4LineFilters: terminal punctuation, min words, javascript lines, page blocklist") {
    import spark.implicits._
    val good = "one two three four five."
    val docs = Seq(
      // 3 good lines -> kept page
      (1L, Seq(good, "six seven eight nine ten!", "a b c d e f?")),
      // only 2 survive (short line + no punctuation) -> dropped page
      (2L, Seq(good, good, "short line.", "no punct five words here")),
      // javascript line is removed but the page itself survives on the rest
      (3L, Seq(good, good, good, "Enable JavaScript to view this page.")),
      // lorem ipsum ANYWHERE kills the page, even inside an otherwise-kept line
      (4L, Seq(good, good, "we embed Lorem Ipsum sample text here.")),
      // the { page marker kills it even on a line the line-filter drops
      (5L, Seq(good, good, good, "function() {")),
      (6L, Seq.empty[String])
    ).toDF("doc_id", "lines")
    val out = Curation
      .c4LineFilters(docs, minWordsPerLine = 5, minLines = 3)
      .orderBy("doc_id")
      .as[(Long, Long, Long, String, Boolean)]
      .collect()
    assert(out(0) === ((1L, 3L, 3L, s"$good six seven eight nine ten! a b c d e f?", true)))
    assert(out(1)._3 === 2L && !out(1)._5)
    assert(out(2) === ((3L, 4L, 3L, s"$good $good $good", true)))
    assert(out(3)._3 === 3L && !out(3)._5, "lorem ipsum page must drop despite 3 kept lines")
    assert(out(4)._3 === 3L && !out(4)._5, "brace page must drop despite 3 kept lines")
    assert(out(5) === ((6L, 0L, 0L, "", false)))
  }
}
