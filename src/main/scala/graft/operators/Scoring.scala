package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{Normalize, SimilarityFunctions}
import graft.functions.SimilarityFunctions.{jaro_winkler, sorted_vec_dot}

/** Pairwise scoring: deterministic Catalyst-expression similarity replacing
  * the reference's LLM ranking black box
  * (/root/reference/lion_linker/core.py:133-222). Three legs — Jaro-Winkler
  * on a title-ish prefix, Levenshtein ratio on capped text, TF-IDF cosine on
  * full token vectors — combined by fixed weights and thresholded; a pair
  * below threshold produces no edge (the NIL analog, lion_linker.py:702-734).
  */
object PairScorer {

  final case class Weights(
      jw: Double = 0.3,
      lev: Double = 0.3,
      cosine: Double = 0.4,
      threshold: Double = 0.70
  )

  /** Per-document similarity features. Computed ONCE per document (linear
    * scan + one shuffle for the IDF join), so the quadratic pair stage only
    * does cheap kernel math — never re-tokenizes per pair.
    *
    * Output: url, title_norm (first 10 tokens), text_cap (first 120 chars
    * of ws-normalized text — see the cost note at the cap), tfidf
    * (struct<ts:array<long>, ws:array<double>> parallel primitive arrays
    * sorted by ts, L2-normalized — SparseVec's layout).
    */
  /** Hashed-bucket dimensionality: bounds the IDF table to a broadcastable
    * size at ANY corpus scale (feature-hashing trick; 2^18 buckets = at
    * most ~4 MB of (t, idf) pairs).
    */
  val TfBuckets: Int = 1 << 18

  /** Convenience wrapper when the caller won't manage the cache lifetime
    * (the internal tokenize+hash cache is then released by LRU eviction).
    */
  def features(pages: DataFrame): DataFrame = featuresWithRelease(pages)._1

  /** Corpus IDF as a persistable ARTIFACT: hashed-bucket document
    * frequencies (t, df) — bounded by [[TfBuckets]] rows — plus the corpus
    * document count. Document frequencies are ADDITIVE across disjoint
    * corpora, so a base artifact and a delta's own stats combine EXACTLY
    * into the union corpus's IDF table — the incremental-linkage path
    * (graft.operators.IncrementalLinkage) scores a delta with bit-identical
    * weights to a full rerun over (base ∪ delta), without rescanning base
    * text. The frame is collected (bounded) so it is self-contained: callers
    * can write it to parquet and read it back in a later job.
    */
  def idfArtifact(pages: DataFrame): (DataFrame, Long) = {
    val spark = pages.sparkSession
    import spark.implicits._
    val toks = Normalize.tokensOf(col("text"))
    val tf = pages.select(SimilarityFunctions.term_freqs(toks, TfBuckets).as("tf"))
    // one action: the doc count rides the df aggregation as an observation
    // (attached before the explode), so the corpus is scanned exactly once
    // and the pass needs no persist at all
    val obs = org.apache.spark.sql.Observation()
    val rows = tf
      .observe(obs, count(lit(1)).as("n_docs"))
      .select(explode(col("tf.ts")).as("t"))
      .groupBy("t")
      .agg(count(lit(1)).as("df"))
      .collect() // bounded by TfBuckets
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSeq
    // zero buckets -> the corpus was empty or all-blank, and on an empty
    // relation the optimizer prunes the CollectMetrics node so the
    // observation NEVER fires: skip the poll and count the (empty) frame
    // directly instead of burning the full poll budget
    val nDocs =
      if (rows.isEmpty) tf.count()
      else
        graft.util.Observations
          .getWithin(obs)
          .get("n_docs")
          .map(_.asInstanceOf[Long])
          .getOrElse(tf.count())
    (rows.toDF("t", "df"), nDocs)
  }

  /** Features against a FIXED IDF built from one or more artifacts (summed
    * df, summed nDocs) instead of local corpus stats. `pages` may be any
    * subset of the union corpus the artifacts describe — the incremental
    * path computes features only for the delta plus the old pages sharing a
    * hot block, yet with exactly the union IDF a full rerun would use.
    */
  def featuresWithIdf(pages: DataFrame, parts: Seq[(DataFrame, Long)]): (DataFrame, () => Unit) = {
    require(parts.nonEmpty, "featuresWithIdf: at least one IDF artifact")
    val nDocs = parts.map(_._2).sum.toDouble
    val dfSum = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    parts.foreach { case (dfFrame, _) =>
      dfFrame.select(col("t").cast("long"), col("df").cast("long")).collect().foreach { r =>
        dfSum.merge(r.getLong(0), r.getLong(1), (a, b) => a + b)
      }
    }
    val idfMap = new java.util.HashMap[java.lang.Long, java.lang.Double](dfSum.size() * 2)
    dfSum.forEach((t, df) => idfMap.put(t, math.log((nDocs + 1.0) / (df.doubleValue() + 1.0)) + 1.0))
    val base = tokenized(pages)
    (weightedSelect(base, pages.sparkSession.sparkContext.broadcast(idfMap)), () => { base.unpersist(false); () })
  }

  /** The shared tokenize+hash pass (persisted: read by the IDF aggregation
    * and/or both sides of the pair-scoring join).
    */
  private def tokenized(pages: DataFrame): DataFrame = {
    val toks = Normalize.tokensOf(col("text"))
    pages
      .select(
        col("url"),
        SimilarityFunctions.term_freqs(toks, TfBuckets).as("tf"), // in-row, no shuffle
        array_join(slice(toks, 1, 10), " ").as("title_norm"),
        // 120 chars: the Levenshtein leg takes ⌈len/64⌉ word steps per char
        // (two words here); doubling the cap quadruples the pair kernel's
        // work for negligible signal gain
        substring(regexp_replace(trim(col("text")), "\\s+", " "), 1, 120).as("text_cap")
      )
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
  }

  private def weightedSelect(
      base: DataFrame,
      idfBc: org.apache.spark.broadcast.Broadcast[java.util.HashMap[java.lang.Long, java.lang.Double]]
  ): DataFrame =
    base.select(
      col("url"),
      col("title_norm"),
      col("text_cap"),
      SimilarityFunctions.tfidf_weight(col("tf"), idfBc).as("tfidf")
    )

  /** `features` plus a release handle that unpersists the internal
    * tokenize+hash cache — call it once the downstream consumer (the pair
    * join) has materialized, or each run keeps one cached corpus copy
    * until LRU eviction.
    */
  def featuresWithRelease(pages: DataFrame): (DataFrame, () => Unit) = {
    // persisted (see tokenized): this pass (tokenize + hash every document)
    // is read three times — the IDF aggregation plus BOTH sides of the
    // pair-scoring join — and recomputing it dominates CPU at scale.
    // Serialized + rdd.compress keeps the cached bytes a fraction of the
    // raw text; eviction is LRU.
    val base = tokenized(pages)

    // corpus IDF over hashed buckets: the only wide dependency, and its
    // output is bounded by TfBuckets -> collected + broadcast. df counts
    // DOCUMENTS per bucket (tf entries are already distinct per doc).
    val spark = pages.sparkSession
    // ONE action builds the whole artifact set: the IDF aggregation's map
    // stage materializes the tokenize+hash cache, and the document count
    // rides the same job as an observation (attached BEFORE the explode, so
    // each doc is counted once) — previously a separate base.count() paid a
    // full extra pass over the cached corpus just for the row count
    val obs = org.apache.spark.sql.Observation()
    val idfRows = base
      .observe(obs, count(lit(1)).as("n_docs"))
      .select(explode(col("tf.ts")).as("t"))
      .groupBy(col("t"))
      .agg(count(lit(1)).cast("double").as("df"))
      .collect()
    // zero buckets -> empty/all-blank corpus; the optimizer prunes the
    // CollectMetrics node on an empty relation so the observation never
    // fires — count the cached (empty) frame directly, no poll budget spent
    val nDocs =
      if (idfRows.isEmpty) base.count().toDouble
      else
        graft.util.Observations
          .getWithin(obs)
          .get("n_docs")
          .map(_.asInstanceOf[Long].toDouble)
          .getOrElse(base.count().toDouble) // defensive fallback; cache is hot
    val idfMap = new java.util.HashMap[java.lang.Long, java.lang.Double](idfRows.length * 2)
    idfRows.foreach { r =>
      idfMap.put(r.getLong(0), math.log((nDocs + 1.0) / (r.getDouble(1) + 1.0)) + 1.0)
    }
    val idfBc = spark.sparkContext.broadcast(idfMap)

    // weighting + L2 normalization happen in-row against the broadcast map:
    // the document side of features() has NO full-corpus shuffle at all
    (weightedSelect(base, idfBc), () => { base.unpersist(false); () })
  }

  /** Score candidate pairs. `pairs`: (urlA, urlB, key); `feats`: output of
    * `features`. Two equi-joins re-attach per-side features (the reference's
    * dedup-fetch-join pattern, lion_linker.py:994-1016), then one codegen'd
    * projection computes all three kernels.
    */
  def score(pairs: DataFrame, feats: DataFrame, w: Weights = Weights()): DataFrame = {
    val fa = feats.select(
      col("url").as("urlA"),
      col("title_norm").as("title_a"),
      col("text_cap").as("text_a"),
      col("tfidf").as("vec_a")
    )
    val fb = feats.select(
      col("url").as("urlB"),
      col("title_norm").as("title_b"),
      col("text_cap").as("text_b"),
      col("tfidf").as("vec_b")
    )
    // zero-weight legs skip their kernel outright (the symbolic lev-only
    // configs pay only the lev kernel, not all three kernels per pair). The
    // combined `score` is bit-identical — every kernel returns a finite
    // value, so 0.0 * w == kernel * 0.0 == 0.0 — but the skipped leg's
    // OWN column reads 0.0 instead of the kernel value; consumers of raw
    // jw/lev/cosine columns must use nonzero weights for those legs.
    val jwC = if (w.jw == 0.0) lit(0.0) else jaro_winkler(col("title_a"), col("title_b"))
    val levC =
      if (w.lev == 0.0) lit(0.0)
      else Normalize.levRatioBanded(col("text_a"), col("text_b"), maxDist = 64)
    val cosC =
      if (w.cosine == 0.0) lit(0.0)
      else coalesce(sorted_vec_dot(col("vec_a"), col("vec_b")), lit(0.0))
    pairs
      .join(fa, "urlA")
      .join(fb, "urlB")
      .select(
        col("urlA"),
        col("urlB"),
        col("key"),
        jwC.as("jw"),
        levC.as("lev"),
        cosC.as("cosine")
      )
      .withColumn(
        "score",
        Normalize.clamp01(col("jw") * w.jw + col("lev") * w.lev + col("cosine") * w.cosine)
      )
  }

  /** Threshold scored pairs, optionally per blocking key (SURVEY §2.9): a
    * (key, threshold) table is broadcast-joined against the scored pairs —
    * never a driver-side map — with `w.threshold` as the fallback for keys
    * not in the table. Salted sub-block keys (`key#s#b`) match their base
    * key.
    */
  def threshold(scored: DataFrame, w: Weights = Weights(), perKey: Option[DataFrame] = None): DataFrame =
    perKey match {
      case None => scored.where(col("score") >= w.threshold)
      case Some(t) =>
        scored
          .withColumn("_bk", regexp_replace(col("key"), "#s#\\d+$", ""))
          .join(
            broadcast(t.select(col("key").as("_bk"), col("threshold").as("_th"))),
            Seq("_bk"),
            "left"
          )
          .where(col("score") >= coalesce(col("_th"), lit(w.threshold)))
          .drop("_bk", "_th")
    }

  /** Threshold scored pairs into match edges (below threshold = NIL analog). */
  def edges(scored: DataFrame, w: Weights = Weights()): DataFrame =
    threshold(scored, w).select(col("urlA").as("src"), col("urlB").as("dst"))
}
