package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.LinkagePipeline

/** Two-table record linkage (Splink's `link_only`): candidates form ONLY
  * across tables A and B — never within one — the reconciliation shape
  * (invoices↔payments, new-crawl↔reference-catalog, mention↔entity). The
  * one-table pipeline ([[LinkagePipeline]]) answers "which rows are the
  * same entity" inside a corpus; this answers "which A-row corresponds to
  * which B-row" without paying for (or accidentally emitting) intra-table
  * pairs. The reference's mention→entity retrieval is the special case
  * where B is a fixed entity catalog (lion_linker/retrievers.py:146-386).
  *
  * Scale shape: both key sets union under a table tag, salting runs over
  * the UNION block sizes (a hot block is hot regardless of which table
  * fills it), and the pair join probes a-side × b-side within a block —
  * intra-table pairs are never generated, not filtered after the fact.
  * Scoring shares one IDF over the union corpus (cross-corpus TF-IDF
  * agreement is only meaningful under shared document frequencies).
  */
object LinkTables {

  /** Cross-table candidate pairs: (url_a, url_b, key), url_a from A and
    * url_b from B (table-keyed orientation, NOT least/greatest), deduped
    * across keys on the deterministic min key. Inputs are (url, key)
    * frames; url sets must be disjoint across tables (prefix or tag them
    * upstream if they may collide).
    */
  def candidatePairs(keysA: DataFrame, keysB: DataFrame, maxBlockSize: Int = 1000): DataFrame = {
    val tagged = keysA
      .select(col("url"), col("key"), lit(true).as("is_a"))
      .unionByName(keysB.select(col("url"), col("key"), lit(false).as("is_a")))
    val salted = Blocker.saltOversized(tagged, maxBlockSize)
    val a = salted.where(col("is_a")).select(col("url").as("url_a"), col("key"))
    val b = salted.where(!col("is_a")).select(col("url").as("url_b"), col("key"))
    a.join(b, Seq("key"))
      .select(col("url_a"), col("url_b"), col("key"))
      .groupBy("url_a", "url_b")
      .agg(min("key").as("key"))
  }

  /** Link A to B: blocking (cfg.strategies, cross-table pairs only) →
    * pairwise scoring (cfg.weights, one union IDF) → threshold
    * (cfg.perKeyThresholds honored). Returns accepted links
    * (url_a, url_b, key, score). With `oneToOne` the links are reduced to
    * a one-to-one matching by [[Assignment.matching]] peeling (columns
    * gain `round`); without it, many-to-many links pass through — the
    * caller picks top-1 per side or clusters as the use case demands.
    *
    * Both inputs need (url, text); url sets must be disjoint.
    */
  def run(
      a: DataFrame,
      b: DataFrame,
      cfg: LinkagePipeline.Config = LinkagePipeline.Config(),
      oneToOne: Boolean = false
  ): DataFrame = {
    require(
      cfg.windowPasses.isEmpty,
      "link_only does not take sorted-neighborhood passes: a rank window over " +
        "the union interleaves both tables and would propose intra-table pairs"
    )
    val ca = a.select("url", "text")
    val cb = b.select("url", "text")
    val pairs = candidatePairs(
      Blocker.allKeys(ca, cfg.strategies),
      Blocker.allKeys(cb, cfg.strategies),
      cfg.maxBlockSize
    )
    val (feats, releaseFeats) = PairScorer.featuresWithRelease(ca.unionByName(cb))
    val scored = PairScorer.score(
      pairs.select(col("url_a").as("urlA"), col("url_b").as("urlB"), col("key")),
      feats,
      cfg.weights
    )
    val accepted =
      graft.util.Checkpoints.serializedLocal(PairScorer.threshold(scored, cfg.weights, cfg.perKeyThresholds))
    releaseFeats()
    val links = accepted.select(
      col("urlA").as("url_a"),
      col("urlB").as("urlB"), // renamed below; keep one-pass select simple
      col("key"),
      col("score")
    )
    val base = links.withColumnRenamed("urlB", "url_b")
    if (!oneToOne) base
    else
      // matching() emits canonical u < v orientation regardless of the
      // table-keyed input orientation (url_b may sort below url_a), so the
      // join back to `base` goes through least/greatest keys — joining on
      // (url_a, url_b) directly silently dropped every flipped pair
      Assignment
        .matching(base.select(col("url_a").as("u"), col("url_b").as("v"), col("score")))
        .select(col("u"), col("v"), col("round"))
        .join(
          base
            .withColumn("u", least(col("url_a"), col("url_b")))
            .withColumn("v", greatest(col("url_a"), col("url_b"))),
          Seq("u", "v")
        )
        .select(col("url_a"), col("url_b"), col("key"), col("score"), col("round"))
  }
}
