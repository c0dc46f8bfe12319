package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Normalize
import graft.functions.SimilarityFunctions.minhash_shingles

/** Candidate-generation stage: blocking strategies emitting (url, key,
  * strategy) rows, then a skew-guarded self-join producing candidate pairs.
  *
  * Reference analog: retriever subclasses are the candidate-generation
  * strategies (/root/reference/lion_linker/retrievers.py:146-386); the
  * distinct-mentions-before-fetch rewrite
  * (lion_linker/lion_linker.py:984-986) becomes distinct (url,key) before
  * the pair join; candidate truncation (lion_linker.py:640-667) becomes the
  * per-block size cap with dropped-work accounting.
  */
trait BlockingStrategy {
  def name: String

  /** Emit blocking keys for a corpus with columns (url, text, ...) —
    * output columns: url, key.
    */
  def keys(pages: DataFrame): DataFrame
}

/** URL-variant duplicates collapse to one canonical key. */
object CanonicalUrlBlocking extends BlockingStrategy {
  val name = "canonical_url"
  def keys(pages: DataFrame): DataFrame =
    pages.select(col("url"), concat(lit("u:"), Normalize.canonicalUrl(col("url"))).as("key"))
}

/** Same registrable domain + a coarse content fingerprint prefix — raw
  * domain blocks on head domains are quadratic death at web scale, so the
  * domain key is refined with the first TWO text tokens.
  *
  * Why two: with a single-token refinement, head-domain block sizes grow
  * linearly with the corpus while staying under the salt cap, so raw pair
  * counts grow quadratically BELOW the cap's radar (measured with
  * graft.tools.ScaleProbe: 127k -> 1.0M -> 8.9M domain pairs as the corpus
  * goes 85k -> 254k -> 848k docs; pairs/doc 1.7 -> 4.2 -> 10.7). The second
  * token multiplies the content-key cardinality so block membership stays
  * correlated with match probability and pairs/doc stays O(1); truly
  * pathological blocks (boilerplate leading tokens) are still backstopped by
  * `Blocker.saltOversized`. Recall for same-domain near-duplicates that
  * disagree on a leading token is carried by the MinHash strategy (that is
  * its job); the planted-gold F1 test pins the union recall.
  */
object DomainBlocking extends BlockingStrategy {
  val name = "domain"
  def keys(pages: DataFrame): DataFrame = {
    val toks = Normalize.tokensOf(col("text"))
    pages.select(
      col("url"),
      concat(
        lit("d:"),
        Normalize.domainOf(col("url")),
        lit("|"),
        // try_element_at, not element_at: ANSI mode (Spark 4 default) makes
        // element_at THROW on an empty token array, so one whitespace-only
        // page would kill a whole-corpus run
        coalesce(try_element_at(toks, lit(1)), lit("")),
        lit("|"),
        coalesce(try_element_at(toks, lit(2)), lit(""))
      ).as("key")
    )
  }
}

/** MinHash-LSH over token shingles: `numHashes` min-hashes split into
  * `bands` bands; pages sharing any band key become candidates. Hand-rolled
  * as native expressions (single pass over shingles, no MLlib Vector
  * round-trip).
  */
final case class MinHashBlocking(shingleSize: Int = 3, numHashes: Int = 16, bands: Int = 8)
    extends BlockingStrategy {
  require(numHashes % bands == 0, "numHashes must be divisible by bands")
  val name = s"minhash_b$bands"
  private val rows = numHashes / bands

  def keys(pages: DataFrame): DataFrame = {
    val sig = minhash_shingles(Normalize.tokensOf(col("text")), shingleSize, numHashes)
    // xxhash64, not the 32-bit murmur `hash`: a 2^32 band-key space means
    // ~n^2/2^33 accidental block merges per band — at 10^12 docs that is
    // ~233 unrelated docs per bucket and quadratic junk pairs; 64-bit keys
    // push the same term to ~n^2/2^65 (negligible at any real corpus)
    val bandKeys = (0 until bands).map { b =>
      concat(lit(s"m:$b:"), xxhash64(slice(col("sig"), b * rows + 1, rows)).cast("string"))
    }
    pages
      .select(col("url"), sig.as("sig"))
      // blank/too-short docs leave slot 0 at Long.MaxValue: no content keys
      .where(element_at(col("sig"), 1) =!= Long.MaxValue)
      .select(col("url"), explode(array(bandKeys: _*)).as("key"))
  }
}

/** Phonetic blocking — the FEBRL/Splink classic for name-bearing records:
  * key = soundex of the first `nTokens` text tokens (typo-robust: Robert /
  * Rupert -> R163; Smith / Smyth -> S530), so spelling-variant duplicates
  * land in one block without any pairwise comparison. Uses Spark's
  * codegen'd soundex builtin; non-alphabetic leading tokens pass through
  * unencoded (the builtin's contract), which still makes a valid key.
  * Phonetic keys are low-cardinality by design — head blocks are
  * backstopped by `Blocker.saltOversized` like every other strategy.
  */
final case class PhoneticBlocking(nTokens: Int = 2) extends BlockingStrategy {
  require(nTokens > 0, s"nTokens must be positive, got $nTokens")
  val name = s"soundex_$nTokens"
  def keys(pages: DataFrame): DataFrame = {
    val toks = Normalize.tokensOf(col("text"))
    val parts = (1 to nTokens).map(i => soundex(coalesce(try_element_at(toks, lit(i)), lit(""))))
    pages.select(col("url"), concat_ws("|", lit("p:") +: parts: _*).as("key"))
  }
}

/** Suffix blocking (Aizawa & Oyama 2005, the suffix-array method of the ER
  * blocking surveys): every suffix of the leading text token with length ≥
  * `minSuffixLen` becomes a key, so prefix typos and prefixed variants
  * ("jonathan" / "nathan", "smith" / "goldsmith") share blocks that exact
  * or phonetic keys miss. Row-local key emission (≤ len − minSuffixLen + 1
  * keys per doc, bounded by `maxSuffixes` against pathological tokens);
  * common short suffixes form head blocks by design and are backstopped by
  * `Blocker.saltOversized` like every strategy.
  */
final case class SuffixBlocking(minSuffixLen: Int = 4, maxSuffixes: Int = 16)
    extends BlockingStrategy {
  require(minSuffixLen > 0, s"minSuffixLen must be positive, got $minSuffixLen")
  require(maxSuffixes > 0, s"maxSuffixes must be positive, got $maxSuffixes")
  val name = s"suffix_$minSuffixLen"
  def keys(pages: DataFrame): DataFrame = {
    val tok = coalesce(try_element_at(Normalize.tokensOf(col("text")), lit(1)), lit(""))
    // bind the token once (interpreted-HOF rule), then emit its suffixes:
    // starts 1..len-minSuffixLen+1, LONGEST suffixes first so the cap keeps
    // the most specific keys
    val sufs = element_at(
      transform(
        array(tok),
        t =>
          when(length(t) < minSuffixLen, array().cast("array<string>"))
            .otherwise(
              transform(
                sequence(lit(1), least(length(t) - lit(minSuffixLen) + 1, lit(maxSuffixes))),
                i => t.substr(i, length(t))
              )
            )
      ),
      1
    )
    pages
      .select(col("url"), explode(sufs).as("suf"))
      .select(col("url"), concat(lit("x:"), col("suf")).as("key"))
  }
}

object Blocker {

  /** Union of all strategies' keys, deduped. Output: (url, key), both
    * non-null. A null url or key never pairs in the key self-join, so those
    * rows are dropped here and do not count toward a block's size. The
    * explicit filter also gives the salting and self-join branches of
    * [[pairs]] one identical key plan, so AQE reuses its exchange and the
    * key stage runs once.
    */
  def allKeys(pages: DataFrame, strategies: Seq[BlockingStrategy]): DataFrame =
    strategies
      .map(s => s.keys(pages).select(col("url"), col("key")))
      .reduce(_ unionByName _)
      .where(col("url").isNotNull && col("key").isNotNull)
      .distinct()

  /** Split blocks larger than `maxBlockSize` into deterministic sub-buckets
    * (salting): key -> key#b where b = xxhash64(url) mod nBuckets. Bounds
    * the quadratic pair blow-up on head-domain / boilerplate blocks; the
    * recall loss is confined to oversized blocks, which [[skewCensus]]
    * lists. Skew that survives (many medium blocks on one shuffle key
    * range) is left to AQE's skew-join split.
    */
  def saltOversized(keys: DataFrame, maxBlockSize: Int): DataFrame = {
    // fail fast: maxBlockSize <= 0 makes ceil(n/maxBlockSize) null/negative
    // and the salt bucket count silently degenerate
    require(maxBlockSize > 0, s"maxBlockSize must be positive, got $maxBlockSize")
    val sizes = keys.groupBy("key").agg(count("*").as("block_n"))
    val nBuckets: Column = ceil(col("block_n") / lit(maxBlockSize)).cast("long")
    keys
      // oversized-block list is tiny by construction (it's the skew head);
      // AQE broadcasts it at runtime once its size is known
      .join(sizes.where(col("block_n") > maxBlockSize), Seq("key"), "left")
      .withColumn(
        "key",
        when(
          col("block_n").isNull,
          col("key")
          // "#s#" separator: collision-proof against base keys that happen
          // to end in #<digits> (e.g. a domain key whose first text token is
          // "#3") — PairScorer.threshold strips exactly this suffix
        ).otherwise(concat(col("key"), lit("#s#"), pmod(xxhash64(col("url")), nBuckets).cast("string")))
      )
      // drop, not select(url,key): extra caller columns (e.g. the
      // incremental path's is_new side tag) ride through the salting
      .drop("block_n")
  }

  /** Candidate pairs: equi-self-join on blocking key with canonical
    * orientation (urlA < urlB kills mirror duplicates pre-shuffle of the
    * scoring join), deduped across keys (a pair found under several
    * strategies scores once; the surviving key is the deterministic min).
    */
  def pairs(keys: DataFrame, maxBlockSize: Int = 1000): DataFrame = {
    val salted = saltOversized(keys, maxBlockSize)
    val a = salted.select(col("url").as("urlA"), col("key"))
    val b = salted.select(col("url").as("urlB"), col("key"))
    minKeyPerPair(a.join(b, Seq("key")).where(col("urlA") < col("urlB")))
  }

  /** One row per (urlA, urlB), under the pair's deterministic min key: a
    * pair found by several keys, strategies or window passes scores once.
    */
  private[graft] def minKeyPerPair(pairs: DataFrame): DataFrame =
    pairs.groupBy("urlA", "urlB").agg(min("key").as("key"))

  /** Skew census: the topN heaviest blocks with the EXACT cost a run
    * would pay for each — the pre-flight read an operator does before a
    * scoring run on a new corpus (is one boilerplate key about to emit
    * 10^10 pairs?): WHICH keys, and what [[saltOversized]] will do about
    * them:
    * `n_buckets` = the salt sub-bucket count (1 = unsalted),
    * `raw_pairs` = n(n−1)/2, `capped_pairs` = the post-salt pair bound
    * Σ_b n_b(n_b−1)/2 at perfectly even sub-buckets (n mod b buckets of
    * ⌈n/b⌉, the rest ⌊n/b⌋) — the realized count varies with the
    * content hash but is bounded near this by the same argument as
    * Dedup.saltBuckets.
    *
    * Scale shape: ONE hash-aggregation of the key frame (map-side
    * combine) followed by a topN take-ordered (no global sort
    * materializes); output is ≤ topN rows. Deterministic order:
    * (n desc, key) so ties cannot flap across runs or engines.
    */
  def skewCensus(keys: DataFrame, maxBlockSize: Int = 1000, topN: Int = 20): DataFrame = {
    require(topN > 0, s"topN must be positive, got $topN")
    require(maxBlockSize > 0, s"maxBlockSize must be positive, got $maxBlockSize")
    val n = col("n")
    val b = when(n > maxBlockSize, ceil(n / lit(maxBlockSize)).cast("long")).otherwise(1L)
    // even-split pair bound: r buckets of q+1 and (b-r) of q, q = n div b
    val q = floor(n / b).cast("long")
    val r = (n - q * b).cast("long")
    keys
      .groupBy("key")
      .agg(count(lit(1)).as("n"))
      .select(
        col("key"),
        n,
        // shiftright == div 2 for the always-even n(n-1): keeps the pair
        // math in exact integer arithmetic (the `/ 2` Divide promotes to
        // double, which silently loses exactness past 2^53 — and this
        // census exists precisely to read the head blocks where that bites)
        shiftright(n * (n - 1), 1).as("raw_pairs"),
        b.as("n_buckets"),
        (r * shiftright((q + 1) * q, 1) + (b - r) * shiftright(q * (q - 1), 1))
          .cast("long")
          .as("capped_pairs")
      )
      .orderBy(col("n").desc, col("key"))
      .limit(topN)
  }
}
