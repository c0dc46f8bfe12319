package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Normalize
import graft.functions.SimilarityFunctions.simhash64

/** Text-analysis operators for large-scale training-data pipelines: language
  * id (stopword-vote heuristic), quality scoring, token counting,
  * document fingerprinting. All pure column expressions (codegen'd,
  * shuffle-free) — they compose into any scan.
  */
object TextAnalysis {

  /** Minimal function-word tables per language (public common words). The
    * heuristic votes by stopword hits over whitespace tokens — standard
    * n-gram/wordlist language-id shape, deliberately tiny and deterministic.
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "de" -> Seq("der", "die", "das", "und", "nicht", "ist", "ich", "ein", "zu", "mit"),
    "fr" -> Seq("le", "la", "les", "et", "des", "est", "un", "une", "dans", "que"),
    "es" -> Seq("el", "la", "los", "las", "y", "es", "un", "una", "en", "que"),
    "it" -> Seq("il", "la", "di", "che", "e", "un", "una", "per", "non", "sono")
  )

  /** Per-language stopword hit ratio columns. */
  private def hitRatio(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words.map(lit(_)): _*))).cast("double") /
      greatest(size(toks), lit(1))

  /** Predicted language: argmax stopword ratio, 'unk' below `minRatio`. */
  def langId(text: Column, minRatio: Double = 0.02): Column = {
    val toks = Normalize.tokensOf(text)
    val scored = stopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(hitRatio(toks, words).as("r"), lit(lang).as("l"))
    }
    val best = greatest(scored: _*)
    when(best.getField("r") >= minRatio, best.getField("l")).otherwise("unk")
  }

  /** Quality features: token count, distinct-token ratio (repetitiveness),
    * mean token length, alpha ratio, stopword ratio — the length/punct/
    * stopword family of web-text quality filters.
    */
  def qualityFeatures(text: Column): Column = {
    val toks = Normalize.tokensOf(text)
    val nTok = size(toks).cast("double")
    struct(
      nTok.cast("long").as("n_tokens"),
      (size(array_distinct(toks)) / greatest(nTok, lit(1.0))).as("distinct_ratio"),
      (length(regexp_replace(text, "\\s+", "")) / greatest(nTok, lit(1.0))).as("mean_token_len"),
      (length(regexp_replace(text, "[^A-Za-z]", "")).cast("double") /
        greatest(length(text), lit(1)).cast("double")).as("alpha_ratio"),
      hitRatio(toks, stopwords("en")).as("stopword_ratio")
    )
  }

  /** Composite quality score in [0,1] (monotone blend of the features). */
  def qualityScore(text: Column): Column = {
    val f = qualityFeatures(text)
    val lenScore = least(f.getField("n_tokens").cast("double") / 64.0, lit(1.0))
    val distinctScore = f.getField("distinct_ratio")
    val alphaScore = f.getField("alpha_ratio")
    Normalize.clamp01(lenScore * 0.4 + distinctScore * 0.3 + alphaScore * 0.3)
  }

  /** Gopher-style repetition signals (Rae et al. 2021, Table A1): the
    * top-bigram occurrence fraction and the duplicate-trigram occurrence
    * fraction over whitespace tokens — the standard web-text repetition
    * filters ("for all your X needs for all your X needs ..."). Row-local
    * single-pass kernels (SimKernels.ngramRepetition), shuffle-free: at
    * 100 TB this is a projection on the scan, never an explode + groupBy
    * over per-gram rows. Takes a caller-supplied token array: battery
    * queries pass raw `split(text, " ")` so engine and oracle share ONE
    * tokenization (tokensOf lowercases and collapses whitespace, which a
    * plain SQL string_split does not).
    */
  def repetitionSignalsTokens(toks: Column): Column = {
    val bi = graft.functions.SimilarityFunctions.ngram_repetition(toks, 2)
    val tri = graft.functions.SimilarityFunctions.ngram_repetition(toks, 3)
    struct(
      bi.getField("total").as("n_bigrams"),
      round(
        bi.getField("top").cast("double") / greatest(bi.getField("total"), lit(1L)).cast("double"),
        6
      ).as("top_bigram_frac"),
      round(
        tri.getField("dup").cast("double") / greatest(tri.getField("total"), lit(1L)).cast("double"),
        6
      ).as("dup_trigram_frac")
    )
  }

  /** Gopher-style duplicate-line signals (Rae et al. 2021, Table A1):
    * over a caller-supplied line array (newline split, sentence split,
    * fixed token chunks — the caller decides what a "line" is), the
    * fraction of line OCCURRENCES that repeat an earlier identical line
    * and the fraction of CHARACTERS inside those repeat occurrences — the
    * two standard boilerplate filters next to the n-gram repetition pair.
    *
    * Row-local single pass over builtins: sort the array once, a repeat
    * occurrence is exactly "equals its predecessor in sorted order" (count
    * per distinct value = cnt - 1), so no per-row quadratic scan and no
    * explode + groupBy over per-line rows — at 100 TB this stays a
    * projection on the scan. Returns struct(n_lines, dup_line_frac,
    * dup_line_char_frac), fractions rounded to 6.
    */
  def duplicateLineSignals(lines: Column): Column = {
    // Higher-order functions evaluate INTERPRETED, and interpreted eval
    // re-computes every free subexpression on each lambda invocation: an
    // `element_at(array_sort(lines), i)` inside the fold re-sorts the whole
    // array per element — O(n^2 log n) per ROW (observed: one sf0.1 bench
    // task wedged >15 min in ArraySort.eval under ArrayAggregate.eval).
    // Binding the sorted array, and then the fold result, as lambda
    // variables (transform over a 1-element wrapper array) pins each to
    // exactly ONE evaluation: sort once, fold once, field reads are O(1).
    val zero = struct(lit(0L).as("dc"), lit(0L).as("dch"), lit(0L).as("tc"))
    val out = transform(
      array(array_sort(lines)),
      sorted => {
        val n = size(sorted)
        val folded = aggregate(
          sequence(lit(1), greatest(n, lit(1))),
          zero,
          (acc, i) => {
            val cur = element_at(sorted, i)
            val isDup = i > 1 && cur === element_at(sorted, i - 1)
            struct(
              (acc("dc") + when(isDup, 1L).otherwise(0L)).as("dc"),
              (acc("dch") + when(isDup, length(cur).cast("long")).otherwise(0L)).as("dch"),
              (acc("tc") + length(cur).cast("long")).as("tc")
            )
          }
        )
        element_at(
          transform(
            array(when(n >= 1, folded).otherwise(zero)),
            r =>
              struct(
                n.cast("long").as("n_lines"),
                round(r("dc").cast("double") / greatest(n, lit(1)).cast("double"), 6)
                  .as("dup_line_frac"),
                round(r("dch").cast("double") / greatest(r("tc"), lit(1L)).cast("double"), 6)
                  .as("dup_line_char_frac")
              )
          ),
          1
        )
      }
    )
    element_at(out, 1)
  }

  /** Fixed-width token chunks as pseudo-lines — the standard stand-in when
    * a corpus has no newlines (this repo's synthetic tables); also the
    * deterministic paragraph splitter for [[duplicateLineSignals]].
    */
  def tokenChunks(tokens: Column, width: Int): Column = {
    require(width > 0, s"width must be positive, got $width")
    // bind `tokens` once: a free expression (e.g. split(text, " ")) inside
    // the per-chunk lambda would re-tokenize the whole document per chunk
    // under interpreted HOF eval — O(n^2/width) per row
    element_at(
      transform(
        array(tokens),
        ts => {
          val nChunks = ceil(size(ts).cast("double") / width).cast("int")
          transform(
            sequence(lit(0), greatest(nChunks - 1, lit(0))),
            i => array_join(slice(ts, i * width + 1, lit(width)), " ")
          )
        }
      ),
      1
    )
  }

  /** Whitespace token count. */
  def tokenCountWs(text: Column): Column = size(Normalize.tokensOf(text)).cast("long")

  /** BPE-ish subword count: word-boundary pieces + digit runs + punct, the
    * usual cheap proxy for tokenizer token counts.
    */
  def tokenCountBpeIsh(text: Column): Column =
    // whitespace pieces are separators, not tokens — without the \S guard
    // every space counts as a token and prose counts run ~1.7-2x high
    size(filter(split(text, "(?=[^A-Za-z0-9])|(?<=[^A-Za-z0-9])"), t => t.rlike("\\S"))).cast("long")

  /** 64-bit SimHash fingerprint of the token stream. */
  def fingerprintSimhash(text: Column): Column = simhash64(Normalize.tokensOf(text))

  /** Main-content extraction from the north-rule `html:binary` column —
    * the step that produces the pipeline's `text` (per-row invariant:
    * byte-identical extracted text per url). Standard extraction order:
    * the whole head element and script/style elements WITH their content
    * (title/meta/js/css are chrome, not content), then comments, then all
    * remaining tags, then one-pass entity decode (&lt; &gt; &quot; &#39;
    * &nbsp; first, &amp; LAST — so "&amp;lt;" decodes to "&lt;", never
    * double-decodes to "<"), then whitespace-run collapse + trim.
    *
    * Pure built-in regexp/replace chain: row-local, zero exchanges, stays
    * in whole-stage codegen — at 100 TB this runs entirely inside the
    * scan projection. Patterns avoid backreferences and Java-only classes
    * so Java (Spark) and RE2 (the DuckDB oracle) agree byte-for-byte.
    * A real CC build swaps in a DOM-aware kernel per content type; the
    * contract (binary in, normalized text out, row-local) is this one.
    */
  def htmlText(html: Column): Column = {
    val s0 = decode(html, "UTF-8")
    // comments are stripped BEFORE script/style: a commented-out <script>
    // would otherwise make the non-greedy script pass consume visible
    // content up to the next real </script>. (The converse failure — a
    // literal "<!--" inside live script source — is removed WITH its
    // script element anyway unless it also swallows a "-->", the rarer
    // case; HTML5's full script-data tokenizer is out of scope for a
    // regex extractor.)
    val s3 = regexp_replace(s0, "(?s)<!--.*?-->", " ")
    val sh = regexp_replace(s3, "(?is)<head\\b[^>]*>.*?</head>", " ")
    val s1 = regexp_replace(sh, "(?is)<script\\b[^>]*>.*?</script>", " ")
    val s2 = regexp_replace(s1, "(?is)<style\\b[^>]*>.*?</style>", " ")
    val s4 = regexp_replace(s2, "(?s)<[^>]*>", " ")
    val e = replace(
      replace(
        replace(
          replace(
            replace(replace(s4, lit("&lt;"), lit("<")), lit("&gt;"), lit(">")),
            lit("&quot;"),
            lit("\"")
          ),
          lit("&#39;"),
          lit("'")
        ),
        lit("&nbsp;"),
        lit(" ")
      ),
      lit("&amp;"),
      lit("&")
    )
    trim(regexp_replace(e, "\\s+", " "))
  }

  /** Unigram language-model quality scoring — the in-engine stand-in for
    * KenLM-style perplexity filtering (CCNet/RefinedWeb corpus builds rank
    * documents by LM log-probability; a hashed-unigram model is the
    * cheapest member of that family and already separates prose from
    * gibberish/boilerplate). Two passes, both scale-shaped:
    *
    *   1. model build: ONE bounded aggregation over hashed token buckets
    *      (`term_freqs`, <= `buckets` output rows) collected + broadcast —
    *      the vocabulary never shuffles and the model is O(buckets)
    *      regardless of corpus size;
    *   2. scoring: a row-local codegen'd kernel ([[graft.functions
    *      .UnigramScore]]) computes each doc's count-weighted mean
    *      log p(bucket) against the broadcast map — zero exchanges.
    *
    * Add-one smoothing over buckets: logp(b) = ln((c_b + 1) / (total +
    * buckets)); tokens hashing to an unseen bucket (possible when scoring
    * docs outside the model corpus) get ln(1 / (total + buckets)).
    * Tokens are the RAW whitespace split (oracle-replayable; empty docs
    * score 0.0 — gate those on token count, not logprob).
    *
    * Returns (model, score): `model` is the broadcastable (t, c) frame —
    * persist it to score future deltas against a FROZEN model, the same
    * artifact pattern as [[PairScorer.idfArtifact]]; `score(docs)` adds
    * `lp_mean` to any frame with `textCol`.
    */
  def unigramModel(
      docs: DataFrame,
      textCol: String = "text",
      buckets: Int = 1 << 18
  ): (DataFrame, Long) =
    ngramModel(docs, split(col(textCol), " "), buckets)

  /** Adjacent-pair features as "t1 t2" strings — the hashed-BIGRAM feature
    * space of DSIR-style selection (one joined string per adjacent pair, so
    * the same FNV fold / bucket machinery applies unchanged). Row-local;
    * docs with fewer than two tokens get an empty feature array.
    */
  def bigramsOf(tokens: Column): Column =
    // bind `tokens` once: callers pass expressions like split(text, " "),
    // which interpreted HOF eval would otherwise re-run TWICE PER BIGRAM
    element_at(
      transform(
        array(tokens),
        ts =>
          when(size(ts) < 2, array().cast("array<string>"))
            .otherwise(
              transform(
                sequence(lit(1), size(ts) - 1),
                i => concat(element_at(ts, i), lit(" "), element_at(ts, i + 1))
              )
            )
      ),
      1
    )

  /** [[unigramModel]] over an arbitrary token-array expression (raw
    * whitespace tokens, [[bigramsOf]] pairs, shingles, ...). Same bounded
    * shape: ONE hashed-bucket aggregation, <= `buckets` output rows.
    */
  def ngramModel(
      docs: DataFrame,
      tokens: Column,
      buckets: Int = 1 << 18
  ): (DataFrame, Long) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val tf = graft.functions.SimilarityFunctions.term_freqs(tokens, buckets)
    val rows = docs
      .select(tf.as("_tf"))
      .select(explode(arrays_zip(col("_tf.ts"), col("_tf.ws"))).as("_z"))
      .select(col("_z.ts").as("t"), col("_z.ws").as("w"))
      .groupBy("t")
      .agg(sum(col("w")).cast("long").as("c"))
      .collect() // bounded by `buckets`
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSeq
    (rows.toDF("t", "c"), rows.map(_._2).sum)
  }

  /** Score `docs` against a unigram model built by [[unigramModel]] (or
    * loaded from its persisted (t, c) frame + total). Row-local.
    */
  def unigramLogProb(
      docs: DataFrame,
      model: DataFrame,
      totalTokens: Long,
      textCol: String = "text",
      buckets: Int = 1 << 18
  ): DataFrame =
    ngramLogProb(docs, model, totalTokens, split(col(textCol), " "), buckets)

  /** [[unigramLogProb]] over an arbitrary token-array expression — must be
    * the SAME expression the model was built with ([[ngramModel]]).
    */
  def ngramLogProb(
      docs: DataFrame,
      model: DataFrame,
      totalTokens: Long,
      tokens: Column,
      buckets: Int = 1 << 18
  ): DataFrame = {
    val spark = docs.sparkSession
    val denom = totalTokens.toDouble + buckets.toDouble
    val m = new java.util.HashMap[java.lang.Long, java.lang.Double]()
    model.select(col("t").cast("long"), col("c").cast("long")).collect().foreach { r =>
      m.put(r.getLong(0), math.log((r.getLong(1) + 1.0) / denom))
    }
    val lpBc = spark.sparkContext.broadcast(m)
    val tf = graft.functions.SimilarityFunctions.term_freqs(tokens, buckets)
    docs.withColumn(
      "lp_mean",
      graft.functions.SimilarityFunctions.unigram_score(tf, lpBc, math.log(1.0 / denom))
    )
  }

  /** Convenience: annotate a documents frame (expects a `text` column). */
  def annotate(docs: DataFrame): DataFrame =
    docs
      .withColumn("lang_pred", langId(col("text")))
      .withColumn("quality", qualityScore(col("text")))
      .withColumn("n_tokens", tokenCountWs(col("text")))
      .withColumn("fingerprint", fingerprintSimhash(col("text")))
}
