package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-curation operators for the training-data pipeline: benchmark
  * decontamination, deterministic quota sampling, PII redaction. These are
  * the steps between dedup and export that a web-scale corpus build runs
  * on every refresh.
  */
object Curation {

  /** Distinct n-gram strings of `n` consecutive tokens (docs shorter than
    * n tokens contribute none).
    */
  private def gramRows(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs
      .select(col(idCol), split(col(textCol), " ").as("_toks"))
      .where(size(col("_toks")) >= n)
      .select(
        col(idCol),
        explode(
          expr(
            s"array_distinct(transform(sequence(1, size(_toks) - ${n - 1}), " +
              s"i -> concat_ws(' ', slice(_toks, i, $n))))"
          )
        ).as("_g")
      )

  /** Benchmark decontamination: flag corpus docs sharing at least
    * `minHits` distinct n-grams with an evaluation set (the GPT-3/Llama
    * n-gram-overlap method — training on eval data silently inflates every
    * downstream score, so corpus builds run this on every refresh).
    *
    * Scale shape: the benchmark is small by definition (eval sets are
    * thousands of docs), so its distinct gram set BROADCASTS; the corpus
    * side explodes grams map-side and only the HITS survive to the by-id
    * aggregation (the n-gram blowup never shuffles). Output: one row per
    * corpus doc — (id, n_grams, n_hits, contaminated).
    */
  def decontaminate(
      docs: DataFrame,
      benchmark: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 8,
      minHits: Int = 1
  ): DataFrame = {
    require(n >= 1 && minHits >= 1, s"n and minHits must be positive (got n=$n, minHits=$minHits)")
    val grams = gramRows(docs, idCol, textCol, n)
    val benchGrams = gramRows(benchmark, idCol, textCol, n).select("_g").distinct()
    val agg = grams
      .join(broadcast(benchGrams.withColumn("_hit", lit(1))), Seq("_g"), "left")
      .groupBy(idCol)
      // grams are distinct per doc by construction; each matches <= 1
      // bench row, so plain counts are exact
      .agg(count(lit(1)).as("n_grams"), count(col("_hit")).as("n_hits"))
    docs
      .select(col(idCol))
      .join(agg, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) >= minHits).as("contaminated")
      )
  }

  /** Deterministic quota sampling: at most `quota` docs per key, selected
    * by xxhash64(id) rank — stable across runs, partitionings and corpus
    * growth ORDER (a doc already sampled stays sampled unless lower-hash
    * newcomers displace it; no RNG state to persist). The rank runs inside
    * each key group; per-key quotas keep groups bounded for the window —
    * a key skewed enough to overwhelm one task is the caller's signal that
    * the stratum needs splitting, not a bigger window.
    */
  def quotaSample(
      docs: DataFrame,
      keyCols: Seq[String],
      quota: Int,
      idCol: String = "doc_id"
  ): DataFrame = {
    require(keyCols.nonEmpty && quota >= 1, s"need key columns and a positive quota (got $quota)")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(xxhash64(col(idCol)), col(idCol))
    docs
      .withColumn("_rk", row_number().over(w))
      .where(col("_rk") <= quota)
      .drop("_rk")
  }

  /** Leakage-safe deterministic train/valid/test split: each row is
    * assigned a split by hashing `keyCol` into `buckets` and cutting at
    * the cumulative-weight boundaries. Pass the dedup CLUSTER id (or any
    * group representative) as `keyCol` and every near-duplicate lands in
    * the SAME split — splitting by raw doc id after deduplication still
    * leaks eval content through surviving near-dups, which is the classic
    * contamination bug this operator exists to prevent.
    *
    * Deterministic and growth-stable: a doc's split depends only on its
    * key, never on corpus size, partitioning, or insertion order — a
    * corpus refresh re-assigns nothing (xxhash64, no RNG state). Row-local
    * projection, zero exchanges, stays in whole-stage codegen.
    *
    * Boundaries are integer bucket cuts (round(cumWeight * buckets)), so
    * realized proportions are exact to 1/buckets; weights must sum to ~1.
    */
  def hashSplit(
      docs: DataFrame,
      splits: Seq[(String, Double)],
      keyCol: String = "doc_id",
      buckets: Int = 10000
  ): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 > 0), s"need positive split weights (got $splits)")
    val total = splits.map(_._2).sum
    require(math.abs(total - 1.0) < 1e-9, s"split weights must sum to 1 (got $total)")
    require(buckets >= splits.size, s"need at least one bucket per split (got $buckets)")
    val bucket = pmod(xxhash64(col(keyCol)), lit(buckets))
    val bounds = splits.scanLeft(0.0)(_ + _._2).tail.map(c => math.round(c * buckets))
    // rounding to integer bucket cuts can collapse a split the caller
    // explicitly asked for (e.g. weight 1e-5 with buckets=10000 rounds to a
    // zero-width range): fail loudly instead of silently emitting an empty
    // eval set
    require(
      bounds.head > 0 && bounds.iterator.sliding(2).withPartial(false).forall(w => w(0) < w(1)),
      s"split weights $splits are not representable with $buckets buckets " +
        s"(bucket bounds $bounds must be strictly increasing and start > 0); raise `buckets`"
    )
    val label = splits.zip(bounds).init.foldRight(lit(splits.last._1): Column) {
      case (((name, _), bound), rest) => when(bucket < bound, name).otherwise(rest)
    }
    docs.withColumn("split", label)
  }

  /** One-call quality gate: composes the TextAnalysis signals into a
    * keep/drop decision with REASON CODES — the auditable form a corpus
    * build wants (drop rates per reason are the monitoring surface; a
    * bare boolean hides which filter fired). Checks, in fixed order:
    * too_short / too_long (token count), low_diversity (distinct-token
    * ratio), repetitive_bigram / repetitive_trigram (the Gopher
    * repetition fractions). Operates on caller-supplied tokens (same
    * contract as repetitionSignalsTokens, so engine and oracle share one
    * tokenization). Row-local projection — zero exchanges; at 100 TB
    * this runs inside the scan.
    */
  def qualityGate(
      docs: DataFrame,
      idCol: String = "doc_id",
      toksCol: String = "toks",
      minTokens: Long = 50L,
      maxTokens: Long = 100000L,
      minDistinctRatio: Double = 0.0,
      maxTopBigramFrac: Double = 0.2,
      maxDupTrigramFrac: Double = 0.2
  ): DataFrame = {
    val toks = col(toksCol)
    val rep = graft.operators.TextAnalysis.repetitionSignalsTokens(toks)
    val staged = docs.select(
      col(idCol),
      size(toks).cast("long").as("n_tokens"),
      round(
        size(array_distinct(toks)).cast("double") / greatest(size(toks), lit(1)).cast("double"),
        6
      ).as("distinct_ratio"),
      rep.getField("top_bigram_frac").as("top_bigram_frac"),
      rep.getField("dup_trigram_frac").as("dup_trigram_frac")
    )
    staged
      .withColumn(
        "reasons",
        filter(
          array(
            // null text -> null toks -> every comparison below is NULL and
            // filters out, which would silently PASS the degenerate doc —
            // the gate's exact job is to drop it, with its own reason code
            when(col("n_tokens").isNull, lit("no_text")),
            when(col("n_tokens") < minTokens, lit("too_short")),
            when(col("n_tokens") > maxTokens, lit("too_long")),
            when(col("distinct_ratio") < minDistinctRatio, lit("low_diversity")),
            when(col("top_bigram_frac") > maxTopBigramFrac, lit("repetitive_bigram")),
            when(col("dup_trigram_frac") > maxDupTrigramFrac, lit("repetitive_trigram"))
          ),
          x => x.isNotNull
        )
      )
      .withColumn("keep", size(col("reasons")) === 0)
  }

  /** Training-mixture weights per source stratum: weight_s proportional
    * to (token mass of s)^alpha, normalized to sum 1 — temperature
    * reweighting (alpha < 1 upsamples small sources relative to their raw
    * share; alpha = 1 is proportional sampling), the standard rule for
    * composing web-corpus training mixtures across domains/languages.
    *
    * Scale shape: one map-side-combinable aggregation to one row per
    * source (strata counts are tiny by definition), then the normalizer
    * rides a scalar cross-join of the 1-row total — the corpus is read
    * once and never reshuffled. Output: (keyCol, n_docs, n_tokens,
    * weight), weight rounded to 6 decimals so replay engines agree.
    */
  def mixWeights(
      docs: DataFrame,
      keyCol: String = "source",
      tokensCol: String = "n_tokens",
      alpha: Double = 0.7
  ): DataFrame = {
    require(alpha > 0, s"alpha must be positive (got $alpha)")
    val bySource = docs
      .groupBy(keyCol)
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col(tokensCol)).cast("long").as("n_tokens")
      )
      .withColumn("_mass", pow(col("n_tokens").cast("double"), lit(alpha)))
    val total = bySource.agg(sum(col("_mass")).as("_total"))
    bySource
      .crossJoin(total)
      .select(
        col(keyCol),
        col("n_docs"),
        col("n_tokens"),
        round(col("_mass") / col("_total"), 6).as("weight")
      )
  }

  /** GPT-style sequence packing (concat-and-chop): lay the corpus out as
    * one deterministic token stream and cut it into fixed-`budget`
    * training sequences. Each doc gets its global `start_pos` in the
    * stream, the `pack_id` its first token lands in, the `pack_offset`
    * within that pack, and `pack_id_end` (docs longer than the budget
    * span packs — the concat-and-chop contract; trainers mask across doc
    * boundaries, packers don't split on them).
    *
    * Deterministic and Spark-first: the stream order is
    * (orderExpr, idCol) — pass e.g. `xxhash64(col(id))` for a stable
    * pseudo-shuffle — and the global running token count is
    * [[graft.util.DeterministicSeq.runningSum]], the same kernel as the W5
    * seq: NO global single-partition window at any scale, and the result
    * is independent of the range boundaries AQE settles on.
    */
  def packSequences(
      docs: DataFrame,
      idCol: String,
      orderExpr: Column,
      nTokensExpr: Column,
      budget: Long
  ): DataFrame = {
    require(budget >= 1, s"pack budget must be >= 1 token (got $budget)")
    val keyed = docs.select(
      col("*"),
      struct(orderExpr.as("k"), col(idCol).cast("string").as("u")).as("_ord"),
      nTokensExpr.cast("long").as("_n")
    )
    graft.util.DeterministicSeq
      .runningSum(keyed, "_ord", col("_n"), "_end")
      .withColumn("start_pos", col("_end") - col("_n"))
      .withColumn("n_tokens", col("_n"))
      // `div` (integral divide), not floor(double division): exact at any
      // stream length, no 2^53 cliff
      .withColumn("pack_id", expr(s"start_pos div ${budget}L"))
      .withColumn("pack_offset", col("start_pos") % budget)
      // zero-token docs occupy no stream positions: they "land" at
      // start_pos but end before it — pin their end pack to their start
      // pack instead of pack_id - 1
      .withColumn(
        "pack_id_end",
        greatest(col("pack_id"), expr(s"(start_pos + n_tokens - 1) div ${budget}L"))
      )
      .drop("_end", "_ord", "_n")
  }

  /** Token-budget corpus cut: keep the PREFIX of the (orderExpr, idCol)
    * stream whose documents fit entirely inside `budget` tokens — the
    * "sample a 50B-token corpus in quality order" operation. Prefix
    * semantics, not knapsack: once the running total crosses the budget,
    * every later doc is dropped even if it would individually fit (the cut
    * is a deterministic stream position, so reruns and resumes agree).
    * Zero-token docs sitting exactly at the boundary are kept (they occupy
    * no positions). Reuses [[packSequences]]'s running token sum
    * ([[graft.util.DeterministicSeq.runningSum]]) — no global window;
    * output adds `start_pos`/`n_tokens`.
    */
  def takeTokenBudget(
      docs: DataFrame,
      idCol: String,
      orderExpr: Column,
      nTokensExpr: Column,
      budget: Long
  ): DataFrame = {
    require(budget >= 1, s"token budget must be >= 1 (got $budget)")
    packSequences(docs, idCol, orderExpr, nTokensExpr, budget)
      .where(col("start_pos") + col("n_tokens") <= budget)
      .drop("pack_id", "pack_offset", "pack_id_end")
  }

  /** PII redaction: email addresses and long digit runs (phone-shaped)
    * replaced with typed placeholders. Row-local regexp projections —
    * zero exchanges, stays in whole-stage codegen. Patterns are
    * deliberately simple character-class regexes so Java (Spark) and RE2
    * (DuckDB oracle) agree byte-for-byte.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val LongDigitsRe = "[0-9][0-9 ()+-]{6,}[0-9]"

  /** C4's line- and page-level heuristics (Raffel et al. 2020, §2.2): keep
    * only lines that end in terminal punctuation AND have at least
    * `minWordsPerLine` words AND do not mention "javascript"; drop the
    * whole page when fewer than `minLines` lines survive or when any line
    * contains a page-level blocklist needle (C4's "lorem ipsum" and
    * "{" code marker by default; extend with a dirty-word list as
    * policy requires).
    *
    * Entirely row-local (one bound-lambda pass over the caller's line
    * array — newline splits, sentence splits, or [[TextAnalysis
    * .tokenChunks]] pseudo-lines; zero exchanges at any corpus size).
    * Output: (id, n_lines, n_kept, text_clean, keep) — text_clean joins
    * the surviving lines so the frame composes with the dedup family.
    */
  def c4LineFilters(
      docs: DataFrame,
      idCol: String = "doc_id",
      linesCol: String = "lines",
      minWordsPerLine: Int = 5,
      minLines: Int = 3,
      pageBlocklist: Seq[String] = Seq("lorem ipsum", "{")
  ): DataFrame = {
    require(minWordsPerLine >= 1 && minLines >= 0, "degenerate thresholds")
    require(pageBlocklist.forall(_.nonEmpty), "blocklist needles must be non-empty")
    val res = element_at(
      transform(
        array(col(linesCol)),
        ls => {
          val kept = filter(
            ls,
            l => {
              val t = trim(l)
              val endsPunct = t.substr(length(t), lit(1)).isin(".", "!", "?", "\"")
              val words = size(filter(split(t, "\\s+"), w => length(w) > 0))
              endsPunct && words >= minWordsPerLine && !lower(t).contains("javascript")
            }
          )
          val blocked = pageBlocklist
            .map(needle => exists(ls, l => lower(l).contains(needle.toLowerCase)))
            .reduce(_ || _)
          struct(size(ls).as("n_lines"), kept.as("kept"), blocked.as("blocked"))
        }
      ),
      1
    )
    docs
      .select(col(idCol), res.as("_r"))
      .select(
        col(idCol),
        col("_r.n_lines").cast("long").as("n_lines"),
        size(col("_r.kept")).cast("long").as("n_kept"),
        array_join(col("_r.kept"), " ").as("text_clean"),
        (size(col("_r.kept")) >= minLines && !col("_r.blocked")).as("keep")
      )
  }

  def redactPii(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.withColumn(
      textCol,
      regexp_replace(
        regexp_replace(col(textCol), EmailRe, "<EMAIL>"),
        LongDigitsRe,
        "<PHONE>"
      )
    )
}
