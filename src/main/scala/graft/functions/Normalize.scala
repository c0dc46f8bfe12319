package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.SimilarityFunctions.lev_distance

/** Column-level normalization expressions (pure Catalyst, codegen'd).
  *
  * Reference string semantics mirrored:
  *  - whitespace normalization + "N.A." default:
  *    /root/reference/lion_linker/prompt/generator.py:38-42
  *  - id normalization (suffix after last '/' then last ':'):
  *    /root/reference/app/services/linker.py:905-914
  *  - case-insensitive id equality via upper():
  *    /root/reference/lion_linker/lion_linker.py:421,474,773,787
  * URL canonicalization is the north-rule generalization (the reference's
  * mention strings become our canonical page keys).
  */
object Normalize {

  /** `" ".join(s.split())` with "N.A." fallback (generator.py:38-42). */
  def wsNorm(c: Column): Column =
    coalesce(nullif(regexp_replace(trim(c), "\\s+", " "), lit("")), lit("N.A."))

  /** Suffix after last '/' then after last ':' (linker.py:905-914). */
  def idNorm(c: Column): Column =
    substring_index(substring_index(c, "/", -1), ":", -1)

  /** Host part of a URL without scheme/www./m. prefixes, lowercased. */
  def domainOf(url: Column): Column =
    regexp_replace(
      lower(regexp_extract(url, "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)", 1)),
      "^(www\\.|m\\.)",
      ""
    )

  /** Canonical URL: lowercase, scheme dropped, www./m. dropped, query string
    * and fragment dropped, trailing slash dropped. Planted URL-variant
    * duplicates all collapse to the same canonical key.
    */
  def canonicalUrl(url: Column): Column = {
    val noScheme = regexp_replace(lower(trim(url)), "^[a-z][a-z0-9+.-]*://", "")
    val noHostPrefix = regexp_replace(noScheme, "^(www\\.|m\\.)", "")
    val noQuery = regexp_replace(noHostPrefix, "[?#].*$", "")
    regexp_replace(noQuery, "/+$", "")
  }

  /** RFC-3986-style URL normalization — the canonical form a crawl store
    * KEEPS (vs [[canonicalUrl]], the aggressive dedup KEY that throws the
    * query away). Rules, all semantics-preserving or tracking-only:
    * fragment dropped; scheme and host lowercased; default port dropped
    * (:80 on http, :443 on https — others kept); tracking params removed
    * (key starts with "utm_", or key in {gclid, fbclid, msclkid}); the
    * surviving query params sorted byte-wise and re-joined; empty path
    * becomes "/". Inputs without "://" pass through trimmed. Row-local,
    * all codegen'd builtins — zero exchanges at any scale. (Param sort is
    * Java-string order; identical to byte order for ASCII params.)
    */
  def urlNormalize(url: Column): Column =
    org.apache.spark.sql.GraftShim.column(
      graft.functions.UrlNormalize(org.apache.spark.sql.GraftShim.expression(url))
    )

  /** Lowercased whitespace tokens of a text column (empty array for blank). */
  def tokensOf(text: Column): Column =
    filter(split(lower(trim(text)), "\\s+"), t => length(t) > 0)

  /** n-token shingles joined by a single space; empty array if too short.
    * `tokens` is bound once as a lambda variable: interpreted HOF eval
    * re-runs free subexpressions per element, so a caller-passed
    * split(text) would otherwise re-tokenize the document per shingle.
    */
  def shingles(tokens: Column, n: Int): Column =
    element_at(
      transform(
        array(tokens),
        ts =>
          when(size(ts) < n, array().cast("array<string>"))
            .otherwise(
              transform(
                sequence(lit(1), size(ts) - lit(n - 1)),
                i => array_join(slice(ts, i, lit(n)), " ")
              )
            )
      ),
      1
    )

  /** Confidence banding (lion_linker/lion_linker.py:717-726). */
  def confidenceBand(score: Column): Column =
    when(score >= 0.70, "HIGH").when(score >= 0.40, "MEDIUM").otherwise("LOW")

  /** Clamp to [0,1] (lion_linker/lion_linker.py:705-706). */
  def clamp01(c: Column): Column = least(lit(1.0), greatest(lit(0.0), c))

  /** Levenshtein similarity ratio in [0,1] over (possibly length-capped)
    * strings: 1 - dist/max(len). Both empty => 1.0.
    */
  def levRatio(a: Column, b: Column): Column = {
    val m = greatest(length(a), length(b))
    when(m === 0, lit(1.0)).otherwise(lit(1.0) - lev_distance(a, b).cast("double") / m)
  }

  /** Thresholded variant: distances beyond `maxDist` count as `maxDist`
    * (pairs that far apart are far below any match threshold anyway). The
    * bit-parallel kernel costs ⌈min(len)/64⌉ word steps per char of the
    * longer string whatever `maxDist` is; the threshold only lets it stop
    * early, at once when the lengths differ by more than `maxDist`.
    */
  def levRatioBanded(a: Column, b: Column, maxDist: Int): Column = {
    val m = greatest(length(a), length(b))
    val d = lev_distance(a, b, maxDist).cast("double")
    val dEff = when(d < 0, least(lit(maxDist.toDouble), m.cast("double"))).otherwise(d)
    when(m === 0, lit(1.0)).otherwise(lit(1.0) - dEff / m)
  }
}
