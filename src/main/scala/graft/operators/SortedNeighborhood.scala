package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sorted-neighborhood blocking (Hernández & Stolfo's merge/purge method):
  * sort the corpus by a discriminating key and emit every pair inside a
  * fixed-size sliding window. Complements the key-equality strategies
  * (Blocking.scala) exactly where they are weak — near-matches that
  * disagree on every exact key but sort adjacently (typos in the tail of a
  * name, trailing-token noise) — and its candidate count is LINEAR by
  * construction: exactly (w-1) pairs per document regardless of corpus
  * size or key skew, the property the key-based strategies need a salt cap
  * to approximate.
  *
  * Spark-first at scale — the textbook formulation is a global window
  * function, which is a single-partition serialization point. Instead:
  *
  *   1. the global rank comes from [[graft.util.DeterministicSeq.assign]]
  *      — an AQE-sized range repartition by the sort key, driver-side
  *      per-partition offsets and a running count within each range (the
  *      kernel behind the deterministic output seq), so ranking
  *      parallelizes across the cluster;
  *   2. window pairs come from an EQUI-join on rank: each row explodes to
  *      its w-1 successor ranks and joins the rank column directly. Every
  *      rank matches exactly one row and generates exactly w-1 candidates,
  *      so the join is perfectly uniform — the one self-join in the engine
  *      that structurally cannot skew.
  *
  * Ties on the sort key are broken by url (the rank — hence the pair set —
  * is deterministic across partitionings and reruns).
  */
object SortedNeighborhood {

  /** Candidate pairs for one sorting pass. Output: (urlA, urlB), urlA <
    * urlB, each unordered pair exactly once (generated at its lower rank).
    */
  def pairs(pages: DataFrame, sortKey: Column, window: Int): DataFrame = {
    require(window >= 2, s"window must be >= 2, got $window")
    val keyed = pages.select(
      col("url"),
      // TYPED composite ordering: a struct compares field-by-field, so a
      // numeric sort key orders numerically (a string-concat _ord would
      // put "10" before "2") and a NULL key groups deterministically
      // FIRST (concat_ws SKIPS nulls, which would scatter null-key rows
      // through the ordering by bare url instead)
      struct(sortKey.as("k"), col("url").cast("string").as("u")).as("_ord")
    )
    val ranked = graft.util.DeterministicSeq.assign(keyed, "_ord").select(col("url"), col("seq"))
    val succ = ranked.select(
      col("url").as("_ua"),
      explode(sequence(col("seq") + 1, col("seq") + (window - 1))).as("seq")
    )
    succ
      .join(ranked.withColumnRenamed("url", "_ub"), "seq")
      .select(least(col("_ua"), col("_ub")).as("urlA"), greatest(col("_ua"), col("_ub")).as("urlB"))
  }

  /** The classic multi-pass variant: one window pass per sort key, pairs
    * unioned and deduped (a pair surviving several passes scores once —
    * same contract as [[Blocker.pairs]] across strategies).
    */
  def multiPass(pages: DataFrame, sortKeys: Seq[Column], window: Int): DataFrame = {
    require(sortKeys.nonEmpty, "at least one sort key")
    sortKeys
      .map(k => pairs(pages, k, window))
      .reduce(_ unionByName _)
      .distinct()
  }
}
