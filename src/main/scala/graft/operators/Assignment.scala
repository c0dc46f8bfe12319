package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One-to-one assignment decisioning over scored candidate pairs — the
  * "each record matches AT MOST ONE other" constraint transitive
  * clustering deliberately ignores (deduplication wants components;
  * A↔B reconciliation — invoices↔payments, mention↔entity with unique
  * referents — wants a matching). The reference's per-mention top-1 pick
  * (lion_linker.py:969) is one-sided: two mentions may claim the same
  * entity. This operator enforces mutual exclusivity.
  *
  * Algorithm: symmetric-best-match peeling. A round matches every pair
  * (u, v) where v is u's best-scoring partner AND u is v's (ties break
  * deterministically on the smaller partner id); matched nodes leave the
  * pool and the next round re-matches the remainder. This is the
  * standard parallel relaxation of global greedy matching (each round is
  * a 1/2-approximation step of maximum-weight matching; the peel
  * converges to the greedy solution on score-distinct inputs) — the
  * sequential greedy scan itself is inherently driver-ordered and does
  * not distribute.
  *
  * Scale shape per round: one symmetrization (map-only union), two keyed
  * aggregations (max score per node, min partner among argmax), one
  * self-join of the best-partner frame, two anti-joins to shrink the
  * pool. No windows, no collects; snapshots cut lineage. The peel runs
  * under `graft.util.Rounds`, the round driver of connected components
  * and pivot clustering, so a pool still non-empty after `maxRounds`
  * rounds throws instead of returning a partial matching.
  */
object Assignment {

  /** One symmetric-best-match round. `edges`: (u, v, score) with one row
    * per unordered pair, ANY orientation (the canonical u < v output no
    * longer depends on the input's); null scores are ignored, NaN scores
    * are not supported (use a finite sentinel). Returns the matched pairs
    * (u, v, score), u < v.
    *
    * Plan shape (this is the hot path when `edges` is an un-materialized
    * quadratic pair join): the input subtree is evaluated ONCE — both
    * orientations come from a single explode rather than a self-union,
    * argmax-with-min-partner-tie-break is ONE aggregation
    * (min(struct(-score, v)): negation inverts the double ordering, the
    * struct's second field breaks ties on the smallest partner), and the
    * matched pair's score is the carried best_s (== the edge's score by
    * definition of argmax), so no re-join against the input is needed.
    */
  def matchRound(edges: DataFrame): DataFrame = {
    val e = edges.select(col("u"), col("v"), col("score")).where(col("score").isNotNull)
    val dir = e
      .select(
        explode(
          array(
            struct(col("u").as("a"), col("v").as("b")),
            struct(col("v").as("a"), col("u").as("b"))
          )
        ).as("p"),
        col("score")
      )
      .select(col("p.a").as("u"), col("p.b").as("v"), col("score"))
    val best = dir
      .groupBy("u")
      .agg(min(struct((-col("score")).as("ns"), col("v").as("bp"))).as("b"))
      .select(col("u"), col("b.bp").as("bp"), (-col("b.ns")).as("best_s"))
    best
      .join(best.select(col("u").as("v"), col("bp").as("bp2")), col("bp") === col("v"))
      .where(col("bp2") === col("u") && col("u") < col("v"))
      .select(col("u"), col("v"), col("best_s").as("score"))
  }

  /** Iterated peel: run [[matchRound]] and remove matched nodes from the
    * pool until it is empty. Null-score edges leave the pool up front, so
    * a non-empty pool always has a mutual best pair (its top edge, ties on
    * the smallest id) and every round matches. Throws IllegalStateException
    * if the pool is not empty after `maxRounds` rounds.
    * Output: (u, v, score, round) with round = 1-based peel index —
    * matches from later rounds are "second choices" whose best partner
    * was already taken, an audit signal in itself.
    */
  def matching(
      edges: DataFrame,
      maxRounds: Int = 8,
      snapshot: DataFrame => DataFrame = graft.util.Checkpoints.serializedLocal
  ): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val pool0 = edges.select(col("u"), col("v"), col("score")).where(col("score").isNotNull)
    // state: (pool, matched pairs so far); from round 1 on, the pool
    // probe is a limit-1 scan of a checkpoint
    val (_, acc) = graft.util.Rounds.run("Assignment.matching", maxRounds, (pool0, Option.empty[DataFrame]))(
      _._1.isEmpty,
      _._1.count()
    ) { case ((pool, acc), n) =>
      val m = snapshot(matchRound(pool))
      val stamped = m.withColumn("round", lit(n + 1))
      val taken = m.select(col("u").as("n")).unionAll(m.select(col("v").as("n"))).distinct()
      val rest = snapshot(
        pool
          .join(taken.select(col("n").as("u")), Seq("u"), "left_anti")
          .join(taken.select(col("n").as("v")), Seq("v"), "left_anti")
          .select("u", "v", "score")
      )
      (rest, Some(acc.fold(stamped)(_.unionByName(stamped))))
    }
    // empty matching: caller-typed empty frame (same u/v/score types)
    acc.getOrElse(pool0.limit(0).withColumn("round", lit(1)))
  }
}
