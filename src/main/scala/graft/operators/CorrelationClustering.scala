package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Correlation clustering by parallel pivot — KwikCluster (Ailon, Charikar
  * & Newman, JACM 2008) in the parallel peeling formulation of
  * Chierichetti, Dalvi & Kumar (KDD 2014). Where connected components
  * transitively chain EVERY positive pair (one bad bridge merges two
  * cities), pivot clustering only groups nodes around locally-chosen
  * pivots, cutting weak bridges — the standard hairball guard for
  * web-scale dedup/ER graphs, with a 3-approximation guarantee under
  * random pivot order.
  *
  * Determinism: the "random" order is rank(v) = (xxhash64(v), v) — a fixed
  * pseudo-random permutation, so reruns, resumes and the DuckDB oracle
  * reproduce the exact clustering.
  *
  * Round semantics (the min-neighbor-defers rule — this, not "claim any
  * pivot neighbor", is what makes the parallel rounds compute EXACTLY the
  * sequential KwikCluster clustering for the rank order): every undecided
  * node looks at its minimum-rank LIVE neighbor (undecided neighbors and
  * already-decided pivots stay live; clustered nodes drop out):
  *   - no smaller-rank live neighbor  -> the node becomes a pivot;
  *   - min live neighbor is a pivot   -> the node clusters to it;
  *   - min live neighbor is undecided -> the node waits for it to resolve.
  * Sequential equivalence by induction on rank: a node's first-processed
  * pivot neighbor in rank order is exactly the first min-live-neighbor
  * that resolves to a pivot.
  *
  * Scale shape: each round is one groupBy(min(struct)) + one keyed join +
  * two anti-joins on the shrinking edge set — no windows, no driver-side
  * graph state; per-round frames go through the same serialized snapshot
  * hook as the CC operator, so lineage stays flat. Random ranks make
  * monotone waiting chains O(log n) whp, so O(log n) rounds whp.
  */
object CorrelationClustering {

  /** Cluster the (src, dst) pair frame; returns (id, pivot) covering every
    * distinct endpoint (isolated-by-peeling nodes become their own pivot,
    * exactly as sequential KwikCluster makes them singleton pivots).
    * The rounds run under `graft.util.Rounds`: live edges left after
    * `maxRounds` rounds throw IllegalStateException — with hashed ranks
    * that means the input violates the contract, not bad luck.
    */
  def pivot(
      edgesIn: DataFrame,
      maxRounds: Int = 60,
      snapshot: DataFrame => DataFrame = graft.util.Checkpoints.serializedLocal
  ): DataFrame = {
    // both orientations, self-loops dropped: every node sees all neighbors
    val oriented = edgesIn
      .select(col("src").as("a"), col("dst").as("b"))
      .where(col("a") =!= col("b"))
    val ed0 = snapshot(
      oriented.union(oriented.select(col("b").as("a"), col("a").as("b"))).distinct()
    )
    val nodes = snapshot(ed0.select(col("a").as("id")).distinct())

    // live edges: a undecided; b undecided OR a decided pivot (b drops when
    // it clusters, a's whole orientation drops when a decides either way)
    val last = graft.util.Rounds.run(
      "CorrelationClustering.pivot",
      maxRounds,
      Peel(ed0, ed0.count(), nodes.select(col("id").as("p")).limit(0), Vector.empty)
    )(_.remaining == 0L, _.remaining) { (s, _) =>
      // min-rank live neighbor per undecided node — snapshotted ONCE: four
      // downstream consumers (new pivots, claims, and the two live-set
      // anti-join sides) previously re-evaluated this aggregation per
      // consumer, the round's only full pass over the live edge set
      val mn = snapshot(
        s.live
          .groupBy(col("a"))
          .agg(min(struct(xxhash64(col("b")).as("h"), col("b").as("id"))).as("mn"))
          .select(
            col("a"),
            struct(xxhash64(col("a")).as("h"), col("a").as("id")).as("ra"),
            col("mn")
          )
      )
      val newPivots = mn.where(col("ra") < col("mn")).select(col("a").as("p"))
      // lazy union of checkpointed per-round pivot frames: claims only ever
      // JOINS this set, so re-materializing the growing union every round
      // (the previous shape) bought nothing
      val pivotsAll = s.pivots.union(newPivots)
      // cluster to the min live neighbor iff it is a (this- or any-earlier-
      // round) pivot; pivots always outrank their claimants, so the two
      // decision sets are disjoint by construction. is_p marks the pivot
      // rows so both the decided set and the clustered subset read from the
      // ONE round snapshot.
      val claims = mn
        .join(pivotsAll, mn("mn.id") === pivotsAll("p"))
        .select(col("a").as("id"), col("mn.id").as("pivot"))
      val roundAssign = snapshot(
        newPivots
          .select(col("p").as("id"), col("p").as("pivot"), lit(true).as("is_p"))
          .union(claims.select(col("id"), col("pivot"), lit(false).as("is_p")))
      )
      val decidedA = roundAssign.select(col("id"))
      val clusteredB = roundAssign.where(!col("is_p")).select(col("id"))
      val live = snapshot(
        s.live
          .join(decidedA, s.live("a") === decidedA("id"), "left_anti")
          .join(clusteredB, s.live("b") === clusteredB("id"), "left_anti")
      )
      // NOT an observation ride-along: the terminating round's live set is
      // empty, and the optimizer prunes CollectMetrics on an empty relation
      // so the observation would never fire (full poll budget burned once
      // per call); a count over the just-checkpointed blocks is ~free
      Peel(live, live.count(), pivotsAll, s.assigned :+ roundAssign.select(col("id"), col("pivot")))
    }
    val allAssigned =
      if (last.assigned.isEmpty) nodes.select(col("id"), col("id").as("pivot")).limit(0)
      else last.assigned.reduce(_ union _)
    // peeled-to-isolation nodes: singleton pivots, like sequential KwikCluster
    val singletons = nodes
      .join(allAssigned.select("id"), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("pivot"))
    allAssigned.union(singletons)
  }

  /** `pivot`'s round state: the live edges and their count, every pivot
    * so far, and the per-round (id, pivot) frames.
    */
  private final case class Peel(live: DataFrame, remaining: Long, pivots: DataFrame, assigned: Vector[DataFrame])
}
