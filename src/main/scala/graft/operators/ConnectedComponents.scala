package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Transitive clustering over match edges via the alternating
  * large-star / small-star algorithm (Kiveris et al., "Connected Components
  * in MapReduce and Beyond", SoCC'14), each star one window pass.
  *
  * The reference has no explicit clustering — its clusters are implicit in
  * the per-cell predicted KB ids (/root/reference/lion_linker/
  * lion_linker.py:1113); within-corpus linkage generalizes that to the
  * transitive closure of above-threshold pairs (SURVEY.md J8).
  *
  * Scale notes:
  *  - graphs still iterating after `compactAfter` rounds switch to dense
  *    long node ids (DeterministicSeq ordered by url: numeric min ==
  *    lexicographic-min url) — every star round shuffles the full edge
  *    set, and 8-byte ids cut that volume ~5x vs url strings; cluster ids
  *    map back to component-min urls at the end, fully data-derived
  *    (deterministic across parallelism levels).
  *  - every iteration ends in `localCheckpoint` to truncate lineage —
  *    without it the plan doubles per iteration; `runResumable` passes a
  *    `snapshot` hook that commits each iteration to Parquet instead.
  *  - convergence = (count, hash-sum) signature equality, read off the
  *    snapshot's own action: no extra job per round.
  *  - a round plans three hash exchanges (one window per star, one
  *    distinct) and no join or sort-aggregate; edges are deduped each
  *    round to keep |E| <= n-1 after the first rounds.
  *  - giant-component skew: a star's window puts all rows of one node in
  *    one task, and AQE cannot split a window partition the way it splits
  *    a skewed join partition (see `largeStar`).
  */
object ConnectedComponents {

  /** One large-star round: for every node u (over symmetrized edges), link
    * every strictly-larger neighbor to m = min(N(u) ∪ {u}).
    */
  private[graft] def largeStar(edges: DataFrame): DataFrame = {
    // One window per star (Kiveris et al.'s one reduce per node), not a
    // min-aggregate joined back: that plan spent a SortAggregate (min over
    // strings), a second exchange and an AQE broadcast job per star, and
    // per-job overhead decides the wall on small graphs (BENCH.md R7.0).
    // Trade-off, reversing R5.0 lever (b): AQE never splits a window
    // partition, so once one hub's rows pass spark.sql.adaptive.skewJoin.
    // skewedPartitionThresholdInBytes (256 MB) they share one task, where
    // the join's skew split could have spread them. A 2M-leaf hub, below
    // that threshold, measured no slower (BENCH.md R7.1).
    val sym = edges
      .select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
    sym
      .select(
        col("src"),
        col("dst"),
        least(min(col("dst")).over(Window.partitionBy("src")), col("src")).as("m")
      )
      .where(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
    // no terminal distinct: small-star's min is duplicate-insensitive and
    // its own distinct dedups the round's output
  }

  /** One small-star round: orient edges (big -> small); for every node u
    * link all smaller neighbors and u itself to m = min of them.
    */
  private[graft] def smallStar(edges: DataFrame): DataFrame =
    edges
      .select(greatest(col("src"), col("dst")).as("u"), least(col("src"), col("dst")).as("v"))
      .select(col("u"), col("v"), min(col("v")).over(Window.partitionBy("u")).as("m"))
      .select(
        explode(array(struct(col("v").as("src"), col("m").as("dst")), struct(col("u").as("src"), col("m").as("dst"))))
          .as("e")
      )
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()

  private type Sig = (Long, BigDecimal)

  /** The (count, hash-sum) signature of an edge set, spelled once for the
    * observed snapshot and the fallback scan. decimal(38,0) sum:
    * overflow-proof under ANSI mode (Spark 4 default).
    */
  private val sigCols: Seq[Column] = Seq(
    count(lit(1)).as("n"),
    coalesce(sum(xxhash64(col("src"), col("dst")).cast("decimal(38,0)")), lit(java.math.BigDecimal.ZERO)).as("h")
  )

  private def signature(edges: DataFrame): Sig = {
    val row = edges.agg(sigCols.head, sigCols.tail: _*).collect()(0)
    (row.getLong(0), BigDecimal(row.getDecimal(1)))
  }

  /** Snapshot + convergence signature in ONE action: the (count, hash-sum)
    * signature rides the checkpoint job itself via `df.observe`, replacing
    * the per-iteration second scan of the checkpointed edge set. Falls back
    * to the explicit scan if the snapshot implementation happens not to
    * drive the observation (defensive — localCheckpoint and parquet writes
    * both do).
    */
  private def snapshotWithSignature(edges: DataFrame, snapshot: DataFrame => DataFrame): (DataFrame, Sig) = {
    val obs = org.apache.spark.sql.Observation()
    val out = snapshot(edges.observe(obs, sigCols.head, sigCols.tail: _*))
    // the observation listener fires async after the snapshot's action;
    // bounded shared poll (graft.util.Observations), then fall back to the
    // explicit scan if the snapshot impl didn't drive the observation
    val m = graft.util.Observations.getWithin(obs)
    val sig =
      if (m.nonEmpty) (m("n").asInstanceOf[Long], BigDecimal(m("h").asInstanceOf[java.math.BigDecimal]))
      else signature(out)
    (out, sig)
  }

  /** Node-id compaction: urls -> dense longs via the deterministic seq
    * operator, ordered by url — so numeric min over ids IS lexicographic
    * min over urls and the cluster_id contract survives the mapping. CC
    * iterations then shuffle and compare 8-byte longs instead of ~60-byte
    * url strings (~5x less shuffle volume per round, and every star round
    * shuffles the full edge set). Returns the materialized (url, nid) map.
    *
    * Cost/benefit (measured): compaction spends ~5 extra shuffles (node
    * distinct, seq pass, 2 edge-mapping joins, assignment map-back) to
    * thin every iteration's 2 shuffles. It LOSES below ~10 iterations x
    * large |E| (sf0.1 chain graph: 6.6s -> 11.3s), and wins when
    * iterations x edge bytes dominate — long-chain graphs at TB edge
    * volumes. Hence `run` calls it only mid-run, on graphs still iterating
    * after `compactAfter` rounds. The seq pass needs no size estimate of
    * its (checkpointed, badly estimated) input: its range exchange is
    * sized by AQE from the measured map output.
    */
  private def compactIds(edges: DataFrame, snapshot: DataFrame => DataFrame): DataFrame = {
    val nodes = edges
      .select(col("src").as("url"))
      .unionAll(edges.select(col("dst").as("url")))
      .distinct()
    snapshot(graft.util.DeterministicSeq.assign(nodes, "url").select(col("url"), col("seq").as("nid")))
  }

  private def mapEdges(edges: DataFrame, ids: DataFrame): DataFrame =
    edges
      .join(ids.select(col("url").as("src"), col("nid").as("_s")), "src")
      .join(ids.select(col("url").as("dst"), col("nid").as("_d")), "dst")
      .select(col("_s").as("src"), col("_d").as("dst"))

  private def mapAssignmentsBack(assign: DataFrame, ids: DataFrame): DataFrame =
    assign
      .join(ids.select(col("nid").as("url"), col("url").as("_u")), "url")
      .join(ids.select(col("nid").as("cluster_id"), col("url").as("_c")), "cluster_id")
      .select(col("_u").as("url"), col("_c").as("cluster_id"))

  /** Run to convergence. Input: edge list with string columns (src, dst),
    * src != dst, any orientation. Output: (url, cluster_id) covering every
    * node that appears in an edge; cluster_id = component-min url.
    *
    * `snapshot` materializes the initial edge set and then every iteration.
    * The default is an eager SERIALIZED localCheckpoint — this truncates
    * the LOGICAL plan (a star round references its input ~4x, so an
    * untruncated plan grows ~16x per iteration and OOMs the analyzer) and
    * stores bytes, not object graphs. Its action also yields the
    * convergence signature (see `snapshotWithSignature`).
    *
    * Convergence: a full star round leaves the signature unchanged. A
    * round is a function of the edge SET, so an unchanged set is the
    * fixpoint, and the fixpoints of a round are exactly the forests of
    * stars each rooted at its component min (Kiveris et al.). The round
    * that confirms the fixpoint costs no extra job: its snapshot carries
    * the signature. The rounds run under `graft.util.Rounds`, whose cap
    * rule throws IllegalStateException with the round count and |E| for a
    * run still changing after `maxIterations` rounds: the assignment read
    * off a non-star edge set need not be a function.
    *
    * `compactAfter`: mid-run id compaction (see `compactIds`). The
    * iteration count is unknowable upfront, so a round switches the LIVE
    * edge set to dense long ids once it has run `compactAfter` rounds
    * without converging: shallow graphs (typical ER blocking output
    * converges in 3-5 rounds) never pay the fixed cost, while deep chains
    * — where remaining-rounds x edge-bytes dominates — run their remaining
    * rounds on 8-byte ids. The star rounds preserve the node set, and nids
    * are assigned ordered by url over that same set, so numeric min stays
    * lexicographic-min url through the final map-back.
    *
    * `idSnapshot`: snapshot hook for the compacted ids map, which is
    * re-read AFTER the last iteration (the map-back), so it must NEVER go
    * through a rotating hook (Checkpoints.reliable with keepLast > 0 —
    * what iteration snapshots use) or the map-back reads a deleted
    * checkpoint. The default is therefore a non-rotating serialized
    * localCheckpoint, safe with ANY iteration snapshot; durable runs that
    * need the ids map to survive executor loss pass their own non-rotating
    * durable hook (e.g. Checkpoints.reliable(idsDir)).
    */
  def run(
      edgesIn: DataFrame,
      maxIterations: Int = 20,
      snapshot: DataFrame => DataFrame = graft.util.Checkpoints.serializedLocal,
      idSnapshot: Option[DataFrame => DataFrame] = None,
      compactAfter: Int = 8
  ): DataFrame = {
    val edges0 = edgesIn
      .select(col("src"), col("dst"))
      .where(col("src") =!= col("dst"))
    val (e0, sig0) = snapshotWithSignature(edges0.distinct(), snapshot)
    val last = graft.util.Rounds.run("connected components", maxIterations, Star(e0, sig0))(
      s => s.prev.contains(s.sig),
      _.sig._1
    ) { (s, n) =>
      val cur =
        if (n != compactAfter) s
        else {
          val idMap = compactIds(s.edges, idSnapshot.getOrElse(graft.util.Checkpoints.serializedLocal))
          // the signature hashes id VALUES, so the url-space sig is not
          // comparable to the nid-space one; reseed convergence from the
          // remapped set (costs nothing: the next round's sig compares to it)
          val (remapped, remappedSig) = snapshotWithSignature(mapEdges(s.edges, idMap), snapshot)
          Star(remapped, remappedSig, Some(idMap))
        }
      val (next, nextSig) = snapshotWithSignature(smallStar(largeStar(cur.edges)), snapshot)
      Star(next, nextSig, cur.ids, Some(cur.sig))
    }
    // converged edge set is a star forest: (member -> root)
    val assign = starsToAssignments(last.edges)
    last.ids.fold(assign)(mapAssignmentsBack(assign, _))
  }

  /** `run`'s round state: the live edges and their signature, the
    * compacted ids map once made, and the signature before the last round.
    */
  private final case class Star(edges: DataFrame, sig: Sig, ids: Option[DataFrame] = None, prev: Option[Sig] = None)

  private def starsToAssignments(edges: DataFrame): DataFrame = {
    val members = edges.select(col("src").as("url"), col("dst").as("cluster_id"))
    // disjoint stars: each member has one root and no root is a member
    val roots = edges.select(col("dst").as("url"), col("dst").as("cluster_id")).distinct()
    members.unionByName(roots)
  }

  /** Durable variant: `run` with a snapshot hook that commits iteration k
    * through `io` as stage `cc_iter_<k>` (input stage `cc_iter_<k-1>`), so
    * a restarted run resumes from the last committed iteration (reference
    * restart rule: only committed work survives,
    * app/services/task_queue.py:37 -> SURVEY.md §4.3). Committed
    * iterations are never rewritten. Ids are never compacted: a compacted
    * resume would also need the ids map.
    */
  def runResumable(
      edgesIn: DataFrame,
      io: graft.io.TableIO,
      maxIterations: Int = 20
  ): DataFrame = {
    val spark = edgesIn.sparkSession
    // resume probe from the TOP down: manifest reads are one small JSON
    // file each, and the full commit-validity check (readStage counts the
    // stage's parquet) runs only on the newest committed iteration —
    // probing upward would full-scan EVERY committed multi-TB edge set
    // just to find the last one. Only that last iteration is needed;
    // if its data fails validation, fall back to the next lower commit.
    val resumed: Option[(Int, DataFrame)] =
      (maxIterations to 0 by -1).iterator
        .filter(i => io.manifest(s"cc_iter_$i").isDefined)
        .map(i => i -> io.readStage(spark, s"cc_iter_$i"))
        .collectFirst { case (i, Some(df)) => (i, df) }
    val (start, from) = resumed.fold((edgesIn, 0)) { case (i, df) => (df, i) }
    var k = from
    val commitIteration: DataFrame => DataFrame = df => {
      // run's first snapshot is the iteration it starts from: on a resume
      // that one is committed already, so it is only materialized locally
      val out =
        if (k == from && resumed.isDefined) graft.util.Checkpoints.serializedLocal(df)
        else io.commitStage(df, s"cc_iter_$k", if (k == 0) Nil else Seq(s"cc_iter_${k - 1}"))
      k += 1
      out
    }
    // at least one round: a resume from the last allowed iteration still
    // needs one to confirm the fixpoint, or `run` throws
    run(start, math.max(1, maxIterations - from), commitIteration, compactAfter = Int.MaxValue)
  }
}
