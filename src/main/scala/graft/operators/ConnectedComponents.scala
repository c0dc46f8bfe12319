package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Transitive clustering over match edges via the alternating
  * large-star / small-star algorithm (Kiveris et al., "Connected Components
  * in MapReduce and Beyond", SoCC'14) expressed as DataFrame self-joins.
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
  *    snapshot's own action, or the count-gated star-forest test.
  *  - giant-component skew: both stars shuffle by node; the heavy node (the
  *    component min) is exactly what AQE skew-split handles; edges are
  *    deduped each round to keep |E| <= n-1 after the first rounds.
  */
object ConnectedComponents {

  /** One large-star round: for every node u (over symmetrized edges), link
    * every strictly-larger neighbor to m = min(N(u) ∪ {u}).
    */
  private[graft] def largeStar(edges: DataFrame): DataFrame = {
    // NOT a shared explicit repartition: forcing the aggregation and the
    // join probe onto one repartition(col("src")) exchange was measured
    // 16% faster on a deep skewless chain (one fewer stage barrier per
    // round; BENCH.md R5.0) — but REPARTITION_BY_COL exchanges are
    // ineligible for AQE's skew-join split (ENSURE_REQUIREMENTS only),
    // and the giant-component hub is EXACTLY the hot key that split
    // exists for. A barrier saved on chains is not worth a one-task
    // serialization point on web-scale components; the second exchange
    // here is partial-aggregated (≈|V| rows, not |E|) and cheap.
    val sym = edges
      .select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
    val mins = sym.groupBy("src").agg(least(min(col("dst")), col("src")).as("m"))
    sym
      .join(mins, "src")
      .where(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
      .where(col("src") =!= col("dst"))
    // no terminal distinct: small-star's min-aggregations are duplicate-
    // insensitive and its own terminal distinct dedups the round's output,
    // so deduping here would spend a full extra shuffle per iteration to
    // save only the duplicate share of small-star's shuffle volume
    // (star-shaped intermediates duplicate little; measured a wash at
    // sf0.1 chain graphs and one fewer exchange in the executed plan)
  }

  /** One small-star round: orient edges (big -> small); for every node u
    * link all smaller neighbors and u itself to m = min of them.
    */
  private[graft] def smallStar(edges: DataFrame): DataFrame = {
    val oriented = edges.select(
      greatest(col("src"), col("dst")).as("u"),
      least(col("src"), col("dst")).as("v")
    )
    // no shared repartition here either: a high-id hub is hot on the u
    // side (it collects one row per neighbor), so the join needs its
    // skew-split eligibility — see largeStar's note
    val mins = oriented.groupBy("u").agg(min(col("v")).as("m"))
    val relink = oriented
      .join(mins, "u")
      .select(col("v").as("src"), col("m").as("dst"))
    val self = mins.select(col("u").as("src"), col("m").as("dst"))
    relink
      .unionAll(self)
      .where(col("src") =!= col("dst"))
      .distinct()
  }

  private def signature(edges: DataFrame): (Long, BigDecimal) = {
    // decimal(38,0) sum: overflow-proof under ANSI mode (Spark 4 default)
    val row = edges
      .agg(
        count(lit(1)).as("n"),
        coalesce(sum(xxhash64(col("src"), col("dst")).cast("decimal(38,0)")), lit(0)).as("h")
      )
      .collect()(0)
    (row.getLong(0), BigDecimal(row.getDecimal(1)))
  }

  /** Snapshot + convergence signature in ONE action: the (count, hash-sum)
    * signature rides the checkpoint job itself via `df.observe`, replacing
    * the per-iteration second scan of the checkpointed edge set. Falls back
    * to the explicit scan if the snapshot implementation happens not to
    * drive the observation (defensive — localCheckpoint and parquet writes
    * both do).
    */
  private def snapshotWithSignature(
      edges: DataFrame,
      snapshot: DataFrame => DataFrame
  ): (DataFrame, (Long, BigDecimal)) = {
    val obs = org.apache.spark.sql.Observation()
    val observed = edges.observe(
      obs,
      count(lit(1)).as("n"),
      coalesce(sum(xxhash64(col("src"), col("dst")).cast("decimal(38,0)")), lit(java.math.BigDecimal.ZERO)).as("h")
    )
    val out = snapshot(observed)
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
    * after `compactAfter` rounds. The caller passes the exact |E| from the
    * convergence signature; sizing policy lives in DeterministicSeq.
    */
  private def compactIds(edges: DataFrame, snapshot: DataFrame => DataFrame, edgeCount: Long): DataFrame = {
    val nodes = edges
      .select(col("src").as("url"))
      .unionAll(edges.select(col("dst").as("url")))
      .distinct()
    // The inputs here are iteration checkpoints whose LogicalRDD leaves
    // PROPAGATE the pre-checkpoint plan estimate — after k star rounds
    // (4 self-references each) that estimate is multiplicatively inflated
    // garbage (measured: 6.6 TB for a 20 MB frame -> 50k range partitions
    // -> a 93 s seq pass for a 5 s job). The loop knows |E| exactly from
    // the convergence signature, so hand the seq pass the true size
    // (|V| <= 2|E|, ~96 bytes per url row) and let assign() own the
    // bytes->partitions policy.
    snapshot(
      graft.util.DeterministicSeq
        .assign(nodes, "url", bytesHint = 2L * edgeCount * 96L)
        .select(col("url"), col("seq").as("nid"))
    )
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

  /** Converged-state test on a small-star output `edges` (oriented
    * src > dst). Two conditions:
    *  - every src appears in exactly one edge (one parent per member);
    *  - no node appears both as a src and as a dst (depth one).
    * Together they make `edges` a forest of depth-1 stars, each rooted at
    * a dst smaller than all of its members. Star rounds preserve the
    * connected components, so each star is a whole component and its root
    * is the component min: the state the alternation converges to. Depth
    * one alone is NOT enough — the chain a-d-e-f-b can reach
    * {(d,a),(d,b),(e,a),(f,b)}, where d has two parents.
    *
    * One group-by-node aggregate checks both (one exchange); `isEmpty`
    * stops at the first violating node.
    */
  private def isStarForest(edges: DataFrame): Boolean =
    edges
      .select(col("src").as("node"), lit(1L).as("asSrc"), lit(false).as("asDst"))
      .unionAll(edges.select(col("dst").as("node"), lit(0L).as("asSrc"), lit(true).as("asDst")))
      .groupBy("node")
      .agg(sum(col("asSrc")).as("asSrc"), max(col("asDst")).as("asDst"))
      .where(col("asSrc") > 1 || (col("asSrc") === 1 && col("asDst")))
      .isEmpty

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
    * Convergence: the signature is unchanged by a full star round, or —
    * one round sooner — the count is unchanged and `isStarForest` holds.
    * The count gate (a necessary fixpoint condition) keeps shrinking
    * rounds from paying for the test.
    *
    * `compactAfter`: mid-run id compaction (see `compactIds`). The
    * iteration count is unknowable upfront, so the loop switches the LIVE
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
    var ids: Option[DataFrame] = None
    var (edges, sig) = snapshotWithSignature(edges0.distinct(), snapshot)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIterations) {
      if (iter == compactAfter) {
        val idMap = compactIds(edges, idSnapshot.getOrElse(graft.util.Checkpoints.serializedLocal), sig._1)
        ids = Some(idMap)
        // the signature hashes id VALUES, so the url-space sig is not
        // comparable to the nid-space one; reseed convergence from the
        // remapped set (costs nothing: the next round's sig compares to it)
        val (remapped, remappedSig) = snapshotWithSignature(mapEdges(edges, idMap), snapshot)
        edges = remapped
        sig = remappedSig
      }
      val (next, nextSig) = snapshotWithSignature(smallStar(largeStar(edges)), snapshot)
      converged = nextSig == sig || (nextSig._1 == sig._1 && isStarForest(next))
      sig = nextSig
      edges = next
      iter += 1
    }
    // converged edge set is a star forest: (member -> root)
    val assign = starsToAssignments(edges)
    ids.fold(assign)(mapAssignmentsBack(assign, _))
  }

  private def starsToAssignments(edges: DataFrame): DataFrame = {
    val members = edges.select(col("src").as("url"), col("dst").as("cluster_id"))
    val roots = edges.select(col("dst").as("url"), col("dst").as("cluster_id")).distinct()
    members.unionByName(roots).distinct()
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
    run(start, maxIterations - from, commitIteration, compactAfter = Int.MaxValue)
  }
}
