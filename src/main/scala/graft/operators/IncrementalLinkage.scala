package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.LinkagePipeline

/** Incremental linkage: link a DELTA of new pages against an already-run
  * base corpus touching O(delta + affected blocks) work, never O(corpus).
  *
  * The reference's operational loop is exactly this shape — new tasks
  * arrive against an existing prediction store and only the new work is
  * computed (queue worker app/services/task_queue.py:56-75; the candidate
  * cache's hit/miss split lion_linker/retrievers.py:43-89 keeps re-sent
  * work from being recomputed). At 10^12 documents a daily delta re-run
  * of the full pipeline is not viable; this operator is the batch analog
  * of streaming/StreamingDedup.incrementalLink with FULL pipeline
  * semantics (real scoring, transitive clustering, cluster merges).
  *
  * Correctness contract — the incremental result EQUALS a full rerun over
  * (base ∪ delta), exactly, under three stated conditions:
  *
  *   1. Blocking keys are per-document (true for all shipped strategies:
  *      canonical url / domain+tokens / MinHash bands depend only on the
  *      row), so the union run's block membership is the union of the two
  *      runs' memberships.
  *   2. No block crosses `maxBlockSize` differently in base vs union:
  *      `Blocker.saltOversized` sub-buckets depend on block SIZE, so a
  *      block that grows past the cap (or re-buckets) between base and
  *      union can change which OLD-OLD pairs exist. Old-old pairs inside
  *      capped blocks are the documented salting recall loss either way;
  *      outside them, old-old edges are identical to the base run's and
  *      are fully represented by the base cluster ids.
  *   3. The pair scorer is corpus-independent, OR old-old decisions at
  *      base-time statistics are accepted as final. The production
  *      scorer's TF-IDF leg depends on corpus-global document
  *      frequencies: a rerun rescores OLD-OLD pairs under the union IDF,
  *      while the incremental path freezes them at the base run's values
  *      (that is what makes it O(delta)). Consequences, precisely: an old
  *      url's reported `score` is max(base-time score, union-IDF-scored
  *      new edges) rather than a full union-IDF max, and an old-old pair
  *      whose score sits within the IDF drift of the threshold could be
  *      accepted by one run and not the other. Delta-touching pairs are
  *      ALWAYS scored at exact union statistics. This is the standard
  *      incremental-maintenance trade (frozen statistics); periodic full
  *      reruns re-converge, and corpus-independent scorers (e.g. a pure
  *      edit-distance config) make the equivalence exact outright.
  *
  * Under those, equality is EXACT — including cluster LABELS:
  *   - scores: the delta is scored with the union corpus's IDF,
  *     reconstructed additively from the base IDF artifact plus the
  *     delta's own stats ([[PairScorer.idfArtifact]] — document
  *     frequencies are additive across disjoint corpora), so kernel
  *     inputs are bit-identical to a rerun's;
  *   - clusters: CC runs over CONTRACTED nodes — an old url is
  *     represented by its base cluster_id. Because a base cluster_id is
  *     the component-min url (ConnectedComponents.run contract), the
  *     min-label of a merged component over contracted nodes equals the
  *     min url over all its member urls: exactly the label a full rerun
  *     would assign.
  *
  * Scale shape: the base appears only as (a) one map-side-pruned scan of
  * the key INDEX (the delta's distinct keys are runtime-broadcast by AQE
  * against it — the index never shuffles in full), (b) one text fetch for
  * the old urls sharing a hot block (semi-join, again broadcast-pruned),
  * and (c) one map-side remap pass over base predictions applying the
  * (tiny, broadcast) merge map. Old-old pairs are never generated or
  * scored — they are the base run's work.
  */
object IncrementalLinkage {

  /** Persistable artifacts a base run leaves behind for incremental use:
    * the blocking-key index (url, key — `runResumable` already commits
    * this as its "keys" stage) and the additive IDF artifact. Both frames
    * are parquet-able; `idfDf` is bounded by [[PairScorer.TfBuckets]].
    */
  final case class Index(keys: DataFrame, idfDf: DataFrame, idfDocs: Long)

  /** Build index artifacts from a base corpus (one O(base) pass, done once
    * — typically alongside the base run itself).
    */
  def buildIndex(base: DataFrame, cfg: LinkagePipeline.Config = LinkagePipeline.Config()): Index = {
    val corpus = base.select("url", "text")
    val (df, n) = PairScorer.idfArtifact(corpus)
    Index(Blocker.allKeys(corpus, cfg.strategies), df, n)
  }

  /** Persist index artifacts next to a run's predictions (keys + idf
    * parquet, meta JSON on the same FileSystem — any Hadoop scheme). The
    * strategy list is recorded so a later increment can refuse an index
    * built under different blocking (different keys would silently miss
    * delta↔base candidate pairs).
    */
  def saveIndex(index: Index, dir: String, strategies: String): Unit =
    writeIndexDir(index.keys, index.idfDf, index.idfDocs, dir, strategies, parent = None)

  /** Persist an INCREMENT's index as a chain link: only the delta's keys
    * are written (the base's 10-per-doc key rows are never rewritten — an
    * increment's index write is O(delta) like everything else), plus the
    * already-combined IDF artifact (bounded rows) and a parent pointer to
    * the base index. [[loadIndex]] unions keys down the chain; a chain that
    * has grown too many links is compacted by one [[saveIndex]] of the
    * loaded index.
    */
  def saveIndexDelta(
      deltaKeys: DataFrame,
      combined: Index,
      dir: String,
      strategies: String,
      parentDir: String
  ): Unit =
    writeIndexDir(deltaKeys, combined.idfDf, combined.idfDocs, dir, strategies, Some(parentDir))

  private def writeIndexDir(
      keys: DataFrame,
      idfDf: DataFrame,
      idfDocs: Long,
      dir: String,
      strategies: String,
      parent: Option[String]
  ): Unit = {
    // meta.json is written by interpolation and read back by regex — a
    // quote/backslash in either value would silently truncate what
    // loadIndex parses (wrong strategy compare, nonexistent parent dir).
    // Loud refusal beats silent corruption; neither value legitimately
    // contains these characters.
    Seq("strategies" -> strategies, "parent" -> parent.getOrElse("")).foreach { case (what, v) =>
      require(!v.contains('"') && !v.contains('\\'), s"index $what must not contain quotes/backslashes: $v")
    }
    keys.write.mode("overwrite").parquet(s"$dir/keys")
    idfDf.write.mode("overwrite").parquet(s"$dir/idf")
    val spark = keys.sparkSession
    val mp = new org.apache.hadoop.fs.Path(s"$dir/meta.json")
    val fs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(mp, true)
    val parentField = parent.map(p => s""","parent":"$p"""").getOrElse("")
    try out.write(
      s"""{"idf_docs":$idfDocs,"strategies":"$strategies"$parentField}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    )
    finally out.close()
  }

  /** Load index artifacts written by [[saveIndex]]/[[saveIndexDelta]];
    * returns the index (keys unioned down the parent chain; idf/docs from
    * the NEWEST link — they are stored already-combined) plus the recorded
    * strategy list for the caller's compatibility check.
    */
  def loadIndex(spark: org.apache.spark.sql.SparkSession, dir: String): (Index, String) = {
    val (txt, _) = readMeta(spark, dir)
    val docs = "\"idf_docs\":(\\d+)".r.findFirstMatchIn(txt).map(_.group(1).toLong)
      .getOrElse(sys.error(s"malformed index meta at $dir: $txt"))
    val strategies = "\"strategies\":\"([^\"]*)\"".r.findFirstMatchIn(txt).map(_.group(1))
      .getOrElse(sys.error(s"malformed index meta at $dir: $txt"))
    (Index(loadKeysChain(spark, dir, depth = 0), spark.read.parquet(s"$dir/idf"), docs), strategies)
  }

  /** Open a committed base run: its predictions at `predDir` plus the key
    * index at `indexDir`, refusing an index built under other blocking
    * strategies than `strategies` (its keys would not align with the
    * delta's).
    */
  private[graft] def openBase(
      spark: org.apache.spark.sql.SparkSession,
      predDir: String,
      indexDir: String,
      strategies: String
  ): (DataFrame, Index) = {
    val base = spark.read.parquet(predDir)
    val (index, stored) = loadIndex(spark, indexDir)
    require(
      stored == strategies,
      s"index at $indexDir was built with strategies [$stored] (got [$strategies]); " +
        "blocking keys would not align — rerun with the matching strategies"
    )
    (base, index)
  }

  /** meta.json's raw text and its parent index dir, if it has one. */
  private[graft] def readMeta(spark: org.apache.spark.sql.SparkSession, dir: String): (String, Option[String]) = {
    val mp = new org.apache.hadoop.fs.Path(s"$dir/meta.json")
    val fs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(mp), s"no index at $dir (run the base with --save-index true)")
    val in = fs.open(mp)
    val txt =
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    (txt, "\"parent\":\"([^\"]*)\"".r.findFirstMatchIn(txt).map(_.group(1)))
  }

  private def loadKeysChain(spark: org.apache.spark.sql.SparkSession, dir: String, depth: Int): DataFrame = {
    require(depth < 1000, s"index parent chain deeper than 1000 at $dir — cycle? compact with saveIndex")
    val own = spark.read.parquet(s"$dir/keys")
    readMeta(spark, dir)._2 match {
      case Some(parent) => own.unionByName(loadKeysChain(spark, parent, depth + 1))
      case None => own
    }
  }

  /** Candidate pairs touching AT LEAST ONE new url: new-new pairs plus
    * new-old pairs, with identical semantics to `Blocker.pairs` over the
    * union key set (shared salting over union block sizes, canonical
    * urlA < urlB orientation, min-key dedup) MINUS the old-old pairs.
    * Inputs must be distinct (url, key) frames with disjoint url sets.
    */
  def candidatePairs(newKeys: DataFrame, oldKeys: DataFrame, maxBlockSize: Int = 1000): DataFrame = {
    val tagged = newKeys
      .select(col("url"), col("key"), lit(true).as("is_new"))
      .unionByName(oldKeys.select(col("url"), col("key"), lit(false).as("is_new")))
    // salt over the UNION's block sizes — the same sub-buckets a full
    // rerun would compute (the is_new tag rides through)
    val salted = Blocker.saltOversized(tagged, maxBlockSize)
    val a = salted.where(col("is_new")).select(col("url").as("ua"), col("key"))
    val b = salted.select(col("url").as("ub"), col("key"))
    a.join(b, Seq("key"))
      .where(col("ua") =!= col("ub"))
      // canonical orientation; a new-new pair arrives once from each side
      // and the min-key group-by dedups it, same as Blocker.pairs
      .select(least(col("ua"), col("ub")).as("urlA"), greatest(col("ua"), col("ub")).as("urlB"), col("key"))
      .transform(Blocker.minKeyPerPair)
  }

  final case class Clusters(assignments: DataFrame, mergeMap: DataFrame)

  /** Cluster accepted edges over CONTRACTED nodes: every old url is
    * replaced by its base cluster id, new urls stand for themselves; CC
    * then runs on a graph of size O(delta + affected clusters).
    *
    * Returns the component assignments over contracted nodes plus the
    * merge map (old_cluster_id -> new_cluster_id) for base clusters whose
    * label changed — tiny by construction (bounded by affected clusters).
    */
  def contractAndCluster(
      accepted: DataFrame,
      baseAssign: DataFrame,
      maxIterations: Int = 20,
      snapshot: DataFrame => DataFrame = graft.util.Checkpoints.serializedLocal
  ): Clusters = {
    val nodeOf = baseAssign.select(col("url"), col("cluster_id").as("node"))
    val contracted = accepted
      .join(nodeOf.select(col("url").as("urlA"), col("node").as("nodeA")), Seq("urlA"), "left")
      .join(nodeOf.select(col("url").as("urlB"), col("node").as("nodeB")), Seq("urlB"), "left")
      .select(
        coalesce(col("nodeA"), col("urlA")).as("src"),
        coalesce(col("nodeB"), col("urlB")).as("dst")
      )
    // materialize the component map once: CC.run's final assignment frame
    // is lazy (members plus deduped roots of the converged stars), and every
    // caller consumes it at least twice — the merge-map derivation below
    // plus the caller's own relabel join
    val comp = snapshot(ConnectedComponents.run(contracted, maxIterations, snapshot))
    val oldIds = baseAssign.select(col("cluster_id").as("url")).distinct()
    val mergeMap = comp
      .join(oldIds, Seq("url"), "left_semi")
      .where(col("cluster_id") =!= col("url"))
      .select(col("url").as("old_cluster_id"), col("cluster_id").as("new_cluster_id"))
    Clusters(comp, mergeMap)
  }

  /** `predictions`: the full updated store (base rows relabeled, delta rows
    * appended). `changed`: the UPSERT view — only rows whose
    * (cluster_id, score, status) differ from the base store: all delta rows
    * (text included — the store has never seen it) plus affected old rows
    * (text null — linking never mutates text, J1 invariant, so an upsert
    * need not re-ship the corpus's heaviest column; `seq` null — a global
    * dense seq is inherently O(n), the one thing an upsert cannot carry).
    * At 10^12 docs the upsert is what a production increment writes;
    * materializing `predictions` (or reseq) costs a full-store pass no
    * matter how small the delta.
    */
  final case class Result(
      predictions: DataFrame,
      changed: DataFrame,
      mergeMap: DataFrame,
      index: Index,
      /** keys of the EFFECTIVE delta (re-delivered urls dropped) — what
        * [[saveIndexDelta]] writes as the chain link
        */
      deltaKeys: DataFrame,
      /** call after the terminal actions on the returned frames (writes of
        * predictions/changed + saveIndexDelta) — drops the pinned delta
        * caches (the featuresWithRelease pattern). A long-lived driver that
        * links increment after increment without releasing accumulates one
        * cached delta corpus per call.
        */
      release: () => Unit
  )

  /** Link `deltaPages` against a base run. `basePredictions` is a
    * LinkagePipeline.run/runResumable output (url, cluster_id, score,
    * status, text, ...); `index` the base artifacts. Returns the FULL
    * updated prediction frame (base rows remapped through the merge map,
    * delta rows appended), the merge map, and the updated index for the
    * next increment.
    *
    * `reseq = true` (rerun parity) recomputes the deterministic seq over
    * the updated corpus — the one deliberately O(n) step (a range exchange
    * of the output; a rerun pays the same). With `reseq = false` the
    * output's `seq` is null and everything stays O(delta + affected).
    *
    * Delta urls already present in base are dropped (idempotent
    * re-delivery — the reference's cache-hit split, retrievers.py:43-89);
    * text UPDATES for an existing url are an upsert, out of scope here.
    */
  def link(
      deltaPages: DataFrame,
      basePredictions: DataFrame,
      index: Index,
      cfg: LinkagePipeline.Config = LinkagePipeline.Config(),
      reseq: Boolean = true,
      windowRefresh: Boolean = false
  ): Result = {
    // sorted-neighborhood passes violate contract condition 1 (a doc's
    // window membership depends on the GLOBAL rank, not the row), so a
    // plain increment cannot honor them — fail loudly instead of silently
    // dropping window candidates the base run had. `windowRefresh` is the
    // supported composition: re-rank the UNION corpus per pass (the one
    // O((n+delta) log) sort — no old-old pair ever rescores) and keep the
    // window pairs touching a delta doc. Old-old adjacency can only
    // SHRINK when docs are added, so every surviving old-old union window
    // pair was already scored by the base run; the result equals the full
    // rerun with window passes EXACTLY when no base-accepted old-old
    // window edge dropped out of the union window — guaranteed under
    // append-ordered window keys (delta sorts at/after the base's max
    // key, e.g. crawl timestamps), the shape IncrementalLinkSpec pins.
    // Under arbitrary keys the refresh is monotone-candidate: it never
    // drops a link the base run made, and may keep old-old window edges a
    // fresh rerun would no longer propose.
    require(
      cfg.windowPasses.isEmpty || windowRefresh,
      "incremental linkage cannot honor sorted-neighborhood window passes " +
        "(window membership is rank-dependent, not per-document) — pass " +
        "windowRefresh (CLI --window-refresh) to re-rank the union, or rerun in full"
    )
    val delta = deltaPages
      .select("url", "text")
      .join(basePredictions.select("url"), Seq("url"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val deltaKeys = Blocker
      .allKeys(delta, cfg.strategies)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)

    // prune the base index to blocks the delta touches: hotKeys is small
    // (O(delta)), so AQE broadcasts it and the index scan stays map-side
    val hotKeys = deltaKeys.select("key").distinct()
    val oldHot = index.keys.join(hotKeys, Seq("key"), "left_semi")
    val oldHotUrls0 = oldHot.select("url").distinct()

    // window-refresh pairs: union ranks per pass, delta-touching only
    val windowPairs = LinkagePipeline
      .windowPairs(basePredictions.select("url", "text").unionByName(delta), cfg)
      .map { passes =>
        val dUrls = delta.select("url").distinct()
        passes
          // dUrls is O(delta) small -> both probes stay broadcast joins
          .join(dUrls.select(col("url").as("urlA"), lit(true).as("_na")), Seq("urlA"), "left")
          .join(dUrls.select(col("url").as("urlB"), lit(true).as("_nb")), Seq("urlB"), "left")
          .where(col("_na").isNotNull || col("_nb").isNotNull)
          .select("urlA", "urlB", "key")
      }
    // old urls reachable ONLY through a window pair still need features and
    // a contracted node id — fold them into the affected-old-url set
    val oldHotUrls = windowPairs.fold(oldHotUrls0) { wp =>
      oldHotUrls0.unionByName(endpointUrls(wp).join(delta.select("url"), Seq("url"), "left_anti")).distinct()
    }
    val oldTexts = basePredictions.select("url", "text").join(oldHotUrls, Seq("url"), "left_semi")
    val baseHotAssign = basePredictions
      .select("url", "cluster_id")
      .join(oldHotUrls, Seq("url"), "left_semi")

    // union-exact IDF: base artifact + delta stats (additive df)
    val (deltaIdfDf, deltaN) = PairScorer.idfArtifact(delta)
    // deltaKeys stays cached: it is still consumed by the CC snapshot
    // (through oldHotUrls) AND by the caller's saveIndexDelta — dropping it
    // after scoring re-ran the full blocking-key pass (tokenize + MinHash
    // over the delta) two more times; Result.release drops it
    val Relinked(comp, mergeMap, bestNew) = relink(
      LinkagePipeline.withWindowPairs(candidatePairs(deltaKeys, oldHot, cfg.maxBlockSize), windowPairs),
      delta.unionByName(oldTexts),
      Seq((index.idfDf, index.idfDocs), (deltaIdfDf, deltaN)),
      _ => baseHotAssign,
      cfg,
      "inc"
    )

    val deltaPred = LinkagePipeline.freshRows(delta, comp, bestNew)
    val predictions = withSeq(
      relabel(basePredictions.select(storeCols.map(col): _*), mergeMap, bestNew)
        .drop("touched")
        .unionByName(deltaPred),
      reseq
    )
    // upsert view: base rows are re-scanned WITHOUT the text column (the
    // projection reaches the parquet scan — at corpus scale this reads the
    // narrow link columns only)
    val changed = deltaPred
      .withColumn("seq", lit(null).cast("long"))
      .unionByName(touchedRows(basePredictions, mergeMap, bestNew))

    val nextIndex = Index(
      index.keys.unionByName(deltaKeys),
      index.idfDf
        .unionByName(deltaIdfDf)
        .groupBy("t")
        .agg(sum("df").as("df")),
      index.idfDocs + deltaN
    )
    Result(
      predictions,
      changed,
      mergeMap,
      nextIndex,
      deltaKeys,
      () => { delta.unpersist(false); deltaKeys.unpersist(false); () }
    )
  }

  /** Decremental output bundle. `predictions` is the full reduced store;
    * `changed` the upsert view (recomputed survivor rows whose
    * (cluster_id, score, status) differ from base, plus unaffected rows a
    * window-refresh edge relabeled or rescored — text/seq null, same
    * rationale as [[Result.changed]]); `removed` the effective tombstone
    * set (urls that actually existed); `index` the reduced artifacts for
    * the next increment or removal.
    */
  final case class RemoveResult(
      predictions: DataFrame,
      changed: DataFrame,
      removed: DataFrame,
      /** old_cluster_id -> new_cluster_id for UNAFFECTED base clusters a
        * window-refresh edge merged (empty without `windowRefresh`) — the
        * downstream in-place-relabel map, as in [[Result.mergeMap]].
        */
      mergeMap: DataFrame,
      index: Index,
      release: () => Unit
  )

  /** Decremental linkage: delete a set of urls from a committed run
    * touching O(removed + affected clusters) work, never O(corpus) — the
    * GDPR/right-to-erasure path a 10^12-document store cannot serve with
    * full reruns. The reference has no analog (its store only ever
    * appends, app/storage/state.py); at web scale deletion is as routine
    * as ingestion.
    *
    * Correctness contract — the result EQUALS a full rerun over
    * (base \ removed), exactly, under the same three [[link]] conditions
    * restated for deletion:
    *
    *   1. Blocking keys are per-document, so the reduced corpus's block
    *      membership is the base's minus the removed rows.
    *   2. No surviving block crosses `maxBlockSize` differently in base
    *      vs reduced (shrinking blocks can only LEAVE the salted regime;
    *      a block that re-buckets changes which survivor pairs exist —
    *      the documented salting recall loss either way). Salting here
    *      runs over the hot blocks' true REDUCED sizes, exactly what a
    *      rerun computes for those blocks.
    *   3. Survivor pairs rescore under the exact reduced-corpus IDF —
    *      document frequencies are additive, so base artifact MINUS the
    *      removed docs' own stats is bit-identical to a rerun's IDF
    *      table (no frozen-statistics drift on the pairs that rescore).
    *      Pairs wholly inside UNAFFECTED clusters keep base-time
    *      decisions (rescoring them is the O(corpus) work this operator
    *      exists to avoid) — the standard incremental-maintenance trade;
    *      corpus-independent scorers make the equivalence exact outright.
    *
    * Why only affected clusters need work: deletion removes edges and
    * never adds any, so components can only split or shrink — a cluster
    * containing no removed url keeps exactly its membership and its
    * min-url label. Inside an affected cluster the surviving members'
    * edges are recomputed from scratch (block pairs among survivors,
    * rescored, re-thresholded, re-clustered); a survivor↔unaffected pair
    * needs no rescore because base already rejected it (had it been
    * accepted the two docs would share a cluster, contradicting
    * "unaffected").
    *
    * Scale shape: the removed set prunes the base index by one semi-join;
    * hot blocks (any block carrying an affected-cluster member) are
    * re-salted at their reduced sizes; pairs form only among survivors;
    * CC runs on the O(affected) subgraph at member level (labels =
    * component-min url, the rerun's labels by the [[ConnectedComponents]]
    * contract). The store rewrite is one anti-join + one keyed replace.
    *
    * Sorted-neighborhood window passes need `windowRefresh`: removal
    * CHANGES window adjacency (a removed doc's rank-neighbors become
    * adjacent — new pairs a rerun would score), so a plain removal refuses
    * a window config. With `windowRefresh` the post-removal window pairs
    * are computed DIRECTLY over the surviving corpus (two O(n log n) sorts
    * per pass — survivor ranks + base ranks to identify newly-adjacent
    * pairs), so under a corpus-independent scorer the result equals the
    * full rerun with window passes EXACTLY, no append-order condition
    * needed (stronger than [[link]]'s refresh). New-adjacent edges may
    * merge clusters removal never touched — those contract to their base
    * cluster ids and relabel through the returned mergeMap.
    */
  def remove(
      removedUrls: DataFrame,
      basePredictions: DataFrame,
      index: Index,
      cfg: LinkagePipeline.Config = LinkagePipeline.Config(),
      reseq: Boolean = true,
      windowRefresh: Boolean = false
  ): RemoveResult = {
    require(
      cfg.windowPasses.isEmpty || windowRefresh,
      "decremental linkage cannot honor sorted-neighborhood window passes " +
        "(removal makes a removed doc's rank-neighbors adjacent — new pairs " +
        "a rerun would score); pass windowRefresh (CLI --window-refresh) to " +
        "re-rank the surviving corpus, or rerun in full"
    )
    val rm = removedUrls
      .select("url")
      .distinct()
      // unknown urls are a no-op: deletes are idempotently re-deliverable,
      // same as link()'s re-delivered delta urls
      .join(basePredictions.select("url"), Seq("url"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)

    // affected is tiny (distinct cluster ids of the tombstones), members
    // O(affected) — both are re-read 3x downstream (survivors/hot keys/
    // baseNarrow; untouched/changedOld anti-joins), so persisting them
    // turns three narrow basePredictions scans each into one (measured:
    // the 10x-base probe leg, tools/RemoveProbe)
    val affected = basePredictions
      .join(rm, Seq("url"), "left_semi")
      .select("cluster_id")
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    // one persisted member frame carries a removed-flag: the three
    // downstream rm-joins (survivor anti, removed-IDF semi, baseNarrow
    // anti) become narrow filters over the SAME cached blocks instead of
    // three more broadcast joins, and the separate survivors persist (a
    // fourth materialization wave) disappears
    val members0 = basePredictions
      .select("url", "cluster_id", "score", "status", "text")
      .join(affected, Seq("cluster_id"), "left_semi")
      .join(rm.select(col("url"), lit(true).as("_rm")), Seq("url"), "left")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val members = members0.drop("_rm")
    val survivors = members0.where(col("_rm").isNull).select("url", "text")

    // hot blocks: every key carried by an affected-cluster member. The
    // LIVE occupants of those blocks (minus removed docs) give salting the
    // block's true reduced size — including unaffected-cluster docs that
    // share the block, exactly as a rerun would count them.
    val hotKeys = index.keys
      .join(members.select("url"), Seq("url"), "left_semi")
      .select("key")
      .distinct()
    val hotLive = index.keys
      .join(hotKeys, Seq("key"), "left_semi")
      .join(rm, Seq("url"), "left_anti")
    val tagged = hotLive.join(
      survivors.select(col("url"), lit(true).as("is_m")),
      Seq("url"),
      "left"
    )
    val salted = Blocker.saltOversized(tagged, cfg.maxBlockSize)
    val sA = salted.where(col("is_m")).select(col("url").as("ua"), col("key"))
    val sB = salted.where(col("is_m")).select(col("url").as("ub"), col("key"))
    val blockPairs = Blocker.minKeyPerPair(
      sA.join(sB, Seq("key"))
        .where(col("ua") < col("ub"))
        .select(col("ua").as("urlA"), col("ub").as("urlB"), col("key"))
    )

    // window-refresh pairs: (a) ALL post-removal window pairs among
    // affected-cluster survivors — those clusters re-cluster from scratch,
    // so their window evidence must be rescored alongside the block pairs;
    // (b) pairs adjacent AFTER removal but not before (both ranked
    // survivors, the removed doc sat between them) ANYWHERE in the corpus —
    // base never scored them. Base-adjacent pairs outside affected clusters
    // keep their frozen base decision (accepted ones are encoded in the
    // base cluster memberships; rejected ones stay rejected).
    val windowPairs = for {
      postPasses <- LinkagePipeline.windowPairs(
        basePredictions.select("url", "text").join(rm, Seq("url"), "left_anti"),
        cfg
      )
      prePasses <- LinkagePipeline.windowPairs(basePredictions.select("url", "text"), cfg)
    } yield {
      // duplicates across passes and between (a) and (b) fall to the
      // min-key dedup with the block pairs
      val preAdj = prePasses.select("urlA", "urlB").distinct()
      val survUrls = survivors.select("url")
      val affPost = postPasses
        .join(survUrls.select(col("url").as("urlA")), Seq("urlA"), "left_semi")
        .join(survUrls.select(col("url").as("urlB")), Seq("urlB"), "left_semi")
      affPost.unionByName(postPasses.join(preAdj, Seq("urlA", "urlB"), "left_anti"))
    }

    // exact reduced-corpus IDF: artifacts are additive, so subtracting the
    // removed docs' own stats (negated part) reproduces the rerun's table
    val (rmIdfDf, rmN) = PairScorer.idfArtifact(
      members0.where(col("_rm")).select("url", "text")
    )
    val reducedIdfDf = index.idfDf
      .unionByName(rmIdfDf.select(col("t"), (-col("df")).as("df")))
      .groupBy("t")
      .agg(sum("df").as("df"))
      .where(col("df") > 0)
    val reducedN = index.idfDocs - rmN
    // window-refresh edges can touch docs OUTSIDE affected clusters; their
    // texts join the feature corpus (bounded by the new-adjacent pair set)
    val scoreCorpus = windowPairs.fold(survivors) { wp =>
      val extraUrls = endpointUrls(wp).join(survivors.select("url"), Seq("url"), "left_anti")
      survivors.unionByName(basePredictions.select("url", "text").join(extraUrls, Seq("url"), "left_semi"))
    }
    // endpoints outside affected clusters (window-refresh merges) contract
    // to their base cluster ids; affected-cluster survivors stay
    // member-level (their clusters re-form from scratch). Restricting the
    // contraction frame to edge endpoints keeps it O(affected + new edges).
    val unaffectedAssign = (accepted: DataFrame) =>
      basePredictions
        .select("url", "cluster_id")
        .join(affected, Seq("cluster_id"), "left_anti")
        .join(endpointUrls(accepted), Seq("url"), "left_semi")
    val Relinked(comp, mergeMap, bestNew) = relink(
      LinkagePipeline.withWindowPairs(blockPairs, windowPairs),
      scoreCorpus,
      Seq((reducedIdfDf, reducedN)),
      unaffectedAssign,
      cfg,
      "rm"
    )

    val recomputed = LinkagePipeline.freshRows(survivors, comp, bestNew)
    val untouched = basePredictions
      .select(storeCols.map(col): _*)
      .join(affected, Seq("cluster_id"), "left_anti")
    val predictions = withSeq(
      relabel(untouched, mergeMap, bestNew).drop("touched").unionByName(recomputed),
      reseq
    )

    // upsert view: recomputed survivor rows that actually changed
    val baseNarrow = members0
      .where(col("_rm").isNull)
      .select(
        col("url"),
        col("cluster_id").as("b_cluster"),
        col("score").as("b_score"),
        col("status").as("b_status")
      )
    val changedAffected = recomputed
      .join(baseNarrow, Seq("url"))
      .where(
        col("cluster_id") =!= col("b_cluster") ||
          col("status") =!= col("b_status") ||
          not(col("score") <=> col("b_score"))
      )
    // plus the unaffected rows a window-refresh merge relabeled or rescored
    // (empty without windowRefresh)
    val changed = asUpsert(changedAffected).unionByName(
      touchedRows(basePredictions.join(affected, Seq("cluster_id"), "left_anti"), mergeMap, bestNew)
    )

    val nextIndex = Index(
      index.keys.join(rm, Seq("url"), "left_anti"),
      reducedIdfDf,
      reducedN
    )
    RemoveResult(
      predictions,
      changed,
      rm,
      mergeMap,
      nextIndex,
      () => {
        rm.unpersist(false); affected.unpersist(false); members0.unpersist(false)
        ()
      }
    )
  }

  /** The columns of a prediction store row, seq aside. */
  private val storeCols = Seq("url", "cluster_id", "score", "status", "text")

  /** What [[relink]] hands back: the component map over contracted nodes,
    * the materialized merge map and the best new-edge score per url.
    */
  private final case class Relinked(comp: DataFrame, mergeMap: DataFrame, bestNew: DataFrame)

  /** The relink kernel [[link]] and [[remove]] share: score `pairs` over
    * `scoreCorpus` under the IDF `idfParts` sum, threshold, materialize
    * the accepted edges (`<checkpointDir>/<tag>-accepted` when a durable
    * root is configured), drop the feature cache, then cluster over
    * contracted nodes — `contractTo(accepted)` is the base assignment the
    * edge endpoints contract against — with CC snapshots rotating
    * keep-last-2 under `<tag>-cc`.
    */
  private def relink(
      pairs: DataFrame,
      scoreCorpus: DataFrame,
      idfParts: Seq[(DataFrame, Long)],
      contractTo: DataFrame => DataFrame,
      cfg: LinkagePipeline.Config,
      tag: String
  ): Relinked = {
    val (feats, releaseFeats) = PairScorer.featuresWithIdf(scoreCorpus, idfParts)
    val scored = PairScorer.score(pairs, feats, cfg.weights)
    val accepted = LinkagePipeline.checkpointRoot(cfg, s"$tag-accepted")(
      PairScorer.threshold(scored, cfg.weights, cfg.perKeyThresholds)
    )
    releaseFeats()
    val Clusters(comp, mergeMap) = contractAndCluster(
      accepted,
      contractTo(accepted),
      cfg.maxCcIterations,
      LinkagePipeline.checkpointRoot(cfg, s"$tag-cc", keepLast = 2)
    )
    // the merge map is read by every downstream join AND returned; it is
    // tiny (affected clusters only) — materialize once
    Relinked(comp, graft.util.Checkpoints.serializedLocal(mergeMap), LinkagePipeline.bestScores(accepted))
  }

  /** Base store rows relabeled through the merge map (broadcast: it is
    * tiny) and rescored against the new edges: greatest() skips nulls,
    * matching "max over all accepted edges". Columns of `base` beyond
    * (url, cluster_id, score, status) pass through, so a caller's narrow
    * projection stays narrow down to the scan. `touched` marks the rows
    * the relabel or the rescore changed.
    */
  private[graft] def relabel(base: DataFrame, mergeMap: DataFrame, bestNew: DataFrame): DataFrame = {
    val rest = base.columns.filterNot(Set("url", "cluster_id", "score", "status")).map(col).toSeq
    base
      .join(
        broadcast(mergeMap.select(col("old_cluster_id").as("cluster_id"), col("new_cluster_id"))),
        Seq("cluster_id"),
        "left"
      )
      .join(bestNew, Seq("url"), "left")
      .select(
        Seq(
          col("url"),
          coalesce(col("new_cluster_id"), col("cluster_id")).as("cluster_id"),
          greatest(col("score"), col("new_score")).as("score"),
          when(col("new_score").isNotNull || col("status") === "linked", "linked").otherwise("nil").as("status"),
          (col("new_cluster_id").isNotNull || col("new_score").isNotNull).as("touched")
        ) ++ rest: _*
      )
  }

  /** The upsert rows of a base-row relabel: the touched rows of `base`,
    * scanned without text.
    */
  private def touchedRows(base: DataFrame, mergeMap: DataFrame, bestNew: DataFrame): DataFrame =
    asUpsert(relabel(base.select("url", "cluster_id", "score", "status"), mergeMap, bestNew).where(col("touched")))

  /** `rows` as upsert rows: text null (linking never mutates text, so an
    * upsert need not re-ship the corpus's heaviest column) and seq null (a
    * global dense seq is O(n)).
    */
  private def asUpsert(rows: DataFrame): DataFrame =
    rows.select(
      col("url"),
      col("cluster_id"),
      col("score"),
      col("status"),
      lit(null).cast("string").as("text"),
      lit(null).cast("long").as("seq")
    )

  /** The distinct urls at either end of a pair frame. */
  private def endpointUrls(pairs: DataFrame): DataFrame =
    pairs.select(col("urlA").as("url")).unionByName(pairs.select(col("urlB").as("url"))).distinct()

  /** `rows` with the deterministic seq (`reseq`), else a null seq. */
  private def withSeq(rows: DataFrame, reseq: Boolean): DataFrame =
    if (reseq) graft.util.DeterministicSeq.assign(rows, "url")
    else rows.withColumn("seq", lit(null).cast("long"))
}
