package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.IncrementalLinkage
import graft.pipeline.LinkagePipeline

/** Continuous-ingestion record linkage: a stream of new pages is linked
  * against a durable cluster store in O(delta) per micro-batch by driving
  * [[graft.operators.IncrementalLinkage]] inside `foreachBatch` — the
  * production shape for crawl ingestion (stream the page firehose, keep a
  * continuously-updated cluster store), the streaming face of the CLI's
  * `--base/--save-index` surface.
  *
  * Store layout under `storeDir`: versioned prediction snapshots
  * (`predictions_v<N>`) and chained index dirs (`index_v<N>`, each an
  * O(delta) [[IncrementalLinkage.saveIndexDelta]] link pointing at its
  * parent), advanced by an atomically-rewritten one-line `LATEST` pointer.
  * Crash safety: a micro-batch that dies mid-write never moves the
  * pointer; the Structured Streaming checkpoint re-delivers the batch,
  * which recomputes from v<N> and overwrites v<N+1> — and
  * `IncrementalLinkage.link` drops urls already present in the base, so
  * re-delivered rows are idempotent no-ops even across overlapping
  * batches.
  *
  * Equivalence contract inherited from the operator: after ANY prefix of
  * micro-batches the store equals the full batch rerun over every page
  * seen so far (exactly, including cluster labels, under the operator's
  * contract conditions). `seq` is not assigned (`reseq = false`): the
  * deterministic sequence is a full-corpus range exchange — O(n) work
  * that contradicts O(delta) streaming; a consumer that needs it runs
  * one seq pass over the final snapshot.
  *
  * Index chains grow one link per batch; every `compactEvery` versions
  * the loaded index is rewritten flat ([[IncrementalLinkage.saveIndex]])
  * so lookup cost stays bounded on long-running streams.
  */
object StreamingLinkage {

  private def fs(spark: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Latest committed store version, if any. Falls back to `LATEST.tmp`
    * when `LATEST` is absent: commitVersion's delete-then-rename has a
    * crash window where the pointer exists only as the tmp file — without
    * the fallback a restarted stream would see an "empty" store,
    * BOOTSTRAP from the replayed batch alone, and silently orphan every
    * committed version (the tmp content is always a fully-written version:
    * it is created strictly after that version's data).
    */
  def currentVersion(spark: SparkSession, storeDir: String): Option[Int] = {
    val f = fs(spark, storeDir)
    def read(name: String): Option[Int] = {
      val p = new org.apache.hadoop.fs.Path(s"$storeDir/$name")
      if (!f.exists(p)) None
      else {
        val in = f.open(p)
        val txt =
          try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
          finally in.close()
        Some(txt.trim.toInt)
      }
    }
    read("LATEST").orElse(read("LATEST.tmp"))
  }

  private def commitVersion(spark: SparkSession, storeDir: String, v: Int): Unit = {
    val f = fs(spark, storeDir)
    val tmp = new org.apache.hadoop.fs.Path(s"$storeDir/LATEST.tmp")
    val dst = new org.apache.hadoop.fs.Path(s"$storeDir/LATEST")
    val out = f.create(tmp, true)
    try out.write(v.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // rename is the FS-atomic step; delete-then-rename because HDFS rename
    // does not overwrite (a crash between the two re-delivers the batch,
    // which rewrites both files)
    if (f.exists(dst)) f.delete(dst, false)
    require(f.rename(tmp, dst), s"could not advance $dst")
  }

  /** The latest committed prediction snapshot (url, cluster_id, score,
    * status, text; seq is null by streaming contract).
    */
  def predictions(spark: SparkSession, storeDir: String): DataFrame = {
    val v = currentVersion(spark, storeDir)
      .getOrElse(sys.error(s"no committed store at $storeDir"))
    spark.read.parquet(s"$storeDir/predictions_v$v")
  }

  /** Link one batch of pages (url, text) into the store: bootstrap a base
    * run at v0 if the store is empty, else an O(delta) increment to
    * v<N+1>. Exposed for tests and for callers that already sit inside a
    * foreachBatch.
    */
  def linkBatch(
      batch: DataFrame,
      storeDir: String,
      cfg: LinkagePipeline.Config = LinkagePipeline.Config(),
      compactEvery: Int = 16
  ): Unit = {
    require(compactEvery >= 1, s"compactEvery must be >= 1 (got $compactEvery)")
    val spark = batch.sparkSession
    val pages = batch.select("url", "text")
    if (pages.isEmpty) return
    val strategyNames = cfg.strategies.map(_.name).mkString(",")
    currentVersion(spark, storeDir) match {
      case None =>
        val preds = LinkagePipeline.run(pages, cfg)
        preds.write.mode("overwrite").parquet(s"$storeDir/predictions_v0")
        IncrementalLinkage.saveIndex(
          IncrementalLinkage.buildIndex(pages, cfg),
          s"$storeDir/index_v0",
          strategyNames
        )
        commitVersion(spark, storeDir, 0)
      case Some(v) =>
        val (base, index) =
          IncrementalLinkage.openBase(spark, s"$storeDir/predictions_v$v", s"$storeDir/index_v$v", strategyNames)
        val r = IncrementalLinkage.link(pages, base, index, cfg, reseq = false)
        r.predictions.write.mode("overwrite").parquet(s"$storeDir/predictions_v${v + 1}")
        if ((v + 1) % compactEvery == 0)
          IncrementalLinkage.saveIndex(r.index, s"$storeDir/index_v${v + 1}", strategyNames)
        else
          IncrementalLinkage.saveIndexDelta(
            r.deltaKeys,
            r.index,
            s"$storeDir/index_v${v + 1}",
            strategyNames,
            s"$storeDir/index_v$v"
          )
        // drop the per-batch delta caches NOW — a streaming driver calling
        // link() forever is exactly the accumulation case Result.release
        // exists for
        r.release()
        commitVersion(spark, storeDir, v + 1)
    }
  }

  /** Delete one batch of tombstone urls from the store: an O(removed +
    * affected clusters) [[IncrementalLinkage.remove]] advancing the store
    * to v<N+1> — the streaming face of the CLI's `--remove` surface
    * (right-to-erasure requests arrive as a stream too). Idempotent under
    * checkpoint re-delivery: a tombstone already applied is an unknown
    * url on the new version, a no-op by the operator's contract. The
    * index is rewritten COMPACTED (deletes cannot chain-append key links;
    * one key-frame write, no text scan) — which also resets the chain, so
    * subsequent link batches keep their O(delta) appends. An empty batch
    * or an empty store version ([[currentVersion]] None) is a no-op:
    * deleting from a store that was never bootstrapped has nothing to do.
    */
  def removeBatch(
      batch: DataFrame,
      storeDir: String,
      cfg: LinkagePipeline.Config = LinkagePipeline.Config()
  ): Unit = {
    val spark = batch.sparkSession
    val tombstones = batch.select("url")
    if (tombstones.isEmpty) return
    val strategyNames = cfg.strategies.map(_.name).mkString(",")
    currentVersion(spark, storeDir) match {
      case None => ()
      case Some(v) =>
        val (base, index) =
          IncrementalLinkage.openBase(spark, s"$storeDir/predictions_v$v", s"$storeDir/index_v$v", strategyNames)
        val r = IncrementalLinkage.remove(tombstones, base, index, cfg, reseq = false)
        r.predictions.write.mode("overwrite").parquet(s"$storeDir/predictions_v${v + 1}")
        IncrementalLinkage.saveIndex(r.index, s"$storeDir/index_v${v + 1}", strategyNames)
        r.release()
        commitVersion(spark, storeDir, v + 1)
    }
  }

  /** Start the continuous deletion query: every micro-batch of
    * `tombstones` (a STREAMING frame with a url column) advances the
    * store one version via [[removeBatch]]. Run it against the same
    * store as [[run]] — but not CONCURRENTLY with it: the version
    * pointer is a single line, and two writers would race v<N+1>
    * (the same single-writer rule the reference's job queue enforces,
    * app/services/task_queue.py:56-75).
    */
  def runRemovals(
      tombstones: DataFrame,
      storeDir: String,
      checkpointDir: String,
      cfg: LinkagePipeline.Config = LinkagePipeline.Config(),
      trigger: Trigger = Trigger.AvailableNow()
  ): StreamingQuery = {
    tombstones.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        removeBatch(batch, storeDir, cfg)
      }
      .start()
  }

  /** W5 finalize: stamp the deterministic sequence onto the latest
    * committed snapshot. Streaming deliberately leaves `seq` null (a
    * per-batch reseq would be an O(n) range exchange — antithetical to
    * O(delta) micro-batches); this is the batch job that closes that gap
    * when a consumer needs the total order: ONE range-partitioned
    * two-phase seq pass ([[graft.util.DeterministicSeq]], ordered by url
    * exactly like [[LinkagePipeline.run]]), over a snapshot that is — by
    * the streaming equivalence contract — the batch rerun's row set. So
    * the finalized frame equals the full batch pipeline output INCLUDING
    * seq (StreamingLinkageSpec pins this byte-identically). Writes to
    * `outDir` (default `predictions_v<N>_final` beside the snapshot; the
    * un-stamped snapshot stays LATEST — finalize is a read-side export,
    * not a store version: later micro-batches keep incrementing from
    * v<N> unaffected) and returns the written path.
    */
  def finalizeSeq(spark: SparkSession, storeDir: String, outDir: Option[String] = None): String = {
    val v = currentVersion(spark, storeDir)
      .getOrElse(sys.error(s"no committed store at $storeDir"))
    val snap = spark.read.parquet(s"$storeDir/predictions_v$v")
    val stamped = graft.util.DeterministicSeq.assign(snap.drop("seq"), "url")
    val dst = outDir.getOrElse(s"$storeDir/predictions_v${v}_final")
    stamped.write.mode("overwrite").parquet(dst)
    dst
  }

  /** Garbage-collect superseded store versions — on a long-running stream
    * the version history grows one prediction snapshot + one index link
    * per micro-batch, which is unbounded disk. Deletes prediction
    * snapshots older than `keepVersions` behind LATEST, and index links
    * older than the newest FLAT index (the most recent `compactEvery`
    * rewrite) — links at or after the flat root are still referenced by
    * the live parent chain and are never touched. Pure deletes of
    * unreferenced directories: crash-safe at any point, re-run to finish.
    * Returns (predictionDirsDeleted, indexDirsDeleted).
    */
  def gc(spark: SparkSession, storeDir: String, keepVersions: Int = 2): (Int, Int) = {
    require(keepVersions >= 1, s"must keep at least the live version (got $keepVersions)")
    currentVersion(spark, storeDir) match {
      case None => (0, 0)
      case Some(v) =>
        val f = fs(spark, storeDir)
        // walk the index parent chain from v down to its flat root
        def parentVersion(ver: Int): Option[Int] = {
          val dir = s"$storeDir/index_v$ver"
          if (!f.exists(new org.apache.hadoop.fs.Path(s"$dir/meta.json"))) None
          else
            IncrementalLinkage
              .readMeta(spark, dir)
              ._2
              .flatMap("index_v(\\d+)$".r.findFirstMatchIn(_).map(_.group(1).toInt))
        }
        var root = v
        var p = parentVersion(root)
        while (p.isDefined) { root = p.get; p = parentVersion(root) }
        def drop(path: String): Boolean = {
          val hp = new org.apache.hadoop.fs.Path(path)
          f.exists(hp) && f.delete(hp, true)
        }
        val preds = (0 to v - keepVersions).count(w => drop(s"$storeDir/predictions_v$w"))
        val idx = (0 until root).count(w => drop(s"$storeDir/index_v$w"))
        (preds, idx)
    }
  }

  /** Start the continuous query: every micro-batch of `pages` (a STREAMING
    * frame with url, text) advances the store one version. Exactly-once
    * effect via the streaming checkpoint (batch replay) + idempotent
    * re-delivery in the operator.
    */
  def run(
      pages: DataFrame,
      storeDir: String,
      checkpointDir: String,
      cfg: LinkagePipeline.Config = LinkagePipeline.Config(),
      trigger: Trigger = Trigger.AvailableNow(),
      compactEvery: Int = 16
  ): StreamingQuery = {
    require(compactEvery >= 1, s"compactEvery must be >= 1 (got $compactEvery)")
    pages.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        linkBatch(batch, storeDir, cfg, compactEvery)
      }
      .start()
  }
}
