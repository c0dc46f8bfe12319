package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators._
import graft.util.{Checkpoints, DeterministicSeq}

/** The end-to-end record-linkage DAG (SURVEY.md §3.1 re-architecture):
  *
  *   pages -> features (linear)           \
  *   pages -> blocking keys -> salted pair self-join -> score -> threshold
  *         -> large-star/small-star CC -> clusters joined back to pages
  *         -> predictions (byte-identical text pass-through)
  *
  * The reference's per-chunk asyncio loop
  * (/root/reference/lion_linker/lion_linker.py:1334-1410) collapses into one
  * declarative plan; the only driver-side loop is the bounded, checkpointed
  * CC iteration.
  */
object LinkagePipeline {

  final case class Config(
      strategies: Seq[BlockingStrategy] = Seq(
        CanonicalUrlBlocking,
        DomainBlocking,
        MinHashBlocking()
      ),
      weights: PairScorer.Weights = PairScorer.Weights(),
      maxBlockSize: Int = 1000,
      maxCcIterations: Int = 20,
      /** Optional (key, threshold) table: per-blocking-key accept
        * thresholds, broadcast-joined at threshold time (SURVEY §2.9);
        * `weights.threshold` is the fallback.
        */
      perKeyThresholds: Option[DataFrame] = None,
      /** Durable checkpoint root for the edge set + CC iterations. Unset
        * (small/interactive runs): fast serialized localCheckpoint, NOT
        * executor-loss-safe. Set (the large-run default on a real cluster):
        * every iteration persists to this dir (hdfs://, s3a://, ...) and
        * survives executor loss — the lighter sibling of the fully
        * resumable `runResumable` snapshots. CC iterations rotate
        * keep-last-2 under `cc/`; the ids map of a deep graph's mid-run
        * compaction (ConnectedComponents.run `compactAfter`) keeps its own
        * non-rotating root `cc-ids/`.
        */
      checkpointDir: Option[String] = None,
      /** Sorted-neighborhood passes: (sort-key SQL expression over the
        * corpus's url/text columns, window size). Each pass's window pairs
        * union into the key-based candidate set (operators/
        * SortedNeighborhood — the merge/purge complement for near-matches
        * that equal on no exact key; linear candidates by construction).
        * SQL-expression strings (not Columns) so the config stays
        * serializable/hashable for the resume signature.
        */
      windowPasses: Seq[(String, Int)] = Nil
  )

  /** Local master sized by SPARK_GRAFT_CPUS (default 8): the CLI's and the
    * dev tools' default.
    */
  def defaultMaster: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]"

  /** Spark session tuned for the engine: AQE + skew join on, shuffle
    * partition count from the caller (sized to cores locally; on a real
    * cluster AQE coalesces the rest). Every exchange the engine plans is
    * sized this way — the deterministic seq's range exchange included
    * (graft.util.DeterministicSeq); at cluster scale raise its starting
    * width with `spark.sql.adaptive.coalescePartitions.initialPartitionNum`.
    */
  def session(master: String, appName: String = "graft-linkage", shufflePartitions: Int = 32): SparkSession = {
    val builder0 = SparkSession.builder()
    // local-cluster[n,c,m] = N separate executor JVMs: the honest stand-in
    // for "N executors" (per-process heaps, real task serialization).
    // Executors need this library on their classpath.
    if (master.startsWith("local-cluster")) {
      val codeSource = getClass.getProtectionDomain.getCodeSource.getLocation.getPath
      builder0.config("spark.executor.extraClassPath", codeSource)
      // the Worker's executor command builder resolves the Scala version
      // from its child env; without this the dist layout probe fails
      builder0.config("spark.executorEnv.SPARK_SCALA_VERSION", "2.13")
      // executor heap: the default 1g thrashes; size to the worker slot
      // (local-cluster[n,c,m] passes m as the worker's slot memory)
      val slotMb = master.stripPrefix("local-cluster[").stripSuffix("]").split(",")(2).trim.toInt
      builder0.config("spark.executor.memory", s"${math.max(slotMb - 512, 1024)}m")
    }
    val s = builder0
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // floor the AQE coalesce: similarity kernels are compute-heavy per
      // byte, so byte-sized coalescing to 1-2 tasks serializes the CPU work.
      // 128k only binds tiny stages; at TB scale the advisory size governs.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "128k")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // broadcast builds serialize on the driver; past ~8MB the parallel
      // shuffle join wins and keeps the driver off the critical path
      .config("spark.sql.autoBroadcastJoinThreshold", (8 * 1024 * 1024).toString)
      // serialized cache/checkpoint blocks are re-read several times; lz4
      // compressing them trades a little CPU for a lot of memory-bus bytes
      // (text-heavy rows compress 3-5x) — measurable on shared-bus hosts
      .config("spark.rdd.compress", "true")
      // don't idle cores waiting for PROCESS_LOCAL slots on cached blocks:
      // checkpointed partitions pin to one executor, and delay scheduling
      // would hold other executors' cores for up to 3s per wave
      .config("spark.locality.wait", "0")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s
  }

  /** Run linkage over a (url, text, ...) corpus; returns the Prediction
    * frame: url, cluster_id, score, status, seq, text.
    *
    * `score` = the best accepted pair score touching the url (null for
    * singletons); `status` = linked/nil; `seq` = deterministic total order
    * (reference W5); `text` = untouched input text (per-row invariant).
    */
  def run(pages: DataFrame, cfg: Config = Config()): DataFrame = {
    // The corpus is scanned by every blocking strategy, the feature pass and
    // the final merge. When the input is a plain columnar scan, re-scanning
    // the (url, text)-pruned source is the scale-safe choice — persisting
    // 100 TB writes the corpus to executor disks once more for no benefit.
    // Derived inputs (joins/aggregates/generators upstream) are persisted so
    // the lineage doesn't recompute per consumer.
    // phase job-groups: every action below runs under a named group so
    // graft.util.JobLedger (cli.Main --monitor true), the benchmark's
    // pipeline.* metrics and the Spark UI can attribute task time to
    // pipeline phases instead of checkpoint callsites — the N-vs-4N
    // per-phase breakdown is how scaling regressions get localized
    val sc = pages.sparkSession.sparkContext
    def phase(name: String): Unit = sc.setJobGroup(s"graft:$name", s"linkage phase: $name")

    phase("ingest")
    val plainScan = isPlainScan(pages)
    val corpus =
      if (plainScan) pages.select("url", "text")
      else {
        val c = pages
          .select("url", "text")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
        c.count() // materialize the cache
        c
      }

    phase("block+score")
    val keys = Blocker.allKeys(corpus, cfg.strategies)
    val pairs = candidatePairs(corpus, keys, cfg)
    val (feats, releaseFeats) = PairScorer.featuresWithRelease(corpus)
    val scored = PairScorer.score(pairs, feats, cfg.weights)
    val accepted = PairScorer.threshold(scored, cfg.weights, cfg.perKeyThresholds)

    // scoring + CC reuse the accepted edge set: materialize it once
    // (durable checkpoint when a dir is configured, else serialized local).
    // Separate roots: the accepted checkpoint is re-read AFTER CC (bestScore)
    // so it must survive the whole run; CC iterations only ever read the
    // latest frame and rotate keep-last-2 to bound durable storage.
    val edgeSnapshot: DataFrame => DataFrame =
      cfg.checkpointDir.map(d => Checkpoints.reliable(s"$d/accepted")).getOrElse(Checkpoints.serializedLocal)
    val ccSnapshot: DataFrame => DataFrame =
      cfg.checkpointDir.map(d => Checkpoints.reliable(s"$d/cc", keepLast = 2)).getOrElse(Checkpoints.serializedLocal)
    val acceptedCk = edgeSnapshot(accepted)
    releaseFeats() // pair join materialized; drop the tokenize+hash cache

    phase("cc")
    val clusters = ConnectedComponents.run(
      acceptedCk.select(col("urlA").as("src"), col("urlB").as("dst")),
      cfg.maxCcIterations,
      ccSnapshot,
      // the ids map outlives the iterations (read again by the final
      // map-back), so durable runs give it its own NON-rotating root
      idSnapshot = cfg.checkpointDir.map(d => Checkpoints.reliable(s"$d/cc-ids"))
    )

    phase("assemble")
    val out = assemblePredictions(corpus, clusters, acceptedCk)
    if (!plainScan) corpus.unpersist(blocking = false)
    // the caller's terminal action (sink write / foreach) runs whatever
    // remains of the lazy tail under this label
    phase("sink")
    out
  }

  /** Prediction-assembly tail, shared by `run`, `runResumable`, the
    * battery's symbolic pipelines and the benchmark's per-layer leg so they
    * can never time or ship diverging semantics: best accepted score per
    * url, cluster join-back from the projected (url, text) corpus — never
    * the raw input frame, so extra input columns (e.g. a cluster_id when
    * re-linking a previous output) cannot collide with the prediction
    * schema — status
    * derivation, and the deterministic seq. ONE materialization:
    * DeterministicSeq.assign checkpoints its range-partitioned input (needed
    * anyway for stable boundaries across its two passes), which also keeps
    * the caller's sink action from re-executing the join chain — no
    * separate checkpoint of the joined frame (that would serialize the
    * full text column twice).
    */
  def assemblePredictions(corpus: DataFrame, clusters: DataFrame, accepted: DataFrame): DataFrame =
    DeterministicSeq.assign(freshRows(corpus, clusters, bestScores(accepted)), "url")

  /** Best accepted score per url over an edge frame (urlA, urlB, score):
    * (url, new_score).
    */
  private[graft] def bestScores(accepted: DataFrame): DataFrame =
    accepted
      .select(col("urlA").as("url"), col("score"))
      .unionAll(accepted.select(col("urlB").as("url"), col("score")))
      .groupBy("url")
      .agg(max("score").as("new_score"))

  /** Prediction rows (url, cluster_id, score, status, text) for a (url,
    * text) corpus whose clustering was computed from scratch: a url in no
    * component of `clusters` is its own nil singleton; `score` is its row
    * of [[bestScores]], null when no accepted edge touches it.
    */
  private[graft] def freshRows(corpus: DataFrame, clusters: DataFrame, bestScore: DataFrame): DataFrame =
    corpus
      .join(clusters, Seq("url"), "left")
      .join(bestScore, Seq("url"), "left")
      .select(
        col("url"),
        coalesce(col("cluster_id"), col("url")).as("cluster_id"),
        col("new_score").as("score"),
        when(col("cluster_id").isNotNull, "linked").otherwise("nil").as("status"),
        col("text")
      )

  /** Dry-run (reference `LION_DRY_RUN`, app/services/linker.py:100-123,
    * 742-839): deterministic all-NIL predictions with the FULL output schema
    * and zero scoring/joins — blank mentions are skipped like the
    * reference's `if not mention.strip(): continue`, every surviving row is
    * its own singleton cluster with score 0.0 and status "nil", and `seq` is
    * the same deterministic total order as a real run.
    */
  def dryRun(pages: DataFrame): DataFrame = {
    val out = pages
      .select("url", "text")
      .where(length(trim(coalesce(col("text"), lit("")))) > 0)
      .select(
        col("url"),
        col("url").as("cluster_id"),
        lit(0.0).as("score"),
        lit("nil").as("status"),
        col("text")
      )
    DeterministicSeq.assign(out, "url")
  }

  /** True when the analyzed plan is just a (projected/filtered) source
    * relation — re-scanning it column-pruned beats caching it.
    */
  private def isPlainScan(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    def ok(p: LogicalPlan): Boolean = p match {
      case _: LeafNode => true
      case p: Project => ok(p.child)
      case f: Filter => ok(f.child)
      case s: SubqueryAlias => ok(s.child)
      case _ => false
    }
    ok(df.queryExecution.analyzed)
  }

  /** Candidate pairs: key-equality blocking plus any configured
    * sorted-neighborhood window passes, deduped across sources.
    */
  def candidatePairs(corpus: DataFrame, keys: DataFrame, cfg: Config): DataFrame =
    withWindowPairs(Blocker.pairs(keys, cfg.maxBlockSize), windowPairs(corpus, cfg))

  /** The configured sorted-neighborhood passes over a (url, text) corpus,
    * unioned; each pass's pairs carry the pseudo-key "sn:<i>:w<window>", so
    * per-key thresholds and min-key dedup treat a pass as one block. None
    * when no pass is configured.
    */
  private[graft] def windowPairs(corpus: DataFrame, cfg: Config): Option[DataFrame] =
    if (cfg.windowPasses.isEmpty) None
    else
      Some(cfg.windowPasses.zipWithIndex.map { case ((sortExpr, w), i) =>
        SortedNeighborhood.pairs(corpus, expr(sortExpr), w).withColumn("key", lit(s"sn:$i:w$w"))
      }.reduce(_ unionByName _))

  /** Key-block pairs plus any window pairs, deduped across sources: a pair
    * found by both scores once, under its deterministic min key.
    */
  private[graft] def withWindowPairs(keyPairs: DataFrame, window: Option[DataFrame]): DataFrame =
    window.fold(keyPairs)(wp => Blocker.minKeyPerPair(keyPairs.unionByName(wp)))

  /** Resumable variant of `run`: every stage commits a Parquet snapshot +
    * manifest through `io`, and a restarted run with the same config hash
    * resumes from the last committed stage (SURVEY.md §4.3). Stage DAG:
    * keys -> pairs -> accepted(score+threshold) -> cc_iter_* -> predictions.
    */
  def runResumable(pages: DataFrame, cfg: Config, io: graft.io.TableIO): DataFrame = {
    val spark = pages.sparkSession
    val corpus = pages.select("url", "text")

    // A2 in-flight progress counters: df.observe() rides the stage's own
    // write job (zero extra passes) and the values land in the stage
    // manifest — the reference streams these over SSE
    // (app/api/routes.py:552-575); here the manifest is the progress feed
    // bounded wait (shared with ConnectedComponents.snapshotWithSignature):
    // obs.get blocks forever if the stage's write job didn't drive the
    // observation; commit empty metrics (with a stderr note) over hanging
    def metricsOf(obs: org.apache.spark.sql.Observation): Map[String, Double] =
      graft.util.Observations.getWithin(obs).collect { case (k, v: Number) => k -> v.doubleValue() }.toMap

    val keys = io
      .readStage(spark, "keys")
      .getOrElse {
        val obs = org.apache.spark.sql.Observation()
        val observed = Blocker
          .allKeys(corpus, cfg.strategies)
          .observe(
            obs,
            count(lit(1)).as("blocked_key_rows"),
            approx_count_distinct(col("url")).as("pages_with_keys_approx")
          )
        io.commitStage(observed, "keys", Nil, () => metricsOf(obs))
      }
    val pairs = io
      .readStage(spark, "pairs")
      .getOrElse {
        val obs = org.apache.spark.sql.Observation()
        val observed = candidatePairs(corpus, keys, cfg)
          .observe(obs, count(lit(1)).as("candidate_pairs"))
        io.commitStage(observed, "pairs", Seq("keys"), () => metricsOf(obs))
      }
    val accepted = io
      .readStage(spark, "accepted")
      .getOrElse {
        val (feats, releaseFeats) = PairScorer.featuresWithRelease(corpus)
        val scored = PairScorer.score(pairs, feats, cfg.weights)
        val obs = org.apache.spark.sql.Observation()
        val observed = PairScorer
          .threshold(scored, cfg.weights, cfg.perKeyThresholds)
          .observe(
            obs,
            count(lit(1)).as("accepted_edges"),
            avg(col("score")).as("accepted_score_avg"),
            min(col("score")).as("accepted_score_min")
          )
        val committed = io.commitStage(observed, "accepted", Seq("pairs"), () => metricsOf(obs))
        releaseFeats()
        committed
      }

    val clusters = ConnectedComponents.runResumable(
      accepted.select(col("urlA").as("src"), col("urlB").as("dst")),
      io,
      cfg.maxCcIterations
    )

    io.readStage(spark, "predictions").getOrElse {
      io.commitStage(assemblePredictions(corpus, clusters, accepted), "predictions", Seq("accepted"))
    }
  }
}
