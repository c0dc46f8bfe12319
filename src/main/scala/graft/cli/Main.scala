package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._
import graft.pipeline.LinkagePipeline
import graft.synth.WebCorpus

/** spark-submit entry point, mirroring the reference CLI surface
  * (/root/reference/lion_linker/cli.py:15-39): flag-style config selects
  * blocking strategies by name (no reflection), runs the linkage pipeline,
  * writes predictions parquet + a metrics line.
  *
  * Usage:
  *   graft.cli.Main --input <parquet dir|synth:N> --output <dir>
  *     [--strategies canonical_url,domain,minhash]
  *     [--threshold 0.70] [--max-block-size 1000] [--master local[8]]
  *     [--snapshots <dir>]   resumable mode: commit every stage under <dir>
  *                           and resume from the last committed stage on rerun
  *     [--save-index true]   also write <output>.index (blocking-key index +
  *                           additive IDF artifact) for later increments
  *     [--golden <dir>]      also write one survivorship golden record per
  *                           cluster (smallest url, longest text, best score)
  *     [--base <dir>]        INCREMENTAL: link --input as a delta against the
  *                           base run at <dir> (needs <dir>.index, or --index)
  *                           in O(delta + affected blocks); writes the full
  *                           updated predictions, <output>.index and
  *                           <output>.merges (old->new cluster relabels)
  *     [--emit changed]      with --base: write the upsert view instead of a
  *                           full-store rewrite — delta rows + affected old
  *                           rows only (text/seq null for old rows), keeping
  *                           the WRITE side O(delta) too
  *     [--window-key <expr>] add a sorted-neighborhood pass: candidates from
  *     [--window N]          a size-N window (default 10) over the corpus
  *     [--window-refresh true] with --base + --window-key: re-rank the union
  *                           corpus so the increment honors window passes
  *                           sorted by the SQL expression (url/text columns)
  *     [--remove true]       DECREMENTAL: --input is a tombstone list (url
  *                           column); deletes those urls from the --base run
  *                           in O(removed + affected clusters), writing the
  *                           reduced predictions, <output>.tombstones and a
  *                           compacted <output>.index (--emit changed writes
  *                           the upsert view instead of the full store)
  *     [--link-to <dir>]     LINK_ONLY: link --input (table A) against the
  *                           (url, text) parquet at <dir> (table B) with
  *                           cross-table-only candidates; writes accepted
  *                           links (url_a, url_b, key, score);
  *                           --one-to-one true reduces them to a matching
  */
object Main {

  /** Strict pairwise flag parsing. sliding(2,2) would silently re-pair
    * everything after a value-less flag (--monitor --input X: monitor
    * becomes "--input" and the input is DROPPED — the job then runs on the
    * synth default and exits 0 with wrong output); malformed argument
    * lists must die loudly instead.
    */
  private[cli] def parseArgs(args: Array[String]): Map[String, String] = {
    val out = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var i = 0
    while (i < args.length) {
      val k = args(i)
      require(k.startsWith("--"), s"expected a --flag, got '$k' (flags take exactly one value)")
      // --flag=value: the escape hatch for values that themselves start
      // with "--" (otherwise rejected below as a missing value)
      val eq = k.indexOf('=')
      if (eq > 2) {
        out(k.substring(2, eq)) = k.substring(eq + 1)
        i += 1
      } else {
        require(i + 1 < args.length, s"flag $k is missing its value")
        val v = args(i + 1)
        require(!v.startsWith("--"), s"flag $k is missing its value (got flag '$v' instead; use $k=$v to pass it)")
        out(k.drop(2)) = v
        i += 2
      }
    }
    out.toMap
  }

  val strategyByName: Map[String, BlockingStrategy] = Map(
    "canonical_url" -> CanonicalUrlBlocking,
    "domain" -> DomainBlocking,
    "minhash" -> MinHashBlocking(),
    "soundex" -> PhoneticBlocking(),
    "suffix" -> SuffixBlocking()
  )

  /** Mention-column resolution, mirroring the reference's precedence
    * (app/services/linker.py:428-471): explicit selection first, then link
    * columns, then the configured mention columns, then the first header
    * column. Selection/link items may be column NAMES or positional
    * INDEXES. The reference distinguishes the two by JSON type
    * (isinstance(item, int)); a CLI only has strings, so a digits-only
    * item resolves as a NAME first when a column of that exact name exists
    * (numeric headers — year columns — are common in the reference's
    * table-linking domain) and as an index otherwise. Unknown names /
    * out-of-range indexes in selection/link are hard errors, configured
    * mention columns are silently filtered to those present.
    */
  def resolveMentionColumns(
      header: Seq[String],
      selection: Seq[String] = Nil,
      linkColumns: Seq[String] = Nil,
      mentionConfig: Seq[String] = Nil
  ): Seq[String] = {
    def resolveStrict(items: Seq[String], what: String): Seq[String] =
      items.map { item =>
        if (header.contains(item)) item
        else if (item.nonEmpty && item.forall(_.isDigit)) {
          val idx = item.toInt
          require(idx >= 0 && idx < header.length, s"$what column index out of range: $item")
          header(idx)
        } else {
          throw new IllegalArgumentException(s"$what column not found: $item")
        }
      }
    if (selection.nonEmpty) resolveStrict(selection, "Selection")
    else if (linkColumns.nonEmpty) resolveStrict(linkColumns, "Link")
    else {
      val configured = mentionConfig.filter(header.contains)
      if (configured.nonEmpty) configured
      else header.headOption.toSeq
    }
  }

  private def csvList(opts: Map[String, String], key: String): Seq[String] =
    opts.get(key).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)

  /** S4 input materializer, shared by the linkage and curation CLIs:
    * synth:N (generated then written to parquet so the timed pipeline
    * reads from storage like a real run), csv:path (header CSV through
    * any Hadoop FS scheme — the reference's CSV upload surface,
    * app/api/routes.py:244-337), else a parquet dir.
    */
  def materializeInput(
      spark: SparkSession,
      input: String,
      output: String
  ): DataFrame =
    if (input.startsWith("synth:")) {
      val n = input.drop("synth:".length).toInt
      val synthDir = s"$output-input"
      WebCorpus
        .pages(spark, WebCorpus.Config(numClusters = math.max(n / 4, 1)))
        .write.mode("overwrite").parquet(synthDir)
      spark.read.parquet(synthDir)
    } else if (input.startsWith("csv:") || input.endsWith(".csv")) {
      val path = if (input.startsWith("csv:")) input.drop(4) else input
      spark.read.option("header", true).option("escape", "\\").csv(path)
    } else spark.read.parquet(input)

  /** Lift an arbitrary input frame into the pipeline's (url, text, ...)
    * shape: drop gt columns (reference gt_columns semantics — P1, errors
    * ignored for absent names), resolve mention columns by the reference
    * precedence, synthesize `text` from the mention columns and `url` from
    * --id-column / an `id_row` column / an existing `url` column / a
    * content hash, in that order. A frame that already has url+text and no
    * column flags passes through untouched (minus gt columns).
    */
  def preparePages(df: DataFrame, opts: Map[String, String]): DataFrame = {
    // selection/link indexes resolve against the RAW header: the reference
    // reads the CSV header before any gt handling (app/services/
    // linker.py:355,428-441) and drops gt columns later, inside the linker
    // (lion_linker.py:196) — resolving after the drop would silently shift
    // every positional index past a gt column by one
    val rawHeader = df.columns.toSeq
    val gtCols = csvList(opts, "gt-columns").filter(df.columns.contains)
    val dropped = if (gtCols.nonEmpty) df.drop(gtCols: _*) else df
    val header = dropped.columns.toSeq
    val hasFlags =
      Seq("select-columns", "link-columns", "mention-columns", "id-column").exists(opts.contains)
    if (!hasFlags && header.contains("url") && header.contains("text")) dropped
    else {
      // with no explicit mention config, an existing `text` column is the
      // default mention source — otherwise a flag like --id-column on a
      // (url, text) frame would fall through to header.head and silently
      // rebuild `text` from the id column
      val mentionCfg = csvList(opts, "mention-columns") match {
        case Nil => Seq("text")
        case cfg => cfg
      }
      val mentionCols = resolveMentionColumns(
        rawHeader,
        csvList(opts, "select-columns"),
        csvList(opts, "link-columns"),
        mentionCfg
      ).map { c =>
        // a mention column that is ALSO a gt column no longer exists after
        // the drop — the reference would KeyError at prompt time; fail
        // loudly at resolution time instead
        require(
          header.contains(c),
          s"Mention column '$c' is dropped by --gt-columns; gt columns cannot be linked over"
        )
        c
      }
      require(mentionCols.nonEmpty, "no mention column resolvable: empty header")
      val idCol = opts
        .get("id-column")
        .orElse(Seq("id_row", "url").find(header.contains))
      val url = idCol match {
        case Some(c) => col(c).cast("string")
        // content-addressed fallback: deterministic across partitionings
        // (duplicate rows collapse to one page, which linkage tolerates)
        case None => sha2(to_json(struct(header.map(col): _*)), 256)
      }
      val text = concat_ws(" ", mentionCols.map(c => coalesce(col(c).cast("string"), lit(""))): _*)
      dropped.select((Seq(url.as("url"), text.as("text")) ++
        header.filterNot(c => c == "url" || c == "text").map(col)): _*)
    }
  }

  /** Content signature of an input spec for the resume config hash
    * (reference cache keys hash the full payload, retrievers.py:58-75; at
    * engine scale the stand-in is every underlying file's (path, length,
    * mtime) from one recursive listing — no data read). `synth:N` is fully
    * determined by its spec string; a missing path signs as "absent" and
    * the downstream read produces the real error.
    */
  private[cli] def inputSignature(spark: org.apache.spark.sql.SparkSession, input: String): String = {
    val path = if (input.startsWith("csv:")) input.drop(4) else input
    if (input.startsWith("synth:")) input
    else {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // ONLY a genuinely missing path signs as the "absent" constant (the
      // downstream read then produces the real error). Any OTHER listing
      // failure (transient FS fault, permission flap) must NOT sign like a
      // stable state — two runs both failing the listing would otherwise
      // share a config hash and the second would resume stages even if the
      // files changed in between. Let it propagate and fail the run.
      if (!fs.exists(p)) "absent"
      else {
        val it = fs.listFiles(p, true)
        val entries = scala.collection.mutable.ArrayBuffer.empty[String]
        while (it.hasNext) {
          val s = it.next()
          entries += s"${s.getPath}:${s.getLen}:${s.getModificationTime}"
        }
        val digest = java.security.MessageDigest.getInstance("SHA-256")
        entries.sorted.foreach(e => digest.update(e.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        digest.digest().take(8).map("%02x".format(_)).mkString
      }
    }
  }

  def main(args: Array[String]): Unit = {
    // JSON output uses "%.2f".format — locale-dependent (a comma-decimal
    // locale would emit invalid JSON); pin the JVM default for this process
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val opts = parseArgs(args)
    val master = opts.getOrElse("master", LinkagePipeline.defaultMaster)
    val spark = LinkagePipeline.session(master, "graft-linkage-cli")
    try run(spark, opts)
    finally spark.stop()
  }

  /** The CLI body against a caller-owned session (main owns the session
    * lifecycle; tests drive this directly on the shared suite session).
    */
  def run(spark: SparkSession, opts: Map[String, String]): Unit = {
    val input = opts.getOrElse("input", "synth:2000")
    val output = opts.getOrElse("output", "/tmp/graft-out")
    val strategies = opts
      .getOrElse("strategies", "canonical_url,domain,minhash")
      .split(",")
      .map(_.trim)
      .map(n => strategyByName.getOrElse(n, sys.error(s"unknown strategy '$n'; have ${strategyByName.keys.mkString(",")}")))
      .toSeq
    val weights = PairScorer.Weights(threshold = opts.get("threshold").map(_.toDouble).getOrElse(0.70))
    val cfg = LinkagePipeline.Config(
      strategies = strategies,
      weights = weights,
      maxBlockSize = opts.get("max-block-size").map(_.toInt).getOrElse(1000),
      // --checkpoint-dir: executor-loss-safe CC checkpoints (the large-run
      // setting); lighter than full --snapshots resumability
      checkpointDir = opts.get("checkpoint-dir"),
      // --window-key <sql expr> [--window N]: add a sorted-neighborhood
      // pass over the given sort key (default window 10)
      windowPasses = opts
        .get("window-key")
        .map(e => Seq((e, opts.get("window").map(_.toInt).getOrElse(10))))
        .getOrElse(Nil)
    )

    spark.sparkContext.setLogLevel("WARN")
    var ledger = Option.empty[graft.util.JobLedger]
    try {
      // synth corpora are materialized to parquet first: the timed pipeline
      // reads from storage like a real run (and repeated scans of the input
      // don't re-run the generator)
      // S4 materializer: synth:N (generated), csv:path (header CSV through
      // any Hadoop FS scheme — the reference's CSV upload surface,
      // app/api/routes.py:244-337), else parquet dir
      val raw = materializeInput(spark, input, output)
      // any table shape is accepted: gt columns dropped, mention columns
      // resolved by name or index (--select-columns/--link-columns/
      // --mention-columns), url synthesized when absent. In --remove mode
      // the input is a TOMBSTONE list (url column only) — no mention
      // resolution applies
      val pages =
        if (opts.get("remove").contains("true")) raw else preparePages(raw, opts)

      if (opts.get("warmup").contains("true"))
        LinkagePipeline.run(pages.limit(20000), cfg).foreach(_ => ())
      // --monitor true: attribute the timed region's jobs and task time to
      // pipeline phases (dev/bench diagnostics)
      if (opts.get("monitor").contains("true")) ledger = Some(graft.util.JobLedger.install(spark.sparkContext))

      val t0 = System.nanoTime()
      val strategyNames = strategies.map(_.name).mkString(",")
      var mergedClusters = Option.empty[Long]
      // incremental runs hand back a cache-release hook; invoked after the
      // final predictions write (the terminal action on the frames)
      var releaseInc: () => Unit = () => ()
      val preds = if (opts.get("dry-run").contains("true")) {
        require(!opts.contains("base"), "--dry-run and --base (incremental) are mutually exclusive")
        // hermetic all-NIL pass with the full output schema, zero scoring
        // (reference dry-run, app/services/linker.py:100-123,742-839)
        LinkagePipeline.dryRun(pages)
      } else if (opts.contains("link-to")) {
        // LINK_ONLY: reconcile table A (--input) against table B
        // (--link-to) — cross-table candidates only, no clustering; the
        // output is the accepted LINK set, not a prediction store
        require(!opts.contains("base") && !opts.contains("snapshots"),
          "--link-to is a one-shot link_only run; it composes with neither --base nor --snapshots")
        val b = spark.read.parquet(opts("link-to"))
        LinkTables.run(pages, b, cfg, oneToOne = opts.get("one-to-one").contains("true"))
      } else if (opts.get("remove").contains("true")) {
        // DECREMENTAL: delete the tombstone urls from a committed base run
        // in O(removed + affected clusters) — affected clusters re-cluster
        // from scratch (splits, label handoffs), everything else is
        // untouched (IncrementalLinkage.remove's contract). Writes the
        // reduced predictions (or the upsert view under --emit changed),
        // <output>.tombstones (the effective deletes), and a COMPACTED
        // <output>.index (deletes cannot chain-append; the key index is
        // rewritten reduced — one O(corpus-keys) write, no text scan).
        require(
          opts.contains("base"),
          "--remove true needs --base <dir> (the committed run to delete from)"
        )
        require(!opts.contains("snapshots"), "--remove and --snapshots are mutually exclusive")
        val baseDir = opts("base")
        val basePred = spark.read.parquet(baseDir)
        val idxDir = opts.getOrElse("index", s"$baseDir.index")
        val (index, storedStrategies) = IncrementalLinkage.loadIndex(spark, idxDir)
        require(
          storedStrategies == strategyNames,
          s"index at $idxDir was built with --strategies $storedStrategies (got $strategyNames); " +
            "blocking keys would not align — rerun with the matching strategies"
        )
        // destructive path: the tombstone input must name its url column
        // explicitly — a positional columns.head fallback would silently
        // delete by whatever happens to lead an unexpected file
        require(
          pages.columns.contains("url"),
          s"--remove input must have a 'url' column (got: ${pages.columns.mkString(", ")})"
        )
        val tombstones = pages.select("url")
        val emitChanged = opts.get("emit").contains("changed")
        // --window-refresh: honor sorted-neighborhood passes by re-ranking
        // the surviving corpus (see IncrementalLinkage.remove's contract —
        // for removal the refresh is exact under corpus-independent scorers)
        val r = IncrementalLinkage.remove(
          tombstones,
          basePred,
          index,
          cfg,
          reseq = !emitChanged,
          windowRefresh = opts.get("window-refresh").contains("true")
        )
        IncrementalLinkage.saveIndex(r.index, s"$output.index", strategyNames)
        r.removed.write.mode("overwrite").parquet(s"$output.tombstones")
        r.mergeMap.write.mode("overwrite").parquet(s"$output.merges")
        mergedClusters = Some(spark.read.parquet(s"$output.merges").count())
        releaseInc = r.release
        if (emitChanged) r.changed else r.predictions
      } else if (opts.contains("base")) {
        // INCREMENTAL: link only the delta against a committed base run
        // (reference operational loop — new tasks against an existing
        // prediction store, app/services/task_queue.py:56-75). Reads
        // <base> predictions + <base>.index artifacts, writes the full
        // updated prediction set plus <output>.index for the NEXT
        // increment and <output>.merges (old_cluster_id -> new_cluster_id)
        // for downstream stores that relabel in place.
        require(!opts.contains("snapshots"), "--base (incremental) and --snapshots are mutually exclusive")
        val baseDir = opts("base")
        val basePred = spark.read.parquet(baseDir)
        val idxDir = opts.getOrElse("index", s"$baseDir.index")
        val (index, storedStrategies) = IncrementalLinkage.loadIndex(spark, idxDir)
        require(
          storedStrategies == strategyNames,
          s"index at $idxDir was built with --strategies $storedStrategies (got $strategyNames); " +
            "blocking keys would not align — rerun with the matching strategies"
        )
        // --emit changed: write the UPSERT view only (delta rows + affected
        // old rows, text/seq null for old rows) — the store is patched in
        // place, never rewritten; at corpus scale this is the only mode
        // whose write cost is O(delta), and it skips the O(n) reseq too
        val emitChanged = opts.get("emit").contains("changed")
        // --window-refresh: allow sorted-neighborhood passes on an
        // increment by re-ranking the UNION corpus (one O((n+delta) log)
        // sort per pass; old-old pairs never rescore — see
        // IncrementalLinkage.link's contract note)
        val r = IncrementalLinkage.link(
          pages,
          basePred,
          index,
          cfg,
          reseq = !emitChanged,
          windowRefresh = opts.get("window-refresh").contains("true")
        )
        // chained index write: O(delta) — only the delta's keys are
        // written, the base's stay where they are (parent pointer); pass
        // --index-compact true to rewrite the full union instead (chain
        // compaction after many increments)
        if (opts.get("index-compact").contains("true"))
          IncrementalLinkage.saveIndex(r.index, s"$output.index", strategyNames)
        else
          IncrementalLinkage.saveIndexDelta(r.deltaKeys, r.index, s"$output.index", strategyNames, idxDir)
        r.mergeMap.write.mode("overwrite").parquet(s"$output.merges")
        mergedClusters = Some(spark.read.parquet(s"$output.merges").count())
        releaseInc = r.release
        if (emitChanged) r.changed else r.predictions
      } else opts.get("snapshots") match {
        case Some(snapDir) =>
          // the hash must cover EVERYTHING that shapes the linker input —
          // the column-resolution flags included — or a rerun with a
          // different mention column would silently resume stages computed
          // from differently-shaped text
          val shapeFlags = Seq("select-columns", "link-columns", "mention-columns", "id-column", "gt-columns")
            .map(k => k -> opts.getOrElse(k, ""))
          val hash = graft.io.TableIO.configHash(
            Map(
              "input" -> input,
              // the path string alone is NOT enough: overwriting the input
              // files and rerunning the same command would silently resume
              // stages computed from the OLD data (readStage only checks
              // its own prior row count). The signature folds in every
              // file's (path, length, mtime) — a cheap listing, no read.
              "inputSig" -> inputSignature(spark, input),
              "strategies" -> strategies.map(_.name).mkString(","),
              "threshold" -> weights.threshold.toString,
              "maxBlockSize" -> cfg.maxBlockSize.toString,
              // window passes shape the pair stage — a rerun with a
              // different sort key / window must NOT resume committed pairs
              "windowPasses" -> cfg.windowPasses.map { case (e, w) => s"$e#$w" }.mkString(";")
            ) ++ shapeFlags
          )
          val io = new graft.io.ParquetTableIO(snapDir, runId = java.util.UUID.randomUUID.toString, hash)
          LinkagePipeline.runResumable(pages, cfg, io)
        case None => LinkagePipeline.run(pages, cfg)
      }
      preds.write.mode("overwrite").parquet(output)
      releaseInc()
      // --save-index true: leave behind the artifacts an incremental run
      // needs (blocking-key index + additive IDF) — one extra O(corpus)
      // pass, done once per base run
      if (opts.get("save-index").contains("true") && !opts.contains("base") && !opts.get("dry-run").contains("true"))
        IncrementalLinkage.saveIndex(IncrementalLinkage.buildIndex(pages, cfg), s"$output.index", strategyNames)
      val secs = (System.nanoTime() - t0) / 1e9
      // run() and runResumable() leave graft:sink set on this thread; the
      // reporting jobs below are not part of the timed region
      spark.sparkContext.clearJobGroup()
      val monitored = ledger.map(_.snapshot())

      val out = spark.read.parquet(output)
      // --golden <path>: one canonical record per cluster via field-level
      // survivorship (url = smallest member id, text = longest member text,
      // score = best member score) — the MDM-style merge-phase output next
      // to the per-mention predictions frame
      opts.get("golden").foreach { goldenPath =>
        import graft.operators.Survivorship
        Survivorship
          .golden(
            out,
            "cluster_id",
            Seq(
              Survivorship.Rule("url", Survivorship.MinValue),
              Survivorship.Rule("text", Survivorship.Longest),
              Survivorship.Rule("score", Survivorship.MaxValue, as = "best_score")
            )
          )
          .write
          .mode("overwrite")
          .parquet(goldenPath)
      }
      val nDocs = out.count()
      // link_only output is a LINK frame (url_a, url_b, key, score) — no
      // cluster/status columns; report link-shaped counts instead
      val linkMode = opts.contains("link-to")
      val nClusters =
        if (linkMode) out.select("url_a").distinct().count()
        else out.select("cluster_id").distinct().count()
      val nLinked = if (linkMode) nDocs else out.where(col("status") === "linked").count()
      val monitorJson = monitored.map(_.total).fold("") { t =>
        val taskSec = t.runMs / 1e3
        s""","jobs":${t.jobs},"task_sec":${"%.1f".format(taskSec)},"gc_sec":${"%.1f".format(t.gcMs / 1e3)}""" +
          s""","ser_sec":${"%.1f".format(t.serMs / 1e3)}""" +
          s""","cpu_sec":${"%.1f".format(t.cpuNs / 1e9)}""" +
          s""","fetch_wait_sec":${"%.1f".format(t.fetchWaitMs / 1e3)}""" +
          s""","shuf_write_sec":${"%.1f".format(t.shuffleWriteNs / 1e9)}""" +
          s""","utilization":${"%.2f".format(taskSec / (secs * spark.sparkContext.defaultParallelism))}"""
      }
      println(
        s"""{"docs":$nDocs,"clusters":$nClusters,"linked":$nLinked,""" +
          s""""seconds":${"%.2f".format(secs)},"docs_per_sec":${"%.1f".format(nDocs / secs)}""" +
          mergedClusters.map(m => s""","merged_clusters":$m""").getOrElse("") +
          monitorJson + s""","output":"$output"}"""
      )
      monitored.foreach { m =>
        (m.phaseLines ++ m.stageLines).foreach(println)
        m.jobLines.foreach(System.err.println)
      }
    } finally {
      // the session belongs to main/the test — leave it running, but do not
      // leak per-invocation listeners onto it
      ledger.foreach(_.remove())
    }
  }
}
