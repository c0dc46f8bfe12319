package perfbench

import scala.collection.mutable

import graft.pipeline.LinkagePipeline

/** The linkage benchmark. One run = one workload, one seed, one measuring
  * window, traced or not:
  *
  *   perfbench.Main --workload batch|cc_chains --seed N --seconds S --trace 0|1
  *
  * Closed loop: the one driver thread issues one operation at a time to
  * Spark local[<cores>], repeating until the operations' summed wall time
  * reaches S (at least one). The last stdout line is the result object
  * (correct, attempted, failed, metrics); with --trace 0 the metrics are the
  * end-to-end set, with --trace 1 the per-layer set. See perfbench/README.md.
  */
object Main {

  /** Planted clusters of the batch corpus (~3.4 docs each). */
  val Clusters = 600
  /** Nodes of the cc_chains graph. */
  val ChainNodes = 60000
  /** Set-up repetitions whose median enters setup_s; a traced run, which
    * does not report setup_s, sets up once.
    */
  val SetupReps = 3
  private def setupReps(ctx: Ctx): Int = if (ctx.tracer.isEmpty) SetupReps else 1
  /** Nodes of the small graph whose connected components price tracing. */
  val PairNodes = 2000
  /** The incremental leg: the share of the batch corpus held out of the
    * v0 store, and the docs per link and per removal. On a corpus a tenth
    * this size one missed planted member already moves pairwise F1 by 1%.
    */
  val HoldOut = 0.1
  val IncDelta = 100

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "op_p50_s" -> "s",
    "items_per_s" -> "1/s",
    "cpu_s" -> "s",
    "pairwise_f1" -> "ratio",
    "peak_rss_mb" -> "MB"
  )

  val KernelNames = Seq("jaro_winkler", "sorted_dot", "minhash_shingles", "tfidf_weight", "url_normalize")
  /** The pipeline's job-group phases. `ingest` runs no job when the input
    * is a plain Parquet scan (the benchmark's case), so it is not reported.
    */
  val Phases = Seq(
    "block_score" -> "graft:block+score",
    "cc" -> "graft:cc",
    "assemble" -> "graft:assemble",
    "sink" -> "graft:sink"
  )
  val EngineLayers = Seq("blocking", "scoring", "cc", "pipeline", "inc")
  /** Spark-engine work per layer span. GC time, shuffle fetch wait and
    * spill often read 0 per span at these sizes (local mode, a fixed 3 GB
    * heap) and stay in the span records only.
    */
  val EngineFields: Seq[(String, String)] =
    Seq("stages" -> "count", "tasks" -> "count", "task_cpu_s" -> "s", "shuffle_write_mb" -> "MB")

  val PerLayer: Seq[(String, String)] =
    KernelNames.map(k => s"kernel.$k.ns_per_row" -> "ns") ++
      Seq(
        "blocking.keys_s" -> "s",
        "blocking.pairs_s" -> "s",
        "blocking.key_rows" -> "count",
        "blocking.candidate_pairs" -> "count",
        "blocking.pairs_per_doc" -> "ratio",
        "blocking.max_block_rows" -> "count",
        "scoring.features_s" -> "s",
        "scoring.score_s" -> "s",
        "scoring.threshold_s" -> "s",
        "scoring.accepted_edges" -> "count",
        "scoring.accept_ratio" -> "ratio",
        "cc.run_s" -> "s",
        "cc.input_edges" -> "count",
        "cc.jobs" -> "count"
      ) ++
      Phases.flatMap { case (p, _) =>
        Seq(s"pipeline.$p.wall_s" -> "s", s"pipeline.$p.task_cpu_s" -> "s", s"pipeline.$p.jobs" -> "count")
      } ++
      Seq(
        "inc.link_s" -> "s",
        "inc.remove_s" -> "s",
        "inc.link_jobs" -> "count",
        "inc.remove_jobs" -> "count",
        "inc.read_mb_per_op" -> "MB",
        "inc.write_mb_per_op" -> "MB",
        "inc.changed_rows_per_op" -> "count",
        "synth.gen_s" -> "s"
      ) ++
      EngineLayers.flatMap(l => EngineFields.map { case (f, u) => s"$l.$f" -> u }) ++
      Seq("trace.overhead_s" -> "s", "trace.coverage" -> "ratio")

  val Workloads = Seq("batch", "cc_chains")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt, trace)
    if (!Workloads.contains(a.workload))
      throw new IllegalArgumentException(s"unknown workload ${a.workload} (have ${Workloads.mkString(", ")})")
    if (a.seconds < 1) throw new IllegalArgumentException("--seconds must be >= 1")
    a
  }

  private val started = System.nanoTime()
  def log(msg: String): Unit = System.err.println(f"[perfbench ${(System.nanoTime() - started) / 1e9}%7.2fs] $msg")

  type Metrics = Map[String, Double]
  type Summary = Seq[(String, Any)]

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val args =
      try parse(argv)
      catch {
        case e: IllegalArgumentException =>
          System.err.println(s"perfbench: ${e.getMessage}")
          sys.exit(2)
      }
    val cores = Runtime.getRuntime.availableProcessors()
    val host = Json.obj(
      "workload" -> args.workload,
      "seed" -> args.seed,
      "trace" -> args.trace,
      "git_sha" -> Host.gitSha,
      "loadavg" -> Host.loadAvg,
      "calibration_ms" -> Host.calibrationMs,
      "cores" -> cores
    )
    println(Json.render(Json.obj("host" -> host)))

    val t0 = System.nanoTime()
    val spark = LinkagePipeline.session(s"local[$cores]", "perfbench")
    val sessionS = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.setLogLevel("ERROR")
    val work = s".bench_build/work/${args.workload}-${args.seed}-${ProcessHandle.current().pid()}"
    val runId = s"${args.workload}-${args.seed}-${System.currentTimeMillis()}"
    val tracer = if (args.trace) Some(new Tracer(runId, spark.sparkContext)) else None
    val ctx = new Ctx(spark, work, args.seed, args.seconds, tracer)
    val code =
      try {
        val (metrics, summary) = args.workload match {
          case "batch" => runBatch(ctx, sessionS)
          case "cc_chains" => runChains(ctx, sessionS)
        }
        val wanted = if (args.trace) PerLayer else EndToEnd
        val missing = wanted.map(_._1).filterNot(metrics.contains)
        require(missing.isEmpty, s"metrics not produced: ${missing.mkString(", ")}")
        tracer.foreach { t =>
          val dir = new java.io.File(".bench_build/traces")
          dir.mkdirs()
          val f = new java.io.File(dir, s"$runId.jsonl")
          java.nio.file.Files.write(f.toPath, (t.jsonLines.mkString("\n") + "\n").getBytes("UTF-8"))
          log(s"spans written to ${f.getPath}")
        }
        val verdict = Json.obj(
          "workload" -> args.workload,
          "check" -> (if (ctx.failed == 0) "pass" else "FAIL"),
          "fail_share" -> ctx.failed.toDouble / math.max(ctx.attempted, 1),
          "attempted" -> ctx.attempted
        )
        println(Json.render(Json.obj("summary" -> (verdict ++ summary))))
        println(
          Json.render(
            Json.obj(
              "correct" -> (ctx.failed == 0),
              "attempted" -> ctx.attempted,
              "failed" -> ctx.failed,
              "metrics" -> Json.obj(wanted.map { case (n, u) => n -> Json.obj("value" -> metrics(n), "unit" -> u) }: _*)
            )
          )
        )
        0
      } catch {
        case e: Throwable =>
          System.err.println(s"perfbench: run failed: $e")
          e.printStackTrace()
          1
      } finally {
        try ctx.rmrf(work)
        finally spark.stop()
      }
    sys.exit(code)
  }

  /** Operations until their summed wall time reaches the window (at least one). */
  private def window(ctx: Ctx)(op: => Sample): Seq[Sample] = {
    val out = mutable.ArrayBuffer.empty[Sample]
    while (out.isEmpty || out.map(_.wallS).sum < ctx.seconds) out += op
    out.toSeq
  }

  /** The traced run's price of tracing: one operation (connected
    * components of a small graph, some 40 Spark jobs) untraced and one
    * traced, in an order that alternates with the seed so the second
    * slot's extra warmth favours neither side over many runs.
    * Returns traced minus untraced wall seconds. Spans under `trace.pair`
    * are left out of the layer metrics.
    */
  private def overheadPair(ctx: Ctx)(op: => Sample): Double = ctx.span("trace.pair") {
    val (u, t) =
      if (ctx.seed % 2 == 0) { val u = ctx.untraced(op); (u, op) }
      else { val t = op; (ctx.untraced(op), t) }
    log(f"overhead pair: untraced ${u.wallS}%.2f s, traced ${t.wallS}%.2f s")
    t.wallS - u.wallS
  }

  /** Kernel inputs: the first docs of a corpus in url order. */
  private def docsOf(b: Batch): Seq[(String, String)] = b.text.toSeq.sortBy(_._1).take(Kernels.Rows)

  private def endToEnd(setupS: Double, ops: Seq[Sample], f1: Double): Metrics = {
    val p50 = Stats.median(ops.map(_.wallS))
    Map(
      "setup_s" -> setupS,
      "op_p50_s" -> p50,
      "items_per_s" -> ops.head.items / p50,
      "cpu_s" -> Stats.median(ops.map(_.cpuS)),
      "pairwise_f1" -> f1,
      "peak_rss_mb" -> Host.peakRssMb
    )
  }

  def runBatch(ctx: Ctx, sessionS: Double): (Metrics, Summary) = {
    val b = new Batch(ctx, Clusters)
    val genS = (0 until setupReps(ctx)).map(_ => ctx.timed(0)(b.generate()).wallS)
    val setupS = sessionS + Stats.median(genS)
    log(f"batch set up: ${b.docs} docs, setup_s=$setupS%.2f")
    val f1s = mutable.ArrayBuffer.empty[Double]
    val ops = window(ctx) { val s = b.op(); f1s += b.check(); log(f"pipeline run ${s.wallS}%.2f s"); s }
    val f1 = b.engineF1(f1s.last)
    val summary: Summary = Seq(
      "docs" -> b.docs,
      "docs_per_s" -> b.docs / Stats.median(ops.map(_.wallS)),
      "op_latency_s" -> Stats.describe(ops.map(_.wallS))
    )
    if (ctx.tracer.isEmpty) (endToEnd(setupS, ops, f1), summary)
    else {
      val kernels = Kernels.measure(Kernels.inputs(ctx.spark, docsOf(b)))
      log("kernels measured")
      val pair = new Chains(ctx, PairNodes, "pair")
      ctx.span("leg.inputs")(pair.generate())
      val overhead = overheadPair(ctx) { val s = pair.op(); pair.check(); s }
      val profile = ProfileLeg.run(ctx, b.corpusDir)
      log("profile leg done")
      val (changed, incSummary) = incLeg(ctx, b)
      (layerMetrics(ctx, kernels, profile, profile.acceptedEdges, changed, overhead, "pipeline.run"), summary ++ incSummary)
    }
  }

  def runChains(ctx: Ctx, sessionS: Double): (Metrics, Summary) = {
    val ch = new Chains(ctx, ChainNodes)
    val genS = (0 until setupReps(ctx)).map(_ => ctx.timed(0)(ch.generate()).wallS)
    val setupS = sessionS + Stats.median(genS)
    log(f"cc_chains set up: ${ch.edges} edges, setup_s=$setupS%.2f")
    val f1s = mutable.ArrayBuffer.empty[Double]
    val ops = window(ctx) { val s = ch.op(); f1s += ch.check(); log(f"connected components ${s.wallS}%.2f s"); s }
    val summary: Summary = Seq(
      "nodes" -> ChainNodes,
      "edges" -> ch.edges,
      "edges_per_s" -> ch.edges / Stats.median(ops.map(_.wallS)),
      "op_latency_s" -> Stats.describe(ops.map(_.wallS))
    )
    if (ctx.tracer.isEmpty) (endToEnd(setupS, ops, Stats.median(f1s.toSeq)), summary)
    else {
      val b = new Batch(ctx, Clusters)
      val pair = new Chains(ctx, PairNodes, "pair")
      ctx.span("leg.inputs") { b.generate(); pair.generate() }
      val overhead = overheadPair(ctx) { val s = pair.op(); pair.check(); s }
      val kernels = Kernels.measure(Kernels.inputs(ctx.spark, docsOf(b)))
      log("kernels measured")
      val profile = ProfileLeg.run(ctx, b.corpusDir)
      log("profile leg done")
      val (changed, incSummary) = incLeg(ctx, b)
      (layerMetrics(ctx, kernels, profile, ch.edges, changed, overhead, "cc.run"), summary ++ incSummary)
    }
  }

  /** The incremental layer: bootstrap a store from the corpus minus a
    * held-out share, then one `linkBatch` and one `removeBatch`, each
    * checked. Returns the rows each changed in the store.
    */
  private def incLeg(ctx: Ctx, corpus: Batch): (Seq[Long], Summary) = ctx.span("leg.inc") {
    val c = new Churn(ctx, corpus, HoldOut, IncDelta)
    c.bootstrap()
    val v0 = c.version
    val l = c.link()
    c.check("link")
    val v1 = c.version
    val r = c.remove()
    c.check("remove")
    val v2 = c.version
    c.engineF1()
    log(f"incremental leg: link ${l.wallS}%.2f s, remove ${r.wallS}%.2f s")
    (Seq(c.changedRows(v0, v1), c.changedRows(v1, v2)), Seq("inc_delta_docs" -> IncDelta, "link_s" -> l.wallS, "remove_s" -> r.wallS))
  }

  /** Per-layer metrics from the traced run's spans and listener. The
    * workload's own timed operations are the spans named `opSpan`.
    */
  def layerMetrics(
      ctx: Ctx,
      kernels: Seq[(String, Double)],
      profile: ProfileLeg.Counts,
      ccEdges: Long,
      changedRows: Seq[Long],
      overheadS: Double,
      opSpan: String
  ): Metrics = {
    val t = ctx.tracer.get
    val recorded = t.spans
    val byId = recorded.map(s => s.id -> s).toMap
    def inPair(s: Span): Boolean =
      s.name == "trace.pair" || s.parent.exists(p => inPair(byId(p)))
    val all = recorded.filterNot(inPair)
    def named(n: String) = all.filter(_.name == n)
    def dur(n: String) = Stats.median(named(n).map(_.durNs / 1e9))
    def jobs(n: String) = Stats.median(named(n).map(s => t.engine(s).jobs.toDouble))
    val m = mutable.LinkedHashMap.empty[String, Double]
    kernels.foreach { case (k, ns) => m(s"kernel.$k.ns_per_row") = ns }

    m("blocking.keys_s") = dur("blocking.keys")
    m("blocking.pairs_s") = dur("blocking.pairs")
    m("blocking.key_rows") = profile.keyRows.toDouble
    m("blocking.candidate_pairs") = profile.candidatePairs.toDouble
    m("blocking.pairs_per_doc") = profile.candidatePairs.toDouble / profile.docs
    m("blocking.max_block_rows") = profile.maxBlockRows.toDouble
    m("scoring.features_s") = dur("scoring.features")
    m("scoring.score_s") = dur("scoring.score")
    m("scoring.threshold_s") = dur("scoring.threshold")
    m("scoring.accepted_edges") = profile.acceptedEdges.toDouble
    m("scoring.accept_ratio") = profile.acceptedEdges.toDouble / profile.candidatePairs

    // CC: the workload's own runs in cc_chains, else the profile leg's
    // run over the accepted edges
    val ccSpans = Some(named("cc.run")).filter(_.nonEmpty).getOrElse(named("cc.shallow"))
    m("cc.run_s") = Stats.median(ccSpans.map(_.durNs / 1e9))
    m("cc.input_edges") = ccEdges.toDouble
    m("cc.jobs") = Stats.median(ccSpans.map(s => t.engine(s).jobs.toDouble))

    // the flagship's own phases: the batch op's pipeline.run spans, else
    // the incremental store's bootstrap (a pipeline run plus the index
    // write, which lands in the sink phase)
    val pipelineSpans = Some(named("pipeline.run")).filter(_.nonEmpty).getOrElse(named("inc.bootstrap"))
    Phases.foreach { case (p, group) =>
      val per = pipelineSpans.map(s => t.engineGroups(s).getOrElse(group, new EngineAgg))
      m(s"pipeline.$p.wall_s") = Stats.median(per.map(_.wallS))
      m(s"pipeline.$p.task_cpu_s") = Stats.median(per.map(_.cpuNs / 1e9))
      m(s"pipeline.$p.jobs") = Stats.median(per.map(_.jobs.toDouble))
    }

    val incOps = named("inc.link") ++ named("inc.remove")
    m("inc.link_s") = dur("inc.link")
    m("inc.remove_s") = dur("inc.remove")
    m("inc.link_jobs") = jobs("inc.link")
    m("inc.remove_jobs") = jobs("inc.remove")
    m("inc.read_mb_per_op") = Stats.median(incOps.map(s => t.engine(s).readBytes / 1e6))
    m("inc.write_mb_per_op") = Stats.median(incOps.map(s => t.engine(s).writeBytes / 1e6))
    m("inc.changed_rows_per_op") = Stats.median(changedRows.map(_.toDouble))
    // the workload's own set-up generations; the legs' inputs nest deeper
    m("synth.gen_s") = Stats.median(named("synth.gen").filter(_.parent.isEmpty).map(_.durNs / 1e9))

    // engine work per operation of each layer
    val layerSpans: Map[String, (Seq[Span], Int)] = Map(
      "blocking" -> (all.filter(_.name.startsWith("blocking.")), 1),
      "scoring" -> (all.filter(_.name.startsWith("scoring.")), 1),
      "cc" -> (ccSpans, ccSpans.size),
      "pipeline" -> (pipelineSpans, pipelineSpans.size),
      "inc" -> (incOps, incOps.size)
    )
    EngineLayers.foreach { l =>
      val (ss, ops) = layerSpans(l)
      val e = ss.map(t.engine).foldLeft(new EngineAgg)(_ add _)
      val n = math.max(ops, 1).toDouble
      val values = Map(
        "stages" -> e.stages / n,
        "tasks" -> e.tasks / n,
        "task_cpu_s" -> e.cpuNs / 1e9 / n,
        "shuffle_write_mb" -> e.shuffleWriteBytes / 1e6 / n
      )
      EngineFields.foreach { case (f, _) => m(s"$l.$f") = values(f) }
    }

    m("trace.overhead_s") = overheadS
    m("trace.coverage") = t.jobCoverage(named(opSpan))
    m.toMap
  }
}
