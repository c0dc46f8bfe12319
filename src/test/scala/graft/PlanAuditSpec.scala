package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Plan audits: the properties every 100 TB plan must keep — filters and
  * projections reaching the parquet scan, broadcast of bounded sides, no
  * exchange for row-local derivations. Asserted on the executed plan text
  * so a regression (a lost pushdown, an accidental shuffle) fails CI, not a
  * cluster bill.
  */
class PlanAuditSpec extends SparkSpec {

  private lazy val dir = {
    import spark.implicits._
    val d = Files.createTempDirectory("graft-audit").toString + "/t"
    (0 until 1000)
      .map(i => (i.toLong, s"text-$i", s"lang${i % 3}", i % 100))
      .toDF("id", "text", "lang", "score")
      .write.parquet(d)
    d
  }

  test("filter and projection push down to the parquet scan") {
    val q = spark.read
      .parquet(dir)
      .where(col("score") > 50 && col("lang") === "lang1")
      .select("id", "lang")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters:") && plan.contains("GreaterThan(score,50)"), plan)
    // pruned read schema: text column must NOT be scanned
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("text"), readSchema)
  }

  test("pair scoring joins stay inside whole-stage codegen") {
    import spark.implicits._
    val pages = (0 until 200)
      .map(i => (s"https://d$i.org/p", s"tok$i words common here for scoring"))
      .toDF("url", "text")
    val feats = graft.operators.PairScorer.features(pages)
    val pairs = Seq(("https://d1.org/p", "https://d2.org/p", "k"))
      .toDF("urlA", "urlB", "key")
    val scored = graft.operators.PairScorer.score(pairs, feats)
    scored.collect() // finalize the adaptive plan: codegen spans appear post-execution
    val plan = scored.queryExecution.executedPlan.toString
    // "*(n)" node prefixes mark whole-stage-codegen spans; the kernel
    // projection and both feature joins must carry one
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("jaro_winkler")), plan)
    // the bit-parallel Levenshtein kernel sits in a codegen span, and the
    // built-in O(m*n) levenshtein is gone from the scoring projection
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("lev_distance(")), plan)
    assert(!plan.linesIterator.exists(l => l.contains("jaro_winkler") && l.contains("levenshtein(")), plan)
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("BroadcastHashJoin")), plan)
    // the similarity kernels are codegen'd expressions, not udfs
    assert(!plan.toLowerCase.contains("batchevalpython") && !plan.contains("ScalaUDF"), plan)
  }

  test("battery near-dup and pairwise-eval plans are keyed, never cartesian") {
    // the round-2 verdict's scale-killer findings: these two battery queries
    // used all-pairs joins; they must stay on bucketed/keyed plans
    val sf = "/root/testdata/sf0.001"
    for (
      name <- Seq(
        "q_dd_embedding_neardup",
        "q_a7_pairwise_eval",
        "q_er_pipeline_sym",
        "q_dd_line_dedup",
        "q_inc_link",
        "q_er_sorted_neighborhood",
        "q_cur_decontaminate",
        "q_cur_quota_sample",
        "q_dd_span_dedup",
        "q_dd_resolve",
        "q_corpus_build",
        "q_er_ccpivot",
        "q_er_pr_curve",
        "q_er_active",
        "q_er_survivorship",
        "q_er_fs_levels",
        "q_er_dl_score",
        // session-2 additions: the decremental theorem row, the matching
        // round, cross-table link_only, the skew census and diagnostics
        "q_inc_unlink",
        "q_er_mutual_best",
        "q_er_link_tables",
        "q_er_skew_census",
        "q_er_cluster_diag",
        "q_rc_latest"
      )
    ) {
      val q = graft.SparkEntry.queries(name)(spark, sf)
      q.collect() // finalize AQE before reading the executed plan
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$name:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$name:\n$plan")
    }
  }

  test("meta-blocking / Fellegi-Sunter plans: keyed joins, nested-loop only for 1-row scalar frames") {
    // these queries deliberately crossJoin(broadcast(<1-row aggregate>))
    // (WEP mean, |B| total, FS u-probability constants, ClusterEval
    // entropy scalars), which plans as BroadcastNestedLoopJoin. That is
    // fine at any scale. What must NEVER appear: a CartesianProduct, or a
    // nested-loop join with a CONDITION (the theta-join shape a broken
    // equi-join degrades to — that one is quadratic).
    val sf = "/root/testdata/sf0.001"
    for (
      name <- Seq(
        "q_er_metablock_wep",
        "q_er_metablock_cnp",
        "q_er_fs_score",
        "q_er_fs_pipeline",
        "q_er_cluster_eval",
        "q_er_cluster_ari",
        "q_cur_dsir_sample",
        "q_cur_kl_drift"
      )
    ) {
      val q = graft.SparkEntry.queries(name)(spark, sf)
      q.collect() // finalize AQE before reading the executed plan
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$name:\n$plan")
      plan.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).foreach { l =>
        assert(
          l.contains("Cross") && !l.contains("condition"),
          s"$name has a conditioned nested-loop join (quadratic):\n$l"
        )
      }
    }
  }

  test("row-local operators execute with ZERO exchanges") {
    // these must all run inside the scan projection — one Exchange node in
    // any of them is a 100 TB shuffle bill for row-local work
    val base = spark.read.parquet(dir)
    val cases: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
      "htmlText" -> base.select(
        col("id"),
        graft.operators.TextAnalysis.htmlText(encode(col("text"), "UTF-8")).as("t")
      ),
      "redactPii" -> graft.operators.Curation.redactPii(base.select(col("id"), col("text"))),
      "hashSplit" -> graft.operators.Curation
        .hashSplit(base.select(col("id")), Seq("train" -> 0.9, "test" -> 0.1), keyCol = "id"),
      "qualityGate" -> graft.operators.Curation
        .qualityGate(base.select(col("id"), split(col("text"), " ").as("toks")), idCol = "id"),
      "annotate" -> graft.operators.TextAnalysis.annotate(base.select(col("id"), col("text")))
    )
    for ((name, q) <- cases) {
      q.collect()
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"$name shuffles row-local work:\n$plan")
    }
  }

  test("per-key threshold table joins as a broadcast") {
    import spark.implicits._
    val scored = (0 until 500)
      .map(i => (s"a$i", s"b$i", s"u:k${i % 7}", i / 500.0))
      .toDF("urlA", "urlB", "key", "score")
    val perKey = Seq(("u:k1", 0.2)).toDF("key", "threshold")
    val out = graft.operators.PairScorer.threshold(scored, perKey = Some(perKey))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("a CC star round executes as three hash exchanges with no join or sort-aggregate") {
    import spark.implicits._
    import graft.operators.ConnectedComponents
    val ck = graft.util.Checkpoints.serializedLocal((0 until 2000).map(i => (s"v$i", s"v${i + 1}")).toDF("src", "dst"))
    val round = ConnectedComponents.smallStar(ConnectedComponents.largeStar(ck))
    round.collect() // finalize the adaptive plan
    val plan = round.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan.toString
      case p => p.toString
    }
    // one window per star plus the round's distinct
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 3, plan)
    assert(!plan.contains("Join") && !plan.contains("SortAggregate"), plan)
  }

  /** A seeded 2k-node graph: 250 paths of 8 nodes each; the shuffled
    * labels decide every star's min and every pivot rank.
    */
  private def labelPermutedPaths = {
    import spark.implicits._
    val rng = new scala.util.Random(53)
    val labels = rng.shuffle((0 until 2000).map(i => f"n$i%04d")).toVector
    labels.grouped(8).flatMap(_.sliding(2).map(p => (p(0), p(1)))).toSeq.toDF("src", "dst")
  }

  /** Every Spark job `body` runs. */
  private def jobsOf(body: => Unit): Seq[graft.util.JobLedger.Job] = {
    val ledger = graft.util.JobLedger.install(spark.sparkContext)
    try { body; ledger.snapshot().jobs }
    finally ledger.remove()
  }

  test("CC job budget: a seeded 2k-node graph of label-permuted paths runs in at most 20 Spark jobs") {
    val jobs = jobsOf {
      val out = graft.operators.ConnectedComponents.run(labelPermutedPaths).collect()
      assert(out.length == 2000 && out.map(_.getString(0)).distinct.length == 2000)
    }
    assert(jobs.size <= 20, jobs.map(j => s"${j.id} ${j.site}").mkString("\n"))
  }

  test("pivot job budget: the same 2k-node graph clusters in at most 46 Spark jobs") {
    // no slack: 46 is the measured count, so a job the round driver
    // adds per call or per round fails here
    val jobs = jobsOf {
      val out = graft.operators.CorrelationClustering.pivot(labelPermutedPaths).collect()
      assert(out.length == 2000 && out.map(_.getString(0)).distinct.length == 2000)
    }
    assert(jobs.size <= 46, jobs.map(j => s"${j.id} ${j.site}").mkString("\n"))
  }

  test("a seq pass runs its running sum without a hash exchange on _pid") {
    import spark.implicits._
    val df = (0 until 3000).map(i => (f"u${(i * 7919) % 3000}%05d", s"text $i")).toDF("url", "text").repartition(5)
    val out = graft.util.DeterministicSeq.assign(df, "url")
    assert(out.select("seq").as[Long].collect().sorted.toSeq == (1L to 3000L))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning(_pid"), plan)
    // below the range checkpoint: a local sort and one partition pass
    val lineage = out.queryExecution.toRdd.toDebugString
    assert(!lineage.contains("ShuffledRowRDD"), lineage)
  }

  test("block+score job budget: a Parquet corpus blocks and scores in at most 11 Spark jobs") {
    // Parquet, as the CLI and the benchmark read it: over a scan, the
    // salting and self-join branches of Blocker.pairs infer different
    // isnotnull filters unless allKeys filters nulls itself, and the key
    // stage then runs twice (12 jobs)
    val src = Files.createTempDirectory("graft-audit-corpus").toString + "/p"
    graft.synth.WebCorpus.pages(spark, graft.synth.WebCorpus.Config(numClusters = 60, seed = 3L)).toDF()
      .write.parquet(src)
    val pages = spark.read.parquet(src)
    val jobs = jobsOf(graft.pipeline.LinkagePipeline.run(pages).collect()).filter(_.phase == "block+score")
    assert(jobs.size <= 11, jobs.map(j => s"${j.id} ${j.site}").mkString("\n"))
  }
}
