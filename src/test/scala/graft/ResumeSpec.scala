package graft

import java.nio.file.{Files, Path}
import java.util.Comparator

import graft.io.{ParquetTableIO, TableIO}
import graft.pipeline.LinkagePipeline
import graft.synth.WebCorpus

class ResumeSpec extends SparkSpec {

  private def rmrf(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder()).forEach(f => Files.delete(f))

  private def collectPreds(df: org.apache.spark.sql.DataFrame): Set[(String, String, Long)] =
    df.select("url", "cluster_id", "seq")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet

  test("resume from committed stages reproduces identical output") {
    val base = Files.createTempDirectory("graft-resume").toString
    val cfgHash = TableIO.configHash(Map("threshold" -> "0.70", "strategies" -> "all"))
    val pages = WebCorpus.pages(spark, WebCorpus.Config(numClusters = 60)).toDF.cache()

    val io1 = new ParquetTableIO(base, runId = "run1", configHash = cfgHash)
    val full = collectPreds(LinkagePipeline.runResumable(pages, LinkagePipeline.Config(), io1))

    // simulate a crash after the 'accepted' stage: wipe everything later
    val snapDir = java.nio.file.Paths.get(s"$base/snapshots/$cfgHash")
    Files.list(snapDir).forEach { d =>
      val name = d.getFileName.toString
      if (name.startsWith("cc_iter") || name == "predictions" || name == "clusters") rmrf(d)
    }

    val io2 = new ParquetTableIO(base, runId = "run2", configHash = cfgHash)
    val resumed = collectPreds(LinkagePipeline.runResumable(pages, LinkagePipeline.Config(), io2))
    assert(resumed == full, "resumed run must reproduce the committed run exactly")

    // a manifest for early stages still exists and carries lineage metadata
    val m = io2.manifest("pairs")
    assert(m.isDefined)
    assert(m.get.rowCount > 0)
    assert(m.get.partitionCounts.values.sum == m.get.rowCount)
    assert(m.get.inputStages == List("keys"))

    // in-flight observed metrics (A2 progress counters) landed in the
    // manifests of the run that COMPUTED the stages (run1); they match the
    // committed row counts and the accepted stage carries score stats
    val keysM = io1.manifest("keys").get
    assert(keysM.metrics.get("blocked_key_rows").contains(keysM.rowCount.toDouble), keysM.metrics)
    assert(keysM.metrics.getOrElse("pages_with_keys_approx", 0.0) > 0.0, keysM.metrics)
    val pairsM = io1.manifest("pairs").get
    assert(pairsM.metrics.get("candidate_pairs").contains(pairsM.rowCount.toDouble), pairsM.metrics)
    val accM = io1.manifest("accepted").get
    assert(accM.metrics.get("accepted_edges").contains(accM.rowCount.toDouble), accM.metrics)
    assert(accM.metrics.getOrElse("accepted_score_min", -1.0) >= 0.70, accM.metrics)
    rmrf(java.nio.file.Paths.get(base))
  }

  test("crash BETWEEN CC iterations resumes from the last committed iteration") {
    val base = Files.createTempDirectory("graft-resume-midcc").toString
    val cfgHash = TableIO.configHash(Map("threshold" -> "0.70", "strategies" -> "all"))
    // chain-heavy corpus so CC needs several iterations (mid-kill is real)
    val pages = WebCorpus.pages(spark, WebCorpus.Config(numClusters = 60)).toDF.cache()

    val io1 = new ParquetTableIO(base, runId = "run1", configHash = cfgHash)
    val full = collectPreds(LinkagePipeline.runResumable(pages, LinkagePipeline.Config(), io1))

    // simulate an executor/driver loss mid-CC: keep cc_iter_0..1, wipe
    // every later iteration and the tail stages
    val snapDir = java.nio.file.Paths.get(s"$base/snapshots/$cfgHash")
    val committedIters = Files
      .list(snapDir)
      .map[String](_.getFileName.toString)
      .filter(_.startsWith("cc_iter_"))
      .toArray
      .map(_.toString)
      .map(_.stripPrefix("cc_iter_").toInt)
      .sorted
    assert(committedIters.length >= 3, s"need >=3 CC iterations for a mid-kill, got $committedIters")
    Files.list(snapDir).forEach { d =>
      val name = d.getFileName.toString
      val laterIter = name.startsWith("cc_iter_") && name.stripPrefix("cc_iter_").toInt >= 2
      if (laterIter || name == "predictions" || name == "clusters") rmrf(d)
    }

    val io2 = new ParquetTableIO(base, runId = "run2", configHash = cfgHash)
    val resumed = collectPreds(LinkagePipeline.runResumable(pages, LinkagePipeline.Config(), io2))
    assert(resumed == full, "mid-CC resume must reproduce the uninterrupted run exactly")
    // the resumed run started from cc_iter_1 without rewriting it or
    // cc_iter_0, and committed only the later iterations
    Seq("cc_iter_0", "cc_iter_1").foreach { st =>
      assert(io2.manifest(st).map(_.runId).contains("run1"), s"$st was rewritten on resume")
    }
    val laterIters = Files
      .list(snapDir)
      .map[String](_.getFileName.toString)
      .filter(_.startsWith("cc_iter_"))
      .toArray
      .map(_.toString)
      .filter(_.stripPrefix("cc_iter_").toInt >= 2)
    assert(laterIters.nonEmpty, "the resumed run committed no CC iteration")
    laterIters.foreach(st => assert(io2.manifest(st).map(_.runId).contains("run2"), st))
    assert(io2.manifest("cc_iter_2").get.inputStages == List("cc_iter_1"))
    rmrf(java.nio.file.Paths.get(base))
  }

  test("W7 composition: claim -> crash -> markRunningFailed -> reclaim -> resume, identical predictions") {
    // the reference's whole restart rule in ONE scenario
    // (app/services/task_queue.py:37: on startup mark running jobs failed,
    // then claim the oldest queued job; only committed work survives):
    // a worker claims the linkage job, commits through 'accepted', dies;
    // the restart sweep fails the running row; the job is requeued,
    // reclaimed and the resumed run reproduces the uninterrupted output
    // from the committed stages without recomputing them.
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions._
    import graft.operators.JobQueue

    val base = Files.createTempDirectory("graft-restart").toString
    val cfgHash = TableIO.configHash(Map("threshold" -> "0.70", "strategies" -> "all", "job" -> "link-1"))
    val pages = WebCorpus.pages(spark, WebCorpus.Config(numClusters = 60)).toDF.cache()

    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "job_id string, status string, created_at bigint, started_at bigint, finished_at bigint, error string"
    )
    def row(id: String, st: String, at: Long) = Row(id, st, at, null, null, null)
    val jobs0 = spark.createDataFrame(Seq(row("link-1", "queued", 10L), row("other-2", "queued", 20L)).asJava, schema)

    // worker 1 claims the oldest queued job
    val claimed1 = JobQueue.claimNext(jobs0, lit(100L)).cache()
    val link1 = claimed1.where(col("job_id") === "link-1").head()
    assert(link1.getAs[String]("status") == "running" && link1.getAs[Long]("started_at") == 100L)

    // worker 1 runs the claimed job and commits through 'accepted', then
    // dies (simulated: full run to learn the expected output, then wipe
    // every post-accepted stage — the crash boundary)
    val io1 = new ParquetTableIO(base, runId = "worker1", configHash = cfgHash)
    val full = collectPreds(LinkagePipeline.runResumable(pages, LinkagePipeline.Config(), io1))
    val snapDir = java.nio.file.Paths.get(s"$base/snapshots/$cfgHash")
    Files.list(snapDir).forEach { d =>
      val name = d.getFileName.toString
      if (name.startsWith("cc_iter") || name == "predictions" || name == "clusters") rmrf(d)
    }

    // restart: the crash-recovery sweep fails every running job
    val swept = JobQueue.markRunningFailed(claimed1, "worker lost", lit(200L)).cache()
    val failed = swept.where(col("job_id") === "link-1").head()
    assert(failed.getAs[String]("status") == "failed")
    assert(failed.getAs[String]("error") == "worker lost")
    assert(failed.getAs[Long]("finished_at") == 200L)
    assert(swept.where(col("job_id") === "other-2").head().getAs[String]("status") == "queued")

    // the failed job is resubmitted (same created_at — still the oldest)
    // and worker 2 claims it ahead of other-2
    val requeued = swept.withColumn(
      "status",
      when(col("job_id") === "link-1", lit("queued")).otherwise(col("status"))
    )
    val claimed2 = JobQueue.claimNext(requeued, lit(300L)).cache()
    val reclaimed = claimed2.where(col("status") === "running").head()
    assert(reclaimed.getAs[String]("job_id") == "link-1" && reclaimed.getAs[Long]("started_at") == 300L)

    // worker 2 resumes the SAME job config: identical predictions, and the
    // pre-crash stages were REUSED (their manifests still carry worker1),
    // only the post-crash stages were recomputed by worker2
    val io2 = new ParquetTableIO(base, runId = "worker2", configHash = cfgHash)
    val resumed = collectPreds(LinkagePipeline.runResumable(pages, LinkagePipeline.Config(), io2))
    assert(resumed == full, "reclaimed run must reproduce the uninterrupted output exactly")
    assert(io2.manifest("accepted").get.runId == "worker1", "committed stage recomputed instead of reused")
    assert(io2.manifest("predictions").get.runId == "worker2")
    claimed1.unpersist(); swept.unpersist(); claimed2.unpersist()
    rmrf(java.nio.file.Paths.get(base))
  }

  test("config-hash change invalidates all committed stages") {
    val base = Files.createTempDirectory("graft-resume2").toString
    val pages = WebCorpus.pages(spark, WebCorpus.Config(numClusters = 30)).toDF.cache()

    val ioA = new ParquetTableIO(base, "runA", TableIO.configHash(Map("t" -> "0.70")))
    LinkagePipeline.runResumable(pages, LinkagePipeline.Config(), ioA)

    val hashB = TableIO.configHash(Map("t" -> "0.90"))
    val ioB = new ParquetTableIO(base, "runB", hashB)
    assert(ioB.manifest("keys").isEmpty, "stages committed under another config must not be visible")
    val cfgB = LinkagePipeline.Config(weights = graft.operators.PairScorer.Weights(threshold = 0.90))
    val out = LinkagePipeline.runResumable(pages, cfgB, ioB)
    assert(out.count() == pages.count())
    assert(ioB.manifest("predictions").isDefined)
    rmrf(java.nio.file.Paths.get(base))
  }

  test("runResumable reproduces run") {
    import org.apache.spark.sql.functions._
    val base = Files.createTempDirectory("graft-resume-eq").toString
    WebCorpus.pages(spark, WebCorpus.Config(numClusters = 40, seed = 3L)).toDF
      .write.mode("overwrite").parquet(s"$base/input")
    val scan = spark.read.parquet(s"$base/input")
    // a join upstream: the pipeline persists this input instead of re-scanning it
    val derived = scan.join(scan.select(col("url"), length(col("text")).as("n")), "url")
    val cases = Seq(
      ("plain scan", scan, LinkagePipeline.Config()),
      ("derived input", derived, LinkagePipeline.Config()),
      ("window passes", scan, LinkagePipeline.Config(windowPasses = Seq(("url", 3))))
    )
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("url", "cluster_id", "score", "status", "text", "seq").collect().toSet
    cases.foreach { case (name, pages, cfg) =>
      val hash = TableIO.configHash(Map("case" -> name))
      val io = new ParquetTableIO(base, runId = "run1", configHash = hash)
      val expected = rows(LinkagePipeline.run(pages, cfg))
      assert(rows(LinkagePipeline.runResumable(pages, cfg, io)) == expected, name)

      // the committed stages and their lineage: keys -> pairs -> accepted,
      // cc_iter_0..k chained, predictions from accepted
      val stages = Files
        .list(java.nio.file.Paths.get(s"$base/snapshots/$hash"))
        .map[String](_.getFileName.toString)
        .toArray
        .map(_.toString)
        .toSet
      val iters = stages.filter(_.startsWith("cc_iter_")).map(_.stripPrefix("cc_iter_").toInt).toSeq.sorted
      assert(iters.nonEmpty && iters == iters.indices, s"$name: $stages")
      assert(stages == Set("keys", "pairs", "accepted", "predictions") ++ iters.map(i => s"cc_iter_$i"), name)
      val lineage = Map(
        "keys" -> Nil,
        "pairs" -> List("keys"),
        "accepted" -> List("pairs"),
        "predictions" -> List("accepted")
      ) ++ iters.map(i => s"cc_iter_$i" -> (if (i == 0) Nil else List(s"cc_iter_${i - 1}")))
      lineage.foreach { case (st, inputs) =>
        assert(io.manifest(st).map(_.inputStages).contains(inputs), s"$name: $st")
      }
    }
    rmrf(java.nio.file.Paths.get(base))
  }

  test("configHash is canonical (order-insensitive, value-sensitive)") {
    assert(
      TableIO.configHash(Map("a" -> "1", "b" -> "2")) == TableIO.configHash(Map("b" -> "2", "a" -> "1"))
    )
    assert(TableIO.configHash(Map("a" -> "1")) != TableIO.configHash(Map("a" -> "2")))
  }
}
