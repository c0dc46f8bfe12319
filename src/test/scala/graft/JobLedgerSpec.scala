package graft

import org.apache.spark.ListenerBusProbe

import graft.cli.Main
import graft.pipeline.LinkagePipeline
import graft.synth.WebCorpus
import graft.util.JobLedger

/** Phase and job attribution: the `graft:<phase>` job-group contract that
  * `cli.Main --monitor true` and the benchmark's pipeline.* metrics read,
  * and the --monitor report itself (fields, phase table, timed region, no
  * leaked listener).
  */
class JobLedgerSpec extends SparkSpec {

  private lazy val tmp = java.nio.file.Files.createTempDirectory("graft-ledger").toString
  private val flagship = Set("ingest", "block+score", "cc", "assemble", "sink")

  /** stdout of one CLI run on the suite session. */
  private def runCli(opts: (String, String)*): Seq[String] = {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(buf)(Main.run(spark, opts.toMap))
    buf.toString("UTF-8").linesIterator.toSeq
  }

  private def jsonField(json: String, key: String): Double = {
    val m = ("\"" + java.util.regex.Pattern.quote(key) + "\":([0-9.]+)").r.findFirstMatchIn(json)
    assert(m.isDefined, s"$key missing from $json")
    m.get.group(1).toDouble
  }

  /** `[phase] <task s> s  <phase> jobs=<n> ...` -> phase -> (task s, jobs). */
  private def phaseTable(lines: Seq[String]): Map[String, (Double, Int)] = {
    val row = """\[phase\]\s+([0-9.]+) s\s+(\S+)\s+jobs=(\d+).*""".r
    lines.collect { case row(sec, phase, jobs) => phase -> (sec.toDouble, jobs.toInt) }.toMap
  }

  test("pipeline jobs carry graft:<phase> groups; the caller's write is sink, ungrouped work is other") {
    val pages = WebCorpus.pages(spark, WebCorpus.Config(numClusters = 40, seed = 5L)).toDF()
    val ledger = JobLedger.install(spark.sparkContext)
    val snap =
      try {
        LinkagePipeline.run(pages).write.mode("overwrite").parquet(s"$tmp/contract")
        spark.sparkContext.clearJobGroup()
        spark.range(10).count()
        ledger.snapshot()
      } finally ledger.remove()
    val (ungrouped, pipeline) = snap.jobs.partition(_.phase == "other")
    assert(pipeline.nonEmpty)
    assert(pipeline.map(_.phase).toSet.subsetOf(flagship), pipeline.map(_.phase).distinct)
    // derived input: ingest persists the corpus; blocking, CC and the
    // predictions tail each run at least one job
    assert(Set("ingest", "block+score", "cc", "assemble").subsetOf(pipeline.map(_.phase).toSet))
    val writes = pipeline.filter(_.site.startsWith("graft.JobLedgerSpec"))
    assert(writes.nonEmpty && writes.forall(_.phase == "sink"), writes)
    assert(ungrouped.nonEmpty && ungrouped.forall(_.site.startsWith("graft.JobLedgerSpec")), ungrouped)
    assert(snap.total.jobs == snap.jobs.size)
    // AQE's off-thread shuffle jobs take their SQL execution's call site
    assert(snap.jobs.forall(_.site != "?"), snap.jobs.filter(_.site == "?"))
    // and their stages' task time goes to that site, not to the JDK frame
    // (CompletableFuture.java) of the thread that submitted them
    assert(snap.stageRunMs.nonEmpty && snap.stageRunMs.keys.forall(!_.contains(".java:")), snap.stageLines)
  }

  test("--monitor true reports task counters, the phase table, and leaks no listener") {
    val opts = Seq("input" -> "synth:400", "output" -> s"$tmp/monitor", "monitor" -> "true")
    val out = runCli(opts: _*)

    val json = out.find(_.startsWith("{")).getOrElse(fail(s"no JSON line in:\n${out.mkString("\n")}"))
    Seq("task_sec", "gc_sec", "ser_sec", "cpu_sec", "fetch_wait_sec", "shuf_write_sec", "utilization")
      .foreach(jsonField(json, _))
    val phases = phaseTable(out)
    assert(Set("block+score", "cc", "assemble", "sink").subsetOf(phases.keySet), out.mkString("\n"))
    // each row and the total print to 0.1 s
    val phaseSum = phases.values.map(_._1).sum
    assert(math.abs(phaseSum - jsonField(json, "task_sec")) <= 0.05 * (phases.size + 1), out.mkString("\n"))
    assert(phases.values.map(_._2).sum == jsonField(json, "jobs").toInt)

    // Spark registers some of its own listeners lazily, so the leak check
    // counts ledgers rather than comparing bus sizes
    def ledgers = ListenerBusProbe.classNames(spark.sparkContext).count(_ == classOf[JobLedger].getName)
    assert(ledgers == 0)
    // a run that fails after the ledger is attached still detaches it
    intercept[IllegalArgumentException](runCli(opts :+ ("remove" -> "true"): _*))
    assert(ledgers == 0)
  }

  test("--monitor counts only the timed region, not the reporting and --golden jobs after it") {
    WebCorpus.pages(spark, WebCorpus.Config(numClusters = 60, seed = 9L)).toDF()
      .write.mode("overwrite").parquet(s"$tmp/golden-in")
    val sc = spark.sparkContext
    // a stale group from earlier work on this thread must not tag the run
    sc.clearJobGroup()
    val all = JobLedger.install(sc)
    val (out, snap) =
      try {
        val out = runCli(
          "input" -> s"$tmp/golden-in",
          "output" -> s"$tmp/golden-out",
          "golden" -> s"$tmp/golden-rec",
          "monitor" -> "true"
        )
        (out, all.snapshot())
      } finally all.remove()
    val json = out.find(_.startsWith("{")).get
    // every timed job runs under a pipeline phase; everything Main submits
    // after the timed region (golden write, counts) is ungrouped
    val timed = snap.jobs.filterNot(_.phase == "other")
    assert(snap.jobs.exists(_.phase == "other"), "the reporting jobs ran outside the timed region")
    assert(jsonField(json, "jobs").toInt == timed.size, out.mkString("\n"))
    val reported = phaseTable(out).map { case (p, (_, jobs)) => p -> jobs }
    assert(reported == timed.groupBy(_.phase).map { case (p, js) => p -> js.size }, out.mkString("\n"))
  }
}
