package graft.tools

import graft.SparkEntry
import graft.pipeline.LinkagePipeline

/** Dev loop: run ONE battery query, print cold + warm wall seconds, every
  * Spark job of the last warm rep with its call site (graft.util.JobLedger:
  * per job, then job wall per call site), and the post-execution formatted
  * plan (AQE-final). Usage:
  *   sbt 'runMain graft.tools.QueryProbe q_dd_embedding_neardup /root/testdata/sf0.1'
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = LinkagePipeline.session(LinkagePipeline.defaultMaster, s"probe-$name")
    spark.sparkContext.setLogLevel("ERROR")
    val fn = SparkEntry.queries(name)
    def once(tag: String): Unit = {
      val t0 = System.nanoTime()
      fn(spark, dir).foreach(_ => ())
      println(f"[probe] $name $tag: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    once("cold")
    // min over warm reps: the host's co-tenant noise is +/-25% run-to-run,
    // so single warm numbers cannot resolve a 15% plan win; best-of-N is
    // the same capability estimator the bench's scaling part uses
    val reps = sys.env.getOrElse("GRAFT_PROBE_REPS", "2").toInt
    var best = Double.MaxValue
    var ledger = Option.empty[graft.util.JobLedger]
    (1 to reps).foreach { i =>
      if (i == reps) ledger = Some(graft.util.JobLedger.install(spark.sparkContext))
      val t0 = System.nanoTime()
      fn(spark, dir).foreach(_ => ())
      val secs = (System.nanoTime() - t0) / 1e9
      best = math.min(best, secs)
      println(f"[probe] $name warm$i: $secs%.2f s")
    }
    println(f"[probe] $name best-warm: $best%.2f s")
    ledger.foreach { l =>
      val snap = l.snapshot()
      l.remove()
      println(
        f"[probe] $name warm$reps: ${snap.jobs.size} jobs, job-sum ${snap.jobs.map(_.wallS).sum}%.2f s, " +
          f"task cpu ${snap.total.cpuNs / 1e9}%.2f s"
      )
      (snap.jobLines ++ snap.siteLines).foreach(println)
    }
    if (!sys.env.contains("GRAFT_PROBE_NO_PLAN")) {
      val df = fn(spark, dir)
      df.collect()
      println(df.queryExecution.executedPlan.toString)
    }
    spark.stop()
  }
}
