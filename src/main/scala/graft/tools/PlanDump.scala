package graft.tools

import graft.SparkEntry
import graft.pipeline.LinkagePipeline

/** Dump `.explain("formatted")` for a list of battery queries to files —
  * the optimization-round evidence artifacts (plans/r06/<query>_{before,
  * after}.txt). Usage:
  *   sbt 'runMain graft.tools.PlanDump <outDir> <sfDir> <suffix> q_a,q_b'
  * writes <outDir>/<query>_<suffix>.txt per query. Queries with eager
  * internal materializations execute those while building the frame; the
  * dumped plan is the returned frame's (checkpoint boundaries appear as
  * LogicalRDD scans — that IS the plan shape being claimed).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(outDir, sfDir, suffix, namesCsv) = args
    val spark = LinkagePipeline.session(LinkagePipeline.defaultMaster, "plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    namesCsv.split(",").map(_.trim).filter(_.nonEmpty).foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      val txt = df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/${n}_$suffix.txt"), txt)
      System.err.println(s"[plan] wrote $outDir/${n}_$suffix.txt")
    }
    spark.stop()
  }
}
