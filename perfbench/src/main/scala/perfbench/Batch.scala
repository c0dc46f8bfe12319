package perfbench

import graft.pipeline.LinkagePipeline
import graft.synth.WebCorpus

/** The flagship path: `LinkagePipeline.run` with the default config over a
  * seeded WebCorpus read from Parquet, with the CLI's Parquet write of the
  * predictions as the terminal action.
  */
final class Batch(ctx: Ctx, clusters: Int, name: String = "batch") {
  import ctx.spark

  val corpusDir = s"${ctx.work}/$name/corpus"
  private val goldDir = s"${ctx.work}/$name/gold"
  private val outDir = s"${ctx.work}/$name/predictions"
  var docs = 0L
  var text = Map.empty[String, String]
  var gold = Seq.empty[(String, String)]

  /** Generate the corpus and its gold pairs and write both to Parquet. */
  def generate(): Unit = ctx.span("synth.gen") {
    val cfg = WebCorpus.Config(numClusters = clusters, seed = ctx.seed)
    WebCorpus.pages(spark, cfg).select("url", "text").write.mode("overwrite").parquet(corpusDir)
    WebCorpus.goldPairs(spark, cfg).select("url_a", "url_b").write.mode("overwrite").parquet(goldDir)
    text = spark.read.parquet(corpusDir).collect().map(r => r.getString(0) -> r.getString(1)).toMap
    gold = spark.read.parquet(goldDir).collect().map(r => (r.getString(0), r.getString(1))).toSeq
    docs = text.size.toLong
  }

  def op(): Sample = {
    val s = ctx.timed(docs) {
      ctx.span("pipeline.run") {
        LinkagePipeline.run(spark.read.parquet(corpusDir)).write.mode("overwrite").parquet(outDir)
      }
    }
    spark.sparkContext.clearJobGroup()
    s
  }

  /** Check the last op's predictions; returns its pairwise F1. */
  def check(): Double = {
    val rows = Checks.collect(spark.read.parquet(outDir))
    val f1 = Checks.f1(rows, gold)
    ctx.record(name, Checks.assignment(rows, text) ++ Checks.f1Problem(f1))
    f1
  }

  /** The engine's evaluator on the last op's predictions, which must agree
    * with the driver-side F1 of `check`.
    */
  def engineF1(driverF1: Double): Double = {
    val f1 = Checks.f1Engine(spark.read.parquet(outDir), spark.read.parquet(goldDir))
    ctx.record(s"$name evaluator", Checks.evaluatorProblem(f1, driverF1))
    f1
  }
}
