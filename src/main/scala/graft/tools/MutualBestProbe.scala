package graft.tools

import org.apache.spark.sql.functions._

import graft.functions.Normalize
import graft.pipeline.LinkagePipeline

/** Dev-only decomposition probe for q_er_mutual_best: times the pair
  * generation alone vs the full matchRound to localize the wall.
  */
object MutualBestProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = LinkagePipeline.session(LinkagePipeline.defaultMaster, "mutual-best-probe")
    spark.sparkContext.setLogLevel("ERROR")
    def timed(tag: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"[mb] $tag ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    val d = spark.read
      .parquet(s"$dir/documents.parquet")
      .select(
        col("doc_id"),
        substring(col("text"), 1, 40).as("frag"),
        concat_ws("|", col("lang"), floor(col("n_chars") / 50).cast("long")).as("key")
      )
    def pr = d
      .select(col("doc_id").as("u"), col("key"), col("frag").as("fa"))
      .join(d.select(col("doc_id").as("v"), col("key"), col("frag").as("fb")), Seq("key"))
      .where(col("u") < col("v"))
      .select(col("u"), col("v"), Normalize.levRatio(col("fa"), col("fb")).as("score"))
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    timed("pairs-warmup")(noop(pr))
    timed("pairs")(noop(pr))
    timed("pairs-agg-only") {
      noop(
        pr.select(explode(array(
            struct(col("u").as("a"), col("v").as("b")),
            struct(col("v").as("a"), col("u").as("b"))
          )).as("p"), col("score"))
          .select(col("p.a").as("u"), col("p.b").as("v"), col("score"))
          .groupBy("u")
          .agg(min(struct((-col("score")).as("ns"), col("v").as("bp"))).as("b"))
      )
    }
    timed("matchRound")(noop(graft.operators.Assignment.matchRound(pr)))
    timed("matchRound2")(noop(graft.operators.Assignment.matchRound(pr)))
    timed("full-query") {
      graft.SparkEntry.queries("q_er_mutual_best")(spark, dir).foreach(_ => ())
    }
    spark.stop()
  }
}
