package graft

import org.apache.spark.sql.SparkSession

/** Golden-fixture generator for the custom-kernel queries that have no
  * ANSI-SQL oracle (MinHash/SimHash signatures, sign-LSH buckets, the full
  * linkage pipeline). Run ONCE against the correctness scale factor:
  *
  *   sbt 'runMain graft.GoldenGen /root/testdata/sf0.01 golden'
  *
  * and commit the output. The kernels themselves are exactness-tested in
  * ScalaTest (SimilaritySpec/OperatorsSpec/PipelineSpec); the fixture oracle
  * then pins cross-run, cross-parallelism, cross-session determinism —
  * any kernel or plan change that silently alters results turns the
  * CORRECTNESS row red.
  */
object GoldenGen {

  // Every kernel query graduated to a fully symbolic DuckDB oracle
  // (FNV-1a / shingle-fold / family-mix / splitmix64 / xxhash64 wrap
  // arithmetic, ordered-float dot products, and a recursive-CTE textbook
  // Jaro-Winkler, all recomputed in SQL) — no kernel fixtures needed since
  // round 3. The ONLY fixture-pinned query is the full linkage pipeline,
  // which is inherently engine-defined (blocking-strategy composition +
  // iterative CC); its correctness authority is PipelineSpec/GoldEvalSpec
  // and the fixture pins cross-run determinism.
  val fixtureQueries: Seq[String] = Seq(
    "q_er_pipeline"
  )

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = SparkSession
      .builder()
      .master(graft.pipeline.LinkagePipeline.defaultMaster)
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    fixtureQueries.foreach { name =>
      SparkEntry
        .queries(name)(spark, sfDir)
        .coalesce(1)
        .write
        .mode("overwrite")
        .parquet(s"$outDir/$name")
      System.err.println(s"[golden] wrote $outDir/$name")
    }
    spark.stop()
  }
}
