package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.IncrementalLinkage
import graft.pipeline.LinkagePipeline
import graft.synth.WebCorpus

/** Measures the decremental-linkage cost claim: remove() is
  * O(removed + affected clusters), NOT O(corpus). Two sweeps on the same
  * methodology as the incremental probe (BENCH.md R4.0d):
  *
  *   1. removal-fraction sweep at one base size — wall should track the
  *      removed share, not sit at the full-rerun cost;
  *   2. base-size sweep at one ABSOLUTE removal size — wall should stay
  *      flat as the base grows 10x (the rerun cost grows with the base).
  *
  * Writes nothing durable; prints one table line per measurement. `--emit
  * changed`-equivalent accounting: reseq=false, changed-view count forced
  * (the terminal action a production delete performs).
  *
  * Usage: sbt 'runMain graft.tools.RemoveProbe [master]'
  */
object RemoveProbe {
  def main(args: Array[String]): Unit = {
    val master = if (args.nonEmpty) args(0) else LinkagePipeline.defaultMaster
    val spark = LinkagePipeline.session(master, "remove-probe")
    spark.sparkContext.setLogLevel("ERROR")
    val cfg = LinkagePipeline.Config()

    def prep(nClusters: Int) = {
      val pages = WebCorpus
        .pages(spark, WebCorpus.Config(numClusters = nClusters, seed = 17L))
        .toDF()
        .select("url", "text")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      val n = pages.count()
      val basePred = LinkagePipeline
        .run(pages, cfg)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      basePred.count()
      val index = IncrementalLinkage.buildIndex(pages, cfg)
      val keys = index.keys.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      keys.count()
      (pages, n, basePred, IncrementalLinkage.Index(keys, index.idfDf, index.idfDocs))
    }

    def timeRemove(tag: String, basePred: org.apache.spark.sql.DataFrame,
                   index: IncrementalLinkage.Index, rm: org.apache.spark.sql.DataFrame): Unit = {
      val nRm = rm.count()
      val t0 = System.nanoTime()
      val out = IncrementalLinkage.remove(rm, basePred, index, cfg, reseq = false)
      // count the CHANGED view only — the O(removed) write a production
      // delete performs (`--emit changed`); materializing `predictions`
      // is the opt-in O(corpus) full-store rewrite, deliberately excluded
      // here exactly as R4.0d excluded it for increments
      val changed = out.changed.count()
      val tombs = out.removed.count()
      out.release()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[remove-probe] $tag%-28s removed=$nRm%7d tombstones=$tombs%7d changed=$changed%7d wall=$secs%7.2f s")
    }

    // sweep 1: removal fraction at one base size
    val (pages1, n1, base1, idx1) = prep(25000)
    println(s"[remove-probe] base corpus: $n1 docs")
    Seq(100, 25, 6).foreach { inv =>
      val rm = pages1.where(pmod(xxhash64(col("url")), lit(inv)) === 0).select("url")
      timeRemove(s"frac=1/$inv of $n1", base1, idx1, rm)
    }
    // full-rerun yardstick at this size
    val t0 = System.nanoTime()
    LinkagePipeline.run(pages1, cfg).count()
    println(f"[remove-probe] full rerun yardstick ($n1 docs): ${(System.nanoTime() - t0) / 1e9}%7.2f s")

    // sweep 2: same ABSOLUTE removal against a 10x base
    val rmAbs1 = pages1.where(pmod(xxhash64(col("url")), lit(100)) === 0).select("url")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    rmAbs1.count()
    val (pages2, n2, base2, idx2) = prep(250000)
    println(s"[remove-probe] big base corpus: $n2 docs")
    // the SAME urls exist in the bigger corpus (same generator, larger
    // cluster count, same seed -> superset url space is not guaranteed, so
    // intersect to keep the removal set identical-in-kind)
    val rmAbs2 = pages2.join(rmAbs1, Seq("url"), "left_semi").select("url")
    timeRemove(s"abs removal vs $n1 base", base1, idx1, rmAbs1)
    timeRemove(s"abs removal vs $n2 base", base2, idx2, rmAbs2)
    val t1 = System.nanoTime()
    LinkagePipeline.run(pages2, cfg).count()
    println(f"[remove-probe] full rerun yardstick ($n2 docs): ${(System.nanoTime() - t1) / 1e9}%7.2f s")

    spark.stop()
  }
}
