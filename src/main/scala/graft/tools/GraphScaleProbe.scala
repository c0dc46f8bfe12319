package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.{CorrelationClustering, MetaBlocking}
import graft.pipeline.LinkagePipeline
import graft.synth.WebCorpus

/** Growth sweep for the round-5 graph operators (the R4.2 ScaleProbe
  * precedent): MetaBlocking purge -> edges -> cnp candidate volume, and
  * CorrelationClustering.pivot round count/wall, at three corpus sizes.
  * Flat-or-attributed growth in edges/doc and pivot rounds is the scale
  * claim; quadratic creep would show here first.
  * Usage: sbt 'runMain graft.tools.GraphScaleProbe [sizes...]'
  */
object GraphScaleProbe {
  def main(args: Array[String]): Unit = {
    val sizes = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(25000, 75000, 250000)
    val spark = LinkagePipeline.session(LinkagePipeline.defaultMaster, "graph-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")

    sizes.foreach { n =>
      val pages = WebCorpus
        .pages(spark, WebCorpus.Config(numClusters = n / 4))
        .toDF()
        .select(col("url"), col("text"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      val docs = pages.count()
      // the battery's two symbolic key families, scaled: a coarse band key
      // (first 6 url chars — domain-ish) and a first-2-tokens content key
      val keys = pages
        .select(col("url"), concat_ws("|", lit("d"), substring(col("url"), 1, 24)).as("key"))
        .unionAll(
          pages.select(
            col("url"),
            concat_ws("|", lit("t"), array_join(slice(split(col("text"), " "), 1, 2), " ")).as("key")
          )
        )
      val t0 = System.nanoTime()
      val pruned = MetaBlocking.cnp(MetaBlocking.edges(MetaBlocking.purge(keys, 60)), 2, "js")
      val edgeRows = pruned.count()
      val tEdges = (System.nanoTime() - t0) / 1e9
      println(
        f"[gscale] n=$docs%8d metablock purge->edges->cnp: pairs=$edgeRows%10d " +
          f"pairs/doc=${edgeRows.toDouble / docs}%6.3f wall=$tEdges%7.2f s"
      )
      val t1 = System.nanoTime()
      val piv = CorrelationClustering.pivot(
        pruned.select(col("url_a").as("src"), col("url_b").as("dst"))
      )
      val clusters = piv.select("pivot").distinct().count()
      val tPiv = (System.nanoTime() - t1) / 1e9
      println(
        f"[gscale] n=$docs%8d ccpivot over cnp graph: nodes=${piv.count()}%10d " +
          f"clusters=$clusters%9d wall=$tPiv%7.2f s"
      )
      pages.unpersist(false)
    }
    spark.stop()
  }
}
