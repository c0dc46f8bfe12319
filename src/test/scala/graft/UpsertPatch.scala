package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.Assertions._

/** The upsert contract of IncrementalLinkage.link/remove: patching the base
  * store with `changed` (rows win by url; a null `text` keeps the base
  * text — linking never mutates text) after applying any tombstones must
  * reproduce the full `predictions` frame (seq aside).
  */
object UpsertPatch {

  private val cols = Seq("url", "cluster_id", "score", "status", "text")

  def patch(basePred: DataFrame, changed: DataFrame, removed: Option[DataFrame] = None): DataFrame = {
    val live = removed.fold(basePred)(rm => basePred.join(rm, Seq("url"), "left_anti"))
    live
      .select(cols.map(col): _*)
      .join(changed.select("url"), Seq("url"), "left_anti")
      .unionByName(
        changed
          .join(basePred.select(col("url"), col("text").as("_base_text")), Seq("url"), "left")
          .select(
            col("url"),
            col("cluster_id"),
            col("score"),
            col("status"),
            coalesce(col("text"), col("_base_text")).as("text")
          )
      )
  }

  def assertReproduces(
      basePred: DataFrame,
      changed: DataFrame,
      predictions: DataFrame,
      removed: Option[DataFrame] = None
  ): Unit = {
    val want = predictions.select(cols.map(col): _*).orderBy("url").collect()
    val got = patch(basePred, changed, removed).orderBy("url").collect()
    assert(got.length == want.length, s"${got.length} != ${want.length}")
    got.zip(want).foreach { case (a, b) => assert(a == b, s"patched row differs:\n got =$a\n want=$b") }
  }
}
