package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming.StreamingLinkage

/** `StreamingLinkage.linkBatch` and `removeBatch` against a Parquet
  * store. A seeded share of the corpus is held out of the v0 bootstrap;
  * each link hands over the next `deltaSize` held-out docs (they join
  * existing clusters or form new ones) and each removal tombstones
  * `deltaSize` seeded present urls, which return to the back of the
  * held-out queue, so alternating the two keeps the store size level.
  */
final class Churn(ctx: Ctx, corpus: Batch, holdOut: Double, deltaSize: Int, name: String = "churn") {
  import ctx.spark
  import spark.implicits._

  private val storeDir = s"${ctx.work}/$name/store"
  private val batchDir = s"${ctx.work}/$name/batches"
  private val rng = new scala.util.Random(ctx.seed * 31 + 7)
  private def text = corpus.text
  private val present = mutable.LinkedHashSet.empty[String]
  private val queue = mutable.Queue.empty[String]
  private var batchNo = 0
  private var lastF1 = Double.NaN

  /** Split the corpus into the v0 store and the held-out queue, and
    * bootstrap the store.
    */
  def bootstrap(): Unit = {
    ctx.rmrf(storeDir)
    val shuffled = rng.shuffle(text.keys.toVector.sorted)
    val nHeld = math.max((shuffled.length * holdOut).toInt, deltaSize)
    queue ++= shuffled.take(nHeld)
    present ++= shuffled.drop(nHeld).sorted
    val base = writeBatch(present.toSeq)
    ctx.span("inc.bootstrap") { StreamingLinkage.linkBatch(base, storeDir) }
    spark.sparkContext.clearJobGroup()
  }

  /** Write one batch of (url, text) rows to Parquet, outside the timed
    * window, and hand back its scan — the store's input arrives as files.
    */
  private def writeBatch(urls: Seq[String]): DataFrame = {
    batchNo += 1
    val dir = s"$batchDir/b$batchNo"
    urls.map(u => (u, text(u))).toDF("url", "text").write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  def link(): Sample = {
    val urls = (0 until deltaSize).map(_ => queue.dequeue())
    val batch = writeBatch(urls)
    val s = ctx.timed(urls.size) { ctx.span("inc.link") { StreamingLinkage.linkBatch(batch, storeDir) } }
    spark.sparkContext.clearJobGroup()
    present ++= urls
    s
  }

  def remove(): Sample = {
    val urls = rng.shuffle(present.toVector).take(deltaSize)
    val batch = writeBatch(urls).select("url")
    val s = ctx.timed(urls.size) { ctx.span("inc.remove") { StreamingLinkage.removeBatch(batch, storeDir) } }
    spark.sparkContext.clearJobGroup()
    present --= urls
    queue ++= urls
    s
  }

  def version: Int = StreamingLinkage.currentVersion(spark, storeDir).getOrElse(-1)

  /** Rows that differ between two store versions: added, removed, or with
    * a new (cluster_id, score, status).
    */
  def changedRows(from: Int, to: Int): Long = {
    val cols = Seq("cluster_id", "score", "status")
    val a = spark.read.parquet(s"$storeDir/predictions_v$from").select((col("url") +: cols.map(c => col(c).as(s"a_$c"))): _*)
    val b = spark.read.parquet(s"$storeDir/predictions_v$to").select((col("url") +: cols.map(c => col(c).as(s"b_$c"))): _*)
    a.join(b, Seq("url"), "full_outer")
      .where(cols.map(c => !(col(s"a_$c") <=> col(s"b_$c"))).reduce(_ || _))
      .count()
  }

  /** Check the latest store version against the driver's view of which
    * urls are present, and score it against gold restricted to them.
    */
  def check(what: String): Unit = {
    val rows = Checks.collect(StreamingLinkage.predictions(spark, storeDir))
    lastF1 = Checks.f1(rows, corpus.gold)
    ctx.record(s"$name $what", Checks.assignment(rows, present.iterator.map(u => u -> text(u)).toMap) ++ Checks.f1Problem(lastF1))
  }

  /** The engine's evaluator on the latest store version, against gold
    * restricted to present urls; must agree with the last `check`.
    */
  def engineF1(): Double = {
    val goldPresent = corpus.gold.filter { case (a, b) => present(a) && present(b) }.toDF("url_a", "url_b")
    val f1 = Checks.f1Engine(StreamingLinkage.predictions(spark, storeDir), goldPresent)
    ctx.record(s"$name evaluator", Checks.evaluatorProblem(f1, lastF1))
    f1
  }
}
