package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{NormKernels, SimKernels}
import graft.operators.PairScorer

/** ns/row of the engine's public scalar kernels, called in a warmed
  * single-threaded loop on the driver over fixed inputs drawn from a seeded
  * corpus sample — no Spark job runs here, so task scheduling and codegen
  * are out of the number.
  */
object Kernels {

  /** Rows of kernel input per timed pass. */
  val Rows = 2000
  private val Reps = 5
  private val MinPassNs = 50L * 1000 * 1000

  final case class Inputs(
      titles: Array[UTF8String],
      urls: Array[UTF8String],
      tokens: Array[ArrayData],
      tfs: Array[InternalRow],
      vecs: Array[InternalRow],
      idf: org.apache.spark.broadcast.Broadcast[java.util.HashMap[java.lang.Long, java.lang.Double]]
  )

  def inputs(spark: SparkSession, docs: Seq[(String, String)]): Inputs = {
    val sample = docs.take(Rows).toArray
    val toks = sample.map { case (_, text) => text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty) }
    val tokens: Array[ArrayData] = toks.map(ts => new GenericArrayData(ts.map(UTF8String.fromString)))
    val tfs = tokens.map(t => SimKernels.termFreqs(t, PairScorer.TfBuckets))
    // document frequencies of the sample's hashed terms -> the engine's idf rule
    val df = new java.util.HashMap[java.lang.Long, java.lang.Double]()
    tfs.foreach { tf =>
      val ts = tf.getArray(0)
      (0 until ts.numElements()).foreach { i =>
        val t = ts.getLong(i)
        df.put(t, df.getOrDefault(t, 0.0) + 1.0)
      }
    }
    val idfMap = new java.util.HashMap[java.lang.Long, java.lang.Double]()
    df.forEach((t, n) => idfMap.put(t, math.log((sample.length + 1.0) / (n + 1.0)) + 1.0))
    val idf = spark.sparkContext.broadcast(idfMap)
    Inputs(
      titles = toks.map(ts => UTF8String.fromString(ts.take(10).mkString(" "))),
      urls = sample.map { case (u, _) => UTF8String.fromString(u) },
      tokens = tokens,
      tfs = tfs,
      vecs = tfs.map(tf => SimKernels.tfidfWeight(tf, idf, 64)),
      idf = idf
    )
  }

  /** Median over `Reps` passes of ns per call; each pass loops over all
    * rows until at least `MinPassNs` has elapsed. One untimed pass warms
    * the JIT first.
    */
  private def nsPerRow(n: Int)(call: Int => Double): Double = {
    var sink = 0.0
    def pass(): (Long, Long) = {
      val t0 = System.nanoTime()
      var rows = 0L
      while (System.nanoTime() - t0 < MinPassNs) {
        var i = 0
        while (i < n) { sink += call(i); i += 1 }
        rows += n
      }
      (System.nanoTime() - t0, rows)
    }
    pass()
    val samples = (0 until Reps).map { _ => val (ns, rows) = pass(); ns.toDouble / rows }
    if (sink == 42.4242) println("") // keeps the loop's results observable
    Stats.median(samples)
  }

  /** kernel name -> ns per row. */
  def measure(in: Inputs): Seq[(String, Double)] = {
    val n = in.urls.length
    Seq(
      "jaro_winkler" -> nsPerRow(n)(i => SimKernels.jaroWinkler(in.titles(i), in.titles((i + 1) % n))),
      "sorted_dot" -> nsPerRow(n)(i => SimKernels.sortedDot(in.vecs(i), in.vecs((i + 1) % n))),
      "minhash_shingles" -> nsPerRow(n)(i => SimKernels.minHashShingles(in.tokens(i), 3, 16).getLong(0).toDouble),
      "tfidf_weight" -> nsPerRow(n)(i => SimKernels.tfidfWeight(in.tfs(i), in.idf, 64).getArray(1).numElements().toDouble),
      "url_normalize" -> nsPerRow(n)(i => NormKernels.urlNormalize(in.urls(i)).numBytes().toDouble)
    )
  }
}
