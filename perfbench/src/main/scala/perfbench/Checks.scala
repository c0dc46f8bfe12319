package perfbench

import org.apache.spark.sql.DataFrame

import graft.eval.PairwiseEval

/** Output checks shared by the workloads. They run outside the timed
  * window on the collected (small) output and return the problems found
  * (empty = pass).
  */
object Checks {

  val MinF1 = 0.99

  final case class Row(url: String, clusterId: String, text: String)

  def collect(preds: DataFrame): Seq[Row] =
    preds.select("url", "cluster_id", "text").collect().map(r => Row(r.getString(0), r.getString(1), r.getString(2))).toSeq

  /** Collected predictions against the expected url -> input text: one row
    * per url, exactly the expected urls, text byte-identical per url, and
    * every cluster_id the minimum url of its cluster.
    */
  def assignment(rows: Seq[Row], expected: Map[String, String]): Seq[String] = {
    val urls = rows.map(_.url).toSet
    val unexpected = urls.count(u => !expected.contains(u))
    val missing = expected.keysIterator.count(u => !urls.contains(u))
    val textChanged = rows.count(r => expected.get(r.url).exists(_ != r.text))
    val badLabels = rows.groupBy(_.clusterId).count { case (c, rs) => rs.map(_.url).min != c }
    Seq(
      if (rows.size != urls.size) Some(s"${rows.size} rows for ${urls.size} urls (a url has several rows)") else None,
      if (unexpected > 0) Some(s"$unexpected urls in the output that should not be there") else None,
      if (missing > 0) Some(s"$missing expected urls missing from the output") else None,
      if (textChanged > 0) Some(s"text changed for $textChanged urls") else None,
      if (badLabels > 0) Some(s"$badLabels clusters whose cluster_id is not their minimum url") else None
    ).flatten
  }

  /** Pairwise F1 of the collected assignment against gold pairs. Gold pairs
    * are every within-cluster pair of the planted clusters, so the gold
    * partition is their transitive closure, restricted to `urls`.
    */
  def f1(rows: Seq[Row], gold: Seq[(String, String)]): Double = {
    val truth = UnionFind.labels(gold)
    val pred = rows.map(r => r.url -> r.clusterId).toMap
    UnionFind.pairwiseF1(pred, pred.keysIterator.map(u => u -> truth.getOrElse(u, u)).toMap)
  }

  /** The engine's own evaluator over the written predictions (one job). */
  def f1Engine(preds: DataFrame, gold: DataFrame): Double =
    PairwiseEval.metricsDf(preds.select("url", "cluster_id"), gold.select("url_a", "url_b")).collect()(0).getAs[Double]("f1")

  /** The engine's evaluator must reproduce the oracle's F1 (it rounds to
    * six digits).
    */
  def evaluatorProblem(engineF1: Double, oracleF1: Double): Seq[String] =
    if (math.abs(engineF1 - oracleF1) < 1e-5) Nil else Seq(s"eval.PairwiseEval F1 $engineF1 != oracle F1 $oracleF1")

  def f1Problem(f1: Double): Seq[String] =
    if (f1 >= MinF1) Nil else Seq(f"pairwise F1 $f1%.4f below $MinF1")
}
