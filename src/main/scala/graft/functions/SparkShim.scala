// Lives in the org.apache.spark.sql package solely to reach five
// private[sql]/private[spark] helpers: ExpressionUtils (Column <-> catalyst
// Expression bridging in Spark 4.x's connect-compatible Column),
// Observation.getOrEmpty (bounded <=100ms wait, the only non-hanging
// getter), the listener-bus drain (event delivery is async; a JobLedger
// snapshot must not miss queued events), and Dataset.ofRows over a
// LogicalRDD (a frame over catalyst rows with a chosen size estimate) —
// nothing else.
package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

object GraftShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  /** `getOrEmpty`'s no-row fallback is `Row.empty`, whose `schema` is null,
    * so before the listener bus delivers the metrics it throws NPE instead
    * of returning the empty map its name promises. Treat that window as
    * "no metrics yet" so pollers can retry.
    */
  def observationGetOrEmpty(obs: Observation): Map[String, Any] =
    try obs.getOrEmpty
    catch { case _: NullPointerException => Map.empty }

  /** Block until every queued SparkListener event has been delivered. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** A frame over `rows`, already in `schema`'s layout, that carries
    * `like`'s size estimate, so the planner sizes it as it sized `like`.
    */
  def fromRows(like: DataFrame, rows: RDD[InternalRow], schema: StructType): DataFrame = {
    val session = like.sparkSession.asInstanceOf[classic.SparkSession]
    val stats = like.asInstanceOf[classic.Dataset[_]].queryExecution.optimizedPlan.stats
    val plan = LogicalRDD(DataTypeUtils.toAttributes(schema), rows)(session, Some(stats), None)
    classic.Dataset.ofRows(session, plan)
  }
}
