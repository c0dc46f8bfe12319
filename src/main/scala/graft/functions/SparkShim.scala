// Lives in the org.apache.spark.sql package solely to reach four
// private[sql]/private[spark] helpers: ExpressionUtils (Column <-> catalyst
// Expression bridging in Spark 4.x's connect-compatible Column),
// Observation.getOrEmpty (bounded <=100ms wait, the only non-hanging
// getter), and the listener-bus drain (event delivery is async; a
// JobLedger snapshot must not miss queued events) — nothing else.
package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

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
}
