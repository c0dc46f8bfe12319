package graft.util

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Deterministic running sums in a total order WITHOUT a single-partition
  * window (reference W5 needs a total order; a global row_number would
  * serialize 100 TB through one task). Two-phase over a range
  * partitioning: driver-computed per-partition weight totals (the offset
  * table is one row per range partition) + a running sum within each range
  * partition, computed by a local sort and one pass over each checkpointed
  * partition (no exchange, no window). The result does not depend on the range boundaries — moving
  * a boundary moves rows between partitions but never reorders them — so
  * it is identical across parallelism levels and partition counts.
  *
  * The range exchange carries no partition count: it is sized like every
  * other exchange the session plans — it starts at
  * `spark.sql.shuffle.partitions` (or, on a cluster,
  * `spark.sql.adaptive.coalescePartitions.initialPartitionNum`) and AQE
  * coalesces the measured map output into contiguous ranges, so no size
  * estimate of the input is needed. The ranged frame is MATERIALIZED
  * (serialized localCheckpoint) before either pass: repartitionByRange
  * samples its boundaries per job, so computing offsets in one action and
  * the running sum in a later action on an un-materialized frame could
  * place rows in different partitions across the two jobs, breaking the
  * dense-total-order contract.
  */
object DeterministicSeq {

  /** Adds `sumCol` = the inclusive running sum of `weight` over `df`
    * ordered by `orderCol` (ties get distinct, consecutive sums). A null
    * weight counts as 0.
    */
  def runningSum(df: DataFrame, orderCol: String, weight: Column, sumCol: String): DataFrame = {
    val ranged = Checkpoints.serializedLocal(
      df.repartitionByRange(col(orderCol)).withColumn("_pid", spark_partition_id())
    )
    val w = coalesce(weight.cast("long"), lit(0L))
    val totals = ranged.groupBy("_pid").agg(sum(w)).orderBy("_pid").collect().map(r => (r.getInt(0), r.getLong(1)))
    val offsets = totals.map(_._1).zip(totals.scanLeft(0L)(_ + _._2)).toMap
    // each checkpoint partition holds exactly one _pid, so the running sum
    // is partition-local: sort within the partition, then one pass adds
    // the partition's offset — no exchange after the checkpoint
    val n = df.schema.length
    val fields = df.schema.fields
    val sorted = ranged.sortWithinPartitions(orderCol).withColumn("_w", w)
    val sums = sorted.queryExecution.toRdd.mapPartitions[InternalRow] { rows =>
      // input row: df's columns, _pid (n), _w (n + 1); the sum joins at n + 2
      val keep = fields.indices.map(i => BoundReference(i, fields(i).dataType, fields(i).nullable))
      val out = UnsafeProjection.create(keep :+ BoundReference(n + 2, LongType, nullable = false))
      val sumRow = new GenericInternalRow(1)
      val joined = new JoinedRow
      var acc = 0L
      var first = true
      rows.map { r =>
        if (first) { acc = offsets(r.getInt(n)); first = false }
        acc += r.getLong(n + 1)
        sumRow.setLong(0, acc)
        out(joined(r, sumRow))
      }
    }
    org.apache.spark.sql.GraftShim.fromRows(ranged, sums, df.schema.add(sumCol, LongType, nullable = false))
  }

  /** Dense 1..N `seq` by `orderCol`: the running sum of weight 1. */
  def assign(df: DataFrame, orderCol: String): DataFrame = runningSum(df, orderCol, lit(1L), "seq")
}
