package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic global sequence by `orderCol` WITHOUT a single-partition
  * window (reference W5 needs a total order; a global row_number would
  * serialize 100 TB through one task). Two-phase over a range
  * partitioning: rank within each range partition + driver-computed
  * partition offsets (offset table is <= numRangePartitions rows). The
  * result does not depend on the sampled range boundaries — moving a
  * boundary moves rows between partitions but never reorders them — so
  * seq is identical across parallelism levels and partition counts.
  *
  * `rangePartitions` defaults to a bytes-based heuristic (plan-stats size
  * / 128 MB, floored at the cluster's default parallelism): wide input
  * stays wide; at 100 TB a fixed constant would funnel TBs through single
  * tasks. (Not `df.rdd.getNumPartitions` — under AQE that executes the
  * plan's stages eagerly.) The ranged frame is MATERIALIZED (serialized
  * localCheckpoint) before either pass: repartitionByRange samples its
  * boundaries per job, so computing offsets in one action and row_number
  * in a later action on an un-materialized frame could place rows in
  * different partitions across the two jobs, breaking the
  * dense-total-order contract.
  */
object DeterministicSeq {

  /** `bytesHint`: caller-known input size in bytes. Iteration-checkpoint
    * inputs defeat the stats heuristic below — `LogicalRDD` PROPAGATES the
    * pre-checkpoint plan estimate, which after k self-joining rounds is
    * multiplicatively inflated yet can still read as "plausible" (measured:
    * 6.6 TB for a 20 MB frame -> 50k range partitions -> a 93 s seq pass
    * for a 5 s job). A caller that knows its cardinality passes the exact
    * bytes instead; the bytes->partitions policy (128 MB target, 1M cap,
    * parallelism floor) lives only here.
    */
  /** The bytes -> range-partition-count policy behind [[assign]], exposed
    * for tests (the stats-heuristic traps below were each measured as
    * multi-10x seq-pass regressions before their guards landed).
    */
  private[graft] def plannedRangePartitions(
      df: DataFrame,
      rangePartitions: Int = 0,
      bytesHint: Long = 0L
  ): Int = {
    def byBytes(b: BigInt): Int =
      (b / BigInt(128L * 1024 * 1024)).min(BigInt(1000000)).toInt + 1
    if (rangePartitions > 0) rangePartitions
    else if (bytesHint > 0L)
      math.max(df.sparkSession.sparkContext.defaultParallelism, byBytes(BigInt(bytesHint)))
    else {
        // size from the largest PLAUSIBLE LEAF, not the whole plan: join
        // output estimates multiply (measured: the 3-way prediction-merge
        // tail over an 85k-row corpus estimated 6.6 TB -> 49k range
        // partitions -> a 2-minute repartition of a 5-second frame), while
        // a merge's true output is ~proportional to its largest input.
        // Checkpointed/RDD-backed leaves report the defaultSizeInBytes
        // sentinel (~8 EB) — treat implausibly huge as unknown; if no leaf
        // has an honest size, fall back to the session's wide-op width.
        val spark = df.sparkSession
        val fallback = math.max(
          spark.sparkContext.defaultParallelism,
          spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
        )
        def plausible(b: BigInt): Boolean = b > 0 && b < BigInt(1L << 50)
        val leaves = df.queryExecution.optimizedPlan.collectLeaves()
        // LogicalRDD leaves (localCheckpoint / RDD-backed frames) carry NO
        // honest size: they either report the defaultSizeInBytes sentinel
        // or PROPAGATE the pre-checkpoint plan estimate — and a propagated
        // join estimate can be multiplicatively inflated yet still land
        // under the plausibility cutoff (measured: a ~40k-row checkpointed
        // meta-blocking edge list estimated 1.2 TB -> 9,478 range
        // partitions -> a 15 s seq pass for a 2 s query). Exclude them from
        // the leaf evidence, and distrust the whole-plan estimate too when
        // any is present (plan stats are propagated FROM the leaves).
        val rddLeaf = leaves.exists(_.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])
        val leafBytes = leaves
          .filterNot(_.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])
          .map(_.stats.sizeInBytes)
          .filter(plausible)
        val planBytes =
          if (rddLeaf) None
          else Some(df.queryExecution.optimizedPlan.stats.sizeInBytes).filter(plausible)
        // the plan estimate keeps filter/aggregate cardinality reduction;
        // the leaf max caps its join multiplication — min of the two
        // dominates either alone. But every plan estimate is PROPAGATED
        // from the leaves: if no leaf reports an honest size (checkpointed
        // inputs carry the ~8-EB defaultSizeInBytes sentinel), a
        // "plausible" plan stat is sentinel arithmetic that happened to
        // land under the cutoff — measured: a 20 MB distinct-over-
        // checkpointed-edges frame estimated 6.6 TB -> 50k range
        // partitions -> a 69 s seq pass for a 5 s frame. No honest leaf =>
        // no honest estimate => fallback width.
        val bytes =
          if (leafBytes.isEmpty) None
          else (planBytes.toSeq :+ leafBytes.max).minOption
        bytes match {
          case None => fallback
          case Some(b) =>
            val byBytes = (b / BigInt(128L * 1024 * 1024)).min(BigInt(1000000)).toInt + 1
            math.max(spark.sparkContext.defaultParallelism, byBytes)
        }
    }
  }

  def assign(
      df: DataFrame,
      orderCol: String,
      rangePartitions: Int = 0,
      bytesHint: Long = 0L
  ): DataFrame = {
    val nParts = plannedRangePartitions(df, rangePartitions, bytesHint)
    val ranged = Checkpoints.serializedLocal(
      df.repartitionByRange(nParts, col(orderCol)).withColumn("_pid", spark_partition_id())
    )
    val counts = ranged.groupBy("_pid").agg(count(lit(1)).as("_n")).orderBy("_pid").collect()
    var acc = 0L
    val offsets = counts.map { r =>
      val o = (r.getInt(0), acc)
      acc += r.getLong(1)
      o
    }.toSeq
    val spark = df.sparkSession
    import spark.implicits._
    val offsetDf = offsets.toDF("_pid", "_offset")
    val w = Window.partitionBy("_pid").orderBy(orderCol)
    ranged
      .join(broadcast(offsetDf), "_pid")
      .withColumn("seq", (col("_offset") + row_number().over(w)).cast("long"))
      .drop("_pid", "_offset")
  }
}
