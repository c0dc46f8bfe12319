package graft.io

import java.nio.charset.StandardCharsets

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.{JsonMethods, Serialization}

/** Snapshot/manifest/lineage layer (SURVEY.md §4.3).
  *
  * Reference semantics reproduced: incremental commit per chunk
  * (lion_linker.py:1383-1402), run_id stamping + monotone seq
  * (prompt_store.py:35, result_store.py:35), created_at stamping
  * (result_store.py:100-103, app/storage/state.py:66,127), and the restart
  * rule that only COMMITTED work survives (app/services/task_queue.py:37
  * marks in-flight jobs failed on restart) — here, a stage exists only once
  * its manifest is written, and the manifest is written only after the data
  * commit.
  *
  * No Iceberg jars ship in this image, so snapshot-append is emulated with
  * Parquet dirs + `_MANIFEST.json`; the trait boundary is exactly what an
  * Iceberg catalog implementation would replace (snapshot = table version,
  * manifest = Iceberg snapshot summary). Manifests go through the Hadoop
  * FileSystem resolved from the stage path, so a non-local snapshots dir
  * (hdfs://, s3a://) keeps working on a real cluster.
  */
final case class StageManifest(
    runId: String,
    stage: String,
    configHash: String,
    rowCount: Long,
    partitionCounts: Map[String, Long],
    seq: Long,
    inputStages: List[String],
    createdAt: String, // ISO-8601 UTC (F17; informational, never compared)
    /** In-flight `df.observe()` metrics captured DURING the stage's write
      * (A2 streamed-counter analog, reference SSE progress
      * app/api/routes.py:552-575) — zero extra passes, unlike the post-hoc
      * partition counts. Default keeps pre-round-3 manifests readable.
      */
    metrics: Map[String, Double] = Map.empty
)

trait TableIO {

  /** Commit `df` as stage `stage`; returns the committed frame re-read from
    * storage (lineage truncated — doubles as the CC iteration checkpoint).
    * `observedMetrics` is called AFTER the data commit (so `Observation.get`
    * on the committed plan has its values) and lands in the manifest.
    */
  def commitStage(
      df: DataFrame,
      stage: String,
      inputStages: Seq[String] = Nil,
      observedMetrics: () => Map[String, Double] = () => Map.empty
  ): DataFrame

  /** The stage's frame iff a valid manifest exists for this run config. */
  def readStage(spark: SparkSession, stage: String): Option[DataFrame]

  def manifest(stage: String): Option[StageManifest]
}

/** Parquet + JSON-manifest implementation rooted at
  * `baseDir/snapshots/<configHash>/<stage>/`. Stages are keyed by config
  * hash (not run id): a resume with identical config picks up committed
  * stages from ANY previous run; a config change invalidates everything —
  * mirroring the reference's cache-key discipline
  * (lion_linker/retrievers.py:58-75 hashes the full request payload).
  */
final class ParquetTableIO(baseDir: String, runId: String, configHash: String) extends TableIO {

  private implicit val fmts: Formats = DefaultFormats
  private var seqCounter = 0L

  private def stageDir(stage: String) = s"$baseDir/snapshots/$configHash/$stage"
  private def manifestPath(stage: String) = new Path(s"${stageDir(stage)}/_MANIFEST.json")

  private def fs(p: Path, spark: SparkSession) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  override def commitStage(
      df: DataFrame,
      stage: String,
      inputStages: Seq[String],
      observedMetrics: () => Map[String, Double]
  ): DataFrame = {
    val dir = stageDir(stage)
    df.write.mode("overwrite").parquet(s"$dir/data")
    val spark = df.sparkSession
    val committed = spark.read.parquet(s"$dir/data")
    // per-partition lineage counts (reference A2 progress counters analog)
    val partCounts = committed
      .groupBy(spark_partition_id().as("pid"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => r.getInt(0).toString -> r.getLong(1))
      .toMap
    seqCounter += 1
    val m = StageManifest(
      runId,
      stage,
      configHash,
      partCounts.values.sum,
      partCounts,
      seqCounter,
      inputStages.toList,
      java.time.Instant.now().toString,
      observedMetrics()
    )
    // same FileSystem as the data: manifests survive non-local baseDirs
    val mp = manifestPath(stage)
    val out = fs(mp, spark).create(mp, true)
    try out.write(Serialization.write(m).getBytes(StandardCharsets.UTF_8))
    finally out.close()
    committed
  }

  override def manifest(stage: String): Option[StageManifest] =
    // SparkSession.active THROWS with no active session (post-run
    // bookkeeping, tests before a session exists) — that must be None,
    // not a broken Option contract, so resolve it inside the Try too
    Try(SparkSession.active).toOption.flatMap(manifestIn(_, stage))

  private def manifestIn(spark: SparkSession, stage: String): Option[StageManifest] =
    Try {
      val mp = manifestPath(stage)
      val in = fs(mp, spark).open(mp)
      val txt =
        try new String(in.readAllBytes(), StandardCharsets.UTF_8)
        finally in.close()
      JsonMethods.parse(txt).extract[StageManifest]
    }.toOption.filter(_.configHash == configHash)

  override def readStage(spark: SparkSession, stage: String): Option[DataFrame] =
    manifestIn(spark, stage).flatMap { m =>
      Try(spark.read.parquet(s"${stageDir(stage)}/data")).toOption
        // commit-validity check: data must still carry the manifest's rows
        .filter(_.count() == m.rowCount)
    }
}

object TableIO {

  /** Deterministic hash of a run configuration (sorted-key canonical form —
    * reference cache-key pattern, retrievers.py:58-75).
    */
  def configHash(params: Map[String, String]): String = {
    val canonical = params.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("&")
    java.security.MessageDigest
      .getInstance("SHA-256")
      .digest(canonical.getBytes(StandardCharsets.UTF_8))
      .take(8)
      .map("%02x".format(_))
      .mkString
  }
}

/** S10: append-only run-log TABLE (not just per-stage manifests) — the
  * queryable analog of the reference's results/prompt collections
  * (result_store.py:85-105, prompt_store.py:85-96): every appended row
  * carries (run_id, seq, created_at) where seq is monotone WITHIN a run
  * batch-by-batch, exactly like record_batch's base_seq + offset.
  *
  * Storage is an append-only parquet dir; each append writes one new batch
  * of files and never touches previous ones (Iceberg append analog). Readers
  * see the union of all runs and can reconstruct any run's timeline by
  * (run_id, seq).
  */
final class RunLog(dir: String, runId: String) {

  private var nextSeq = 0L

  /** Append `rows` stamped with run_id + monotone seq + created_at.
    * Mirrors result_store.record_batch: an explicit `startSeq` overrides
    * the internal counter (resume case), else the counter continues.
    */
  def append(rows: DataFrame, startSeq: Option[Long] = None): Unit = {
    val base = startSeq.getOrElse(nextSeq)
    val stamped = graft.util.DeterministicSeq
      .assign(rows, rows.columns.head)
      .withColumn("seq", col("seq") - 1 + base)
      .withColumn("run_id", lit(runId))
      .withColumn("created_at", current_timestamp())
    stamped.write.mode("append").parquet(dir)
    // count the stamped frame (reads the seq pass's checkpoint) — counting
    // `rows` would re-execute its whole un-checkpointed lineage, and for a
    // non-deterministic source could disagree with what was written
    nextSeq = base + stamped.count()
  }

  def read(spark: SparkSession): DataFrame = spark.read.parquet(dir)

  /** This run's entries in seq order. */
  def readRun(spark: SparkSession): DataFrame =
    read(spark).where(col("run_id") === runId).orderBy("seq")
}
