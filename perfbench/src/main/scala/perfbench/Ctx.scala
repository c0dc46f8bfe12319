package perfbench

import org.apache.spark.sql.SparkSession

/** One timed operation. `cpuS` is process CPU over the same interval:
  * executors run inside this JVM, so it is the operation's compute cost.
  */
final case class Sample(wallS: Double, cpuS: Double, items: Long)

/** What a benchmark run shares across its workload code: the session, a
  * scratch directory inside the checkout, the seed, the measuring window,
  * the tracer in a traced run, and the tally of checked operations.
  */
final class Ctx(
    val spark: SparkSession,
    val work: String,
    val seed: Long,
    val seconds: Int,
    val tracer: Option[Tracer]
) {
  var attempted = 0
  var failed = 0

  private var recording = tracer.isDefined

  def span[T](name: String)(f: => T): T = tracer.filter(_ => recording).fold(f)(_.span(name)(f))

  /** Run `f` with no spans and the tracer's listener detached (an untraced
    * comparison operation inside a traced run).
    */
  def untraced[T](f: => T): T = tracer.fold(f) { t =>
    recording = false
    try t.paused(f)
    finally recording = true
  }

  def timed(items: Long)(f: => Unit): Sample = {
    val c0 = Host.processCpuS
    val t0 = System.nanoTime()
    f
    val wall = (System.nanoTime() - t0) / 1e9
    Sample(wall, Host.processCpuS - c0, items)
  }

  /** Count one checked operation; report each problem on stderr. */
  def record(what: String, problems: Seq[String]): Unit = {
    attempted += 1
    if (problems.nonEmpty) {
      failed += 1
      problems.foreach(p => System.err.println(s"[perfbench] check failed ($what): $p"))
    }
  }

  def rmrf(dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }
}
