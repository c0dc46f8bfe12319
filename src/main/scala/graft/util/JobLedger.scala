package graft.util

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** The one listener behind phase and job attribution (`cli.Main --monitor
  * true`, `tools.QueryProbe`): every job is filed under its pipeline phase
  * — the `graft:<phase>` job group `LinkagePipeline.run` sets, anything else
  * `other` — and under a call site: the innermost `graft.operators` frame
  * of its result stage's submitting stack, else the innermost `graft.`
  * frame outside the `graft.util` helpers. Checkpoints and seq assignment
  * are thereby charged to the operator that takes them, and a multi-job
  * operator shows which of its own actions cost what. AQE submits shuffle
  * stages as jobs from its own threads, whose stacks hold no engine frame;
  * those take the call site of their SQL execution. Task counters are
  * summed per phase only; totals are the sum over phases.
  *
  * Listener callbacks run on the bus thread, reads on the caller's: both
  * go through the ledger's monitor. Attach with `JobLedger.install`, read
  * with `snapshot()`, detach with `remove()`.
  */
final class JobLedger private (sc: SparkContext) extends SparkListener {
  import JobLedger._

  private val installedMs = System.currentTimeMillis()
  private val started = mutable.HashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stagePhase = mutable.HashMap.empty[Int, String]
  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val phases = mutable.HashMap.empty[String, Counters]
  private val stageRunMs = mutable.HashMap.empty[String, Long]
  private val executionSite = mutable.HashMap.empty[Long, String]

  private def graftFrame(stack: String): Option[String] = {
    val frames = stack.split('\n').map(_.trim).filter(_.startsWith("graft."))
    frames.find(_.startsWith("graft.operators.")).orElse(frames.find(!_.startsWith("graft.util.")))
  }

  private def sinceInstall(eventMs: Long): Double = (eventMs - installedMs) / 1e3

  private def add(phase: String, c: Counters): Unit =
    phases(phase) = phases.getOrElse(phase, Counters()) + c

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val phase = prop("spark.jobGroup.id").filter(_.startsWith("graft:")).map(_.drop("graft:".length)).getOrElse("other")
    // the result stage is the job's last-created one; its details are the
    // submitting stack trace
    val site = e.stageInfos
      .maxByOption(_.stageId)
      .flatMap(s => graftFrame(s.details))
      .orElse(prop(SQLExecution.EXECUTION_ID_KEY).flatMap(id => executionSite.get(id.toLong)))
      .getOrElse("?")
    started(e.jobId) = Job(e.jobId, phase, sinceInstall(e.time), 0.0, 0, site)
    e.stageIds.foreach { s =>
      stageJob(s) = e.jobId
      stagePhase(s) = phase
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    started.remove(e.jobId).foreach { j =>
      jobs += j.copy(wallS = sinceInstall(e.time) - j.startS)
      add(j.phase, Counters(jobs = 1))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    add(stagePhase.getOrElse(info.stageId, "other"), Counters(stages = 1))
    stageJob.get(info.stageId).flatMap(started.get).foreach(j => started(j.id) = j.copy(stages = j.stages + 1))
    val site = info.name.split(" at ").last
    stageRunMs(site) = stageRunMs.getOrElse(site, 0L) + info.taskMetrics.executorRunTime
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart =>
      synchronized(graftFrame(x.details).foreach(executionSite(x.executionId) = _))
    case _ =>
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null)
      add(
        stagePhase.getOrElse(e.stageId, "other"),
        Counters(
          runMs = m.executorRunTime,
          cpuNs = m.executorCpuTime,
          gcMs = m.jvmGCTime,
          serMs = m.resultSerializationTime + m.executorDeserializeTime,
          fetchWaitMs = m.shuffleReadMetrics.fetchWaitTime,
          shuffleWriteNs = m.shuffleWriteMetrics.writeTime
        )
      )
  }

  /** Everything recorded so far, after the listener bus has delivered
    * every event already posted.
    */
  def snapshot(): Snapshot = {
    org.apache.spark.sql.GraftShim.drainListenerBus(sc)
    synchronized(Snapshot(jobs.sortBy(_.id).toVector, phases.toMap, stageRunMs.toMap))
  }

  def remove(): Unit = sc.removeSparkListener(this)
}

object JobLedger {

  /** Attach a fresh ledger. Events posted before the call are delivered
    * first, so the ledger sees only work submitted after it.
    */
  def install(sc: SparkContext): JobLedger = {
    org.apache.spark.sql.GraftShim.drainListenerBus(sc)
    val ledger = new JobLedger(sc)
    sc.addSparkListener(ledger)
    ledger
  }

  /** One finished job: start offset from install and wall in seconds, and
    * the stages it ran (stages skipped over a reused shuffle not counted).
    */
  final case class Job(id: Int, phase: String, startS: Double, wallS: Double, stages: Int, site: String)

  /** Task counters (executor run time, CPU, GC, (de)serialization, shuffle
    * fetch wait and shuffle write time) plus finished jobs and stages.
    */
  final case class Counters(
      jobs: Int = 0,
      stages: Int = 0,
      runMs: Long = 0,
      cpuNs: Long = 0,
      gcMs: Long = 0,
      serMs: Long = 0,
      fetchWaitMs: Long = 0,
      shuffleWriteNs: Long = 0
  ) {
    def +(o: Counters): Counters = Counters(
      jobs + o.jobs,
      stages + o.stages,
      runMs + o.runMs,
      cpuNs + o.cpuNs,
      gcMs + o.gcMs,
      serMs + o.serMs,
      fetchWaitMs + o.fetchWaitMs,
      shuffleWriteNs + o.shuffleWriteNs
    )
  }

  final case class Snapshot(jobs: Seq[Job], phases: Map[String, Counters], stageRunMs: Map[String, Long]) {
    def total: Counters = phases.values.foldLeft(Counters())(_ + _)

    def phaseLines: Seq[String] = phases.toSeq.sortBy(-_._2.runMs).map { case (p, c) =>
      f"[phase] ${c.runMs / 1e3}%8.1f s  $p%-12s jobs=${c.jobs} stages=${c.stages} cpu=${c.cpuNs / 1e9}%.1f s"
    }

    /** The twelve costliest stage call sites by task run time. */
    def stageLines: Seq[String] = stageRunMs.toSeq.sortBy(-_._2).take(12).map { case (s, ms) =>
      f"[stage] ${ms / 1e3}%8.1f s  $s"
    }

    def jobLines: Seq[String] = jobs.map { j =>
      f"[job] #${j.id}%-4d +${j.startS}%7.2f ${j.wallS}%7.3f s  stages=${j.stages}%-3d ${j.phase}%-12s ${j.site}"
    }

    /** Job wall per call site, costliest first. */
    def siteLines: Seq[String] = jobs.groupBy(_.site).toSeq
      .map { case (s, js) => (s, js.map(_.wallS).sum, js.size) }
      .sortBy(-_._2)
      .map { case (s, secs, n) => f"[site] $secs%7.2f s  x$n%-3d $s" }
  }
}
