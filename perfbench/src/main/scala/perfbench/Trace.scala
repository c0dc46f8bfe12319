package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval at a layer boundary. `parent` is the span that was
  * open when this one started; all spans of one benchmark run share
  * `runId`. Times are driver `System.nanoTime` readings.
  */
final case class Span(id: Int, name: String, parent: Option[Int], runId: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

object Span {

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  def coveredNs(lo: Long, hi: Long, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals
      .map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s
        curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of each span: its duration minus the part of its interval
    * that its direct children cover (overlapping children count once).
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.filter(_.parent.isDefined).groupBy(_.parent.get)
    spans.map { s =>
      val covered = coveredNs(s.startNs, s.endNs, kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)))
      s.id -> (s.durNs - covered)
    }.toMap
  }
}

/** Spark work done under one span (or one job group within a span). */
final class EngineAgg {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var readBytes = 0L
  var writeBytes = 0L
  var firstJobStartMs = Long.MaxValue
  var lastJobEndMs = Long.MinValue

  def add(o: EngineAgg): EngineAgg = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes; fetchWaitMs += o.fetchWaitMs; spillBytes += o.spillBytes
    readBytes += o.readBytes; writeBytes += o.writeBytes
    firstJobStartMs = math.min(firstJobStartMs, o.firstJobStartMs)
    lastJobEndMs = math.max(lastJobEndMs, o.lastJobEndMs)
    this
  }

  def wallS: Double = if (lastJobEndMs < firstJobStartMs) 0.0 else (lastJobEndMs - firstJobStartMs) / 1e3
}

/** Attributes every Spark job to the benchmark span that submitted it (read
  * from the job's local properties, which Spark captures at submission on
  * the submitting thread) and to the job group it ran under. The engine's
  * pipeline tags its phases as `graft:<phase>` job groups.
  */
final class EngineListener extends SparkListener {
  private val byKey = mutable.HashMap.empty[(Int, String), EngineAgg]
  private val stageKey = mutable.HashMap.empty[Int, (Int, String)]
  private val jobKey = mutable.HashMap.empty[Int, (Int, String)]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val jobTimes = mutable.ArrayBuffer.empty[(Int, String, Long, Long)]

  private def agg(k: (Int, String)): EngineAgg = byKey.getOrElseUpdate(k, new EngineAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(Tracer.SpanProperty))).map(_.toInt).getOrElse(-1)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val k = (span, group)
    jobKey(e.jobId) = k
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(stageKey(_) = k)
    val a = agg(k)
    a.jobs += 1
    a.firstJobStartMs = math.min(a.firstJobStartMs, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobKey.remove(e.jobId).foreach { k =>
      val a = agg(k)
      a.lastJobEndMs = math.max(a.lastJobEndMs, e.time)
      jobStart.remove(e.jobId).foreach(t0 => jobTimes += ((k._1, k._2, t0, e.time)))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageKey.get(e.stageInfo.stageId).foreach(k => agg(k).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageKey.get(e.stageId).foreach { k =>
      val a = agg(k)
      a.tasks += 1
      if (m != null) {
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        a.readBytes += m.inputMetrics.bytesRead
        a.writeBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  /** (group, start ms, end ms) of every finished job submitted directly
    * under span `id`.
    */
  def jobsOf(id: Int): Seq[(String, Long, Long)] = synchronized {
    jobTimes.collect { case (s, g, t0, t1) if s == id => (g, t0, t1) }.toSeq
  }

  /** Work submitted directly under span `id`, per job group. */
  def groupsOf(id: Int): Map[String, EngineAgg] = synchronized {
    byKey.collect { case ((s, g), a) if s == id => g -> new EngineAgg().add(a) }.toMap
  }
}

/** In-memory span recorder for the traced run. Spans nest by call order on
  * the single driver thread; the open span's id rides every Spark job as a
  * local property so the listener can attribute engine work to it.
  */
final class Tracer(val runId: String, sc: SparkContext) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open: List[(Int, Long)] = Nil
  private var nextId = 0
  // listener event times are epoch ms; spans are nanoTime
  private val epoch0Ms = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  private def msToNs(ms: Long): Long = nano0 + (ms - epoch0Ms) * 1000000L
  val listener = new EngineListener
  sc.addSparkListener(listener)

  def span[T](name: String)(f: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.map(_._1)
    open = (id, System.nanoTime()) :: open
    sc.setLocalProperty(Tracer.SpanProperty, id.toString)
    try f
    finally {
      val (_, start) = open.head
      open = open.tail
      done += Span(id, name, parent, runId, start, System.nanoTime())
      sc.setLocalProperty(Tracer.SpanProperty, open.headOption.map(_._1.toString).orNull)
    }
  }

  /** Detach the listener for an untraced comparison operation. */
  def paused[T](f: => T): T = {
    sc.removeSparkListener(listener)
    try f
    finally sc.addSparkListener(listener)
  }

  /** Completed spans, ordered by id (start order). */
  def spans: Seq[Span] = {
    org.apache.spark.sql.GraftShim.drainListenerBus(sc)
    done.sortBy(_.id).toSeq
  }

  /** Engine work under `s` and every span nested in it, per job group. */
  def engineGroups(s: Span): Map[String, EngineAgg] = {
    subtree(s).flatMap(x => listener.groupsOf(x.id)).groupBy(_._1).map { case (g, as) =>
      g -> as.map(_._2).foldLeft(new EngineAgg)(_ add _)
    }
  }

  private def subtree(s: Span): Seq[Span] = {
    val kids = spans.filter(_.parent.isDefined).groupBy(_.parent.get)
    def walk(x: Span): Seq[Span] = x +: kids.getOrElse(x.id, Nil).flatMap(walk)
    walk(s)
  }

  /** Share of the spans' summed wall time during which a Spark job they
    * submitted was running; the rest is driver-side time between jobs.
    */
  def jobCoverage(ops: Seq[Span]): Double = {
    val total = ops.map(_.durNs).sum
    if (total == 0) 0.0
    else {
      val covered = ops.map { s =>
        Span.coveredNs(s.startNs, s.endNs, subtree(s).flatMap(x => listener.jobsOf(x.id)).map { case (_, a, b) => (msToNs(a), msToNs(b)) })
      }
      covered.sum.toDouble / total
    }
  }

  /** One synthetic child span per job group the engine ran under `s`
    * (first job start to last job end): the pipeline's phases.
    */
  def phaseSpans(s: Span, firstId: Int): Seq[Span] =
    listener.jobsOf(s.id).filter(_._1.nonEmpty).groupBy(_._1).toSeq.sortBy(_._2.map(_._2).min).zipWithIndex.map {
      case ((g, js), i) => Span(firstId + i, s"phase:$g", Some(s.id), runId, msToNs(js.map(_._2).min), msToNs(js.map(_._3).max))
    }

  def engine(s: Span): EngineAgg = engineGroups(s).values.foldLeft(new EngineAgg)(_ add _)

  /** Spans as JSON lines, with self time and the engine work under each;
    * pipeline runs get their job-group phases as child spans.
    */
  def jsonLines: Seq[String] = {
    val recorded = spans
    var next = nextId
    val phases = recorded.filter(_.name == "pipeline.run").flatMap { s =>
      val ps = phaseSpans(s, next)
      next += ps.size
      ps
    }
    val all = recorded ++ phases
    val self = Span.selfTimes(all)
    val t0 = all.map(_.startNs).minOption.getOrElse(0L)
    all.map { s =>
      val e = new EngineAgg()
      // a phase span's work is its job group's share of the parent's work
      if (s.name.startsWith("phase:")) listener.groupsOf(s.parent.get).get(s.name.stripPrefix("phase:")).foreach(e.add)
      else listener.groupsOf(s.id).values.foreach(e.add)
      Json.render(
        Json.obj(
          "run_id" -> runId,
          "id" -> s.id,
          "name" -> s.name,
          "parent" -> s.parent,
          "start_s" -> (s.startNs - t0) / 1e9,
          "end_s" -> (s.endNs - t0) / 1e9,
          "dur_s" -> s.durNs / 1e9,
          "self_s" -> self(s.id) / 1e9,
          "jobs" -> e.jobs,
          "stages" -> e.stages,
          "tasks" -> e.tasks,
          "task_cpu_s" -> e.cpuNs / 1e9,
          "gc_s" -> e.gcMs / 1e3,
          "shuffle_write_mb" -> e.shuffleWriteBytes / 1e6,
          "fetch_wait_s" -> e.fetchWaitMs / 1e3,
          "spill_mb" -> e.spillBytes / 1e6
        )
      )
    }
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"
}
