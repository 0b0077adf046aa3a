package kgbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/**
 * In-memory spans around the benchmark's own calls into each layer. A span
 * is (id, name, parent, start, end) within one run id; spans nest on the
 * driver thread. `onEnter` is told the innermost open span after every push
 * and pop; the Spark binding sets it as a local property, so every job a
 * call submits is tagged with the span that caused it (threads Spark starts
 * from inside a span inherit the tag).
 */
final class Tracer(val runId: String, onEnter: Option[Int] => Unit = _ => ()) {
  import Tracer.Span

  private val spans = mutable.ArrayBuffer[Span]()
  private var current = -1
  private val t0 = System.nanoTime()

  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.size, name, current, System.nanoTime() - t0)
    spans += s
    val prev = current
    current = s.id
    onEnter(Some(s.id))
    try body
    finally {
      s.endNs = System.nanoTime() - t0
      current = prev
      onEnter(if (prev < 0) None else Some(prev))
    }
  }

  /** Innermost open span, -1 outside every span. */
  def currentId: Int = current
  def all: Seq[Span] = spans.toSeq
  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** The span and every span below it. */
  def subtree(id: Int): Set[Int] = {
    val out = mutable.Set(id)
    spans.foreach(s => if (s.parent >= 0 && out.contains(s.parent)) out += s.id)
    out.toSet
  }

  def selfSeconds(id: Int): Double = {
    val s = spans(id)
    Tracer.selfNs(s.startNs, s.endNs, children(id).map(c => (c.startNs, c.endNs))) / 1e9
  }
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, startNs: Long) {
    var endNs: Long = -1L
    def seconds: Double = (endNs - startNs) / 1e9
  }

  /** A span's self time: its duration minus the part of it that the union of
    * its children's intervals covers (children may overlap each other). */
  def selfNs(start: Long, end: Long, children: Seq[(Long, Long)]): Long = {
    val clipped = children.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) covered += curB - curA
    (end - start) - covered
  }

  val SpanProperty = "kgbench.span"

  /** Tracer whose spans tag the jobs of `sc`. */
  def forSpark(runId: String, sc: SparkContext): Tracer =
    new Tracer(runId, id => sc.setLocalProperty(SpanProperty, id.map(_.toString).orNull))
}

/** TaskMetrics summed over the tasks of one job. */
final class JobStats(val jobId: Int, val span: Int, val file: String, val startMs: Long) {
  var endMs: Long = -1L
  var tasks, failures = 0L
  var cpuNs, runMs, gcMs, queueMs = 0L
  var inputBytes, shuffleWrite, shuffleRead, spill = 0L
  val stages = mutable.Set[Int]()
  def seconds: Double = if (endMs < 0) 0.0 else (endMs - startMs) / 1e3
}

/**
 * Attributes each Spark job to the span that submitted it (the span local
 * property) and to its call-site source file, and sums the job's
 * TaskMetrics. Per stage it keeps task durations, for the max/p50 skew.
 */
final class SpanListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap[Int, JobStats]()
  private val stageJob = mutable.Map[Int, Int]()
  private val stageSubmit = mutable.Map[Int, Long]()
  val stageTaskMs: mutable.Map[Int, mutable.ArrayBuffer[Long]] = mutable.Map()

  private val ShortSite = """ at ([A-Za-z0-9_$]+\.(?:scala|java)):\d+""".r.unanchored
  private val LongSiteFrame = """(?m)^(?:graft|kgbench)\.[^(]*\(([A-Za-z0-9_$]+\.scala):\d+\)""".r.unanchored
  /** Call-site file of each SQL execution. Adaptive execution submits a
    * query's jobs from a thread pool, whose own call site names no program
    * file; the execution's records the thread that ran the action. */
  private val executionFile = mutable.Map[Long, String]()

  private def siteFile(short: String, long: String = ""): Option[String] =
    Option(short).collect { case ShortSite(f) if f.endsWith(".scala") => f }
      .orElse(Option(long).collect { case LongSiteFrame(f) => f })

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized(siteFile(s.description, s.details).foreach(executionFile(s.executionId) = _))
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val span = prop(Tracer.SpanProperty).map(_.toInt).getOrElse(-1)
    val file = prop("spark.sql.execution.id").flatMap(id => executionFile.get(id.toLong))
      .orElse(siteFile(prop("callSite.short").orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
        .getOrElse(""), prop("callSite.long").orNull))
      .getOrElse("")
    val j = new JobStats(e.jobId, span, file, e.time)
    e.stageInfos.foreach { s => stageJob(s.stageId) = e.jobId; j.stages += s.stageId }
    jobs(e.jobId) = j
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(t => stageSubmit(e.stageInfo.stageId) = t)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      if (e.reason != Success) j.failures += 1
      val info = e.taskInfo
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += info.duration
      stageSubmit.get(e.stageId).foreach(t => j.queueMs += math.max(0L, info.launchTime - t))
      val m = e.taskMetrics
      if (m != null) {
        j.cpuNs += m.executorCpuTime
        j.runMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.inputBytes += m.inputMetrics.bytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Jobs tagged with any of `spans`, after the listener bus has drained. */
  def jobsIn(sc: SparkContext, spans: Set[Int]): Seq[JobStats] = {
    org.apache.spark.KgbenchBus.drain(sc)
    synchronized(jobs.values.filter(j => spans.contains(j.span)).toSeq)
  }

  def allJobs(sc: SparkContext): Seq[JobStats] = {
    org.apache.spark.KgbenchBus.drain(sc)
    synchronized(jobs.values.toSeq)
  }

  /** max/p50 task duration of the stage with the most task time among `js`. */
  def skew(js: Seq[JobStats]): Double = synchronized {
    val stages = js.flatMap(_.stages).distinct.flatMap(s => stageTaskMs.get(s).map(s -> _))
    if (stages.isEmpty) 0.0
    else {
      val (_, ts) = stages.maxBy(_._2.sum)
      val p50 = Stats.median(ts.map(_.toDouble).toSeq)
      if (p50 <= 0) 0.0 else ts.max / p50
    }
  }
}

/**
 * Task CPU per stage attempt, summed and at its longest, for the critical
 * path of an interval (see `Main.critical`).
 */
final class StageCpu extends SparkListener {
  private val stages = mutable.Map[(Int, Int), (Long, Long)]()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val k = (e.stageId, e.stageAttemptId)
      val ns = m.executorDeserializeCpuTime + m.executorCpuTime
      val (sum, longest) = stages.getOrElse(k, (0L, 0L))
      stages(k) = (sum + ns, math.max(longest, ns))
    }
  }

  /** Task CPU nanoseconds of the stages run since the last call, and their
    * critical path: per stage, the longer of its task CPU spread over
    * `cores` and its longest task. */
  def take(sc: SparkContext, cores: Int): (Long, Long) = {
    org.apache.spark.KgbenchBus.drain(sc)
    synchronized {
      val r = (stages.values.map(_._1).sum, StageCpu.path(stages.values, cores))
      stages.clear()
      r
    }
  }
}

object StageCpu {
  /** Critical path of stages given as (task CPU sum, longest task). */
  def path(stages: Iterable[(Long, Long)], cores: Int): Long =
    stages.iterator.map { case (sum, longest) => math.max(sum / cores, longest) }.sum
}
