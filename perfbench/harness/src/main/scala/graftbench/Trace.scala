package graftbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval, in microseconds on the epoch scale (the scale
  * Spark's listener events use, at their millisecond resolution).
  */
final case class Span(id: Int, parent: Int, name: String, kind: String,
    startUs: Long, endUs: Long, attrs: Map[String, Double] = Map.empty) {
  def durUs: Long = endUs - startUs
}

object Spans {

  /** Length of the union of `intervals`, clipped to `[lo, hi)`. */
  def covered(lo: Long, hi: Long, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) total += curE - curS
        curS = a; curE = b
      } else if (b > curE) curE = b
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of every span: its duration minus the part of it that its
    * child spans cover.
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val c = kids.getOrElse(s.id, Nil).map(k => (k.startUs, k.endUs))
      s.id -> (s.durUs - covered(s.startUs, s.endUs, c))
    }.toMap
  }

  /** Every span id under `root`, `root` included. */
  def subtree(spans: Seq[Span], root: Int): Set[Int] = {
    val kids = spans.groupBy(_.parent)
    def go(id: Int): Set[Int] =
      kids.getOrElse(id, Nil).foldLeft(Set(id))((acc, k) => acc ++ go(k.id))
    go(root)
  }

  /** The innermost span whose interval contains `us`, or 0. */
  def innermostAt(spans: Seq[Span], us: Long): Int = {
    val hits = spans.filter(s => s.startUs <= us && us < s.endUs)
    if (hits.isEmpty) 0 else hits.minBy(_.durUs).id
  }
}

/** How a pass marks layer boundaries. The untraced runs use [[NoTrace]]. */
trait Tracing {
  def span[A](name: String, kind: String)(body: => A): A
  /** Attach a measured value to the innermost open span. */
  def annotate(key: String, value: Double): Unit
}

object NoTrace extends Tracing {
  def span[A](name: String, kind: String)(body: => A): A = body
  def annotate(key: String, value: Double): Unit = ()
}

/** Records spans in memory. Before each span's body runs, the Spark job
  * group of the calling thread is set to the span, so that the jobs it
  * causes carry the span's id; the parent's group is restored after.
  */
final class SpanRecorder(sc: SparkContext) extends Tracing {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  private final class Open(val id: Int, val parent: Int, val name: String,
      val kind: String, val startUs: Long) {
    val attrs = mutable.LinkedHashMap[String, Double]()
  }
  private var stack = List.empty[Open]
  private var nextId = 1
  val spans = ArrayBuffer[Span]()

  def span[A](name: String, kind: String)(body: => A): A = {
    val o = new Open(nextId, stack.headOption.map(_.id).getOrElse(0), name, kind, nowUs)
    nextId += 1
    stack = o :: stack
    sc.setJobGroup(SpanRecorder.group(o.id), name, interruptOnCancel = false)
    try body
    finally {
      spans += Span(o.id, o.parent, name, kind, o.startUs, nowUs, o.attrs.toMap)
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(SpanRecorder.group(p.id), p.name, interruptOnCancel = false)
        case None    => sc.clearJobGroup()
      }
    }
  }

  def annotate(key: String, value: Double): Unit =
    stack.headOption.foreach(o => o.attrs(key) = o.attrs.getOrElse(key, 0.0) + value)
}

object SpanRecorder {
  /** The local property `SparkContext.setJobGroup` sets. */
  val groupProperty = "spark.jobGroup.id"
  val prefix = "graftbench-span-"
  def group(id: Int): String = prefix + id
  def spanOf(group: String): Option[Int] =
    Option(group).filter(_.startsWith(prefix)).map(_.drop(prefix.length).toInt)
}

/** Task, stage and job counters of one stage, summed over its tasks. */
final class StageCounters {
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  val taskMs = ArrayBuffer[Long]()
}

final case class JobRecord(id: Int, group: String, startUs: Long, endUs: Long, stageIds: Seq[Int])

/** Spark-engine counters: a SparkListener for jobs, stages and tasks and a
  * QueryExecutionListener for Catalyst's phase times. Events arrive on the
  * listener bus thread; every access is synchronized on this object, and
  * readers drain the bus first ([[org.apache.spark.GraftBenchBus]]).
  */
final class EngineCounters extends SparkListener with QueryExecutionListener {
  private val jobStart = mutable.LinkedHashMap[Int, (String, Long, Seq[Int])]()
  private val jobEnd = mutable.Map[Int, Long]()
  private val stageGroup = mutable.Map[Int, String]()
  private val stageDone = mutable.Set[Int]()
  private val stages = mutable.Map[Int, StageCounters]()
  private val phases = mutable.Map[String, Long]().withDefaultValue(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).map(_.getProperty(SpanRecorder.groupProperty)).orNull
    jobStart(e.jobId) = (g, e.time * 1000L, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobEnd(e.jobId) = e.time * 1000L
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    Option(e.properties).map(_.getProperty(SpanRecorder.groupProperty))
      .foreach(g => if (g != null) stageGroup(e.stageInfo.stageId) = g)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageDone += e.stageInfo.stageId
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = stages.getOrElseUpdate(e.stageId, new StageCounters)
    c.tasks += 1
    c.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      c.cpuNs += m.executorCpuTime
      c.runMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.inputBytes += m.inputMetrics.bytesRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.spillBytes += m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    addPhases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    addPhases(qe)
  private def addPhases(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (phase, s) => phases(phase) += s.durationMs }
  }

  def reset(): Unit = synchronized {
    jobStart.clear(); jobEnd.clear(); stageGroup.clear(); stageDone.clear()
    stages.clear(); phases.clear()
  }

  def jobs: Seq[JobRecord] = synchronized {
    jobStart.toSeq.map { case (id, (g, s, st)) =>
      JobRecord(id, g, s, jobEnd.getOrElse(id, s), st)
    }
  }
  /** Completed stages with their counters and their job group, if any. */
  def completedStages: Seq[(Int, Option[String], StageCounters)] = synchronized {
    stageDone.toSeq.sorted.map(id =>
      (id, stageGroup.get(id), stages.getOrElse(id, new StageCounters)))
  }
  def phaseMs: Map[String, Long] = synchronized(phases.toMap)
}

/** Jobs and stages of one traced pass, each attributed to the span that
  * caused it: by job group first, by time interval as the fallback (safe
  * because operations run one at a time).
  */
final class Attribution(val spans: Seq[Span], counters: EngineCounters) {
  val jobs: Seq[JobRecord] = counters.jobs
  val jobSpan: Map[Int, Int] = jobs.map { j =>
    j.id -> SpanRecorder.spanOf(j.group).filter(id => spans.exists(_.id == id))
      .getOrElse(Spans.innermostAt(spans, j.startUs))
  }.toMap
  private val stageJob: Map[Int, Int] =
    jobs.reverse.flatMap(j => j.stageIds.map(_ -> j.id)).toMap
  val stages: Seq[(Int, Int, StageCounters)] = counters.completedStages.map {
    case (id, g, c) =>
      val byGroup = g.flatMap(SpanRecorder.spanOf).filter(s => spans.exists(_.id == s))
      (id, byGroup.orElse(stageJob.get(id).map(jobSpan)).getOrElse(0), c)
  }

  def jobsIn(ids: Set[Int]): Seq[JobRecord] = jobs.filter(j => ids(jobSpan(j.id)))
  def stagesIn(ids: Set[Int]): Seq[StageCounters] =
    stages.collect { case (_, s, c) if ids(s) => c }
}
