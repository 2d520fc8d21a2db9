package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are wall-clock microseconds, so spans taken here line up
  * with the millisecond timestamps Spark's listener events carry.
  */
final case class Span(
    trace: Long, id: Long, parent: Long, name: String, layer: String, start: Long, end: Long) {
  def interval: (Long, Long) = (start, end)
  def ms: Double = (end - start) / 1000.0
}

/** In-memory span recorder. Spans stay in memory until the run ends. */
final class Tracer {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  private val ids = new AtomicLong(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()

  def nowUs: Long = baseMs * 1000 + (System.nanoTime() - baseNs) / 1000
  def newId(): Long = ids.incrementAndGet()

  def record(trace: Long, parent: Long, name: String, layer: String, start: Long, end: Long,
      id: Long = newId()): Span = {
    val s = Span(trace, id, parent, name, layer, start, end)
    spans.add(s)
    s
  }

  /** Time `body` as a span; returns its value and the span. */
  def timed[T](trace: Long, parent: Long, name: String, layer: String)(body: => T): (T, Span) = {
    val start = nowUs
    val v = body
    (v, record(trace, parent, name, layer, start, nowUs))
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.start)
}

/** Per-job counters gathered from the listener bus. */
final case class JobRecord(
    id: Int, startMs: Long, endMs: Long, tasks: Long, taskMs: Long,
    recordsRead: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long)

/** Collects Spark jobs (SparkListener) and SQL executions (QueryExecutionListener).
  * Registered only for the traced run; callback time is accumulated so the listener's
  * own cost is reported.
  */
final class JobCollector extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  private final class Acc(val id: Int, val startMs: Long, val stageIds: Seq[Int]) {
    @volatile var endMs: Long = -1
  }
  private final class StageAcc {
    var tasks, taskMs, recordsRead, shuffleRead, shuffleWrite = 0L
  }
  private val jobs = new ConcurrentHashMap[Int, Acc]()
  private val stageOwner = new ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentHashMap[Int, StageAcc]()
  private val sqlPlans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double, Int)]()
  val callbackNs = new AtomicLong(0)

  private def timedCb(body: => Unit): Unit = {
    val t = System.nanoTime()
    try body finally callbackNs.addAndGet(System.nanoTime() - t)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timedCb {
    jobs.put(e.jobId, new Acc(e.jobId, e.time, e.stageIds))
    e.stageIds.foreach(s => stageOwner.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timedCb {
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timedCb {
    val m = e.taskMetrics
    val acc = stages.computeIfAbsent(e.stageId, _ => new StageAcc)
    acc.synchronized {
      acc.tasks += 1
      if (m != null) {
        acc.taskMs += m.executorRunTime
        acc.recordsRead += m.inputMetrics.recordsRead
        acc.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  /** Dated by the start of its first planning phase (analysis runs when the Dataset
    * is built, inside the op that builds it).
    */
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = timedCb {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty) {
      val planMs = phases.map(p => p.endTimeMs - p.startTimeMs).sum
      val exchanges = collect(qe.executedPlan) { case x: Exchange => x }.size
      sqlPlans.add((phases.map(_.startTimeMs).min, planMs.toDouble, exchanges))
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Completed jobs, with their stages' task counters. */
  def completedJobs: Seq[JobRecord] = jobs.values.asScala.toSeq.filter(_.endMs >= 0).map { j =>
    val own = j.stageIds.filter(s => stageOwner.get(s) == j.id).flatMap(s => Option(stages.get(s)))
    JobRecord(j.id, j.startMs, j.endMs, own.map(_.tasks).sum, own.map(_.taskMs).sum,
      own.map(_.recordsRead).sum, own.map(_.shuffleRead).sum, own.map(_.shuffleWrite).sum)
  }.sortBy(_.startMs)

  /** SQL executions: (start ms, planning ms, exchanges in the executed plan). */
  def sqlExecutions: Seq[(Long, Double, Int)] = sqlPlans.asScala.toSeq
}

object Attribution {

  /** Attach each item, by its start time, to the op span that was running when it
    * started: the latest op whose start is not after it (one client runs ops one at a
    * time, so the match is exact). Listener times are whole milliseconds, hence the
    * 1 ms slack.
    */
  def byStart[T](ops: Seq[Span], items: Seq[T])(startUs: T => Long): Map[Long, Seq[T]] = {
    val sorted = ops.sortBy(_.start).toIndexedSeq
    val starts = sorted.map(_.start)
    val out = mutable.Map.empty[Long, mutable.ArrayBuffer[T]]
    for (it <- items) {
      val t = startUs(it) + 1000
      var lo = 0; var hi = starts.size // first index with start > t
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (starts(mid) <= t) lo = mid + 1 else hi = mid
      }
      if (lo > 0) {
        val op = sorted(lo - 1)
        if (startUs(it) <= op.end) out.getOrElseUpdate(op.id, mutable.ArrayBuffer.empty) += it
      }
    }
    out.view.mapValues(_.toSeq).toMap
  }
}
