package servebench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentLinkedQueue

/** One layer's interval within one request, in epoch microseconds;
  * `trimmed` is how much of the observed interval was cut off to fit the
  * span into its parent after its previous sibling. */
final case class Span(id: Int, name: String, layer: String, start: Long, end: Long,
    parent: Int, request: Int, trimmed: Long = 0) {
  def duration: Long = end - start
}

object Spans {
  /** Total length of the union of intervals. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var (curStart, curEnd) = (Long.MinValue, Long.MinValue)
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = s; curEnd = e
      } else curEnd = math.max(curEnd, e)
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** A span's self time: its duration minus the part of its interval
    * its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      s.id -> (s.duration - covered(kids))
    }.toMap
  }
}

/** Builds span trees from what the traced run observes: the client's
  * send, headers and done times, the render's `prepare`-hook mark, and
  * Spark's own events (SQL executions with their planning phases, jobs,
  * stages and tasks) from public listeners. Everything is held in memory
  * until the run ends. */
object Tracer {
  /** An executed query's planning phases (epoch ms start and end). */
  final case class Phases(execId: Long, analysis: (Long, Long), optimization: (Long, Long),
      planning: (Long, Long))
  final case class TaskRec(stage: Int, launch: Long, finish: Long, cpuNs: Long,
      bytesRead: Long, recordsRead: Long, shuffleWritten: Long)
}

final class Tracer(spark: SparkSession) {
  import Tracer._
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000
  def us(ns: Long): Long = baseUs + (ns - baseNs) / 1000

  val phases = new ConcurrentLinkedQueue[Phases]
  val execStart = new java.util.concurrent.ConcurrentHashMap[Long, Long]
  val execEnd = new java.util.concurrent.ConcurrentHashMap[Long, Long]
  val jobs = new ConcurrentLinkedQueue[(Int, Long)] // (job id, submission ms)
  val stageSubmit = new java.util.concurrent.ConcurrentHashMap[Int, Long]
  val tasks = new ConcurrentLinkedQueue[TaskRec]
  // Query listeners sit on the same shared listener queue as this one,
  // registered later, so each sees an execution's end right after this
  // listener did: `lastEnd` is the execution the query listener reports.
  @volatile private var lastEnd = -1L
  @volatile private var sentinelJob = -1
  @volatile private var sentinelSeen = false

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (e.properties != null && e.properties.getProperty("servebench.sentinel") != null)
        sentinelJob = e.jobId
      else jobs.add((e.jobId, e.time))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == sentinelJob) sentinelSeen = true
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      e.stageInfo.submissionTime.foreach(t => stageSubmit.put(e.stageInfo.stageId, t))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(TaskRec(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
        m.executorCpuTime, m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.shuffleWriteMetrics.bytesWritten))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => execStart.put(s.executionId, s.time)
      case s: SparkListenerSQLExecutionEnd =>
        execEnd.put(s.executionId, s.time)
        lastEnd = s.executionId
      case _ => ()
    }
  }
  spark.sparkContext.addSparkListener(sparkListener)

  /** Records each executed query's planning phases; `newSession()` does
    * not inherit listeners, so the traced run's `prepare` hook attaches
    * this to every per-request session. */
  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val p = qe.tracker.phases
      def span(name: String) = p.get(name).map(s => (s.startTimeMs, s.endTimeMs)).getOrElse((0L, 0L))
      phases.add(Phases(lastEnd, span("analysis"), span("optimization"), span("planning")))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  /** `prepare` marks (epoch µs) by the thread that rendered. */
  val prepareMarks = new ConcurrentLinkedQueue[Long]
  def prepare(ss: SparkSession): Unit = {
    prepareMarks.add(us(System.nanoTime()))
    ss.listenerManager.register(queryListener)
  }

  /** Wait until the listener bus has delivered everything posted so far:
    * a sentinel job's end reaches the shared queue after all earlier
    * events, then the query listeners get a moment to catch up. */
  def drain(): Unit = {
    val sc = spark.sparkContext
    sc.setLocalProperty("servebench.sentinel", "1")
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("servebench.sentinel", null)
    val deadline = System.nanoTime() + 10000000000L
    while (!sentinelSeen && System.nanoTime() < deadline) Thread.sleep(20)
    var stable = 0
    var last = -1
    while (stable < 5 && System.nanoTime() < deadline) {
      Thread.sleep(50)
      val n = phases.size + execEnd.size + tasks.size
      if (n == last) stable += 1 else { stable = 0; last = n }
    }
    spark.sparkContext.removeSparkListener(sparkListener)
  }
}
