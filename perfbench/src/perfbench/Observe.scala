package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.GenerateExec
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans held in memory and written out when the run ends. Times are
  * nanoseconds since the run started; Spark's millisecond event times
  * are mapped onto the same clock.
  */
final case class Span(id: Long, parent: Long, name: String, layer: String,
                      start: Long, var end: Long, counts: Map[String, Double])

final class Trace(val runId: String) {
  private val t0 = System.nanoTime()
  private val epochMs0 = System.currentTimeMillis()
  private val ids = new AtomicLong(0)
  private val stack = scala.collection.mutable.Stack[Long](0L)
  val spans = ArrayBuffer.empty[Span]

  /** Spans are kept only while this is on: during traced units. */
  var recording = false

  def now: Long = System.nanoTime() - t0
  def fromEpochMs(ms: Long): Long = (ms - epochMs0) * 1000000L

  /** Runs `body` inside a span; jobs it submits carry the span id in
    * the `perfbench.span` local property so the listener can parent
    * them.
    */
  def span[T](spark: SparkSession, name: String, layer: String)(body: Long => T): T = {
    if (!recording) return body(0L)
    val id = ids.incrementAndGet()
    val s = Span(id, stack.top, name, layer, now, -1, Map.empty)
    spans += s
    stack.push(id)
    spark.sparkContext.setLocalProperty(Trace.Prop, id.toString)
    try body(id)
    finally {
      s.end = now
      stack.pop()
      spark.sparkContext.setLocalProperty(Trace.Prop, stack.top.toString)
    }
  }

  def add(parent: Long, name: String, layer: String, start: Long, end: Long,
          counts: Map[String, Double] = Map.empty): Long = {
    if (!recording) return 0L
    val id = ids.incrementAndGet()
    spans += Span(id, parent, name, layer, start, end, counts)
    id
  }

  /** Self time per layer: each span's duration minus the part of it
    * that its children cover.
    */
  def selfTimeByLayer: Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.filter(_.end >= 0).groupMapReduce(_.layer) { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          val from = math.max(a, reach)
          (sum + math.max(0L, b - from), math.max(reach, b))
        }._1
      (s.end - s.start - covered) / 1e9
    }(_ + _)
  }
}

object Trace { val Prop = "perfbench.span" }

/** Executor-side totals the listener saw over one window of work. */
final case class Window(
    jobs: Int, stages: Int, tasks: Long,
    runS: Double, cpuS: Double, gcS: Double,
    shuffleWrite: Long, shuffleRead: Long, spill: Long, inputBytes: Long,
    jobIntervals: Seq[(Long, Long)], maxTaskShare: Double,
    jobSpans: Seq[(Long, Long, Long, Long)], // (span, jobId, startMs, endMs)
    stageSpans: Seq[(Long, Int, Long, Long, Int)], // (jobId, stageId, startMs, endMs, tasks)
    executions: Seq[QueryExecution]) {

  /** Wall time inside [fromMs, toMs] with no Spark job running. */
  def outsideJobs(fromMs: Long, toMs: Long): Double = {
    val merged = jobIntervals.map { case (a, b) => (math.max(a, fromMs), math.min(b, toMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
        val from = math.max(a, reach)
        (sum + math.max(0L, b - from), math.max(reach, b))
      }._1
    (toMs - fromMs - merged) / 1e3
  }
}

/** Watches Spark from outside: scheduler events and finished query
  * executions. `take()` returns what arrived since the last call; call
  * it after `GraftSql.drainListenerBus` so every event is in.
  */
final class Observer extends SparkListener with QueryExecutionListener {
  private case class JobStart(time: Long, span: Long, stages: Seq[Int])
  private val started = new ConcurrentHashMap[Int, JobStart]()
  private val jobs = new ConcurrentLinkedQueue[(Int, JobStart, Long)]()
  private val stages = new ConcurrentLinkedQueue[StageInfo]()
  private val maxTask = new ConcurrentHashMap[(Int, Int), java.lang.Long]()
  private val tasks = new ConcurrentLinkedQueue[org.apache.spark.executor.TaskMetrics]()
  private val qes = new ConcurrentLinkedQueue[QueryExecution]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.Prop)))
      .map(_.toLong).getOrElse(0L)
    started.put(e.jobId, JobStart(e.time, span, e.stageIds))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(started.remove(e.jobId)).foreach(s => jobs.add((e.jobId, s, e.time)))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.add(e.stageInfo)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    if (e.taskMetrics != null) tasks.add(e.taskMetrics)
    maxTask.merge((e.stageId, e.stageAttemptId), e.taskInfo.duration, (a, b) => math.max(a, b))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = qes.add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = qes.add(qe)

  private def drain[T](q: ConcurrentLinkedQueue[T]): Seq[T] = {
    val out = ArrayBuffer.empty[T]
    var x = q.poll()
    while (x != null) { out += x; x = q.poll() }
    out.toSeq
  }

  def take(): Window = {
    val js = drain(jobs)
    val ss = drain(stages)
    val ts = drain(tasks)
    val stageDur = ss.map(s => s -> (s.completionTime.getOrElse(0L) - s.submissionTime.getOrElse(0L)))
    val maxShare = if (stageDur.isEmpty) 0.0 else {
      val (slowest, dur) = stageDur.maxBy(_._2)
      val longest = Option(maxTask.get((slowest.stageId, slowest.attemptNumber()))).map(_.longValue).getOrElse(0L)
      if (dur > 0) longest.toDouble / dur else 0.0
    }
    maxTask.clear()
    val jobOfStage = js.flatMap { case (id, s, _) => s.stages.map(_ -> id) }.toMap
    Window(
      jobs = js.size, stages = ss.size, tasks = ts.size.toLong,
      runS = ts.map(_.executorRunTime).sum / 1e3,
      cpuS = ts.map(_.executorCpuTime).sum / 1e9,
      gcS = ts.map(_.jvmGCTime).sum / 1e3,
      shuffleWrite = ts.map(_.shuffleWriteMetrics.bytesWritten).sum,
      shuffleRead = ts.map(_.shuffleReadMetrics.totalBytesRead).sum,
      spill = ts.map(_.diskBytesSpilled).sum,
      inputBytes = ts.map(_.inputMetrics.bytesRead).sum,
      jobIntervals = js.map { case (_, s, end) => (s.time, end) },
      maxTaskShare = maxShare,
      jobSpans = js.map { case (id, s, end) => (s.span, id.toLong, s.time, end) },
      stageSpans = ss.map(s => (jobOfStage.getOrElse(s.stageId, -1).toLong, s.stageId,
        s.submissionTime.getOrElse(0L), s.completionTime.getOrElse(0L), s.numTasks)),
      executions = drain(qes))
  }
}

/** Node counts and SQL metrics of an executed plan, read through the
  * adaptive plan's final stages.
  */
final case class PlanStats(exchanges: Int, sorts: Int, scans: Int, scanRows: Long,
                           generateRows: Long, partialAggRows: Long) {
  def +(o: PlanStats): PlanStats = PlanStats(exchanges + o.exchanges, sorts + o.sorts,
    scans + o.scans, scanRows + o.scanRows, generateRows + o.generateRows,
    partialAggRows + o.partialAggRows)
}

object PlanStats extends AdaptiveSparkPlanHelper {
  val Zero: PlanStats = PlanStats(0, 0, 0, 0, 0, 0)

  private def rows(p: SparkPlan): Long = p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)

  def of(plan: SparkPlan): PlanStats = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    val leaves = nodes.filter(p => p.children.isEmpty && !p.isInstanceOf[ReusedExchangeExec] &&
      !p.isInstanceOf[QueryStageExec])
    PlanStats(
      exchanges = nodes.count(_.isInstanceOf[Exchange]),
      sorts = nodes.count(_.isInstanceOf[SortExec]),
      scans = leaves.size,
      scanRows = leaves.map(rows).sum,
      generateRows = nodes.collect { case g: GenerateExec => rows(g) }.sum,
      partialAggRows = nodes.collect {
        case a: HashAggregateExec if a.aggregateExpressions.exists(_.mode == Partial) => rows(a)
      }.sum)
  }

  /** Analysis, optimization and physical-planning seconds of one
    * execution, from its planning tracker.
    */
  def phases(qe: QueryExecution): (Double, Double, Double) = {
    val ph = qe.tracker.phases
    def s(name: String) = ph.get(name).map(_.durationMs / 1e3).getOrElse(0.0)
    (s("analysis"), s("optimization"), s("planning"))
  }
}
