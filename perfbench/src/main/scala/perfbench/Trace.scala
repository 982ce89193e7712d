package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.SortAggregateExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** Everything the listeners add up. Subtracting two snapshots gives
  * the work of the interval between them.
  */
final case class Counts(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0, failedTasks: Long = 0,
    cpuNs: Long = 0, gcMs: Long = 0, inputBytes: Long = 0,
    shuffleWriteBytes: Long = 0, shuffleReadBytes: Long = 0, spillBytes: Long = 0,
    pipeTasks: Long = 0, analysisMs: Long = 0, optimizationMs: Long = 0,
    planningMs: Long = 0, exchanges: Long = 0, wscgSubtrees: Long = 0,
    codegenFallbacks: Long = 0, sortAggregates: Long = 0) {
  def -(o: Counts): Counts = Counts(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks, failedTasks - o.failedTasks,
    cpuNs - o.cpuNs, gcMs - o.gcMs, inputBytes - o.inputBytes,
    shuffleWriteBytes - o.shuffleWriteBytes, shuffleReadBytes - o.shuffleReadBytes,
    spillBytes - o.spillBytes, pipeTasks - o.pipeTasks, analysisMs - o.analysisMs,
    optimizationMs - o.optimizationMs, planningMs - o.planningMs,
    exchanges - o.exchanges, wscgSubtrees - o.wscgSubtrees,
    codegenFallbacks - o.codegenFallbacks, sortAggregates - o.sortAggregates)
}

/** A timed interval at a layer boundary. `parent` is the span that
  * caused it (-1 for an op's root span); spans of one op share `op`.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Scheduler, task, Catalyst and plan-shape counters for the traced
  * run, plus the span recorder. Registered only while tracing, so the
  * untraced passes run without it.
  */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {

  private var c = Counts()
  /** Wall-clock [start, end] of every finished job, epoch ms. */
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jobStarts = mutable.Map.empty[Int, Long]

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  private var nextSpan = 0
  private var currentOp = -1

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  def snapshot(): Counts = { drain(); synchronized(c) }

  /** Milliseconds of [fromMs, toMs] during which no job was running. */
  def idleMs(fromMs: Long, toMs: Long): Long = synchronized {
    val inside = jobSpans.iterator
      .map { case (s, e) => (math.max(s, fromMs), math.min(e, toMs)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var busy = 0L
    var reach = fromMs
    inside.foreach { case (s, e) =>
      if (e > reach) { busy += e - math.max(s, reach); reach = e }
    }
    math.max(0L, (toMs - fromMs) - busy)
  }

  // ---- spans ----

  def beginOp(op: Int): Unit = currentOp = op

  def span[A](name: String)(body: => A): A = {
    val id = nextSpan
    nextSpan += 1
    val parent = open.headOption.getOrElse(-1)
    open.push(id)
    val t0 = System.nanoTime()
    try body
    finally {
      open.pop()
      spans += Span(id, parent, currentOp, name, t0, System.nanoTime())
    }
  }

  def allSpans: Seq[Span] = spans.toSeq

  /** Self time per span name: a span's duration minus the part of it
    * its child spans cover.
    */
  def selfMs: Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        s.durNs - children.getOrElse(s.id, Nil).map(_.durNs).sum
      }.sum / 1e6
    }
  }

  // ---- SparkListener ----

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    c = c.copy(jobs = c.jobs + 1)
    jobStarts(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    // each task of a stage that runs a pipe partition spawns one child
    val pipe = if (info.rddInfos.exists(_.callSite.contains("PipeOps.scala"))) info.numTasks else 0
    c = c.copy(stages = c.stages + 1, pipeTasks = c.pipeTasks + pipe)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val failed = if (e.taskInfo.successful) 0 else 1
    val m = e.taskMetrics
    c = if (m == null) c.copy(tasks = c.tasks + 1, failedTasks = c.failedTasks + failed)
    else c.copy(
      tasks = c.tasks + 1, failedTasks = c.failedTasks + failed,
      cpuNs = c.cpuNs + m.executorCpuTime, gcMs = c.gcMs + m.jvmGCTime,
      inputBytes = c.inputBytes + m.inputMetrics.bytesRead,
      shuffleWriteBytes = c.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
      shuffleReadBytes = c.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
      spillBytes = c.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  // ---- QueryExecutionListener: Catalyst phases and final plan shape ----

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
    val plan: SparkPlan = qe.executedPlan
    def count(pf: PartialFunction[SparkPlan, Unit]): Long =
      collectWithSubqueries(plan) { case p if pf.isDefinedAt(p) => 1 }.size.toLong
    val fallbacks = collectWithSubqueries(plan) { case p =>
      p.expressions.map(_.collect { case f: CodegenFallback => f }.size).sum
    }.sum.toLong
    val exchanges = count { case _: Exchange => }
    val wscg = count { case _: WholeStageCodegenExec => }
    val sortAggs = count { case _: SortAggregateExec => }
    synchronized {
      c = c.copy(
        analysisMs = c.analysisMs + ms(QueryPlanningTracker.ANALYSIS),
        optimizationMs = c.optimizationMs + ms(QueryPlanningTracker.OPTIMIZATION),
        planningMs = c.planningMs + ms(QueryPlanningTracker.PLANNING),
        exchanges = c.exchanges + exchanges, wscgSubtrees = c.wscgSubtrees + wscg,
        codegenFallbacks = c.codegenFallbacks + fallbacks,
        sortAggregates = c.sortAggregates + sortAggs)
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
