package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into a layer. `group` ties the spans
  * of one micro-batch or one query together; `parent` names the span of
  * the same group that caused this one (resolved when self time is
  * computed, so a parent recorded later — a trigger span built from its
  * progress event — still links).
  */
final case class Span(name: String, parent: String, group: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Epoch-nanosecond clock shared by bench-measured spans and the
  * engine's progress timestamps (epoch milliseconds).
  */
object Clock {
  private val epoch0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  def nowNs(): Long = toEpochNs(System.nanoTime())
  def toEpochNs(nanoTime: Long): Long = epoch0 + (nanoTime - nano0)
}

/** In-memory span recorder; a disabled tracer records nothing and only
  * runs the body, so untraced runs pay one branch per call.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]

  def span[T](name: String, parent: String, group: String)(body: => T): T =
    if (!enabled) body
    else {
      val t0 = Clock.nowNs()
      try body finally add(Span(name, parent, group, t0, Clock.nowNs()))
    }

  def add(s: Span): Unit = if (enabled) synchronized { spans += s }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Drop what set-up recorded; the timed window starts empty. */
  def clear(): Unit = synchronized(spans.clear())

  /** Self time per span name, in ms: each span's duration minus the part
    * of its interval covered by its children (same group, `parent` equal
    * to its name), summed over spans of that name.
    */
  def selfTimesMs: Map[String, Double] = {
    val ss = all
    val children = ss.groupBy(s => (s.group, s.parent))
    ss.groupBy(_.name).map { case (name, xs) =>
      name -> xs.map { s =>
        val kids = children.getOrElse((s.group, s.name), Nil)
          .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L
        var curA = Long.MinValue
        var curB = Long.MinValue
        kids.foreach { case (a, b) =>
          if (a > curB) { covered += curB - curA; curA = a; curB = b }
          else curB = math.max(curB, b)
        }
        if (curB > curA) covered += curB - curA
        (s.durNs - covered) / 1e6
      }.sum
    }
  }

  def toJson: String = Json.render(all.map(s => Map(
    "name" -> s.name, "parent" -> s.parent, "group" -> s.group,
    "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
}

/** Scheduler, executor and output counters from task, stage and job
  * events.
  */
final class LayerListener extends SparkListener {
  val jobs, stages, tasks, execCpuNs, gcMs = new AtomicLong
  val shuffleWrite, shuffleRead, spill, bytesWritten, rowsWritten = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.incrementAndGet(): Unit

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet(): Unit

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      execCpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      bytesWritten.addAndGet(m.outputMetrics.bytesWritten)
      rowsWritten.addAndGet(m.outputMetrics.recordsWritten)
    }
  }
}

/** Catalyst phase times (analysis + optimization + planning) and files
  * written by V1 write commands, per finished SQL execution.
  */
final class PlanListener extends QueryExecutionListener {
  val planningMs, filesWritten = new AtomicLong

  private def record(qe: QueryExecution): Unit = {
    planningMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
    filesWritten.addAndGet(filesOf(qe.executedPlan))
  }

  /** `numFiles` of every V1 write command in the plan, looking through
    * the wrappers an eagerly run command and adaptive execution add.
    */
  private def filesOf(plan: SparkPlan): Long = plan match {
    case w: DataWritingCommandExec => w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
    case c: CommandResultExec => filesOf(c.commandPhysicalPlan)
    case a: AdaptiveSparkPlanExec => filesOf(a.executedPlan)
    case p => p.children.map(filesOf).sum
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = record(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = record(qe)
}

/** Progress events of the bench's streaming queries, as the engine
  * reports them after each micro-batch commits.
  */
final class ProgressListener extends StreamingQueryListener {
  private val buf = ArrayBuffer.empty[StreamingQueryProgress]
  def progress: Seq[StreamingQueryProgress] = synchronized(buf.toList)
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { buf += e.progress }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** The traced run's listeners plus the JVM-wide codegen counters, read
  * as deltas over the timed window.
  */
final class Layers(spark: SparkSession) {
  val sched = new LayerListener
  val plan = new PlanListener
  val stream = new ProgressListener
  private var cg0 = (0L, 0L)

  def register(): Unit = {
    spark.sparkContext.addSparkListener(sched)
    spark.listenerManager.register(plan)
    spark.streams.addListener(stream)
  }

  def markStart(): Unit = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    cg0 = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      CodeGenerator.compileTime)
  }

  def snapshot(): Map[String, Long] = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    Map(
      "codegen_compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0._1),
      "codegen_ns" -> (CodeGenerator.compileTime - cg0._2),
      "jobs" -> sched.jobs.get, "stages" -> sched.stages.get,
      "tasks" -> sched.tasks.get, "exec_cpu_ns" -> sched.execCpuNs.get,
      "gc_ms" -> sched.gcMs.get, "shuffle_write" -> sched.shuffleWrite.get,
      "shuffle_read" -> sched.shuffleRead.get, "spill" -> sched.spill.get,
      "planning_ms" -> plan.planningMs.get,
      "files_written" -> plan.filesWritten.get)
  }

  /** Bytes and rows the tasks finished so far have written to output
    * (files, tables), as the engine's task metrics report them.
    */
  def written(): Map[String, Double] = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    Map("bytes_written" -> sched.bytesWritten.get.toDouble,
      "rows_written" -> sched.rowsWritten.get.toDouble)
  }

  /** Zero the listener counters (the codegen counters are re-based by
    * [[markStart]]).
    */
  def reset(): Unit = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    Seq(sched.jobs, sched.stages, sched.tasks, sched.execCpuNs, sched.gcMs,
      sched.shuffleWrite, sched.shuffleRead, sched.spill, sched.bytesWritten,
      sched.rowsWritten, plan.planningMs,
      plan.filesWritten)
      .foreach(_.set(0))
  }
}
