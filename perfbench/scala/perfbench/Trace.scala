package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.BenchBridge
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** What the listener counted for one job group (one span). */
final class GroupStats {
  /** [start, end] epoch ms of each job. */
  val jobs: mutable.ArrayBuffer[Array[Long]] = mutable.ArrayBuffer.empty
  var stages = 0L
  var tasks = 0L
  val taskMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty
  var cpuNs = 0L
  var inputBytes = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var recordsOut = 0L
  var executions = 0L
  /** Analysis + optimizer + physical planning, from each execution's
    * `QueryExecution` phase tracker. */
  var planningMs = 0.0
  /** Rows the file scans of the group's executed plans returned. */
  var scanRows = 0L

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs.map(_.toSeq).toSeq, "stages" -> stages, "tasks" -> tasks,
    "task_ms" -> taskMs.toSeq, "cpu_ms" -> cpuNs / 1e6, "input_bytes" -> inputBytes,
    "shuffle_bytes" -> shuffleBytes, "spill_bytes" -> spillBytes,
    "records_out" -> recordsOut, "executions" -> executions,
    "planning_ms" -> planningMs, "scan_rows" -> scanRows)
}

/** Keys every job, stage, task and SQL execution to the job group that
  * was set when it started; the tracer gives each span its own group. */
final class SpanListener extends SparkListener with AdaptiveSparkPlanHelper {
  val groups: mutable.HashMap[String, GroupStats] = mutable.HashMap.empty
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val running = mutable.HashMap.empty[Int, Array[Long]]
  private val execGroup = mutable.HashMap.empty[Long, String]

  private def group(k: String): GroupStats = groups.getOrElseUpdate(k, new GroupStats)
  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse(SpanListener.NoGroup)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val k = groupOf(e.properties)
    val rec = Array(e.time, e.time)
    running(e.jobId) = rec
    group(k).jobs += rec
    e.stageIds.foreach(s => stageGroup(s) = k)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    running.remove(e.jobId).foreach(_(1) = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(k => group(k).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { k =>
      val g = group(k)
      g.tasks += 1
      g.taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        g.cpuNs += m.executorCpuTime
        g.inputBytes += m.inputMetrics.bytesRead
        g.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        g.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        g.recordsOut += m.outputMetrics.recordsWritten
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        execGroup(s.executionId) = s.jobGroupId.getOrElse(SpanListener.NoGroup)
      case s: SparkListenerSQLExecutionEnd =>
        val g = group(execGroup.remove(s.executionId).getOrElse(SpanListener.NoGroup))
        g.executions += 1
        val qe = BenchBridge.queryExecution(s)
        if (qe != null) {
          g.planningMs += qe.tracker.phases.values.map(_.durationMs).sum
          g.scanRows += collectWithSubqueries(qe.executedPlan) {
            case f: FileSourceScanExec => f.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
          }.sum
        }
      case _ =>
    }
  }
}

object SpanListener {
  val NoGroup = "<none>"
}

/** Spans around the benchmark's calls into each library layer: name,
  * start, end, parent, and the operation they belong to. Each span runs
  * under its own Spark job group, so the [[SpanListener]] counts land on
  * the innermost span that caused them. Everything stays in memory
  * until [[records]] at the end of the run. Disabled, a span is just
  * its body. */
final class Tracer(sc: SparkContext) {
  final class Span(val id: Int, val parent: Int, val op: Int, val name: String) {
    var startMs = 0.0
    var endMs = 0.0
    var gcMs = 0L
    var jitMs = 0L
    val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val listener = new SpanListener
  private var on = false
  /** The operation the next spans belong to. */
  var op: Int = -1

  def enabled: Boolean = on

  def start(): Unit = if (!on) { sc.addSparkListener(listener); on = true }

  /** Waits for the listener to see every event so far, then detaches it. */
  def stop(): Unit = if (on) {
    BenchBridge.drainListenerBus(sc)
    sc.removeSparkListener(listener)
    on = false
  }

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val jit = ManagementFactory.getCompilationMXBean
  private def gcMs(): Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum
  private def jitMs(): Long = if (jit == null) 0L else jit.getTotalCompilationTime

  /** Wall clock in epoch ms with sub-ms digits, comparable to the
    * listener's event times. */
  private val clockBase = System.currentTimeMillis() - System.nanoTime() / 1e6
  private def nowMs(): Double = clockBase + System.nanoTime() / 1e6

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), op, name)
      spans += s
      val outer = sc.getLocalProperty("spark.jobGroup.id")
      sc.setJobGroup(groupKey(s.id), name)
      val gc0 = gcMs()
      val jit0 = jitMs()
      stack = s :: stack
      s.startMs = nowMs()
      try body
      finally {
        s.endMs = nowMs()
        s.gcMs = gcMs() - gc0
        s.jitMs = jitMs() - jit0
        stack = stack.tail
        if (outer == null) sc.clearJobGroup() else sc.setJobGroup(outer, outer)
      }
    }

  /** Attaches a measured value to the innermost open span. */
  def attr(key: String, value: Double): Unit =
    if (on) stack.headOption.foreach(_.attrs(key) = value)

  private def groupKey(id: Int): String = s"perfbench-span-$id"

  /** Every span with its counts; call after [[stop]]. */
  def records(): Seq[Map[String, Any]] = spans.toSeq.map { s =>
    val g = listener.groups.getOrElse(groupKey(s.id), new GroupStats)
    Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "gc_ms" -> s.gcMs, "jit_ms" -> s.jitMs,
      "attrs" -> s.attrs.toMap) ++ g.toMap
  }
}
