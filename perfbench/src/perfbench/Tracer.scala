package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchBridge, SparkSession}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Executor-side work attributed to one Spark job group. */
final class TaskStats {
  var jobs, stages, tasks, runMs, cpuNs, gcMs, shuffleWrite, spill, input = 0L
  var analysisMs, optimizationMs, planningMs = 0.0

  def +=(o: TaskStats): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
    cpuNs += o.cpuNs; gcMs += o.gcMs; shuffleWrite += o.shuffleWrite
    spill += o.spill; input += o.input
    analysisMs += o.analysisMs; optimizationMs += o.optimizationMs; planningMs += o.planningMs
  }

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "executor_run_ms" -> runMs, "executor_cpu_ms" -> cpuNs / 1e6, "gc_ms" -> gcMs,
    "shuffle_write_bytes" -> shuffleWrite, "spill_bytes" -> spill, "input_bytes" -> input,
    "analysis_ms" -> analysisMs, "optimization_ms" -> optimizationMs,
    "planning_ms" -> planningMs)
}

/**
 * Spans around the benchmark's calls into the engine's layers, and the Spark
 * work each span caused. A disabled tracer runs each body and records
 * nothing, so untraced runs pay nothing for it.
 *
 * Every span sets a Spark job group; a `SparkListener` files jobs, stages
 * and task metrics under the group of the job that ran them, and Catalyst's
 * phase times under the group of the SQL execution. Groups are resolved
 * to spans only when the trace is read, after the listener bus has drained,
 * so a streaming query's group (its run id, set by the stream thread) can be
 * tied to a span after the query has started without a race.
 */
final class Tracer(spark: SparkSession, val enabled: Boolean) {

  final class Span(val id: Int, val parent: Int, val name: String, val timed: Boolean,
      val start: Long) {
    var end = 0L
    val groups = ArrayBuffer(s"perfbench-$id")
    def ms: Double = (end - start) / 1e6
  }

  private val spans = ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private val byGroup = new ConcurrentHashMap[String, TaskStats]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val execGroup = new ConcurrentHashMap[Long, String]()

  /** Set while the timed passes run; spans opened then count as timed. */
  var inTimed = false

  private def stats(group: String) = byGroup.computeIfAbsent(group, _ => new TaskStats)

  if (enabled) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("")
        stats(g).jobs += 1
        e.stageIds.foreach(s => stageGroup.putIfAbsent(s, g))
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stats(stageGroup.getOrDefault(e.stageInfo.stageId, "")).stages += 1
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val s = stats(stageGroup.getOrDefault(e.stageId, ""))
        s.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          s.runMs += m.executorRunTime
          s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          s.input += m.inputMetrics.bytesRead
        }
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          execGroup.put(s.executionId, s.jobGroupId.getOrElse(""))
        case end: SparkListenerSQLExecutionEnd =>
          val s = stats(execGroup.getOrDefault(end.executionId, ""))
          PerfbenchBridge.queryExecution(end).foreach(_.tracker.phases.foreach {
            case ("analysis", p)     => s.analysisMs += p.durationMs
            case ("optimization", p) => s.optimizationMs += p.durationMs
            case ("planning", p)     => s.planningMs += p.durationMs
            case _                   => ()
          })
        case _ => ()
      }
    })
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.size, open.headOption.map(_.id).getOrElse(-1), name, inTimed,
        System.nanoTime)
      spans += s
      open = s :: open
      val sc = spark.sparkContext
      sc.setJobGroup(s.groups.head, name)
      try body
      finally {
        s.end = System.nanoTime
        open = open.tail
        open.headOption match {
          case Some(p) => sc.setJobGroup(p.groups.head, p.name)
          case None    => sc.clearJobGroup()
        }
      }
    }

  /** Files the jobs of an outside job group (a streaming query's run id)
    * under the innermost open span. */
  def adopt(group: String): Unit =
    if (enabled) open.headOption.foreach(_.groups += group)

  /** Waits until every posted listener event has been handled. */
  def drain(): Unit = if (enabled) PerfbenchBridge.drain(spark.sparkContext)

  private def spanStats(s: Span): TaskStats = {
    val t = new TaskStats
    s.groups.foreach(g => Option(byGroup.get(g)).foreach(t += _))
    t
  }

  /** Durations in ms of the timed spans called `name`. */
  def timedMs(name: String): Seq[Double] =
    spans.iterator.filter(s => s.timed && s.name == name).map(_.ms).toSeq

  /** Durations in ms of every span called `name`, timed or not. */
  def allMs(name: String): Seq[Double] = spans.iterator.filter(_.name == name).map(_.ms).toSeq

  /** Spark work of the timed region: every timed span's own groups. */
  def timedStats: TaskStats = {
    val t = new TaskStats
    spans.iterator.filter(_.timed).foreach(s => t += spanStats(s))
    t
  }

  def spanCount: Int = spans.size

  /** Self time of a span: its duration minus the union of its children's
    * intervals (children never overlap here: spans are opened on one thread). */
  private def selfMs(s: Span, children: Map[Int, Seq[Span]]): Double =
    s.ms - children.getOrElse(s.id, Nil).map(_.ms).sum

  /** Every span, with its parent, self time and Spark work, as one JSON file. */
  def write(path: String, extra: Map[String, Any]): Unit = {
    val children = spans.toSeq.groupBy(_.parent)
    val t0 = spans.headOption.map(_.start).getOrElse(0L)
    val rows = spans.map { s =>
      Map[String, Any](
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "layer" -> s.name.takeWhile(_ != '.'), "timed" -> s.timed,
        "start_ms" -> (s.start - t0) / 1e6, "end_ms" -> (s.end - t0) / 1e6,
        "self_ms" -> selfMs(s, children), "spark" -> spanStats(s).toMap)
    }
    val unattributed = Option(byGroup.get("")).map(_.toMap).getOrElse(Map.empty)
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.write(Json(extra ++ Map("spans" -> rows, "unattributed" -> unattributed)))
    finally w.close()
  }
}
