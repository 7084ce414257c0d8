package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Executor-side work summed over a set of tasks, stages and jobs. */
final class ExecTotals {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var inputBytes = 0L
  var inputRecords = 0L
}

/** One recorded span: a named interval of the client thread, nested under
  * the span named `parent` ("" at the top), inside timed operation `op`. */
final case class Span(name: String, startNs: Long, endNs: Long, parent: String, op: Int) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** The client thread's view of what it is doing. Every job Spark starts
  * carries the submitting thread's local properties, so the listener can
  * tell timed work from untimed work (`OpProp`) and, in a traced
  * operation, the innermost open span (`SpanProp`). */
final class Tracer(sc: SparkContext) {
  import Tracer._

  val spans = mutable.ArrayBuffer.empty[Span]
  /** Wall-clock interval of every timed operation, epoch ms. */
  val opWindows = mutable.ArrayBuffer.empty[(Long, Long)]

  private var op = -1
  private var traced = false
  def tracing: Boolean = traced
  // open spans, innermost last: (name, start)
  private val stack = mutable.ArrayBuffer.empty[(String, Long)]
  private var segment: Option[(String, Long)] = None

  /** Runs `body` as timed operation `id`; returns its wall seconds. */
  def timedOp(id: Int, trace: Boolean)(body: => Unit): Double = {
    op = id; traced = trace
    sc.setLocalProperty(OpProp, id.toString)
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      closeSegment()
      op = -1; traced = false
      sc.setLocalProperty(OpProp, null)
      sc.setLocalProperty(SpanProp, null)
      opWindows += ((ms0, System.currentTimeMillis()))
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** Records `body` as span `name` when the operation is traced. */
  def span[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      closeSegment()
      stack += ((name, System.nanoTime()))
      sc.setLocalProperty(SpanProp, name)
      try body
      finally {
        closeSegment()
        val (n, s) = stack.remove(stack.size - 1)
        spans += Span(n, s, System.nanoTime(), enclosing, op)
        sc.setLocalProperty(SpanProp, stack.lastOption.map(_._1).orNull)
      }
    }

  /** Opens a span that runs until the next span starts or its parent
    * ends: for work the harness cannot wrap, like the jobs a program runs
    * between two of its calls into an instrumented interface. */
  def segmentFrom(name: String): Unit =
    if (traced) {
      closeSegment()
      segment = Some((name, System.nanoTime()))
      sc.setLocalProperty(SpanProp, name)
    }

  private def enclosing: String = stack.lastOption.map(_._1).getOrElse("")

  private def closeSegment(): Unit = segment.foreach { case (n, s) =>
    spans += Span(n, s, System.nanoTime(), enclosing, op)
    segment = None
    sc.setLocalProperty(SpanProp, stack.lastOption.map(_._1).orNull)
  }
}

object Tracer {
  val OpProp = "perfbench.op"
  val SpanProp = "perfbench.span"
}

/** Sums task, stage and job events of timed operations, in total and per
  * span name; keeps the wall interval of every timed stage. */
final class ExecListener extends SparkListener {
  val timed = new ExecTotals
  val bySpan = mutable.Map.empty[String, ExecTotals]
  val stageWindows = mutable.ArrayBuffer.empty[(Long, Long)]
  // stage id -> (timed?, span)
  private val stageOwner = mutable.Map.empty[Int, (Boolean, Option[String])]

  private def spanTotals(s: Option[String]): Option[ExecTotals] =
    s.map(n => bySpan.getOrElseUpdate(n, new ExecTotals))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val isTimed = props.exists(_.getProperty(Tracer.OpProp) != null)
    val span = props.flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
    e.stageIds.foreach(id => if (!stageOwner.contains(id)) stageOwner(id) = (isTimed, span))
    if (isTimed) {
      timed.jobs += 1
      spanTotals(span).foreach(_.jobs += 1)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageOwner.get(info.stageId).foreach { case (isTimed, span) =>
      if (isTimed) {
        timed.stages += 1
        spanTotals(span).foreach(_.stages += 1)
        for (s <- info.submissionTime; c <- info.completionTime) stageWindows += ((s, c))
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOwner.get(e.stageId).filter(_._1).foreach { case (_, span) =>
      val m = e.taskMetrics
      val i = e.taskInfo
      (Seq(timed) ++ spanTotals(span)).foreach { t =>
        t.tasks += 1
        if (m != null) {
          t.taskRunMs += m.executorRunTime
          t.cpuNs += m.executorCpuTime
          t.gcMs += m.jvmGCTime
          t.schedMs += math.max(0L, i.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime)
          t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          t.inputBytes += m.inputMetrics.bytesRead
          t.inputRecords += m.inputMetrics.recordsRead
        }
      }
    }
  }
}

/** Planning time of every query, from its `QueryExecution.tracker`:
  * (first phase start, summed phase milliseconds). */
final class PlanListener extends QueryExecutionListener {
  val plans = mutable.ArrayBuffer.empty[(Long, Long)]

  private def record(qe: QueryExecution): Unit = synchronized {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty) plans += ((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}

