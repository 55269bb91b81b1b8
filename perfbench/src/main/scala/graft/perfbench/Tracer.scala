package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. All spans of an operation share `op`; `parent`
  * is the id of the enclosing span ("" for the operation itself). */
final case class Span(op: String, id: String, name: String, start: Long, end: Long, parent: String) {
  def dur: Long = math.max(0L, end - start)
}

/** Counters of one operation, summed over its jobs, tasks and plans. */
final class Counters {
  var jobs, stages, tasks = 0L
  var taskMs, taskCpuNs, gcMs, fetchWaitMs = 0L
  var shuffleWrite, shuffleRead, spill, outputBytes = 0L
  var scanBytes, scanFiles = 0L
}

/** Collects spans and counters for traced passes, from outside the
  * program: a `SparkListener` on the context (jobs, stages, tasks) and
  * a `QueryExecutionListener` on every session a frame runs in
  * (planning phases, scan nodes). `FullTpch` runs its SQL in a child
  * session, so listening on the harness's own session alone would miss
  * its plans. Jobs are attributed by job group, which the harness sets
  * to the operation id before each traced operation. */
final class Tracer extends SparkListener with QueryExecutionListener with AdaptiveSparkPlanHelper {
  @volatile private var current = ""
  private val counters = new ConcurrentHashMap[String, Counters]()
  private val jobOp = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val raw = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val seq = new java.util.concurrent.atomic.AtomicLong()
  private val sessions = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[org.apache.spark.sql.SparkSession, java.lang.Boolean]())

  def begin(op: String): Unit = { current = op; counters.put(op, new Counters) }
  def countersOf(op: String): Counters = counters.getOrDefault(op, new Counters)

  /** Registers the plan listener on `s` once. */
  def watch(s: org.apache.spark.sql.SparkSession): Unit = sessions.synchronized {
    if (sessions.add(s)) s.listenerManager.register(this)
  }
  def unwatchAll(): Unit = sessions.synchronized {
    sessions.asScala.foreach(_.listenerManager.unregister(this))
    sessions.clear()
  }

  /** Spans recorded by listeners for `op` (jobs, stages, plan phases). */
  def drainSpans(op: String): Seq[Span] = {
    val out = raw.asScala.filter(_.op == op).toSeq
    raw.removeIf(_.op == op)
    out
  }

  private def c(op: String): Counters = counters.computeIfAbsent(op, _ => new Counters)
  private def opOfStage(stage: Int): String =
    Option(stageJob.get(stage)).flatMap(j => Option(jobOp.get(j))).getOrElse(current)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse(current)
    jobOp.put(e.jobId, op)
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val op = Option(jobOp.get(e.jobId)).getOrElse(current)
    val start = Option(jobStart.remove(e.jobId)).map(_.longValue).getOrElse(e.time)
    raw.add(Span(op, s"job${e.jobId}", "job", start, e.time, ""))
    c(op).jobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val op = opOfStage(i.stageId)
    val job = Option(stageJob.get(i.stageId)).map(j => s"job$j").getOrElse("")
    val start = i.submissionTime.getOrElse(0L)
    raw.add(Span(op, s"stage${i.stageId}.${i.attemptNumber()}", "stage", start,
      i.completionTime.getOrElse(start), job))
    c(op).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val k = c(opOfStage(e.stageId))
    k.synchronized {
      k.tasks += 1
      if (m != null) {
        k.taskMs += m.executorRunTime
        k.taskCpuNs += m.executorCpuTime
        k.gcMs += m.jvmGCTime
        k.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        k.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        k.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        k.spill += m.diskBytesSpilled
        k.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val op = current
    val phases = qe.tracker.phases
    Seq("optimization" -> "optimize", "planning" -> "physical").foreach { case (p, name) =>
      phases.get(p).foreach(s =>
        raw.add(Span(op, s"$name${seq.incrementAndGet()}", name, s.startTimeMs, s.endTimeMs, "")))
    }
    val scans = collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
    val k = c(op)
    k.synchronized {
      scans.foreach { s =>
        s.metrics.get("filesSize").foreach(m => k.scanBytes += m.value)
        s.metrics.get("numFiles").foreach(m => k.scanFiles += m.value)
      }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Tracer {
  /** Length of the union of `ivs` clipped to [lo, hi]. */
  def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time per span name: each span's duration minus the part of
    * it that its children cover. */
  def selfTimes(spans: Seq[Span]): Map[String, Long] = {
    val children = spans.groupBy(_.parent)
    val out = mutable.Map.empty[String, Long].withDefaultValue(0L)
    spans.foreach { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.start, k.end))
      out(s.name) += s.dur - covered(kids, s.start, s.end)
    }
    out.toMap
  }
}
