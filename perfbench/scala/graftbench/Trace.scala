package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.ListenerBusAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into graft. Wall, GC and Hadoop-FS byte counters are
  * taken inclusively at entry and exit; the Spark counters (jobs, tasks,
  * CPU, shuffle, spill, planning) are attributed by the listeners to
  * the innermost span that was open when the work was submitted, so
  * they are already exclusive of the children. */
final class Span(val id: Int, val name: String, val parent: Span, val op: Int) {
  val children = mutable.ArrayBuffer.empty[Span]
  val depth: Int = if (parent == null) 0 else parent.depth + 1
  var t0Ns, t1Ns, t0Ms, t1Ms = 0L
  var gc0, gc1, read0, read1, written0, written1 = 0L
  // written by the listener threads under the tracer's lock
  var jobs, tasks, cpuNs, shuffleBytes, spillBytes, planMs = 0L
  val jobWindows = mutable.ArrayBuffer.empty[(Long, Long)]

  def wallMs: Double = (t1Ns - t0Ns) / 1e6
  private def excl(f: Span => Long): Long = f(this) - children.map(f).sum
  def selfMs: Double = wallMs - children.map(_.wallMs).sum
  def selfGcMs: Long = excl(s => s.gc1 - s.gc0)
  def selfReadBytes: Long = excl(s => s.read1 - s.read0)
  def selfWrittenBytes: Long = excl(s => s.written1 - s.written0)
  def subtree: Seq[Span] = this +: children.toSeq.flatMap(_.subtree)

  /** Wall time of this span not covered by any Spark job of its
    * subtree: driver-side planning, scheduling gaps and client glue. */
  def nonJobMs: Double = {
    val ws = subtree.flatMap(_.jobWindows)
      .map { case (a, b) => (math.max(a, t0Ms), math.min(b, t1Ms)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    ws.foreach { case (a, b) =>
      if (a >= end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    math.max(0.0, wallMs - covered)
  }

  /** The per-span counters the traced run reports. */
  def counters: Seq[(String, Double)] = Seq(
    "self_ms" -> selfMs,
    "plan_ms" -> planMs.toDouble,
    "jobs" -> jobs.toDouble,
    "tasks" -> tasks.toDouble,
    "task_cpu_s" -> cpuNs / 1e9,
    "gc_s" -> selfGcMs / 1e3,
    "shuffle_write_MB" -> shuffleBytes / 1e6,
    "spill_MB" -> spillBytes / 1e6,
    "input_MB" -> selfReadBytes / 1e6,
    "output_MB" -> selfWrittenBytes / 1e6)
}

/** Span recorder. Spans stay in memory and are written out once, at
  * the end of the run. One client thread opens spans, so nesting is a
  * stack; the Spark local property [[Tracer.SpanKey]] carries the open
  * span's id into every job the client submits. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = new java.util.concurrent.ConcurrentHashMap[Int, Span]
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Span]
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Span, Long)]
  private val plans = mutable.ArrayBuffer.empty[(Long, Long)] // (start ms, planning ms)
  private var current: Span = null
  private var ops = 0
  private var on = false
  def enabled: Boolean = on

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .flatMap(id => Option(byId.get(id.toInt))).foreach { s =>
          Tracer.this.synchronized { s.jobs += 1 }
          e.stageIds.foreach(stageSpan.put(_, s))
          jobStart.put(e.jobId, (s, e.time))
        }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (s, t0) =>
        Tracer.this.synchronized { s.jobWindows += ((t0, e.time)) }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val m = e.taskMetrics
        Tracer.this.synchronized {
          s.tasks += 1
          if (m != null) {
            s.cpuNs += m.executorCpuTime
            s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty) Tracer.this.synchronized {
        plans += ((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum))
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  def start(): Unit = if (!on) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    on = true
  }

  /** Drain the listener bus, detach the listeners and attribute the
    * planning records to spans. */
  def stop(): Unit = if (on) {
    ListenerBusAccess.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    on = false
    attributePlans()
  }

  /** A query's planning phases are attributed by time to the innermost
    * span open when its earliest phase started (one client thread, so
    * that span is unique up to the millisecond at a sibling boundary,
    * where the later sibling wins). */
  private def attributePlans(): Unit = synchronized {
    plans.foreach { case (t, ms) =>
      val hits = spans.filter(s => s.t0Ms <= t && t <= s.t1Ms)
      if (hits.nonEmpty) hits.maxBy(s => (s.depth, s.t0Ms)).planMs += ms
    }
    plans.clear()
  }

  /** Run `body` inside a span named `name`; a span with no open parent
    * is a root and starts a new op id. With tracing off this is just
    * `body`. */
  def span[T](name: String)(body: => T): T = {
    if (!on) return body
    val parent = current
    val s = new Span(spans.size, name, parent,
      if (parent == null) { ops += 1; ops } else parent.op)
    spans += s
    byId.put(s.id, s)
    if (parent != null) parent.children += s
    current = s
    sc.setLocalProperty(SpanKey, s.id.toString)
    s.gc0 = gcMs(); s.read0 = fsRead(); s.written0 = fsWritten()
    s.t0Ms = System.currentTimeMillis(); s.t0Ns = System.nanoTime()
    try body
    finally {
      s.t1Ns = System.nanoTime(); s.t1Ms = System.currentTimeMillis()
      s.gc1 = gcMs(); s.read1 = fsRead(); s.written1 = fsWritten()
      current = parent
      sc.setLocalProperty(SpanKey, if (parent == null) null else parent.id.toString)
    }
  }
}

object Tracer {
  val SpanKey = "graftbench.span"

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Hadoop FileSystem byte counters, summed over every scheme and
    * thread. kvbin regions and parquet go through Hadoop FS; Spark's
    * own shuffle files do not, so these count table I/O only. */
  def fsRead(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala.map(_.getBytesRead).sum
  def fsWritten(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala.map(_.getBytesWritten).sum
}

/** Row counts read off the executed physical plan of an action that
  * has run (SQL metrics), descending through adaptive query stages. */
object PlanRows extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  import org.apache.spark.sql.execution.SparkPlan

  /** `numOutputRows` of every node `pick` accepts. */
  def of(df: DataFrame)(pick: PartialFunction[SparkPlan, Boolean]): Seq[Long] =
    collect(df.queryExecution.executedPlan) {
      case p if pick.applyOrElse(p, (_: SparkPlan) => false) =>
        p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }
}
