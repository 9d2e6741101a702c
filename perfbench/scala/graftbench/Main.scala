package graftbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Benchmark harness: one JVM, `local[cores]`, one client thread.
  *
  *   graftbench.Main --workload W --seed S --seconds T --trace 0|1
  *                   --work DIR --out FILE
  *
  * Sets up the workload once (a full build of its inputs plus one
  * warm-up op), runs unmeasured ops for [[WarmSeconds]] so the JIT
  * settles, sets up [[WarmSetups]] more times, runs unmeasured ops for
  * [[RewarmSeconds]] more, then runs ops in a closed loop for T seconds
  * and writes raw samples to FILE as JSON.
  * With --trace 1 every other op is traced (the rest give the untraced
  * baseline for the overhead), and the last set-up is traced too; spans
  * go to DIR/spans.jsonl. */
object Main {
  val WarmSetups = 3
  /** Unmeasured ops before the set-ups, per workload. After 10 s,
    * `dropNearDuplicates` still fell by a quarter across the measured
    * window; the `kv_nearsync` op times level off sooner. */
  val WarmSeconds = Map("kv_nearsync" -> 8.0, "corpus_dedup" -> 18.0)
  /** Unmeasured ops after the set-ups: without them the first three or
    * four measured ops ran 10–30 % slower than the rest of the run. */
  val RewarmSeconds = 4.0
  /** Spark task slots. On a 4-vCPU VM, with 2 or 4 slots the op times
    * inside a run moved between a fast and a slow level for seconds at
    * a time, as the tasks, the JIT, the GC and the host's other tenants
    * wanted the same cores. Runs of the same seeds, alternating between
    * one and two slots, spread by 4 % and 22 % on the full verify. */
  val Cores = 1

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args.getOrElse("trace", "0") == "1"
    val work = new File(args("work"))
    val cores = math.min(Cores, Runtime.getRuntime.availableProcessors)
    work.mkdirs()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // bounded status-store history, so the live heap plateaus early
      .config("spark.ui.retainedJobs", "200")
      .config("spark.ui.retainedStages", "200")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.sql.ui.retainedExecutions", "50")
      // room for every generated class an op compiles: at the default 100
      // entries the LRU evicts and recompiles per op, and which classes
      // survive differs run to run, making run medians bimodal
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

    val tracer = new Tracer(spark)
    val ctx = new Ctx(spark, seed, new File(work, "data"), tracer, cores)
    val out = new Json
    out("workload") = workload
    out("seed") = seed
    out("cores") = cores
    out("heap_max_MB") = Runtime.getRuntime.maxMemory / 1e6
    out("session_ready_s") = (System.currentTimeMillis() - jvmStart) / 1e3
    val heap = mutable.ArrayBuffer.empty[Double]
    def gcAndSample(): Unit = {
      System.gc()
      heap += ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    }
    var setupOk = true
    val wl = Workloads(workload, ctx)
    try {
      def setup(traced: Boolean): Double = {
        if (traced) tracer.start()
        val t0 = System.nanoTime()
        try tracer.span("setup")(wl.setup())
        finally if (traced) tracer.stop()
        val s = (System.nanoTime() - t0) / 1e9
        gcAndSample()
        s
      }
      out("setup_cold_s") = setup(traced = false)
      val h0 = System.nanoTime()
      out("inputs") = wl.inputHashes()
      out("hash_s") = (System.nanoTime() - h0) / 1e9
      out("sizes") = wl.sizes

      // unmeasured ops; a failure here fails set-up
      def warmUp(secs: Double): Int = {
        val warm = Loop.run(wl, tracer, secs, trace = false, () => gcAndSample())
        Workloads.check(warm.ok.forall(identity), s"warm-up: ${warm.errors.mkString("; ")}")
        warm.ok.size
      }
      val warmOps = warmUp(WarmSeconds(workload))
      // setup_s is taken over these JIT-warm set-ups; the cold first one
      // mostly measures class loading and compilation
      out("setup_s") = (1 to WarmSetups).map(r => setup(traced = trace && r == WarmSetups))
      out("warm_ops") = warmOps + warmUp(RewarmSeconds)
      wl.parts.clear()
      val samples = Loop.run(wl, tracer, seconds, trace, () => gcAndSample())
      gcAndSample()
      out("op") = wl.opName
      out("op_ms") = samples.ms.toSeq
      out("op_ok") = samples.ok.toSeq
      out("op_bytes") = samples.bytes.toSeq
      out("op_traced") = samples.traced.toSeq
      out("errors") = samples.errors.toSeq
      out("parts_ms") = wl.parts.map { case (k, v) => k -> v.toSeq }.toMap
      if (trace) {
        val tracedOps = samples.traced.count(identity)
        val tracedMs = samples.ms.zip(samples.traced).collect { case (ms, true) => ms }.sum
        out("per_layer") = Layers.perOp(tracer.spans.toSeq, tracedOps, tracedMs) ++ wl.ratios(tracedOps)
        Layers.dump(tracer.spans.toSeq, workload, new File(work, "spans.jsonl"))
      }
    } catch {
      case NonFatal(e) =>
        setupOk = false
        out("errors") = Seq(s"setup: ${e.getClass.getSimpleName}: ${e.getMessage}".take(600))
        e.printStackTrace()
    } finally {
      wl.close()
      out("setup_ok") = setupOk
      out("heap_after_gc_MB") = heap.toSeq
      val w = new PrintWriter(args("out"), "UTF-8")
      try w.println(out.render) finally w.close()
      spark.stop()
    }
  }
}

/** Per-op samples of one measured window. */
final class Samples {
  val ms, bytes = mutable.ArrayBuffer.empty[Double]
  val ok, traced = mutable.ArrayBuffer.empty[Boolean]
  val errors = mutable.ArrayBuffer.empty[String]
}

/** The closed loop: one client thread issues op i + 1 when op i has
  * returned. Only the op is timed; its output check runs after the
  * timer stops, and an exception from either marks the op failed. With
  * tracing, even ops are traced and odd ops are not. `sample` (a full
  * GC and heap reading) runs after every op, outside the timer, so each
  * op starts from the same heap state. */
object Loop {
  def run(wl: Workload, tracer: Tracer, seconds: Double, trace: Boolean,
          sample: () => Unit): Samples = {
    val s = new Samples
    def fail(i: Int, e: Throwable): Unit =
      if (s.errors.size < 5) s.errors += s"op $i: ${e.getClass.getSimpleName}: ${e.getMessage}".take(600)
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() < deadline) {
      val traced = trace && i % 2 == 0
      if (traced) tracer.start()
      val t0 = System.nanoTime()
      val done = try Some(tracer.span(wl.opName)(wl.op(i))) catch { case NonFatal(e) => fail(i, e); None }
      s.ms += (System.nanoTime() - t0) / 1e6
      if (traced) tracer.stop()
      s.ok += done.exists(d => try { d.check(); true } catch { case NonFatal(e) => fail(i, e); false })
      s.bytes += done.map(_.bytes.toDouble).getOrElse(0.0)
      s.traced += traced
      sample()
      i += 1
    }
    s
  }
}

/** Per-layer aggregation of the recorded spans. */
object Layers {
  /** Span names whose set-up instances are reported (once per traced
    * set-up); every other name is reported per traced op. */
  val setupSpans = Set("gen", "KVBin.write", "KVBinServer.start")

  /** `tracedMs`: the loop's own timer summed over the traced ops. */
  def perOp(spans: Seq[Span], tracedOps: Int, tracedMs: Double): Map[String, Double] = {
    val roots = spans.filter(_.parent == null)
    val (setupRoots, opRoots) = roots.partition(_.name == "setup")
    def rootOf(s: Span): Span = if (s.parent == null) s else rootOf(s.parent)
    val out = mutable.LinkedHashMap.empty[String, Double]
    def add(name: String, spans: Seq[Span], per: Int): Unit =
      spans.foreach(_.counters.foreach { case (c, v) =>
        out(s"$name.$c") = out.getOrElse(s"$name.$c", 0.0) + v / per.max(1)
      })
    val opSpans = spans.filter(s => !setupRoots.contains(rootOf(s)))
    opSpans.groupBy(s => if (s.parent == null) "op" else s.name).foreach { case (n, ss) => add(n, ss, tracedOps) }
    spans.filter(s => setupRoots.contains(rootOf(s)) && setupSpans(s.name))
      .groupBy(_.name).foreach { case (n, ss) => add(n, ss, setupRoots.size) }
    val wall = opRoots.map(_.wallMs).sum
    out("op.wall_ms") = wall / tracedOps.max(1)
    out("op.nonjob_ms") = opRoots.map(_.nonJobMs).sum / tracedOps.max(1)
    // self times sum to their root span's wall time; the loop's timer,
    // read outside the root span, is the independent wall time they
    // must not exceed
    out("trace.self_share") = if (tracedMs > 0) opSpans.map(_.selfMs).sum / tracedMs else 0.0
    out.toMap
  }

  def dump(spans: Seq[Span], workload: String, file: File): Unit = {
    val w = new PrintWriter(file, "UTF-8")
    try spans.foreach { s =>
      val j = new Json
      j("id") = s.id
      j("parent") = if (s.parent == null) -1 else s.parent.id
      j("op") = s.op
      j("name") = s"$workload.${s.name}"
      j("start_ms") = s.t0Ms
      j("wall_ms") = s.wallMs
      s.counters.foreach { case (c, v) => j(c) = v }
      w.println(j.render)
    } finally w.close()
  }
}

/** A minimal ordered JSON object writer (strings, numbers, booleans,
  * sequences and string maps). */
final class Json {
  private val fields = mutable.LinkedHashMap.empty[String, Any]
  def update(k: String, v: Any): Unit = fields(k) = v
  def render: String = Json.value(fields.toMap, fields.keys.toSeq)
}

object Json {
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString
  def value(m: Map[String, Any], order: Seq[String]): String =
    order.map(k => s"${str(k)}: ${of(m(k))}").mkString("{", ", ", "}")
  def of(v: Any): String = v match {
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: Map[_, _] =>
      val mm = m.asInstanceOf[Map[String, Any]]
      value(mm, mm.keys.toSeq.sorted)
    case xs: Iterable[_] => xs.map(of).mkString("[", ", ", "]")
    case other => str(String.valueOf(other))
  }
}
