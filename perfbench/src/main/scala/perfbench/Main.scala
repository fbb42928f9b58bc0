package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.GraftSession

/** What one workload run hands back to [[Main]]. Figures map a name to
  * (value, unit), in the order they were added. */
final class Outcome {
  /** The declared end-to-end metrics, from the untraced part. */
  val e2e = Outcome.figures()
  /** The same metrics from the traced part of a traced run. */
  val tracedE2e = Outcome.figures()
  /** Workload-specific end-to-end figures, printed and recorded. */
  val lines = Outcome.figures()
  /** Workload-specific per-layer figures (traced run). */
  val layers = Outcome.figures()
  val detail = mutable.LinkedHashMap.empty[String, Any]
}

object Outcome {
  type Figures = mutable.LinkedHashMap[String, (Double, String)]
  def figures(): Figures = mutable.LinkedHashMap.empty[String, (Double, String)]
}

/** Everything a workload needs: the shipped session, the command line,
  * the operation ledger and client, the trace, and the run's clock. */
final class Ctx(
    val spark: SparkSession,
    val args: Args,
    val ledger: Ledger,
    val client: Client,
    val trace: Trace) {
  val jvmStartMs: Double =
    ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
  private var measureStartMs = Double.NaN

  /** Progress note on standard error, with seconds since JVM start. */
  def note(msg: String): Unit =
    System.err.println(f"[perfbench] ${(Clock.nowMs - jvmStartMs) / 1000}%.1f s: $msg")

  /** Ends set-up; the measured window of `--seconds` starts now. A
    * workload starts another operation while more than half of the last
    * one's duration is left in the window. */
  def setupDone(): Unit = {
    measureStartMs = Clock.nowMs
    note("set-up done")
  }
  def setupS: Double = (measureStartMs - jvmStartMs) / 1000
  def remainingMs: Double =
    measureStartMs + args.seconds * 1000.0 - Clock.nowMs

  /** A traced run measures the first half of its window untraced and the
    * second half traced; this switches over once half the window is
    * gone. */
  def maybeStartTrace(): Unit =
    if (trace.enabled && !trace.live &&
        remainingMs <= args.seconds * 500.0)
      trace.start(spark.sparkContext)
}

object Main {
  /** End-to-end metrics every untraced run prints, in order. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "work_per_s" -> "1/s", "latency_ms" -> "ms")

  /** Per-layer metrics every traced run prints, in order. */
  val perLayer: Seq[(String, String)] = Seq(
    "op.build_ms" -> "ms", "op.plan_ms" -> "ms", "op.exec_ms" -> "ms",
    "op.driver_ms" -> "ms",
    "spark.jobs_per_op" -> "count", "spark.stages_per_op" -> "count",
    "spark.tasks_per_op" -> "count", "spark.records_read_per_op" -> "count",
    "spark.shuffle_write_mb_per_op" -> "MB",
    "spark.executor_cpu_ms_per_op" -> "ms", "spark.gc_ms_per_op" -> "ms",
    "traced.work_per_s" -> "1/s", "traced.latency_ms" -> "ms",
    "trace.overhead_pct" -> "%",
    "box.cpu_s" -> "s", "box.shuffle_s" -> "s")

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.local(cores)
    val ledger = new Ledger
    val trace = if (args.trace) new Trace(true) else Trace.off
    val ctx = new Ctx(spark, args, ledger,
      new Client(spark, ledger, timeoutS = 60), trace)
    val out = args.workload match {
      case "serve" => Serve.run(ctx)
      case "library" => Library.run(ctx)
      case "record-library" =>
        Library.recordExpected(ctx); spark.stop(); return
      case other =>
        throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    val (probeCpu, probeShuffle) = boxProbe(spark)
    val rssMb = peakRssMb()

    val e2e = Outcome.figures()
    e2e("setup_s") = (ctx.setupS, "s")
    e2e ++= out.e2e
    out.lines("peak_rss_mb") = (rssMb, "MB")
    out.lines("failed_ratio") =
      (ledger.failed.toDouble / math.max(ledger.attempted, 1L), "ratio")

    val layers = Outcome.figures()
    if (args.trace) {
      trace.drain(spark.sparkContext)
      layers ++= layerMetrics(ctx, out)
      layers("box.cpu_s") = (probeCpu, "s")
      layers("box.shuffle_s") = (probeShuffle, "s")
    }

    // One short line per figure; the full record goes to one JSON file.
    def show(kind: String, m: collection.Map[String, (Double, String)]) =
      m.foreach { case (k, (v, u)) => println(s"$kind $k ${Json.num(v)} $u") }
    show("metric", e2e)
    show("metric", out.lines)
    if (args.trace) {
      show("layer", layers)
      show("layer", out.layers)
      show("traced", out.tracedE2e)
    }
    println(s"box cpu_s ${Json.num(probeCpu)} s")
    println(s"box shuffle_s ${Json.num(probeShuffle)} s")
    ledger.failures.foreach { case (op, cause) =>
      println(s"failed $op $cause")
    }

    val declared = if (args.trace) perLayer else endToEnd
    val have = if (args.trace) layers else e2e
    val missing = declared.map(_._1).filterNot(have.contains)
    val correct = ledger.failed == 0 && missing.isEmpty
    missing.foreach(m => println(s"missing $m"))

    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> args.workload, "seed" -> args.seed,
      "seconds" -> args.seconds, "trace" -> args.trace, "cores" -> cores,
      "attempted" -> ledger.attempted, "failed" -> ledger.failed,
      "failures" -> ledger.failures.map { case (o, c) =>
        Map("op" -> o, "cause" -> c) },
      "end_to_end" -> unitMap(e2e), "workload_metrics" -> unitMap(out.lines),
      "per_layer" -> unitMap(layers),
      "workload_layers" -> unitMap(out.layers),
      "traced_end_to_end" -> unitMap(out.tracedE2e),
      "box_probe" -> Map("cpu_s" -> probeCpu, "shuffle_s" -> probeShuffle),
      "jvm_uptime_s" -> (Clock.nowMs - ctx.jvmStartMs) / 1000,
      "detail" -> out.detail)
    if (args.trace) {
      record("spans") = trace.allSpans.map(s => Map("name" -> s.name,
        "op" -> s.op, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs))
    }
    Files.createDirectories(Paths.get(args.recordPath).toAbsolutePath.getParent)
    Files.write(Paths.get(args.recordPath),
      Json(record).getBytes(StandardCharsets.UTF_8))

    val metrics = declared.flatMap { case (k, _) =>
      have.get(k).map { case (v, u) => k -> Map("value" -> v, "unit" -> u) }
    }
    spark.stop()
    println(Json(mutable.LinkedHashMap[String, Any](
      "correct" -> correct, "attempted" -> math.max(ledger.attempted, 1L),
      "failed" -> ledger.failed,
      "metrics" -> mutable.LinkedHashMap(metrics: _*))))
    if (!correct) sys.exit(1)
  }

  private def unitMap(m: collection.Map[String, (Double, String)]) =
    m.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }

  /** The per-layer metrics every workload shares, from the spans and
    * Spark counts of the operations run in the traced part. */
  private def layerMetrics(ctx: Ctx, out: Outcome): Outcome.Figures = {
    val m = Outcome.figures()
    val spans = ctx.trace.allSpans
    val ops = spans.groupBy(_.op).toSeq
    val n = math.max(ops.size, 1).toDouble
    def phase(p: String) =
      spans.filter(_.name.endsWith("." + p)).map(_.ms).sum / n
    m("op.build_ms") = (phase("build"), "ms")
    m("op.plan_ms") = (phase("plan"), "ms")
    m("op.exec_ms") = (phase("exec"), "ms")
    m("op.driver_ms") = (ops.map { case (op, ss) =>
      val from = ss.map(_.startMs).min
      val to = ss.map(_.endMs).max
      (to - from) - ctx.trace.jobCoveredMs(op, from, to)
    }.sum / n, "ms")
    val c = ops.map(o => ctx.trace.counts(o._1))
    def per(f: SparkCounts => Double) = c.map(f).sum / n
    m("spark.jobs_per_op") = (per(_.jobs.toDouble), "count")
    m("spark.stages_per_op") = (per(_.stages.toDouble), "count")
    m("spark.tasks_per_op") = (per(_.tasks.toDouble), "count")
    m("spark.records_read_per_op") = (per(_.recordsRead.toDouble), "count")
    m("spark.shuffle_write_mb_per_op") =
      (per(_.shuffleWriteBytes / 1e6), "MB")
    m("spark.executor_cpu_ms_per_op") = (per(_.executorCpuNs / 1e6), "ms")
    m("spark.gc_ms_per_op") = (per(_.gcMs.toDouble), "ms")
    out.tracedE2e.get("work_per_s").foreach(v =>
      m("traced.work_per_s") = v)
    out.tracedE2e.get("latency_ms").foreach(v => m("traced.latency_ms") = v)
    for ((t, _) <- out.tracedE2e.get("latency_ms"); (u, _) <- out.e2e.get("latency_ms"))
      m("trace.overhead_pct") = ((t / u - 1) * 100, "%")
    // Totals of the traced part, recorded beside the per-op means.
    val tot = ctx.trace.total
    out.layers("spark.jobs") = (tot.jobs.toDouble, "count")
    out.layers("spark.stages") = (tot.stages.toDouble, "count")
    out.layers("spark.tasks") = (tot.tasks.toDouble, "count")
    out.layers("spark.shuffle_write_mb") = (tot.shuffleWriteBytes / 1e6, "MB")
    out.layers("spark.spill_mb") = (tot.spillBytes / 1e6, "MB")
    out.layers("spark.executor_cpu_s") = (tot.executorCpuNs / 1e9, "s")
    out.layers("spark.gc_s") = (tot.gcMs / 1e3, "s")
    m
  }

  /** Fixed CPU and shuffle calibration probe, so a slow co-tenant period
    * can be told apart from a regression. Gates nothing. */
  def boxProbe(spark: SparkSession): (Double, Double) = {
    // Fresh frames every time: re-running one Dataset would reuse its
    // shuffle output and time only the reduce side.
    def cpu = spark.range(0, 1000000L, 1, 8)
      .selectExpr("sha2(cast(id as string), 256) as h")
      .groupBy(expr("substr(h, 1, 2)")).count()
    def shuffle = spark.range(0, 1000000L, 1, 8)
      .groupBy(expr("id % 100003")).count().agg(sum("count"))
    def t(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    cpu.collect(); shuffle.collect() // JIT and codegen
    (t(cpu.collect()), t(shuffle.collect()))
  }

  /** The JVM's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(Double.NaN)
}
