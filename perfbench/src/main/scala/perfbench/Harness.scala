package perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Command line of one benchmark run. */
final case class Args(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    workDir: String,
    dataDir: String,
    recordPath: String,
    extraQuery: Option[String])

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing argument $k"))
    Args(
      workload = need("--workload"),
      seed = need("--seed").toLong,
      seconds = need("--seconds").toInt,
      trace = need("--trace") == "1",
      workDir = need("--work"),
      dataDir = need("--data"),
      recordPath = need("--record"),
      extraQuery = kv.get("--extra-query"))
  }
}

/** Wall clock in epoch milliseconds with nanosecond resolution, so span
  * times line up with the epoch-millisecond times of Spark's listener
  * events. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Attempted and failed operations. A failure keeps the operation's name
  * and the exception class (or "mismatch"), never a timing. */
final class Ledger {
  var attempted = 0L
  val failures = mutable.ArrayBuffer.empty[(String, String)]
  def failed: Long = failures.size.toLong
  def fail(op: String, cause: String): Unit = synchronized {
    failures += op -> cause
  }
}

/** Runs one client operation at a time, each on a fresh client thread
  * with a deadline. The Spark jobs an operation starts carry its id in
  * the `perfbench.op` local property, which the tracer uses to attribute
  * jobs, stages and tasks. A throw or a timeout is recorded in the
  * ledger and yields None: a failed operation is never timed. */
final class Client(spark: SparkSession, ledger: Ledger, timeoutS: Double) {
  private val ids = new AtomicInteger(0)

  /** The value and the operation's wall time in ms. */
  def run[T](op: String)(f: String => T): Option[(T, Double)] = {
    ledger.attempted += 1
    val id = s"$op#${ids.incrementAndGet()}"
    @volatile var out: Either[Throwable, (T, Double)] = null
    val t = new Thread(() => {
      val sc = spark.sparkContext
      sc.setLocalProperty("perfbench.op", id)
      sc.setJobGroup(id, op, interruptOnCancel = true)
      try {
        val t0 = Clock.nowMs
        val v = f(id)
        out = Right((v, Clock.nowMs - t0))
      } catch { case e: Throwable => out = Left(e) }
      finally {
        sc.clearJobGroup()
        sc.setLocalProperty("perfbench.op", null)
      }
    }, "perfbench-client")
    t.setDaemon(true)
    t.start()
    t.join((timeoutS * 1000).toLong)
    if (t.isAlive) {
      spark.sparkContext.cancelJobGroup(id)
      t.interrupt()
      t.join(10000L)
      ledger.fail(op, "java.util.concurrent.TimeoutException")
      None
    } else out match {
      case Right(r) => Some(r)
      case Left(e) =>
        ledger.fail(op, e.getClass.getName)
        if (!NonFatal(e)) throw e
        None
    }
  }
}

object Stats {
  /** Quantile q in [0, 1], interpolated linearly between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(math.log).sum / xs.size)
}

/** Tiny JSON writer for the run record (no dependency beyond the JDK). */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case p: Product => apply(p.productIterator.toSeq)
    case other => str(other.toString)
  }
}
