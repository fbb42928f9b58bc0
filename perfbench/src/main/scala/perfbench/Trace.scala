package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval at a layer boundary. The spans of one operation
  * share its id `op`; they run one after another inside it. */
final case class Span(
    name: String, op: String, startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** Spark-side counts of one operation (or of the whole run). */
final class SparkCounts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var recordsRead = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var executorCpuNs = 0L
  var gcMs = 0L
}

/** The traced run's recorder: spans from the benchmark's own calls into
  * each layer, plus a SparkListener that counts jobs, stages and tasks
  * and attributes them to operations through the `perfbench.op` local
  * property. Everything stays in memory; the run writes it out once at
  * the end. An untraced run uses [[Trace.off]], which records nothing. */
final class Trace(val enabled: Boolean) {
  /** Set once the traced part of a traced run has begun. */
  @volatile var live = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  val total = new SparkCounts
  private val perOp = mutable.HashMap.empty[String, SparkCounts]
  // job id -> (op, start ms, end ms)
  private val jobs = mutable.HashMap.empty[Int, (String, Long, Long)]
  private val stageOp = mutable.HashMap.empty[Int, String]

  /** Time `f` as a span; outside the traced part this only runs `f`. */
  def span[T](name: String, op: String)(f: => T): T =
    if (!live) f
    else {
      val t0 = Clock.nowMs
      try f
      finally synchronized { spans += Span(name, op, t0, Clock.nowMs) }
    }

  def allSpans: Seq[Span] = synchronized(spans.toList)

  def counts(op: String): SparkCounts =
    synchronized(perOp.getOrElse(op, new SparkCounts))

  /** Milliseconds of [fromMs, toMs] covered by the jobs of `op`. */
  def jobCoveredMs(op: String, fromMs: Double, toMs: Double): Double = {
    val iv = synchronized(jobs.values.filter(_._1 == op).toList)
      .map { case (_, s, e) => (math.max(s.toDouble, fromMs),
        math.min((if (e < 0) toMs.toLong else e).toDouble, toMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) covered += curE - curS
    covered
  }

  val listener: SparkListener = new SparkListener {
    private def opOf(p: java.util.Properties): String =
      Option(p).flatMap(x => Option(x.getProperty("perfbench.op")))
        .getOrElse("-")
    private def both(op: String)(f: SparkCounts => Unit): Unit = {
      f(total); f(perOp.getOrElseUpdate(op, new SparkCounts))
    }
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Trace.this.synchronized {
        val op = opOf(e.properties)
        jobs(e.jobId) = (op, e.time, -1L)
        e.stageIds.foreach(stageOp(_) = op)
        both(op)(_.jobs += 1)
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Trace.this.synchronized {
        jobs.get(e.jobId).foreach { case (op, s, _) =>
          jobs(e.jobId) = (op, s, e.time)
        }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized {
        both(stageOp.getOrElse(e.stageInfo.stageId, "-"))(_.stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Trace.this.synchronized {
        val m = e.taskMetrics
        both(stageOp.getOrElse(e.stageId, "-")) { c =>
          c.tasks += 1
          if (m != null) {
            c.recordsRead += m.inputMetrics.recordsRead
            c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            c.executorCpuNs += m.executorCpuTime
            c.gcMs += m.jvmGCTime
          }
        }
      }
  }

  /** Starts the traced part: from here on spans are kept and the
    * listener counts. */
  def start(sc: SparkContext): Unit = if (enabled && !live) {
    sc.addSparkListener(listener)
    live = true
  }

  /** Wait until every event posted so far has reached the listener. */
  def drain(sc: SparkContext): Unit =
    if (live) org.apache.spark.PerfbenchBus.waitUntilEmpty(sc)
}

object Trace {
  val off = new Trace(false)
}
