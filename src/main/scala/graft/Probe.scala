package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-query diagnostics on the shipped session (`GraftSession.local()`,
  * `SPARK_GRAFT_CPUS` cores when set), one mode per run.
  *
  * Usage: runMain graft.Probe [--mode] <sfDir> [namePrefix...]
  * (every query when no prefix is given)
  *
  *   --plan    formatted physical plan (default): scans pruned/pushed
  *             down, joins broadcast where intended
  *   --ops     executed-plan operator summary after a real run — the
  *             Join / Exchange / Window / TakeOrdered / Scan lines of
  *             the AQE-final plan, i.e. what really executed
  *   --time    `Bench.measure` (warm pass, min of 2+ reps, quiesce,
  *             cache release), one `[time-one] <name>: <sec> s` line
  *             per query — the isolation timing tools/bench_pair.py
  *             parses
  *   --jobs    two warm passes, then each Spark job's wall time and the
  *             gap before it: cluster work vs driver think time
  *             (planning, codegen, collects) for fixed-floor queries
  *   --smells  executed-plan scale smells (BroadcastNestedLoopJoin,
  *             CartesianProduct, SinglePartition exchanges), so
  *             intended scalar broadcasts can be told apart from
  *             accidental quadratic or single-reducer work
  *
  * A query that throws is reported and makes the run exit 1.
  */
object Probe {

  private val smells = Seq("BroadcastNestedLoopJoin", "CartesianProduct",
    "Exchange SinglePartition")

  private val modes = Set("--plan", "--ops", "--time", "--jobs", "--smells")

  def main(args: Array[String]): Unit = {
    val (flags, rest) = args.toSeq.partition(_.startsWith("--"))
    val mode = flags.headOption.getOrElse("--plan")
    require(flags.size <= 1 && modes(mode),
      s"usage: graft.Probe [${modes.toSeq.sorted.mkString("|")}] " +
        "<sfDir> [namePrefix...]")
    val sfDir = rest.headOption.getOrElse("/root/testdata/sf0.01")
    val prefixes = rest.drop(1)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => prefixes.isEmpty || prefixes.exists(n.startsWith))
    val spark = GraftSession.local()
    val failures = names.count { name =>
      val fn = SparkEntry.queries(name)
      if (mode == "--time") Bench.measure(spark, sfDir, fn) match {
        case Right(t) => println(f"[time-one] $name: ${t.sec}%.3f s"); false
        case Left(e) =>
          println(s"[time-one] $name: failed ${e.getClass.getName}")
          System.err.println(s"[probe] $name failed: $e")
          true
      } else try {
        mode match {
          case "--plan" => header(name); fn(spark, sfDir).explain("formatted")
          case "--ops" => header(name); ops(fn(spark, sfDir))
          case "--jobs" => header(name); jobs(spark, name, () => fn(spark, sfDir))
          case "--smells" => smell(name, fn(spark, sfDir))
        }
        false
      } catch { case e: Throwable =>
        println(s"[probe] $name failed: $e")
        true
      } finally GraftSession.releaseQueryCaches(spark)
    }
    spark.stop()
    if (failures > 0) sys.exit(1)
  }

  private def header(name: String): Unit =
    println(s"\n========== $name ==========")

  private def ops(df: DataFrame): Unit = {
    df.collect() // finalize AQE so the summary shows reality
    println(df.queryExecution.executedPlan.toString.linesIterator
      .filter(l => Seq("Join", "Exchange", "Window", "TakeOrdered", "Scan")
        .exists(l.contains))
      .mkString("\n"))
  }

  private def smell(name: String, df: DataFrame): Unit = {
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    val hits = smells.flatMap { s =>
      val c = plan.sliding(s.length).count(_ == s)
      if (c > 0) Some(s"$s x$c") else None
    }
    if (hits.nonEmpty) println(s"[smells] $name: ${hits.mkString(", ")}")
  }

  private def jobs(spark: SparkSession, name: String,
      df: () => DataFrame): Unit = {
    // two warm passes: JIT + codegen caches
    (1 to 2).foreach { _ =>
      df().count(); GraftSession.releaseQueryCaches(spark)
    }
    val starts = mutable.Map[Int, (Long, Int)]() // id -> (t0, nTasks)
    val done = mutable.ArrayBuffer[(Int, Long, Long, Int)]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        starts.synchronized {
          starts(js.jobId) = (js.time, js.stageInfos.map(_.numTasks).sum)
        }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        starts.synchronized {
          val (t0, nt) = starts.getOrElse(je.jobId, (je.time, -1))
          done += ((je.jobId, t0, je.time, nt))
        }
    }
    spark.sparkContext.addSparkListener(listener)
    val w0 = System.nanoTime()
    df().count()
    val wall = (System.nanoTime() - w0) / 1e9
    Thread.sleep(300) // let the listener bus drain
    spark.sparkContext.removeSparkListener(listener)
    var prevEnd = 0L
    var jobSum, gapSum = 0.0
    starts.synchronized(done.sortBy(_._2).toSeq).foreach {
      case (id, t0, t1, nt) =>
        val gap = if (prevEnd == 0L) 0.0 else (t0 - prevEnd) / 1e3
        gapSum += math.max(0.0, gap)
        jobSum += (t1 - t0) / 1e3
        println(f"[jobs] job=$id%-4d dur=${(t1 - t0) / 1e3}%7.3fs " +
          f"gap_before=$gap%7.3fs tasks=$nt")
        prevEnd = t1
    }
    println(f"[jobs] $name wall=$wall%.3fs nJobs=${done.size} " +
      f"jobTime=$jobSum%.3fs gapTime=$gapSum%.3fs")
  }
}
