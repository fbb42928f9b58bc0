package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession/SparkContext shared by every suite in the (forked,
  * sequential) test JVM, built by `GraftSession.builder` so the suites
  * test the plans the engine ships (co-partitioning, bucketed scans, AQE
  * coalescing as `Bench`, `Verify` and perfbench run them).
  *
  * The previous fixture — a per-suite lazy `getOrCreate` plus
  * `spark.stop()` in `afterAll` — raced SparkContext bookkeeping across
  * ~130 sequential suites: a suite could materialize its lazy session
  * while the previous suite's `stop()` was still tearing the context
  * down, and `getOrCreate` then handed back the STOPPED context
  * ("assertNotStopped … created at Wave32Spec"), failing the run on
  * environment timing rather than on any assertion. One never-stopped
  * session removes the race by construction: nothing ever calls
  * `stop()`, so `getOrCreate` can never observe a half-dead context.
  *
  * Per-suite isolation moves to [[cleanup]], which every suite's
  * `afterAll` calls instead of `stop()`: caches and temp views the
  * suite leaked are dropped and the session conf is restored to the
  * snapshot taken when the session was built, so suite order cannot
  * change results.
  */
object SparkTestSession {

  lazy val spark: SparkSession = {
    val s = GraftSession.builder(Some(4))
      .master("local[4]")
      .config("spark.ui.enabled", "false")
      .appName("graft-test-shared")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    builtConf = s.conf.getAll
    s
  }

  private var builtConf = Map.empty[String, String]

  /** Suite-boundary hygiene replacing the old `spark.stop()`. */
  def cleanup(): Unit = {
    val s = spark
    s.sharedState.cacheManager.clearCache()
    s.sessionState.catalog.getTempViewNames()
      .foreach(s.catalog.dropTempView)
    // Restore every key a suite set, changed or unset — also when a
    // failing test skipped its own finally-restore.
    val now = s.conf.getAll
    (now.keySet ++ builtConf.keySet).foreach { k =>
      (builtConf.get(k), now.get(k)) match {
        case (Some(v), cur) if !cur.contains(v) => s.conf.set(k, v)
        case (None, Some(_)) => s.conf.unset(k)
        case _ => ()
      }
    }
    System.gc()
  }
}
