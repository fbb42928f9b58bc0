package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}

import graft.{GraftSession, SparkEntry}

/** `library`: a fixed mix of `SparkEntry.queries` over the committed
  * TPC-H-style test tables. The seed sets the run order; the query
  * caches are released between queries, as every harness of the
  * program does. */
object Library {

  /** Query groups. `hot` decides the total, the rest the geomean. */
  val groups: Seq[(String, Seq[String])] = Seq(
    "hot" -> Seq("q217_entity_resolution", "q218_lsh_scurve"),
    "floor" -> Seq("q01_agg_pricing", "q11_join_agg"),
    "functions" -> Seq("q36_minhash_sig"),
    "plans" -> Seq("q114_asof_exec"),
    "streaming" -> Seq("q53_stream_dedup"),
    "wikitext" -> Seq("q46_citations_at_revision"))

  val names: Seq[String] = groups.flatMap(_._2)

  /** Expected result per query: row count, and an order-insensitive
    * digest where the oracle treats the output as deterministic. */
  final case class Expected(rows: Long, digest: Option[String])

  def expectedPath(dataDir: String): String = s"$dataDir/library_expected.tsv"

  def readExpected(dataDir: String): Map[String, Expected] =
    Files.readAllLines(Paths.get(expectedPath(dataDir))).asScala
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(n, rows, d) = l.split('\t')
        n -> Expected(rows.toLong, if (d == "-") None else Some(d))
      }.toMap

  /** md5 over the sorted rows, each rendered with its columns in name
    * order and doubles rounded to 6 significant digits (parallel sums
    * may differ in the last bits from run to run). */
  def digest(df: DataFrame): (Long, String) = {
    val cols = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    def norm(v: Any): String = v match {
      case null => "\u0000"
      case d: Double => if (d.isNaN || d.isInfinite) d.toString
        else new java.math.BigDecimal(d)
          .round(new java.math.MathContext(6)).stripTrailingZeros
          .toPlainString
      case f: Float => norm(f.toDouble)
      case r: Row => r.toSeq.map(norm).mkString("(", ",", ")")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => norm(k) + "->" + norm(x) }.sorted
          .mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
      case a: Array[Byte] => a.map(b => f"$b%02x").mkString
      case o => o.toString
    }
    val rows = df.collect()
      .map(r => cols.map(i => norm(r.get(i))).mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach { r =>
      md.update(r.getBytes(StandardCharsets.UTF_8)); md.update('\n'.toByte)
    }
    (rows.length.toLong, md.digest().map(b => f"$b%02x").mkString)
  }

  /** Writes the expected-result file from the current tree. */
  def recordExpected(ctx: Ctx): Unit = {
    val oracle = SparkEntry.oracleSql.keySet
    val lines = names.map { n =>
      val (rows, d) = digest(SparkEntry.queries(n)(ctx.spark, dataDir(ctx)))
      GraftSession.releaseQueryCaches(ctx.spark)
      s"$n\t$rows\t${if (oracle(n)) d else "-"}"
    }
    Files.write(Paths.get(expectedPath(ctx.args.dataDir)),
      ("# query\trows\tdigest (- = rows only: no oracle)\n" +
        lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
  }

  private def dataDir(ctx: Ctx): String = s"${ctx.args.dataDir}/sf0.01"

  def run(ctx: Ctx): Outcome = {
    import ctx._
    val spark = ctx.spark
    val sf = dataDir(ctx)
    val expected = readExpected(args.dataDir)
    val order = new scala.util.Random(args.seed).shuffle(names) ++
      args.extraQuery
    val queries = SparkEntry.queries

    // Set-up: one untimed pass that checks every full result against its
    // recorded digest (and absorbs JIT, codegen and footer caches).
    order.foreach { n =>
      client.run(n) { _ => digest(queries(n)(spark, sf)) }.foreach {
        case ((rows, d), _) => expected.get(n) match {
          case Some(e) if rows == e.rows && e.digest.forall(_ == d) => ()
          case _ => ledger.fail(n, s"mismatch: $rows rows, digest $d")
        }
      }
      GraftSession.releaseQueryCaches(spark)
    }
    setupDone()

    // Measured runs: each query's terminal action is count(), whose row
    // count is checked against the recorded one. Every query runs once,
    // then the order repeats while the window lasts. A traced run adds
    // one traced pass over the order.
    val times = Seq(false, true).map(t => t -> names.map(_ ->
      collection.mutable.ArrayBuffer.empty[Double]).toMap).toMap
    var cachedLeft = 0L
    def runQuery(n: String): Unit = {
      val live = trace.live
      client.run(n) { id =>
        if (!live) queries(n)(spark, sf).count()
        else {
          val df = trace.span("operators.build", id) { queries(n)(spark, sf) }
          trace.span("operators.plan", id) { df.queryExecution.executedPlan }
          val c = trace.span("operators.exec", id) { df.count() }
          cachedLeft += spark.sparkContext.getPersistentRDDs.size
          c
        }
      }.foreach { case (rows, ms) =>
        if (!expected.get(n).exists(_.rows == rows))
          ledger.fail(n, s"mismatch: $rows rows")
        else times(live)(n) += ms
      }
      GraftSession.releaseQueryCaches(spark)
    }
    var runs = 0
    var lastMs = 0.0
    while (runs < order.size || remainingMs > lastMs / 2) {
      val t0 = Clock.nowMs
      runQuery(order(runs % order.size))
      lastMs = Clock.nowMs - t0
      runs += 1
    }
    if (trace.enabled) {
      trace.start(spark.sparkContext)
      order.foreach(runQuery)
    }

    def perQuery(live: Boolean): Seq[(String, Double)] =
      names.filter(times(live)(_).nonEmpty)
        .map(n => n -> Stats.median(times(live)(n).toSeq) / 1000)
    val out = new Outcome
    def e2e(into: Outcome.Figures,
        sec: Seq[Double]): Unit = if (sec.nonEmpty) {
      into("work_per_s") = (sec.size / sec.sum, "1/s")
      into("latency_ms") = (Stats.geomean(sec) * 1000, "ms")
    }
    val perQueryS = perQuery(false)
    val sec = perQueryS.map(_._2)
    e2e(out.e2e, sec)
    e2e(out.tracedE2e, perQuery(true).map(_._2))
    if (sec.nonEmpty) {
      out.lines("library_total_s") = (sec.sum, "s")
      out.lines("library_geomean_ms") = (Stats.geomean(sec) * 1000, "ms")
    }
    out.lines("library_runs") = (runs.toDouble, "count")
    out.detail("queries_s") = perQueryS.toMap
    out.detail("order") = order

    if (trace.enabled) {
      trace.drain(spark.sparkContext)
      val traced = perQuery(true)
      val qs = traced.toMap
      groups.foreach { case (g, ns) =>
        val s = ns.flatMap(qs.get).sum
        g match {
          case "hot" => out.layers("operators.hot_s") = (s, "s")
          case "floor" => out.layers("operators.floor_s") = (s, "s")
          case "wikitext" => out.layers("wikitext.query_s") = (s, "s")
          case other => out.layers(s"$other.s") = (s, "s")
        }
      }
      traced.foreach { case (n, s) =>
        out.layers(s"operators.query_s.$n") = (s, "s")
      }
      out.layers("operators.cached_frames_left") =
        (cachedLeft.toDouble, "count")
    }
    out
  }
}
