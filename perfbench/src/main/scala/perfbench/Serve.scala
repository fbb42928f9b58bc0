package perfbench

import java.io.File

import scala.collection.mutable
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.pipeline.{CitationPipeline, ExtractedRow}
import graft.queries.CitationQueries

/** `serve`: one client in a closed loop with no think time, making
  * Explorer-style visits against the page_id-bucketed tables that
  * `CitationPipeline.build` publishes. Set-up times that build, and the
  * published row counts are checked against the generator's ground
  * truth, so the ingest layers are measured here too. */
object Serve {

  def shape(cores: Int): CorpusShape = CorpusShape(
    bundles = 2 * cores, revisionsPerBundle = 400, historyAlpha = 0.9,
    maxRevisionsPerPage = 80, minRefs = 3, maxRefs = 10)

  /** Zipf exponent of the page draw; rank 1 is the longest history. */
  val zipfS = 1.1

  /** Tables each operation reads. */
  val uses: Map[String, Seq[String]] = Map(
    "articleLookup" -> Seq("documents", "web_resources"),
    "articleRevisions" -> Seq("revisions", "citation_histories"),
    "citationsAtRevision" -> Seq("citation_instances",
      "normalized_citations", "citation_histories", "revisions"),
    "citationDetail" -> Seq("normalized_citations", "citation_instances",
      "citation_histories", "revisions", "ncwr", "template_data"),
    "citationHistory" -> Seq("citation_histories", "revisions"),
    "otherArticles" -> Seq("normalized_citations", "citation_instances"),
    "templateReport" -> Seq("template_data", "normalized_citations"),
    "webResourceLookup" -> Seq("ncwr", "normalized_citations",
      "citation_instances"),
    "articleByUrl" -> Seq("web_resources", "documents"))

  /** One API call: the operation and its arguments. */
  final case class Call(op: String, page: Int, rev: Option[Long] = None,
      normSha: String = "", rawSha: String = "", url: String = "")

  def query(t: Map[String, DataFrame], c: Call): DataFrame = c.op match {
    case "articleLookup" =>
      CitationQueries.articleLookup(t("documents"), t("web_resources"), c.page)
    case "articleRevisions" =>
      CitationQueries.articleRevisions(t("revisions"),
        t("citation_histories"), c.page)
    case "citationsAtRevision" =>
      CitationQueries.citationsAtRevision(t("citation_instances"),
        t("normalized_citations"), t("citation_histories"), t("revisions"),
        c.page, c.rev)
    case "citationDetail" =>
      CitationQueries.citationDetail(t("normalized_citations"),
        t("citation_instances"), t("citation_histories"), t("revisions"),
        t("ncwr"), t("template_data"), c.normSha)
    case "citationHistory" =>
      CitationQueries.citationHistory(t("citation_histories"),
        t("revisions"), c.page, c.rawSha)
    case "otherArticles" =>
      CitationQueries.otherArticles(t("normalized_citations"),
        t("citation_instances"), c.normSha, Some(c.page))
    case "templateReport" =>
      CitationQueries.templateReport(t("template_data"),
        t("normalized_citations"), "Cite web", "url", Some(c.url))
    case "webResourceLookup" =>
      CitationQueries.webResourceLookup(t("ncwr"),
        t("normalized_citations"), t("citation_instances"), c.url)
    case "articleByUrl" =>
      CitationQueries.articleByUrl(t("web_resources"), t("documents"),
        c.url)
  }

  /** Order-insensitive rendering of a response, for the comparison. */
  def canon(rows: Seq[Row]): Seq[String] = rows.map(_.toString).sorted

  def run(ctx: Ctx): Outcome = {
    import ctx._
    val cores = spark.sparkContext.defaultParallelism
    val corpus = new Corpus(shape(cores), args.seed,
      new File(args.workDir, "bundles"))
    val glob = corpus.write()
    val servingDir = s"${args.workDir}/serving"
    val buildMs = client.run("publish") { _ =>
      CitationPipeline.build(spark, glob, servingDir)
    }.map(_._2)
    // The reference answers: the same queries on the un-bucketed
    // dedup(...) frames, derived from the build's own staged rows.
    val sp: SparkSession = spark
    import sp.implicits._
    val direct = CitationPipeline.dedup(CitationPipeline.stagingFromRows(
      spark.read.parquet(s"$servingDir/_staged_refs").as[ExtractedRow]))
      .map { case (k, df) => k -> df.persist(StorageLevel.MEMORY_AND_DISK) }

    // Pages ranked by history length: the Zipf draw favours the longest.
    val ranked = corpus.historyLength.toSeq
      .sortBy { case (p, n) => (-n, p) }.map(_._1).toArray
    val cdf = {
      val w = ranked.indices.map(i => 1.0 / math.pow(i + 1, zipfS))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    val rng = new scala.util.Random(args.seed ^ 0x5eed)
    def drawPage(): Int = {
      val u = rng.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      ranked(math.min(if (i >= 0) i else -i - 1, ranked.length - 1))
    }
    val urls = corpus.citeWebUrls.distinct.toArray

    val latency = mutable.Map.empty[Boolean, mutable.ArrayBuffer[(String, Double)]]
    var timing = false
    // Every response, compared after the window so that checking takes
    // no measured time.
    val responses = mutable.ArrayBuffer.empty[(Call, Array[Row])]
    var tracedRows = 0L

    /** One request: open the tables it reads, build, plan, collect. */
    def request(c: Call): Option[Array[Row]] = {
      val res = client.run(c.op) { id =>
        val t = trace.span("pipeline.table_open", id) {
          uses(c.op).map(n =>
            n -> CitationPipeline.servingTable(spark, servingDir, n)).toMap
        }
        val df = trace.span("queries.build", id) { query(t, c) }
        if (trace.live)
          trace.span("queries.plan", id) { df.queryExecution.executedPlan }
        trace.span("queries.exec", id) { df.collect() }
      }
      res.foreach { case (rows, ms) =>
        if (trace.live) tracedRows += rows.length
        if (timing)
          latency.getOrElseUpdate(trace.live, mutable.ArrayBuffer.empty) +=
            (c.op -> ms)
        responses += c -> rows
      }
      res.map(_._1)
    }

    // Every visit makes the six core calls; odd visits also read an
    // older revision and even ones make the three rarer calls, so two
    // consecutive visits always hold the same mix whatever the seed.
    var visits = 0
    def visit(): Unit = {
      visits += 1
      val page = drawPage()
      request(Call("articleLookup", page))
      val revs = request(Call("articleRevisions", page))
        .getOrElse(Array.empty[Row]).map(_.getAs[Long]("revision_id"))
      val cites = request(Call("citationsAtRevision", page))
        .getOrElse(Array.empty[Row])
      if (revs.length > 1 && visits % 2 == 1)
        request(Call("citationsAtRevision", page,
          rev = Some(revs(rng.nextInt(revs.length - 1)))))
      if (cites.nonEmpty) {
        val r = cites(rng.nextInt(cites.length))
        val norm = r.getAs[String]("normalized_sha1")
        request(Call("citationDetail", page, normSha = norm))
        request(Call("citationHistory", page,
          rawSha = r.getAs[String]("raw_sha1")))
        request(Call("otherArticles", page, normSha = norm))
      }
      if (visits % 2 == 0 && urls.nonEmpty) {
        val url = urls(rng.nextInt(urls.length))
        request(Call("templateReport", page, url = url))
        request(Call("webResourceLookup", page, url = url))
        request(Call("articleByUrl", page,
          url = s"https://en.wikipedia.org/w/index.php?curid=$page"))
      }
    }

    // A traced run also breaks one build of the corpus into its calls,
    // before any request and outside the traced part.
    val out = new Outcome
    if (trace.enabled) Ingest.breakdown(ctx, corpus, glob, out)
    // Set-up ends after one warm-up visit (JIT, codegen, footers).
    visit()
    setupDone()
    timing = true
    // The window holds whole two-visit cycles, so every run sees the
    // same mix.
    var lastMs = 0.0
    while (lastMs == 0 || remainingMs > lastMs / 2) {
      maybeStartTrace()
      val t0 = Clock.nowMs
      visit(); visit()
      lastMs = Clock.nowMs - t0
    }
    if (trace.enabled && !trace.live) {
      trace.start(spark.sparkContext)
      visit(); visit()
    }
    timing = false
    // Each distinct call is answered once on the reference frames; the
    // answers run concurrently, as nothing is timed any more.
    val want = responses.map(_._1).distinct.map { c =>
      c -> Future(canon(query(direct, c).collect().toSeq))
    }.toMap
    responses.foreach { case (c, rows) =>
      Try(Await.result(want(c), Duration.Inf)) match {
        case Failure(e) =>
          ledger.fail(c.op, s"reference ${e.getClass.getName}")
        case Success(w) if canon(rows.toSeq) != w =>
          ledger.fail(c.op, s"mismatch: ${rows.length} rows vs " +
            s"${w.size} on the un-bucketed frames")
        case _ => ()
      }
    }
    direct.values.foreach(_.unpersist())
    Ingest.check(ctx, servingDir, corpus.truth, "publish")

    def e2e(into: Outcome.Figures,
        xs: Seq[(String, Double)]): Unit = if (xs.nonEmpty) {
      val ms = xs.map(_._2)
      into("work_per_s") = (1000.0 * ms.size / ms.sum, "1/s")
      into("latency_ms") = (Stats.median(ms), "ms")
    }
    val plain = latency.getOrElse(false, mutable.ArrayBuffer.empty).toSeq
    val traced = latency.getOrElse(true, mutable.ArrayBuffer.empty).toSeq
    e2e(out.e2e, plain)
    e2e(out.tracedE2e, traced)
    out.e2e.get("latency_ms").foreach(v => out.lines("serve_p50_ms") = v)
    if (plain.nonEmpty)
      out.lines("serve_p90_ms") = (Stats.quantile(plain.map(_._2), 0.9), "ms")
    out.lines("serve_samples") = (plain.size.toDouble, "count")
    out.lines("serve_checked") = (responses.size.toDouble, "count")
    buildMs.foreach { ms =>
      out.lines("ingest_revisions_per_s") =
        (corpus.revisions.size / (ms / 1000), "rev/s")
    }
    val stored = CitationPipeline.dedupKeys.keys.toSeq
      .map(t => Ingest.dirBytes(new File(servingDir, t))).sum
    out.lines("ingest_stored_bytes_per_input_byte") =
      (stored.toDouble / corpus.inputBytes, "ratio")
    out.detail("corpus") = corpus.describe
    out.detail("truth") = corpus.truth
    out.detail("zipf_s") = zipfS
    out.detail("requests_by_op") =
      plain.groupBy(_._1).map { case (k, v) => k -> v.size }
    out.detail("p50_ms_by_op") =
      plain.groupBy(_._1).map { case (k, v) => k -> Stats.median(v.map(_._2)) }

    if (trace.enabled) {
      trace.drain(spark.sparkContext)
      // Build, plan, exec, jobs and driver time per request are the
      // shared op.* and spark.*_per_op metrics; these are serve's own.
      val spans = trace.allSpans
      val ops = spans.map(_.op).distinct
      out.layers("pipeline.table_open_ms") = (spans
        .filter(_.name == "pipeline.table_open").map(_.ms).sum /
        math.max(ops.size, 1), "ms")
      traced.groupBy(_._1).foreach { case (op, xs) =>
        out.layers(s"queries.op_p50_ms.$op") =
          (Stats.median(xs.map(_._2)), "ms")
      }
      out.layers("queries.records_read_per_row_returned") =
        (ops.map(trace.counts(_).recordsRead).sum.toDouble /
          math.max(tracedRows, 1L), "ratio")
    }
    out
  }
}
