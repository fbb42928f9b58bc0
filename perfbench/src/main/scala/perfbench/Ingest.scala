package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

import graft.pipeline.{CitationPipeline, ExtractedRow}
import graft.sources.MwRevZst
import graft.wikitext.{ReferenceExtractor, WikitextNormalizer}

/** The ingest layers (`sources`, `wikitext`, `pipeline`), measured on
  * the corpus `serve` builds its tables from: the published row counts
  * against the generator's ground truth, and the traced run's per-call
  * breakdown of one build. */
object Ingest {

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(dirBytes).sum
    else f.length()

  /** Row count of every published table the generator knows the answer
    * for; a difference is one failed operation per table. */
  def check(ctx: Ctx, outDir: String, truth: Truth, op: String): Unit =
    truth.byTable.foreach { case (t, want) =>
      ctx.client.run(s"$op.check.$t") { _ =>
        ctx.spark.read.parquet(s"$outDir/$t").count()
      }.foreach { case (got, _) =>
        if (got != want) ctx.ledger.fail(s"$op.check.$t",
          s"mismatch: $got rows, expected $want")
      }
    }

  /** The traced run's per-call breakdown of one build: decode, extract +
    * stage, then each table's publish on its own. */
  def breakdown(
      ctx: Ctx, corpus: Corpus, glob: String, out: Outcome): Unit = {
    import ctx._
    val dir = s"${args.workDir}/breakdown"
    val staged = s"$dir/_staged_refs"
    val layers = out.layers
    val wall0 = Clock.nowMs

    client.run("sources.decode") { id =>
      val ds = trace.span("sources.build", id) { MwRevZst.read(spark, glob) }
      trace.span("sources.plan", id) { ds.queryExecution.executedPlan }
      trace.span("sources.exec", id) { ds.count() }
    }.foreach { case (n, ms) =>
      layers("sources.decode_s") = (ms / 1000, "s")
      if (n != corpus.revisions.size)
        ledger.fail("sources.decode", s"mismatch: $n revisions")
    }
    layers("sources.input_mb") = (corpus.inputBytes / 1e6, "MB")

    client.run("pipeline.extract_stage") { id =>
      val ds = trace.span("pipeline.build", id) {
        CitationPipeline.extractRows(MwRevZst.read(spark, glob),
          emitRefless = true)
      }
      trace.span("pipeline.plan", id) { ds.queryExecution.executedPlan }
      trace.span("pipeline.exec", id) {
        ds.write.mode("overwrite").option("compression", "zstd")
          .parquet(staged)
      }
    }.foreach { case (_, ms) =>
      layers("pipeline.extract_stage_s") = (ms / 1000, "s")
      layers.get("sources.decode_s").foreach { case (d, _) =>
        layers("pipeline.extract_self_s") = (ms / 1000 - d, "s")
      }
    }
    layers("pipeline.staged_mb") =
      (dirBytes(new File(staged)) / 1e6, "MB")

    val sp: SparkSession = spark
    import sp.implicits._
    val rows = spark.read.parquet(staged).as[ExtractedRow]
    val before = CitationPipeline.stagingFromRows(rows)
    val tables = CitationPipeline.dedup(before)
    tables.keys.toSeq.sorted.foreach { t =>
      client.run(s"pipeline.publish.$t") { id =>
        val df = trace.span("pipeline.build", id) { tables(t) }
        trace.span("pipeline.plan", id) { df.queryExecution.executedPlan }
        trace.span("pipeline.exec", id) {
          CitationPipeline.writeTables(Map(t -> df), dir)
        }
      }.foreach { case (_, ms) =>
        layers(s"pipeline.publish_s.$t") = (ms / 1000, "s")
      }
    }
    val wallS = (Clock.nowMs - wall0) / 1000
    layers("pipeline.breakdown_wall_s") = (wallS, "s")
    val parts = layers.collect {
      case (k, (v, _)) if k == "sources.decode_s" ||
        k == "pipeline.extract_stage_s" || k.startsWith("pipeline.publish_s.") => v
    }.sum
    layers("pipeline.breakdown_parts_s") = (parts, "s")

    // Counts and sizes, outside every timed call.
    tables.keys.toSeq.sorted.foreach { t =>
      val b = before(t).count().toDouble
      val a = CitationPipeline.servingTable(spark, dir, t).count().toDouble
      layers(s"pipeline.keep_ratio.$t") = (if (b == 0) 1.0 else a / b, "ratio")
      layers(s"pipeline.output_mb.$t") =
        (dirBytes(new File(dir, t)) / 1e6, "MB")
    }

    // wikitext, single-threaded in this JVM over every generated revision.
    val t0 = System.nanoTime()
    val raws = corpus.revisions.flatMap { r =>
      ReferenceExtractor.extract(r.text).map(_.rawReference)
        .filter(_.trim.nonEmpty)
    }
    val t1 = System.nanoTime()
    raws.foreach(WikitextNormalizer.normalize)
    val t2 = System.nanoTime()
    val nRev = corpus.revisions.size.toDouble
    layers("wikitext.extract_us_per_rev") = ((t1 - t0) / 1e3 / nRev, "us")
    layers("wikitext.refs_per_rev") = (raws.size / nRev, "count")
    layers("wikitext.normalize_us_per_ref") =
      ((t2 - t1) / 1e3 / math.max(raws.size, 1), "us")
    if (raws.size != corpus.truth.refs)
      ledger.fail("wikitext.extract", s"mismatch: ${raws.size} refs, " +
        s"expected ${corpus.truth.refs}")
  }
}
