package perfbench

import java.io.{File, FileOutputStream}
import java.nio.charset.StandardCharsets

import scala.collection.mutable

import com.github.luben.zstd.ZstdOutputStream

/** Shape of a generated corpus (recorded in BENCHMARK.json's workload
  * notes and in every run record). */
final case class CorpusShape(
    bundles: Int,
    /** Every bundle holds exactly this many revisions (its last page's
      * history is cut short), so the corpus size does not vary with the
      * seed. */
    revisionsPerBundle: Int,
    /** Pareto exponent of revisions per page: smaller = more skew. */
    historyAlpha: Double,
    maxRevisionsPerPage: Int,
    /** Refs a page starts with, drawn uniformly from this range. */
    minRefs: Int,
    maxRefs: Int)

/** One generated revision, kept for the single-threaded wikitext probe. */
final case class GenRevision(pageId: Int, revisionId: Long, text: String)

/** What the published tables must hold, known from the generator alone
  * (no program code computes it). */
final case class Truth(
    pages: Long,
    revisions: Long,
    revisionsWithRefs: Long,
    instances: Long,
    normalized: Long,
    webResources: Long,
    ncwr: Long,
    refs: Long) {
  def byTable: Map[String, Long] = Map(
    "documents" -> pages,
    "revisions" -> revisionsWithRefs,
    "citation_instances" -> instances,
    "normalized_citations" -> normalized,
    "web_resources" -> webResources,
    "ncwr" -> ncwr)
}

/** A seeded synthetic corpus of `.mwrev.zst` bundles with Wikipedia's
  * shape: skewed revisions per page, consecutive revisions that keep most
  * of their refs, `<ref>` tags with `{{Cite …}}` parameters, name-only
  * `<ref name=x />` tags, bare and bracketed URLs, reference sections,
  * and commented-out refs that must not be extracted. Some citations are
  * shared across pages, so dedup across pages has work too. */
final class Corpus(
    val shape: CorpusShape,
    seed: Long,
    dir: File) {

  private val rng = new scala.util.Random(seed)
  val revisions = mutable.ArrayBuffer.empty[GenRevision]
  /** page id -> number of revisions, for the serving draw. */
  val historyLength = mutable.LinkedHashMap.empty[Int, Int]
  /** Every `{{Cite web}}` url, for template and reverse-url lookups. */
  val citeWebUrls = mutable.ArrayBuffer.empty[String]
  var inputBytes = 0L

  private val words = Array("the", "river", "town", "was", "founded",
    "in", "by", "and", "later", "became", "a", "centre", "of", "trade",
    "its", "population", "grew", "during", "century", "north", "museum",
    "school", "railway", "station", "opened", "council", "bridge")

  private def filler(n: Int): String =
    Seq.fill(n)(words(rng.nextInt(words.length))).mkString(" ")

  // Citation keys >= SharedBase are drawn from a pool several pages use.
  private val SharedBase = 1000000000L
  private val sharedPool = 400
  private var nextKey = 1L
  private def newKey(): Long =
    if (rng.nextDouble() < 0.15) SharedBase + rng.nextInt(sharedPool)
    else { nextKey += 1; nextKey }

  /** Kind of a citation, fixed by its key so each key renders one way. */
  private def kind(key: Long): Int =
    (java.lang.Long.hashCode(key * 0x9E3779B97F4A7C15L) & 0x7fffffff) % 10

  /** The raw wikitext of a citation and the urls the extractor must find
    * in it. Kinds 0-6 are inline `<ref>` tags, 7 a bare body URL, 8-9
    * reference-section list items. */
  private def render(key: Long): (String, Seq[String]) = {
    val h = key % 37
    kind(key) match {
      case 0 | 1 | 2 =>
        val url = s"https://site$h.example.org/article/$key"
        (s"<ref name=k$key>{{Cite web |url=$url |title=Report $key " +
          s"|website=Site $h |access-date=2021-0${1 + key % 9}-1${key % 10}}}</ref>",
          Seq(url))
      case 3 =>
        (s"<ref>{{Cite book |last=Author$h |first=A. |title=Book $key " +
          s"|publisher=Press $h |year=${1950 + key % 70} |isbn=978${key}}}</ref>",
          Nil)
      case 4 =>
        val url = s"https://news$h.example.com/story/$key"
        (s"<ref>[$url Story $key]</ref>", Seq(url))
      case 5 =>
        (s"<ref>{{Cite journal |title=Study $key |journal=Journal $h " +
          s"|volume=${key % 50} |doi=10.1000/$key}}</ref>", Nil)
      case 6 =>
        (s"<ref name=n$key />", Nil)
      case 7 =>
        val url = s"https://bare$h.example.net/page/$key"
        (url, Seq(url))
      case _ =>
        val url = s"https://list$h.example.org/source/$key"
        (s"* {{Cite web |url=$url |title=Source $key}}", Seq(url))
    }
  }

  // Ground-truth sets.
  private val pageRaw = mutable.HashSet.empty[(Int, String)]
  private val rawSet = mutable.HashSet.empty[String]
  private val urlSet = mutable.HashSet.empty[String]
  private val rawUrl = mutable.HashSet.empty[(String, String)]
  private var withRefs = 0L
  private var refCount = 0L

  private def revisionText(page: Int, keys: Seq[Long]): String = {
    val rendered = keys.map(k => k -> render(k))
    val (endnotes, body) = rendered.partition { case (k, _) => kind(k) >= 8 }
    val sb = new StringBuilder
    sb.append(s"'''Place $page''' is a ").append(filler(12)).append(".\n\n")
    body.grouped(3).foreach { g =>
      sb.append(filler(20 + rng.nextInt(30)))
      g.foreach { case (_, (raw, _)) =>
        sb.append(' ').append(raw).append(' ').append(filler(4))
      }
      sb.append(".\n\n")
    }
    if (rng.nextDouble() < 0.3)
      sb.append(s"<!-- <ref>{{Cite web |url=https://hidden.example.org/$page " +
        "|title=Removed}}</ref> -->\n\n")
    sb.append("== History ==\n").append(filler(40)).append(".\n\n")
    sb.append("== References ==\n{{Reflist}}\n")
    endnotes.foreach { case (_, (raw, _)) => sb.append(raw).append('\n') }
    rendered.foreach { case (_, (raw, urls)) =>
      pageRaw += page -> raw
      rawSet += raw
      urls.foreach { u => urlSet += u; rawUrl += raw -> u }
    }
    if (keys.nonEmpty) withRefs += 1
    refCount += keys.size
    sb.toString
  }

  /** Writes the bundles; returns the glob that matches them. */
  def write(): String = {
    dir.mkdirs()
    var revId = 0L
    var pageId = 0
    (0 until shape.bundles).foreach { b =>
      val out = new StringBuilder
      var left = shape.revisionsPerBundle
      while (left > 0) {
        pageId += 1
        val nRevs = math.min(left, math.min(shape.maxRevisionsPerPage,
          math.floor(math.pow(1 - rng.nextDouble(), -1 / shape.historyAlpha))
            .toInt))
        left -= nRevs
        historyLength(pageId) = nRevs
        // A few stub pages never get a reference.
        val stub = rng.nextDouble() < 0.05
        var keys: Vector[Long] =
          if (stub) Vector.empty
          else Vector.fill(shape.minRefs +
            rng.nextInt(shape.maxRefs - shape.minRefs + 1))(newKey()).distinct
        var parent: Option[Long] = None
        (0 until nRevs).foreach { r =>
          if (r > 0 && !stub) {
            val u = rng.nextDouble()
            if (u < 0.15) keys = (keys :+ newKey()).distinct
            else if (u < 0.22 && keys.size > 1)
              keys = keys.patch(rng.nextInt(keys.size), Nil, 1)
            else if (u < 0.27 && keys.nonEmpty)
              keys = keys.updated(rng.nextInt(keys.size), newKey()).distinct
          }
          revId += 1
          val text = revisionText(pageId, keys)
          keys.filter(kind(_) <= 2).foreach { k =>
            citeWebUrls += s"https://site${k % 37}.example.org/article/$k"
          }
          revisions += GenRevision(pageId, revId, text)
          val day = 1 + r % 28
          val month = 1 + (r / 28) % 12
          out.append(s"# page_id=$pageId ns=0 rev_id=$revId " +
            s"parent_rev_id=${parent.getOrElse("")} " +
            f"timestamp=20${10 + r / 336}%02d-$month%02d-$day%02dT12:00:00Z\n")
          text.split("\n", -1).foreach(l => out.append(' ').append(l).append('\n'))
          parent = Some(revId)
        }
      }
      val f = new File(dir, f"bundle$b%03d.mwrev.zst")
      val z = new ZstdOutputStream(new FileOutputStream(f))
      try z.write(out.toString.getBytes(StandardCharsets.UTF_8))
      finally z.close()
      inputBytes += f.length()
    }
    s"${dir.getAbsolutePath}/*.mwrev.zst"
  }

  def truth: Truth = Truth(
    pages = historyLength.size.toLong,
    revisions = revisions.size.toLong,
    revisionsWithRefs = withRefs,
    instances = pageRaw.size.toLong,
    normalized = rawSet.size.toLong,
    webResources = historyLength.size.toLong + urlSet.size,
    ncwr = rawUrl.size.toLong,
    refs = refCount)

  def describe: Map[String, Any] = Map(
    "bundles" -> shape.bundles, "pages" -> historyLength.size,
    "revisions" -> revisions.size,
    "refs_per_revision" -> refCount.toDouble / revisions.size,
    "history_pareto_alpha" -> shape.historyAlpha,
    "max_revisions_per_page" -> shape.maxRevisionsPerPage,
    "input_bytes" -> inputBytes)
}
