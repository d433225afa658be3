package perfbench

import scala.io.Source

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

import graft.content.{BlockParser, NormalizeOptions, Normalizer}
import graft.dom.HtmlParser
import graft.extract.{ExtractionContext, Partial}
import graft.pipeline.{ExtractJob, PageRow, PagesGen, ScrapePipeline}
import graft.urlx.UrlOps
import Util.check

/**
 * `extract_dense`: parquet pages of the text-dense corpus →
 * `ExtractJob.extractAuto` → parquet. Each rep's output is checked row by
 * row against a driver-side `scrapeAny` replay of the same pages. Traced
 * runs also measure the curation layers ([[CurateLayers]]).
 */
final class ExtractWorkload(ctx: Ctx) extends Workload(ctx) {
  import ctx.spark.implicits._

  /** Pages per rep. */
  val docs = 1500
  val partitions = 16
  /** Pages of the per-row chain replay in traced runs. */
  val replayDocs = 150

  private val input = s"${ctx.work}/pages"
  private var reference: Map[String, String] = Map.empty
  private var variant = ""
  private var repNo = 0

  /** Three timed jobs per cycle: a run's figures are their median. */
  override def cycle: Seq[Mode] = Seq(Mode.Plain, Mode.Plain, Mode.Plain)

  private def page(i: Long): PageRow = PagesGen.makePage(i)

  private def pages: Dataset[PageRow] = spark.read.parquet(input).as[PageRow]

  def prepare(): Unit = {
    val (off, n) = (ctx.offset, docs)
    spark.range(off, off + n, 1, 8).map(i => PagesGen.makePage(i))
      .write.mode("overwrite").parquet(input)
  }

  /** JIT warm-up: one untimed pass of the timed job, then the reference:
    * normalized url → sha256(text_content), from `scrapeAny` on driver threads. */
  def warmUp(): Unit = {
    runJob(s"${ctx.work}/warm")
    Util.rmrf(s"${ctx.work}/warm")
    val n = docs
    reference = Workload.parallelMap((0 until n).map(ctx.offset + _), ctx.slots) { i =>
      val p = page(i)
      val r = ExtractJob.scrapeAny(p.url, p.html)
      r.url -> Util.sha256Hex(r.text_content)
    }.toMap
    check(reference.size == n, s"reference has ${reference.size} urls for $n pages")
  }

  private def runJob(out: String): Unit = {
    val (v, ds) = ExtractJob.extractAuto(pages, partitions)
    variant = v
    ds.write.mode("overwrite").parquet(out)
  }

  def rep(): Rep = {
    repNo += 1
    val out = s"${ctx.work}/out-$repNo"
    tr.newTrace()
    val (_, s, alloc) = Util.measure(tr.span("bench.job")(tr.call("pipeline.ExtractJob.extractAuto")(runJob(out))))
    val bytes = Util.du(out)
    val got = spark.read.parquet(out)
      .select(col("url"), sha2(col("text_content"), 256), col("status") === "ok" && col("error").isNull)
      .as[(String, String, Boolean)].collect()
    Util.rmrf(out)
    check(got.length == docs, s"${got.length} output rows for $docs pages")
    check(got.map(_._1).distinct.length == docs, "duplicate urls in the output")
    val wrong = got.count { case (u, h, _) => !reference.get(u).contains(h) }
    check(wrong == 0, s"$wrong urls whose text_content digest differs from the scrapeAny replay")
    Rep(docs, s, alloc, bytes.toDouble / docs, got.length, got.count(_._3), s)
  }

  def layerMetrics(): Map[String, Double] = {
    def noop(ds: Dataset[_]): Unit = ds.write.format("noop").mode("overwrite").save()
    def traced(name: String)(body: => Unit): Unit = { tr.newTrace(); tr.call(name)(body) }
    traced("pipeline.ExtractJob.chooseVariant")(ExtractJob.chooseVariant(pages))
    traced("pipeline.ExtractJob.extract")(noop(ExtractJob.extract(pages, partitions)))
    traced("pipeline.ExtractJob.extractFirst")(noop(ExtractJob.extractFirst(pages, partitions)))
    traced("pipeline.ExtractJob.extractOnSplits")(noop(ExtractJob.extractOnSplits(pages)))

    val rnd = new scala.util.Random(ctx.seed)
    val sample = rnd.shuffle((0 until docs).toVector).take(replayDocs).map(k => page(ctx.offset + k))
    sample.foreach { p =>
      tr.newTrace()
      val (text, normalized) = RowChain.replay(tr, p.url, p.html)
      tr.newTrace()
      val row = tr.span("pipeline.ScrapePipeline.scrapeHtml")(
        ScrapePipeline.scrapeHtml(ExtractJob.decodeHtml(p.html), p.url))
      check(text == row.text_content && normalized == row.normalized_text,
        s"per-row replay of ${p.url} differs from scrapeHtml")
    }
    val parseS = tr.named("dom.HtmlParser.parse").map(_.ns).sum / 1e9
    val htmlBytes = sample.map(_.html.length.toLong).sum
    new CurateLayers(ctx).measure() ++ Map(
      "pipeline.ExtractJob.chooseVariant.extract_first" -> (if (variant == "extract_first") 1.0 else 0.0),
      "pipeline.ExtractJob.html_bytes_per_doc" ->
        spark.read.parquet(input).select(sum(length(col("html")))).first().getLong(0).toDouble / docs,
      "dom.HtmlParser.parse.mb_per_s" -> htmlBytes / 1e6 / parseS)
  }

  /** The 100 frozen goldens (rows 0..99 of the seed-independent corpus) still match. */
  override def finalChecks(): Unit = {
    val goldens = {
      val src = Source.fromFile("src/test/resources/goldens.tsv", "UTF-8")
      try src.getLines().map(_.split("\t", -1)).collect { case Array(u, tc, nt, nh) => u -> (tc, nt, nh) }.toMap
      finally src.close()
    }
    (0 until 100).foreach { i =>
      val p = PagesGen.makePage(i.toLong)
      val r = ScrapePipeline.scrapeHtml(ExtractJob.decodeHtml(p.html), p.url)
      check(goldens.get(r.url).contains(
        (Util.sha256Hex(r.text_content), Util.sha256Hex(r.normalized_text), r.norm_hash)),
        s"golden mismatch at ${r.url}")
    }
  }
}

/**
 * Driver-side replay of `ScrapePipeline.scrapeHtml`'s call sequence for one
 * page, with a span around each function, so per-row cost splits by module.
 * Extractor failures are contained and merged exactly as `scrapeHtml` does.
 */
object RowChain {
  private val extractors = ScrapePipeline.defaultExtractors.map { e =>
    e -> s"extract.${e.getClass.getSimpleName.stripSuffix("$")}"
  }
  private val opts = NormalizeOptions()

  /** Returns the assembled `(text_content, normalized_text)`. */
  def replay(tr: Tracer, url: String, bytes: Array[Byte]): (String, String) = tr.span("bench.rowchain") {
    val html = tr.span("pipeline.ExtractJob.decodeHtml")(ExtractJob.decodeHtml(bytes))
    check(tr.span("urlx.UrlOps.isValidUrl")(UrlOps.isValidUrl(url)), s"invalid url $url")
    val normalizedUrl = tr.span("urlx.UrlOps.normalizeUrl")(UrlOps.normalizeUrl(url))
    val doc = tr.span("dom.HtmlParser.parse")(HtmlParser.parse(html))
    val ctx = ExtractionContext(normalizedUrl, normalizedUrl, doc)
    var results = Partial()
    extractors.foreach { case (e, name) =>
      try results = results.merge(tr.span(name)(e.extract(ctx)))
      catch { case _: Exception => () }
    }
    tr.span("urlx.UrlOps.extractDomain")(UrlOps.extractDomain(normalizedUrl))
    val blocks = tr.span("content.BlockParser.parseBlocks")(BlockParser.parseBlocks(
      doc, opts.dropSelectors, opts.maxBlocks.getOrElse(2000), opts.includeHtml))
    val normalized = tr.span("content.Normalizer.normalizeText")(
      Normalizer.normalizeText(blocks, opts, Some(normalizedUrl)))
    (results.textContent.getOrElse(""), normalized.text)
  }
}
