package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{DedupOps, ParaDedup, RepetitionOps}
import graft.pipeline.{Curate, ExtractJob, PagesGen}
import Util.check

/**
 * The per-layer decomposition of `Curate.curate`, run in traced
 * `extract_dense` runs (curation follows extraction). Its input is
 * extracted `normalized_text`: beyond the generator's own ~2% duplicates
 * it plants [[exactShare]] exact copies and [[nearShare]] near copies (one
 * appended sentence) of seeded picks. One traced `Curate.curate` call
 * gives the Spark counters; its ledger digest must equal the one computed
 * at a different shuffle-partition count. Then the stages are called one
 * by one.
 */
final class CurateLayers(ctx: Ctx) {
  import ctx.spark.implicits._

  val basePages = 500
  val exactShare = 0.08
  val nearShare = 0.08
  /** Shuffle partitions of the reference ledger and of the traced call. */
  val referencePartitions = 8
  val runPartitions = 16
  /** Documents of the driver-side `RepetitionOps.profile` replay. */
  val profileDocs = 300

  private val input = s"${ctx.work}/curate_in"
  private var docs = 0L

  private def spark = ctx.spark
  private def tr = ctx.tracer
  private def docsIn: DataFrame = spark.read.parquet(input)

  def measure(): Map[String, Double] = {
    prepare()
    spark.conf.set("spark.sql.shuffle.partitions", referencePartitions.toString)
    val reference = digest(Curate.curate(docsIn, "id", "text"))
    spark.conf.set("spark.sql.shuffle.partitions", runPartitions.toString)
    tracedCall(reference)
    pieces()
  }

  private def prepare(): Unit = {
    val n = basePages
    val texts = Workload.parallelMap((0 until n).map(ctx.offset + _), ctx.slots) { i =>
      val p = PagesGen.makePage(i)
      ExtractJob.scrapeAny(p.url, p.html)
    }.filter(r => r.status == "ok" && r.normalized_text.nonEmpty).map(_.normalized_text).toVector
    val rnd = new scala.util.Random(ctx.seed)
    val exact = Vector.fill(math.round(n * exactShare).toInt)(texts(rnd.nextInt(texts.length)))
    val near = Vector.fill(math.round(n * nearShare).toInt) {
      texts(rnd.nextInt(texts.length)) + s"\n\nRevision note ${rnd.nextInt(1000)}: wording tightened."
    }
    val all = texts ++ exact ++ near
    docs = all.length
    all.zipWithIndex.map { case (t, k) => (f"$k%07d", t) }.toDF("id", "text")
      .repartition(8).write.mode("overwrite").parquet(input)
  }

  /** sha256 over the sorted ledger rows; also checks one row per input id. */
  private def digest(ledger: DataFrame): String = {
    val rows = ledger.select(concat_ws("\u0001", col("id"), col("kept").cast("string"),
      col("stage"), col("reason"), col("paras_removed").cast("string"))).as[String].collect()
    check(rows.length == docs, s"ledger has ${rows.length} rows for $docs documents")
    check(rows.map(_.takeWhile(_ != '\u0001')).distinct.length == docs, "ledger repeats an id")
    Util.sha256Hex(rows.sorted.mkString("\n"))
  }

  private def tracedCall(reference: String): Unit = {
    val out = s"${ctx.work}/ledger"
    tr.newTrace()
    tr.span("bench.job") {
      val ledger = tr.call("pipeline.Curate.curate")(Curate.curate(docsIn, "id", "text"))
      ledger.write.mode("overwrite").parquet(out)
    }
    val d = digest(spark.read.parquet(out))
    Util.rmrf(out)
    check(d == reference,
      s"ledger digest at $runPartitions shuffle partitions differs from the one at $referencePartitions")
  }

  /** The curation stages called one by one, each materialized, so their
    * times can be set beside the single `curate` call. */
  private def pieces(): Map[String, Double] = {
    val cfg = Curate.Config()
    def traced[T](name: String)(body: => T): T = { tr.newTrace(); tr.call(name)(body) }
    val cleaned = traced("ops.ParaDedup.dedupParagraphs")(
      ParaDedup.dedupParagraphs(docsIn, "id", "text", cfg.paraMinDocFreq))
    val sample = cleaned.select("text_deduped").as[String].limit(profileDocs).collect()
    sample.foreach(t => tr.span("ops.RepetitionOps.profile")(RepetitionOps.profile(t)))
    val uniq = cleaned.select(col("id"), col("text_deduped").as("text"))
    val sigs = traced("ops.DedupOps.minhashSignatures")(
      DedupOps.minhashSignatures(uniq, "id", "text", cfg.shingleN, cfg.minhashK).localCheckpoint(true))
    val (bands, cands) = traced("ops.DedupOps.candidatePairs") {
      val bands = DedupOps.explodeBands(sigs, cfg.bandSize).localCheckpoint(true)
      (bands, DedupOps.candidatePairs(bands, Seq("band_idx", "band_key"), "id").localCheckpoint(true))
    }
    val verified = traced("ops.DedupOps.verifyPairs")(
      DedupOps.verifyPairs(cands, sigs, sigs, cfg.estFloor, cfg.jaccardThreshold).localCheckpoint(true))
    traced("ops.DedupOps.clusterRepresentatives")(
      DedupOps.clusterRepresentatives(verified).localCheckpoint(true))
    val nCands = cands.count().toDouble
    val nVerified = verified.count().toDouble
    val buckets = bands.groupBy("band_idx", "band_key").count().select("count").as[Long].collect().sorted
    val pieces = Seq("ops.ParaDedup.dedupParagraphs", "ops.DedupOps.minhashSignatures",
      "ops.DedupOps.candidatePairs", "ops.DedupOps.verifyPairs", "ops.DedupOps.clusterRepresentatives")
    Map(
      "ops.DedupOps.candidate_pairs" -> nCands,
      "ops.DedupOps.verified_pairs" -> nVerified,
      "ops.DedupOps.candidate_yield" -> (if (nCands == 0) 0.0 else nVerified / nCands),
      "ops.DedupOps.band_bucket_max" -> buckets.last.toDouble,
      "ops.DedupOps.band_bucket_p50" -> buckets(buckets.length / 2).toDouble,
      "pipeline.Curate.pieces_sum_s" -> pieces.flatMap(tr.named).map(_.ns).sum / 1e9)
  }
}
