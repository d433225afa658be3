package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

import graft.ops.IncrementalDedup
import graft.pipeline.{ExtractJob, PageRow, PagesGen, ScrapedRow}
import graft.streaming.StreamingExtract
import Util.check

/**
 * `ingest_loop`: dense-corpus batches committed into one growing store. A
 * batch is `ExtractJob.runResumable` into a checkpoint dir, then
 * `StreamingExtract.incrementalDedupSink` over the rows that batch added.
 * Batches after the first re-present [[redoneShare]] of their size in
 * already-done urls (the resume path skips them), and every batch carries
 * [[dupShare]] of its size in new urls whose body copies an earlier page
 * (the dedup drops them). The seed picks which pages are copied, not how
 * many of each kind: see [[prepare]].
 *
 * Batch 0 is the history: [[historyFactor]] times a batch, the
 * history:batch ratio of the repo's ingest probe (a 1k batch against an 8k
 * history). The warm-up commits it into a base store. Each timed rep
 * copies the base and commits batch 1 on top, so every rep does the same
 * work against the same history. The traced and one-slot reps of the
 * traced run cover the extraction step (`runResumable`) only: a commit
 * costs ~100 Spark jobs, too many to repeat four more times per run.
 * Traced runs also commit batches 1 and 2 in sequence on one copy, to show
 * how the commit's history reads grow.
 */
final class IngestWorkload(ctx: Ctx) extends Workload(ctx) {
  import ctx.spark.implicits._

  val batches = 3
  val freshPerBatch = 200
  val historyFactor = 8
  val redoneShare = 0.2
  val dupShare = 0.1
  /** Of a later batch's copies: generator near-duplicate pairs of history
    * copied whole, and copies of the batch's own fresh pages. */
  val nearPairs = 2
  val batchCopies = 4
  val partitions = 4
  /** Untimed commits before timing: the commit's time keeps falling over
    * the first ~4 commits of a run, as the JVM compiles Spark's code. */
  val warmUpReps = 2

  private val nRedone = math.round(freshPerBatch * redoneShare).toInt
  /** Fresh pages of batch `b`, and the corpus row of its first one. */
  private def fresh(b: Int): Int = if (b == 0) historyFactor * freshPerBatch else freshPerBatch
  private def firstFresh(b: Int): Int = if (b == 0) 0 else (historyFactor + b - 1) * freshPerBatch
  private def copies(b: Int): Int = math.round(fresh(b) * dupShare).toInt
  /** Copies of batch `b` whose body is a history page's. */
  private def histCopies(b: Int): Int = if (b == 0) 0 else copies(b) - batchCopies
  /** Rows batch `b` should add to the checkpoint: fresh pages plus copied bodies. */
  def newRows(b: Int): Long = fresh(b) + copies(b)
  /** Rows the checkpoint should hold after batch `b`. */
  def rowsAfter(b: Int): Long = (0 to b).map(newRows).sum

  spark.conf.set("spark.sql.shuffle.partitions", partitions.toString)

  private val base = s"${ctx.work}/base"
  private var loopNo = 0

  private def batchDir(b: Int) = s"${ctx.work}/batches/b$b"

  /** Batch files. `PagesGen` makes row k (k % 50 == 0) a copy of row k - 1:
    * exact when k % 100 == 0, else near (one sentence added). Batch 0's
    * dedup keeps one body of each such pair. A later batch's planted copies
    * are, of fixed counts: both members of [[nearPairs]] near pairs of
    * history (one exact and one near duplicate of history per pair),
    * [[batchCopies]] copies of its own fresh pages, and copies of other
    * history pages; batch 0's are copies of its own pages. Copies of
    * generator pairs are only planted as whole pairs, so every seed gives
    * the dedup the same number of drops of each kind: a chance near
    * duplicate of history changes the commit's plans (~50% more allocated). */
  def prepare(): Unit = {
    val rnd = new scala.util.Random(ctx.seed)
    def page(k: Int) = PagesGen.makePage(ctx.offset + k)
    def paired(k: Int) = k % 50 == 0 || k % 50 == 49
    def pick(from: Int, until: Int, n: Int) = rnd.shuffle((from until until).filterNot(paired).toVector).take(n)
    (0 until batches).foreach { b =>
      val done = firstFresh(b)
      val freshPages = (done until done + fresh(b)).map(page)
      val redone = if (b == 0) Nil else rnd.shuffle((0 until done).toVector).take(nRedone).map(page)
      val near = if (b == 0) Nil
        else rnd.shuffle((100 until done by 100).toVector).take(nearPairs).flatMap(k => Seq(k - 51, k - 50))
      val own = pick(done, done + fresh(b), copies(b) - histCopies(b))
      val hist = if (b == 0) Nil else pick(0, done, histCopies(b) - near.length)
      val copied = Seq("near" -> near, "hist" -> hist, "batch" -> own).flatMap { case (kind, srcs) =>
        srcs.zipWithIndex.map { case (src, j) =>
          page(src).copy(url = s"https://mirror-${j % 7}.example/b$b/$kind-$j-$src")
        }
      }
      spark.sparkContext.parallelize(freshPages ++ redone ++ copied, 4).toDS()
        .write.mode("overwrite").parquet(batchDir(b))
    }
  }

  /** Warm-up: batch 0 committed into the base store every rep starts from,
    * then [[warmUpReps]] untimed reps. Batch 0's commit finds no history,
    * so it skips the history joins; the untraced run times whole commits,
    * and its warm-up reps run that path before timing starts. The traced
    * run times only the extraction step, so its one warm-up rep is that
    * step alone. The parquet bytes batch 0's commit reads (nothing is
    * history yet) start [[historySeries]]. */
  def warmUp(): Unit = {
    Util.rmrf(base)
    val (pagesParsed, added, _, _) = runResumable(base, 0)
    historySeries = Seq((0L, historyRead(base, 0, added)))
    checkBatch(base, 0, pagesParsed, added)
    Runner.log("batch 0 committed")
    if (ctx.traceRun) extractionRep(oneSlot = false)
    else (1 to warmUpReps).foreach(i => Runner.log(f"warm-up rep $i ${rep().seconds}%.2f s"))
  }

  /** Two timed commits per cycle: a run's figures are their median. */
  override def cycle: Seq[Mode] = Seq(Mode.Plain, Mode.Plain)

  /** `runResumable` for batch `b`: (manifest pages_parsed, rows added, seconds, input rows). */
  private def runResumable(loop: String, b: Int): (Long, Dataset[ScrapedRow], Double, Long) = {
    val ckpt = s"$loop/ckpt"
    val before = Util.parquetFiles(s"$ckpt/data")
    val pages = spark.read.parquet(batchDir(b)).as[PageRow]
    val ((summary, added), s) = Util.seconds(tr.call("pipeline.ExtractJob.runResumable") {
      val summary = ExtractJob.runResumable(spark, pages, ckpt, partitions, s"b$b")
      val files = (Util.parquetFiles(s"$ckpt/data") -- before).toSeq.sorted
      (summary, spark.read.parquet(files: _*).as[ScrapedRow])
    })
    (summary.pagesParsed, added, s, pages.count())
  }

  private def commit(loop: String, b: Int, added: Dataset[ScrapedRow]): Unit =
    tr.call("streaming.incrementalDedupSink")(
      StreamingExtract.incrementalDedupSink(s"$loop/store", s"$loop/ledger")(added, b.toLong))

  /** Commits batch `b` with its rows materialized first, so the parquet
    * bytes the commit reads are all history; returns those bytes. */
  private def historyRead(loop: String, b: Int, added: Dataset[ScrapedRow]): Double = {
    val rows = added.localCheckpoint(true)
    val read0 = Util.localFsBytesRead()
    commit(loop, b, rows)
    (Util.localFsBytesRead() - read0).toDouble
  }

  /** Checks batch `b` of `loop`; returns (rows added, rows without error, dedupable rows, rows dropped). */
  private def checkBatch(loop: String, b: Int, pagesParsed: Long, added: Dataset[ScrapedRow])
      : (Long, Long, Long, Long) = {
    check(pagesParsed == newRows(b), s"batch $b: manifest pages_parsed $pagesParsed, expected ${newRows(b)}")
    val manifestRows = spark.read.parquet(s"$loop/ckpt/manifest").filter(col("run_id") === s"b$b")
      .agg(sum("n_rows")).first().getLong(0)
    check(manifestRows == newRows(b), s"batch $b: manifest rows sum to $manifestRows")
    val (n, ok, canDedup) = added.toDF().agg(count(lit(1)),
        sum(when(col("status") === "ok" && col("error").isNull, 1).otherwise(0)),
        sum(when(col("status") === "ok" && length(col("normalized_text")) > 0, 1).otherwise(0)))
      .as[(Long, Long, Long)].first()
    check(n == newRows(b), s"batch $b added $n rows")
    val histCopy = col("id").rlike("/b[0-9]+/(near|hist)-")
    val (ledgerRows, deduped, drops, histCopiesDropped, nearDrops) =
      spark.read.parquet(s"$loop/ledger/ingest_batch=$b").agg(count(lit(1)),
        sum(when(col("stage") =!= "error_passthrough", 1).otherwise(0)),
        sum(when(!col("kept"), 1).otherwise(0)),
        sum(when(histCopy && !col("kept"), 1).otherwise(0)),
        sum(when(histCopy && col("stage") === "near_dup_hist", 1).otherwise(0)))
      .as[(Long, Long, Long, Long, Long)].first()
    check(ledgerRows == n && deduped == canDedup,
      s"batch $b: ledger has $ledgerRows rows ($deduped deduped) for $n rows ($canDedup dedupable)")
    // each copied history body is dropped; of each copied near pair, the
    // member whose body the store does not hold is dropped as a near duplicate
    val nearExpected = if (b == 0) 0 else nearPairs
    check(histCopiesDropped == histCopies(b) && nearDrops == nearExpected,
      s"batch $b: $histCopiesDropped of ${histCopies(b)} history copies dropped, " +
        s"$nearDrops of $nearExpected as near duplicates")
    val (total, distinctUrls) = spark.read.parquet(s"$loop/ckpt/data")
      .agg(count(lit(1)), countDistinct(col("url"))).as[(Long, Long)].first()
    check(total == rowsAfter(b) && distinctUrls == total,
      s"after batch $b the checkpoint holds $total rows, $distinctUrls distinct urls")
    (n, ok, canDedup, drops)
  }

  private def freshLoop(): String = {
    loopNo += 1
    val loop = s"${ctx.work}/loop-$loopNo"
    Util.copyDir(base, loop)
    loop
  }

  def rep(): Rep = {
    val loop = freshLoop()
    tr.newTrace()
    val ((pagesParsed, added, s1, _), s, alloc) = Util.measure {
      val extracted = runResumable(loop, 1)
      commit(loop, 1, extracted._2)
      extracted
    }
    val (n, ok, _, _) = checkBatch(loop, 1, pagesParsed, added)
    val bytesPerDoc = Util.du(loop).toDouble / rowsAfter(1)
    Util.rmrf(loop)
    Rep(n, s, alloc, bytesPerDoc, n, ok, s1)
  }

  override def singleSlotRep(): Rep = extractionRep(oneSlot = true)

  override def tracedRep(): Rep = extractionRep(oneSlot = false)

  /** Batch 1's extraction step alone: `runResumable` on a copy of the base. */
  private def extractionRep(oneSlot: Boolean): Rep = {
    val loop = freshLoop()
    tr.newTrace()
    val ((pagesParsed, added, s, _), _, alloc) = Util.measure(
      if (oneSlot) OneSlot(ctx.sc, ctx.slots)(runResumable(loop, 1)) else runResumable(loop, 1))
    check(pagesParsed == newRows(1), s"batch 1: manifest pages_parsed $pagesParsed, expected ${newRows(1)}")
    val ok = added.filter(r => r.status == "ok" && r.error.isEmpty).count()
    Util.rmrf(loop)
    Rep(pagesParsed, s, alloc, 0.0, pagesParsed, ok, s)
  }

  /** Commits batches 1 and 2 in sequence on one copy of the base, each
    * through [[historyRead]]; before the last commit, `dedupeBatch` is also
    * called directly on the same batch and history. The history read is
    * fitted against the history rows at each commit, batch 0's included. */
  def layerMetrics(): Map[String, Double] = {
    val loop = freshLoop()
    var dedupable, dropped, presented, parsed = 0L
    val last = 2
    (1 to last).foreach { b =>
      tr.newTrace()
      val (pagesParsed, added, _, in) = runResumable(loop, b)
      if (b == last) {
        val batch = added.toDF().filter(col("status") === "ok" && length(col("normalized_text")) > 0)
          .select("url", "normalized_text")
        val history = IncrementalDedup.openStore(spark, s"$loop/store")
        tr.call("ops.IncrementalDedup.dedupeBatch")(
          IncrementalDedup.dedupeBatch(batch, "url", "normalized_text", history))
      }
      historySeries :+= ((rowsAfter(b - 1), historyRead(loop, b, added)))
      val (_, _, canDedup, drops) = checkBatch(loop, b, pagesParsed, added)
      dedupable += canDedup; dropped += drops; presented += in; parsed += pagesParsed
    }
    Util.rmrf(loop)
    val (xs, ys) = (historySeries.map(_._1.toDouble), historySeries.map(_._2))
    val (mx, my) = (xs.sum / xs.length, ys.sum / ys.length)
    val slope = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum /
      xs.map(x => (x - mx) * (x - mx)).sum
    Map(
      "pipeline.ExtractJob.runResumable.skip_frac" -> (presented - parsed).toDouble / presented,
      "ops.IncrementalDedup.history_input_bytes" -> ys.last,
      "ops.IncrementalDedup.history_input_bytes_per_history_row" -> slope,
      "ops.IncrementalDedup.drop_frac" -> dropped.toDouble / dedupable)
  }

  /** (history rows, parquet bytes read from the store) of each commit that
    * went through [[historyRead]]: batch 0 in the warm-up, then batches 1
    * and 2 in [[layerMetrics]]. */
  var historySeries: Seq[(Long, Double)] = Nil
}
