package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.pipeline.PagesGen

/** Streaming extraction must produce the same rows as batch over the same
  * files (shared code path), via a memory-sink smoke per the local pattern. */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .appName("graft-streaming-test")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("streaming extraction equals batch extraction over the same landing dir") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val sp0 = spark
    import sp0.implicits._
    // 40 HTML pages + 1 PDF blob: streaming shares batch's scrapeAny
    // content-type routing, so the PDF row must come out byte-identical too
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val pdfRows = Seq(
      "plain",    // the classic text route
      "rc4enc",   // round 6: decrypted-in-stream
      "acroform", // round 6: AcroForm field blocks
      "docinfo"   // round 6: /Info-derived title
    ).map { name =>
      graft.pipeline.PageRow(s"https://docs.example.com/$name.pdf", ts,
        graft.sources.PdfGen.fixtureDocs.toMap.apply(name), "", "en")
    } :+ graft.pipeline.PageRow("https://docs.example.com/report.docx", ts,
      graft.sources.DocxGen.report, "", "en") // round 6: the DOCX route too
    PagesGen.generate(spark, 40).union(spark.createDataset(pdfRows))
      .repartition(4).write.mode("overwrite").parquet(dir)

    val q = StreamingExtract.extractStream(spark, dir, maxFilesPerTrigger = 2)
      .toDF()
      .select("url", "title", "norm_hash", "word_count")
      .writeStream.outputMode("append")
      .format("memory").queryName("extract_out")
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
    q.processAllAvailable()
    q.stop()

    val streamed = spark.sql("SELECT * FROM extract_out").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet

    val batch = {
      val sp = spark
      import sp.implicits._
      spark.read.parquet(dir).as[graft.pipeline.PageRow]
        .collect()
        .map(p => graft.pipeline.ExtractJob.scrapeAny(p.url, p.html))
        .map(r => (r.url, r.title, r.norm_hash)).toSet
    }
    assert(streamed.size == 45)
    assert(streamed == batch)
    assert(streamed.exists { case (u, t, _) =>
      u == "https://docs.example.com/plain.pdf" && t == "Annual Report" })
    assert(streamed.exists { case (u, t, _) =>
      u == "https://docs.example.com/report.docx" && t == "Q3 Operations Report" })
    // decryption and /Info metadata hold identically under streaming
    assert(streamed.exists(_._1 == "https://docs.example.com/rc4enc.pdf"))
    assert(streamed.exists { case (u, t, _) =>
      u == "https://docs.example.com/docinfo.pdf" && t == "Document Info Title" })
  }

  test("host-rate stream: windowed watermarked counts complete") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream2").toString
    PagesGen.generate(spark, 60).write.mode("overwrite").parquet(dir)
    val q = StreamingExtract.hostRateStream(spark, dir)
      .writeStream.outputMode("update")
      .format("memory").queryName("host_rate")
      .start()
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql("SELECT host, pages FROM host_rate").collect()
    assert(rows.map(_.getLong(1)).sum == 60)
    assert(rows.exists(_.getString(0).startsWith("megahost")))
  }

  test("streaming dedup: duplicate norm_hash suppressed within the watermark") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream3").toString
    // the synthetic corpus plants exact-duplicate pages (PagesGen), so the
    // batch distinct count over norm_hash is strictly below the row count
    PagesGen.generate(spark, 120).repartition(4).write.mode("overwrite").parquet(dir)

    val q = StreamingExtract.dedupStream(spark, dir, maxFilesPerTrigger = 2)
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out")
      .start()
    q.processAllAvailable()
    q.stop()

    val streamedHashes = spark.sql("SELECT norm_hash FROM dedup_out").collect().map(_.getString(0))
    val batchDistinct = {
      val sp = spark
      import sp.implicits._
      spark.read.parquet(dir).as[graft.pipeline.PageRow]
        .collect()
        .map(p => graft.pipeline.ScrapePipeline.scrapeHtml(graft.pipeline.ExtractJob.decodeHtml(p.html), p.url).norm_hash)
    }
    assert(batchDistinct.length == 120)
    assert(batchDistinct.distinct.length < 120, "corpus must contain planted duplicates")
    // one row per distinct hash, exactly
    assert(streamedHashes.length == streamedHashes.distinct.length)
    assert(streamedHashes.sorted.toSeq == batchDistinct.distinct.sorted.toSeq)
  }

  test("host-budget stream: custom state counts per host across micro-batches") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream5").toString
    PagesGen.generate(spark, 200).repartition(8).write.mode("overwrite").parquet(dir)

    val q = StreamingExtract.hostBudgetStream(spark, dir, budgetPerHost = 10, maxFilesPerTrigger = 2)
      .writeStream.outputMode("append")
      .format("memory").queryName("budget_out")
      .start()
    q.processAllAvailable()
    q.stop()

    val out = spark.sql("SELECT url, host, seq, within_budget FROM budget_out").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getBoolean(3)))
    assert(out.length == 200, "every page gets a verdict")

    val sp = spark
    import sp.implicits._
    val batchHostCounts = spark.read.parquet(dir).select("url").as[String].collect()
      .groupBy(u => graft.urlx.UrlOps.extractDomain(u)).view.mapValues(_.length.toLong).toMap

    out.groupBy(_._2).foreach { case (host, rows) =>
      val n = batchHostCounts(host)
      // state accumulated across micro-batches: seq reaches the host total
      assert(rows.map(_._3).max == n, s"host $host seq max")
      assert(rows.map(_._3).toSet == (1L to n).toSet, s"host $host seq contiguity")
      assert(rows.count(_._4) == math.min(10L, n), s"host $host budget verdicts")
    }
    // the mega-host (~20% of 200 pages) must blow the budget
    val mega = out.filter(_._2.startsWith("megahost"))
    assert(mega.length > 10 && mega.exists(!_._4))
  }

  test("streaming dedup: failed / empty-hash rows pass through, never collapse") {
    val sp = spark
    import sp.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_stream4").toString
    // 3 distinct BROKEN pages (empty html → status != ok, norm_hash = "")
    // plus 2 good distinct pages; every broken row must survive dedup
    val base = 1700000000000L
    val rows = Seq(
      graft.pipeline.PageRow("https://bad.example.com/a", new java.sql.Timestamp(base), Array.empty[Byte], "", "en"),
      graft.pipeline.PageRow("https://bad.example.com/b", new java.sql.Timestamp(base + 1000), Array.empty[Byte], "", "en"),
      graft.pipeline.PageRow("https://bad.example.com/c", new java.sql.Timestamp(base + 2000), Array.empty[Byte], "", "en"),
      PagesGen.makePage(1L),
      PagesGen.makePage(2L))
    rows.toDS().repartition(2).write.mode("overwrite").parquet(dir)

    val q = StreamingExtract.dedupStream(spark, dir)
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_pass")
      .start()
    q.processAllAvailable()
    q.stop()

    val out = spark.sql("SELECT url, text_content FROM dedup_pass").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val badUrls = out.collect { case (u, t) if t.isEmpty => u }.toSet
    assert(badUrls == Set("https://bad.example.com/a", "https://bad.example.com/b", "https://bad.example.com/c"),
      s"all distinct empty-content rows must pass through dedup untouched; got $badUrls")
    assert(out.length == 5)
  }

  test("streaming near-dup: band collisions within a batch and across batches") {
    val sp = spark
    import sp.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_stream5").toString
    // batch 1: 8 distinct pages — no collisions expected between them.
    // (Event-time TTL: timeouts fire only as the watermark advances, so
    // processAllAvailable stays a usable barrier — the reason the operator
    // uses EventTimeTimeout, not ProcessingTimeTimeout.)
    val batch1 = (0L until 8L).map(PagesGen.makePage)
    batch1.toDS().repartition(2).write.mode("overwrite").parquet(dir)

    val q = StreamingExtract.nearDupStream(spark, dir, maxFilesPerTrigger = 8)
      .writeStream.outputMode("append")
      .format("memory").queryName("near_dup_out")
      .start()
    q.processAllAvailable()

    def collisionsByUrl(): Map[String, Long] =
      spark.sql("SELECT url, count(CASE WHEN collided THEN 1 END) c FROM near_dup_out GROUP BY url")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    val afterB1 = collisionsByUrl()
    assert(afterB1.size == 8)
    assert(afterB1.values.forall(_ == 0L), s"distinct docs must not collide: $afterB1")

    // batch 2: the SAME content under new urls — every band bucket is
    // already claimed by batch-1 state (same warc_ts, so nothing expired),
    // and all 16 bands of each doc collide
    val batch2 = batch1.map(p => p.copy(url = p.url + "-copy"))
    batch2.toDS().repartition(2).write.mode("append").parquet(dir)
    q.processAllAvailable()
    q.stop()

    val afterB2 = collisionsByUrl()
    assert(afterB2.size == 16)
    batch2.foreach { p =>
      assert(afterB2(p.url) == 16L,
        s"identical cross-batch content must collide on all 16 bands: ${p.url} -> ${afterB2(p.url)}")
    }
    batch1.foreach { p => assert(afterB2(p.url) == 0L) }
  }

  test("warc micro-batch stream: path-watermark ingests arriving shards exactly once") {
    val dir = java.nio.file.Files.createTempDirectory("graft_warc_stream").toFile
    graft.sources.WarcGen.writeCorpus(dir, 40, 4)
    def batchCount(): Long =
      spark.read.format("warc").load(dir.getAbsolutePath)
        .where("warc_type = 'response' AND http_status = 200").count()

    val q = spark.readStream.format("warc").load(dir.getAbsolutePath)
      .where("warc_type = 'response' AND http_status = 200")
      .select("url", "record_id")
      .writeStream.format("memory").queryName("warc_stream").outputMode("append").start()
    try {
      q.processAllAvailable()
      val c1 = spark.table("warc_stream").count()
      assert(c1 == batchCount(), "first micro-batch must equal a batch read of the same dir")

      // a new shard arrives with a lexicographically HIGHER path (the
      // Common-Crawl naming contract the watermark offset relies on)
      graft.sources.WarcGen.writeCorpusShard(dir, 50, 5, 4)
      q.processAllAvailable()
      val c2 = spark.table("warc_stream").count()
      assert(c2 == batchCount(),
        "appended shard must be ingested; earlier shards must NOT re-ingest")
      assert(c2 > c1)

      // record-level parity, not just counts: streamed ids == batch ids
      val streamed = spark.table("warc_stream")
        .select("record_id").collect().map(_.getString(0)).sorted
      val batch = spark.read.format("warc").load(dir.getAbsolutePath)
        .where("warc_type = 'response' AND http_status = 200")
        .select("record_id").collect().map(_.getString(0)).sorted
      assert(streamed.sameElements(batch))
    } finally q.stop()
  }

  test("durable incremental-dedup sink: cross-batch drops, replay idempotence") {
    val sp = spark
    import sp.implicits._
    import graft.pipeline.IncDedupFixture
    val in = java.nio.file.Files.createTempDirectory("graft_incsink_in").toString
    val store = java.nio.file.Files.createTempDirectory("graft_incsink_st").toString
    val ledger = java.nio.file.Files.createTempDirectory("graft_incsink_ld").toString
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def pageOf(id: String, body: String) = graft.pipeline.PageRow(
      s"https://inc.example.com/$id", ts,
      s"<html><head><title>$id</title></head><body><p>$body</p></body></html>".getBytes("UTF-8"),
      "", "en")

    // an empty-html page per batch: both must PASS THROUGH kept (they share
    // normalized_text = "" — unguarded they'd collapse as exact dups)
    def brokenPage(id: String) = graft.pipeline.PageRow(
      s"https://inc.example.com/$id", ts, Array.empty[Byte], "", "en")

    // micro-batch 0: the fixture's batch-1 corpus (h3 near-dups h1 in-batch)
    (IncDedupFixture.batch1.map { case (id, b) => pageOf(id, b) } :+ brokenPage("bad1"))
      .toDS().repartition(1).write.mode("overwrite").parquet(in)
    val q = StreamingExtract.extractStream(spark, in, maxFilesPerTrigger = 8)
      .writeStream
      .foreachBatch(StreamingExtract.incrementalDedupSink(store, ledger))
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_incsink_ck").toString)
      .start()
    q.processAllAvailable()

    // micro-batch 1: batch-2 corpus — x1 exact-copies h1, x2 near-dups h2,
    // both accepted in micro-batch 0: the HISTORY must catch them
    (IncDedupFixture.batch2.map { case (id, b) => pageOf(id, b) } :+ brokenPage("bad2"))
      .toDS().repartition(1).write.mode("append").parquet(in)
    q.processAllAvailable()
    q.stop()

    def ledgerRows() = spark.read.parquet(ledger)
      .select("id", "kept", "stage", "ingest_batch").collect()
      .map(r => (r.getString(0), r.getBoolean(1), r.getString(2), r.getInt(3))).toSet
    val rows = ledgerRows()
    assert(rows.size == 11)
    // the two empty-content pages pass through kept in THEIR OWN batches —
    // they never enter the dedup chain, so bad2 cannot exact-dup bad1
    assert(rows.exists { case (id, kept, stage, b) =>
      id.endsWith("/bad1") && kept && stage == "error_passthrough" && b == 0 })
    assert(rows.exists { case (id, kept, stage, b) =>
      id.endsWith("/bad2") && kept && stage == "error_passthrough" && b == 1 })
    assert(rows.exists { case (id, kept, stage, b) =>
      id.endsWith("/x1") && !kept && stage == "exact_dup_hist" && b == 1 })
    assert(rows.exists { case (id, kept, stage, b) =>
      id.endsWith("/x2") && !kept && stage == "near_dup_hist" && b == 1 })
    assert(rows.exists { case (id, kept, stage, _) =>
      id.endsWith("/h3") && !kept && stage == "near_dup_batch" })
    assert(rows.count(_._2) == 6) // h1 h2 x3 x6 accepted + 2 passthroughs

    def storeRows() = {
      val idx = graft.ops.IncrementalDedup.openStore(spark, store)
      (idx.hashes.collect().map(_.toString).sorted.toSeq,
        idx.sigs.collect().map(_.toString).sorted.toSeq)
    }
    val storeBefore = storeRows()

    // REPLAY micro-batch 1 (foreachBatch is at-least-once): rerun the sink
    // fn with the same batchId over the same extracted rows — ledger and
    // store must be unchanged, not double-counted
    val replayRows = IncDedupFixture.batch2.map { case (id, b) => pageOf(id, b) } :+
      brokenPage("bad2")
    val replayed = spark.createDataset(replayRows)
      .map(p => graft.pipeline.ExtractJob.scrapeAny(p.url, p.html))
    StreamingExtract.incrementalDedupSink(store, ledger)(replayed, 1L)
    assert(ledgerRows() == rows, "replayed batch must leave the ledger unchanged")
    assert(storeRows() == storeBefore, "replayed batch must leave the store unchanged")
  }

  test("quality-gate stream verdicts equal the batch pass over the same pages") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_q").toString
    val sp0 = spark
    import sp0.implicits._
    // plant one bigram-spam page so the corpus spans keep and reject
    val spamHtml = ("<html><body><p>" + ("data flow " * 200).trim +
      "</p></body></html>").getBytes("UTF-8")
    val spam = graft.pipeline.PageRow("https://spam.example.com/loop",
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), spamHtml, "", "en")
    PagesGen.generate(spark, 30).union(spark.createDataset(Seq(spam)))
      .repartition(3).write.mode("overwrite").parquet(dir)

    val q = StreamingExtract.qualityGateStream(spark, dir, maxFilesPerTrigger = 2)
      .writeStream.outputMode("append")
      .format("memory").queryName("quality_out")
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
    q.processAllAvailable()
    q.stop()

    val streamed = spark.sql("SELECT url, keep, reasons FROM quality_out").collect()
      .map(r => (r.getString(0), r.getBoolean(1), r.getString(2))).toSet

    val batch = {
      val sp = spark
      import sp.implicits._
      spark.read.parquet(dir).as[graft.pipeline.PageRow].collect()
        .map(p => graft.pipeline.ExtractJob.scrapeAny(p.url, p.html))
        .map { r =>
          val v = graft.ops.RepetitionOps.gopherFilter(
            graft.ops.RepetitionOps.profile(r.normalized_text))
          (r.url, v.keep, v.reasons.mkString("+"))
        }.toSet
    }
    assert(streamed.size == 31)
    assert(streamed == batch)
    // the synthetic corpus spans both outcomes, so the parity is non-trivial
    assert(streamed.exists(_._2) && streamed.exists(!_._2))
  }
}
