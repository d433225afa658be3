package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.pipeline.{ExtractJob, PageRow, ScrapedRow}

/**
 * Structured Streaming surface: continuous extraction over newly-arriving
 * page files (the Iceberg-snapshot-tailing design from SURVEY.md §1.1 —
 * `readStream` over the landing directory, the SAME fused per-row extraction,
 * `writeStream` append). Batch and streaming share one code path, so the
 * byte-identity guarantees carry over per micro-batch.
 *
 * The extraction map is stateless per row → no watermark needed for the
 * extract stage itself; the host-rate monitor shows the stateful side
 * (windowed counts with a watermark bounding state size at scale).
 */
/** Output of [[StreamingExtract.hostBudgetStream]]: `seq` is the host's
  * cumulative page number at this row, `within_budget` its budget verdict. */
final case class HostBudgetRow(url: String, host: String, seq: Long, within_budget: Boolean)

/** Output of [[StreamingExtract.nearDupStream]]: one row per (doc, LSH band);
  * `collided` = another document already claimed this band bucket. A
  * consumer counts collided bands per url (stateless roll-up) and flags
  * docs over its threshold as near-duplicates. */
final case class BandCollisionRow(url: String, band_idx: Int, band_key: Long, collided: Boolean)

object StreamingExtract {

  val pageSchema: StructType = StructType(Seq(
    StructField("url", StringType),
    StructField("warc_ts", TimestampType),
    StructField("html", BinaryType),
    StructField("text", StringType),
    StructField("lang", StringType)))

  /** readStream over a landing dir → fused extraction. */
  def extractStream(spark: SparkSession, inputDir: String, maxFilesPerTrigger: Int = 4): Dataset[ScrapedRow] = {
    import spark.implicits._
    spark.readStream
      .schema(pageSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inputDir)
      .as[PageRow]
      .mapPartitions(_.map(p => ExtractJob.scrapeAny(p.url, p.html)))
  }

  /** Extraction + Gopher/C4 quality gate in one stream: the verdict
    * ([[graft.ops.RepetitionOps.gopherFilter]]) is a pure per-row function
    * of the extracted normalized text, so the gate composes into the
    * micro-batch plan as a narrow map — no state, no watermark, identical
    * verdicts to the batch pass (StreamingSpec pins the parity). */
  def qualityGateStream(spark: SparkSession, inputDir: String,
                        maxFilesPerTrigger: Int = 4): DataFrame = {
    import spark.implicits._
    extractStream(spark, inputDir, maxFilesPerTrigger)
      .map { r =>
        val v = graft.ops.RepetitionOps.gopherFilter(
          graft.ops.RepetitionOps.profile(r.normalized_text))
        (r.url, r.status, v.keep, v.reasons.mkString("+"))
      }
      .toDF("url", "status", "keep", "reasons")
  }

  /** Continuous ingest with DURABLE cross-batch dedup: a `foreachBatch`
    * sink function running each extracted micro-batch through
    * [[graft.ops.IncrementalDedup.dedupeAndCommit]]. The parquet
    * history store — NOT Spark's state store — is the dedup state: it
    * outlives the query, its checkpoint, and the session, is shared with
    * batch ingest loops over the same store, and is never bounded by a
    * watermark (the in-state `dedupStream`/`nearDupStream` trade recall
    * for bounded state; this sink trades a per-batch store join for full
    * history). foreachBatch is AT-LEAST-once on failure; the commit is
    * keyed by micro-batch id and overwrite-idempotent, so a replayed
    * trigger converges to the same store and ledger instead of
    * double-counting. Ledger rows land batch-partitioned under
    * `ledgerDir/ingest_batch=<id>/`, overwritten on replay for the same
    * reason. Usage:
    * {{{
    * extractStream(spark, in).writeStream
    *   .foreachBatch(StreamingExtract.incrementalDedupSink(store, ledger))
    *   .option("checkpointLocation", ckpt).start()
    * }}} */
  def incrementalDedupSink(storeDir: String, ledgerDir: String)
      : (Dataset[ScrapedRow], Long) => Unit = { (batch, batchId) =>
    val rows = batch.toDF()
      .select(col("url"), col("status"), col("normalized_text"))
      .localCheckpoint(true) // two consumers below; a foreachBatch frame
                             // re-executes its micro-batch source otherwise
    // only successfully-extracted, non-empty documents enter dedup: failed
    // and empty rows all share normalized_text = "" and would collapse into
    // one "kept" row + N bogus exact-dups (the same rule dedupStream pins:
    // error rows pass through, never collapse)
    val dedupable = rows
      .filter(col("status") === "ok" && length(col("normalized_text")) > 0)
      .select("url", "normalized_text")
    val ledger = graft.ops.IncrementalDedup.dedupeAndCommit(
      dedupable, "url", "normalized_text", storeDir, batchId)
    val passthrough = rows
      .filter(col("status") =!= "ok" || length(col("normalized_text")) === 0)
      .select(col("url").as("id"), lit(true).as("kept"),
        lit("error_passthrough").as("stage"), col("status").as("reason"))
    ledger.unionByName(passthrough)
      .write.mode("overwrite").parquet(s"$ledgerDir/ingest_batch=$batchId")
  }

  /** Stateful monitor: pages per host per 1-minute window, watermarked so
    * state is bounded (late data beyond 5 minutes dropped). */
  def hostRateStream(spark: SparkSession, inputDir: String): DataFrame = {
    spark.readStream
      .schema(pageSchema)
      .parquet(inputDir)
      // the ONE host definition (ExtractJob.hostCol): the streaming monitors
      // must count/partition hosts exactly like the batch exchange
      .withColumn("host", ExtractJob.hostCol)
      .withWatermark("warc_ts", "5 minutes")
      .groupBy(window(col("warc_ts"), "1 minute"), col("host"))
      .agg(count("*").as("pages"), sum(length(col("html"))).as("bytes"))
  }

  /** Per-host crawl-budget tracker — the custom-state surface
    * (`flatMapGroupsWithState`): state is the cumulative page count per host
    * across micro-batches; rows beyond `budgetPerHost` are flagged (not
    * dropped — downstream decides). At scale the state store holds one Long
    * per distinct host, KV-store-backed and checkpointed by Spark. */
  def hostBudgetStream(
      spark: SparkSession,
      inputDir: String,
      budgetPerHost: Long = 25,
      maxFilesPerTrigger: Int = 4): Dataset[HostBudgetRow] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    spark.readStream
      .schema(pageSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inputDir)
      .select(col("url"), ExtractJob.hostCol.as("host"), col("warc_ts"))
      .as[(String, String, java.sql.Timestamp)]
      .groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (host: String, rows: Iterator[(String, String, java.sql.Timestamp)],
         state: GroupState[Long]) =>
          var seen = state.getOption.getOrElse(0L)
          // order within the micro-batch by (event time, url): the group
          // iterator arrives in shuffle-fetch order, which is
          // nondeterministic — without the sort, WHICH urls exceed the
          // budget would differ run to run. Bounded: one group holds one
          // micro-batch of a single host's rows.
          val ordered = rows.toVector.sortBy { case (url, _, ts) =>
            (if (ts == null) Long.MinValue else ts.getTime, url)
          }
          val out = ordered.map { case (url, _, _) =>
            seen += 1
            HostBudgetRow(url, host, seen, seen <= budgetPerHost)
          }
          state.update(seen)
          out.iterator
      }
  }

  /** Streaming NEAR-dup detection — the MinHash-LSH family running
    * continuously: extract → 3-gram shingles → minhash-64 → 16 band keys →
    * `flatMapGroupsWithState` keyed by `(band_idx, band_key)`, whose state
    * is the url that first claimed the bucket. Every later document hashing
    * into a claimed bucket emits `collided = true` for that band; the
    * near-dup DECISION (≥ k collided bands) is a stateless per-url roll-up
    * the consumer runs — same split as the batch pipeline, where candidate
    * generation is the bounded stateful part and verification is a
    * downstream join.
    *
    * Scale contract: state is one url string per OCCUPIED band bucket —
    * proportional to distinct content in the HORIZON, never to pairs; the
    * horizon is real: each bucket carries an EVENT-TIME TTL (the near-dup
    * analogue of `dedupStream`'s watermark) — a bucket whose last claim is
    * `stateTtlMs` behind the watermark is dropped from the store, so its
    * content can re-claim later and state stays bounded by construction.
    * (Event-time, not processing-time: processing-time timeouts force the
    * query to keep re-triggering for timeout checks, which breaks
    * `processAllAvailable`/`AvailableNow` semantics; event-time timeouts
    * fire only as the data-driven watermark advances.) The per-group
    * iterator touches each arriving row once. (Batch-side mega-bucket
    * suppression is unnecessary: a boilerplate bucket holds ONE claimant
    * url regardless of how many docs collide with it.) */
  def nearDupStream(
      spark: SparkSession,
      inputDir: String,
      maxFilesPerTrigger: Int = 4,
      stateTtlMs: Long = 30L * 60 * 1000,
      watermarkDelay: String = "10 minutes"): Dataset[BandCollisionRow] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import graft.ops.TextOps
    // the watermark is declared on the BAND relation, after the per-row
    // flatMap: attribute metadata does not survive object serialization, so
    // tagging warc_ts before the map would leave the stateful operator
    // without a watermarked column and fail the streaming checker
    spark.readStream
      .schema(pageSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inputDir)
      .as[PageRow]
      .flatMap { p =>
        // null event time cannot enter the stateful operator (ts.getTime
        // below would kill the query); a row without a timestamp has no
        // place in an event-time-TTL'd store — contained here, mirroring
        // the extraction path's row-level totality
        val r = ExtractJob.scrapeAny(p.url, p.html)
        if (p.warc_ts == null || r.status != "ok" || r.normalized_text.isEmpty) Iterator.empty
        else {
          val sig = TextOps.minHash(TextOps.shingles(r.normalized_text, 3), 64)
          TextOps.lshBands(sig, 4).iterator.zipWithIndex.map { case (key, idx) =>
            (r.url, idx, key, p.warc_ts)
          }
        }
      }
      .toDF("url", "band_idx", "band_key", "ts")
      .withWatermark("ts", watermarkDelay)
      .as[(String, Int, Long, java.sql.Timestamp)]
      .groupByKey { case (_, idx, key, _) => (idx, key) }
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (bucket: (Int, Long), rows: Iterator[(String, Int, Long, java.sql.Timestamp)],
         state: GroupState[String]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var claimant = state.getOption.orNull
            var maxTs = Long.MinValue
            val out = rows.map { case (url, idx, key, ts) =>
              if (ts.getTime > maxTs) maxTs = ts.getTime
              if (claimant == null) {
                claimant = url
                BandCollisionRow(url, idx, key, collided = false)
              } else BandCollisionRow(url, idx, key, collided = claimant != url)
            }.toVector // materialize before the state update
            if (claimant != null) {
              state.update(claimant)
              // expire when the watermark passes last-claim + TTL; clamp
              // above the current watermark (a timeout in the past throws)
              state.setTimeoutTimestamp(
                math.max(state.getCurrentWatermarkMs() + 1, maxTs + stateTtlMs))
            }
            out.iterator
          }
      }
  }

  /** Streaming exact dedup: extract → key by normalized-content hash (B6) →
    * `dropDuplicates` with a watermark so the dedup state store is bounded
    * (a crawl re-fetching a page weeks later re-emits it; within the
    * watermark horizon duplicates are suppressed exactly). The training-data
    * path: continuous crawl in, deduped text out. */
  def dedupStream(spark: SparkSession, inputDir: String, maxFilesPerTrigger: Int = 4): DataFrame = {
    import spark.implicits._
    val extractedRows = spark.readStream
      .schema(pageSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inputDir)
      .as[PageRow]
      .map { p =>
        val r = ExtractJob.scrapeAny(p.url, p.html)
        // a hash is only a dedup key when extraction actually produced
        // normalized content: failed rows carry "", and empty-content rows
        // all hash the empty string — deduping either would silently collapse
        // DISTINCT failed/empty urls into one arbitrary survivor
        val canDedup = r.status == "ok" && r.normalized_text.nonEmpty
        (r.url, r.status, r.norm_hash, r.text_content, canDedup, p.warc_ts)
      }
      .toDF("url", "status", "norm_hash", "text_content", "can_dedup", "warc_ts")
      .withWatermark("warc_ts", "10 minutes")
    val dedupable = extractedRows
      .filter(col("can_dedup"))
      .dropDuplicatesWithinWatermark("norm_hash")
    val passthrough = extractedRows.filter(!col("can_dedup"))
    dedupable.unionByName(passthrough).drop("can_dedup")
  }
}
