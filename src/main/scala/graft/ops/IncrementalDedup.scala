package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Incremental dedup against history — the ingest-time shape of corpus
 * dedup at 10^12 documents: crawls arrive in batches, and each batch must
 * dedup against everything accepted before it WITHOUT rescanning the
 * corpus. The history index is two relations:
 *
 *  - `hashes(hash, id)` — content hash of every accepted document;
 *  - `sigs(id, sh, sig)` — sorted shingle-hash set + MinHash signature of
 *    every accepted document (bands are recomputed from `sig` on use:
 *    64 longs per doc, cheaper to store once than 16 band rows).
 *
 * A batch flows: exact-vs-history (equi-join on hash) → exact-in-batch
 * (min-id keeper per hash) → near-vs-history (batch bands ⋈ history
 * bands → estimate prefilter → exact-Jaccard verify; history bands are
 * first LEFT-SEMI-restricted to buckets the batch touches, so nothing
 * history-wide is ever COUNTED — and when the batch is small relative to
 * history, AQE broadcasts the batch keys and history bands never shuffle
 * at all. Buckets larger than `maxBucket` on EITHER side are suppressed
 * via the ONE shared [[DedupOps.suppressMegaBuckets]] rule) →
 * near-in-batch (banded self-join → verify → CC survivors).
 *
 * [[dedupeBatch]] returns the batch ledger plus the index DELTA — the
 * accepted documents' index rows ONLY, materialized at O(batch) cost.
 * History is never copied: an in-session caller extends its index with
 * [[extended]] (a lazy union of materialized leaves — plan metadata, not
 * data movement), and an ingest loop commits through the ONE durable
 * store ([[openStore]] / [[dedupeAndCommit]]): parquet partitioned by
 * batch id, `dir/{sigs,hashes}/ingest_batch=<id>/`. A commit writes only
 * its own batch's partitions and overwrites them, so the store survives
 * executor loss and session restarts, batch N+1 plans against plain
 * file-scan leaves, commit cost stays O(batch), and a retried or torn
 * commit of the same batch id converges to the state of one clean run.
 */
object IncrementalDedup {

  /** Dedup history: `hashes(hash, id)` + `sigs(id, sh, sig)`. */
  final case class Index(hashes: DataFrame, sigs: DataFrame)

  /** One batch's outcome: per-document ledger + the index rows the
    * accepted documents contribute (both eagerly materialized). */
  final case class BatchResult(ledger: DataFrame, delta: Index)

  def emptyIndex(spark: SparkSession): Index = {
    import spark.implicits._
    Index(
      Seq.empty[(String, String)].toDF("hash", "id"),
      Seq.empty[(String, Array[Long], Array[Long])].toDF("id", "sh", "sig"))
  }

  /** Extend an in-memory index with a batch delta: a union of already-
    * materialized leaves — O(1) plan metadata, no history copy. */
  def extended(index: Index, delta: Index): Index =
    Index(index.hashes.union(delta.hashes), index.sigs.union(delta.sigs))

  /** Open the parquet-backed history store; both frames carry the
    * `ingest_batch` partition column. An absent store is an empty index
    * (first batch bootstraps it). */
  def openStore(spark: SparkSession, dir: String): Index = {
    val p = new org.apache.hadoop.fs.Path(dir, "hashes")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) emptyIndex(spark)
    else Index(
      spark.read.parquet(s"$dir/hashes"),
      spark.read.parquet(s"$dir/sigs"))
  }

  /** Ingest-loop step, exactly once per batch id: dedup `batch` against
    * every OTHER batch in the store at `dir`, then overwrite this batch's
    * own partitions with the accepted delta and return the ledger. A
    * replay is idempotent by construction: it (a) opens the history
    * EXCLUDING its own partition, so a torn previous attempt can never
    * dedup the batch against itself, and (b) OVERWRITES only its own
    * partition, so final state is identical however many times the batch
    * id runs — which is what Structured Streaming's at-least-once
    * `foreachBatch` needs. `sigs` is written before `hashes`: a crash
    * between the two leaves at worst near-dup rows without their
    * exact-hash twin, which the retry overwrites. The MinHash parameters
    * are [[dedupeBatch]]'s defaults, fixed here because a store's
    * signatures are only comparable under the values that wrote them. */
  def dedupeAndCommit(batch: DataFrame, idCol: String, textCol: String,
                      dir: String, batchId: Long): DataFrame = {
    val opened = openStore(batch.sparkSession, dir)
    def ownPartitionExcluded(df: DataFrame): DataFrame =
      if (df.columns.contains("ingest_batch"))
        df.filter(col("ingest_batch") =!= batchId).drop("ingest_batch")
      else df
    val hist = Index(ownPartitionExcluded(opened.hashes), ownPartitionExcluded(opened.sigs))
    val r = dedupeBatch(batch, idCol, textCol, hist)
    r.delta.sigs.write.mode("overwrite").parquet(s"$dir/sigs/ingest_batch=$batchId")
    r.delta.hashes.write.mode("overwrite").parquet(s"$dir/hashes/ingest_batch=$batchId")
    r.ledger
  }

  /** Dedup one batch against itself and the history; returns the batch
    * ledger `(id, kept, stage, reason)` with stage ∈ {"", exact_dup_hist,
    * exact_dup_batch, near_dup_hist, near_dup_batch} plus the index DELTA.
    * Ledger and delta are materialized (localCheckpoint) so the internal
    * persisted frames release before returning and the caller holds
    * leaves, not the batch's whole plan. */
  def dedupeBatch(batch: DataFrame, idCol: String, textCol: String,
                  index: Index,
                  shingleN: Int = 3, minhashK: Int = 64, bandSize: Int = 4,
                  jaccardThreshold: Double = 0.8, estFloor: Double = 0.55,
                  maxBucket: Int = 64): BatchResult = {

    val spark = batch.sparkSession
    import spark.implicits._
    val hashed = batch.select(col(idCol).cast("string").as("id"),
        col(textCol).as("text"))
      .withColumn("hash", expr("substring(sha2(text, 256), 1, 32)"))
      .persist()

    // Bootstrap short-circuit (r8): when the history index is the literal
    // empty LocalRelation (fresh store — openStore found nothing), every
    // history join is an identity/empty transform
    // — but each still costs AQE jobs (broadcast builds + shuffle stages;
    // measured ~20 of the first batch's 74 jobs at fixture scale). A
    // plan-level check (no data scanned) skips them; output is identical
    // because joining an empty relation yields nothing.
    val emptyHist = Seq(index.hashes, index.sigs).forall {
      df => df.queryExecution.optimizedPlan match {
        // optimizedPlan: ConvertToLocalRelation collapses the toDF Project
        // so an emptyIndex frame IS a LocalRelation here
        case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l.data.isEmpty
        case _ => false
      }
    }
    def emptyDrops(): DataFrame =
      Seq.empty[(String, String, String)].toDF("id", "stage", "reason")

    // 1. exact vs history
    val histDrops =
      if (emptyHist) emptyDrops()
      else hashed
        .join(index.hashes.select(col("hash"), col("id").as("hist_id")), Seq("hash"))
        .groupBy(col("id")).agg(min(col("hist_id")).as("reason"))
        .select(col("id"), lit("exact_dup_hist").as("stage"), col("reason"))
    val afterHist =
      if (emptyHist) hashed
      else hashed.join(histDrops.select("id"), Seq("id"), "left_anti")

    // 2. exact within the batch
    val keepers = afterHist.groupBy("hash").agg(min(col("id")).as("keeper"))
    val withKeeper = afterHist.join(keepers, "hash")
    val batchExactDrops = withKeeper.filter(col("id") =!= col("keeper"))
      .select(col("id"), lit("exact_dup_batch").as("stage"),
        col("keeper").as("reason"))
    val uniq = withKeeper.filter(col("id") === col("keeper")).select("id", "text")

    // 3/4. near-dup: ONE signature pass for the batch; bands persisted —
    // they feed the history join and (minus history drops) the in-batch
    // self-join, which would otherwise recompute 16 band keys per doc
    val sigs = DedupOps.minhashSignatures(uniq, "id", "text", shingleN, minhashK)
      .persist()
    val batchBands = DedupOps.explodeBands(sigs, bandSize).persist()

    val bucketKey = Seq("band_idx", "band_key")
    val toUnpersist = scala.collection.mutable.ArrayBuffer[DataFrame](
      hashed, sigs, batchBands)
    val nearHistDrops: DataFrame = if (emptyHist) emptyDrops() else {
    // vs history: batch id on the left, history id on the right. Both
    // sides get the ONE shared mega-bucket rule (template boilerplate =
    // O(|batch bucket| × |hist bucket|) near-zero-precision pairs). The
    // history side is restricted to buckets the batch TOUCHES before
    // anything is counted: a history-wide groupBy would shuffle all
    // history bands every batch — O(history) per commit, breaking the
    // O(batch) commit contract. Restricting first keeps per-bucket counts
    // exact (an inner join on the bucket key keeps EVERY row of a touched
    // bucket), shrinks the count to batch-sized input, and lets AQE
    // broadcast the touched-key list when batch ≪ history.
    val cappedBatch = DedupOps.suppressMegaBuckets(batchBands, bucketKey, maxBucket)
      .persist() // two consumers: the touched-key semi-join and the join itself
    toUnpersist += cappedBatch
    // left_semi: restricts WITHOUT multiplying and dedupes its build side
    // internally — no separate distinct() shuffle. Bands are recomputed
    // from history `sigs` by a narrow map.
    // dropDuplicates AFTER the batch-touched restriction (so the dedupe is
    // O(touched), not O(history)): a history may hold one id's sigs row
    // more than once (the same id accepted by two batches, or a caller-built
    // index with repeated rows), and duplicate band rows would INFLATE
    // suppressMegaBuckets' counts — a bucket of 40 real members + 40
    // duplicates reads as 80 > maxBucket and is suppressed, a silent
    // near-dup miss. Bucket sizes count distinct members.
    val histTouched = DedupOps.explodeBands(index.sigs, bandSize)
      .join(cappedBatch.select("band_idx", "band_key"), bucketKey, "left_semi")
      .dropDuplicates("id", "band_idx", "band_key")
    val histPairs = cappedBatch
      .join(DedupOps.suppressMegaBuckets(histTouched, bucketKey, maxBucket)
          .select(col("id").as("hist_id"), col("band_idx"), col("band_key")),
        bucketKey)
      .select(col("id").as("id_a"), col("hist_id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val nh = DedupOps.verifyPairs(histPairs, sigs, index.sigs,
        estFloor, jaccardThreshold)
      .groupBy(col("id_a").as("id")).agg(min(col("id_b")).as("reason"))
      .select(col("id"), lit("near_dup_hist").as("stage"), col("reason"))
      .persist() // read by the anti-join below and by the ledger union
    toUnpersist += nh
    nh
    }

    // within the batch, among docs that survived the history check
    val stillBands =
      if (emptyHist) batchBands
      else batchBands.join(nearHistDrops.select("id"), Seq("id"), "left_anti")
    val batchPairs = DedupOps.candidatePairs(stillBands,
      Seq("band_idx", "band_key"), "id", maxBucket)
    val nearBatchDrops = DedupOps.clusterRepresentatives(
        DedupOps.verifyPairs(batchPairs, sigs, sigs, estFloor, jaccardThreshold))
      .filter(col("id") =!= col("label"))
      .select(col("id").cast("string").as("id"),
        lit("near_dup_batch").as("stage"), col("label").cast("string").as("reason"))

    // ledger + the accepted documents' index delta
    val drops = histDrops.union(batchExactDrops).union(nearHistDrops)
      .union(nearBatchDrops)
    val ledger = hashed.select("id")
      .join(drops, Seq("id"), "left")
      .select(col("id"), col("stage").isNull.as("kept"),
        coalesce(col("stage"), lit("")).as("stage"),
        coalesce(col("reason"), lit("")).as("reason"))
      .localCheckpoint(true)

    // ONE materialization for both delta relations (r8): every accepted
    // doc that entered `uniq` has a sigs row, so the fused
    // (id, hash, sh, sig) join checkpoints once and both deltas are lazy
    // projections of the leaf (was: two separate checkpoint executions,
    // each paying its own broadcast-build + shuffle jobs). The sigs side
    // joins LEFT so a theoretical null-hash doc (null text never enters
    // the hash-keyed uniq join) still lands in deltaHashes exactly as
    // before; the sh-not-null filter keeps deltaSigs' rows identical.
    val accepted = ledger.filter(col("kept")).select("id")
    val deltaAll = hashed.select(col("id"), col("hash"))
      .join(accepted, Seq("id"))
      .join(sigs, Seq("id"), "left")
      .localCheckpoint(true)
    val deltaHashes = deltaAll.select(col("hash"), col("id"))
    val deltaSigs = deltaAll.filter(col("sh").isNotNull)
      .select(col("id"), col("sh"), col("sig"))

    toUnpersist.foreach(_.unpersist(false))
    (BatchResult(ledger, Index(deltaHashes, deltaSigs)))
  }
}
