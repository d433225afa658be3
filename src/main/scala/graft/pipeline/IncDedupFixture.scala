package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.IncrementalDedup

/**
 * Frozen two-batch corpus + driver oracle for incremental dedup against
 * history ([[IncrementalDedup.dedupeBatch]]). Batch 1 (h1, h2, h3) builds
 * the index from empty — h3 is a near-dup of h1 and drops in-batch.
 * Batch 2 then exercises every history interaction: x1 is an exact copy
 * of h1 (exact_dup_hist), x2 a near-dup of h2 (near_dup_hist), x3/x4 a
 * fresh near-dup pair (x4 drops in-batch), x5 an exact copy of x3
 * (exact_dup_batch), x6 unique (kept). Expected rows are closed-form
 * from the planted structure (the CurateFixture Jaccard pattern:
 * ~55-word bodies + one ~11-word sentence ⇒ 3-shingle Jaccard ≈ 0.82).
 */
object IncDedupFixture {

  private val bodyH1 =
    "Lighthouse keepers trim the great lamp wicks before the night watch " +
    "while fishing sloops round the point under a falling tide and the " +
    "harbormaster notes each sail in his canvas ledger as cold spray beads " +
    "on the iron rails above the breakwater stones where children count the " +
    "returning boats until the supper bells call them home."
  private val extraH =
    " Later the fog rolled in and hid the distant channel markers completely."
  private val bodyH2 =
    "Quarry masons split the grey granite along chalked lines every morning " +
    "and ox teams drag the dressed blocks down the rutted track while the " +
    "foreman measures each face with a worn brass square and apprentices " +
    "sweep stone dust from the cutting beds before the noon whistle releases " +
    "the crews to their bread and cider under the elm."
  private val extraX =
    " That evening the wagons were greased and counted for the next haul."
  private val bodyX3 =
    "Vineyard workers tie the young vines to cedar stakes after the last " +
    "frost and carry water up the terraced rows while swallows cut across " +
    "the warm air and the cellar master tastes last year's barrels marking " +
    "two for the autumn fair as the press house doors stand open to the " +
    "long afternoon light over the valley road."
  private val bodyX6 =
    "Ferrymen pole the flat barge across the reed channel at first light " +
    "carrying milk cans and mail sacks while herons stalk the shallows and " +
    "the toll keeper chalks each crossing on the post beside the landing " +
    "plank until the evening water turns copper under the willow shadows " +
    "and the last cart rolls aboard for home."

  def batch1: Seq[(String, String)] = Seq(
    "h1" -> bodyH1,
    "h2" -> bodyH2,
    "h3" -> (bodyH1 + extraH))

  def batch2: Seq[(String, String)] = Seq(
    "x1" -> bodyH1,
    "x2" -> (bodyH2 + extraX),
    "x3" -> bodyX3,
    "x4" -> (bodyX3 + extraX),
    "x5" -> bodyX3,
    "x6" -> bodyX6)

  /** (batch, id, kept, stage, reason). */
  def expectedRows: Seq[(Int, String, Boolean, String, String)] = Seq(
    (1, "h1", true, "", ""),
    (1, "h2", true, "", ""),
    (1, "h3", false, "near_dup_batch", "h1"),
    (2, "x1", false, "exact_dup_hist", "h1"),
    (2, "x2", false, "near_dup_hist", "h2"),
    (2, "x3", true, "", ""),
    (2, "x4", false, "near_dup_batch", "x3"),
    (2, "x5", false, "exact_dup_batch", "x3"),
    (2, "x6", true, "", ""))

  /** Drives the DURABLE path end-to-end: batches 1 and 2 commit as store
    * batch ids 0 and 1 through [[IncrementalDedup.dedupeAndCommit]]
    * (fresh temp dir per call, so repeated bench reps never dedup against
    * a previous run's history), and batch 2 reopens batch 1's partitions
    * from disk — the oracle therefore gates the store's write/reopen
    * round trip, not just the in-memory plan. */
  def fixtureDf(s: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions._
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-incdedup-")
      .toAbsolutePath.toString
    val led1 = IncrementalDedup.dedupeAndCommit(
      s.createDataset(batch1).repartition(2).toDF("doc", "body"),
      "doc", "body", dir, 0L)
    val led2 = IncrementalDedup.dedupeAndCommit(
      s.createDataset(batch2).repartition(2).toDF("doc", "body"),
      "doc", "body", dir, 1L)
    led1.withColumn("batch", lit(1))
      .union(led2.withColumn("batch", lit(2)))
      .select("batch", "id", "kept", "stage", "reason")
      .orderBy("batch", "id")
  }

  def fixtureOracle: String = {
    val values = expectedRows.map { case (b, id, kept, stage, reason) =>
      s"  ($b, '$id', $kept, '$stage', '$reason')"
    }
    "SELECT CAST(batch AS INT) AS batch, id, kept, stage, reason " +
      s"FROM (VALUES\n${values.mkString(",\n")}\n) " +
      "AS t(batch, id, kept, stage, reason) ORDER BY batch, id"
  }
}
