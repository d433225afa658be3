package graft.ops

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Incremental-dedup operator properties beyond the fixture oracle: the
  * delta contains exactly the accepted docs, later batches dedup against
  * accumulated survivors, the parquet store round-trips across reopens,
  * empty-shingle (no-content) docs never near-dup each other, the
  * history band join suppresses mega-buckets instead of fanning out, and a
  * torn or replayed commit of one batch id ends in a clean run's state. */
class IncrementalDedupSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .appName("graft-test")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def tempDir(): String =
    java.nio.file.Files.createTempDirectory("graft-incdedup-spec-")
      .toAbsolutePath.toString

  test("delta contains exactly the accepted docs; dropped docs never index") {
    val s = spark; import s.implicits._
    val b1 = Seq(("a", "one two three"), ("b", "one two three"), ("c", "four five six"))
      .toDF("doc", "body")
    val r = IncrementalDedup.dedupeBatch(b1, "doc", "body",
      IncrementalDedup.emptyIndex(spark))
    assert(r.ledger.count() == 3)
    val kept = r.ledger.filter("kept").select("id").as[String].collect().toSet
    assert(kept == Set("a", "c")) // b is an exact dup of a
    assert(r.delta.hashes.select("id").as[String].collect().toSet == Set("a", "c"))
    assert(r.delta.sigs.select("id").as[String].collect().toSet == Set("a", "c"))
  }

  test("batch 3 dedups against survivors accumulated across earlier batches") {
    val s = spark; import s.implicits._
    val empty = IncrementalDedup.emptyIndex(spark)
    val r1 = IncrementalDedup.dedupeBatch(
      Seq(("a", "alpha beta gamma delta")).toDF("doc", "body"), "doc", "body", empty)
    val i1 = IncrementalDedup.extended(empty, r1.delta)
    val r2 = IncrementalDedup.dedupeBatch(
      Seq(("b", "epsilon zeta eta theta")).toDF("doc", "body"), "doc", "body", i1)
    val i2 = IncrementalDedup.extended(i1, r2.delta)
    val r3 = IncrementalDedup.dedupeBatch(
      Seq(("c", "alpha beta gamma delta"), ("d", "epsilon zeta eta theta"),
          ("e", "iota kappa lambda mu")).toDF("doc", "body"), "doc", "body", i2)
    val rows = r3.ledger.collect()
      .map(r => r.getString(0) -> ((r.getString(2), r.getString(3)))).toMap
    assert(rows("c") == (("exact_dup_hist", "a")))
    assert(rows("d") == (("exact_dup_hist", "b")))
    assert(rows("e") == (("", "")))
    val i3 = IncrementalDedup.extended(i2, r3.delta)
    assert(i3.hashes.count() == 3) // a, b, e
  }

  test("empty batch against a populated index is a no-op") {
    val s = spark; import s.implicits._
    val r1 = IncrementalDedup.dedupeBatch(
      Seq(("a", "alpha beta gamma delta")).toDF("doc", "body"), "doc", "body",
      IncrementalDedup.emptyIndex(spark))
    val i1 = IncrementalDedup.extended(IncrementalDedup.emptyIndex(spark), r1.delta)
    val r2 = IncrementalDedup.dedupeBatch(
      Seq.empty[(String, String)].toDF("doc", "body"), "doc", "body", i1)
    assert(r2.ledger.count() == 0 && r2.delta.hashes.count() == 0)
  }

  test("parquet store: commits append, reopen sees accumulated history") {
    val s = spark; import s.implicits._
    val dir = tempDir()
    val led1 = IncrementalDedup.dedupeAndCommit(
      Seq(("a", "alpha beta gamma delta")).toDF("doc", "body"), "doc", "body", dir, 0L)
    assert(led1.filter("kept").count() == 1)
    // a new read of the store (fresh frames, file-scan leaves) sees batch 0
    val led2 = IncrementalDedup.dedupeAndCommit(
      Seq(("b", "alpha beta gamma delta"), ("c", "nu xi omicron pi"))
        .toDF("doc", "body"), "doc", "body", dir, 1L)
    val rows = led2.collect()
      .map(r => r.getString(0) -> ((r.getString(2), r.getString(3)))).toMap
    assert(rows("b") == (("exact_dup_hist", "a")))
    assert(rows("c") == (("", "")))
    val idx = IncrementalDedup.openStore(spark, dir)
    assert(idx.hashes.select("id", "ingest_batch").as[(String, Int)].collect().toSet ==
      Set(("a", 0), ("c", 1)))
    assert(idx.sigs.count() == 2)
  }

  test("no-content docs (empty shingle sets) are never near-duplicates") {
    val s = spark; import s.implicits._
    val dir = tempDir()
    // distinct symbol-only texts: different hashes, ALL with zero shingles —
    // unguarded, their identical sentinel signatures band together and
    // jaccard(∅,∅)=1 falsely drops them
    val led1 = IncrementalDedup.dedupeAndCommit(
      Seq(("p", "!!!"), ("q", "???"), ("r", "genuine words with content here"))
        .toDF("doc", "body"), "doc", "body", dir, 0L)
    assert(led1.filter("kept").count() == 3)
    // and vs history: another no-content doc must not near-dup p or q
    val led2 = IncrementalDedup.dedupeAndCommit(
      Seq(("t", ",,,")).toDF("doc", "body"), "doc", "body", dir, 1L)
    assert(led2.filter("kept").count() == 1)
  }

  test("history mega-buckets are suppressed, small buckets still match") {
    val s = spark; import s.implicits._
    val body = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val sh = TextOps.shingleHashes(TextOps.shingles(body, 3))
    val sig = TextOps.minHash(TextOps.shingles(body, 3), 64)
    def histIndex(n: Int) = IncrementalDedup.Index(
      Seq.empty[(String, String)].toDF("hash", "id"),
      (1 to n).map(i => (s"h$i", sh, sig)).toDF("id", "sh", "sig"))
    val batch = Seq(("b1", body)).toDF("doc", "body")
    // 70 identical history sigs: every shared band bucket exceeds
    // maxBucket=64 → suppressed → b1 survives the near-history stage
    val big = IncrementalDedup.dedupeBatch(batch, "doc", "body", histIndex(70))
    assert(big.ledger.filter("kept").count() == 1)
    // 3 history sigs: buckets are small, the same doc near-dups normally
    val small = IncrementalDedup.dedupeBatch(batch, "doc", "body", histIndex(3))
    val row = small.ledger.collect().head
    assert(!row.getBoolean(1) && row.getString(2) == "near_dup_hist")
  }

  test("duplicate history band rows (crash-retried append) must not inflate " +
       "bucket counts past the suppression cap") {
    val s = spark; import s.implicits._
    val bodyH2 = graft.pipeline.IncDedupFixture.batch1(1)._2
    val nearH2 = graft.pipeline.IncDedupFixture.batch2(1)._2
    val batch = Seq("b1" -> nearH2).toDF("doc", "body")
    // real history sigs for the true near-dup + the batch doc's own bucket
    val hdSigs = DedupOps.minhashSignatures(
      Seq("hd" -> bodyH2).toDF("doc", "body"), "doc", "body", 3, 64)
      .as[(String, Array[Long], Array[Long])].head()
    // every bucket hd is in holds hd + 39 fillers = 40 distinct members
    // (under the 64 cap): the fillers share hd's signature, so they share
    // its band buckets, but one private shingle each keeps them from
    // verifying as near-dups of b1. Every sigs row is DUPLICATED, so every
    // band row is too. Counting raw rows reads 80 > 64 and suppresses the
    // buckets; counting distinct members must not.
    val members = (hdSigs._1, hdSigs._2, hdSigs._3) +:
      (1 to 39).map(i => (s"f$i", Array(i.toLong), hdSigs._3))
    val hist = IncrementalDedup.Index(
      Seq.empty[(String, String)].toDF("hash", "id"),
      (members ++ members).toDF("id", "sh", "sig"))
    val r = IncrementalDedup.dedupeBatch(batch, "doc", "body", hist)
    val row = r.ledger.collect().head
    assert(!row.getAs[Boolean]("kept") &&
      row.getAs[String]("stage") == "near_dup_hist" &&
      row.getAs[String]("reason") == "hd",
      s"duplicated band rows suppressed a legitimate 40-member bucket: $row")
  }

  test("torn and replayed commits of one batch id converge to a clean run") {
    val s = spark; import s.implicits._
    import graft.pipeline.IncDedupFixture.{batch1, batch2}
    def commit(dir: String, docs: Seq[(String, String)], id: Long) =
      IncrementalDedup.dedupeAndCommit(
        s.createDataset(docs).repartition(2).toDF("doc", "body"),
        "doc", "body", dir, id).collect().map(_.toString).sorted.toSeq
    def store(dir: String) = {
      val idx = IncrementalDedup.openStore(spark, dir)
      (idx.hashes.collect().map(_.toString).sorted.toSeq,
        idx.sigs.collect().map(_.toString).sorted.toSeq)
    }
    val clean = tempDir()
    val cleanLedgers = Seq(commit(clean, batch1, 0L), commit(clean, batch2, 1L))

    val dir = tempDir()
    assert(commit(dir, batch1, 0L) == cleanLedgers.head)
    // a torn attempt of batch 1: only its sigs partition landed, and with
    // rows that are not batch 1's delta (copies of x3's and x6's bodies
    // under foreign ids). Were the batch deduped against its own partition,
    // x3 and x6 would drop as near_dup_hist of these rows.
    DedupOps.minhashSignatures(
        Seq("torn3" -> batch2(2)._2, "torn6" -> batch2(5)._2).toDF("doc", "body"),
        "doc", "body", 3, 64)
      .write.parquet(s"$dir/sigs/ingest_batch=1")
    assert(commit(dir, batch2, 1L) == cleanLedgers(1), "retry after a torn attempt")
    assert(store(dir) == store(clean), "retry after a torn attempt")
    assert(commit(dir, batch2, 1L) == cleanLedgers(1), "replay of a committed batch")
    assert(store(dir) == store(clean), "replay of a committed batch")
  }
}
