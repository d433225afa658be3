package graft

import org.apache.spark.sql.SparkSession
import graft.pipeline.{ExtractJob, PageRow, PagesGen}

/**
 * Benchmark main — one JSON line per run (driver contract).
 *
 * Follows the BASELINE.md protocol: the synthetic corpus is generated ONCE
 * into parquet (seed-fixed → identical files regardless of which level
 * created them); the timed section is read → salted host repartition → fused
 * extraction → count, after one discarded warm-up pass (JIT).
 *
 * Scaling evidence: run this main at `SPARK_GRAFT_CPUS=8` and `32` on the
 * same corpus; efficiency = tput(32) / (4 × tput(8)) — recorded in
 * BASELINE.md. The partition count is FIXED across levels (default 128 =
 * 4 × the largest level) exactly as on a real cluster, where the input
 * splits are determined by the data and only the executor count varies:
 * per-task dispatch overhead (task-binary deserialization, task memory
 * setup — a measured ~40% of bench-scale allocation) must not scale with
 * the level being measured, or the ratio measures scheduler overhead, not
 * the extraction pipeline. 128 partitions also keep per-task skew bounded
 * at every level (≥4 waves at 32 cores).
 */
object Bench {
  def main(args: Array[String]): Unit = {
    // JSON emitters use the f interpolator: pin the locale so a
    // comma-decimal default can never produce invalid JSON
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      // fixed across levels (cluster analogy: shuffle width is a property of
      // the data/job, not of how many executors happen to run it)
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTS", "64"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // local-mode shuffle goes through memory, not a network: spill to
      // tmpfs and skip lz4 (pure overhead here; a real cluster keeps
      // compression for the wire — this setting is the single-box stand-in)
      .config("spark.local.dir",
        sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR",
          if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/spark_local" else "/tmp"))
      .config("spark.shuffle.compress", sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_COMPRESS", "false"))
      .config("spark.shuffle.spill.compress", sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_COMPRESS", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // SPARK_GRAFT_DOCS overrides the extraction-throughput corpus size.
    // Default 80k — the BASELINE.md measurement protocol — so the headline
    // docs/sec is comparable across rounds regardless of the query-suite SF
    // (constant job overheads on a small corpus read as lost throughput).
    val nDocs = sys.env.get("SPARK_GRAFT_DOCS").map(_.toInt).getOrElse(80000)
    val parts = sys.env.get("SPARK_GRAFT_PARTS").map(_.toInt).getOrElse(128)

    // corpus parquet — generated once, shared by every level (identical
    // files). SPARK_GRAFT_CORPUS=heavy selects the markup-inflated variant
    // (real-web markup:text ratio) for the plan-order experiment.
    val corpusKind = sys.env.getOrElse("SPARK_GRAFT_CORPUS", "default")
    val corpusDir =
      if (corpusKind == "heavy") s"target/bench_corpus_heavy_$nDocs" else s"target/bench_corpus_$nDocs"
    if (!new java.io.File(corpusDir + "/_SUCCESS").exists()) {
      val gen = if (corpusKind == "heavy") PagesGen.generateHeavy(spark, nDocs)
                else PagesGen.generate(spark, nDocs)
      gen.repartition(64).write.mode("overwrite").parquet(corpusDir)
    }
    val pages = spark.read.parquet(corpusDir).as[PageRow]

    // Plan variants (BASELINE.md plan-order note):
    //   shuffle_first — salted host exchange on raw (url, html), then extract
    //     (the r1/r2 headline plan; fewest shuffled bytes on THIS corpus).
    //   extract_first — extract on raw scan splits, salted host exchange on
    //     the extracted rows (fewest shuffled bytes on real 10:1 web markup).
    //   bucketed_scan — input table bucketed by salted host key at ingest;
    //     extraction runs on the already-host-clustered scan splits with ZERO
    //     exchange anywhere in the job (the 100 TB plan when ingest
    //     cooperates; host co-location for the sink comes from the layout).
    // default headline = bucketed_scan (the shipping 100 TB plan; both
    // scaling tiers ≥0.8 — BASELINE.md round-3 table); variant_sec keeps the
    // r2-comparable shuffle_first number visible in every full-suite run.
    // SPARK_GRAFT_VARIANT=auto resolves the byte-ratio plan choice for
    // unbucketed input (ExtractJob.chooseVariant) and benches what it picked.
    val requestedVariant = sys.env.getOrElse("SPARK_GRAFT_VARIANT", "bucketed_scan")
    val autoChoice = ExtractJob.chooseVariant(pages)
    val variant = if (requestedVariant == "auto") autoChoice else requestedVariant
    System.err.println(s"[bench] auto byte-ratio choice for this corpus: $autoChoice" +
      (if (requestedVariant == "auto") " (selected)" else s" (benching $variant)"))

    lazy val bucketedPages: org.apache.spark.sql.Dataset[PageRow] = {
      val tbl =
        if (corpusKind == "heavy") s"bench_corpus_bucketed_heavy_$nDocs"
        else s"bench_corpus_bucketed_$nDocs"
      if (!spark.catalog.tableExists(tbl)) {
        val mega = ExtractJob.megaHostMap(pages.toDF(), parts)
        val saltFor = ExtractJob.saltUdf(mega)
        import org.apache.spark.sql.functions._
        val keyed = pages.toDF()
          .withColumn("bucket_key",
            xxhash64(ExtractJob.hostCol, saltFor(ExtractJob.hostCol, col("url"))))
        ExtractJob.writeBucketed(keyed, tbl, "bucket_key", parts)
      }
      spark.table(tbl).select("url", "warc_ts", "html", "text", "lang").as[PageRow]
    }

    def runVariant(v: String): Long = v match {
      case "extract_first" => ExtractJob.extractFirst(pages, parts).toDF().count()
      case "bucketed_scan" => ExtractJob.extractOnSplits(bucketedPages).toDF().count()
      case "shuffle_first" => ExtractJob.extract(pages, parts).toDF().count()
      case other => sys.error(
        s"unknown SPARK_GRAFT_VARIANT '$other' (expected shuffle_first | extract_first | bucketed_scan)" +
          " — refusing to silently time a different plan under this label")
    }

    // warm-up (JIT) — two discarded full passes; the DOM/Readability stack
    // needs deep warming before timings stabilize
    runVariant(variant)
    runVariant(variant)

    // headline: extraction throughput — median of 5 reps in BOTH modes
    // (was 3 in full mode): the shared host spikes individual reps 1.5-3×
    // (observed 10s vs 29s for identical work within one JVM), and a
    // median-of-3 lets one spike drag the committed headline 30% under the
    // same-window ceiling (the r4 artifact)
    val reps = sys.env.get("SPARK_GRAFT_REPS").map(_.toInt).getOrElse(5)
    var extractedCount = 0L
    val repTimes = (1 to reps).map { i =>
      val t0 = System.nanoTime()
      extractedCount = runVariant(variant)
      val dt = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[bench] timed run $i ($variant): $dt%.2f s")
      dt
    }
    val times = repTimes.sorted
    // headline = protocol median; the per-rep times and the MIN go into the
    // JSON too (VERDICT r4 #1) so a one-rep noise spike on this shared host
    // is attributable from the committed artifact alone instead of
    // contradicting the quiet-window narrative in BASELINE.md.
    val extractSec = times(times.length / 2)
    val docsPerSec = extractedCount / extractSec
    val docsPerSecBest = extractedCount / times.head

    // per-variant plan-cost comparison (full mode only): one warm pass, then
    // MIN of the timed passes for EVERY variant — a plan comparison wants
    // the noise floor, and this shared host spikes individual runs 3-10x
    // under external load. (The headline variant contributes the min of its
    // headline reps — same metric as the others, unlike extract_sec, which
    // stays the protocol median.)
    val variantTimes: Seq[(String, Double)] =
      if (sys.env.get("SPARK_GRAFT_EXTRACT_ONLY").contains("1")) Seq(variant -> extractSec)
      else Seq("shuffle_first", "extract_first", "bucketed_scan").map { v =>
        if (v == variant) v -> times.min
        else {
          runVariant(v) // warm this plan's code path once
          val ts = (1 to 2).map { _ =>
            val t0 = System.nanoTime()
            runVariant(v)
            (System.nanoTime() - t0) / 1e9
          }
          v -> ts.min
        }
      }

    // Same-window raw-FixedThreadPool ceiling (VERDICT r3 #7): the box's
    // no-Spark throughput on the same per-row function, measured in the SAME
    // bench window as the Spark number — `spark_vs_ceiling` makes a sub-0.8
    // scaling tier on a noisy shared host mechanically distinguishable from
    // a plan defect (ratio holds ⇒ the box moved, not the plan).
    val rawDocs = BenchPhases.rawCeilingDocs(math.min(nDocs, 40000), corpusKind == "heavy")
    BenchPhases.rawPoolSec(rawDocs, cpus.toInt) // warm
    val rawReps = (1 to 3).map(_ => BenchPhases.rawPoolSec(rawDocs, cpus.toInt))
    val rawSec = rawReps.sorted.apply(1)
    val rawDocsPerSec = rawDocs.length / rawSec
    val sparkVsCeiling = docsPerSec / rawDocsPerSec
    // best-vs-best: min Spark rep over min raw rep — the noise-floor ratio.
    // If the median ratio dips but THIS holds ≥0.85, the gap is a transient
    // spike inside the window, not a plan cost.
    val sparkVsCeilingBest = docsPerSecBest / (rawDocs.length / rawReps.min)

    // Scan-only pass: parquet read + charset-sniffing html decode with NO
    // extraction — the input-side cost the raw-pool ceiling (pre-decoded,
    // in-memory) never pays. `spark_vs_ceiling_net` (throughput net of the
    // scan, vs the ceiling) attributes the headline gap from the artifact
    // alone: a net ratio ≥ 1 means the ENTIRE gap between spark_vs_ceiling
    // and 1.0 is explained by input-side work (scan and compute overlap in
    // the fused pipeline, so subtracting the full scan overshoots — the net
    // is an upper bound). The honest end-to-end number stays
    // `spark_vs_ceiling`.
    // Reads the SAME source the benched variant reads (the bucketed table
    // for bucketed_scan, the corpus parquet otherwise), prunes to the same
    // (url, html) columns, and runs the real charset-sniffing decode — so
    // the subtrahend is the actual input-side work of the timed job.
    def scanPass(): Unit = {
      val src = if (variant == "bucketed_scan") bucketedPages.toDF()
                else spark.read.parquet(corpusDir)
      src.select("url", "html").as[(String, Array[Byte])]
        .mapPartitions(it =>
          Iterator.single(it.map { case (_, h) => ExtractJob.decodeHtml(h).length.toLong }.sum))
        .reduce(_ + _)
      ()
    }
    scanPass() // warm
    val scanSec = (1 to 3).map { _ =>
      val t0 = System.nanoTime(); scanPass(); (System.nanoTime() - t0) / 1e9
    }.sorted.apply(1)
    val netSec = math.max(extractSec - scanSec, 1e-9)
    val sparkVsCeilingNet = (extractedCount / netSec) / rawDocsPerSec

    // SPARK_GRAFT_EXTRACT_ONLY=1 → skip the query suite (scaling-protocol runs
    // time only the extraction job)
    val extractOnly = sys.env.get("SPARK_GRAFT_EXTRACT_ONLY").contains("1")

    // Heavy-corpus sub-bench (VERDICT r5 #6): the real-web markup:text≈10:1
    // probe previously lived only in BASELINE.md narrative — measure it in
    // the SAME run so every round's artifact carries both corpus headlines,
    // the heavy ceiling, and the byte-ratio auto choice on the heavy side.
    // A quarter of the headline corpus keeps the added wall-clock ~O(one
    // headline rep) while staying large enough to amortize job overheads.
    // Skipped in extract-only (scaling-protocol) runs and when the main run
    // already benches the heavy corpus.
    val heavyStats: Option[String] =
      if (extractOnly || corpusKind == "heavy" ||
          sys.env.get("SPARK_GRAFT_HEAVY").contains("0")) None
      else {
        val hDocs = math.max(nDocs / 2, 10000)
        val hDir = s"target/bench_corpus_heavy_$hDocs"
        if (!new java.io.File(hDir + "/_SUCCESS").exists())
          PagesGen.generateHeavy(spark, hDocs).repartition(64).write.mode("overwrite").parquet(hDir)
        val hPages = spark.read.parquet(hDir).as[PageRow]
        val hAuto = ExtractJob.chooseVariant(hPages) // byte-ratio evidence
        // measured on the SAME shipping plan as the headline (bucketed
        // scan, zero exchange) so heavy-vs-default is a corpus comparison,
        // not a plan comparison; hAuto still records the unbucketed choice
        val tbl = s"bench_corpus_bucketed_heavy_$hDocs"
        if (!spark.catalog.tableExists(tbl)) {
          val mega = ExtractJob.megaHostMap(hPages.toDF(), parts)
          val saltFor = ExtractJob.saltUdf(mega)
          import org.apache.spark.sql.functions._
          val keyed = hPages.toDF().withColumn("bucket_key",
            xxhash64(ExtractJob.hostCol, saltFor(ExtractJob.hostCol, col("url"))))
          ExtractJob.writeBucketed(keyed, tbl, "bucket_key", parts)
        }
        val hBucketed = spark.table(tbl)
          .select("url", "warc_ts", "html", "text", "lang").as[PageRow]
        def runHeavy(): Long = ExtractJob.extractOnSplits(hBucketed).toDF().count()
        runHeavy() // warm (the HTML stack is hot, but this plan/corpus is not)
        var hCount = 0L
        val hTimes = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          hCount = runHeavy()
          (System.nanoTime() - t0) / 1e9
        }.sorted
        val hSec = hTimes(1)
        val hRawDocs = BenchPhases.rawCeilingDocs(math.min(hDocs, 40000), heavy = true)
        BenchPhases.rawPoolSec(hRawDocs, cpus.toInt) // warm
        val hRawSec = (1 to 3).map(_ => BenchPhases.rawPoolSec(hRawDocs, cpus.toInt)).sorted.apply(1)
        val hRawDps = hRawDocs.length / hRawSec
        val hDps = hCount / hSec
        System.err.println(f"[bench] heavy corpus: $hDps%.0f docs/s ($hAuto), ceiling $hRawDps%.0f")
        Some(
          f"""{"docs":$hCount%d,"extract_sec":$hSec%.3f,"docs_per_sec":$hDps%.1f,"auto_variant":"$hAuto%s","raw_pool_docs_per_sec":$hRawDps%.1f,"spark_vs_ceiling":${hDps / hRawDps}%.3f}""")
      }

    // Pack-scaling probe (round 7): 10M synthetic rows through the
    // distributed-prefix-sum packing chain (seededShuffle → concatChunkBy)
    // — the two-parallelism evidence for the operator that replaced the
    // window-per-shard scan. 256 shuffle partitions (≥4 waves at 32 cores;
    // the probe's own measurements: 64→256 parts = +32% at 32 cores);
    // session conf snapshot/restored so the query suite is untouched.
    val packStats: Option[String] =
      if (extractOnly || sys.env.get("SPARK_GRAFT_PACK").contains("0")) None
      else {
        val packRows = sys.env.get("SPARK_GRAFT_PACK_ROWS").map(_.toLong)
          .getOrElse(10000000L)
        val key = "spark.sql.shuffle.partitions"
        val saved = spark.conf.get(key)
        spark.conf.set(key, "256")
        try {
          import org.apache.spark.sql.functions._
          def runPack(): Unit = {
            val sh = graft.ops.Pack.seededShuffle(
                spark.range(packRows).toDF("doc_id"), "doc_id", 2026L, 16)
              .withColumn("tokens", pmod(col("id"), lit(997L)))
            graft.ops.Pack.concatChunkBy(sh, "id", "tokens", "shard", "skey", 2048)
              .agg(sum(col("cum_before") + col("first_chunk"))).head.getLong(0)
            ()
          }
          runPack() // warm
          val ts = (1 to 2).map { _ =>
            val t0 = System.nanoTime(); runPack(); (System.nanoTime() - t0) / 1e9
          }
          val sec = ts.min
          System.err.println(f"[bench] pack probe: $packRows%d rows in $sec%.2f s (${packRows / sec}%.0f rows/s)")
          Some(f"""{"rows":$packRows%d,"sec":$sec%.3f,"rows_per_sec":${packRows / sec}%.1f}""")
        } finally spark.conf.set(key, saved)
      }

    // Ingest-loop probe: one incremental-dedup commit of a 1k-doc batch
    // (store batch id 1) against an 8k-doc history (batch id 0) through
    // the batch-partitioned store's one commit path. Fresh temp store per
    // run.
    val ingestStats: Option[String] =
      if (extractOnly || sys.env.get("SPARK_GRAFT_INGEST").contains("0")) None
      else {
        val histN = sys.env.get("SPARK_GRAFT_INGEST_HIST").map(_.toInt).getOrElse(8000)
        val batchN = sys.env.get("SPARK_GRAFT_INGEST_BATCH").map(_.toInt).getOrElse(1000)
        val dir = java.nio.file.Files.createTempDirectory("graft-bench-incdedup-")
          .toAbsolutePath.toString
        try {
          def corpus(from: Int, n: Int) = spark.range(from, from + n.toLong)
            .selectExpr("CAST(id AS STRING) AS doc",
              // ~30-word deterministic bodies; 1-in-50 duplicates an earlier doc
              "concat('doc body ', CAST(id AS STRING), ' ', " +
                "repeat(concat('w', CAST(id % 211 AS STRING), ' x', CAST(id % 97 AS STRING), " +
                "' y', CAST(id % 53 AS STRING), ' '), 10), " +
                "CASE WHEN id % 50 = 0 THEN 'tail common suffix block' ELSE '' END) AS body")
          graft.ops.IncrementalDedup.dedupeAndCommit(
            corpus(0, histN).toDF(), "doc", "body", dir, 0L) // build history
          val t0 = System.nanoTime()
          val led = graft.ops.IncrementalDedup.dedupeAndCommit(
            corpus(histN, batchN).toDF(), "doc", "body", dir, 1L)
          val cnt = led.count()
          val sec = (System.nanoTime() - t0) / 1e9
          System.err.println(f"[bench] ingest probe: $cnt%d-doc batch vs $histN%d-doc history committed in $sec%.2f s")
          Some(f"""{"history":$histN%d,"batch":$batchN%d,"commit_sec":$sec%.3f,"docs_per_sec":${cnt / sec}%.1f}""")
        } finally {
          try {
            import scala.reflect.io.Directory
            new Directory(new java.io.File(dir)).deleteRecursively()
          } catch { case _: Exception => () }
        }
      }

    // Pre-warm the shared cached relations BEFORE per-query timing and
    // report their materialization as separate bench lines (VERDICT r3 #1):
    // no query's time may include another query's shared cost.
    val materialize: Seq[(String, Double)] =
      if (extractOnly) Seq.empty else SparkEntry.prewarmShared(spark, sfDir)

    val results =
      if (extractOnly) Seq.empty
      else SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        val q0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch { case _: Throwable => -1L }
        name -> (System.nanoTime() - q0) / 1e9
      }
    // raw ANN recalls (VERDICT r4 #6): the query suite already ran
    // `ann_recall` and stashed the measured values; emit them so a recall
    // regression INSIDE the floor margin is visible round-over-round.
    // fallback compute is best-effort: a failing ANN chain must degrade to
    // an empty map, not abort the artifact after every other measurement ran
    val annRecalls: Map[String, Double] =
      if (extractOnly) Map.empty
      else if (SparkEntry.lastAnnRecalls.nonEmpty) SparkEntry.lastAnnRecalls
      else try SparkEntry.annRecalls(spark, sfDir) catch { case _: Throwable => Map.empty }

    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    val vs = variantTimes.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    val ms = materialize.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    val rep = repTimes.map(t => f"$t%.3f").mkString("[", ",", "]")
    val rawRep = rawReps.map(t => f"$t%.3f").mkString("[", ",", "]")
    val ar = annRecalls.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    val total = extractSec + results.map(_._2).sum + materialize.map(_._2).sum
    val heavyField = heavyStats.map(h => s""","heavy":$h""").getOrElse("") +
      packStats.map(p => s""","pack":$p""").getOrElse("") +
      ingestStats.map(p => s""","ingest":$p""").getOrElse("")
    val line =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs%s,"sf":"$sfDir%s","cpus":$cpus%s,"corpus":"$corpusKind%s","extract_docs":$extractedCount%d,"extract_sec":$extractSec%.3f,"extract_reps_sec":$rep%s,"extract_docs_per_sec":$docsPerSec%.1f,"extract_docs_per_sec_best":$docsPerSecBest%.1f,"extract_variant":"$variant%s","auto_variant":"$autoChoice%s","variant_sec":$vs%s,"materialize_sec":$ms%s,"ann_recall":$ar%s,"raw_pool_docs":${rawDocs.length}%d,"raw_pool_sec":$rawSec%.3f,"raw_pool_reps_sec":$rawRep%s,"raw_pool_docs_per_sec":$rawDocsPerSec%.1f,"scan_sec":$scanSec%.3f,"spark_vs_ceiling":$sparkVsCeiling%.3f,"spark_vs_ceiling_best":$sparkVsCeilingBest%.3f,"spark_vs_ceiling_net":$sparkVsCeilingNet%.3f$heavyField%s}"""
    println(line)
    // Sidecar artifact (VERDICT r5 #5): the driver's stdout-tail cap
    // truncated the r5 committed artifact mid-queries-map, so everything
    // alphabetically early lived only in BASELINE.md. The full line is
    // ALSO written to a repo file the round commit always carries intact —
    // BENCH_r{N}.json stays the driver's capture, BENCH_FULL.json is the
    // self-contained copy every per-query second is parseable from.
    try {
      val w = new java.io.PrintWriter(new java.io.File("BENCH_FULL.json"), "UTF-8")
      try w.println(line) finally w.close()
    } catch { case _: Exception => () } // read-only cwd must not fail the bench
    spark.stop()
  }
}
