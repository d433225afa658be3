package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.{ExtractJob, PagesGen}

/**
 * Dev diagnostic (not part of the driver contract — Bench.scala is frozen):
 * stage-level attribution for the heavy bench queries, per guide §1.4/§1.5
 * — each stage is materialized through the noop sink (every column of
 * every row computed, nothing written) under a job description, so the
 * expensive queries' seconds decompose into operator costs instead of one
 * opaque number. Cited in OPTIMIZATION_r08.md.
 *
 * Usage: SPARK_GRAFT_SF_DIR=<testdata>/sf0.1 sbt "runMain graft.BenchExtra"
 */
object BenchExtra {
  @volatile private var jobCount = 0
  @volatile private var stageCount = 0

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTS", "64"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir",
        if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/spark_local" else "/tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobCount += 1; stageCount += j.stageInfos.size
      }
    })
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def timed(name: String)(f: => Unit): Unit = {
      spark.sparkContext.setJobDescription(name)
      val t0 = System.nanoTime(); val j0 = jobCount; val s0 = stageCount
      f
      System.err.println(f"[benchextra] $name%-34s ${(System.nanoTime() - t0) / 1e9}%7.3f s" +
        f"  (${jobCount - j0}%3d jobs, ${stageCount - s0}%3d stages)")
      spark.sparkContext.setJobDescription(null)
    }

    curatePhases(spark, sfDir, noop, timed)
    spark.stop()
  }

  /** Stage decomposition of curation_pages: replicates Curate.ledgerPlan's
    * stages (kept in sync by hand) and times each through the noop sink. */
  private def curatePhases(spark: SparkSession, sfDir: String,
                           noop: DataFrame => Unit,
                           timed: String => (=> Unit) => Unit): Unit = {
    import spark.implicits._
    val n = PagesGen.pagesFor(sfDir)
    val parts = spark.sparkContext.defaultParallelism
    val extracted = ExtractJob.extract(PagesGen.generate(spark, n), parts).persist()
    timed("extract+persist")(extracted.toDF().count(): Unit)

    val input = extracted.toDF().select(col("url").as("id"),
      col("normalized_text").cast("string").as("text"))

    val rel = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val cleaned = graft.ops.ParaDedup.dedupParagraphs(input, "id", "text", 5,
      toRelease = rel)
    timed("1:para_dedup")(noop(cleaned))

    val judged = cleaned.select(col("id"), col("text_deduped"), col("paras_removed"))
      .as[(String, String, Long)]
      .map { case (id, text, pr) =>
        val v = graft.ops.RepetitionOps.gopherFilter(
          graft.ops.RepetitionOps.profile(text))
        (id, text, pr, v.keep, v.reasons.mkString("+"))
      }
      .toDF("id", "text", "paras_removed", "q_keep", "q_reasons")
      .persist()
    timed("2:quality_judge+persist")(judged.count(): Unit)

    val hashed = judged.filter(col("q_keep"))
      .withColumn("hash", expr("substring(sha2(text, 256), 1, 32)"))
    val keepers = hashed.groupBy("hash").agg(min(col("id")).as("keeper"))
    val withKeeper = hashed.join(keepers, "hash")
    val uniq = withKeeper.filter(col("id") === col("keeper")).select("id", "text")
    timed("3:exact_dedup")(noop(uniq))

    val sigs = graft.ops.DedupOps.minhashSignatures(uniq, "id", "text", 3, 64).persist()
    timed("4:signatures+persist")(sigs.count(): Unit)

    val bands = graft.ops.DedupOps.explodeBands(sigs, 4)
    val cands = graft.ops.DedupOps.candidatePairs(bands, Seq("band_idx", "band_key"), "id")
    timed("5:bands+candidates")(noop(cands))

    val verified = graft.ops.DedupOps.verifyPairs(cands, sigs, sigs, 0.55, 0.8)
    timed("6:verify")(noop(verified))

    timed("7:cc")(noop(graft.ops.DedupOps.clusterRepresentatives(verified)))

    timed("full:Curate.curate")(noop(
      graft.pipeline.Curate.curate(input, "id", "text",
        graft.pipeline.Curate.Config(paraMinDocFreq = 5))))

    rel.foreach(d => scala.util.Try(d.unpersist()))
    judged.unpersist(); sigs.unpersist(); extracted.unpersist()
  }
}
