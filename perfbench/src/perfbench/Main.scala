package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import Util.median

/**
 * Benchmark entry point, launched by `perfbench/run.py`:
 *
 * {{{
 * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
 *                --work <scratch dir> --trace-out <span file>
 * }}}
 *
 * Prints `perfbench-result <json>` as its last stdout line: `correct`,
 * `attempted`, `failed` and a flat `metrics` map of name → value (the
 * end-to-end metrics untraced, the per-layer metrics traced). Units live in
 * BENCHMARK.json; `run.py` attaches them.
 */
object Main {
  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val opts = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = new File(opts("work")).getAbsolutePath
    val slots = math.min(4, Runtime.getRuntime.availableProcessors())

    val spark = SparkSession.builder()
      .master(s"local[$slots]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Runner.log("spark session up")
    val status =
      try {
        val ctx = Ctx(spark, seed, work, slots, new Tracer(spark.sparkContext), trace)
        val out = Runner.run(Workload(workload, ctx), seconds, opts.get("trace-out"))
        println("perfbench-result " + out)
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      } finally spark.stop()
    sys.exit(status)
  }
}

sealed trait Mode
object Mode {
  /** Untraced, all slots: the end-to-end numbers (in a traced run, the
    * comparison rep for `tracing_overhead` and `scaling_eff`). */
  case object Plain extends Mode
  /** Spans and the Spark listener on: the per-layer numbers. */
  case object Traced extends Mode
  /** Untraced on one free slot: the base of `scaling_eff`. */
  case object Single extends Mode
}

object Runner {
  import Mode._

  /** The per-call Spark counters, reported for each call in [[listenerCalls]]. */
  val listenerQuantities: Seq[String] = Seq("s", "jobs", "stages", "tasks", "shuffle_write_bytes",
    "spill_bytes", "input_bytes", "output_bytes", "task_skew", "busy_frac")
  val listenerCalls: Seq[String] = Seq("pipeline.ExtractJob.extractAuto", "pipeline.ExtractJob.runResumable",
    "streaming.incrementalDedupSink", "pipeline.Curate.curate")
  /** Calls reported by median wall time only. */
  val timedCalls: Seq[String] = Seq("pipeline.ExtractJob.extract", "pipeline.ExtractJob.extractFirst",
    "pipeline.ExtractJob.extractOnSplits", "pipeline.ExtractJob.chooseVariant",
    "ops.IncrementalDedup.dedupeBatch", "ops.ParaDedup.dedupParagraphs", "ops.DedupOps.minhashSignatures",
    "ops.DedupOps.candidatePairs", "ops.DedupOps.verifyPairs", "ops.DedupOps.clusterRepresentatives")
  /** Per-row functions, reported as mean ns per replayed document. */
  val rowCalls: Seq[String] = Seq("pipeline.ExtractJob.decodeHtml", "urlx.UrlOps.normalizeUrl",
    "dom.HtmlParser.parse", "extract.MetaExtractor", "extract.JsonLdExtractor", "extract.FaviconExtractor",
    "extract.ContentExtractor", "extract.LinksExtractor", "content.BlockParser.parseBlocks",
    "content.Normalizer.normalizeText", "pipeline.ScrapePipeline.scrapeHtml", "ops.RepetitionOps.profile")
  /** Workload-specific per-layer metrics ([[Workload.layerMetrics]]); 0 on the other workloads. */
  val workloadLayerMetrics: Seq[String] = Seq("pipeline.ExtractJob.chooseVariant.extract_first",
    "pipeline.ExtractJob.html_bytes_per_doc", "dom.HtmlParser.parse.mb_per_s",
    "pipeline.ExtractJob.runResumable.skip_frac", "ops.IncrementalDedup.history_input_bytes",
    "ops.IncrementalDedup.history_input_bytes_per_history_row", "ops.IncrementalDedup.drop_frac",
    "ops.DedupOps.candidate_pairs", "ops.DedupOps.verified_pairs", "ops.DedupOps.candidate_yield",
    "ops.DedupOps.band_bucket_max", "ops.DedupOps.band_bucket_p50", "pipeline.Curate.pieces_sum_s")
  /** Modules whose self-time share of the per-row replay is reported. */
  val rowModules: Seq[String] = Seq("pipeline", "urlx", "dom", "extract", "content")

  def run(w: Workload, seconds: Double, traceOut: Option[String]): String = {
    val ctx = w.ctx
    val traceRun = ctx.traceRun
    // set-up: the median of three input builds, plus the one warm-up pass
    val prepareS = (1 to (if (traceRun) 1 else 3)).map(_ => Util.seconds(w.prepare())._2)
    val warmUpS = Util.seconds(w.warmUp())._2
    log(f"prepare ${prepareS.map(x => f"$x%.2f").mkString(" ")} s, warm-up $warmUpS%.2f s")

    // traced run: ABBA order, so warm-up still in progress biases neither
    // side of tracing_overhead; one-slot reps for scaling_eff
    val cycle: Seq[Mode] = if (traceRun) Seq(Traced, Plain, Single, Plain, Traced, Single) else w.cycle
    val reps = mutable.Map.empty[Mode, ArrayBuffer[Rep]].withDefault(_ => ArrayBuffer.empty)
    var attempted, failed = 0L
    val jvm = new JvmWatch
    val t0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - t0) / 1e9
    def covered: Boolean = cycle.distinct.forall(reps(_).nonEmpty)
    var i = 0
    // closed loop: the next rep starts when the previous one (and its check)
    // is done; whole cycles only, until the window has passed
    while (elapsed < seconds || i % cycle.length != 0) {
      val mode = cycle(i % cycle.length)
      i += 1
      attempted += 1
      if (mode == Traced) ctx.tracer.start()
      jvm.resume()
      try {
        val r = mode match {
          case Plain if traceRun => w.tracedRep()
          case Plain => w.rep()
          case Traced => w.tracedRep()
          case Single => w.singleSlotRep()
        }
        reps(mode) = reps(mode) :+ r
        log(f"rep $i ($mode) ${r.docs} docs in ${r.seconds}%.2f s, ${r.allocKbPerDoc}%.0f KB/doc allocated")
      } catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"rep $i ($mode) failed: $e")
      } finally {
        jvm.pause()
        if (mode == Traced) ctx.tracer.stop()
      }
    }

    log("timed section done")
    var correct = failed == 0 && covered
    try w.finalChecks()
    catch { case e: Exception => correct = false; System.err.println(s"final check failed: $e") }

    val metrics: Seq[(String, Double)] =
      if (!covered) Nil
      else if (traceRun) {
        ctx.tracer.start()
        val extra = w.layerMetrics()
        ctx.tracer.stop()
        def medianDocsPerS(m: Mode) = median(reps(m).toSeq.map(_.scaledDocsPerS))
        val m = layerMetrics(ctx, jvm) ++ workloadLayerMetrics.map(_ -> 0.0) ++ extra +
          ("tracing_overhead" -> medianDocsPerS(Plain) / medianDocsPerS(Traced)) +
          ("scaling_eff" -> medianDocsPerS(Plain) / (ctx.slots * medianDocsPerS(Single)))
        requireFinite(m)
        traceOut.foreach(writeTrace(_, w, ctx, m))
        printCounts(ctx)
        m.toSeq
      } else {
        val plain = reps(Plain).toSeq
        val docsPerS = median(plain.map(_.docsPerS))
        val all = cycle.distinct.flatMap(reps(_))
        Seq(
          "setup_s" -> (median(prepareS) + warmUpS),
          "docs_per_s" -> docsPerS,
          "commit_s_p50" -> median(plain.map(_.seconds)),
          "store_bytes_per_doc" -> median(plain.map(_.storeBytesPerDoc)),
          "alloc_kb_per_doc" -> median(plain.map(_.allocKbPerDoc)),
          "ok_rows_frac" -> all.map(_.okRows).sum.toDouble / all.map(_.rows).sum,
          "ok_jobs_frac" -> (attempted - failed).toDouble / attempted)
      }
    log("metrics done")
    requireFinite(metrics)
    if (metrics.isEmpty) correct = false
    val body = metrics.map { case (k, v) => s""""$k": $v""" }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}"""
  }

  /** Progress on stderr, stamped with seconds since the JVM started. */
  def log(msg: String): Unit =
    System.err.println(f"perfbench [${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s] $msg")

  /** A NaN or infinite metric is a broken computation: the run fails. A
    * workload that does not call a layer reports 0 for it explicitly. */
  private def requireFinite(metrics: Iterable[(String, Double)]): Unit = {
    val bad = metrics.collect { case (k, v) if v.isNaN || v.isInfinite => s"$k=$v" }
    if (bad.nonEmpty) throw new IllegalStateException(s"non-finite metrics: ${bad.mkString(", ")}")
  }

  /** Per-layer metrics from the spans and listener counters of the traced run. */
  private def layerMetrics(ctx: Ctx, jvm: JvmWatch): Map[String, Double] = {
    val tr = ctx.tracer
    def medianS(name: String): Double = {
      val s = tr.named(name)
      if (s.isEmpty) 0.0 else median(s.map(_.ns / 1e9))
    }
    val listener = listenerCalls.flatMap { call =>
      val spans = tr.named(call)
      val works = spans.map(tr.sparkWork)
      val n = math.max(1, spans.length).toDouble
      def per(f: SparkWork => Long): Double = works.map(f).sum / n
      val wallMs = spans.map(_.ns / 1e6).sum
      val values = Map(
        "s" -> medianS(call),
        "jobs" -> per(_.jobs), "stages" -> per(_.stages), "tasks" -> per(_.tasks),
        "shuffle_write_bytes" -> per(_.shuffleWriteBytes), "spill_bytes" -> per(_.spillBytes),
        "input_bytes" -> per(_.inputBytes), "output_bytes" -> per(_.outputBytes),
        "task_skew" -> (if (works.isEmpty) 0.0 else median(works.map(_.taskSkew))),
        "busy_frac" -> (if (wallMs == 0) 0.0 else works.map(_.taskMs).sum / (wallMs * ctx.slots)))
      listenerQuantities.map(q => s"$call.$q" -> values(q))
    }
    val timed = timedCalls.map(c => s"$c.s" -> medianS(c))
    val row = rowCalls.map { c =>
      val s = tr.named(c)
      s"$c.ns_per_doc" -> (if (s.isEmpty) 0.0 else s.map(_.ns).sum.toDouble / s.length)
    }
    val roots = tr.named("bench.rowchain")
    val rootNs = roots.map(_.ns).sum.toDouble
    val inRows = roots.map(_.id).toSet
    val shares = rowModules.map { m =>
      val self = tr.spans.iterator.filter(s => inRows(s.parent) && s.module == m).map(tr.selfNs).sum
      s"$m.doc_share" -> (if (rootNs == 0) 0.0 else self / rootNs)
    }
    (listener ++ timed ++ row ++ shares ++ Seq(
      "dom.spans" -> tr.spans.count(_.module == "dom").toDouble,
      "jvm.gc_frac" -> jvm.gcFrac)).toMap
  }

  /** Jobs, stages and shuffle bytes per call, as exact counts. */
  private def printCounts(ctx: Ctx): Unit =
    (listenerCalls ++ timedCalls).foreach { call =>
      val works = ctx.tracer.named(call).map(ctx.tracer.sparkWork)
      if (works.nonEmpty)
        println(s"counts $call calls=${works.length} jobs=${works.map(_.jobs).mkString(",")} " +
          s"stages=${works.map(_.stages).mkString(",")} " +
          s"shuffle_write_bytes=${works.map(_.shuffleWriteBytes).mkString(",")}")
    }

  /** The span file: every span with its self time, self time per name and per module, and the metrics. */
  private def writeTrace(path: String, w: Workload, ctx: Ctx, metrics: Map[String, Double]): Unit = {
    val tr = ctx.tracer
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    def obj(kv: Iterable[(String, String)]) = kv.map { case (k, v) => s"${q(k)}: $v" }.mkString("{", ", ", "}")
    val t0 = tr.spans.headOption.fold(0L)(_.start)
    val spans = tr.spans.map { s =>
      obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString, "trace" -> s.trace.toString,
        "name" -> q(s.name), "start_ns" -> (s.start - t0).toString, "end_ns" -> (s.end - t0).toString,
        "self_ns" -> tr.selfNs(s).toString))
    }
    val byName = tr.spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) => n -> ss.map(tr.selfNs).sum.toString }
    val byModule = tr.spans.groupBy(_.module).toSeq.sortBy(_._1).map { case (m, ss) => m -> ss.map(tr.selfNs).sum.toString }
    val series = w match {
      case ingest: IngestWorkload => Seq("ops.IncrementalDedup.history_input_bytes_by_batch" ->
        ingest.historySeries.map { case (rows, bytes) => s"""{"history_rows": $rows, "bytes": $bytes}""" }
          .mkString("[", ", ", "]"))
      case _ => Nil
    }
    val file = new File(path)
    file.getParentFile.mkdirs()
    val out = new PrintWriter(file, "UTF-8")
    try out.println(obj(Seq(
      "seed" -> ctx.seed.toString,
      "self_ns_by_name" -> obj(byName),
      "self_ns_by_module" -> obj(byModule),
      "metrics" -> obj(metrics.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString })) ++ series ++ Seq(
      "spans" -> spans.mkString("[\n", ",\n", "\n]"))))
    finally out.close()
  }
}
