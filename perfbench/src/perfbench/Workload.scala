package perfbench

import java.util.concurrent.{CountDownLatch, Executors}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** Run-wide settings every workload shares. `offset` is the first
  * `PagesGen` row of this seed's corpus. */
final case class Ctx(spark: SparkSession, seed: Long, work: String, slots: Int, tracer: Tracer,
                     traceRun: Boolean) {
  val offset: Long = Math.floorMod(seed, 1000000L) * 1000000L
  def sc: SparkContext = spark.sparkContext
}

/** One timed repetition of `docs` documents taking `seconds` and
  * allocating `allocBytes` of heap, leaving `storeBytesPerDoc` on disk;
  * `rows` and `okRows` count output rows and those without error.
  * `scaledSeconds` is the part of it the one-slot and traced comparisons
  * cover (all of it, except on `ingest_loop`). */
final case class Rep(docs: Long, seconds: Double, allocBytes: Long, storeBytesPerDoc: Double, rows: Long,
                     okRows: Long, scaledSeconds: Double) {
  def docsPerS: Double = docs / seconds
  def scaledDocsPerS: Double = docs / scaledSeconds
  def allocKbPerDoc: Double = allocBytes / 1024.0 / docs
}

/**
 * A workload. `prepare` builds the inputs (repeated, timed); `warmUp` runs
 * the one warm-up pass, which also computes the references the output
 * checks compare against (timed once); `rep` runs one closed-loop timed
 * repetition and checks its output, throwing [[CheckFailed]] on a mismatch;
 * `tracedRep` and `singleSlotRep` are the same (or, on `ingest_loop`, its
 * extraction step) for tracing and on one task slot; `layerMetrics` runs
 * the traced-only decompositions.
 */
abstract class Workload(val ctx: Ctx) {
  def prepare(): Unit
  def warmUp(): Unit
  def rep(): Rep
  def singleSlotRep(): Rep = OneSlot(ctx.sc, ctx.slots)(rep())
  def tracedRep(): Rep = rep()
  /** Rep modes of one cycle of the untraced run's closed loop. */
  def cycle: Seq[Mode] = Seq(Mode.Plain)
  def layerMetrics(): Map[String, Double]
  /** Checks that run once per benchmark run, after the timed section. */
  def finalChecks(): Unit = ()

  protected def spark: SparkSession = ctx.spark
  protected def tr: Tracer = ctx.tracer
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "extract_dense" => new ExtractWorkload(ctx)
    case "ingest_loop" => new IngestWorkload(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Run `f` over `items` on `threads` driver threads, keeping input order. */
  def parallelMap[A, B](items: IndexedSeq[A], threads: Int)(f: A => B): IndexedSeq[B] = {
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val futures = items.grouped(math.max(1, (items.length + threads - 1) / threads)).toVector
        .map(chunk => pool.submit(() => chunk.map(f)))
      futures.flatMap(_.get())
    } finally pool.shutdownNow()
  }
}

/**
 * Runs a body with one free task slot: idle tasks hold the other slots of
 * the `local[k]` scheduler. The job under test keeps its partitions and
 * input, and gets one core instead of k. Tasks run in this JVM, so the hold
 * is a latch in this object.
 */
object OneSlot {
  @volatile private var gate = new CountDownLatch(1)
  private val held = new AtomicInteger

  def hold(): Unit = { held.incrementAndGet(); gate.await() }

  def apply[T](sc: SparkContext, slots: Int)(body: => T): T =
    if (slots <= 1) body
    else {
      gate = new CountDownLatch(1)
      held.set(0)
      val n = slots - 1
      val holder = new Thread(() => {
        sc.setLocalProperty(CallListener.Key, null)
        sc.parallelize(0 until n, n).foreach(_ => OneSlot.hold())
      })
      holder.setDaemon(true)
      holder.start()
      val t0 = System.nanoTime()
      while (held.get() < n) {
        if (System.nanoTime() - t0 > 30e9) throw new IllegalStateException("slot holders did not start")
        Thread.sleep(1)
      }
      try body
      finally {
        gate.countDown()
        holder.join()
      }
    }
}
