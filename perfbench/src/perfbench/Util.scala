package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** A check on a workload's output failed: the job counts as failed and its timing is dropped. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

object Util {
  def check(cond: Boolean, what: => String): Unit = if (!cond) throw new CheckFailed(what)

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private val threads = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]

  /** Heap bytes allocated so far by every thread of this JVM, ended threads
    * included. Spark's local-mode tasks run in this JVM, so this covers the
    * program's per-row work as well as its driver-side planning. */
  def allocatedBytes(): Long = threads.getTotalThreadAllocatedBytes

  /** `body`'s result, its wall seconds and the heap bytes allocated meanwhile. */
  def measure[T](body: => T): (T, Double, Long) = {
    val a0 = allocatedBytes()
    val (r, s) = seconds(body)
    (r, s, allocatedBytes() - a0)
  }

  /** On-disk bytes under `dir` (0 if absent). */
  def du(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  def rmrf(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach((f: Path) => Files.delete(f))
      finally s.close()
    }
  }

  def copyDir(from: String, to: String): Unit = {
    val (src, dst) = (Paths.get(from), Paths.get(to))
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { f =>
      val target = dst.resolve(src.relativize(f))
      if (Files.isDirectory(f)) Files.createDirectories(target) else Files.copy(f, target)
    } finally s.close()
  }

  /** Parquet data files directly under `dir`. */
  def parquetFiles(dir: String): Set[String] = {
    val d = new java.io.File(dir)
    Option(d.listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).map(_.getPath).toSet
  }

  /** Bytes read through Hadoop's local filesystem so far (all threads):
    * parquet scans go through it, shuffle and cached blocks do not. */
  def localFsBytesRead(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesRead).sum

  def sha256Hex(s: String): String = graft.ops.TextOps.sha256Hex(s)
}

/** GC time over the timed reps. */
final class JvmWatch {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private var gcMs0, gcMs, wallNs0, wallNs = 0L

  private def gcTotalMs: Long = gcs.map(g => math.max(0L, g.getCollectionTime)).sum

  /** Open (or reopen) the timed section. */
  def resume(): Unit = { gcMs0 = gcTotalMs; wallNs0 = System.nanoTime() }

  def pause(): Unit = {
    gcMs += gcTotalMs - gcMs0
    wallNs += System.nanoTime() - wallNs0
  }

  def gcFrac: Double = if (wallNs == 0) 0.0 else gcMs * 1e6 / wallNs
}
