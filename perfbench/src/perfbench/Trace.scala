package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One recorded call. `parent` is -1 for a root; the spans of one job,
  * batch or replayed document share `trace`. Times are `System.nanoTime`. */
final class Span(val id: Int, val parent: Int, val trace: Int, val name: String, val start: Long) {
  var end: Long = start
  def ns: Long = end - start
  /** `pipeline` for `pipeline.ExtractJob.extractAuto`, `bench` for the harness's own spans. */
  def module: String = name.takeWhile(_ != '.')
}

/** Spark work the listener attributed to one span (its own jobs only;
  * [[Tracer.sparkWork]] rolls children up). */
final class SparkWork {
  var jobs, stages, tasks, taskMs, shuffleWriteBytes, spillBytes, inputBytes, outputBytes = 0L
  /** Task run times per stage, for the skew of the heaviest stage. */
  val stageTaskMs: mutable.Map[Int, ArrayBuffer[Long]] = mutable.Map.empty

  def add(o: SparkWork): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskMs += o.taskMs
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    inputBytes += o.inputBytes; outputBytes += o.outputBytes
    o.stageTaskMs.foreach { case (k, v) => stageTaskMs.getOrElseUpdate(k, ArrayBuffer.empty) ++= v }
  }

  /** Max ÷ median task time of the stage with the most task time (1 = even). */
  def taskSkew: Double =
    if (stageTaskMs.isEmpty) 0.0
    else {
      val heaviest = stageTaskMs.values.maxBy(_.sum).sorted
      val med = math.max(1L, heaviest(heaviest.length / 2))
      heaviest.last.toDouble / med
    }
}

/** Counts Spark work per call. The tracer tags each traced call's jobs with
  * the local property [[CallListener.Key]] = span id; stages and tasks are
  * attributed to the span of the job that submitted them. */
final class CallListener extends SparkListener {
  private val stageOwner = mutable.Map.empty[Int, Int]
  private val work = mutable.Map.empty[Int, SparkWork]

  private def of(span: Int): SparkWork = work.getOrElseUpdate(span, new SparkWork)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(CallListener.Key))).foreach { s =>
      val span = s.toInt
      of(span).jobs += 1
      e.stageInfos.foreach(si => stageOwner(si.stageId) = span)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageOwner.get(e.stageInfo.stageId).foreach(of(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (span <- stageOwner.get(e.stageId); m <- Option(e.taskMetrics)) {
      val w = of(span)
      w.tasks += 1
      w.taskMs += m.executorRunTime
      w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      w.spillBytes += m.diskBytesSpilled
      w.inputBytes += m.inputMetrics.bytesRead
      w.outputBytes += m.outputMetrics.bytesWritten
      w.stageTaskMs.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += m.executorRunTime
    }
  }

  def workOf(span: Int): Option[SparkWork] = synchronized(work.get(span))
}

object CallListener {
  val Key = "perfbench.span"
}

/**
 * Spans recorded around calls into the program's public functions, kept in
 * memory and written once at the end. `call` also tags the Spark jobs the
 * call submits so the listener can attribute them; `span` only times (for
 * per-row functions, where a local-property write per call would distort
 * microsecond timings). Spans are opened on the driver thread only.
 */
final class Tracer(sc: SparkContext) {
  val spans: ArrayBuffer[Span] = ArrayBuffer.empty
  private var open: List[Span] = Nil
  private var traceId = 0
  private var listener: CallListener = null
  /** Listeners of finished traced sections, kept for [[sparkWork]]. */
  private val listeners = ArrayBuffer.empty[CallListener]

  /** Whether spans are being recorded. */
  def on: Boolean = listener != null

  /** Record spans and count Spark work until [[stop]]. */
  def start(): Unit = if (!on) {
    listener = new CallListener
    sc.addSparkListener(listener)
  }

  def stop(): Unit = if (on) {
    org.apache.spark.ListenerBusFence.drain(sc)
    sc.removeSparkListener(listener)
    listeners += listener
    listener = null
  }

  /** Start a new job, batch or replayed document: later roots share a new trace id. */
  def newTrace(): Unit = traceId += 1

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = begin(name)
      try body finally finish(s)
    }

  def call[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = begin(name)
      val prev = sc.getLocalProperty(CallListener.Key)
      sc.setLocalProperty(CallListener.Key, s.id.toString)
      try body
      finally {
        sc.setLocalProperty(CallListener.Key, prev)
        finish(s)
      }
    }

  private def begin(name: String): Span = {
    val s = new Span(spans.length, open.headOption.fold(-1)(_.id), traceId, name, System.nanoTime())
    spans += s
    open = s :: open
    s
  }

  private def finish(s: Span): Unit = {
    s.end = System.nanoTime()
    open = open.tail
  }

  private var childIndex: (Int, Map[Int, Seq[Span]]) = (-1, Map.empty)

  private def children: Map[Int, Seq[Span]] = {
    if (childIndex._1 != spans.length)
      childIndex = (spans.length, spans.toSeq.filter(_.parent >= 0).groupBy(_.parent))
    childIndex._2
  }

  /** Duration minus the time its children cover (children run sequentially on one thread). */
  def selfNs(s: Span): Long = s.ns - children.getOrElse(s.id, Nil).map(_.ns).sum

  def named(name: String): Seq[Span] = spans.toSeq.filter(_.name == name)

  /** Spark work of `s` and all its descendants. Call after [[stop]]. */
  def sparkWork(s: Span): SparkWork = {
    val w = new SparkWork
    def visit(x: Span): Unit = {
      listeners.foreach(_.workOf(x.id).foreach(w.add))
      children.getOrElse(x.id, Nil).foreach(visit)
    }
    visit(s)
    w
  }
}
