package graft.kebench

import scala.collection.mutable
import org.apache.spark.scheduler._

/** One timed interval: wall-clock milliseconds (epoch based, so Spark
  * job events can be placed inside it), a parent and a layer. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    start: Double, var end: Double = Double.NaN) {
  def secs: Double = (end - start) / 1e3
}

/** In-memory span recorder. Disabled, it still times (untraced work
  * needs the same wall clock) but keeps nothing and tags no job.
  * `busyNanos` is the time spent keeping and tagging while enabled. */
final class Tracer(val runId: String) {
  var enabled = false
  var busyNanos = 0L
  private val t0Nanos = System.nanoTime()
  private val t0Millis = System.currentTimeMillis().toDouble
  private var nextId = 0
  private val open = mutable.Stack[Int]()
  val spans = mutable.ArrayBuffer[Span]()

  def now(): Double = t0Millis + (System.nanoTime() - t0Nanos) / 1e6

  /** Times `body` as a span under the innermost open span; returns its
    * result and the span. Spark jobs submitted inside carry the span id
    * (local property [[Tracer.SpanKey]]) when tracing is on. */
  def span[T](name: String, layer: String, spark: org.apache.spark.SparkContext)
      (body: => T): (T, Span) = {
    nextId += 1
    val s = Span(nextId, open.headOption.getOrElse(0), name, layer, now())
    open.push(s.id)
    if (enabled) busy(spark.setLocalProperty(Tracer.SpanKey, s.id.toString))
    try {
      val r = body
      (r, s)
    } finally {
      s.end = now()
      open.pop()
      if (enabled) busy {
        spans += s
        spark.setLocalProperty(Tracer.SpanKey,
          open.headOption.map(_.toString).orNull)
      }
    }
  }

  private def busy(body: => Unit): Unit = {
    val t = System.nanoTime()
    body
    busyNanos += System.nanoTime() - t
  }
}

object Tracer {
  val SpanKey = "kebench.span"

  /** Total length of the union of `intervals`, clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double)
      : Double = {
    var total = 0.0
    var curEnd = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > curEnd) { total += b - math.max(a, curEnd); curEnd = b }
      }
    total
  }
}

/** Scheduler and executor counts per span, from a listener the
  * benchmark registers on the context. Jobs and stages are tied to the
  * span that was open on the submitting thread, and so is the time the
  * listener spent in its callbacks for them (`busyNs`). */
final class SpanListener extends SparkListener {
  final class Counts {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, gcMs, schedMs, fetchWaitMs = 0L
    var shuffleRead, shuffleWrite, spill = 0L
    var busyNs = 0L
    val jobIntervals = mutable.ArrayBuffer[(Double, Double)]()
  }
  val bySpan = mutable.HashMap[Int, Counts]()
  private val stageSpan = mutable.HashMap[Int, Int]()
  private val jobSpan = mutable.HashMap[Int, (Int, Double)]()

  private def spanOf(p: java.util.Properties): Option[Int] =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.SpanKey))).map(_.toInt)

  /** Runs a callback's bookkeeping for span `s`, when there is one, and
    * adds the time it took to the span. */
  private def record(s: Option[Int])(body: (Int, Counts) => Unit): Unit =
    synchronized {
      s.foreach { id =>
        val t = System.nanoTime()
        val c = bySpan.getOrElseUpdate(id, new Counts)
        body(id, c)
        c.busyNs += System.nanoTime() - t
      }
    }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    record(spanOf(e.properties)) { (s, c) =>
      c.jobs += 1
      jobSpan(e.jobId) = (s, e.time.toDouble)
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (s, start) =>
      record(Some(s))((_, c) => c.jobIntervals += ((start, e.time.toDouble)))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    record(spanOf(e.properties)) { (s, c) =>
      c.stages += 1
      stageSpan(e.stageInfo.stageId) = s
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    record(stageSpan.get(e.stageId).filter(_ => e.taskMetrics != null)) {
      (_, c) =>
        val m = e.taskMetrics
        c.tasks += 1
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.schedMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          e.taskInfo.gettingResultTime)
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}
