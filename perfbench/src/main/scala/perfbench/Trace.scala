package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.{PerfbenchBus, SparkContext}

import scala.collection.mutable

/** A span: one layer call made from the benchmark (or one whole operation,
  * the parent of its layer calls). Spans of one operation share `op`.
  */
final case class Span(id: Int, op: Int, name: String, parent: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark counters of the jobs one span ran. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var inputBytes = 0L
  var bytesWritten = 0L
  var spillBytes = 0L
  val taskMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer()
  /** Per job: submit and end time, and the task run intervals. */
  val jobSpans: mutable.HashMap[Int, (Long, Long, mutable.ArrayBuffer[(Long, Long)])] =
    mutable.HashMap()

  /** Max ÷ median task time (median floored at 1 ms). */
  def taskSkew: Double =
    if (taskMs.isEmpty) 0.0
    else {
      val s = taskMs.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2))
    }

  /** Time inside the span's jobs during which none of the job's tasks ran:
    * stage submission, scheduling and result handling.
    */
  def schedWaitMs: Double = jobSpans.valuesIterator.map { case (t0, t1, ts) =>
    var covered = 0L
    var reach = t0
    ts.sortBy(_._1).foreach { case (a, b) =>
      val lo = math.max(a, reach)
      val hi = math.min(b, t1)
      if (hi > lo) { covered += hi - lo; reach = hi }
    }
    math.max(0L, t1 - t0 - covered).toDouble
  }.sum
}

/** Attributes every job, stage and task to the span that was open on the
  * driver thread when the job was submitted, via a local property that
  * Spark copies into job and stage properties.
  */
final class LayerListener extends SparkListener {
  private val bySpan = mutable.HashMap[Int, Counters]()
  private val stageSpan = mutable.HashMap[Int, Int]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val jobSpan = mutable.HashMap[Int, Int]()

  private def spanOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty(Trace.Key))).map(_.toInt)

  def counters(span: Int): Counters = synchronized(bySpan.getOrElseUpdate(span, new Counters))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    spanOf(e.properties).foreach { s =>
      val c = counters(s)
      c.jobs += 1
      c.jobSpans(e.jobId) = (e.time, e.time, mutable.ArrayBuffer())
      jobSpan(e.jobId) = s
      e.stageIds.foreach { st => stageSpan(st) = s; stageJob(st) = e.jobId }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.get(e.jobId).foreach { s =>
      val c = counters(s)
      c.jobSpans.get(e.jobId).foreach { case (t0, _, ts) => c.jobSpans(e.jobId) = (t0, e.time, ts) }
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    spanOf(e.properties).orElse(stageSpan.get(e.stageInfo.stageId))
      .foreach(s => counters(s).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { s =>
      val c = counters(s)
      c.tasks += 1
      val info = e.taskInfo
      c.taskMs += info.duration
      stageJob.get(e.stageId).flatMap(c.jobSpans.get).foreach(_._3 += ((info.launchTime, info.finishTime)))
      val m = e.taskMetrics
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        c.inputBytes += m.inputMetrics.bytesRead
        c.bytesWritten += m.outputMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
      }
    }
  }
}

object Trace {
  val Key = "perfbench.span"
}

/** Spans and counters for one run. With `enabled` false it only times:
  * no listener is registered and no property is set, which is how the
  * end-to-end metrics are measured.
  */
final class Trace(sc: SparkContext, val enabled: Boolean) {
  private val listener = new LayerListener
  private var registered = false
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer()
  val calls: mutable.ArrayBuffer[Call] = mutable.ArrayBuffer()
  private var nextId = 0
  private var open: List[Int] = Nil
  var op = 0

  /** Registers or removes the listener (between operations only). */
  def setActive(on: Boolean): Unit = if (enabled && on != registered) {
    if (registered) PerfbenchBus.drain(sc)
    if (on) sc.addSparkListener(listener) else sc.removeSparkListener(listener)
    registered = on
  }

  def active: Boolean = registered

  /** Runs `body` as a span named `name`; returns its result and the span. */
  def span[T](name: String)(body: => T): (T, Span) = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    if (registered) sc.setLocalProperty(Trace.Key, id.toString)
    open = id :: open
    val t0 = System.nanoTime()
    val out =
      try body
      finally {
        open = open.tail
        if (registered) sc.setLocalProperty(Trace.Key, open.headOption.map(_.toString).orNull)
      }
    val s = Span(id, op, name, parent, t0, System.nanoTime())
    if (registered) spans += s
    (out, s)
  }

  /** Counters of a finished span (after the listener bus drained). */
  def counters(s: Span): Counters = {
    PerfbenchBus.drain(sc)
    listener.counters(s.id)
  }

  /** A span's duration minus the part of it its child spans cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).sortBy(_.startNs)
    var covered = 0L
    var reach = s.startNs
    kids.foreach { k =>
      val lo = math.max(k.startNs, reach)
      val hi = math.min(k.endNs, s.endNs)
      if (hi > lo) { covered += hi - lo; reach = hi }
    }
    (s.endNs - s.startNs - covered) / 1e9
  }
}
