package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** A timed interval around one call into a layer. `op` groups the spans
  * of one closed-loop operation; `parent` is the enclosing span's id.
  */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
    parent: Int, op: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans for the traced run. Disabled, every call is a plain
  * pass-through, so the untraced run pays nothing beyond a branch. Spans
  * stay in memory and are written once, when the run ends.
  */
final class Tracer(initially: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  @volatile private var on = initially
  @volatile private var currentOp = -1L

  def enabled: Boolean = on

  /** Switch recording for the calls that follow. */
  def setEnabled(b: Boolean): Unit = on = b

  def op[T](id: Long)(body: => T): T = {
    val prev = currentOp
    currentOp = id
    try body finally currentOp = prev
  }

  /** Time `body` as a span. Spans may open on the streaming thread while
    * the client thread waits, so the bookkeeping is synchronized.
    */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = synchronized {
        val id = spans.size
        spans += Span(id, name, System.nanoTime(), 0L, stack.headOption.getOrElse(-1), currentOp)
        stack.push(id)
        id
      }
      try body
      finally synchronized {
        stack.pop()
        spans(id) = spans(id).copy(endNs = System.nanoTime())
      }
    }

  /** Record an interval measured elsewhere (e.g. between two hooks). */
  def interval(name: String, startNs: Long, endNs: Long): Unit =
    if (on) synchronized {
      spans += Span(spans.size, name, startNs, endNs, stack.headOption.getOrElse(-1), currentOp)
    }

  /** Median seconds per call of span `name`, 0 when never called. */
  def medianOf(name: String): Double = {
    val d = synchronized(spans.filter(s => s.name == name && s.endNs > 0).map(_.seconds).toSeq)
    if (d.isEmpty) 0.0 else Stats.median(d)
  }

  def write(path: java.nio.file.Path): Unit = synchronized {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb.append(s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"parent":${s.parent},"op":${s.op}}""").append('\n')
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

/** Spark-side events from a listener the benchmark registers, each with
  * the event's own wall-clock time in epoch milliseconds: job intervals,
  * SQL execution starts, task ends with their shuffle bytes. Listener
  * delivery is asynchronous, so events are attributed to operations by
  * time after the loop ends, never by counting at operation boundaries.
  */
final class SparkCounters extends SparkListener {
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobs = mutable.ArrayBuffer.empty[(Long, Long)]
  private val sqlStarts = mutable.ArrayBuffer.empty[Long]
  private val taskEnds = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobs += ((s, e.time)))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val shuffle = Option(e.taskMetrics).map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L)
    taskEnds += ((e.taskInfo.finishTime, shuffle))
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { sqlStarts += s.time }
    case _ =>
  }

  /** Spark figures of the interval [from, to] (epoch ms). */
  def within(from: Long, to: Long, wallSeconds: Double): OpSpark = synchronized {
    def in(t: Long) = t >= from && t <= to
    val inTasks = taskEnds.filter(t => in(t._1))
    OpSpark(wallSeconds, jobs.count(j => in(j._1)).toLong, sqlStarts.count(in).toLong,
      inTasks.size.toLong, inTasks.map(_._2).sum, busySeconds(from, to))
  }

  /** Seconds within [from, to] covered by at least one running job. */
  private def busySeconds(from: Long, to: Long): Double = {
    val clipped = jobs.iterator
      .map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var total = 0L
    var curS = -1L
    var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total / 1e3
  }
}

object SparkCounters {
  def install(spark: SparkSession): SparkCounters = {
    val c = new SparkCounters
    spark.sparkContext.addSparkListener(c)
    c
  }
}

/** JVM-side figures: GC time and the heap left after a full collection. */
object Jvm {
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  def heapRetainedMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (0 until 2).foreach { _ => System.gc(); Thread.sleep(50) }
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}
