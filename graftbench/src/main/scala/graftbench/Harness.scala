package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** What one run of a workload needs: the session, the tracer, the seed,
  * the measuring budget and a scratch directory inside the checkout.
  */
final class Ctx(
    val spark: SparkSession,
    val tracer: Tracer,
    val counters: SparkCounters,
    val seed: Long,
    val seconds: Double,
    val traced: Boolean,
    val work: Path) {

  def dir(name: String): String = {
    val d = work.resolve(name)
    Files.createDirectories(d)
    d.toString
  }
}

/** Per-operation Spark figures for the traced run. */
final case class OpSpark(wall: Double, jobs: Long, sql: Long, tasks: Long,
    shuffle: Long, busy: Double)

/** The closed loop's bookkeeping: one latency sample per operation kind,
  * attempted and failed counts, and, when tracing, the interval of each
  * traced operation for attributing Spark events. An operation that
  * throws or whose answer disagrees with the model counts as failed.
  */
final class Ops(ctx: Ctx, traced: Boolean) {
  def this(ctx: Ctx) = this(ctx, ctx.traced)

  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Wall-clock interval (epoch ms) and latency of each traced operation. */
  private val tracedOps = mutable.ArrayBuffer.empty[(Long, Long, Double)]
  /** Per kind, the latencies of traced and of untraced operations. */
  private val byTrace = mutable.Map.empty[(String, Boolean), mutable.ArrayBuffer[Double]]
  var attempted = 0L
  var failed = 0L
  private var nextId = 0L
  private val perKind = mutable.Map.empty[String, Long]

  /** Run one operation. In the traced run every second operation of each
    * kind is traced, so traced and untraced latencies of the same loop
    * give the tracing overhead.
    */
  def run[T](kind: String)(body: => T): Option[T] = {
    val id = nextId
    nextId += 1
    attempted += 1
    val nth = perKind.getOrElse(kind, 0L)
    perKind(kind) = nth + 1
    val traceThis = traced && nth % 2 == 1
    val tr = ctx.tracer
    val wasOn = tr.enabled
    tr.setEnabled(traceThis)
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out =
      try Some(tr.op(id)(tr.span(s"op.$kind")(body)))
      catch {
        case NonFatal(e) =>
          failed += 1
          System.err.println(s"[graftbench] $kind operation $id failed: $e")
          e.printStackTrace(System.err)
          None
      }
    val t1 = System.nanoTime()
    tr.setEnabled(wasOn)
    val wall = (t1 - t0) / 1e9
    if (out.isDefined) samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += wall
    if (traced) {
      byTrace.getOrElseUpdate((kind, traceThis), mutable.ArrayBuffer.empty) += wall
      if (traceThis) tracedOps += ((ms0, System.currentTimeMillis(), wall))
    }
    out
  }

  /** One check against the model made outside every timed operation,
    * counted as an operation of its own: `mismatch` returns what disagreed,
    * if anything, and an exception counts as a failure too.
    */
  def verify(what: String)(mismatch: => Option[String]): Unit = {
    attempted += 1
    val problem =
      try mismatch
      catch { case NonFatal(e) => Some(s"$what threw $e") }
    problem.foreach { m =>
      failed += 1
      System.err.println(s"[graftbench] MISMATCH: $m")
    }
  }

  /** Record a disagreement with the model against the latest operation. */
  def check(ok: Boolean, what: => String): Boolean = {
    if (!ok) {
      failed += 1
      System.err.println(s"[graftbench] MISMATCH: $what")
    }
    ok
  }

  /** Run `body` as untimed warm-up: its operations are checked and count
    * as attempted (and failed), but leave no latency samples or spans.
    */
  def warmUp(body: Ops => Unit): Unit = {
    val warm = new Ops(ctx, traced = false)
    ctx.tracer.setEnabled(false)
    try body(warm) finally ctx.tracer.setEnabled(ctx.traced)
    attempted += warm.attempted
    failed += warm.failed
  }

  def of(kind: String): Seq[Double] = samples.get(kind).map(_.toSeq).getOrElse(Nil)

  /** Median of the given kinds' samples, pooled. */
  def p50(kinds: String*): Double = {
    val xs = kinds.flatMap(of)
    if (xs.isEmpty) 0.0 else Stats.median(xs)
  }

  /** Detail lines for the given kinds, pooled: `<name>_p50_s`, the sample
    * count, and `<name>_tail_s` at the highest percentile above the median
    * with at least 10 samples beyond it, when there is one.
    */
  def latencyDetail(name: String, kinds: String*): Seq[Metric] = {
    val xs = kinds.flatMap(of)
    if (xs.isEmpty) Nil
    else {
      System.err.println(s"[graftbench] $name samples: " + xs.map(x => f"$x%.3f").mkString(" "))
      val tail = Stats.tailPercentile(xs.size).filter(_ > 50.0).toSeq.flatMap(p =>
        Seq(Metric(s"${name}_tail_s", Stats.percentile(xs, p), "s"),
          Metric(s"${name}_tail_percentile", p, "%")))
      Seq(Metric(s"${name}_p50_s", Stats.median(xs), "s")) ++ tail :+
        Metric(s"${name}_samples", xs.size.toDouble, "count")
    }
  }

  /** Spark layer metrics over the traced operations. */
  def sparkMetrics(gcSeconds: Double): Seq[Metric] = {
    val spark = tracedOps.map { case (from, to, wall) => ctx.counters.within(from, to, wall) }
    def per(f: OpSpark => Double) = if (spark.isEmpty) 0.0 else Stats.mean(spark.map(f).toSeq)
    def med(f: OpSpark => Double) = if (spark.isEmpty) 0.0 else Stats.median(spark.map(f).toSeq)
    Seq(
      Metric("spark.jobs", per(_.jobs.toDouble), "count/op"),
      Metric("spark.sql_executions", per(_.sql.toDouble), "count/op"),
      Metric("spark.tasks", per(_.tasks.toDouble), "count/op"),
      Metric("spark.shuffle_bytes", per(_.shuffle.toDouble), "B/op"),
      Metric("spark.job_busy_s", med(_.busy), "s"),
      Metric("spark.driver_gap_s", med(o => math.max(0.0, o.wall - o.busy)), "s"),
      Metric("spark.gc_s", gcSeconds, "s"))
  }

  /** Sum over kinds of the traced median, over the same sum untraced,
    * minus one.
    */
  def overheadRatio: Double = {
    val kinds = byTrace.keySet.collect { case (k, true) if byTrace.contains((k, false)) => k }
    def total(on: Boolean) = kinds.toSeq.map(k => Stats.median(byTrace((k, on)).toSeq)).sum
    if (kinds.isEmpty) 0.0 else total(true) / total(false) - 1.0
  }
}

/** Everything a workload reports: the bounded end-to-end metrics, the
  * finer per-kind latencies printed beside them, and the traced run's
  * per-layer metrics.
  */
final case class Outcome(attempted: Long, failed: Long, endToEnd: Seq[Metric],
    detail: Seq[Metric], layers: Seq[Metric])

/** Files of a table directory, for the write-side counters: data files
  * (parquet outside `_`/`.` directories) and sidecar bytes.
  */
object Listing {
  final case class Snap(data: Map[String, Long], sidecarBytes: Long) {
    def dataBytes: Long = data.values.sum
  }

  private def hidden(rel: Path): Boolean =
    rel.iterator().asScala.exists { p =>
      val s = p.toString
      s.startsWith("_") || s.startsWith(".")
    }

  def snap(root: String, extra: Seq[String] = Nil): Snap = {
    val base = java.nio.file.Paths.get(root)
    val data = mutable.Map.empty[String, Long]
    var side = 0L
    if (Files.exists(base)) {
      val it = Files.walk(base)
      try it.iterator().asScala.filter(Files.isRegularFile(_)).foreach { f =>
        val rel = base.relativize(f)
        val size = Files.size(f)
        if (!hidden(rel) && rel.toString.endsWith(".parquet")) data(rel.toString) = size
        else side += size
      } finally it.close()
    }
    side += extra.map(e => bytesUnder(java.nio.file.Paths.get(e))).sum
    Snap(data.toMap, side)
  }

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val it = Files.walk(p)
      try it.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size(_)).sum
      finally it.close()
    }

  def partitionOf(rel: String): String = {
    val i = rel.lastIndexOf('/')
    if (i < 0) "" else rel.substring(0, i)
  }
}

/** Write-side counters for one commit, from listings before and after. */
final class WriteCounters {
  val added = mutable.ArrayBuffer.empty[Double]
  val removed = mutable.ArrayBuffer.empty[Double]
  val partitions = mutable.ArrayBuffer.empty[Double]
  var bytesWritten = 0L
  var bytesIn = 0L

  def record(before: Listing.Snap, after: Listing.Snap, inputBytes: Long): Unit = {
    val add = after.data.keySet -- before.data.keySet
    val rem = before.data.keySet -- after.data.keySet
    added += add.size
    removed += rem.size
    partitions += (add ++ rem).map(Listing.partitionOf).size
    bytesWritten += add.toSeq.map(after.data).sum
    bytesIn += inputBytes
  }

  def metrics: Seq[Metric] = Seq(
    Metric("table.files_added", Stats.mean(added.toSeq), "count/commit"),
    Metric("table.files_removed", Stats.mean(removed.toSeq), "count/commit"),
    Metric("table.partitions_touched", Stats.mean(partitions.toSeq), "count/commit"),
    Metric("table.write_amp", if (bytesIn == 0) 0.0 else bytesWritten.toDouble / bytesIn, "ratio"))
}

object Io {
  /** Publish `bytes` as `dir/name` atomically (write aside, then rename),
    * so a file-source stream never lists a half-written file.
    */
  def publish(dir: String, name: String, bytes: Array[Byte]): Long = {
    val d = java.nio.file.Paths.get(dir)
    Files.createDirectories(d)
    val tmp = d.getParent.resolve(s".$name.tmp")
    Files.write(tmp, bytes)
    Files.move(tmp, d.resolve(name), java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    bytes.length.toLong
  }
}
