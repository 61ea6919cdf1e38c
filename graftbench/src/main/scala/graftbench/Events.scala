package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.table.{KeyedTable, KeyedTableSpec, MaterializedView}

/** mixed: an events table keyed on `event_id`, partitioned by
  * `event_type`, clustered on `ts`, carrying a record-level index, a
  * secondary index on `user_id`, column stats on `ts`/`value` and a keyed
  * MV of count and sum(value) per event type. Queries go through
  * `table.read(..).filter(..)` so the planner's serve rules decide how
  * each one is answered.
  */
object Events {
  val SetupReps = 3
  val MixedBatch = 500
  val WarmIterations = 1

  val Schema: StructType = StructType.fromDDL(
    "event_id BIGINT, user_id BIGINT, event_type STRING, ts BIGINT, value BIGINT, payload STRING")

  final class Built(val table: KeyedTable, val mvPath: String, val gen: EventGen,
      val model: EventModel, val root: String) {
    var batches = 0
  }

  /** Load the initial rows and build every sidecar. */
  def build(ctx: Ctx, root: String, name: String): Built = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val gen = new EventGen(ctx.seed)
    val model = new EventModel
    val load = gen.initialLoad()
    model.apply(load)
    Io.publish(s"$root/load", "events.json", Json.lines(load.map(_.json)))
    val t = KeyedTable(KeyedTableSpec(
      path = s"$root/events",
      keyCols = Seq("event_id"),
      precombineCol = "ts",
      partitionCols = Seq("event_type")))
    tr.span("setup.upsert")(t.upsert(spark, spark.read.schema(Schema).json(s"$root/load")))
    tr.span("setup.cluster")(t.cluster(spark, Seq("ts"), targetFileBytes = 48L << 10))
    tr.span("setup.index_build")(t.recordIndexes(spark, Seq("user_id")))
    tr.span("setup.stats_build")(t.recordColumnStats(spark, Seq("ts", "value")))
    val mvPath = s"$root/events_by_type"
    tr.span("setup.mv_build")(MaterializedView.createKeyed(spark, name, t, mvPath,
      groupCols = Seq("event_type"),
      sums = Seq("sum_value" -> col("value")),
      countCol = Some("n_rows")))
    new Built(t, mvPath, gen, model, root)
  }

  /** Build `SetupReps` times in fresh directories; keep the last. */
  def setUp(ctx: Ctx, tag: String): (Built, Double) = {
    val times = mutable.ArrayBuffer.empty[Double]
    var b: Built = null
    (0 until SetupReps).foreach { r =>
      if (b != null) MaterializedView.drop(b.table.spec.path)
      val t0 = System.nanoTime()
      b = build(ctx, ctx.dir(s"${tag}_$r"), s"${tag}_by_type_$r")
      times += (System.nanoTime() - t0) / 1e9
    }
    System.err.println(s"[graftbench] set-up runs ${times.mkString(", ")}")
    (b, Stats.median(times.toSeq))
  }

  def frame(b: Built, q: EventQuery)(implicit ctx: Ctx): DataFrame = {
    val base = b.table.read(ctx.spark)
    def typed(t: Option[String]) = t.fold(base)(x => base.filter(col("event_type") === x))
    val rowCols = Seq("event_id", "user_id", "event_type", "ts", "value", "payload").map(col)
    q match {
      case KeyLookup(id) => base.filter(col("event_id") === id).select(rowCols: _*)
      case UserLookup(u) => base.filter(col("user_id") === u).select(rowCols: _*)
      case TsRange(lo, hi) => base.filter(col("ts").between(lo, hi)).select(rowCols: _*)
      case TopK(t, k) => typed(t).orderBy(col("ts").desc).limit(k).select(rowCols: _*)
      case TsStats(t) => typed(t).agg(min("ts"), max("ts"), count(lit(1)))
      case TypeRollup =>
        base.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_rows"), sum(col("value")).as("sum_value"))
    }
  }

  def canon(r: Row): String =
    (0 until r.length).map(i => Option(r.get(i)).map(_.toString).getOrElse("null")).mkString("|")

  object Scans extends AdaptiveSparkPlanHelper {
    def files(plan: SparkPlan): Long =
      collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
        .map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
  }

  /** Per-query plan figures for the traced run. */
  final class PlanCounters {
    val scanned = mutable.ArrayBuffer.empty[Double]
    val totals = mutable.ArrayBuffer.empty[Double]
    var served = 0

    def metrics(tr: Tracer): Seq[Metric] = Seq(
      Metric("plans.plan_s", tr.medianOf("plans.plan"), "s"),
      Metric("plans.exec_s", tr.medianOf("plans.exec"), "s"),
      Metric("plans.files_scanned", Stats.mean(scanned.toSeq), "count/query"),
      Metric("plans.files_total", Stats.mean(totals.toSeq), "count"),
      Metric("plans.served_ratio",
        if (scanned.isEmpty) 0.0 else served.toDouble / scanned.size, "ratio"))
  }

  /** Run one query as an operation and check it against the model. */
  def query(b: Built, q: EventQuery, ops: Ops, plans: PlanCounters, dataFiles: => Int)(
      implicit ctx: Ctx): Unit = {
    val tr = ctx.tracer
    val want = b.model.answer(q)
    ops.run(q.kind) {
      val df = frame(b, q)
      val rows =
        if (!tr.enabled) df.collect()
        else {
          tr.span("plans.plan")(df.queryExecution.executedPlan)
          val out = tr.span("plans.exec")(df.collect())
          val files = Scans.files(df.queryExecution.executedPlan)
          val total = dataFiles
          plans.scanned += files
          plans.totals += total
          if (files < total) plans.served += 1
          out
        }
      val got = rows.map(canon).toSeq
      val ordered = q match { case _: TopK => got; case _ => got.sorted }
      ops.check(ordered == want, s"$q returned ${ordered.take(3)} (${ordered.size} rows), " +
        s"model ${want.take(3)} (${want.size} rows)")
    }
  }

  def stored(b: Built): Listing.Snap = Listing.snap(b.table.spec.path, Seq(b.mvPath))

  def detail(ops: Ops, kinds: Seq[String]): Seq[Metric] =
    kinds.flatMap(k => ops.latencyDetail(k, k))

  /** mixed: batches of new events and updates upsert into the table, each
    * followed by index/stats upkeep and an MV refresh, then by a fixed set
    * of lookups and scans checked against the model. One commit with its
    * queries is the workload's operation.
    */
  def mixed(implicit ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val (b, setup) = setUp(ctx, "mixed")
    val ops = new Ops(ctx)
    val plans = new PlanCounters
    val writes = new WriteCounters
    // One commit and its query set, as operations of `o`.
    def iteration(o: Ops): Unit = {
      val batch = b.gen.batch(MixedBatch)
      b.model.apply(batch)
      val name = f"batch_${b.batches}%04d.json"
      val bytes = Io.publish(s"${b.root}/batches", name, Json.lines(batch.map(_.json)))
      b.batches += 1
      val before = if (tr.enabled) stored(b) else null
      o.run("batch") {
        val df = spark.read.schema(Schema).json(s"${b.root}/batches/$name")
        tr.span("table.upsert")(b.table.upsert(spark, df))
        if (!tr.enabled) b.table.maintainDerivedState(spark)
        else {
          // The traced run times maintainDerivedState's two halves apart.
          tr.span("table.stats_refresh")(b.table.refreshColumnStats(spark))
          tr.span("table.index_refresh")(b.table.refreshIndexes(spark))
        }
        tr.span("table.mv_refresh")(MaterializedView.refresh(spark, b.mvPath))
      }
      val after = if (before != null) stored(b) else null
      if (before != null) writes.record(before, after, bytes)
      val files = if (after != null) after.data.size else 0
      b.gen.fixedSet().foreach(q => query(b, q, o, plans, files))
    }
    // The first commits and queries run cold; they warm up untimed.
    ops.warmUp(o => (0 until WarmIterations).foreach(_ => iteration(o)))
    val gc0 = Jvm.gcSeconds
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    val iterations = mutable.ArrayBuffer.empty[Double]
    while (System.nanoTime() < deadline) {
      val t0 = System.nanoTime()
      iteration(ops)
      iterations += (System.nanoTime() - t0) / 1e9
    }
    val gc = Jvm.gcSeconds - gc0
    val snap = stored(b)
    val kinds = Seq("batch", "lookup", "scan")
    val e2e = Seq(
      Metric("setup_s", setup, "s"),
      Metric("op_p50_s", Stats.median(iterations.toSeq), "s"),
      Metric("rows_per_s", MixedBatch / Stats.median(iterations.toSeq), "rows/s"),
      Metric("stored_bytes_per_row", (snap.dataBytes + snap.sidecarBytes).toDouble / b.model.rows.size, "B/row"))
    val layers = if (!ctx.traced) Nil else
      Seq(Metric("table.upsert_s", tr.medianOf("table.upsert"), "s"),
        Metric("table.stats_refresh_s", tr.medianOf("table.stats_refresh"), "s"),
        Metric("table.index_refresh_s", tr.medianOf("table.index_refresh"), "s"),
        Metric("table.mv_refresh_s", tr.medianOf("table.mv_refresh"), "s"),
        Metric("table.sidecar_bytes", snap.sidecarBytes.toDouble, "B")) ++
        writes.metrics ++ plans.metrics(tr) ++ ops.sparkMetrics(gc) :+
        Metric("trace.overhead_ratio", ops.overheadRatio, "ratio")
    Outcome(ops.attempted, ops.failed, e2e, detail(ops, kinds), layers)
  }
}
