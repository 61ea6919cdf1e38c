package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkException
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.schema.SchemaEvolution
import graft.sources.JsonStreamSource
import graft.streaming.MicroBatchPipeline
import graft.table.{KeyedTable, KeyedTableSpec}

/** ingest_small: the reference job. Small JSON micro-batches flow through
  * `MicroBatchPipeline.start` into a table keyed on `name`, precombined on
  * `date`, hive-partitioned by name/year/month/day; every batch upserts and
  * then syncs the catalog. Closed loop: the next batch file is published
  * only after the previous batch committed.
  */
object Ingest {
  val SetupReps = 3
  /** Untimed batches before the measured loop. `score` first arrives in
    * one of them, so the plans that change with the widened schema are
    * compiled before timing starts.
    */
  val WarmBatches = 4
  val MaxBatches = 5000

  /** One pipeline instance: its generator, model, table and live query. */
  final class Pipe(val gen: IngestGen, val model: IngestModel, val table: KeyedTable,
      val input: String, val catalogName: String, val query: StreamingQuery) {
    var batches = 0
    /** Catalog reads that hit a replaced file, and commits after which the
      * catalog table lacked `score`: engine gaps counted by verifyCommit.
      */
    var staleCatalogReads = 0
    var catalogLacksScore = 0
    /** The table's columns after its bootstrap commit. */
    var bootColumns = Set.empty[String]

    /** Publish the next batch; returns its rows and bytes. */
    def publish(): (Int, Long) = {
      val b = gen.next()
      model.apply(b)
      val bytes = Io.publish(input, f"batch_$batches%05d.json", Json.lines(b.map(_.json)))
      batches += 1
      (b.size, bytes)
    }
  }

  /** Build a fresh pipeline in `root` and commit its bootstrap batch. */
  def open(ctx: Ctx, root: String, name: String): Pipe = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val gen = new IngestGen(ctx.seed)
    val model = new IngestModel
    // The schema probe reads a sample of the stream's records, the way the
    // reference infers its schema from the data already in the stream.
    val sampleGen = new IngestGen(ctx.seed)
    val sample = (0 to IngestGen.ScoreFrom).flatMap(_ => sampleGen.next())
    Io.publish(s"$root/probe", "sample.json", Json.lines(sample.map(_.json)))
    val schema = tr.span("sources.infer_schema")(
      JsonStreamSource.inferSchema(spark, s"$root/probe"))
    val table = KeyedTable(KeyedTableSpec(
      path = s"$root/table",
      keyCols = Seq("name"),
      precombineCol = "date",
      tiebreakCols = Seq("seq"),
      partitionCols = Seq("name", "year", "month", "day")))
    var prepEnd = 0L
    val prep: DataFrame => DataFrame = b => {
      val out = tr.span("schema.drop_absent")(SchemaEvolution.dropAbsentColumns(b))
      prepEnd = System.nanoTime()
      out
    }
    val write: (KeyedTable, SparkSession, DataFrame) => Unit = (t, sp, b) => {
      val start = System.nanoTime()
      tr.interval("schema.align", prepEnd, start)
      tr.span("table.upsert")(t.upsert(sp, b))
      tr.span("table.catalog_sync")(t.syncCatalog(sp, name))
    }
    val input = s"$root/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(input))
    val query = MicroBatchPipeline.start(
      JsonStreamSource.stream(spark, input, Some(schema), maxFilesPerTrigger = Some(1)),
      table, s"$root/checkpoint", Trigger.ProcessingTime(0L),
      queryName = name, write = write, prep = prep)
    val pipe = new Pipe(gen, model, table, input, name, query)
    // The bootstrap commit is set-up, not a traced layer call.
    val wasOn = tr.enabled
    tr.setEnabled(false)
    try {
      pipe.publish()
      query.processAllAvailable()
    } finally tr.setEnabled(wasOn)
    pipe.bootColumns = columns(ctx, pipe)
    pipe
  }

  def columns(ctx: Ctx, p: Pipe): Set[String] =
    p.table.currentUserSchema(ctx.spark).map(_.fieldNames.toSet).getOrElse(Set.empty)

  val Columns: Seq[String] = Seq("name", "date", "year", "month", "day", "seq", "payload", "score")

  /** Canonical row text over `cols`, shared by the model and the read-backs. */
  def canon(r: IngestRecord, cols: Seq[String]): String = {
    val fields = Seq(r.name, r.date, r.year, r.month, r.day, r.seq, r.payload, r.score.getOrElse("null"))
    cols.map(c => fields(Columns.indexOf(c)).toString).mkString("|")
  }

  def canon(r: Row, cols: Seq[String]): String =
    cols.map(c => Option(r.get(r.fieldIndex(c))).map(_.toString).getOrElse("null")).mkString("|")

  /** The user columns the model expects: `score` once any batch carried it. */
  def expectedColumns(p: Pipe): Seq[String] =
    Columns.filter(c => c != "score" || p.model.latest.values.exists(_.score.isDefined))

  /** Compare `rows` with the model over `cols`. */
  def differ(what: String, rows: Seq[Row], cols: Seq[String], p: Pipe): Option[String] = {
    val got = rows.map(canon(_, cols)).sorted
    val want = p.model.latest.values.map(canon(_, cols)).toSeq.sorted
    if (got == want) None
    else Some(s"$what has ${got.size} rows, model ${want.size}; first difference: " +
      (got.diff(want).take(2) ++ want.diff(got).take(2)).mkString(" / "))
  }

  /** After a commit, check the table as `KeyedTable.read` returns it and the
    * synced catalog table as a SQL reader of the session sees it against
    * the model: two operations of `ops`.
    *
    * Two engine gaps of the catalog table are counted on the pipe, not
    * failed: a read that hits a file an earlier commit replaced (the reader
    * then runs REFRESH TABLE and reads again), and a catalog schema that
    * lacks `score` after the stream widened (the rows are then compared
    * without it). Every other column and value must match.
    */
  def verifyCommit(ctx: Ctx, ops: Ops, p: Pipe): Unit = {
    val spark = ctx.spark
    val expected = expectedColumns(p)
    ops.verify("table read") {
      val df = p.table.read(spark)
      val lacking = expected.filterNot(df.columns.contains)
      if (lacking.nonEmpty) Some(s"ingest table lacks ${lacking.mkString(", ")}")
      else differ("ingest table", df.collect().toSeq, expected, p)
    }
    ops.verify("catalog read") {
      def read() = {
        val df = spark.table(p.catalogName)
        (df.columns.toSeq, df.collect().toSeq)
      }
      val (columns, rows) =
        try read()
        catch {
          case e: SparkException if String.valueOf(e.getMessage).contains("FILE_NOT_EXIST") =>
            p.staleCatalogReads += 1
            spark.catalog.refreshTable(p.catalogName)
            read()
        }
      val lacking = expected.filterNot(columns.contains)
      if (lacking == Seq("score")) p.catalogLacksScore += 1
      if (lacking.exists(_ != "score"))
        Some(s"catalog table ${p.catalogName} lacks ${lacking.mkString(", ")}")
      else differ(s"catalog table ${p.catalogName}", rows, expected.filter(columns.contains), p)
    }
  }

  /** One published file per trigger: every file must have made exactly one
    * non-empty micro-batch.
    */
  def verifyProgress(ops: Ops, p: Pipe): Unit = ops.verify("stream progress") {
    val triggered = p.query.recentProgress.count(_.numInputRows > 0)
    if (triggered == p.batches) None
    else Some(s"stream ran $triggered non-empty micro-batches for ${p.batches} published files")
  }

  def stop(q: StreamingQuery): Unit = { q.stop(); q.awaitTermination(60000) }

  def run(ctx: Ctx): Outcome = {
    val tr = ctx.tracer
    // Set-up: schema probe, query start and bootstrap commit, three times
    // in fresh directories; the last pipeline carries on into the loop.
    val setups = mutable.ArrayBuffer.empty[Double]
    var pipe: Pipe = null
    (0 until SetupReps).foreach { r =>
      if (pipe != null) stop(pipe.query)
      val t0 = System.nanoTime()
      pipe = open(ctx, ctx.dir(s"ingest_$r"), s"ingest_events_$r")
      setups += (System.nanoTime() - t0) / 1e9
    }
    System.err.println(s"[graftbench] set-up runs ${setups.mkString(", ")}")
    val ops = new Ops(ctx)
    val writes = new WriteCounters
    val gc0 = Jvm.gcSeconds
    val rates = drive(ctx, pipe, ops, Some(writes).filter(_ => ctx.traced), WarmBatches, ctx.seconds)
    val gc = Jvm.gcSeconds - gc0
    val progress = pipe.query.recentProgress.filter(_.numInputRows > 0).toSeq
    verifyProgress(ops, pipe)
    stop(pipe.query)

    val snap = Listing.snap(pipe.table.spec.path)
    val e2e = Seq(
      Metric("setup_s", Stats.median(setups.toSeq), "s"),
      Metric("op_p50_s", ops.p50("batch"), "s"),
      Metric("rows_per_s", if (rates.isEmpty) 0.0 else Stats.median(rates), "rows/s"),
      Metric("stored_bytes_per_row", (snap.dataBytes + snap.sidecarBytes).toDouble / pipe.model.rows, "B/row"))
    val layers = if (!ctx.traced) Nil else {
      def dur(key: String): Double = {
        val xs = progress.flatMap(p => Option(p.durationMs.get(key)).map(_.doubleValue / 1e3))
        if (xs.isEmpty) 0.0 else Stats.median(xs)
      }
      Seq(
        Metric("streaming.latest_offset_s", dur("latestOffset"), "s"),
        Metric("streaming.get_batch_s", dur("getBatch"), "s"),
        Metric("streaming.query_planning_s", dur("queryPlanning"), "s"),
        Metric("streaming.add_batch_s", dur("addBatch"), "s"),
        Metric("streaming.wal_commit_s", dur("walCommit"), "s"),
        Metric("sources.infer_schema_s", tr.medianOf("sources.infer_schema"), "s"),
        Metric("schema.align_s", tr.medianOf("schema.align"), "s"),
        Metric("schema.widenings", (columns(ctx, pipe) -- pipe.bootColumns).size.toDouble, "count"),
        Metric("table.upsert_s", tr.medianOf("table.upsert"), "s"),
        Metric("table.catalog_sync_s", tr.medianOf("table.catalog_sync"), "s"),
        Metric("table.sidecar_bytes", snap.sidecarBytes.toDouble, "B")) ++
        writes.metrics ++ ops.sparkMetrics(gc) ++
        Seq(Metric("trace.overhead_ratio", ops.overheadRatio, "ratio"))
    }
    val gaps = Seq(
      Metric("catalog_stale_reads", pipe.staleCatalogReads.toDouble, "count"),
      Metric("catalog_lacks_score", pipe.catalogLacksScore.toDouble, "count"))
    Outcome(ops.attempted, ops.failed, e2e, ops.latencyDetail("batch", "batch") ++ gaps, layers)
  }

  /** Warm up for `warm` untimed batches, then publish batches in a closed
    * loop for `seconds`; returns each committed batch's rows per second.
    * Every commit is checked against the model outside the timed batch.
    */
  def drive(ctx: Ctx, pipe: Pipe, ops: Ops, writes: Option[WriteCounters], warm: Int,
      seconds: Double): Seq[Double] = {
    ops.warmUp(o => (0 until warm).foreach { _ =>
      pipe.publish()
      o.run("batch")(pipe.query.processAllAvailable())
      verifyCommit(ctx, o, pipe)
    })
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val rates = mutable.ArrayBuffer.empty[Double]
    while (System.nanoTime() < deadline && pipe.batches < MaxBatches) {
      val before = writes.map(_ => Listing.snap(pipe.table.spec.path))
      val (n, bytes) = pipe.publish()
      if (ops.run("batch")(pipe.query.processAllAvailable()).isDefined)
        rates += n / ops.of("batch").last
      for (w <- writes; b <- before) w.record(b, Listing.snap(pipe.table.spec.path), bytes)
      verifyCommit(ctx, ops, pipe)
    }
    rates.toSeq
  }

  /** The single-thread baseline for the traced run: the same set-up and
    * loop on a `local[1]` session, untraced, for half the run's seconds. The
    * JVM is already warm, so one warm-up batch suffices.
    */
  def baseline(ctx: Ctx): Seq[Metric] = {
    ctx.tracer.setEnabled(false)
    val pipe = open(ctx, ctx.dir("ingest_local1"), "ingest_events_local1")
    val ops = new Ops(ctx, traced = false)
    val rates = drive(ctx, pipe, ops, None, 1, ctx.seconds / 2)
    verifyProgress(ops, pipe)
    stop(pipe.query)
    if (ops.failed > 0) throw new IllegalStateException("local[1] baseline disagreed with the model")
    Seq(
      Metric("baseline.local1_batch_p50_s", ops.p50("batch"), "s"),
      Metric("baseline.local1_rows_per_s", Stats.median(rates), "rows/s"))
  }
}
