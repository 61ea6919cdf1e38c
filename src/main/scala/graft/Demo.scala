package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.table.{ColumnRange, KeyedTable, KeyedTableSpec}

/** End-to-end usage demo of the library surface, runnable as a main:
  * ingest events → keyed upsert (two commits) → catalog sync → plain
  * `spark.sql` over the registered table → incremental read between
  * commits → write-time ANN index probe → the curation pipeline's
  * terminal gate → custom SQL functions via the extensions.
  *
  * Usage: runMain graft.Demo [sfDir]
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Sessions.builder("local[8]", "8").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val tmp = Scratch.dir("demo")
    val table = KeyedTable(KeyedTableSpec(
      path = s"$tmp/events_keyed",
      keyCols = Seq("user_id"),
      precombineCol = "ts_us",
      tiebreakCols = Seq("event_id"),
      partitionCols = Seq("event_type")))

    val ev = Tables.events(spark, sfDir).withColumn("ts_us", expr("ts div 1000"))
    table.upsert(spark, ev.filter(col("event_id") % 2 === 0), commitTime = "c0")
    table.upsert(spark, ev.filter(col("event_id") % 2 === 1), commitTime = "c1")
    table.syncCatalog(spark, "graft_events")

    println("=== schema probe (SELECT * ... LIMIT 0) ===")
    println(table.probeSchemaViaSql(spark, "graft_events").treeString)

    println("=== SQL over the synced table ===")
    spark.sql(
      """SELECT event_type, COUNT(*) AS n_keys
        |FROM graft_events GROUP BY event_type ORDER BY event_type""".stripMargin)
      .show(truncate = false)

    println("=== incremental read: rows last changed by commit c1 ===")
    table.readIncremental(spark, sinceCommit = "c0")
      .select("user_id", "event_type", "event_id")
      .orderBy("user_id", "event_type").show(5, truncate = false)

    println("=== ANN over the write-time index (PQ prune + exact rerank) ===")
    graft.table.SketchedTable.annPqIndexed(spark, sfDir, queryId = 0L, k = 5)
      .show(truncate = false)

    println("=== delete (GDPR erasure): odd user ids removed table-wide ===")
    table.delete(
      spark, ev.filter(col("user_id") % 2 === 1).select("user_id").distinct())
    spark.sql(
      s"""SELECT COUNT(*) AS surviving_keys,
         |       SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS odd_keys_left
         |FROM parquet.`$tmp/events_keyed`""".stripMargin)
      .show(truncate = false)

    println("=== table services: cluster by time + column-stats file skipping ===")
    table.cluster(spark, Seq("ts_us"), targetFileBytes = 2L << 10)
    table.recordColumnStats(spark, Seq("ts_us"))
    val Array(bounds) = ev.agg(min("ts_us"), max("ts_us")).collect()
    val (mnTs, mxTs) = (bounds.getLong(0), bounds.getLong(1))
    val lo = mxTs - (mxTs - mnTs) / 20
    val (sel, total) =
      table.statsCandidates(spark, Seq(ColumnRange.inclusive("ts_us", lo, mxTs))).get
    println(s"recent-slice time range touches ${sel.length} of $total files")
    table.readPruned(spark, "ts_us", lo, mxTs)
      .groupBy("event_type").count().orderBy("event_type")
      .show(truncate = false)

    println("=== history table: CDC feed with op markers, then restore ===")
    val hist = KeyedTable(KeyedTableSpec(
      path = s"$tmp/events_hist",
      keyCols = Seq("user_id"),
      precombineCol = "ts_us",
      tiebreakCols = Seq("event_id"),
      partitionCols = Seq("event_type"),
      retainHistory = true))
    hist.upsert(spark, ev.filter(col("event_id") % 2 === 0), commitTime = "c0")
    hist.upsert(spark, ev.filter(col("event_id") % 2 === 1), commitTime = "c1")
    hist.readChangeFeed(spark, sinceCommit = "c0")
      .groupBy("op").count().orderBy("op").show(truncate = false)
    hist.restore(spark, "c0")
    println(s"after restore to c0, timeline = ${hist.commits(spark).mkString(",")}")

    println("=== bloom-index upsert: file-level copy-on-write ===")
    val bloomT = KeyedTable(KeyedTableSpec(
      path = s"$tmp/events_bloom",
      keyCols = Seq("event_id"),
      precombineCol = "ts_us"))
    bloomT.bulkInsert(
      spark, ev.repartitionByRange(8, col("event_id")), commitTime = "b0")
    bloomT.recordBloomIndex(spark)
    val touch = ev.filter(col("event_id") % 251 === 0)
      .withColumn("ts_us", col("ts_us") + 1L)
    val (cand, totalFiles) = bloomT.bloomCandidateFiles(spark, touch)
    println(s"index probe: batch touches ${cand.length} of $totalFiles file groups")
    bloomT.upsertBloomIndexed(spark, touch, commitTime = "b1")

    println("=== snapshot manifest: pinned read under a concurrent append ===")
    val snap = bloomT.writeManifest(spark)
    bloomT.insert(spark, touch.withColumn("event_id", col("event_id") + 1000000L), "b2")
    println(s"snapshot $snap rows = ${bloomT.readSnapshot(spark, snap).count()}" +
      s", live rows = ${bloomT.read(spark).count()}")

    println("=== state-delta feed -> incremental view refresh ===")
    val mor = KeyedTable(KeyedTableSpec(
      path = s"$tmp/events_view_src", keyCols = Seq("user_id"),
      precombineCol = "ts_us", tiebreakCols = Seq("event_id"),
      partitionCols = Seq("event_type"), retainHistory = true))
    mor.upsert(spark, ev.filter(col("event_id") % 2 === 0), "v0")
    mor.upsert(spark, ev.filter(col("event_id") % 2 === 1), "v1")
    // time-travel pins the v0 state however late the plan resolves
    val view0 = graft.operators.IncrementalView.computeFull(
      mor.readAsOf(spark, "v0"))
    graft.operators.IncrementalView.applyDelta(
      view0, mor.readStateDelta(spark, "v0", Some("v1")))
      .orderBy("event_type").show(truncate = false)

    println("=== partition evolution: new layout, no rewrite; then fold ===")
    val evo = KeyedTable(KeyedTableSpec(
      path = s"$tmp/events_evo", keyCols = Seq("user_id", "event_type"),
      precombineCol = "ts_us", tiebreakCols = Seq("event_id"),
      globalKeys = true))
    evo.withTableLock(spark) { // multi-writer safety around the commits
      evo.upsert(spark, ev.filter(col("event_id") % 2 === 0), "e0")
      evo.evolvePartitioning(spark, Seq("event_type"))
      evo.upsert(spark, ev.filter(col("event_id") % 2 === 1), "e1")
    }
    println(s"generations = ${evo.layoutGens(spark)}; " +
      s"rows across layouts = ${evo.read(spark).count()}")
    evo.foldGenerations(spark)
    println(s"after fold: generations = ${evo.layoutGens(spark)}, " +
      s"rows = ${evo.read(spark).count()}")

    println("=== curation gate: quality x repetition x lang-ID x PII ===")
    graft.operators.Curation.curatedCorpus(spark, sfDir)
      .orderBy("doc_id").show(5, truncate = false)

    println("=== training prep: chunk -> pack -> tokenize ===")
    graft.operators.TextAnalysis.chunks(spark, sfDir)
      .orderBy("doc_id", "chunk_id").show(3, truncate = false)
    graft.operators.Curation.sequencePacking(spark, sfDir)
      .orderBy("source", "doc_id").show(3, truncate = false)
    graft.operators.TextAnalysis.tokenIds(spark, sfDir)
      .orderBy("doc_id").show(3, truncate = false)

    println("=== materialized view: rollup registered, aggregate re-served ===")
    val mvOut = graft.table.MaterializedView.mvRewriteRevenue(spark, sfDir)
    mvOut.orderBy("o_orderpriority").show(truncate = false)
    val scans = graft.plans.PlanWalk.scannedFiles(mvOut)
    println(s"scanned: ${scans.mkString("; ")} (rollup, not orders.parquet)")
    // Lifecycle: create, attach in a "fresh session" (registry cleared),
    // and refresh against the unchanged base (mtime-only re-arm). The
    // bench query above PINS its plan and drops its registration, so the
    // walk builds its own.
    val demoMvPath = s"$tmp/orders_mv"
    graft.table.MaterializedView.create(
      spark, "demo_orders", s"$sfDir/orders.parquet", demoMvPath,
      groupCols = Seq("o_orderstatus", "o_orderpriority"),
      sums = Seq("sum_price_d" -> expr("CAST(o_totalprice AS DECIMAL(18,4))")),
      countCol = Some("cnt"))
    graft.table.MaterializedView.drop(s"$sfDir/orders.parquet")
    graft.table.MaterializedView.attach(spark, demoMvPath)
    val (_, incremental) =
      graft.table.MaterializedView.refresh(spark, demoMvPath)
    println(s"attach + refresh: incremental=$incremental (no base change)")
    graft.table.MaterializedView.drop(s"$sfDir/orders.parquet")

    println("=== serving layer, round 10 ===")
    // Multi-MV selection: the smaller of two lineitem rollups serves.
    val cheapest = graft.table.MaterializedView.mvSelectCheapest(spark, sfDir)
    println(s"cheapest-rollup serve scans: " +
      graft.plans.PlanWalk.scannedFiles(cheapest).mkString("; "))
    // Star-join MV: the orders ⋈ customer aggregate with the join ELIDED.
    val joined = graft.table.MaterializedView.mvJoinRevenue(spark, sfDir)
    println(s"star-join serve scans (no orders, no customer, no join): " +
      graft.plans.PlanWalk.scannedFiles(joined).mkString("; "))
    // Time hierarchy: month-grouping served from a (year, month) rollup.
    graft.table.MaterializedView.mvMonthlyRevenue(spark, sfDir)
      .orderBy("od_month").show(3, truncate = false)
    // Advisor: one recommended rollup covers a three-query workload.
    graft.table.MaterializedView.mvAdvisorRevenue(spark, sfDir)
      .orderBy("o_orderstatus").show(truncate = false)
    // Hybrid serve: an appended base answers correctly with NO refresh.
    val hybrid = graft.table.MaterializedView.mvHybridServe(spark, sfDir)
    println(s"hybrid serve (rollup + delta file only): " +
      graft.plans.PlanWalk.scannedFiles(hybrid).mkString("; "))

    println("=== index-family pushdown, round 14: declarative serves ===")
    // One clustered + fully-indexed table; every query below is a PLAIN
    // DataFrame/SQL plan — the optimizer rules swap the scans.
    val idx = KeyedTable(KeyedTableSpec(
      path = s"$tmp/events_idx", keyCols = Seq("event_id"),
      precombineCol = "ts_us", partitionCols = Seq("event_type")))
    idx.upsert(spark, ev, commitTime = "c0")
    idx.cluster(spark, Seq("ts_us"), targetFileBytes = 8L << 10)
    idx.recordColumnStats(spark, Seq("ts_us", "event_id"))
    def scansOf(df: org.apache.spark.sql.DataFrame): String = {
      val fs0 = graft.plans.PlanWalk.scannedFiles(df)
      if (fs0.forall(_.endsWith(".parquet"))) s"${fs0.length} candidate files"
      else "full scan"
    }
    val latest = idx.read(spark)
      .orderBy(col("ts_us").desc, col("event_id").desc).limit(5)
    println(s"latest-5 (top-k walk):        ${scansOf(latest)}")
    val page2 = idx.read(spark)
      .orderBy(col("ts_us").desc, col("event_id").desc).offset(5).limit(5)
    println(s"latest page 2 (offset walk):  ${scansOf(page2)}")
    val perType = idx.read(spark)
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("event_type")
          .orderBy(col("ts_us").desc, col("event_id").desc)))
      .filter(col("rk") <= 3)
    println(s"top-3 per type (group walk):  ${scansOf(perType)}")
    val agg = idx.read(spark).agg(
      min("ts_us").as("mn"), max("ts_us").as("mx"), count(lit(1)).as("n"))
    println(s"min/max/count (sidecar fold): ${scansOf(agg)}")
    agg.show(truncate = false)

    println("=== partition-selective table services ===")
    val svcBefore = idx.read(spark).count()
    import spark.implicits._
    idx.compactPartitions(spark, Seq("click").toDF("event_type"),
      commitTime = "svc0")
    println(s"compacted partition click; rows unchanged: " +
      s"${idx.read(spark).count() == svcBefore}")

    println("=== maintenance loop: incremental stats + served liveness ===")
    // A drip commit retires the stats sidecar to a cache; the refresh
    // carries the surviving files' rows and scans ONLY the new files.
    idx.insert(spark,
      ev.filter(col("event_id") % 97 === 0)
        .withColumn("event_id", col("event_id") + 9000000L),
      commitTime = "svc1")
    println(s"refreshColumnStats after the drip: ${idx.refreshColumnStats(spark)}")
    val profile = idx.read(spark).groupBy("event_type").agg(
      avg(col("event_id")).as("avg_id"), count(lit(1)).as("n"))
    println(s"per-type avg/count (sidecar fold): ${scansOf(profile)}")
    val nTypes = idx.read(spark)
      .agg(countDistinct(col("event_type")).as("n_types"))
    println(s"partition cardinality (metadata):  ${scansOf(nTypes)}")
    // History liveness from the record-level index: count(*) and the
    // per-partition counts over the RESOLVED read never touch data.
    hist.recordKeyIndex(spark)
    val liveBy = hist.read(spark)
      .groupBy("event_type").agg(count(lit(1)).as("n_live"))
    println(s"history live rows per type (RLI):  ${scansOf(liveBy)}")
    liveBy.orderBy("event_type").show(truncate = false)

    println("=== tokenizer prep: top BPE merge candidates ===")
    graft.operators.TextAnalysis.bpePairs(spark, sfDir).show(5, truncate = false)

    println("=== multimodal near-dup: dHash buckets over decoded PNGs ===")
    graft.operators.Multimodal.imagePhash(spark, sfDir)
      .filter(col("n_same") > 1).orderBy("phash", "doc_id")
      .show(5, truncate = false)

    println("=== custom SQL functions ===")
    GraftExtensions.registerAll(spark)
    spark.sql(
      """SELECT e.vec_id,
        |       cosine_similarity(e.embedding, q.embedding) AS cos
        |FROM parquet.`%s/embeddings.parquet` e,
        |     (SELECT embedding FROM parquet.`%s/embeddings.parquet`
        |      WHERE vec_id = 0) q
        |WHERE e.vec_id <> 0
        |ORDER BY cos DESC, e.vec_id LIMIT 5""".stripMargin
        .format(sfDir, sfDir))
      .show(truncate = false)

    spark.stop()
  }
}
