package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.UpsertOps
import graft.table.{KeyedTable, KeyedTableSpec}

/** The clustering table service's physical contract: rows/schema/commit
  * times unchanged, and within each hive partition the rewritten files
  * hold non-overlapping sort-key ranges (tight min–max stats = file
  * skipping on the sort column).
  */
class ClusteringSpec extends SparkTestBase {

  private def freshTable(): KeyedTable =
    KeyedTable(KeyedTableSpec(
      path = Files.createTempDirectory("graft_cluster_spec_").toString + "/t",
      keyCols = Seq("user_id"),
      precombineCol = "ts_us",
      tiebreakCols = Seq("event_id"),
      partitionCols = Seq("event_type")))

  private def events() = {
    import graft.sources.Tables
    Tables.events(spark, sf001).withColumn("ts_us", expr("ts div 1000"))
      .select("event_id", "ts_us", "user_id", "event_type", "value")
  }

  test("cluster preserves rows and per-row commit times exactly") {
    val t = freshTable()
    val ev = events()
    t.upsert(spark, ev.filter(col("event_id") % 2 === 0), commitTime = "c0")
    t.upsert(spark, ev.filter(col("event_id") % 2 === 1), commitTime = "c1")
    val before = t.readRaw(spark)
      .select("user_id", "event_type", "ts_us", "event_id", "value",
        KeyedTable.CommitTimeCol)
      .collect().toSet
    t.cluster(spark, Seq("ts_us"))
    val after = t.readRaw(spark)
      .select("user_id", "event_type", "ts_us", "event_id", "value",
        KeyedTable.CommitTimeCol)
      .collect().toSet
    assert(after == before)
  }

  test("cluster leaves files with disjoint ts ranges within each partition") {
    val t = freshTable()
    t.upsert(spark, events(), commitTime = "c0")
    // small target file size so the fixture splits into several files
    t.cluster(spark, Seq("ts_us"), targetFileBytes = 4L << 10)
    val ranges = t.read(spark)
      .select(col("event_type"), col("ts_us"), input_file_name().as("f"))
      .groupBy(col("event_type"), col("f"))
      .agg(min("ts_us").as("lo"), max("ts_us").as("hi"))
      .collect()
      .groupBy(_.getString(0))
    // at least one partition must be split across >1 file for the
    // assertion to mean anything at this fixture size
    assert(ranges.values.exists(_.length > 1),
      "fixture produced single-file partitions; lower target file size")
    ranges.foreach { case (_, files) =>
      val sorted = files.map(r => (r.getLong(2), r.getLong(3))).sortBy(_._1)
      sorted.sliding(2).foreach {
        case Array((_, hi1), (lo2, _)) =>
          assert(hi1 <= lo2, s"file ranges interleave: hi=$hi1 > lo=$lo2")
        case _ =>
      }
    }
  }

  test("q88 read-back equals the unclustered merge result") {
    val a = UpsertOps.clusteredMerge(spark, sf0001).collect().toSet
    val b = UpsertOps.upsertMerge(spark, sf0001).collect().toSet
    assert(a == b)
  }

  test("column-stats index skips files outside the range and loses no rows") {
    val t = freshTable()
    t.upsert(spark, events(), commitTime = "c0")
    t.cluster(spark, Seq("ts_us"), targetFileBytes = 4L << 10)
    t.recordColumnStats(spark, Seq("ts_us"))
    val Array(b) = events().agg(min("ts_us"), max("ts_us")).collect()
    val (mn, mx) = (b.getLong(0), b.getLong(1))
    val third = (mx - mn) / 3
    val (lo, hi) = (mn + third, mn + 2 * third)
    val (sel, total) =
      t.statsCandidates(spark, Seq(graft.table.ColumnRange.inclusive("ts_us", lo, hi))).get
    assert(total > 2, s"fixture produced only $total files; pruning unobservable")
    assert(sel.nonEmpty && sel.length < total,
      s"no pruning: selected ${sel.length} of $total files")
    val pruned = t.readPruned(spark, "ts_us", lo, hi)
      .select("user_id", "event_type", "ts_us", "event_id", "value")
      .collect().toSet
    val full = t.read(spark)
      .filter(col("ts_us").between(lo, hi))
      .select("user_id", "event_type", "ts_us", "event_id", "value")
      .collect().toSet
    assert(pruned == full, "stats pruning must be pure I/O elision")
  }

  test("writes invalidate the column-stats index; un-indexed columns fall back to full scan") {
    val t = freshTable()
    t.upsert(spark, events(), commitTime = "c0")
    t.recordColumnStats(spark, Seq("ts_us"))
    val all = t.read(spark).count()
    // a column the index never recorded: full scan, not an analysis error
    assert(t.readPruned(spark, "user_id", Long.MinValue, Long.MaxValue).count() == all)
    // a later write drops the index (its file list is stale); the pruned
    // read then sees every row again via the fallback
    t.insert(spark,
      events().withColumn("event_id", col("event_id") + 1000000L),
      commitTime = "c1")
    val after = t.read(spark).count()
    assert(t.readPruned(spark, "ts_us", Long.MinValue, Long.MaxValue).count() == after,
      "stale stats must not hide freshly written rows")
  }

  test("incremental stats refresh ≡ full rebuild across append and merge commits") {
    val path = Files.createTempDirectory("graft_incstats_").toString + "/t"
    val t = KeyedTable(KeyedTableSpec(
      path, keyCols = Seq("user_id"), precombineCol = "ts_us",
      tiebreakCols = Seq("event_id"), partitionCols = Seq("event_type")))
    val ev = events()
    t.upsert(spark, ev.filter(col("event_id") % 3 === 0), commitTime = "c0")
    t.recordColumnStats(spark, Seq("ts_us"))
    // an append AND a merge (the merge replaces touched-partition files,
    // whose cached rows must drop out of the carry)
    t.insert(spark,
      ev.filter(col("event_id") % 3 === 1)
        .withColumn("event_id", col("event_id") + 2000000L),
      commitTime = "c1")
    t.upsert(spark, ev.filter(col("event_id") % 3 === 2), commitTime = "c2")
    t.recordColumnStats(spark, Seq("ts_us")) // incremental: carries the cache
    def sidecarRows() = spark.read.parquet(s"$path/_graft_colstats")
      .collect().map(_.toString).sorted.toSeq
    val incremental = sidecarRows()
    // force the full path: no sidecar, no cache left to carry from
    val f = new org.apache.hadoop.fs.Path(s"$path/_graft_colstats")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(new org.apache.hadoop.fs.Path(s"$path/_graft_colstats"), true)
    t.recordColumnStats(spark, Seq("ts_us"))
    assert(incremental == sidecarRows(),
      "incremental refresh must produce exactly the full rebuild's sidecar")
    // and the incrementally-maintained index still prunes exactly
    val Array(b) = t.read(spark).agg(min("ts_us"), max("ts_us")).collect()
    val (mn, mx) = (b.getLong(0), b.getLong(1))
    val lo = mn + (mx - mn) / 3
    val hi = mn + 2 * ((mx - mn) / 3)
    val pruned = t.readPruned(spark, "ts_us", lo, hi)
      .select("user_id", "event_id", "ts_us").collect().toSet
    val full = t.read(spark).filter(col("ts_us").between(lo, hi))
      .select("user_id", "event_id", "ts_us").collect().toSet
    assert(pruned == full)
  }

  test("incremental stats carry, not rescan: poisoned cache rows survive verbatim") {
    val path = Files.createTempDirectory("graft_incstats_poison_").toString + "/t"
    val t = KeyedTable(KeyedTableSpec(
      path, keyCols = Seq("user_id"), precombineCol = "ts_us",
      tiebreakCols = Seq("event_id"), partitionCols = Seq("event_type")))
    val ev = events()
    t.upsert(spark, ev.filter(col("event_id") % 2 === 0), commitTime = "c0")
    t.recordColumnStats(spark, Seq("ts_us"))
    // a pure append retires the sidecar to the stale cache (old files all
    // survive, so every cached row is carriable)
    t.insert(spark,
      ev.filter(col("event_id") % 2 === 1)
        .withColumn("event_id", col("event_id") + 2000000L),
      commitTime = "c1")
    val stalePath = s"$path/_graft_colstats_stale"
    assert(new java.io.File(stalePath).exists(),
      "a write must retire the sidecar to the cache, not delete it")
    // poison every cached min: if the refresh rescans old files the real
    // value comes back; if it carries, the sentinel survives — the proof
    // that refresh cost is O(new files)
    val st = spark.read.parquet(stalePath)
    val schema = st.schema
    val cached = st.collect().toSeq
    val mi = schema.fieldIndex("min_ts_us")
    val sentinel = -424242L
    val poisoned = cached.map(r =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq.updated(mi, sentinel)))
    spark.createDataFrame(
        spark.sparkContext.parallelize(poisoned, 1), schema)
      .coalesce(1).write.mode("overwrite").parquet(stalePath)
    t.recordColumnStats(spark, Seq("ts_us"))
    val side = spark.read.parquet(s"$path/_graft_colstats")
    val carried = side.filter(col("min_ts_us") === sentinel).count()
    val fresh = side.filter(col("min_ts_us") =!= sentinel).count()
    assert(carried == cached.size,
      s"expected all ${cached.size} cached rows carried, got $carried")
    assert(fresh > 0, "the appended files must get freshly scanned stats")
    assert(!new java.io.File(stalePath).exists(),
      "a successful build consumes the cache")
    // a DIFFERENT cols request cannot use the cache: full rebuild, no
    // sentinel anywhere (value joins ts_us in the sidecar)
    t.insert(spark,
      ev.filter(col("event_id") % 2 === 1)
        .withColumn("event_id", col("event_id") + 4000000L),
      commitTime = "c2")
    t.recordColumnStats(spark, Seq("ts_us", "value"))
    val rebuilt = spark.read.parquet(s"$path/_graft_colstats")
    assert(rebuilt.filter(col("min_ts_us") === sentinel).count() == 0,
      "a cols change must fall back to the full scan")
    assert(rebuilt.columns.contains("min_value"))
  }

  test("a cached row whose recorded file length mismatches the listing rescans") {
    // The carry trusts file identity by relative path; `flen` is the
    // cross-check. Tamper ONE cached row's recorded length (simulating
    // a future write path reusing a part-file name with different
    // content): that file must be RESCANNED (its poisoned min does not
    // survive) while the untampered rows still carry verbatim.
    val path = Files.createTempDirectory("graft_incstats_flen_").toString + "/t"
    val t = KeyedTable(KeyedTableSpec(
      path, keyCols = Seq("user_id"), precombineCol = "ts_us",
      tiebreakCols = Seq("event_id"), partitionCols = Seq("event_type")))
    val ev = events()
    t.upsert(spark, ev.filter(col("event_id") % 2 === 0), commitTime = "c0")
    t.recordColumnStats(spark, Seq("ts_us"))
    t.insert(spark,
      ev.filter(col("event_id") % 2 === 1)
        .withColumn("event_id", col("event_id") + 2000000L),
      commitTime = "c1")
    val stalePath = s"$path/_graft_colstats_stale"
    val st = spark.read.parquet(stalePath)
    val schema = st.schema
    val cached = st.collect().toSeq
    assert(cached.size >= 2, "need ≥2 cached rows to split carry/rescan")
    val mi = schema.fieldIndex("min_ts_us")
    val li = schema.fieldIndex("flen")
    val sentinel = -515151L
    // Poison every min; BREAK the length on exactly one row.
    val poisoned = cached.zipWithIndex.map { case (r, i) =>
      val vals = r.toSeq.updated(mi, sentinel)
      org.apache.spark.sql.Row.fromSeq(
        if (i == 0) vals.updated(li, r.getLong(li) + 1L) else vals)
    }
    spark.createDataFrame(
        spark.sparkContext.parallelize(poisoned, 1), schema)
      .coalesce(1).write.mode("overwrite").parquet(stalePath)
    t.recordColumnStats(spark, Seq("ts_us"))
    val side = spark.read.parquet(s"$path/_graft_colstats")
    val carried = side.filter(col("min_ts_us") === sentinel).count()
    assert(carried == cached.size - 1,
      s"expected ${cached.size - 1} rows carried, got $carried")
    // The length-mismatched file was rescanned: present, real stats.
    val tampered = cached.head.getString(schema.fieldIndex("file"))
    val re = side.filter(col("file") === tampered)
    assert(re.count() == 1, "the mismatched file must still be covered")
    assert(re.filter(col("min_ts_us") === sentinel).count() == 0,
      "the mismatched file's stats must come from a rescan")
  }

  test("incremental refresh ≡ full rebuild across every retire site") {
    val path = Files.createTempDirectory("graft_incstats_ops_").toString + "/t"
    val t = KeyedTable(KeyedTableSpec(
      path, keyCols = Seq("user_id"), precombineCol = "ts_us",
      tiebreakCols = Seq("event_id"), partitionCols = Seq("event_type")))
    val ev = events()
    import spark.implicits._
    def assertRefreshExact(label: String): Unit = {
      assert(t.refreshColumnStats(spark), s"$label: refresh must run")
      def rows() = spark.read.parquet(s"$path/_graft_colstats")
        .collect().map(_.toString).sorted.toSeq
      val incremental = rows()
      val f = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      f.delete(new org.apache.hadoop.fs.Path(s"$path/_graft_colstats"), true)
      t.recordColumnStats(spark, Seq("ts_us", "value"))
      assert(incremental == rows(),
        s"$label: incremental sidecar must equal the full rebuild's")
    }
    t.upsert(spark, ev.filter(col("event_id") % 2 === 0), commitTime = "c0")
    t.recordColumnStats(spark, Seq("ts_us", "value"))
    t.insert(spark,
      ev.filter(col("event_id") % 2 === 1)
        .withColumn("event_id", col("event_id") + 1000000L), "c1")
    assertRefreshExact("insert append")
    t.upsert(spark, ev.filter(col("event_id") % 5 === 0)
      .withColumn("ts_us", col("ts_us") + 7L), commitTime = "c2")
    assertRefreshExact("merge upsert (partition rewrite)")
    t.delete(spark, ev.filter(col("user_id") % 9 === 0)
      .select("user_id", "event_type"))
    assertRefreshExact("partition-scoped delete")
    t.dropPartitions(spark, Seq("error").toDF("event_type"),
      commitTime = "c3")
    assertRefreshExact("partition drop")
    t.compactPartitions(spark, Seq("click").toDF("event_type"),
      commitTime = "c4")
    assertRefreshExact("partition-selective compaction")
  }

  test("refreshColumnStats re-covers the cache's own columns; nothing to refresh → false") {
    val path = Files.createTempDirectory("graft_refresh_").toString + "/t"
    val t = KeyedTable(KeyedTableSpec(
      path, keyCols = Seq("user_id"), precombineCol = "ts_us",
      tiebreakCols = Seq("event_id"), partitionCols = Seq("event_type")))
    val ev = events()
    t.upsert(spark, ev.filter(col("event_id") % 2 === 0), commitTime = "c0")
    assert(!t.refreshColumnStats(spark),
      "no sidecar and no cache: nothing to refresh from")
    t.recordColumnStats(spark, Seq("ts_us", "value"))
    t.insert(spark,
      ev.filter(col("event_id") % 2 === 1)
        .withColumn("event_id", col("event_id") + 2000000L),
      commitTime = "c1")
    assert(t.refreshColumnStats(spark), "the retired cache names the columns")
    val side = spark.read.parquet(s"$path/_graft_colstats")
    assert(side.columns.contains("min_ts_us") &&
      side.columns.contains("min_value"))
    // the refreshed index covers every current file: pruning stays exact
    val all = t.read(spark).count()
    assert(t.readPruned(spark, "ts_us", Long.MinValue, Long.MaxValue)
      .count() == all)
    // an intact sidecar refreshes too (pure carry, still true)
    assert(t.refreshColumnStats(spark))
  }

  test("readPruned without an index falls back to a full scan; history tables refuse") {
    val t = freshTable()
    t.upsert(spark, events(), commitTime = "c0")
    val all = t.read(spark).count()
    assert(t.readPruned(spark, "ts_us", Long.MinValue, Long.MaxValue).count() == all)
    val h = KeyedTable(KeyedTableSpec(
      path = Files.createTempDirectory("graft_stats_mor_").toString + "/t",
      keyCols = Seq("user_id"), precombineCol = "ts_us",
      partitionCols = Seq("event_type"), retainHistory = true))
    h.upsert(spark, events(), commitTime = "c0")
    intercept[IllegalArgumentException] {
      h.readPruned(spark, "ts_us", 0L, 1L)
    }
  }
}
