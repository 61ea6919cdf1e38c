package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.plans.IndexAdvisor
import graft.sources.Tables
import graft.table.{KeyedTable, KeyedTableSpec}

/** [[IndexAdvisor]]: workload probes over un-indexed keyed tables must
  * recommend exactly the missing sidecars (shared matcher with the
  * serving rule), building them must make the same workload index-serve,
  * and covered/non-point workloads must recommend nothing.
  */
class IndexAdvisorSpec extends SparkTestBase {
  import spark.implicits._

  private def eventsUs =
    Tables.events(spark, sf0001).withColumn("ts_us", expr("ts div 1000"))

  private def mkTable(): KeyedTable = {
    val path = Files.createTempDirectory("graft_idxadv_").toString + "/t"
    val t = KeyedTable(KeyedTableSpec(
      path = path, keyCols = Seq("event_id"), precombineCol = "ts_us",
      partitionCols = Seq("event_type")))
    t.upsert(spark, eventsUs, commitTime = "c0")
    t
  }

  private def scannedDataFiles(df: DataFrame): Option[Seq[String]] = {
    val paths = graft.plans.PlanWalk.scannedFiles(df)
    if (paths.nonEmpty && paths.forall(_.endsWith(".parquet"))) Some(paths)
    else None
  }

  test("missing indexes are recommended, built, and then serve the workload") {
    val t = mkTable()
    def qKey = t.read(spark).filter(col("event_id").isin(0L, 7L))
    val v = eventsUs.orderBy("event_id").select("value").as[Double].first()
    def qVal = t.read(spark).filter(col("value") === v)
    val expKey = qKey.collect().toSet
    val workload = Seq(qKey, qVal)
    val advice = IndexAdvisor.analyze(spark, workload)
    assert(advice.skipped.isEmpty)
    val kinds = advice.recommendations.map(r => (r.kind, r.column)).toSet
    assert(kinds == Set(("record_key", "event_id"), ("secondary", "value")),
      s"expected the two missing sidecars, got $kinds")
    // The key probe needs the RLI on both paths → 2 hits; value 1.
    assert(advice.recommendations
      .find(_.kind == "record_key").get.hits == 2)
    val built = IndexAdvisor.createRecommended(spark, advice)
    assert(built.length == 2, s"both builds must run: $built")
    // The same workload now index-serves (pruned file scans), unchanged.
    assert(scannedDataFiles(qKey).isDefined, "key probe must now prune")
    assert(scannedDataFiles(qVal).isDefined, "value probe must now prune")
    assert(qKey.collect().toSet == expKey)
    // Re-analysis over the NOW-SERVED workload recommends nothing.
    assert(IndexAdvisor.analyze(spark, workload).recommendations.isEmpty)
  }

  test("covered tables and out-of-scope aggregates recommend nothing") {
    val t = mkTable()
    t.recordKeyIndex(spark)
    val qKey = t.read(spark).filter(col("event_id") === 3L)
    // Grouping by a NON-partition column is outside the stats-aggregate
    // rule's scope — no build can serve it, so nothing is recommended.
    val agg = t.read(spark).groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"))
    val advice = IndexAdvisor.analyze(spark, Seq(qKey, agg))
    assert(advice.recommendations.isEmpty,
      s"nothing to build: ${advice.recommendations}")
  }

  test("aggregate workloads recommend the stats build that then serves them") {
    val t = mkTable()
    def qAgg = t.read(spark).agg(
      min(col("event_id")).as("mn"), sum(col("user_id")).as("s"),
      count(lit(1)).as("n"))
    def qGrp = t.read(spark).groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
    val expected = (qAgg.collect().toSet, qGrp.collect().toSet)
    val advice = IndexAdvisor.analyze(spark, Seq(qAgg, qGrp))
    val kinds = advice.recommendations.map(r => (r.kind, r.column)).toSet
    assert(kinds == Set(("column_stats", "event_id"),
      ("column_stats", "user_id"), ("column_stats", "")),
      s"expected the aggregate stats recs, got $kinds")
    IndexAdvisor.createRecommended(spark, advice)
    assert(graft.plans.PlanWalk.scannedFiles(qAgg).isEmpty,
      "served aggregate must scan no files after the build")
    assert(graft.plans.PlanWalk.scannedFiles(qGrp).isEmpty)
    assert((qAgg.collect().toSet, qGrp.collect().toSet) == expected)
    assert(IndexAdvisor.analyze(spark, Seq(qAgg, qGrp)).recommendations.isEmpty)
  }

  test("overlapping layout: the advisor recommends cluster, then the probe prunes") {
    val t = mkTable() // unclustered: every file spans the full id range
    t.recordColumnStats(spark, Seq("event_id"))
    def q = t.read(spark).filter(col("event_id").between(100L, 299L))
    val expected = q.collect().toSet
    val advice = IndexAdvisor.analyze(spark, Seq(q))
    assert(advice.recommendations.map(r => (r.kind, r.column)) ==
      Seq(("cluster", "event_id")),
      s"stats exist but can't skip — expected the layout rec, got " +
        s"${advice.recommendations}")
    spark.conf.set("spark.graft.cluster.target.bytes", (8L << 10).toString)
    try {
      val built = IndexAdvisor.createRecommended(spark, advice)
      assert(built.exists(_.startsWith("cluster(event_id)")), s"$built")
    } finally spark.conf.unset("spark.graft.cluster.target.bytes")
    assert(scannedDataFiles(q).isDefined,
      "the sort rewrite must make the range prune")
    assert(q.collect().toSet == expected)
    // Settled: stats covered, layout tight — nothing left to advise.
    assert(IndexAdvisor.analyze(spark, Seq(q)).recommendations.isEmpty)
  }

  test("a 2-D range workload draws a Z-ORDER layout; both probes then prune") {
    val t = mkTable() // unclustered: every file spans both domains
    t.recordColumnStats(spark, Seq("event_id", "user_id"))
    def qId = t.read(spark).filter(col("event_id").between(100L, 299L))
    def qUid = t.read(spark).filter(col("user_id").between(3L, 7L))
    val (expId, expUid) = (qId.collect().toSet, qUid.collect().toSet)
    val advice = IndexAdvisor.analyze(spark, Seq(qId, qUid))
    assert(advice.recommendations.map(r => (r.kind, r.column)).toSet ==
      Set(("cluster", "event_id"), ("cluster", "user_id")),
      s"both overlapping columns must draw layout recs, got " +
        s"${advice.recommendations}")
    spark.conf.set("spark.graft.cluster.target.bytes", (2L << 10).toString)
    try {
      val built = IndexAdvisor.createRecommended(spark, advice)
      // Lexicographic (a, b) would leave every file spanning all of b —
      // only a Morton layout serves BOTH range probes.
      assert(built.exists(_.startsWith("zorder(")), s"$built")
    } finally spark.conf.unset("spark.graft.cluster.target.bytes")
    assert(scannedDataFiles(qId).isDefined, "the id probe must prune")
    assert(scannedDataFiles(qUid).isDefined, "the uid probe must prune")
    assert(qId.collect().toSet == expId)
    assert(qUid.collect().toSet == expUid)
    assert(IndexAdvisor.analyze(spark, Seq(qId, qUid)).recommendations.isEmpty)
  }

  test("a range workload recommends column stats; building them serves it") {
    val t = mkTable()
    // Tight per-file ranges so the served scan genuinely prunes.
    t.cluster(spark, Seq("event_id"), targetFileBytes = 8L << 10)
    def qRange = t.read(spark)
      .filter(col("event_id").between(100L, 299L))
    val expected = qRange.collect().toSet
    val advice = IndexAdvisor.analyze(spark, Seq(qRange))
    assert(advice.recommendations.map(r => (r.kind, r.column)) ==
      Seq(("column_stats", "event_id")),
      s"expected the one stats build, got ${advice.recommendations}")
    val built = IndexAdvisor.createRecommended(spark, advice)
    assert(built.length == 1, s"the stats build must run: $built")
    assert(scannedDataFiles(qRange).isDefined, "range must now prune")
    assert(qRange.collect().toSet == expected)
    // Served workload: re-analysis recommends nothing (the swapped scan
    // no longer roots at the registered path), and a second range
    // column UNIONS into the sidecar instead of replacing it.
    assert(IndexAdvisor.analyze(spark, Seq(qRange)).recommendations.isEmpty)
    def qUid = t.read(spark).filter(col("user_id") >= 3L)
    val advice2 = IndexAdvisor.analyze(spark, Seq(qUid))
    assert(advice2.recommendations.map(r => (r.kind, r.column)) ==
      Seq(("column_stats", "user_id")))
    IndexAdvisor.createRecommended(spark, advice2)
    assert(scannedDataFiles(qRange).isDefined,
      "the first column's stats must survive the second build")
  }

  test("a top-k workload recommends the walk's stats; building them serves it") {
    val t = mkTable()
    t.cluster(spark, Seq("ts_us"), targetFileBytes = 8L << 10)
    // "Latest N before a cutoff" — the walk wants stats on the SORT
    // column AND the classifiable filter column (here the same ts_us);
    // the partition conjunct wants nothing (sidecar rows select by the
    // recorded partition tuple, no min/max needed).
    val Array(r) = eventsUs.agg(max("ts_us")).collect()
    val cut = r.getLong(0) - 1000L
    def qTopK = t.read(spark)
      .filter(col("event_type") === "click" && col("ts_us") <= cut)
      .orderBy(col("ts_us").desc, col("event_id").desc).limit(10)
    val expected = qTopK.collect().toSeq
    val advice = IndexAdvisor.analyze(spark, Seq(qTopK))
    assert(advice.recommendations.map(r => (r.kind, r.column)) ==
      Seq(("column_stats", "ts_us")),
      s"expected the walk's stats build, got ${advice.recommendations}")
    IndexAdvisor.createRecommended(spark, advice)
    assert(scannedDataFiles(qTopK).isDefined, "the top-k must now serve")
    assert(qTopK.collect().toSeq == expected)
    // Served workload: re-analysis settles.
    assert(IndexAdvisor.analyze(spark, Seq(qTopK)).recommendations.isEmpty)
  }

  test("a grouped top-k workload recommends the sort column's stats") {
    val t = mkTable()
    t.cluster(spark, Seq("ts_us"), targetFileBytes = 8L << 10)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type")
      .orderBy(col("ts_us").desc, col("event_id").desc)
    def q = t.read(spark)
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
      .select("event_type", "ts_us", "event_id", "rk")
    val expected = q.collect().toSet
    val advice = IndexAdvisor.analyze(spark, Seq(q))
    assert(advice.recommendations.map(r => (r.kind, r.column)) ==
      Seq(("column_stats", "ts_us")),
      s"expected the per-group walk's stats build, got ${advice.recommendations}")
    IndexAdvisor.createRecommended(spark, advice)
    assert(scannedDataFiles(q).isDefined, "the grouped top-k must now serve")
    assert(q.collect().toSet == expected)
    assert(IndexAdvisor.analyze(spark, Seq(q)).recommendations.isEmpty)
  }

  test("a star-join workload recommends the fact chain; building it serves the join") {
    val tmp = Files.createTempDirectory("graft_idxadv_join_").toString
    // Fact clustered by the join column so the built chain can actually
    // prune; NO indexes yet.
    val fact = KeyedTable(KeyedTableSpec(
      path = s"$tmp/fact", keyCols = Seq("event_id"),
      precombineCol = "ts_us"))
    fact.upsert(spark, eventsUs, commitTime = "c0")
    // 1 KB targets: the unpartitioned sf0001 fixture must split into
    // enough user-run files that the probed users' candidates can prune.
    fact.cluster(spark, Seq("user_id"), targetFileBytes = 1L << 10)
    val dim = KeyedTable(KeyedTableSpec(
      path = s"$tmp/dim", keyCols = Seq("user_id"), precombineCol = "tier"))
    dim.upsert(spark,
      eventsUs.select("user_id").distinct()
        .withColumn("tier", (col("user_id") % 16).cast("long")),
      commitTime = "c0")
    val ids = eventsUs.select("user_id").distinct()
      .filter(col("user_id") % 13 === 3).as[Long].collect().toSeq.take(6)
    def q = {
      val f = fact.read(spark)
      val d = dim.read(spark).filter(col("user_id").isin(ids: _*))
      f.join(d, f("user_id") === d("user_id"))
        .select(f("event_id"), d("user_id"))
    }
    val expect = q.as[(Long, Long)].collect().toSet
    // One analyze round recommends the whole fact chain: the RLI plus
    // the secondary sidecar on the joined non-key column.
    val a1 = IndexAdvisor.analyze(spark, Seq(q))
    val k1 = a1.recommendations
      .filter(_.tablePath == s"$tmp/fact")
      .map(r => (r.kind, r.column)).toSet
    assert(k1 == Set(("record_key", "event_id"), ("secondary", "user_id")),
      s"fact chain: $k1")
    IndexAdvisor.createRecommended(spark, a1)
    // The join now prunes the fact scan (file-granular fact roots; the
    // dim side legitimately stays a directory scan); results unchanged;
    // the shape settles out of the advice.
    val factRoots = graft.plans.PlanWalk.scannedFiles(q)
      .filter(_.contains(s"$tmp/fact"))
    assert(factRoots.nonEmpty && factRoots.forall(_.endsWith(".parquet")),
      s"the built chain must serve the join, got $factRoots")
    assert(q.as[(Long, Long)].collect().toSet == expect)
    val a2 = IndexAdvisor.analyze(spark, Seq(q))
    assert(!a2.recommendations.exists(_.tablePath == s"$tmp/fact"),
      s"served join must settle: ${a2.recommendations}")
    // Dim ALREADY indexed: its key probe index-serves and the join
    // shape vanishes from the optimized plan — the fact chain must
    // still be recommended (the matcher reads the analyzed plan).
    val fact2 = KeyedTable(KeyedTableSpec(
      path = s"$tmp/fact2", keyCols = Seq("event_id"),
      precombineCol = "ts_us"))
    fact2.upsert(spark, eventsUs, commitTime = "c0")
    fact2.cluster(spark, Seq("user_id"), targetFileBytes = 1L << 10)
    val dim2 = KeyedTable(KeyedTableSpec(
      path = s"$tmp/dim2", keyCols = Seq("user_id"), precombineCol = "tier"))
    // Multi-file key-range layout so the dim's own point probe has
    // files to prune (a single-file dim declines as "nothing pruned"
    // and would leave the join visible in the optimized plan).
    dim2.bulkInsert(spark,
      eventsUs.select("user_id").distinct()
        .withColumn("tier", (col("user_id") % 16).cast("long"))
        .repartitionByRange(4, col("user_id")),
      commitTime = "c0")
    dim2.recordKeyIndex(spark)
    val ids2 = ids.take(2)
    def q2 = {
      val f = fact2.read(spark)
      val d = dim2.read(spark).filter(col("user_id").isin(ids2: _*))
      f.join(d, f("user_id") === d("user_id"))
        .select(f("event_id"), d("user_id"))
    }
    // Precondition: the dim probe really is served away in the
    // optimized plan (file-granular dim scan).
    val dimRoots = graft.plans.PlanWalk.scannedFiles(q2)
      .filter(_.contains(s"$tmp/dim2"))
    assert(dimRoots.nonEmpty && dimRoots.forall(_.endsWith(".parquet")),
      s"precondition: dim probe should index-serve, got $dimRoots")
    val a3 = IndexAdvisor.analyze(spark, Seq(q2))
    val k3 = a3.recommendations
      .filter(_.tablePath == s"$tmp/fact2")
      .map(r => (r.kind, r.column)).toSet
    assert(k3 == Set(("record_key", "event_id"), ("secondary", "user_id")),
      s"fact chain must be recommended despite the served dim: $k3")
  }

  test("partition-column probes recommend nothing: directory pruning serves them") {
    val t = mkTable() // hive-partitioned by event_type
    val et = eventsUs.select("event_type").distinct()
      .orderBy("event_type").as[String].first()
    // Point, IN, and range probes on the PARTITION column: Spark prunes
    // these from directory metadata already — an RLI/secondary/stats
    // build would be a full-table build for a query that was never
    // scanning more than its directories (pure waste at 100 TB).
    val qEq = t.read(spark).filter(col("event_type") === et)
    val qIn = t.read(spark).filter(col("event_type").isin(et))
    val qRange = t.read(spark)
      .filter(col("event_type") >= et && col("event_type") < (et + "zzz"))
    val advice = IndexAdvisor.analyze(spark, Seq(qEq, qIn, qRange))
    assert(advice.recommendations.isEmpty,
      s"partition-column workload must advise nothing: ${advice.recommendations}")
    // A mixed workload still advises the DATA-column half.
    val qKey = t.read(spark).filter(col("event_id") === 3L)
    val mixed = IndexAdvisor.analyze(spark, Seq(qEq, qKey))
    assert(mixed.recommendations.map(r => (r.kind, r.column)) ==
      Seq(("record_key", "event_id")), s"${mixed.recommendations}")
  }

  test("fragmented table draws an OPT-IN compaction rec that settles") {
    val path = Files.createTempDirectory("graft_idxadv_cmp_").toString + "/t"
    val t = KeyedTable(KeyedTableSpec(
      path = path, keyCols = Seq("event_id"), precombineCol = "ts_us",
      partitionCols = Seq("event_type")))
    val ev = eventsUs
    // Ten drip commits: many tiny files per partition.
    (0 until 10).foreach { i =>
      t.insert(spark, ev.filter(col("event_id") % 10 === i), s"c$i")
    }
    def fileCount = {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(fs.makeQualified(p), true)
      var n = 0
      while (it.hasNext) {
        val s = it.next()
        val rel = s.getPath.toUri.getPath
        if (s.getPath.getName.endsWith(".parquet") &&
          !rel.split('/').exists(seg => seg.startsWith("_") || seg.startsWith(".")))
          n += 1
      }
      n
    }
    val before = fileCount
    val expected = t.read(spark).select("event_id", "ts_us")
      .as[(Long, Long)].collect().toSet
    // Threshold unset: file sizing is deployment-specific, so the
    // advisor must not guess — no compact rec.
    val silent = IndexAdvisor.analyze(spark, Seq(t.read(spark)))
    assert(!silent.recommendations.exists(_.kind == "compact"),
      s"unset threshold must not advise compaction: ${silent.recommendations}")
    spark.conf.set("spark.graft.compact.small.bytes", (32L << 20).toString)
    try {
      val advice = IndexAdvisor.analyze(spark, Seq(t.read(spark)))
      val cps = advice.recommendations.filter(_.kind == "compact")
      assert(cps.length == 1 && cps.head.tablePath.endsWith(path),
        s"expected one compaction rec, got ${advice.recommendations}")
      val lines = IndexAdvisor.createRecommended(spark, advice)
      // Partitioned tables compact PARTITION-SELECTIVELY (all five
      // partitions are fragmented in this fixture).
      assert(lines.exists(_.startsWith("compact 5 partition(s) on")),
        lines.toString)
      assert(fileCount < before,
        s"compaction must consolidate: $before -> $fileCount")
      assert(t.read(spark).select("event_id", "ts_us")
        .as[(Long, Long)].collect().toSet == expected)
      // Settled: the consolidated layout draws nothing on re-analysis.
      val again = IndexAdvisor.analyze(spark, Seq(t.read(spark)))
      assert(!again.recommendations.exists(_.kind == "compact"),
        s"applied rec must settle: ${again.recommendations}")
    } finally spark.conf.unset("spark.graft.compact.small.bytes")
  }

  test("retention: superseded history partitions draw a measured vacuum") {
    val path = Files.createTempDirectory("graft_idxadv_vac_").toString + "/t"
    val t = KeyedTable(KeyedTableSpec(
      path = path, keyCols = Seq("user_id"), precombineCol = "ts_us",
      tiebreakCols = Seq("event_id"), partitionCols = Seq("event_type"),
      retainHistory = true))
    val ev = eventsUs
    t.upsert(spark, ev, commitTime = "c0")
    // corrections re-land ONE partition's rows: only it bloats
    t.upsert(spark,
      ev.filter(col("event_type") === "click")
        .withColumn("ts_us", col("ts_us") + 1000000L),
      commitTime = "c1")
    t.recordColumnStats(spark, Seq("ts_us"))
    t.recordKeyIndex(spark) // fresh: built after c1
    val expected = t.read(spark)
      .select("user_id", "event_type", "ts_us").collect().toSet
    def fileSet(dir: String): Set[String] = {
      val d = new java.io.File(s"$path/$dir")
      if (!d.exists()) Set.empty
      else d.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet
    }
    val cleanBefore = fileSet("event_type=view")
    spark.conf.set("spark.graft.vacuum.superseded.ratio", "0.4")
    try {
      // no policy, no measurement, no advice — check the gate first
      spark.conf.unset("spark.graft.vacuum.superseded.ratio")
      assert(!IndexAdvisor.analyze(spark, Seq(t.read(spark)))
        .recommendations.exists(_.kind == "vacuum"),
        "retention advice must be opt-in")
      spark.conf.set("spark.graft.vacuum.superseded.ratio", "0.4")
      val advice = IndexAdvisor.analyze(spark, Seq(t.read(spark)))
      assert(advice.recommendations.exists(_.kind == "vacuum"),
        s"the corrected partition must draw a vacuum: ${advice.recommendations}")
      val lines = IndexAdvisor.createRecommended(spark, advice)
      assert(lines.exists(_.startsWith("vacuum 1 partition")), s"$lines")
      // only the corrected partition was rewritten; reads stay exact
      assert(fileSet("event_type=view") == cleanBefore,
        "untouched partitions must stay byte-identical")
      assert(t.read(spark)
        .select("user_id", "event_type", "ts_us").collect().toSet == expected)
      // settled: the vacuum commit staled the RLI, so the measurement
      // declines; after an index refresh the ratio is ~0 — still nothing
      assert(!IndexAdvisor.analyze(spark, Seq(t.read(spark)))
        .recommendations.exists(_.kind == "vacuum"))
      t.refreshRecordKeyIndex(spark)
      t.recordColumnStats(spark, Seq("ts_us"))
      assert(!IndexAdvisor.analyze(spark, Seq(t.read(spark)))
        .recommendations.exists(_.kind == "vacuum"),
        "a reclaimed table must settle")
    } finally spark.conf.unset("spark.graft.vacuum.superseded.ratio")
  }

  test("retention: a pre-pv index declines the measurement, never path-matches") {
    // The rendered `pp` path string is not escape-safe; measuring live
    // counts against it could over-vacuum a partition whose value
    // contains '/' or '='. A pre-pv index must therefore draw NO
    // vacuum advice at all — refuse, don't guess.
    val path = Files.createTempDirectory("graft_idxadv_prepv_").toString + "/t"
    val t = KeyedTable(KeyedTableSpec(
      path = path, keyCols = Seq("user_id"), precombineCol = "ts_us",
      tiebreakCols = Seq("event_id"), partitionCols = Seq("event_type"),
      retainHistory = true))
    val ev = eventsUs
    t.upsert(spark, ev, commitTime = "c0")
    t.upsert(spark,
      ev.filter(col("event_type") === "click")
        .withColumn("ts_us", col("ts_us") + 1000000L),
      commitTime = "c1")
    t.recordColumnStats(spark, Seq("ts_us"))
    t.recordKeyIndex(spark)
    spark.conf.set("spark.graft.vacuum.superseded.ratio", "0.4")
    try {
      assert(IndexAdvisor.analyze(spark, Seq(t.read(spark)))
        .recommendations.exists(_.kind == "vacuum"),
        "sanity: the typed index measures and recommends")
      // Strip the typed pv_ columns (simulating an index recorded
      // before the entry layout carried them).
      val rli = s"$path/_graft_rli"
      val idx = spark.read.parquet(rli)
      val kept = idx.columns.filterNot(_.startsWith("pv_"))
      val rows = idx.select(kept.map(col): _*).collect().toSeq
      val schema = org.apache.spark.sql.types.StructType(
        kept.map(c => idx.schema(idx.schema.fieldIndex(c))))
      spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1), schema)
        .coalesce(1).write.mode("overwrite").parquet(rli)
      assert(!IndexAdvisor.analyze(spark, Seq(t.read(spark)))
        .recommendations.exists(_.kind == "vacuum"),
        "a pre-pv index must decline the vacuum measurement")
    } finally spark.conf.unset("spark.graft.vacuum.superseded.ratio")
  }

  test("MoR resolved-aggregate shapes draw record_key + column_stats, then settle") {
    val path = Files.createTempDirectory("graft_idxadv_mor_").toString + "/t"
    val t = KeyedTable(KeyedTableSpec(
      path = path, keyCols = Seq("user_id"), precombineCol = "ts_us",
      tiebreakCols = Seq("event_id"), partitionCols = Seq("event_type"),
      retainHistory = true))
    t.upsert(spark, eventsUs, commitTime = "c0")
    def q = t.read(spark).agg(
      org.apache.spark.sql.functions.min(col("ts_us")).as("mn"),
      org.apache.spark.sql.functions.max(col("ts_us")).as("mx"))
    val advice = IndexAdvisor.analyze(spark, Seq(q))
    assert(advice.recommendations.exists(r =>
      r.kind == "record_key" && r.tablePath == path),
      s"the winner-file serve needs the index: ${advice.recommendations}")
    assert(advice.recommendations.exists(r =>
      r.kind == "column_stats" && r.column.equalsIgnoreCase("ts_us") &&
        r.tablePath == path),
      s"the pure-file fold needs stats: ${advice.recommendations}")
    IndexAdvisor.createRecommended(spark, advice)
    // Both sidecars present: the shape draws nothing more (settled),
    // and the served answer equals the scan's.
    val after = IndexAdvisor.analyze(spark, Seq(q))
    assert(!after.recommendations.exists(_.tablePath == path),
      s"built sidecars must settle the advice: ${after.recommendations}")
    val expected = eventsUs
      .groupBy(col("user_id"), col("event_type"))
      .agg(org.apache.spark.sql.functions.max(col("ts_us")).as("ts"))
      .agg(org.apache.spark.sql.functions.min(col("ts")),
        org.apache.spark.sql.functions.max(col("ts"))).collect()(0)
    assert(q.collect()(0) == expected)
  }

  test("grouped rollups: stats first, gated cluster, then the serve settles") {
    val path = Files.createTempDirectory("graft_idxadv_grp_").toString + "/t"
    val t = KeyedTable(KeyedTableSpec(
      path = path, keyCols = Seq("event_id"), precombineCol = "ts_us"))
    val ev = eventsUs.withColumn("bucket", col("user_id") % 4)
    t.upsert(spark, ev, commitTime = "c0")
    def q = t.read(spark).groupBy("bucket")
      .agg(count(lit(1)).as("n"), sum(col("event_id")).as("s"))
    val expected = q.collect().toSet
    spark.conf.set("spark.graft.cluster.target.bytes", (2L << 10).toString)
    try {
      // Round 1: no stats yet — the rollup arm wants stats on the group
      // column and the summed column before it can measure the layout.
      val a1 = IndexAdvisor.analyze(spark, Seq(q))
      val k1 = a1.recommendations.map(r => (r.kind, r.column)).toSet
      assert(k1 == Set(("column_stats", "bucket"),
        ("column_stats", "event_id")), s"round 1: $k1")
      IndexAdvisor.createRecommended(spark, a1)
      // Round 2: stats exist and measure an overlapping layout (files
      // straddle bucket values) — the gated cluster rec fires.
      val a2 = IndexAdvisor.analyze(spark, Seq(q))
      assert(a2.recommendations.map(r => (r.kind, r.column)) ==
        Seq(("cluster", "bucket")), s"round 2: ${a2.recommendations}")
      IndexAdvisor.createRecommended(spark, a2)
      // The rollup now hybrid-serves, exactly, and the advice settles.
      assert(q.collect().toSet == expected)
      assert(q.queryExecution.optimizedPlan.collectFirst {
        case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
      }.isDefined, "the clustered rollup must hybrid-serve")
      val a3 = IndexAdvisor.analyze(spark, Seq(q))
      assert(a3.recommendations.isEmpty, s"round 3: ${a3.recommendations}")
      // A HIGH-cardinality group column is gated out (clustering can't
      // make single-valued files when each value's run is under a file).
      def qHigh = t.read(spark).groupBy("event_id")
        .agg(count(lit(1)).as("n"))
      assert(IndexAdvisor.analyze(spark, Seq(qHigh)).recommendations.isEmpty,
        "a per-value run below the file target must recommend nothing")
    } finally spark.conf.unset("spark.graft.cluster.target.bytes")
  }

  test("re-analyzing an unchanged table pays zero full listings and zero data jobs") {
    // The advisor's per-call filesystem budget: on a table whose state
    // has not changed, a repeated analyze() must answer entirely from
    // the version-cached listing + cardinality — no recursive data-file
    // listing, no KMV scan. This is what keeps a periodic advisor loop
    // (analyze every N minutes over hundreds of registered tables)
    // metadata-cheap at 100 TB.
    val path = Files.createTempDirectory("graft_idxadv_fs_").toString + "/t"
    val t = KeyedTable(KeyedTableSpec(
      path = path, keyCols = Seq("event_id"), precombineCol = "ts_us"))
    val ev = eventsUs.withColumn("bucket", col("user_id") % 4)
    t.upsert(spark, ev, commitTime = "c0")
    def q = t.read(spark).groupBy("bucket")
      .agg(count(lit(1)).as("n"), sum(col("event_id")).as("s"))
    spark.conf.set("spark.graft.cluster.target.bytes", (2L << 10).toString)
    spark.conf.set("spark.graft.compact.small.bytes", (1L << 20).toString)
    try {
      val a1 = IndexAdvisor.analyze(spark, Seq(q))
      val n0 = KeyedTable.fullListings.get()
      val a2 = IndexAdvisor.analyze(spark, Seq(q))
      assert(KeyedTable.fullListings.get() == n0,
        "the second analyze on an unchanged table must not re-list")
      assert(a2.recommendations.map(r => (r.kind, r.column)) ==
        a1.recommendations.map(r => (r.kind, r.column)),
        "memoized measurements must not change the advice")
      // A mutation invalidates: the next analyze re-measures.
      t.upsert(spark, ev.filter(col("event_id") % 7 === 0),
        commitTime = "c1")
      val n1 = KeyedTable.fullListings.get()
      IndexAdvisor.analyze(spark, Seq(q))
      assert(KeyedTable.fullListings.get() > n1,
        "a mutated table must be re-listed on the next analyze")
    } finally {
      spark.conf.unset("spark.graft.cluster.target.bytes")
      spark.conf.unset("spark.graft.compact.small.bytes")
    }
  }
}
