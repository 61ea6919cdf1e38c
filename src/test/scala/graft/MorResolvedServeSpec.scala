package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.table.{KeyedTable, KeyedTableSpec}

/** The resolved-read serving compositions beyond plain aggregates —
  * grouped-by-clustered-DATA-column ([[graft.plans.StatsAggregateRewrite]]'s
  * MoR arm × single-valued classification), count(DISTINCT data col)
  * (winner-file classification × values-union), and ORDER BY ... LIMIT k
  * ([[graft.plans.TopKPruneRewrite]]'s MoR walk). Every test carries the
  * superseded-extremum trap: the interesting value lives in a DEAD file
  * (all rows superseded) that the serve must never open, and the winner
  * that replaced it MIGRATED files (c0b → c1), so any classification
  * shortcut that trusts per-file stats over all versions fails loudly.
  */
class MorResolvedServeSpec extends SparkTestBase {

  private def rows(tuples: (Long, String, Long, Long)*): DataFrame =
    spark.createDataFrame(tuples.toSeq).toDF("id", "grp", "v", "rev")

  /** MoR table clustered by (grp, v): bulk 'a' 1..20 / 'b' 21..40 with
    * v = id, then a TRAP row in its own post-cluster file (c0b), then
    * the correction (c1) — c0b's file is DEAD, the winner migrated to
    * c1's file. Index refreshed, stats recorded.
    */
  private def fixture(
      trap0: (Long, String, Long, Long),
      trap1: (Long, String, Long, Long)): (KeyedTable, String) = {
    val path = Files.createTempDirectory("graft_morserve_").toString + "/t"
    val t = KeyedTable(KeyedTableSpec(
      path = path, keyCols = Seq("id"), precombineCol = "rev",
      retainHistory = true))
    val bulk = (1L to 40L).map(i =>
      (i, if (i <= 20) "a" else "b", i, 0L))
    t.upsert(spark, rows(bulk: _*), commitTime = "c0")
    t.cluster(spark, Seq("grp", "v"), targetFileBytes = 1L << 10)
    t.upsert(spark, rows(trap0), commitTime = "c0b")
    t.recordKeyIndex(spark)
    t.upsert(spark, rows(trap1), commitTime = "c1")
    t.refreshRecordKeyIndex(spark)
    t.recordColumnStats(spark, Seq("grp", "v"))
    // the dead file: the one whose stats still carry the trap value
    val dead = new org.apache.hadoop.fs.Path(
      spark.read.parquet(s"$path/_graft_colstats")
        .filter(col("max_v") === trap0._3)
        .select("file").collect()(0).getString(0)).getName
    (t, dead)
  }

  private def dataScans(df: DataFrame): Seq[String] =
    graft.plans.PlanWalk.scannedFiles(df).filterNot(_.contains("/_graft_"))

  test("grouped resolved aggregate over a clustered DATA column: fold × purity, dead file never opens") {
    val (t, dead) = fixture(
      trap0 = (999L, "a", 999999L, 0L),
      trap1 = (999L, "a", 5L, 1L))
    def q = t.read(spark).groupBy(col("grp")).agg(
      min(col("v")).as("mn"), max(col("v")).as("mx"),
      sum(col("v")).as("s"), count(lit(1)).as("n"))
    val expect = Set(
      org.apache.spark.sql.Row("a", 1L, 20L, (1L to 20L).sum + 5L, 21L),
      org.apache.spark.sql.Row("b", 21L, 40L, (21L to 40L).sum, 20L))
    assert(q.collect().toSet == expect,
      "the superseded 999999 must never surface as group a's max")
    val scanned = dataScans(q)
    assert(!scanned.exists(_.endsWith(dead)), "the dead file must not open")
    val total = spark.read.parquet(s"${t.spec.path}/_graft_colstats").count()
    assert(scanned.size < total,
      s"pure single-valued files must fold, got $scanned of $total")
    // Control: grouping by an UNPROJECTED data column still declines.
    t.read(spark).createOrReplaceTempView("morserve_grp")
    val qUnproj = spark.sql(
      "SELECT min(v) AS mn FROM morserve_grp GROUP BY grp")
    assert(qUnproj.collect().map(_.getLong(0)).toSet == Set(1L, 21L))
  }

  test("resolved count(DISTINCT data col): superseded-only value vanishes, live trap value counts") {
    // trap doc's c0 grp 'z' is UNIQUE and fully superseded by the c1
    // correction to 'a' — the distinct count must not include 'z'.
    val (t, dead) = fixture(
      trap0 = (999L, "z", 50L, 0L),
      trap1 = (999L, "a", 5L, 1L))
    def q = t.read(spark).agg(countDistinct(col("grp")).as("n"))
    assert(q.collect()(0).getLong(0) == 2L,
      "the superseded-only 'z' must vanish from the distinct count")
    // the dead file here is the one carrying grp bounds 'z' (v = 50
    // also only lives there, so the max_v probe still finds it)
    assert(!dataScans(q).exists(_.endsWith(dead)),
      "the dead file must not open")
    // The serve equals the explicit resolve computed by hand.
    val resolved = t.read(spark).select("grp").distinct()
      .collect().map(_.getString(0)).toSet
    assert(resolved == Set("a", "b"))
    // FILTERED distinct (the q194 classification × winner purity): the
    // range [35, 60] contains the DEAD trap value v = 50 — the dead
    // file must neither open nor resurrect 'z'; only 'b' has live rows
    // in range.
    def qf = t.read(spark).filter(col("v") >= 35L && col("v") <= 60L)
      .agg(countDistinct(col("grp")).as("n"))
    assert(qf.collect()(0).getLong(0) == 1L,
      "the in-range superseded value must not resurrect its language")
    assert(!dataScans(qf).exists(_.endsWith(dead)),
      "the dead file must not open under the range either")
    // A range covering both groups stays exact.
    def qw = t.read(spark).filter(col("v") >= 1L && col("v") <= 30L)
      .agg(countDistinct(col("grp")).as("n"))
    assert(qw.collect()(0).getLong(0) == 2L)
    // The no-aggregate SELECT DISTINCT serves the value SET through the
    // same union: 'z' absent, both live groups present, dead file shut.
    def qs = t.read(spark).select("grp").distinct()
    assert(qs.collect().map(_.getString(0)).toSet == Set("a", "b"),
      "the superseded-only 'z' must be absent from the value set")
    assert(!dataScans(qs).exists(_.endsWith(dead)),
      "the dead file must not open for the value-set serve")
  }

  test("resolved ORDER BY ... LIMIT k: walk prunes, dead extremum never surfaces") {
    // trap: the c0 global max of v (999999) is corrected down to 0 —
    // ORDER BY v DESC must answer from live rows only.
    val (t, dead) = fixture(
      trap0 = (999L, "b", 999999L, 0L),
      trap1 = (999L, "b", 0L, 1L))
    def q = t.read(spark)
      .orderBy(col("v").desc, col("id").desc)
      .limit(3)
      .select("id", "grp", "v")
    assert(q.collect().map(r => (r.getLong(0), r.getLong(2))).toSeq ==
      Seq((40L, 40L), (39L, 39L), (38L, 38L)),
      "the superseded 999999 must never surface in the top-k")
    val scanned = dataScans(q)
    assert(!scanned.exists(_.endsWith(dead)), "the dead file must not open")
    val total = spark.read.parquet(s"${t.spec.path}/_graft_colstats").count()
    assert(scanned.size < total,
      s"the walk must prune low-value files, got $scanned of $total")
    // ascending + tiebreak: the corrected row itself (v = 0) leads.
    def qa = t.read(spark)
      .orderBy(col("v").asc, col("id").asc)
      .limit(2)
      .select("id", "v")
    assert(qa.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((999L, 0L), (1L, 1L)))
    // IN-filtered walk over the clustered data column: only 'a's files
    // accumulate/keep; 'b' (and the dead trap file) never open.
    def qi = t.read(spark).filter(col("grp").isin("a"))
      .orderBy(col("v").desc, col("id").desc).limit(3).select("id", "v")
    assert(qi.collect().map(_.getLong(0)).toSeq == Seq(20L, 19L, 18L))
    assert(!dataScans(qi).exists(_.endsWith(dead)))
    // range-filtered walk: the bound caps the kept set from above too.
    def qv = t.read(spark).filter(col("v") <= 30L)
      .orderBy(col("v").desc, col("id").desc).limit(3).select("id", "v")
    assert(qv.collect().map(_.getLong(0)).toSeq == Seq(30L, 29L, 28L))
    assert(!dataScans(qv).exists(_.endsWith(dead)))
  }

  test("resolved top-k under a computed column named like a table column: the computed values survive") {
    val (t, _) = fixture(
      trap0 = (999L, "b", 999999L, 0L),
      trap1 = (999L, "b", 0L, 1L))
    // `rev` here is v + 1000, not the stored precombine column: the
    // winner rows must not stand in for it.
    def q = t.read(spark)
      .select(col("id"), col("v"), (col("v") + 1000L).as("rev"))
      .orderBy(col("v").desc, col("id").desc).limit(3)
    assert(q.collect().map(r => (r.getLong(0), r.getLong(2))).toSeq ==
      Seq((40L, 1040L), (39L, 1039L), (38L, 1038L)))
  }

  test("partition-filtered resolved top-k: other partitions never open, dead extremum stays dead") {
    val path = Files.createTempDirectory("graft_morservep_").toString + "/t"
    val t = KeyedTable(KeyedTableSpec(
      path = path, keyCols = Seq("id"), precombineCol = "rev",
      partitionCols = Seq("day"), retainHistory = true))
    def prows(tuples: (Long, String, Long, Long)*) =
      spark.createDataFrame(tuples.toSeq).toDF("id", "day", "v", "rev")
    val bulk = (1L to 40L).map(i =>
      (i, if (i <= 20) "d1" else "d2", i, 0L))
    t.upsert(spark, prows(bulk: _*), commitTime = "c0")
    t.cluster(spark, Seq("v"), targetFileBytes = 1L << 10)
    // trap INSIDE the filtered partition: its dead file must not open
    t.upsert(spark, prows((999L, "d1", 999999L, 0L)), commitTime = "c0b")
    t.recordKeyIndex(spark)
    t.upsert(spark, prows((999L, "d1", 0L, 1L)), commitTime = "c1")
    t.refreshRecordKeyIndex(spark)
    t.recordColumnStats(spark, Seq("v"))
    def q = t.read(spark).filter(col("day") === "d1")
      .orderBy(col("v").desc, col("id").desc)
      .limit(3)
      .select("id", "day", "v")
    assert(q.collect().map(r => (r.getLong(0), r.getLong(2))).toSeq ==
      Seq((20L, 20L), (19L, 19L), (18L, 18L)),
      "d1's top-3 must come from live rows only")
    val scanned = dataScans(q)
    assert(!scanned.exists(_.contains("day=d2")),
      s"the filtered-out partition must never open, got $scanned")
    val dead = new org.apache.hadoop.fs.Path(
      spark.read.parquet(s"$path/_graft_colstats")
        .filter(col("max_v") === 999999L)
        .select("file").collect()(0).getString(0)).getName
    assert(!scanned.exists(_.endsWith(dead)), "the dead file must not open")
    // Control: a non-partition extra conjunct declines to the full
    // resolve, exactly.
    def qr = t.read(spark).filter(col("v") > 5L)
      .orderBy(col("v").desc, col("id").desc).limit(3).select("id", "v")
    assert(qr.collect().map(_.getLong(0)).toSeq == Seq(40L, 39L, 38L))
  }

  test("grouped resolved top-k: per-group walk prunes, dead group extremum never surfaces") {
    // trap: group a's c0 max (999999) is corrected down to 5 — the 'a'
    // leaderboard must come from live rows only; the winner MIGRATED
    // from the dead c0b file to c1's.
    val (t, dead) = fixture(
      trap0 = (999L, "a", 999999L, 0L),
      trap1 = (999L, "a", 5L, 1L))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("grp").orderBy(col("v").desc, col("id").desc)
    def q = t.read(spark)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select("id", "grp", "v", "rk")
    val expect = Set(
      ("a", 20L, 1), ("a", 19L, 2), ("a", 18L, 3),
      ("b", 40L, 1), ("b", 39L, 2), ("b", 38L, 3))
    assert(q.collect().map(r =>
      (r.getString(1), r.getLong(2), r.getInt(3))).toSet == expect,
      "the superseded 999999 must never lead group a's leaderboard")
    val scanned = dataScans(q)
    assert(!scanned.exists(_.endsWith(dead)), "the dead file must not open")
    val total = spark.read.parquet(s"${t.spec.path}/_graft_colstats").count()
    assert(scanned.size < total,
      s"per-group walks must prune low-value files, got $scanned of $total")
    // ascending: the migrated winner itself (v = 5) ranks in group a.
    val wa = org.apache.spark.sql.expressions.Window
      .partitionBy("grp").orderBy(col("v").asc, col("id").asc)
    def qa = t.read(spark)
      .withColumn("rk", row_number().over(wa))
      .filter(col("rk") <= 2)
      .select("id", "grp", "v")
    assert(qa.collect().map(r => (r.getString(1), r.getLong(2))).toSet ==
      Set(("a", 1L), ("a", 2L), ("b", 21L), ("b", 22L)),
      "ascending walks mirror (v=5 ranks 3rd in a, so outside rk<=2)")
    // The ELIGIBILITY RANGE composes (v > 5 classifies against the
    // stats): the dead 999999 is IN range and must still never
    // surface; group a's live trap row (v = 5) is ineligible.
    def qf = t.read(spark).filter(col("v") > 5L)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 2)
      .select("grp", "v")
    assert(qf.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("a", 20L), ("a", 19L), ("b", 40L), ("b", 39L)),
      "in-range dead extremum must stay dead; ineligible live row must not rank")
    assert(!dataScans(qf).exists(_.endsWith(dead)),
      "the dead file must stay shut under the eligibility range")
    // An ineligible-range query whose band contains ONLY the dead
    // value: every group's board is empty.
    def qe = t.read(spark).filter(col("v") >= 100000L)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 2)
      .select("grp", "v")
    assert(qe.collect().isEmpty,
      "a band holding only the superseded version must return nothing")
    // Page 2 (rk > 1 AND rk <= 2): the above-window page slice stays
    // residual, the walk runs at the outer bound — second-ranked rows
    // only, dead file still shut.
    def qp = t.read(spark)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") > 1 && col("rk") <= 2)
      .select("grp", "v")
    assert(qp.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("a", 19L), ("b", 39L)))
    assert(!dataScans(qp).exists(_.endsWith(dead)))
    // Control: a non-range conjunct BELOW the rank window declines to
    // the full resolve, exactly.
    def qd = t.read(spark).filter(col("v") % 2 === 0)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 2)
      .select("grp", "v")
    assert(qd.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("a", 20L), ("a", 18L), ("b", 40L), ("b", 38L)))
  }

  test("above-rank-window partition conjunct on a NON-group column stays residual (MoR)") {
    // MoR table hive-partitioned by src, leaderboard PARTITION BY grp
    // (a clustered data column): a src conjunct ABOVE the rank window
    // is filter-AFTER-rank — pruning the other src's files before
    // ranking would recompute ranks within one src. v = id, src = web
    // iff even: grp a's global top-3 is 20(web) 19(book) 18(web), so
    // the web filter must keep ranks 1 and 3, never renumber to 1 2 3.
    val path = Files.createTempDirectory("graft_morserve_aw_").toString + "/t"
    val t = KeyedTable(KeyedTableSpec(
      path = path, keyCols = Seq("id"), precombineCol = "rev",
      partitionCols = Seq("src"), retainHistory = true))
    val bulk = (1L to 40L).map(i => (i, if (i <= 20) "a" else "b", i, 0L,
      if (i % 2 == 0) "web" else "book"))
    t.upsert(spark,
      spark.createDataFrame(bulk).toDF("id", "grp", "v", "rev", "src"),
      commitTime = "c0")
    t.cluster(spark, Seq("grp", "v"), targetFileBytes = 1L << 10)
    t.recordKeyIndex(spark)
    t.recordColumnStats(spark, Seq("grp", "v"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("grp").orderBy(col("v").desc, col("id").desc)
    def q = t.read(spark)
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
      .filter(col("src") === "web")
      .select("grp", "v", "rk")
    assert(q.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getInt(2))).toSet ==
      Set(("a", 20L, 1), ("a", 18L, 3), ("b", 40L, 1), ("b", 38L, 3)),
      "ranks must be computed across src partitions, then filtered")
  }

  test("the advisor recommends the grouped MoR top-k chain for partition groups; building it serves") {
    val path = Files.createTempDirectory("graft_morservgtk_").toString + "/t"
    val t = KeyedTable(KeyedTableSpec(
      path = path, keyCols = Seq("id"), precombineCol = "rev",
      partitionCols = Seq("day"), retainHistory = true))
    def prows(tuples: (Long, String, Long, Long)*) =
      spark.createDataFrame(tuples.toSeq).toDF("id", "day", "v", "rev")
    val bulk = (1L to 40L).map(i =>
      (i, if (i <= 20) "d1" else "d2", i, 0L))
    t.upsert(spark, prows(bulk: _*), commitTime = "c0")
    t.cluster(spark, Seq("v"), targetFileBytes = 1L << 10)
    // dead-extremum trap inside d1
    t.upsert(spark, prows((999L, "d1", 999999L, 0L)), commitTime = "c0b")
    t.upsert(spark, prows((999L, "d1", 0L, 1L)), commitTime = "c1")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("day").orderBy(col("v").desc, col("id").desc)
    def q = t.read(spark)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 2)
      .select("id", "day", "v")
    // No index, no stats: the advisor recommends BOTH halves of the
    // chain in one round (advice ≡ serveability).
    val a1 = graft.plans.IndexAdvisor.analyze(spark, Seq(q))
    val k1 = a1.recommendations.map(r => (r.kind, r.column)).toSet
    assert(k1.contains(("record_key", "id")) &&
      k1.contains(("column_stats", "v")), s"round 1: $k1")
    graft.plans.IndexAdvisor.createRecommended(spark, a1)
    val scanned = dataScans(q)
    assert(scanned.nonEmpty && scanned.size <
      spark.read.parquet(s"$path/_graft_colstats").count(),
      s"the built chain must let the per-group walk prune, got $scanned")
    assert(q.collect().map(r => (r.getString(1), r.getLong(2))).toSet ==
      Set(("d1", 20L), ("d1", 19L), ("d2", 40L), ("d2", 39L)),
      "each day's top-2 must come from live rows only")
    val dead = new org.apache.hadoop.fs.Path(
      spark.read.parquet(s"$path/_graft_colstats")
        .filter(col("max_v") === 999999L)
        .select("file").collect()(0).getString(0)).getName
    assert(!dataScans(q).exists(_.endsWith(dead)),
      "the dead file must not open")
    val a2 = graft.plans.IndexAdvisor.analyze(spark, Seq(q))
    assert(!a2.recommendations.exists(r =>
      r.kind == "record_key" || (r.kind == "column_stats" && r.column == "v")),
      s"served chain must settle: ${a2.recommendations}")
    // A partition POINT conjunct composes: whole groups (and whole
    // winners) drop before the per-group walk; d2's files never open
    // and d1's leaderboard is unchanged.
    def qf = t.read(spark).filter(col("day") === "d1")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 2)
      .select("id", "day", "v")
    assert(qf.collect().map(r => (r.getString(1), r.getLong(2))).toSet ==
      Set(("d1", 20L), ("d1", 19L)))
    val fScanned = dataScans(qf)
    assert(fScanned.nonEmpty && !fScanned.exists(_.contains("day=d2")),
      s"the filtered-out partition must never open, got $fScanned")
    assert(!fScanned.exists(_.endsWith(dead)),
      "the dead file must stay shut under the partition filter")
  }

  test("the advisor recommends the MoR top-k chain; building it serves the walk") {
    val path = Files.createTempDirectory("graft_morservadv_").toString + "/t"
    val t = KeyedTable(KeyedTableSpec(
      path = path, keyCols = Seq("id"), precombineCol = "rev",
      retainHistory = true))
    val bulk = (1L to 40L).map(i => (i, "a", i, 0L))
    t.upsert(spark, spark.createDataFrame(bulk)
      .toDF("id", "grp", "v", "rev"), commitTime = "c0")
    t.cluster(spark, Seq("v"), targetFileBytes = 1L << 10)
    def q = t.read(spark).orderBy(col("v").desc, col("id").desc)
      .limit(3).select("id", "v")
    // No index, no stats: the advisor recommends BOTH halves of the
    // chain in one round (advice ≡ serveability).
    val a1 = graft.plans.IndexAdvisor.analyze(spark, Seq(q))
    val k1 = a1.recommendations.map(r => (r.kind, r.column)).toSet
    assert(k1.contains(("record_key", "id")) &&
      k1.contains(("column_stats", "v")), s"round 1: $k1")
    graft.plans.IndexAdvisor.createRecommended(spark, a1)
    // The walk now prunes; answers stay exact; the advice settles.
    val scanned = dataScans(q)
    assert(scanned.nonEmpty && scanned.size <
      spark.read.parquet(s"$path/_graft_colstats").count(),
      s"the built chain must let the walk prune, got $scanned")
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(40L, 39L, 38L))
    val a2 = graft.plans.IndexAdvisor.analyze(spark, Seq(q))
    assert(!a2.recommendations.exists(r =>
      r.kind == "record_key" || (r.kind == "column_stats" && r.column == "v")),
      s"served chain must settle: ${a2.recommendations}")
  }

  test("the advisor recommends stats on a resolved top-k's filter column; building them serves the walk") {
    val path = Files.createTempDirectory("graft_morservnn_").toString + "/t"
    val t = KeyedTable(KeyedTableSpec(
      path = path, keyCols = Seq("id"), precombineCol = "rev",
      retainHistory = true))
    // x is null on the ten lowest v only: the high-v files are FULL
    // under x IS NOT NULL, so their counts bound the walk.
    val bulk = (1L to 40L).map(i =>
      (i, if (i <= 10) None else Some(i * 10), i, 0L))
    t.upsert(spark, spark.createDataFrame(bulk)
      .toDF("id", "x", "v", "rev"), commitTime = "c0")
    t.cluster(spark, Seq("v"), targetFileBytes = 1L << 10)
    def q = t.read(spark).filter(col("x").isNotNull)
      .orderBy(col("v").desc, col("id").desc).limit(3).select("id", "v")
    // The walk classifies files by every filter column's stats, so the
    // chain includes stats on x, not only on the sort column.
    val a1 = graft.plans.IndexAdvisor.analyze(spark, Seq(q))
    val k1 = a1.recommendations.map(r => (r.kind, r.column)).toSet
    assert(Set(("record_key", "id"), ("column_stats", "v"), ("column_stats", "x"))
      .subsetOf(k1), s"round 1: $k1")
    graft.plans.IndexAdvisor.createRecommended(spark, a1)
    val scanned = dataScans(q)
    assert(scanned.nonEmpty && scanned.size <
      spark.read.parquet(s"$path/_graft_colstats").count(),
      s"the built chain must let the walk prune, got $scanned")
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(40L, 39L, 38L))
    val a2 = graft.plans.IndexAdvisor.analyze(spark, Seq(q))
    assert(!a2.recommendations.exists(r =>
      r.kind == "record_key" || r.kind == "column_stats"),
      s"served chain must settle: ${a2.recommendations}")
  }
}
