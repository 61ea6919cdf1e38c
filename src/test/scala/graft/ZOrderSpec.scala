package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.table.{KeyedTable, KeyedTableSpec}

/** Z-order vs lexicographic clustering, measured through the column-stats
  * index: lexicographic (ts, user) gives tight file ranges on ts but every
  * file spans ~all users, so only ts-predicates skip files; the Morton
  * layout prunes on BOTH columns. Un-partitioned table so file counts are
  * the whole story.
  */
class ZOrderSpec extends SparkTestBase {

  private def freshTable() =
    KeyedTable(KeyedTableSpec(
      path = Files.createTempDirectory("graft_z_").toString + "/t",
      keyCols = Seq("user_id"),
      precombineCol = "ts_us",
      tiebreakCols = Seq("event_id")))

  private def events() =
    graft.sources.Tables.events(spark, sf001)
      .withColumn("ts_us", expr("ts div 1000"))
      .select("event_id", "ts_us", "user_id", "event_type", "value")

  private def prunes(t: KeyedTable, column: String): (Int, Int) = {
    val Array(b) = t.read(spark)
      .agg(min(col(column)).cast("long"), max(col(column)).cast("long"))
      .collect()
    val (mn, mx) = (b.getLong(0), b.getLong(1))
    // a ~10%-of-domain slice in the middle
    val lo = mn + (mx - mn) * 45 / 100
    val hi = mn + (mx - mn) * 55 / 100
    val (sel, total) =
      t.statsCandidates(spark, Seq(graft.table.ColumnRange.inclusive(column, lo, hi))).get
    (sel.length, total)
  }

  test("z-order prunes on both interleaved columns; lexicographic only on the leading one") {
    val lex = freshTable()
    lex.upsert(spark, events(), commitTime = "c0")
    lex.cluster(spark, Seq("ts_us", "user_id"), targetFileBytes = 1L << 10)
    lex.recordColumnStats(spark, Seq("ts_us", "user_id"))

    val z = freshTable()
    z.upsert(spark, events(), commitTime = "c0")
    z.clusterZOrder(spark, Seq("ts_us", "user_id"), targetFileBytes = 1L << 10)
    z.recordColumnStats(spark, Seq("ts_us", "user_id"))

    val (lexTs, lexTotal) = prunes(lex, "ts_us")
    val (lexUser, _) = prunes(lex, "user_id")
    val (zTs, zTotal) = prunes(z, "ts_us")
    val (zUser, _) = prunes(z, "user_id")
    info(s"lex: ts $lexTs/$lexTotal user $lexUser/$lexTotal; " +
      s"z: ts $zTs/$zTotal user $zUser/$zTotal")
    assert(lexTotal > 4 && zTotal > 4, "need several files to compare layouts")
    assert(lexTs < lexTotal, "lexicographic prunes on its leading column")
    assert(lexUser == lexTotal, "lexicographic cannot prune on the second column")
    assert(zTs < zTotal, "z-order prunes on the first column")
    assert(zUser < zTotal, "z-order prunes on the second column too")
  }

  test("three-column z-order prunes on every interleaved column, rows preserved") {
    val z = freshTable()
    z.upsert(spark, events(), commitTime = "c0")
    val before = z.read(spark)
      .select("user_id", "event_type", "ts_us", "event_id", "value")
      .collect().toSet
    z.clusterZOrder(spark, Seq("ts_us", "user_id", "event_id"),
      targetFileBytes = 1L << 10)
    z.recordColumnStats(spark, Seq("ts_us", "user_id", "event_id"))
    val after = z.read(spark)
      .select("user_id", "event_type", "ts_us", "event_id", "value")
      .collect().toSet
    assert(after == before)
    val (ts, total) = prunes(z, "ts_us")
    val (user, _) = prunes(z, "user_id")
    val (eid, _) = prunes(z, "event_id")
    info(s"3-col z: ts $ts/$total user $user/$total event $eid/$total")
    assert(total > 4, "need several files to compare layouts")
    assert(ts < total && user < total && eid < total,
      "the general interleave must prune on all three columns")
  }

  test("composed 2-D prune: conjunctive selection multiplies the per-axis skips, result = full-scan filter") {
    val z = freshTable()
    z.upsert(spark, events(), commitTime = "c0")
    z.clusterZOrder(spark, Seq("ts_us", "user_id"), targetFileBytes = 1L << 10)
    z.recordColumnStats(spark, Seq("ts_us", "user_id"))
    def bounds(column: String): (Long, Long) = {
      val Array(b) = z.read(spark)
        .agg(min(col(column)).cast("long"), max(col(column)).cast("long"))
        .collect()
      val (mn, mx) = (b.getLong(0), b.getLong(1))
      (mn + (mx - mn) * 45 / 100, mn + (mx - mn) * 55 / 100)
    }
    val (tLo, tHi) = bounds("ts_us")
    val (uLo, uHi) = bounds("user_id")
    val ranges = Seq(("ts_us", tLo, tHi), ("user_id", uLo, uHi))
    val (sel2d, total) = z.statsCandidates(spark,
      ranges.map { case (c, l, h) => graft.table.ColumnRange.inclusive(c, l, h) }).get
    val (selTs, _) =
      z.statsCandidates(spark, Seq(graft.table.ColumnRange.inclusive("ts_us", tLo, tHi))).get
    val (selUser, _) =
      z.statsCandidates(spark, Seq(graft.table.ColumnRange.inclusive("user_id", uLo, uHi))).get
    info(s"2-D: ${sel2d.length}/$total vs ts ${selTs.length}, user ${selUser.length}")
    assert(total > 4, "need several files to measure")
    // conjunction can only shrink either axis's selection — and on a
    // Morton layout with ~10% slices per axis it must shrink STRICTLY:
    // the 2-D cell is ~1% of the space, a fraction of either 1-D band
    assert(sel2d.length < math.min(selTs.length, selUser.length),
      "the composed prune must beat both single-axis prunes")
    // pruning is pure I/O elision: pruned read == full scan + filter
    val pruned = z.readPruned(spark, ranges)
      .select("user_id", "event_type", "ts_us", "event_id", "value")
      .collect().toSet
    val full = z.read(spark)
      .filter(col("ts_us").between(tLo, tHi) && col("user_id").between(uLo, uHi))
      .select("user_id", "event_type", "ts_us", "event_id", "value")
      .collect().toSet
    assert(pruned == full)
  }

  test("z-order rewrite preserves rows exactly") {
    val t = freshTable()
    t.upsert(spark, events(), commitTime = "c0")
    val before = t.read(spark)
      .select("user_id", "event_type", "ts_us", "event_id", "value")
      .collect().toSet
    t.clusterZOrder(spark, Seq("ts_us", "user_id"), targetFileBytes = 1L << 10)
    val after = t.read(spark)
      .select("user_id", "event_type", "ts_us", "event_id", "value")
      .collect().toSet
    assert(after == before)
  }
}
