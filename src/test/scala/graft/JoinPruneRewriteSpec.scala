package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.{Window => W}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.table.{KeyedTable, KeyedTableSpec}

/** [[graft.plans.JoinPruneRewrite]]: a star join whose dim side carries a
  * point probe must scan only the FACT files the index family selects
  * for the matching dim join keys — identical results to the unpruned
  * join, on stale indexes — and decline on merge-on-read facts,
  * windowed fact sides, oversized probes, and absent sidecars.
  */
class JoinPruneRewriteSpec extends SparkTestBase {
  import spark.implicits._

  private def eventsUs =
    Tables.events(spark, sf0001).withColumn("ts_us", expr("ts div 1000"))

  /** COW fact keyed by the unique event id, CLUSTERED on user_id (the
    * join column — without locality every file holds every user and
    * there is nothing to prune), secondary index on user_id, STALE: the
    * odd half of the events lands after the index build.
    */
  private def buildFact(path: String): KeyedTable = {
    val fact = KeyedTable(KeyedTableSpec(
      path = path, keyCols = Seq("event_id"), precombineCol = "ts_us",
      partitionCols = Seq("event_type")))
    val ev = eventsUs
    fact.upsert(spark, ev.filter(col("event_id") % 2 === 0), commitTime = "c0")
    fact.cluster(spark, Seq("user_id"), targetFileBytes = 16L << 10)
    fact.recordIndexes(spark, Seq("user_id"))
    fact.insert(spark, ev.filter(col("event_id") % 2 === 1), commitTime = "c1")
    fact
  }

  /** Dim: one row per user with a low-cardinality tier attribute. */
  private def buildDim(path: String, siCols: Seq[String]): KeyedTable = {
    val dim = KeyedTable(KeyedTableSpec(
      path = path, keyCols = Seq("user_id"), precombineCol = "tier"))
    // Fine tiers: the sf0.001 fixture has ~15 distinct users, so a
    // coarse tier would select a fifth of the fact table and leave
    // nothing to prune — %16 keeps the probe point-shaped.
    val users = eventsUs.select("user_id").distinct()
      .withColumn("tier", (col("user_id") % 16).cast("long"))
    dim.upsert(spark, users, commitTime = "c0")
    if (siCols.nonEmpty) dim.recordIndexes(spark, siCols)
    dim
  }

  /** The fact-side scan roots: file-granular iff the rewrite fired (the
    * pruned index lists .parquet files; an unpruned relation roots at
    * the table directory).
    */
  private def factScan(df: DataFrame, factPath: String): Seq[String] =
    graft.plans.PlanWalk.scannedFiles(df).filter(_.contains(
      new java.io.File(factPath).getName))

  private def prunedTo(df: DataFrame, factPath: String): Option[Int] = {
    val roots = factScan(df, factPath)
    if (roots.nonEmpty && roots.forall(_.endsWith(".parquet")))
      Some(roots.length)
    else None
  }

  private def outputSet(df: DataFrame): Set[(Long, Long, Long)] =
    df.select("event_id", "user_id", "tier")
      .as[(Long, Long, Long)].collect().toSet

  test("inner join with a dim KEY probe prunes the fact scan, exact") {
    val tmp = Files.createTempDirectory("graft_jpr_a_").toString
    val fact = buildFact(s"$tmp/fact")
    val dim = buildDim(s"$tmp/dim", Nil)
    val ids = eventsUs.select("user_id").distinct()
      .filter(col("user_id") % 13 === 3).as[Long].collect().toSeq.sorted.take(12)
    def q = {
      val f = fact.read(spark)
      val d = dim.read(spark).filter(col("user_id").isin(ids: _*))
      f.join(d, f("user_id") === d("user_id"))
        .select(f("event_id"), d("user_id"), d("tier"))
    }
    val served = q
    val pruned = prunedTo(served, s"$tmp/fact")
    assert(pruned.isDefined, "the fact scan must be served from candidate files")
    val total = fact.read(spark).inputFiles.length
    assert(pruned.get < total, s"must prune: ${pruned.get} of $total")
    // Ground truth from the lookup API (same index family, API-side).
    val expected = outputSet {
      val d = dim.read(spark).filter(col("user_id").isin(ids: _*))
      val f = fact.lookupByColumn(spark, "user_id", ids)
      f.join(d, f("user_id") === d("user_id"))
        .select(f("event_id"), d("user_id"), d("tier"))
    }
    assert(outputSet(served) == expected)
  }

  test("dim SECONDARY probe derives keys through its sidecar and serves") {
    val tmp = Files.createTempDirectory("graft_jpr_b_").toString
    val fact = buildFact(s"$tmp/fact")
    val dim = buildDim(s"$tmp/dim", Seq("tier"))
    def q = {
      val f = fact.read(spark)
      val d = dim.read(spark).filter(col("tier") === 2L)
      f.join(d, f("user_id") === d("user_id"))
        .select(f("event_id"), d("user_id"), d("tier"))
    }
    val served = q
    assert(prunedTo(served, s"$tmp/fact").isDefined,
      "a non-key dim probe with a secondary sidecar must serve")
    val matching = eventsUs.select("user_id").distinct()
      .filter(col("user_id") % 16 === 2).as[Long].collect().toSeq
    val expected = outputSet {
      val d = dim.read(spark).filter(col("tier") === 2L)
      val f = fact.read(spark).filter(col("user_id").isin(matching: _*))
      f.join(d, f("user_id") === d("user_id"))
        .select(f("event_id"), d("user_id"), d("tier"))
    }
    assert(outputSet(served) == expected)
    // Without the dim sidecar the same shape declines (never a plan-time
    // dim scan).
    val dimBare = buildDim(s"$tmp/dim2", Nil)
    val f2 = fact.read(spark)
    val d2 = dimBare.read(spark).filter(col("tier") === 2L)
    val bare = f2.join(d2, f2("user_id") === d2("user_id"))
      .select(f2("event_id"), d2("user_id"), d2("tier"))
    assert(prunedTo(bare, s"$tmp/fact").isEmpty,
      "absent dim sidecar must decline")
  }

  test("dim RANGE probe derives keys from a stats-pruned dim scan and serves") {
    val tmp = Files.createTempDirectory("graft_jpr_rng_").toString
    // FRESH-indexed fact (no post-build delta): at the 15-user fixture
    // scale a stale delta puts every probe user in every delta file and
    // leaves nothing to prune -- delta settling is the point-arm tests'
    // subject, the range arm's subject is the dim-side derivation.
    val fact = KeyedTable(KeyedTableSpec(
      path = s"$tmp/fact", keyCols = Seq("event_id"), precombineCol = "ts_us",
      partitionCols = Seq("event_type")))
    fact.upsert(spark, eventsUs, commitTime = "c0")
    fact.cluster(spark, Seq("user_id"), targetFileBytes = 16L << 10)
    fact.recordIndexes(spark, Seq("user_id"))
    // A 1000-row dim keyed by event_id carrying user_id as a NON-key
    // attribute — the range arm scans real rows, so the joined column
    // need not be a dim key. Clustered by the probed measure so the
    // stats bound the plan-time derivation scan.
    def mkDim(path: String, cluster: Boolean, stats: Boolean): KeyedTable = {
      val d = KeyedTable(KeyedTableSpec(
        path = path, keyCols = Seq("event_id"), precombineCol = "ts_us"))
      d.upsert(spark, eventsUs.select("event_id", "user_id", "ts_us"),
        commitTime = "c0")
      if (cluster) d.cluster(spark, Seq("event_id"), targetFileBytes = 4L << 10)
      if (stats) d.recordColumnStats(spark, Seq("event_id"))
      d
    }
    val dim = mkDim(s"$tmp/dim", cluster = true, stats = true)
    def q(d0: KeyedTable) = {
      val f = fact.read(spark)
      val d = d0.read(spark).filter(col("event_id").between(100L, 101L))
      f.join(d, f("user_id") === d("user_id"))
        .select(f("event_id").as("fe"), d("user_id"), d("event_id").as("de"))
    }
    val served = q(dim)
    assert(prunedTo(served, s"$tmp/fact").isDefined,
      "a stats-covered dim range probe must prune the fact scan")
    val dslice = eventsUs.filter(col("event_id").between(100L, 101L))
      .select(col("user_id"), col("event_id").as("de"))
    val expected = eventsUs.select(col("event_id").as("fe"), col("user_id"))
      .join(dslice, "user_id")
      .select("fe", "user_id", "de")
      .as[(Long, Long, Long)].collect().toSet
    assert(served.select("fe", "user_id", "de")
      .as[(Long, Long, Long)].collect().toSet == expected)

    // No dim stats: the derivation would be a plan-time full dim scan —
    // decline.
    val bare = mkDim(s"$tmp/dim_bare", cluster = true, stats = false)
    assert(prunedTo(q(bare), s"$tmp/fact").isEmpty,
      "absent dim stats must decline the range arm")
    // Unclustered dim: stats exist but every file spans the probed
    // domain (candidates == total) — the cost gate declines.
    val flat = mkDim(s"$tmp/dim_flat", cluster = false, stats = true)
    assert(prunedTo(q(flat), s"$tmp/fact").isEmpty,
      "an unpruning stats selection must decline the range arm")
    // An empty probe window empties the join: zero fact files open.
    val f3 = fact.read(spark)
    val d3 = dim.read(spark).filter(col("event_id").between(-100L, -50L))
    val empty = f3.join(d3, f3("user_id") === d3("user_id"))
      .select(f3("event_id").as("fe"))
    assert(empty.count() == 0L)
  }

  test("dim RANGE probe past the key cap declines even when a null rides the window") {
    val tmp = Files.createTempDirectory("graft_jpr_cap_").toString
    // One fact file per user: the fact scan prunes to exactly the
    // derived users' files, so a key missing from the derivation is a
    // user missing from the join.
    val fact = KeyedTable(KeyedTableSpec(
      path = s"$tmp/fact", keyCols = Seq("u"), precombineCol = "rev",
      partitionCols = Seq("p")))
    val factRows = spark.range(1L, 151L).select(
      col("id").as("u"), (col("id") * 10).as("v"), lit(0L).as("rev"),
      col("id").as("p"))
    fact.upsert(spark, factRows, commitTime = "c0")
    fact.recordKeyIndex(spark)
    // Dim keyed by d_id with u as a non-key attribute: d_id 0 carries a
    // null u, d_id 1..129 carry 129 distinct users, and d_id ≥ 1000
    // fills files the probe window never touches.
    val dim = KeyedTable(KeyedTableSpec(
      path = s"$tmp/dim", keyCols = Seq("d_id"), precombineCol = "rev"))
    val dimRows = spark.range(0L, 130L)
      .union(spark.range(1000L, 1300L))
      .select(col("id").as("d_id"),
        when(col("id") === 0L, lit(null).cast("long"))
          .when(col("id") < 1000L, col("id"))
          .otherwise(col("id") % 150 + 1).as("u"),
        lit(0L).as("rev"))
    dim.upsert(spark, dimRows, commitTime = "c0")
    dim.cluster(spark, Seq("d_id"), targetFileBytes = 1L << 10)
    dim.recordColumnStats(spark, Seq("d_id"))
    val f = fact.read(spark)
    val d = dim.read(spark).filter(col("d_id").between(0L, 129L))
    val joined = f.join(d, f("u") === d("u")).select(f("u"), f("v"), d("d_id"))
    val got = joined.as[(Long, Long, Long)].collect().toSet
    // 129 derived keys exceed the cap: the join must scan, not drop users.
    val missing = (1L to 129L).filterNot(u => got.contains((u, u * 10, u)))
    assert(missing.isEmpty, s"users missing from the join: $missing")
    assert(got.size == 129)
  }

  test("left-semi joins prune the output side") {
    val tmp = Files.createTempDirectory("graft_jpr_semi_").toString
    val fact = buildFact(s"$tmp/fact")
    val dim = buildDim(s"$tmp/dim", Nil)
    val ids = eventsUs.select("user_id").distinct()
      .filter(col("user_id") % 17 === 1).as[Long].collect().toSeq.take(8)
    val f = fact.read(spark)
    val d = dim.read(spark).filter(col("user_id").isin(ids: _*))
    val served = f.join(d, f("user_id") === d("user_id"), "left_semi")
    assert(prunedTo(served, s"$tmp/fact").isDefined, "semi join must serve")
    val expected = fact.read(spark).filter(col("user_id").isin(ids: _*))
      .select("event_id").as[Long].collect().toSet
    assert(served.select("event_id").as[Long].collect().toSet == expected)
  }

  test("MoR fact through the resolve serves key-guarded; superseded versions never leak") {
    val tmp = Files.createTempDirectory("graft_jpr_mor_").toString
    def frows(tuples: (Long, Long, Long, Long)*) =
      spark.createDataFrame(tuples.toSeq).toDF("id", "fk", "v", "rev")
    val fact = KeyedTable(KeyedTableSpec(
      path = s"$tmp/fact", keyCols = Seq("id"), precombineCol = "rev",
      retainHistory = true))
    // bulk: fk = id % 4 + 1; the TRAP key 998's c0 version carries fk=1
    // (it lands in the fk=1 cluster run beside live fk=1 winners), the
    // c1 winner migrates it to fk=2 — a pruned resolve WITHOUT the key
    // guard would resolve 998 locally in the kept fk=1 file and leak
    // the dead (998, fk=1) row into the probe's join.
    val bulk = (1L to 40L).map(i => (i, i % 4 + 1, i, 0L))
    fact.upsert(spark, frows(bulk :+ ((998L, 1L, 111L, 0L)): _*),
      commitTime = "c0")
    fact.cluster(spark, Seq("fk"), targetFileBytes = 1L << 10)
    fact.upsert(spark, frows((998L, 2L, 222L, 1L)), commitTime = "c1")
    fact.recordIndexes(spark, Seq("fk"))
    val dim = KeyedTable(KeyedTableSpec(
      path = s"$tmp/dimk", keyCols = Seq("k"), precombineCol = "krev"))
    dim.upsert(spark, spark.createDataFrame(
        (1L to 4L).map(k => (k, s"t$k", 0L)))
      .toDF("k", "tag", "krev"), commitTime = "c0")

    // Non-key joined fact column (fk): value→keys→files through the
    // fact's secondary sidecar, guard on the derived keys.
    def q = {
      val f = fact.read(spark)
      val d = dim.read(spark).filter(col("k") === 1L)
      f.join(d, f("fk") === d("k")).select(f("id"), f("fk"), f("v"))
    }
    assert(prunedTo(q, s"$tmp/fact").isDefined,
      "the resolved fact must serve through the key chain")
    val got = q.as[(Long, Long, Long)].collect().toSet
    val expect = (1L to 40L).filter(_ % 4 + 1 == 1L).map(i => (i, 1L, i)).toSet
    assert(got == expect,
      s"the dead (998, fk=1) version must never leak, got $got")

    // Key-covering join (fact.id = dim2.d_id): keys→files directly,
    // tuple guard; the trap key IS probed — its WINNER must surface.
    val dim2 = KeyedTable(KeyedTableSpec(
      path = s"$tmp/dim2", keyCols = Seq("d_id"), precombineCol = "drev"))
    dim2.upsert(spark, spark.createDataFrame(
        Seq((4L, "x", 0L), (8L, "x", 0L), (998L, "x", 0L)))
      .toDF("d_id", "dtag", "drev"), commitTime = "c0")
    dim2.recordIndexes(spark, Seq("dtag"))
    def q2 = {
      val f = fact.read(spark)
      val d = dim2.read(spark).filter(col("dtag") === "x")
      f.join(d, f("id") === d("d_id")).select(f("id"), f("fk"), f("v"))
    }
    assert(prunedTo(q2, s"$tmp/fact").isDefined,
      "the key-covering resolved join must serve")
    assert(q2.as[(Long, Long, Long)].collect().toSet ==
      Set((4L, 1L, 4L), (8L, 1L, 8L), (998L, 2L, 222L)),
      "the probed trap key must resolve to its live winner")
  }

  test("MoR fact × RANGE-probed dim: the guard composes with the bounded dim scan") {
    val tmp = Files.createTempDirectory("graft_jpr_morrange_").toString
    def frows(tuples: (Long, Long, Long, Long)*) =
      spark.createDataFrame(tuples.toSeq).toDF("id", "fk", "v", "rev")
    val fact = KeyedTable(KeyedTableSpec(
      path = s"$tmp/fact", keyCols = Seq("id"), precombineCol = "rev",
      retainHistory = true))
    val bulk = (1L to 40L).map(i => (i, i % 4 + 1, i, 0L))
    fact.upsert(spark, frows(bulk :+ ((998L, 1L, 111L, 0L)): _*),
      commitTime = "c0")
    fact.cluster(spark, Seq("fk"), targetFileBytes = 1L << 10)
    fact.upsert(spark, frows((998L, 2L, 222L, 1L)), commitTime = "c1")
    fact.recordIndexes(spark, Seq("fk"))
    // Measure-clustered dim: the range probe's keys derive from a
    // stats-pruned dim scan; k=1 is the only dim key in the band.
    val dim = KeyedTable(KeyedTableSpec(
      path = s"$tmp/dimr", keyCols = Seq("k"), precombineCol = "krev"))
    dim.upsert(spark, spark.createDataFrame(
        (1L to 4L).map(k => (k, k * 100L, 0L)))
      .toDF("k", "bal", "krev"), commitTime = "c0")
    dim.cluster(spark, Seq("bal"), targetFileBytes = 256L)
    dim.recordColumnStats(spark, Seq("bal"))
    def q = {
      val f = fact.read(spark)
      val d = dim.read(spark).filter(col("bal") >= 50L && col("bal") <= 150L)
      f.join(d, f("fk") === d("k")).select(f("id"), f("fk"), f("v"))
    }
    assert(prunedTo(q, s"$tmp/fact").isDefined,
      "the resolved fact must serve off the range-derived dim keys")
    val expect = (1L to 40L).filter(_ % 4 + 1 == 1L).map(i => (i, 1L, i)).toSet
    assert(q.as[(Long, Long, Long)].collect().toSet == expect,
      "the dead (998, fk=1) version must never leak through the range arm")
  }

  test("declines: raw MoR scan, windowed fact, oversized probe") {
    val tmp = Files.createTempDirectory("graft_jpr_dec_").toString
    val dim = buildDim(s"$tmp/dim", Nil)
    val ids = eventsUs.select("user_id").distinct()
      .filter(col("user_id") % 13 === 3).as[Long].collect().toSeq.take(6)
    def dimSel = dim.read(spark).filter(col("user_id").isin(ids: _*))

    // RAW history scan (no resolve shape between join and scan): the
    // guard has nothing to commute with — decline even with every
    // sidecar present.
    val mor = KeyedTable(KeyedTableSpec(
      path = s"$tmp/mor", keyCols = Seq("event_id"), precombineCol = "ts_us",
      partitionCols = Seq("event_type"), retainHistory = true))
    mor.upsert(spark, eventsUs, commitTime = "c0")
    mor.recordIndexes(spark, Seq("user_id"))
    mor.read(spark) // warm the registry like any reader session
    val fm = spark.read.parquet(mor.spec.path)
    val dm = dimSel
    val morJoin = fm.join(dm, fm("user_id") === dm("user_id"))
      .select(fm("event_id"), dm("user_id"))
    assert(prunedTo(morJoin, s"$tmp/mor").isEmpty,
      "a raw all-versions scan must decline")

    // Windowed fact side: file pruning would change the frames. The
    // rank must reach the OUTPUT — an unused window is pruned away by
    // the optimizer before this rule runs, making the prune sound.
    val fact = buildFact(s"$tmp/fact")
    val fw = fact.read(spark).withColumn(
      "rk", row_number().over(W.partitionBy("event_type").orderBy("ts_us")))
    val dw = dimSel
    val winJoin = fw.join(dw, fw("user_id") === dw("user_id"))
      .select(fw("event_id"), fw("rk"), dw("user_id"))
    assert(prunedTo(winJoin, s"$tmp/fact").isEmpty,
      "a window below the join must decline")

    // Oversized probe: more derived dim keys than the point contract.
    val big = (0L until 200L).toSeq
    val fb = fact.read(spark)
    val db = dim.read(spark).filter(col("user_id").isin(big: _*))
    val bigJoin = fb.join(db, fb("user_id") === db("user_id"))
      .select(fb("event_id"), db("user_id"))
    assert(prunedTo(bigJoin, s"$tmp/fact").isEmpty,
      "an oversized probe must decline")
  }
}
