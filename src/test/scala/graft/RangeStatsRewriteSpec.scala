package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.table.{KeyedTable, KeyedTableSpec}

/** [[graft.plans.RangePruneRewrite]] / [[graft.plans.StatsAggregateRewrite]]:
  * a literal range filter over a clustered copy-on-write table's
  * declarative read must scan only the column-stats candidate files;
  * whole-table min/max/count must be answered from the sidecar with NO
  * file scan; both must decline on MoR tables, absent/stale stats, and
  * uncovered columns — and stay exact on every path.
  */
class RangeStatsRewriteSpec extends SparkTestBase {
  import spark.implicits._

  private def eventsUs =
    Tables.events(spark, sf0001).withColumn("ts_us", expr("ts div 1000"))

  private def cowSpec(path: String) = KeyedTableSpec(
    path = path, keyCols = Seq("event_id"), precombineCol = "ts_us",
    partitionCols = Seq("event_type"))

  private def outputSet(df: DataFrame): Set[(Long, String, Long, Long, Double)] =
    df.select("user_id", "event_type", "ts_us", "event_id", "value")
      .as[(Long, String, Long, Long, Double)].collect().toSet

  private def dataFileCount(path: String): Int = {
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

  /** The rewrite fired iff every scanned root is a data FILE. */
  private def scannedDataFiles(df: DataFrame): Option[Seq[String]] = {
    val paths = graft.plans.PlanWalk.scannedFiles(df)
    if (paths.nonEmpty && paths.forall(_.endsWith(".parquet"))) Some(paths)
    else None
  }

  private def mkClustered(path: String): KeyedTable = {
    val t = KeyedTable(cowSpec(path))
    t.upsert(spark, eventsUs, commitTime = "c0")
    t.cluster(spark, Seq("event_id"), targetFileBytes = 4L << 10)
    t
  }

  test("range filter over a clustered COW read scans only stats candidates, exact") {
    val path = Files.createTempDirectory("graft_rng_cow_").toString + "/t"
    val table = mkClustered(path)
    def q = table.read(spark).filter(col("event_id").between(100L, 299L))
    val expected = outputSet(q) // no stats yet: the rule declines
    assert(scannedDataFiles(q).isEmpty, "absent stats must not rewrite")
    table.recordColumnStats(spark, Seq("event_id"))
    val files = scannedDataFiles(q)
    assert(files.isDefined, "the range must be served from candidate files")
    assert(files.get.length < dataFileCount(path),
      s"candidates must prune: ${files.get.length} of ${dataFileCount(path)}")
    assert(outputSet(q) == expected)
    // Strict/open bounds and a residual non-range conjunct ride along.
    def q2 = table.read(spark)
      .filter(col("event_id") >= 100L && col("event_id") < 300L &&
        col("value") > 0.0)
    assert(scannedDataFiles(q2).isDefined)
    assert(outputSet(q2) == expected.filter(_._5 > 0.0))
    // An equality probe on a stats column serves as a degenerate range
    // (no record-level index anywhere on this table).
    def q3 = table.read(spark).filter(col("event_id") === 177L)
    assert(scannedDataFiles(q3).isDefined)
    assert(outputSet(q3) == expected.filter(_._4 == 177L))
  }

  test("a write retires the stats; the range read falls back and stays exact") {
    val path = Files.createTempDirectory("graft_rng_stale_").toString + "/t"
    val table = mkClustered(path)
    def q = table.read(spark).filter(col("event_id").between(100L, 299L))
    val expected = outputSet(q)
    table.recordColumnStats(spark, Seq("event_id"))
    assert(scannedDataFiles(q).isDefined)
    // Same-content re-upsert: data unchanged, sidecar must die (exists
    // ⇒ current) and the read must fall back to the full scan.
    table.upsert(spark, eventsUs.filter(col("event_id") < 5), commitTime = "c1")
    assert(scannedDataFiles(q).isEmpty,
      "a data write must retire the stats sidecar")
    assert(outputSet(q) == expected)
  }

  test("z-order 2-D probe prunes conjunctively; MoR and uncovered columns decline") {
    val path = Files.createTempDirectory("graft_rng_zo_").toString + "/t"
    val table = KeyedTable(cowSpec(path))
    table.upsert(spark, eventsUs, commitTime = "c0")
    // Small target → ~20 Morton slices, so each file is a genuinely
    // small rectangle in (user_id, event_id) space and both probe
    // dimensions can skip.
    table.clusterZOrder(spark, Seq("user_id", "event_id"),
      targetFileBytes = 2L << 10)
    def q = table.read(spark)
      .filter(col("user_id").between(3L, 7L) &&
        col("event_id").between(100L, 400L))
    val allRows = outputSet(table.read(spark)) // pre-stats: no rule anywhere
    val expected = outputSet(q)
    table.recordColumnStats(spark, Seq("user_id", "event_id"))
    val both = scannedDataFiles(q)
    assert(both.isDefined, "2-D probe must serve")
    assert(both.get.length < dataFileCount(path))
    assert(outputSet(q) == expected)
    // One-column probe over the same Morton layout still prunes.
    def q1 = table.read(spark).filter(col("user_id").between(3L, 7L))
    assert(scannedDataFiles(q1).isDefined)
    // A range on a column WITHOUT recorded stats cannot serve alone...
    def qv = table.read(spark).filter(col("ts_us") >= 0L)
    assert(scannedDataFiles(qv).isEmpty, "uncovered column must not rewrite")
    // ...but conjoined with a covered one, the covered subset serves.
    def qm = table.read(spark)
      .filter(col("user_id").between(3L, 7L) && col("ts_us") >= 0L)
    assert(scannedDataFiles(qm).isDefined)
    assert(outputSet(qm) ==
      allRows.filter(t => t._1 >= 3L && t._1 <= 7L && t._3 >= 0L))

    // MoR: pruning a resolving table's files is unsound by construction.
    val mpath = Files.createTempDirectory("graft_rng_mor_").toString + "/t"
    val mor = KeyedTable(KeyedTableSpec(
      path = mpath, keyCols = Seq("user_id"), precombineCol = "ts_us",
      tiebreakCols = Seq("event_id"), partitionCols = Seq("event_type"),
      retainHistory = true))
    mor.upsert(spark, eventsUs, commitTime = "c0")
    mor.recordColumnStats(spark, Seq("event_id"))
    def mq = mor.read(spark).filter(col("event_id").between(500L, 999L))
    assert(scannedDataFiles(mq).isEmpty, "MoR must decline the range prune")
  }

  test("typed bounds: timestamp and string ranges prune and serve, exact") {
    val path = Files.createTempDirectory("graft_rng_typed_").toString + "/t"
    // events with a REAL timestamp column and a bucketed string column.
    val ev = eventsUs
      .withColumn("ts_evt", expr("timestamp_micros(ts_us)"))
      .withColumn("bucket", concat(lit("b"), format_string("%03d", col("event_id") % 50)))
    val table = KeyedTable(cowSpec(path))
    table.upsert(spark, ev, commitTime = "c0")
    table.cluster(spark, Seq("ts_evt"), targetFileBytes = 4L << 10)
    table.recordColumnStats(spark, Seq("ts_evt", "bucket"))
    // Sidecar bounds are stored NATIVELY typed.
    val st = spark.read.parquet(s"$path/_graft_colstats")
    assert(st.schema("min_ts_evt").dataType.typeName.startsWith("timestamp"))
    assert(st.schema("min_bucket").dataType.typeName == "string")
    val Array(r) = ev.agg(min("ts_evt").as("mn"), max("ts_evt").as("mx")).collect()
    val (mn, mx) = (r.getTimestamp(0), r.getTimestamp(1))
    val mid = new java.sql.Timestamp((mn.getTime + mx.getTime) / 2)
    def qTs = table.read(spark)
      .filter(col("ts_evt") >= lit(mn) && col("ts_evt") < lit(mid))
    val expTs = qTs.collect().map(_.getAs[Long]("event_id")).toSet
    val tsFiles = scannedDataFiles(qTs)
    assert(tsFiles.isDefined, "timestamp range must serve from stats")
    assert(tsFiles.get.length < dataFileCount(path))
    assert(qTs.collect().map(_.getAs[Long]("event_id")).toSet == expTs)
    // String range on an UN-clustered column: still served (bounds
    // cover), prunes little or none, stays exact.
    def qStr = table.read(spark)
      .filter(col("bucket") >= lit("b010") && col("bucket") < lit("b020"))
    val expStr = qStr.collect().map(_.getAs[Long]("event_id")).toSet
    assert(scannedDataFiles(qStr).isDefined, "string range must serve")
    assert(qStr.collect().map(_.getAs[Long]("event_id")).toSet == expStr)
    // Re-cluster on the string column: now the prune bites.
    table.cluster(spark, Seq("bucket"), targetFileBytes = 4L << 10)
    table.recordColumnStats(spark, Seq("bucket"))
    val strFiles = scannedDataFiles(qStr)
    assert(strFiles.isDefined && strFiles.get.length < dataFileCount(path),
      "lang-clustered string range must prune")
    assert(qStr.collect().map(_.getAs[Long]("event_id")).toSet == expStr)
    // Typed min/max aggregates serve from the sidecar with no scan.
    def qAgg = table.read(spark).agg(
      min(col("bucket")).as("mn_b"), max(col("bucket")).as("mx_b"))
    assert(graft.plans.PlanWalk.scannedFiles(qAgg).isEmpty,
      "string min/max must fold from the sidecar")
    assert(qAgg.collect()(0) == org.apache.spark.sql.Row("b000", "b049"))
  }

  test("string truncation: bounds stay sound for pruning, decline min/max serving") {
    val path = Files.createTempDirectory("graft_rng_trunc_").toString + "/t"
    // Strings longer than the 64-code-point prefix: 'k<pad>...<id>' so
    // the discriminating suffix is BEYOND the stored prefix — pruning
    // must keep every file (sound), never drop one on the truncated
    // bound, and the aggregate rule must refuse to answer min/max.
    val ev = eventsUs.withColumn("big",
      concat(lit("k" * 70), format_string("%05d", col("event_id") % 100)))
    val table = KeyedTable(cowSpec(path))
    table.upsert(spark, ev, commitTime = "c0")
    table.recordColumnStats(spark, Seq("big", "event_id"))
    val st = spark.read.parquet(s"$path/_graft_colstats")
    assert(st.columns.contains("trunc_big"))
    assert(st.filter(col("trunc_big")).count() > 0, "flags must record truncation")
    // All values share the 64-prefix, so stored [lo, hi] brackets them
    // all: a range on the full strings selects every file — and the
    // residual filter keeps the result exact.
    def q = table.read(spark).filter(
      col("big") >= lit("k" * 70 + "00010") && col("big") < lit("k" * 70 + "00020"))
    val expected = q.collect().map(_.getAs[Long]("event_id")).toSet
    assert(expected.nonEmpty)
    assert(q.collect().map(_.getAs[Long]("event_id")).toSet == expected)
    // min/max on the truncated column DECLINES to a scan (the stored
    // bound is a bound, not the answer) — and the scanned answer is
    // still right.
    def qAgg = table.read(spark).agg(min(col("big")).as("mn"))
    assert(graft.plans.PlanWalk.scannedFiles(qAgg).nonEmpty,
      "truncated bounds must not serve min/max")
    assert(qAgg.collect()(0).getString(0) == "k" * 70 + "00000")
    // An untouched integral column on the same sidecar still serves.
    def qId = table.read(spark).agg(min(col("event_id")).as("mn"))
    assert(graft.plans.PlanWalk.scannedFiles(qId).isEmpty)
  }

  test("MoR resolving range read: superseded version outside range never resurrects") {
    val path = Files.createTempDirectory("graft_rng_mor_").toString + "/t"
    val table = KeyedTable(cowSpec(path).copy(retainHistory = true))
    val ev = eventsUs
    val Array(r) = ev.agg(min("ts_us").as("mn"), max("ts_us").as("mx")).collect()
    val (mn, mx) = (r.getLong(0), r.getLong(1)); val span = mx - mn
    table.upsert(spark, ev, commitTime = "c0")
    table.recordKeyIndex(spark) // goes stale at c1: the lookup settles
    // Every 11th user's events re-land shifted past the whole domain —
    // their winners leave any in-domain range.
    table.upsert(spark,
      ev.filter(col("user_id") % 11 === 0)
        .withColumn("ts_us", col("ts_us") + lit(span + 1000000L)),
      commitTime = "c1")
    table.recordColumnStats(spark, Seq("ts_us")) // over ALL version files
    val range = Seq(graft.table.ColumnRange.inclusive(
      "ts_us", mn + span / 4, mn + span / 2))
    val got = outputSet(table.readPrunedResolving(spark, range))
    // Rule-INDEPENDENT oracle: rebuild resolve ∘ filter from the raw
    // input frames (no registered relation — no rewrite can touch it).
    // The fixture keys on event_id, so the resolve scope is
    // (event_id, event_type): every 11th user's events re-land shifted
    // under their own ids, pushing exactly those ids' winners out of
    // the original domain.
    val u = ev.select("user_id", "event_type", "ts_us", "event_id", "value")
      .unionByName(ev.filter(col("user_id") % 11 === 0)
        .withColumn("ts_us", col("ts_us") + lit(span + 1000000L))
        .select("user_id", "event_type", "ts_us", "event_id", "value"))
    def resolveFilter(lo: Long, hi: Long) = outputSet(u
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("event_id", "event_type")
          .orderBy(col("ts_us").desc)))
      .filter(col("rn") === 1 && col("ts_us").between(lo, hi))
      .drop("rn"))
    val oracle = resolveFilter(mn + span / 4, mn + span / 2)
    assert(got == oracle, "pruned resolve must equal resolve ∘ filter")
    // The trap bites: shifted users have in-range c0 versions...
    val trapped = ev.filter(col("user_id") % 11 === 0 &&
      col("ts_us").between(mn + span / 4, mn + span / 2))
    assert(trapped.count() > 0, "fixture must exercise the trap")
    // ...but no shifted user may appear in the result.
    assert(!got.exists(_._1 % 11 == 0),
      "superseded in-range versions must not resurrect")
    // The stats selection itself prunes (all-version files, narrow range).
    val (sel, total) = table.statsCandidates(spark, range).get
    assert(sel.length < total, s"must prune: ${sel.length} of $total")

    // DECLARATIVE arm ([[graft.plans.RangePruneRewrite]]'s resolving
    // serve): the plain read().filter(BETWEEN) swaps its scan onto the
    // in-range keys' RLI candidate files, key-guarded — exact, trapped
    // versions never resurrect, and the scan is file-pruned. The probe
    // window is NARROW (≈ span/16 ⇒ ~60 of the 1000 event_id keys):
    // this fixture keys on event_id, so the ≤128-key point-probe cap
    // requires a selective range.
    val (nLo, nHi) = (mn + span / 4, mn + span / 4 + span / 16)
    val nOracle = resolveFilter(nLo, nHi)
    assert(nOracle.nonEmpty, "the narrow window must hold winners")
    assert(ev.filter(col("user_id") % 11 === 0 &&
      col("ts_us").between(nLo, nHi)).count() > 0,
      "the narrow window must exercise the trap too")
    def dq = table.read(spark).filter(col("ts_us").between(nLo, nHi))
    val dFiles = scannedDataFiles(dq)
    assert(dFiles.isDefined, "the declarative MoR range must serve")
    assert(dFiles.get.length < dataFileCount(path),
      s"must prune: ${dFiles.get.length} of ${dataFileCount(path)}")
    val dGot = outputSet(dq)
    assert(dGot == nOracle, "declarative MoR range must equal resolve ∘ filter")
    assert(!dGot.exists(_._1 % 11 == 0),
      "declarative serve must not resurrect superseded versions")

    // A range matching ~250 keys blows the point-probe cap: the serve
    // declines (a wide resolve belongs in a full scan) but stays exact.
    def wide = table.read(spark)
      .filter(col("ts_us").between(mn + span / 4, mn + span / 2))
    assert(scannedDataFiles(wide).isEmpty,
      "an over-cap key set must decline the declarative MoR range")
    assert(outputSet(wide) == oracle, "the declined wide read is still exact")

    // A PARTITION conjunct composes: it selects sidecar rows by the
    // recorded partition tuple, narrowing candidates and keys — and the
    // result is exactly resolve ∘ (partition ∧ range).
    def dqp = table.read(spark)
      .filter(col("event_type") === "click" &&
        col("ts_us").between(nLo, nHi))
    val pFiles = scannedDataFiles(dqp)
    assert(pFiles.isDefined, "partition + range must compose on MoR")
    assert(pFiles.get.length < dataFileCount(path),
      s"must prune: ${pFiles.get.length} of ${dataFileCount(path)}")
    assert(outputSet(dqp) == nOracle.filter(_._2 == "click"),
      "partition-composed MoR range must equal resolve ∘ filter")

    // Without the record-level index the key chain has no member: the
    // declarative read declines (stays a full directory scan) but is
    // still exact.
    val path2 = Files.createTempDirectory("graft_rng_mor2_").toString + "/t"
    val t2 = KeyedTable(cowSpec(path2).copy(retainHistory = true))
    t2.upsert(spark, ev, commitTime = "c0")
    t2.upsert(spark,
      ev.filter(col("user_id") % 11 === 0)
        .withColumn("ts_us", col("ts_us") + lit(span + 1000000L)),
      commitTime = "c1")
    t2.recordColumnStats(spark, Seq("ts_us"))
    def dq2 = t2.read(spark).filter(col("ts_us").between(nLo, nHi))
    assert(scannedDataFiles(dq2).isEmpty,
      "no RLI: the declarative MoR range must decline")
    assert(outputSet(dq2) == nOracle, "the declined read is still exact")
  }

  test("whole-table min/max/count answered from the sidecar with no scan") {
    val path = Files.createTempDirectory("graft_sagg_").toString + "/t"
    val table = KeyedTable(cowSpec(path))
    // A nullable column exercises count(col) vs count(*).
    val ev = eventsUs.withColumn("maybe",
      when(col("event_id") % 3 === 0, col("event_id")))
    table.upsert(spark, ev, commitTime = "c0")
    def q = table.read(spark).agg(
      min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"),
      min(col("user_id")).as("min_uid"), count(lit(1)).as("n_rows"),
      count(col("maybe")).as("n_maybe"), sum(col("event_id")).as("s_id"),
      sum(col("maybe")).as("s_maybe"))
    val expected = q.collect()(0) // no stats yet: computed by scanning
    assert(graft.plans.PlanWalk.scannedFiles(q).nonEmpty)
    table.recordColumnStats(spark, Seq("event_id", "user_id", "maybe"))
    assert(graft.plans.PlanWalk.scannedFiles(q).isEmpty,
      "served aggregate must scan NO files (LocalRelation plan)")
    assert(q.collect()(0) == expected)
    // A filter below the aggregate declines (stats answer the whole
    // table, not a slice).
    def qf = table.read(spark).filter(col("value") > 0.0)
      .agg(min(col("event_id")).as("m"))
    assert(graft.plans.PlanWalk.scannedFiles(qf).nonEmpty)
    // An unservable aggregate in the list declines the whole node.
    def qs = table.read(spark)
      .agg(min(col("event_id")).as("m"), sum(col("value")).as("s"))
    assert(graft.plans.PlanWalk.scannedFiles(qs).nonEmpty)
    // A write retires the sidecar: back to scanning, same answer.
    table.upsert(spark, ev.filter(col("event_id") < 5), commitTime = "c1")
    assert(graft.plans.PlanWalk.scannedFiles(q).nonEmpty)
    assert(q.collect()(0) == expected)
  }

  test("CAST-wrapped aggregates serve from the sidecar (the CollapseProject shape)") {
    val path = Files.createTempDirectory("graft_castagg_").toString + "/t"
    val table = KeyedTable(cowSpec(path))
    val ev = eventsUs.withColumn("qty_dec",
      (col("event_id") % 100).cast("decimal(12,2)"))
    table.upsert(spark, ev, commitTime = "c0")
    table.recordColumnStats(spark, Seq("event_id", "qty_dec"))
    // `SELECT cast(sum(x) AS double) ...`: CollapseProject merges the
    // cast INTO the Aggregate — the matcher must unwrap it and the
    // serve must re-apply the plan's own Cast on the folded value.
    def q = table.read(spark)
      .agg(
        sum(col("qty_dec")).as("s"), min(col("qty_dec")).as("mn"),
        max(col("event_id")).as("mx"), count(lit(1)).as("n"),
        avg(col("event_id")).as("av"))
      .select(
        col("s").cast("double").as("s"), col("mn").cast("double").as("mn"),
        col("mx").cast("int").as("mx"), col("n"),
        col("av").cast("string").as("av"))
    val expected = {
      // reference computed WITHOUT the registry serve: read raw
      val raw = spark.read.parquet(path)
        .agg(
          sum(col("qty_dec")).as("s"), min(col("qty_dec")).as("mn"),
          max(col("event_id")).as("mx"), count(lit(1)).as("n"),
          avg(col("event_id")).as("av"))
        .select(
          col("s").cast("double"), col("mn").cast("double"),
          col("mx").cast("int"), col("n"), col("av").cast("string"))
      raw.collect()(0)
    }
    assert(graft.plans.PlanWalk.scannedFiles(q).isEmpty,
      "cast-wrapped aggregates must fold to a LocalRelation (no scan)")
    assert(q.collect()(0) == expected)
  }

  test("partition-grouped min/max/count served from the sidecar, no scan") {
    val path = Files.createTempDirectory("graft_sagg_grp_").toString + "/t"
    val table = KeyedTable(cowSpec(path))
    val ev = eventsUs.withColumn("maybe",
      when(col("event_id") % 3 === 0, col("event_id")))
    table.upsert(spark, ev, commitTime = "c0")
    def q = table.read(spark).groupBy(col("event_type")).agg(
      min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"),
      count(lit(1)).as("n_rows"), count(col("maybe")).as("n_maybe"))
    val expected = q.collect().toSet // no stats yet: computed by scanning
    assert(graft.plans.PlanWalk.scannedFiles(q).nonEmpty)
    table.recordColumnStats(spark, Seq("event_id", "maybe"))
    assert(graft.plans.PlanWalk.scannedFiles(q).isEmpty,
      "grouped serve must scan NO files (LocalRelation plan)")
    assert(q.collect().toSet == expected)
    // A rename below the aggregate resolves back to the partition col.
    def qa = table.read(spark)
      .select(col("event_type").as("et"), col("event_id"))
      .groupBy(col("et")).agg(max(col("event_id")).as("mx"))
    assert(graft.plans.PlanWalk.scannedFiles(qa).isEmpty)
    assert(qa.collect().toSet ==
      expected.map(r => org.apache.spark.sql.Row(r.getString(0), r.getLong(2))))
    // Grouping by a NON-partition column declines (files straddle it).
    def qu = table.read(spark).groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"))
    assert(graft.plans.PlanWalk.scannedFiles(qu).nonEmpty)
    assert(qu.collect().toSet ==
      ev.groupBy(col("user_id")).agg(count(lit(1)).as("n")).collect().toSet)
    // A point filter on a PARTITION column is absorbed exactly (it
    // selects whole files), still zero scan.
    def qf = table.read(spark)
      .filter(col("event_type").isin("click", "view"))
      .agg(min(col("event_id")).as("m"), count(lit(1)).as("n"))
    assert(graft.plans.PlanWalk.scannedFiles(qf).isEmpty,
      "partition-filtered aggregate must fold from sidecar groups")
    assert(qf.collect().toSet ==
      ev.filter(col("event_type").isin("click", "view"))
        .agg(min(col("event_id")).as("m"), count(lit(1)).as("n"))
        .collect().toSet)
    // A filter on a NON-partition column still declines.
    def qnf = table.read(spark).filter(col("value") > 0.0)
      .agg(count(lit(1)).as("n"))
    assert(graft.plans.PlanWalk.scannedFiles(qnf).nonEmpty)
  }

  test("an unprojected grouping column declines every stats serve (no group collapse)") {
    // SELECT min(x) FROM t GROUP BY p — p grouped but NOT projected.
    // The serve combines group by the PROJECTED GroupOf slices only, so
    // admitting this shape would collapse all groups into one row. The
    // matcher must decline; the scan answers one row per group.
    val path = Files.createTempDirectory("graft_sagg_unproj_").toString + "/t"
    val table = KeyedTable(cowSpec(path))
    val ev = eventsUs
    table.upsert(spark, ev, commitTime = "c0")
    table.recordColumnStats(spark, Seq("event_id"))
    table.read(spark).createOrReplaceTempView("sagg_unproj_cow")
    val expect = ev.groupBy(col("event_type"))
      .agg(min(col("event_id"))).collect().map(_.getLong(1)).sorted.toSeq
    def q = spark.sql(
      "SELECT min(event_id) AS mn FROM sagg_unproj_cow GROUP BY event_type")
    assert(graft.plans.PlanWalk.scannedFiles(q).nonEmpty,
      "unprojected grouping column must decline the whole-table serve")
    assert(q.collect().map(_.getLong(0)).sorted.toSeq == expect)
    // Hybrid arm (a range conjunct present): same decline.
    def qh = spark.sql("SELECT min(event_id) AS mn FROM sagg_unproj_cow " +
      "WHERE event_id >= 0 GROUP BY event_type")
    assert(graft.plans.PlanWalk.scannedFiles(qh).nonEmpty,
      "unprojected grouping column must decline the hybrid serve")
    assert(qh.collect().map(_.getLong(0)).sorted.toSeq == expect)
    // Projected control: the serve still fires.
    def qp = spark.sql("SELECT event_type, min(event_id) AS mn " +
      "FROM sagg_unproj_cow GROUP BY event_type")
    assert(graft.plans.PlanWalk.scannedFiles(qp).isEmpty,
      "the projected twin must keep serving")
    // MoR winner-file arm: same shape over a resolved history read.
    val pathM = Files.createTempDirectory("graft_sagg_unprojm_").toString + "/t"
    val mor = KeyedTable(KeyedTableSpec(
      path = pathM, keyCols = Seq("event_id"), precombineCol = "ts_us",
      partitionCols = Seq("event_type"), retainHistory = true))
    mor.upsert(spark, ev, commitTime = "c0")
    mor.recordKeyIndex(spark)
    mor.recordColumnStats(spark, Seq("event_id"))
    mor.read(spark).createOrReplaceTempView("sagg_unproj_mor")
    def qm = spark.sql(
      "SELECT min(event_id) AS mn FROM sagg_unproj_mor GROUP BY event_type")
    assert(graft.plans.PlanWalk.scannedFiles(qm).nonEmpty,
      "unprojected grouping column must decline the MoR winner-file serve")
    assert(qm.collect().map(_.getLong(0)).sorted.toSeq == expect)
    def qmp = spark.sql("SELECT event_type, min(event_id) AS mn " +
      "FROM sagg_unproj_mor GROUP BY event_type")
    assert(graft.plans.PlanWalk.scannedFiles(qmp).isEmpty,
      "the projected MoR twin must keep serving")
    assert(qmp.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      ev.groupBy(col("event_type")).agg(min(col("event_id")))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet)
  }

  test("a zero-row sidecar straggler row never mints a phantom group") {
    // No build writes cnt = 0 rows today, but the serve's contract must
    // not depend on that: inject one (a phantom partition value no data
    // row carries) and assert both grouped serve paths exclude it.
    val path = Files.createTempDirectory("graft_sagg_ghost_").toString + "/t"
    val table = KeyedTable(cowSpec(path))
    val ev = eventsUs.withColumn("maybe",
      when(col("event_id") % 3 === 0, col("event_id")))
    table.upsert(spark, ev, commitTime = "c0")
    table.recordColumnStats(spark, Seq("event_id", "maybe"))
    val dir = s"$path/_graft_colstats"
    val side = spark.read.parquet(dir)
    val schema = side.schema
    val ghost = org.apache.spark.sql.Row.fromSeq(schema.map { f =>
      f.name match {
        case "file"                      => "ghost"
        case "cnt"                       => 0L
        case "flen"                      => -1L
        case n if n.startsWith("nn_")    => 0L
        case n if n.startsWith("p_")     => "phantom"
        case n if n.startsWith("trunc_") => false
        case _                           => null
      }
    })
    val rows = side.collect().toSeq :+ ghost
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema)
      .coalesce(1).write.mode("overwrite").parquet(dir)
    // Whole grouped serve: still zero-scan, and no "phantom" group.
    def q = table.read(spark).groupBy(col("event_type")).agg(
      count(lit(1)).as("n"), min(col("event_id")).as("mn"))
    assert(graft.plans.PlanWalk.scannedFiles(q).isEmpty,
      "grouped serve must still fold from the sidecar")
    assert(q.collect().toSet ==
      ev.groupBy(col("event_type")).agg(
        count(lit(1)).as("n"), min(col("event_id")).as("mn"))
        .collect().toSet)
    // Hybrid with an IS NOT NULL conjunct: the ghost row satisfies
    // nn = cnt (0 = 0) — without the cnt > 0 guard it would be the one
    // "full" file and serve a phantom group. Either path (serve or
    // decline-to-scan) must produce exactly the real answer.
    def qh = table.read(spark).filter(col("maybe").isNotNull)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    assert(qh.collect().toSet ==
      ev.filter(col("maybe").isNotNull)
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        .collect().toSet)
    // Pure DISTINCT over the partition column: ghost stays invisible.
    def qd = table.read(spark).select(col("event_type")).distinct()
    assert(qd.collect().map(_.getString(0)).toSet ==
      ev.select(col("event_type")).distinct()
        .collect().map(_.getString(0)).toSet)
  }

  test("partition evolution retires the stats from serving; rebuild refuses") {
    val path = Files.createTempDirectory("graft_rng_evo_").toString + "/t"
    val table = KeyedTable(KeyedTableSpec(
      path = path, keyCols = Seq("event_id"), precombineCol = "ts_us",
      partitionCols = Seq("event_type"), globalKeys = true))
    val ev = eventsUs
    table.upsert(spark, ev, commitTime = "c0")
    table.cluster(spark, Seq("event_id"), targetFileBytes = 4L << 10)
    table.recordColumnStats(spark, Seq("event_id"))
    table.read(spark) // warm the registry (raw scans never do)
    def raw = spark.read.parquet(path)
      .filter(col("event_id").between(100L, 299L))
    assert(scannedDataFiles(raw).isDefined, "pre-evolution: raw scan serves")
    table.evolvePartitioning(spark, Seq("user_id"))
    // A sidecar recorded pre-evolution must stop serving the moment the
    // layout changes: a raw root scan would otherwise be handed
    // generation files it never listed once gen writes land.
    assert(scannedDataFiles(raw).isEmpty,
      "post-evolution the pre-layout sidecar must not serve")
    assert(intercept[IllegalArgumentException](
      table.recordColumnStats(spark, Seq("event_id"))
    ).getMessage.contains("column stats"))
  }

  test("spark.sql text over a view of the table serves through every rule") {
    val path = Files.createTempDirectory("graft_sql_idx_").toString + "/t"
    val table = KeyedTable(cowSpec(path))
    table.upsert(spark, eventsUs, commitTime = "c0")
    table.cluster(spark, Seq("event_id"), targetFileBytes = 4L << 10)
    table.recordKeyIndex(spark)
    table.recordColumnStats(spark, Seq("event_id"))
    table.read(spark).createOrReplaceTempView("graft_sql_idx_t")
    // Point probe through the record-level index.
    val point = spark.sql(
      "SELECT user_id, event_id FROM graft_sql_idx_t WHERE event_id IN (3, 7)")
    assert(scannedDataFiles(point).isDefined, "SQL point probe must serve")
    assert(point.collect().map(r => r.getLong(1)).toSet == Set(3L, 7L))
    // Range through the column stats.
    val range = spark.sql(
      "SELECT count(*) AS n FROM (SELECT * FROM graft_sql_idx_t " +
        "WHERE event_id BETWEEN 100 AND 299) x WHERE value >= 0")
    assert(range.collect()(0).getLong(0) ==
      eventsUs.filter(col("event_id").between(100, 299) && col("value") >= 0)
        .count())
    // Whole-table aggregate from metadata: no data file scanned.
    val agg = spark.sql(
      "SELECT min(event_id) AS mn, max(event_id) AS mx, count(*) AS n " +
        "FROM graft_sql_idx_t")
    assert(graft.plans.PlanWalk.scannedFiles(agg).isEmpty,
      "SQL whole-table aggregate must fold from the sidecar")
    assert(agg.collect()(0).getLong(2) == eventsUs.count())
    // Filtered + paginated top-k through the stats walk: the exact SQL
    // a BI tool's "latest, page 2" emits.
    val topk = spark.sql(
      "SELECT event_id FROM graft_sql_idx_t WHERE event_id <= 800 " +
        "ORDER BY event_id DESC LIMIT 10 OFFSET 10")
    assert(scannedDataFiles(topk).isDefined,
      "SQL filtered+paginated top-k must serve")
    assert(topk.collect().map(_.getLong(0)).toSeq ==
      eventsUs.filter(col("event_id") <= 800)
        .orderBy(col("event_id").desc).limit(20)
        .select("event_id").as[Long].collect().toSeq.drop(10))
    // Grouped top-k through SQL text — the leaderboard a BI tool emits.
    val gtopk = spark.sql(
      "SELECT * FROM (SELECT event_type, event_id, ROW_NUMBER() OVER " +
        "(PARTITION BY event_type ORDER BY event_id DESC) AS rk " +
        "FROM graft_sql_idx_t) WHERE rk <= 3")
    assert(scannedDataFiles(gtopk).isDefined,
      "SQL grouped top-k must serve")
    assert(gtopk.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      eventsUs.withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("event_type")
          .orderBy(col("event_id").desc)))
        .filter(col("rk") <= 3).select("event_type", "event_id")
        .as[(String, Long)].collect().toSet)
  }

  test("stats aggregate declines on MoR (file stats over-count versions)") {
    val path = Files.createTempDirectory("graft_sagg_mor_").toString + "/t"
    val mor = KeyedTable(KeyedTableSpec(
      path = path, keyCols = Seq("user_id"), precombineCol = "ts_us",
      tiebreakCols = Seq("event_id"), partitionCols = Seq("event_type"),
      retainHistory = true))
    val ev = eventsUs
    mor.upsert(spark, ev.filter(col("event_id") % 2 === 0), commitTime = "c0")
    mor.upsert(spark, ev.filter(col("event_id") % 2 === 1), commitTime = "c1")
    mor.recordColumnStats(spark, Seq("event_id"))
    def q = mor.read(spark).agg(count(lit(1)).as("n"))
    assert(graft.plans.PlanWalk.scannedFiles(q).nonEmpty,
      "MoR must decline the stats aggregate")
    assert(q.as[Long].collect()(0) == mor.read(spark).count())
  }

  test("count(DISTINCT partition_col) folds the sidecar's tuples, no scan") {
    val path = Files.createTempDirectory("graft_cdp_").toString + "/t"
    val t = KeyedTable(cowSpec(path))
    t.upsert(spark, eventsUs, commitTime = "c0")
    def q = t.read(spark).agg(
      countDistinct(col("event_type")).as("n_types"),
      count(lit(1)).as("n_rows"))
    val expected = q.collect()(0) // no stats yet: real scan
    assert(graft.plans.PlanWalk.scannedFiles(q).nonEmpty)
    t.recordColumnStats(spark, Seq("event_id"))
    assert(graft.plans.PlanWalk.scannedFiles(q).isEmpty,
      "partition distinct count must fold from the sidecar")
    assert(q.collect()(0) == expected)
    // composed with a partition filter: stSel narrows the tuples first
    def qf = t.read(spark)
      .filter(col("event_type").isin("click", "view"))
      .agg(countDistinct(col("event_type")).as("n"))
    assert(graft.plans.PlanWalk.scannedFiles(qf).isEmpty)
    assert(qf.collect()(0).getLong(0) == 2L)
    // a NON-partition distinct count declines but stays exact
    def qu = t.read(spark).agg(countDistinct(col("user_id")).as("n"))
    assert(graft.plans.PlanWalk.scannedFiles(qu).nonEmpty,
      "non-partition distinct must decline to the scan")
    assert(qu.collect()(0) ==
      eventsUs.agg(countDistinct(col("user_id")).as("n")).collect()(0))
  }

  test("count(DISTINCT clustered_col) serves as a values union") {
    val path = Files.createTempDirectory("graft_cdc_").toString + "/t"
    val t = KeyedTable(KeyedTableSpec(
      path = path, keyCols = Seq("event_id"), precombineCol = "ts_us"))
    val ev = eventsUs.withColumn("bucket",
      when(col("user_id") % 13 === 0, lit(null).cast("long"))
        .otherwise(col("user_id") % 4))
    t.upsert(spark, ev, commitTime = "c0")
    t.cluster(spark, Seq("bucket"), targetFileBytes = 4L << 10)
    def q = t.read(spark).agg(countDistinct(col("bucket")).as("n"))
    val expected = q.collect()(0) // no stats yet: real scan
    assert(graft.plans.PlanWalk.scannedFiles(q).nonEmpty)
    t.recordColumnStats(spark, Seq("bucket", "event_id"))
    assert(hybridServed(q), "the values union must serve")
    val scanned = scannedData(q)
    assert(scanned.nonEmpty && scanned.length < dataFileCount(path),
      s"boundary files (${scanned.length}) must stay under " +
        s"${dataFileCount(path)}")
    assert(q.collect()(0) == expected) // nulls ignored on both paths
    // an UNCLUSTERED covered column has no single-valued files: decline
    def qe = t.read(spark).agg(countDistinct(col("event_id")).as("n"))
    assert(!hybridServed(qe) &&
      graft.plans.PlanWalk.scannedFiles(qe).nonEmpty,
      "zero foldable values must decline to the scan")
    assert(qe.collect()(0) ==
      ev.agg(countDistinct(col("event_id")).as("n")).collect()(0))
  }

  test("filtered count(DISTINCT clustered_col): ranges compose via full/candidate classification") {
    // count(DISTINCT lang) WHERE n_chars BETWEEN … over the
    // (lang, n_chars)-clustered corpus: in-range single-valued files
    // fold their one value, boundary files scan WITH the residual
    // filter, out-of-range files never open — and the count-distinct
    // over the union dedups values appearing on both sides.
    val docs = spark.range(0, 20000).select(
      col("id").as("doc_id"),
      when(col("id") % 17 =!= 0,
        concat(lit("lang"), (col("id") % 5).cast("string"))).as("lang"),
      (col("id") * 31 % 9973).as("n_chars"),
      md5(col("id").cast("string")).as("payload"))
    val path = Files.createTempDirectory("graft_dcf_").toString + "/t"
    val t = KeyedTable(KeyedTableSpec(
      path = path, keyCols = Seq("doc_id"), precombineCol = "n_chars"))
    t.upsert(spark, docs, commitTime = "c0")
    t.cluster(spark, Seq("lang", "n_chars"), targetFileBytes = 16L << 10)
    t.recordColumnStats(spark, Seq("lang", "n_chars"))
    val total = dataFileCount(path)
    def q(lo: Long, hi: Long) = t.read(spark)
      .filter(col("n_chars") >= lo && col("n_chars") <= hi)
      .agg(countDistinct(col("lang")).as("n"))
    def plain(lo: Long, hi: Long) = docs
      .filter(col("n_chars") >= lo && col("n_chars") <= hi)
      .agg(countDistinct(col("lang")).as("n")).collect()(0).getLong(0)
    val files = scannedDataFiles(q(2000, 8000))
    assert(files.isDefined, "the filtered distinct count must serve")
    assert(files.get.length < total,
      s"must prune: ${files.get.length} of $total")
    assert(q(2000, 8000).collect()(0).getLong(0) == plain(2000, 8000))
    // A narrow range: fewer candidates than the wide one, still exact.
    val narrow = scannedDataFiles(q(4000, 4200))
    assert(narrow.isDefined && narrow.get.length < files.get.length)
    assert(q(4000, 4200).collect()(0).getLong(0) == plain(4000, 4200))
    // A range selecting nothing: zero folded values → decline to the
    // plain (empty) scan — exact either way.
    assert(q(100000, 200000).collect()(0).getLong(0) == 0L)
    // The unfiltered shape still serves (the original arm).
    def q0 = t.read(spark).agg(countDistinct(col("lang")).as("n"))
    assert(graft.plans.PlanWalk.scannedFiles(q0)
      .forall(_.endsWith(".parquet")))
    assert(q0.collect()(0).getLong(0) ==
      docs.agg(countDistinct(col("lang")).as("n")).collect()(0).getLong(0))
  }

  test("resolved count(*) on MoR serves from the record-level index") {
    val path = Files.createTempDirectory("graft_morcnt_").toString + "/t"
    val mor = KeyedTable(KeyedTableSpec(
      path = path, keyCols = Seq("user_id"), precombineCol = "ts_us",
      tiebreakCols = Seq("event_id"), partitionCols = Seq("event_type"),
      retainHistory = true))
    val ev = eventsUs
    mor.upsert(spark, ev.filter(col("event_id") % 2 === 0), commitTime = "c0")
    mor.upsert(spark, ev.filter(col("event_id") % 2 === 1), commitTime = "c1")
    def q = mor.read(spark).agg(count(lit(1)).as("n"))
    def live(df: DataFrame): Long = // rule-independent oracle: the
      // resolve scope is (key, partition) on a non-global table
      df.select("user_id", "event_type").distinct().count()
    assert(graft.plans.PlanWalk.scannedFiles(q).nonEmpty,
      "no index: the resolved count must scan")
    mor.recordKeyIndex(spark)
    assert(graft.plans.PlanWalk.scannedFiles(q).isEmpty,
      "indexed resolved count must serve as a LocalRelation")
    assert(q.as[Long].collect()(0) == live(ev))
    // a post-build commit reconciles through the commit→files delta:
    // moved versions must not double-count, new keys must count
    val moved = ev.filter(col("user_id") % 11 === 0)
      .withColumn("ts_us", col("ts_us") + 1000000L)
    val fresh = ev.filter(col("user_id") % 5 === 0)
      .withColumn("user_id", col("user_id") + 100000L)
    mor.upsert(spark, moved.unionByName(fresh), commitTime = "c2")
    assert(graft.plans.PlanWalk.scannedFiles(q).isEmpty,
      "the delta-reconciled count must still serve")
    assert(q.as[Long].collect()(0) == live(ev.unionByName(fresh)))
    // any extra predicate declines (it filters the resolved state)
    def qf = mor.read(spark).filter(col("value") > 0.0)
      .agg(count(lit(1)).as("n"))
    assert(graft.plans.PlanWalk.scannedFiles(qf).nonEmpty,
      "a filtered resolved count must decline to the scan")
  }

  test("grouped resolved count on MoR serves from the index's typed partition values") {
    val path = Files.createTempDirectory("graft_morgcnt_").toString + "/t"
    val mor = KeyedTable(KeyedTableSpec(
      path = path, keyCols = Seq("user_id"), precombineCol = "ts_us",
      tiebreakCols = Seq("event_id"), partitionCols = Seq("event_type"),
      retainHistory = true))
    val ev = eventsUs
    mor.upsert(spark, ev.filter(col("event_id") % 2 === 0), commitTime = "c0")
    mor.upsert(spark, ev.filter(col("event_id") % 2 === 1), commitTime = "c1")
    def q = mor.read(spark).groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
    def live(df: DataFrame) = df.select("user_id", "event_type").distinct()
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    assert(graft.plans.PlanWalk.scannedFiles(q).nonEmpty,
      "no index: the grouped resolved count must scan")
    mor.recordKeyIndex(spark)
    assert(graft.plans.PlanWalk.scannedFiles(q).isEmpty,
      "indexed grouped count must serve as a LocalRelation")
    assert(q.collect().toSet == live(ev).collect().toSet)
    // a post-build commit reconciles through the delta: fresh keys land
    // in ONE partition, moved versions must not double-count anywhere
    val fresh = ev.filter(col("user_id") % 5 === 0)
      .withColumn("user_id", col("user_id") + 100000L)
      .withColumn("event_type", lit("click"))
    val moved = ev.filter(col("user_id") % 11 === 0)
      .withColumn("ts_us", col("ts_us") + 1000000L)
    mor.upsert(spark, moved.unionByName(fresh), commitTime = "c2")
    assert(graft.plans.PlanWalk.scannedFiles(q).isEmpty)
    assert(q.collect().toSet ==
      live(ev.unionByName(fresh)).collect().toSet)
    // grouping by a NON-partition column declines, stays exact
    def qu = mor.read(spark).groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"))
    assert(graft.plans.PlanWalk.scannedFiles(qu).nonEmpty,
      "non-partition grouping must decline to the scan")
  }

  test("MoR resolved aggregates: winner-file classification, superseded extremum never surfaces") {
    // The global max of `value` lives in a SUPERSEDED version (user 999
    // v1); its correction (v2) carries a small value. Naive all-version
    // stats folding would answer 999999 — the winner-file serve must
    // answer the resolved max.
    def freshMor(path: String) = KeyedTable(KeyedTableSpec(
      path = path, keyCols = Seq("user_id"), precombineCol = "ts",
      tiebreakCols = Seq("event_id"), partitionCols = Seq("day"),
      retainHistory = true))
    def rows(tuples: (Long, String, Long, Long, Long)*) =
      spark.createDataFrame(tuples.toSeq)
        .toDF("user_id", "day", "ts", "event_id", "value")

    // Layout A: the trapped key in its OWN partition — after the
    // correction its c0 file is DEAD (skip) and every other file is
    // PURE (fold): the whole aggregate answers with ZERO data files.
    val pathA = Files.createTempDirectory("graft_morstats_a_").toString + "/t"
    val ta = freshMor(pathA)
    val bulk = (1L to 50L).map(i => (i, "d1", 100L, i, i))
    ta.upsert(spark, rows(bulk: _*), commitTime = "c0a")
    ta.upsert(spark, rows((999L, "d2", 100L, 900L, 999999L)), commitTime = "c0b")
    ta.recordKeyIndex(spark) // goes stale at c1: the serve reconciles
    ta.upsert(spark, rows((999L, "d2", 200L, 901L, 5L)), commitTime = "c1")
    ta.recordColumnStats(spark, Seq("value"))
    def qa = ta.read(spark).agg(
      min(col("value")).as("mn"), max(col("value")).as("mx"),
      sum(col("value")).as("s"), avg(col("value")).as("av"),
      count(col("value")).as("nn"), count(lit(1)).as("n"))
    val expectA = org.apache.spark.sql.Row(
      1L, 50L, (1L to 50L).sum + 5L,
      ((1L to 50L).sum + 5L).toDouble / 51L, 51L, 51L)
    assert(qa.collect()(0) == expectA,
      "resolved aggregate must never surface the superseded extremum")
    assert(graft.plans.PlanWalk.scannedFiles(qa).isEmpty,
      "pure files fold, the dead file skips: zero data files open")
    // GROUPED by the partition column: pure files fold into their hive
    // partition's group — still zero data files, and the dead d2 file
    // must not leak the superseded 999999 into d2's group.
    def qg = ta.read(spark).groupBy(col("day")).agg(
      min(col("value")).as("mn"), max(col("value")).as("mx"),
      sum(col("value")).as("s"), count(lit(1)).as("n"))
    assert(graft.plans.PlanWalk.scannedFiles(qg).isEmpty,
      "grouped resolved aggregate must fold with zero data files")
    assert(qg.collect().toSet == Set(
      org.apache.spark.sql.Row("d1", 1L, 50L, (1L to 50L).sum, 50L),
      org.apache.spark.sql.Row("d2", 5L, 5L, 5L, 1L)))
    // A partition POINT conjunct composes: d2's slice folds from its
    // one pure correction file — still zero data files, and the dead
    // c0 file's 999999 stays invisible.
    def qp = ta.read(spark).filter(col("day") === "d2").agg(
      min(col("value")).as("mn"), max(col("value")).as("mx"),
      count(lit(1)).as("n"))
    assert(graft.plans.PlanWalk.scannedFiles(qp).isEmpty,
      "partition-filtered resolved aggregate must fold, zero data files")
    assert(qp.collect()(0) == org.apache.spark.sql.Row(5L, 5L, 1L))
    // A RANGE conjunct composes via the hybrid classification:
    // [2, 60] fully covers d2's pure correction file (value 5 — FOLD),
    // partially covers d1's pure file (min 1 < 2 — SCAN with the
    // residual re-applied), and excludes the dead file's superseded
    // 999999 entirely: only d1's file opens.
    def qr = ta.read(spark)
      .filter(col("value") >= 2L && col("value") <= 60L)
      .agg(min(col("value")).as("mn"), max(col("value")).as("mx"),
        count(lit(1)).as("n"))
    assert(qr.collect()(0) == org.apache.spark.sql.Row(2L, 50L, 50L))
    // Data reads: d1's partially-covered file (the boundary scan) plus
    // the stale index's delta-entry read of the c1 file — never the
    // DEAD file holding the superseded 999999.
    val rScanned = graft.plans.PlanWalk.scannedFiles(qr)
      .filterNot(_.contains("/_graft_"))
    assert(rScanned.length <= 2,
      s"only boundary + delta-entry reads may open, got $rScanned")
    val deadName = new org.apache.hadoop.fs.Path(
      spark.read.parquet(s"$pathA/_graft_colstats")
        .filter(col("min_value") === 999999L)
        .select("file").collect()(0).getString(0)).getName
    assert(!rScanned.exists(_.endsWith(deadName)),
      "the dead file must never open")
    // A range fully covering a pure file folds it — d1 entirely inside,
    // d2's correction inside, dead file skipped: zero data files.
    def qf2 = ta.read(spark).filter(col("value") >= 1L)
      .agg(max(col("value")).as("mx"), count(lit(1)).as("n"))
    assert(graft.plans.PlanWalk.scannedFiles(qf2).isEmpty,
      "a fully-covering range must fold every pure file")
    assert(qf2.collect()(0) == org.apache.spark.sql.Row(50L, 51L))

    // Layout B: the trapped key lives WITH the bulk — its c0 file is
    // MIXED (scan through the winner semi-join), the c1 file is pure.
    val pathB = Files.createTempDirectory("graft_morstats_b_").toString + "/t"
    val tb = freshMor(pathB)
    tb.upsert(spark,
      rows(bulk :+ ((999L, "d1", 100L, 900L, 999999L)): _*),
      commitTime = "c0")
    tb.upsert(spark, rows((999L, "d1", 200L, 901L, 5L)), commitTime = "c1")
    // Fresh index (layout A covered the stale-index reconciliation):
    // the boundary side then embeds only the index read plus the mixed
    // file's scan — the pure correction file folds from the sidecar.
    tb.recordKeyIndex(spark)
    tb.recordColumnStats(spark, Seq("value"))
    def qb = tb.read(spark).agg(
      min(col("value")).as("mn"), max(col("value")).as("mx"),
      count(lit(1)).as("n"))
    assert(qb.collect()(0) == org.apache.spark.sql.Row(1L, 50L, 51L))
    val scanned = graft.plans.PlanWalk.scannedFiles(qb)
      .filterNot(_.contains("/_graft_")) // index/sidecar reads aren't data
    assert(scanned.nonEmpty, "the mixed file must scan")
    assert(scanned.length < dataFileCount(pathB),
      "the pure correction file must fold, not scan")

    // A range conjunct composes (or declines) — exact either way.
    def qf = tb.read(spark).filter(col("value") > 1L)
      .agg(max(col("value")).as("mx"))
    assert(qf.collect()(0).getLong(0) == 50L)
    // Missing sidecar / missing index fall to the plain scan, exact.
    val pathC = Files.createTempDirectory("graft_morstats_c_").toString + "/t"
    val tc = freshMor(pathC)
    tc.upsert(spark, rows(bulk: _*), commitTime = "c0")
    tc.recordKeyIndex(spark) // index, no stats
    def qc = tc.read(spark).agg(max(col("value")).as("mx"))
    assert(graft.plans.PlanWalk.scannedFiles(qc).nonEmpty)
    assert(qc.collect()(0).getLong(0) == 50L)
  }

  test("IS NULL / IS NOT NULL prune through the per-file null counts") {
    val path = Files.createTempDirectory("graft_nullprune_").toString + "/t"
    val t = KeyedTable(cowSpec(path))
    val ev = eventsUs.withColumn("value",
      when(col("event_id") % 7 === 0, lit(null).cast("double"))
        .otherwise(col("value")))
    t.upsert(spark, ev, commitTime = "c0")
    t.cluster(spark, Seq("value"), targetFileBytes = 4L << 10)
    t.recordColumnStats(spark, Seq("value"))
    val total = dataFileCount(path)
    // IS NULL: only null-carrying files open.
    val qNull = t.read(spark).filter(col("value").isNull)
      .select("event_id")
    val nullFiles = scannedDataFiles(qNull)
    assert(nullFiles.isDefined, "IS NULL must serve from null counts")
    assert(nullFiles.get.length < total,
      s"must prune: ${nullFiles.get.length} of $total")
    assert(qNull.as[Long].collect().toSet ==
      ev.filter(col("value").isNull).select("event_id").as[Long].collect().toSet)
    // IS NOT NULL composes with a range on the same column.
    val qBoth = t.read(spark)
      .filter(col("value").isNotNull && col("value") >= 0.5)
      .select("event_id", "value")
    assert(scannedDataFiles(qBoth).isDefined)
    assert(qBoth.collect().toSet ==
      ev.filter(col("value").isNotNull && col("value") >= 0.5)
        .select("event_id", "value").collect().toSet)
    // An uncovered column's null predicate declines (stays a full scan).
    val qUncov = t.read(spark).filter(col("user_id").isNull)
    assert(scannedDataFiles(qUncov).isEmpty,
      "null predicate on an uncovered column must decline")
  }

  test("ORDER BY … LIMIT k scans only the stats top-k candidates, exact") {
    val path = Files.createTempDirectory("graft_topk_").toString + "/t"
    val t = KeyedTable(cowSpec(path))
    t.upsert(spark, eventsUs, commitTime = "c0")
    t.cluster(spark, Seq("event_id"), targetFileBytes = 4L << 10)
    t.recordColumnStats(spark, Seq("event_id"))
    // Latest-N by the clustered column, unique-key head = deterministic.
    def qDesc = outputSet(
      t.read(spark).orderBy(col("event_id").desc).limit(25))
    val expectDesc = eventsUs.orderBy(col("event_id").desc).limit(25)
    val served = t.read(spark).orderBy(col("event_id").desc).limit(25)
    val files = scannedDataFiles(served)
    assert(files.isDefined, "the sorted limit must be served from stats")
    assert(files.get.length < dataFileCount(path),
      s"top-k candidates must prune: ${files.get.length} of ${dataFileCount(path)}")
    assert(qDesc == outputSet(expectDesc))
    // Ascending head + trailing tiebreak + narrowing projection all ride.
    val asc = t.read(spark)
      .select("event_id", "user_id")
      .orderBy(col("event_id").asc, col("user_id").desc)
      .limit(10)
    assert(scannedDataFiles(asc).isDefined, "asc head must serve")
    assert(asc.collect().toSeq ==
      eventsUs.select("event_id", "user_id")
        .orderBy(col("event_id").asc, col("user_id").desc)
        .limit(10).collect().toSeq)
    // Declines: k beyond the indexed row count (no prefix can bound the
    // boundary), and a filter on a column with NO recorded stats (the
    // walk cannot classify its files as fully-matching).
    val n = eventsUs.count().toInt
    val over = t.read(spark).orderBy(col("event_id").desc).limit(n + 10)
    assert(scannedDataFiles(over).isEmpty, "k > rows must decline")
    val filtered = t.read(spark).filter(col("value") >= 0.0)
      .orderBy(col("event_id").desc).limit(5)
    assert(scannedDataFiles(filtered).isEmpty,
      "a filter on an uncovered column below the sort must decline")
    assert(filtered.count() == 5)
  }

  test("filtered top-k: partition and range conjuncts compose into the walk") {
    val path = Files.createTempDirectory("graft_topk_filt_").toString + "/t"
    val t = KeyedTable(cowSpec(path))
    t.upsert(spark, eventsUs, commitTime = "c0")
    t.cluster(spark, Seq("ts_us"), targetFileBytes = 4L << 10)
    t.recordColumnStats(spark, Seq("ts_us"))
    val total = dataFileCount(path)
    val Array(r) = eventsUs
      .agg(min("ts_us").as("mn"), max("ts_us").as("mx")).collect()
    val (mn, mx) = (r.getLong(0), r.getLong(1))
    val cut = mn + 3 * (mx - mn) / 4

    // Partition point conjunct: the walk runs over one partition's
    // sidecar rows; values are exactly the plain filtered query's.
    def qPart = t.read(spark).filter(col("event_type") === "click")
      .orderBy(col("ts_us").desc, col("event_id").desc).limit(10)
    val fPart = scannedDataFiles(qPart)
    assert(fPart.isDefined, "a partition point filter must compose")
    assert(fPart.get.length < total,
      s"must prune: ${fPart.get.length} of $total")
    assert(outputSet(qPart) == outputSet(
      eventsUs.filter(col("event_type") === "click")
        .orderBy(col("ts_us").desc, col("event_id").desc).limit(10)))

    // Range conjunct on the sort column: FULL files below the cutoff
    // accumulate the bound; boundary rows stay exact via the residual.
    def qRange = t.read(spark).filter(col("ts_us") <= cut)
      .orderBy(col("ts_us").desc, col("event_id").desc).limit(10)
    val fRange = scannedDataFiles(qRange)
    assert(fRange.isDefined, "a stats-range filter must compose")
    assert(fRange.get.length < total,
      s"must prune: ${fRange.get.length} of $total")
    assert(outputSet(qRange) == outputSet(
      eventsUs.filter(col("ts_us") <= cut)
        .orderBy(col("ts_us").desc, col("event_id").desc).limit(10)))

    // Both together — "latest N of a kind before a cutoff".
    def qBoth = t.read(spark)
      .filter(col("event_type") === "click" && col("ts_us") <= cut)
      .orderBy(col("ts_us").desc, col("event_id").desc).limit(10)
    assert(scannedDataFiles(qBoth).isDefined,
      "partition + range conjuncts must compose together")
    assert(outputSet(qBoth) == outputSet(
      eventsUs.filter(col("event_type") === "click" && col("ts_us") <= cut)
        .orderBy(col("ts_us").desc, col("event_id").desc).limit(10)))

    // A filter so selective no FULL file exists declines (the walk
    // cannot accumulate k guaranteed-matching rows) — but stays exact.
    val Array(one) = eventsUs.filter(col("event_type") === "click")
      .orderBy(col("ts_us").asc).limit(1).select("ts_us").collect()
    val tiny = t.read(spark).filter(col("ts_us") === one.getLong(0))
      .orderBy(col("ts_us").desc, col("event_id").desc).limit(10)
    assert(tiny.count() >= 1)
  }

  test("filtered top-k: an IN conjunct on a clustered data column composes") {
    // "Longest N docs in these languages" — the IN's FULL files are the
    // single-valued language runs; non-listed languages' files drop
    // from the candidates even though the sort column is unclustered.
    val path = Files.createTempDirectory("graft_topk_in_").toString + "/t"
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "lang", "source", "n_chars")
    val t = KeyedTable(KeyedTableSpec(
      path = path, keyCols = Seq("doc_id"), precombineCol = "n_chars"))
    t.upsert(spark, docs, commitTime = "c0")
    t.cluster(spark, Seq("lang"), targetFileBytes = 1L << 10)
    t.recordColumnStats(spark, Seq("lang", "n_chars"))
    val total = dataFileCount(path)
    def q = t.read(spark).filter(col("lang").isin("de", "zh"))
      .orderBy(col("n_chars").desc, col("doc_id").desc).limit(10)
      .select("doc_id", "lang", "n_chars")
    val files = scannedDataFiles(q)
    assert(files.isDefined, "an IN conjunct on a stats column must compose")
    assert(files.get.length < total,
      s"must prune: ${files.get.length} of $total")
    assert(q.collect().toSeq ==
      docs.filter(col("lang").isin("de", "zh"))
        .orderBy(col("n_chars").desc, col("doc_id").desc).limit(10)
        .select("doc_id", "lang", "n_chars").collect().toSeq)
  }

  test("paginated top-k (LIMIT k OFFSET m) rides the walk at k + m") {
    // The optimizer canonicalizes limit-over-offset to
    // Offset(m, GlobalLimit(k + m, Sort)), so page N of the "latest"
    // listing matches the existing shape with the combined bound — the
    // walk proves the (k+m)th value and the residual Offset drops the
    // first page exactly.
    val path = Files.createTempDirectory("graft_topk_off_").toString + "/t"
    val t = KeyedTable(cowSpec(path))
    t.upsert(spark, eventsUs, commitTime = "c0")
    t.cluster(spark, Seq("ts_us"), targetFileBytes = 4L << 10)
    t.recordColumnStats(spark, Seq("ts_us"))
    val total = dataFileCount(path)
    def page2 = t.read(spark)
      .orderBy(col("ts_us").desc, col("event_id").desc)
      .offset(10).limit(10)
    val files = scannedDataFiles(page2)
    assert(files.isDefined, "the paginated top-k must serve")
    assert(files.get.length < total,
      s"must prune: ${files.get.length} of $total")
    assert(outputSet(page2) == outputSet(
      eventsUs.orderBy(col("ts_us").desc, col("event_id").desc)
        .offset(10).limit(10)))
    // The page boundary is exact: page2 ∩ page1 = ∅ and their union is
    // the unpaginated top 20.
    val page1 = t.read(spark)
      .orderBy(col("ts_us").desc, col("event_id").desc).limit(10)
    val top20 = t.read(spark)
      .orderBy(col("ts_us").desc, col("event_id").desc).limit(20)
    assert(outputSet(page1) ++ outputSet(page2) == outputSet(top20))
  }

  test("grouped top-k: rank ≤ N per partition group prunes per group, exact") {
    val path = Files.createTempDirectory("graft_gtopk_").toString + "/t"
    val t = KeyedTable(cowSpec(path))
    t.upsert(spark, eventsUs, commitTime = "c0")
    t.cluster(spark, Seq("ts_us"), targetFileBytes = 4L << 10)
    t.recordColumnStats(spark, Seq("ts_us"))
    val total = dataFileCount(path)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type")
      .orderBy(col("ts_us").desc, col("event_id").desc)
    def ranked(df: DataFrame) = df
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
      .select("event_type", "ts_us", "event_id", "rk")
    def q = ranked(t.read(spark))
    val files = scannedDataFiles(q)
    assert(files.isDefined, "the grouped top-k must serve")
    assert(files.get.length < total,
      s"must prune: ${files.get.length} of $total")
    assert(q.collect().toSet == ranked(eventsUs).collect().toSet)
    // rank() rides the same bound.
    def rnk(df: DataFrame) = df
      .withColumn("rk", rank().over(w)).filter(col("rk") <= 5)
      .select("event_type", "ts_us", "event_id", "rk")
    assert(scannedDataFiles(rnk(t.read(spark))).isDefined,
      "rank() must serve")
    assert(rnk(t.read(spark)).collect().toSet ==
      rnk(eventsUs).collect().toSet)
    // A partition conjunct composes — one group's candidates only.
    def one(df: DataFrame) = ranked(df.filter(col("event_type") === "click"))
    val oneFiles = scannedDataFiles(one(t.read(spark)))
    assert(oneFiles.isDefined, "a partition conjunct must compose")
    assert(oneFiles.get.length < files.get.length,
      "one group's candidates must be fewer than all groups'")
    assert(one(t.read(spark)).collect().toSet ==
      one(eventsUs).collect().toSet)
    // A data-column conjunct BELOW the window declines (it filters rows
    // before ranking — the count bound breaks) but stays exact.
    def below(df: DataFrame) = ranked(df.filter(col("value") > 10.0))
    assert(scannedDataFiles(below(t.read(spark))).isEmpty,
      "a below-window data conjunct must decline")
    assert(below(t.read(spark)).collect().toSet ==
      below(eventsUs).collect().toSet)
    // dense_rank gives no row bound — declines, stays exact.
    def dr(df: DataFrame) = df
      .withColumn("rk", dense_rank().over(w)).filter(col("rk") <= 5)
      .select("event_type", "ts_us", "event_id", "rk")
    assert(scannedDataFiles(dr(t.read(spark))).isEmpty,
      "dense_rank must decline")
    assert(dr(t.read(spark)).collect().toSet == dr(eventsUs).collect().toSet)
  }

  test("grouped top-k over a CLUSTERED DATA column prunes per run; unclustered declines") {
    // `PARTITION BY lang` where lang is a DATA column: files
    // single-valued in lang (the clustered run interiors) walk their
    // language's count bound; run-boundary and NULL-group files are
    // always kept. Every 17th doc gets a NULL lang — the null group's
    // files are unclassifiable, so its ranks survive exactly.
    // Synthetic corpus: big enough that each language's clustered run
    // spans many files (the fixture tables are too small to leave
    // interior files outside every group's top 3).
    val docs = spark.range(0, 20000).select(
      col("id").as("doc_id"),
      when(col("id") % 17 =!= 0,
        concat(lit("lang"), (col("id") % 5).cast("string"))).as("lang"),
      (col("id") * 31 % 9973).as("n_chars"),
      // Incompressible payload so the 16 KB file target yields many
      // real files (delta-encoded ints alone compress to nothing).
      md5(col("id").cast("string")).as("payload"))
    val path = Files.createTempDirectory("graft_gtopk_data_").toString + "/t"
    val t = KeyedTable(KeyedTableSpec(
      path = path, keyCols = Seq("doc_id"), precombineCol = "n_chars"))
    t.upsert(spark, docs, commitTime = "c0")
    // (lang, n_chars): contiguous language runs, n_chars-tight files
    // within each — the leaderboard layout (by lang alone the range
    // partitioner caps files at the key cardinality)
    t.cluster(spark, Seq("lang", "n_chars"), targetFileBytes = 16L << 10)
    t.recordColumnStats(spark, Seq("lang", "n_chars"))
    val total = dataFileCount(path)
    assert(total > 10, s"fixture must span many files, got $total")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang")
      .orderBy(col("n_chars").desc, col("doc_id").desc)
    def ranked(df: DataFrame) = df
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
      .select("doc_id", "lang", "n_chars", "rk")
    def q = ranked(t.read(spark))
    val files = scannedDataFiles(q)
    assert(files.isDefined, "the data-group top-k must serve")
    assert(files.get.length < total,
      s"must prune: ${files.get.length} of $total")
    assert(q.collect().toSet == ranked(docs).collect().toSet)
    // MIXED grouping — a hive partition key alongside the clustered
    // data column — rides the same walk: the per-file group key is the
    // (partition tuple, stored single value) pair. Build a partitioned
    // twin of the corpus and rank within (src, lang).
    val path3 = Files.createTempDirectory("graft_gtopk_mix_").toString + "/t"
    val t3 = KeyedTable(KeyedTableSpec(
      path = path3, keyCols = Seq("doc_id"), precombineCol = "n_chars",
      partitionCols = Seq("src")))
    val docs3 = docs.withColumn("src",
      when(col("doc_id") % 2 === 0, "web").otherwise("book"))
    t3.upsert(spark, docs3, commitTime = "c0")
    t3.cluster(spark, Seq("lang", "n_chars"), targetFileBytes = 16L << 10)
    t3.recordColumnStats(spark, Seq("lang", "n_chars"))
    val w3 = org.apache.spark.sql.expressions.Window
      .partitionBy("src", "lang")
      .orderBy(col("n_chars").desc, col("doc_id").desc)
    def ranked3(df: DataFrame) = df
      .withColumn("rk", row_number().over(w3)).filter(col("rk") <= 3)
      .select("doc_id", "src", "lang", "n_chars", "rk")
    def q3 = ranked3(t3.read(spark))
    val files3 = scannedDataFiles(q3)
    assert(files3.isDefined, "the mixed partition+data grouping must serve")
    assert(files3.get.length < dataFileCount(path3),
      s"must prune: ${files3.get.length} of ${dataFileCount(path3)}")
    assert(q3.collect().toSet == ranked3(docs3).collect().toSet)
    // An UNCLUSTERED layout leaves every file multi-valued in lang:
    // nothing classifies, every file is kept — decline, still exact.
    val path2 = Files.createTempDirectory("graft_gtopk_flat_").toString + "/t"
    val t2 = KeyedTable(KeyedTableSpec(
      path = path2, keyCols = Seq("doc_id"), precombineCol = "n_chars"))
    t2.upsert(spark, docs.filter(col("doc_id") % 2 === 0), commitTime = "c0")
    t2.insert(spark, docs.filter(col("doc_id") % 2 === 1), commitTime = "c1")
    t2.recordColumnStats(spark, Seq("lang", "n_chars"))
    def q2 = ranked(t2.read(spark))
    assert(scannedDataFiles(q2).isEmpty,
      "an unclustered layout must decline (every file kept)")
    assert(q2.collect().toSet == ranked(docs).collect().toSet)
  }

  test("above-window partition conjunct on a NON-group column stays residual (filter-after-rank)") {
    // Table hive-partitioned by src, window PARTITION BY lang only: the
    // ranks run ACROSS src partitions, so a src conjunct ABOVE the
    // window selects among globally-ranked rows. Pruning the other
    // src's files before ranking would recompute ranks within one src —
    // wrong rows, wrong ranks. The conjunct must stay residual (never
    // feed PartitionConjuncts.select), while the SAME conjunct BELOW
    // the window is the query's own filter-before-rank and composes.
    val docs = spark.range(0, 20000).select(
      col("id").as("doc_id"),
      concat(lit("lang"), (col("id") % 5).cast("string")).as("lang"),
      (col("id") * 31 % 9973).as("n_chars"),
      md5(col("id").cast("string")).as("payload"),
      when(col("id") % 2 === 0, "web").otherwise("book").as("src"))
    val path = Files.createTempDirectory("graft_gtopk_aw_").toString + "/t"
    val t = KeyedTable(KeyedTableSpec(
      path = path, keyCols = Seq("doc_id"), precombineCol = "n_chars",
      partitionCols = Seq("src")))
    t.upsert(spark, docs, commitTime = "c0")
    t.cluster(spark, Seq("lang", "n_chars"), targetFileBytes = 16L << 10)
    t.recordColumnStats(spark, Seq("lang", "n_chars"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("n_chars").desc, col("doc_id").desc)
    def above(df: DataFrame) = df
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
      .filter(col("src") === "web")
      .select("doc_id", "src", "lang", "n_chars", "rk")
    def belowW(df: DataFrame) = df.filter(col("src") === "web")
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
      .select("doc_id", "src", "lang", "n_chars", "rk")
    val expected = above(docs).collect().toSet
    // The trap is live: ranking within web-only rows gives a DIFFERENT
    // answer than ranking globally then filtering.
    assert(belowW(docs).collect().toSet != expected,
      "fixture must distinguish filter-before from filter-after ranking")
    assert(above(t.read(spark)).collect().toSet == expected,
      "an above-window partition conjunct on a non-group column must " +
        "stay residual — pruning by it would shift ranks")
    // Below the window the conjunct composes and prunes.
    assert(belowW(t.read(spark)).collect().toSet ==
      belowW(docs).collect().toSet)
  }

  test("FILTERED grouped top-k: the eligibility range composes into the per-group walk") {
    val docs = spark.range(0, 20000).select(
      col("id").as("doc_id"),
      concat(lit("lang"), (col("id") % 5).cast("string")).as("lang"),
      (col("id") * 31 % 9973).as("n_chars"),
      md5(col("id").cast("string")).as("payload"))
    val path = Files.createTempDirectory("graft_gtopk_flt_").toString + "/t"
    val t = KeyedTable(KeyedTableSpec(
      path = path, keyCols = Seq("doc_id"), precombineCol = "n_chars"))
    t.upsert(spark, docs, commitTime = "c0")
    t.cluster(spark, Seq("lang", "n_chars"), targetFileBytes = 16L << 10)
    t.recordColumnStats(spark, Seq("lang", "n_chars"))
    val total = dataFileCount(path)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang")
      .orderBy(col("n_chars").desc, col("doc_id").desc)
    // The band excludes the global head: the per-group bounds come from
    // mid-range files, and files ABOVE the band — whose values would top
    // the unfiltered board — must not open.
    def ranked(df: DataFrame) = df
      .filter(col("n_chars") >= 2000L && col("n_chars") <= 8000L)
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
      .select("doc_id", "lang", "n_chars", "rk")
    def q = ranked(t.read(spark))
    val files = scannedDataFiles(q)
    assert(files.isDefined, "the filtered grouped top-k must serve")
    assert(files.get.length < total,
      s"must prune: ${files.get.length} of $total")
    val expect = ranked(docs).collect().toSet
    assert(q.collect().toSet == expect)
    assert(expect.nonEmpty &&
      expect.forall(r => r.getLong(2) <= 8000L && r.getLong(2) >= 2000L))
    // A residual conjunct ABOVE the rank filter only filters ranked
    // output — the serve still fires and stays exact.
    def qa = ranked(t.read(spark)).filter(col("n_chars") % 2 === 0)
    assert(scannedDataFiles(qa).isDefined,
      "an above-window residual must not block the serve")
    assert(qa.collect().toSet == expect.filter(_.getLong(2) % 2 == 0))
    // A fully unclassifiable BELOW-window filter declines every stats
    // rule (no range component for the range rule to prune by either) —
    // exact via the full scan. (A MIXED below-window filter — ranges
    // plus an unclassifiable conjunct — correctly falls back to the
    // plain RANGE prune: in-band file selection is sound under a window
    // because it never drops a filter-surviving row.)
    def qd = t.read(spark)
      .filter(length(col("payload")) > 2)
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
      .select("doc_id", "lang", "n_chars", "rk")
    assert(scannedDataFiles(qd).isEmpty,
      "a non-range below-window conjunct must decline the grouped walk")
    def rankedAll(df: DataFrame) = df
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
      .select("doc_id", "lang", "n_chars", "rk")
    assert(qd.collect().toSet == rankedAll(docs).collect().toSet)
  }

  test("top-k with nulls sorting first keeps every null-carrying file") {
    val path = Files.createTempDirectory("graft_topk_null_").toString + "/t"
    val t = KeyedTable(cowSpec(path))
    // Every 7th key's nv is NULL; clustering by nv co-locates the nulls
    // at the sort head (Spark sorts asc nulls-first), so a naive
    // bounds-only selection would drop exactly the files the query's
    // head rows live in.
    val ev = eventsUs.withColumn("nv",
      when(col("event_id") % 7 === 0, lit(null)).otherwise(col("ts_us")))
    t.upsert(spark, ev, commitTime = "c0")
    t.cluster(spark, Seq("nv"), targetFileBytes = 4L << 10)
    t.recordColumnStats(spark, Seq("nv"))
    val nNulls = ev.filter(col("nv").isNull).count()
    assert(nNulls > 10, "fixture must produce enough nulls")
    def q = t.read(spark)
      .orderBy(col("nv").asc, col("event_id").asc) // asc = nulls FIRST
      .limit(10)
      .select("event_id", "nv")
    val files = scannedDataFiles(q)
    assert(files.isDefined, "nulls-first top-k must still serve")
    assert(files.get.length < dataFileCount(path),
      s"must prune: ${files.get.length} of ${dataFileCount(path)}")
    val got = q.collect().toSeq
    assert(got.forall(_.isNullAt(1)), "the head of nulls-first is null rows")
    assert(got.map(_.getLong(0)) ==
      ev.filter(col("nv").isNull).orderBy(col("event_id").asc)
        .limit(10).select("event_id").as[Long].collect().toSeq)
  }

  test("range serves under narrowing and renaming projections") {
    val path = Files.createTempDirectory("graft_rng_proj_").toString + "/t"
    val t = mkClustered(path)
    t.recordColumnStats(spark, Seq("event_id"))
    // SELECT a, b FROM t WHERE k BETWEEN … — projection above the range.
    val narrowed = t.read(spark)
      .select("event_id", "value")
      .filter(col("event_id").between(100L, 299L))
    assert(scannedDataFiles(narrowed).isDefined,
      "a narrowing projection must not block the range serve")
    // Renamed range column below the filter.
    val renamed = t.read(spark)
      .select(col("event_id").as("eid"), col("value"))
      .filter(col("eid") >= 100L && col("eid") < 300L)
    assert(scannedDataFiles(renamed).isDefined,
      "a renamed range probe must still serve")
    assert(renamed.collect().toSet ==
      eventsUs.filter(col("event_id").between(100L, 299L))
        .select(col("event_id").as("eid"), col("value")).collect().toSet)
  }

  test("IN-list filter prunes by per-value containment over the stats") {
    val path = Files.createTempDirectory("graft_inl_").toString + "/t"
    val t = mkClustered(path) // clustered on event_id, 4 KB files
    t.recordColumnStats(spark, Seq("event_id"))
    val ids = eventsUs.select("event_id").distinct()
      .orderBy("event_id").as[Long].collect()
    // Two values from the domain's opposite ends: only their files open.
    val probe = Seq(ids.head, ids.last)
    def q = t.read(spark).filter(col("event_id").isin(probe: _*))
    val served = q
    val files = scannedDataFiles(served)
    assert(files.isDefined, "the IN list must be served from stats")
    assert(files.get.length < dataFileCount(path),
      s"containment must prune: ${files.get.length} of ${dataFileCount(path)}")
    assert(outputSet(served) ==
      outputSet(eventsUs.filter(col("event_id").isin(probe: _*))))
    // Composed with a range on the same stats: both conjuncts select.
    val both = t.read(spark).filter(
      col("event_id").isin(probe: _*) && col("event_id") <= ids.head)
    assert(scannedDataFiles(both).isDefined, "IN ∧ range must serve")
    assert(outputSet(both) ==
      outputSet(eventsUs.filter(col("event_id") === ids.head)))
    // An InSet-sized list (> 10 values, optimizer-converted) serves too.
    val wide = ids.take(12).toSeq
    val inset = t.read(spark).filter(col("event_id").isin(wide: _*))
    assert(scannedDataFiles(inset).isDefined, "InSet must serve")
    assert(outputSet(inset) ==
      outputSet(eventsUs.filter(col("event_id").isin(wide: _*))))
    // Oversized lists decline (not point-shaped).
    val big = (0L until 200L).toSeq
    val over = t.read(spark).filter(col("event_id").isin(big: _*))
    assert(scannedDataFiles(over).isEmpty, "an oversized IN must decline")
  }

  // ---- hybrid range aggregates (full files fold, boundaries scan) ----

  private def hybridServed(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectFirst {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
    }.isDefined

  private def scannedData(df: DataFrame): Seq[String] =
    graft.plans.PlanWalk.scannedFiles(df)
      .filter(p => p.endsWith(".parquet") && !p.contains("_graft"))

  private def mkTimeClustered(path: String): (KeyedTable, Long, Long) = {
    val t = KeyedTable(cowSpec(path))
    t.upsert(spark, eventsUs, commitTime = "c0")
    t.cluster(spark, Seq("ts_us"), targetFileBytes = 4L << 10)
    t.recordColumnStats(spark, Seq("ts_us", "event_id", "value"))
    val Array(r) = eventsUs.agg(min("ts_us"), max("ts_us")).collect()
    (t, r.getLong(0), r.getLong(1))
  }

  test("hybrid range aggregate folds full files, scans only boundaries") {
    val path = Files.createTempDirectory("graft_hyb_").toString + "/t"
    val (t, mn, mx) = mkTimeClustered(path)
    val span = mx - mn
    val (lo, hi) = (mn + span / 8, mx - span / 8)
    def plain(df: DataFrame) = df
      .filter(col("ts_us") >= lo && col("ts_us") <= hi)
      .agg(count(lit(1)).as("n"), count(col("value")).as("nv"),
        sum(col("event_id")).as("s"),
        min(col("ts_us")).as("tmn"), max(col("ts_us")).as("tmx"))
    val served = plain(t.read(spark))
    assert(hybridServed(served), "the hybrid union must serve")
    val scanned = scannedData(served)
    val (cands, _) = t.statsCandidates(spark,
      Seq(graft.table.ColumnRange.inclusive("ts_us", lo, hi))).get
    assert(scanned.nonEmpty && scanned.length < cands.length,
      s"boundary files (${scanned.length}) must be fewer than the range " +
        s"candidates (${cands.length})")
    assert(served.collect()(0) == plain(eventsUs).collect()(0))
  }

  test("an exactly-aligned range folds everything: zero data files open") {
    val path = Files.createTempDirectory("graft_hyb_all_").toString + "/t"
    val (t, mn, mx) = mkTimeClustered(path)
    def plain(df: DataFrame) = df
      .filter(col("ts_us") >= mn && col("ts_us") <= mx)
      .agg(count(lit(1)).as("n"), sum(col("event_id")).as("s"))
    val served = plain(t.read(spark))
    assert(hybridServed(served), "whole-domain range must serve")
    assert(scannedData(served).isEmpty,
      "every file is full: the boundary scan must be empty")
    assert(served.collect()(0) == plain(eventsUs).collect()(0))
  }

  test("hybrid count(col) folds per-file null counts exactly") {
    val path = Files.createTempDirectory("graft_hyb_null_").toString + "/t"
    val t = KeyedTable(cowSpec(path))
    val nulled = eventsUs.withColumn("value",
      when(col("event_id") % 7 === 0, lit(null).cast("double"))
        .otherwise(col("value")))
    t.upsert(spark, nulled, commitTime = "c0")
    t.cluster(spark, Seq("ts_us"), targetFileBytes = 4L << 10)
    t.recordColumnStats(spark, Seq("ts_us", "value"))
    val Array(r) = nulled.agg(min("ts_us"), max("ts_us")).collect()
    val (mn, mx) = (r.getLong(0), r.getLong(1))
    val (lo, hi) = (mn + (mx - mn) / 8, mx - (mx - mn) / 8)
    def plain(df: DataFrame) = df
      .filter(col("ts_us") >= lo && col("ts_us") <= hi)
      .agg(count(col("value")).as("nv"), count(lit(1)).as("n"))
    val served = plain(t.read(spark))
    assert(hybridServed(served), "count(col) must serve through the hybrid")
    assert(served.collect()(0) == plain(nulled).collect()(0))
  }

  test("GROUPED hybrid: per-partition range aggregate folds and combines") {
    val path = Files.createTempDirectory("graft_hyb_grp_").toString + "/t"
    val (t, mn, mx) = mkTimeClustered(path)
    val span = mx - mn
    val (lo, hi) = (mn + span / 8, mx - span / 8)
    def plain(df: DataFrame) = df
      .filter(col("ts_us") >= lo && col("ts_us") <= hi)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("event_id")).as("s"),
        min(col("ts_us")).as("tmn"), max(col("ts_us")).as("tmx"))
      .orderBy("event_type")
    val served = plain(t.read(spark))
    assert(hybridServed(served), "the grouped hybrid union must serve")
    val scanned = scannedData(served)
    val (cands, _) = t.statsCandidates(spark,
      Seq(graft.table.ColumnRange.inclusive("ts_us", lo, hi))).get
    assert(scanned.nonEmpty && scanned.length < cands.length,
      s"boundary files (${scanned.length}) must stay under the " +
        s"candidates (${cands.length})")
    assert(served.collect().toSeq == plain(eventsUs).collect().toSeq)
    // Non-partition grouping declines (a per-file fold cannot partition
    // an arbitrary grouping) but stays exact through the plain scan.
    val byUser = t.read(spark)
      .filter(col("ts_us") >= lo && col("ts_us") <= hi)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
    assert(!hybridServed(byUser), "non-partition grouping must decline")
  }

  test("avg serves from the sidecar via Spark's own Average expression") {
    val path = Files.createTempDirectory("graft_avg_").toString + "/t"
    val table = KeyedTable(cowSpec(path))
    val ev = eventsUs
      .withColumn("dec_val", (col("event_id") % 500).cast("decimal(10,2)"))
      .withColumn("signed", col("event_id") - 300L) // mixed sign
      .withColumn("nul", lit(null).cast("long"))
    table.upsert(spark, ev, commitTime = "c0")
    def q = table.read(spark).agg(
      avg(col("event_id")).as("a_id"), avg(col("dec_val")).as("a_dec"),
      avg(col("nul")).as("a_nul"), count(lit(1)).as("n"))
    val expected = q.collect()(0) // no stats yet: real scan
    assert(graft.plans.PlanWalk.scannedFiles(q).nonEmpty)
    table.recordColumnStats(
      spark, Seq("event_id", "dec_val", "signed", "nul", "ts_us"))
    assert(graft.plans.PlanWalk.scannedFiles(q).isEmpty,
      "served avg must scan NO files (LocalRelation plan)")
    assert(q.collect()(0) == expected)
    // grouped by the partition column: per-group guards, still no scan
    def qg = table.read(spark).groupBy(col("event_type"))
      .agg(avg(col("event_id")).as("a"), avg(col("dec_val")).as("ad"))
    assert(graft.plans.PlanWalk.scannedFiles(qg).isEmpty)
    assert(qg.collect().toSet ==
      ev.groupBy(col("event_type"))
        .agg(avg(col("event_id")).as("a"), avg(col("dec_val")).as("ad"))
        .collect().toSet)
    // MIXED-SIGN integral declines (double accumulation order could
    // round differently) but stays exact through the scan
    def qs = table.read(spark).agg(avg(col("signed")).as("a"))
    assert(graft.plans.PlanWalk.scannedFiles(qs).nonEmpty,
      "mixed-sign integral avg must decline to the scan")
    assert(qs.collect()(0) == ev.agg(avg(col("signed")).as("a")).collect()(0))
    // a total at epoch-micros scale blows 2^53: declines, stays exact
    def qt = table.read(spark).agg(avg(col("ts_us")).as("a"))
    assert(graft.plans.PlanWalk.scannedFiles(qt).nonEmpty,
      "a > 2^53 total must decline to the scan")
    // FP column: declined at admission (value is DOUBLE)
    def qf = table.read(spark).agg(avg(col("value")).as("a"))
    assert(graft.plans.PlanWalk.scannedFiles(qf).nonEmpty)
  }

  test("avg rides the hybrid: full files fold sum+count, boundaries scan") {
    val path = Files.createTempDirectory("graft_avg_hyb_").toString + "/t"
    val t = KeyedTable(cowSpec(path))
    val ev = eventsUs
      .withColumn("dec_val", (col("event_id") % 500).cast("decimal(10,2)"))
    t.upsert(spark, ev, commitTime = "c0")
    t.cluster(spark, Seq("ts_us"), targetFileBytes = 4L << 10)
    t.recordColumnStats(spark, Seq("ts_us", "event_id", "dec_val"))
    val Array(r) = ev.agg(min("ts_us"), max("ts_us")).collect()
    val (mn, mx) = (r.getLong(0), r.getLong(1))
    val (lo, hi) = (mn + (mx - mn) / 8, mx - (mx - mn) / 8)
    def plain(df: DataFrame) = df
      .filter(col("ts_us") >= lo && col("ts_us") <= hi)
      .agg(avg(col("event_id")).as("a_id"), avg(col("dec_val")).as("a_dec"),
        count(lit(1)).as("n"))
    val served = plain(t.read(spark))
    assert(hybridServed(served), "range-filtered avg must serve hybrid")
    val scanned = scannedData(served)
    val (cands, _) = t.statsCandidates(spark,
      Seq(graft.table.ColumnRange.inclusive("ts_us", lo, hi))).get
    assert(scanned.nonEmpty && scanned.length < cands.length,
      s"boundary files (${scanned.length}) must stay under the " +
        s"candidates (${cands.length})")
    assert(served.collect()(0) == plain(ev).collect()(0))
    // grouped by the partition column composes
    def grouped(df: DataFrame) = df
      .filter(col("ts_us") >= lo && col("ts_us") <= hi)
      .groupBy(col("event_type"))
      .agg(avg(col("event_id")).as("a"), count(lit(1)).as("n"))
    val sg = grouped(t.read(spark))
    assert(hybridServed(sg), "grouped range avg must serve hybrid")
    assert(sg.collect().toSet == grouped(ev).collect().toSet)
    // a > 2^53 integral total declines the node (whole-table guard):
    // at that magnitude Spark's own double accumulation is ORDER-
    // dependent (two plain scans of the same rows can differ in the
    // last ULP — the very reason the serve declines), so the check is
    // decline + closeness, not bit equality.
    def qt = t.read(spark)
      .filter(col("ts_us") >= lo && col("ts_us") <= hi)
      .agg(avg(col("ts_us")).as("a"))
    assert(!hybridServed(qt), "epoch-scale totals must decline to the scan")
    val a1 = qt.collect()(0).getDouble(0)
    val a2 = ev.filter(col("ts_us") >= lo && col("ts_us") <= hi)
      .agg(avg(col("ts_us")).as("a")).collect()(0).getDouble(0)
    assert(math.abs(a1 - a2) / math.abs(a2) < 1e-12)
  }

  test("GROUP BY a clustered DATA column folds interior files, scans boundaries") {
    val path = Files.createTempDirectory("graft_hyb_dgrp_").toString + "/t"
    // Unpartitioned on purpose: the point of the data-group arm is
    // serving a low-cardinality rollup WITHOUT paying the partition
    // tax — and long bucket runs must span several files so interior
    // files are single-valued.
    val t = KeyedTable(KeyedTableSpec(
      path = path, keyCols = Seq("event_id"), precombineCol = "ts_us"))
    // bucket: a low-cardinality DATA column (not a hive partition), with
    // a NULL slice — null-carrying files fail nn = cnt and must scan so
    // the NULL group comes out exactly.
    val ev = eventsUs.withColumn("bucket",
      when(col("user_id") % 13 === 0, lit(null).cast("long"))
        .otherwise(col("user_id") % 4))
    t.upsert(spark, ev, commitTime = "c0")
    t.cluster(spark, Seq("bucket"), targetFileBytes = 4L << 10)
    t.recordColumnStats(spark, Seq("bucket", "event_id"))
    def plain(df: DataFrame) = df.groupBy("bucket")
      .agg(count(lit(1)).as("n"), sum(col("event_id")).as("s"),
        min(col("event_id")).as("mn"), max(col("event_id")).as("mx"))
    val served = plain(t.read(spark))
    assert(hybridServed(served), "the data-group hybrid must serve")
    val scanned = scannedData(served)
    assert(scanned.nonEmpty && scanned.length < dataFileCount(path),
      s"boundary files (${scanned.length}) must stay under the table's " +
        s"${dataFileCount(path)} files")
    assert(served.collect().toSet == plain(ev).collect().toSet)
    // a range conjunct composes with the data-column grouping — on the
    // clustered column it also PRUNES: out-of-range runs' files drop
    // from the boundary scan entirely (an off-cluster range conjunct
    // instead leaves no full file and rightly declines to the scan)
    def both(df: DataFrame) = df.filter(col("bucket") <= 1L)
      .groupBy("bucket").agg(count(lit(1)).as("n"))
    val sv = both(t.read(spark))
    assert(hybridServed(sv), "range + data-group must compose")
    assert(sv.collect().toSet == both(ev).collect().toSet)
    assert(scannedData(sv).length < scanned.length,
      "the range must also prune boundary files vs the unfiltered group")
    // grouping by an UNCOVERED data column declines but stays exact
    def byUser(df: DataFrame) = df.groupBy("user_id")
      .agg(count(lit(1)).as("n"))
    assert(!hybridServed(byUser(t.read(spark))),
      "an uncovered group column must decline")
    assert(byUser(t.read(spark)).collect().toSet ==
      byUser(ev).collect().toSet)
  }

  test("DISTINCT serves: partition columns pure-metadata, clustered data hybrid") {
    val path = Files.createTempDirectory("graft_dist_").toString + "/t"
    val t = KeyedTable(cowSpec(path))
    val ev = eventsUs.withColumn("bucket",
      when(col("user_id") % 13 === 0, lit(null).cast("long"))
        .otherwise(col("user_id") % 4))
    t.upsert(spark, ev, commitTime = "c0")
    def qp = t.read(spark).select("event_type").distinct()
    val expectedP = qp.collect().toSet // no stats yet: real scan
    assert(graft.plans.PlanWalk.scannedFiles(qp).nonEmpty)
    t.cluster(spark, Seq("bucket"), targetFileBytes = 4L << 10)
    t.recordColumnStats(spark, Seq("bucket"))
    // partition-column DISTINCT: the relational SHOW PARTITIONS — the
    // sidecar's per-file partition tuples, zero data files opened
    assert(graft.plans.PlanWalk.scannedFiles(qp).isEmpty,
      "partition DISTINCT must be a pure metadata read")
    assert(qp.collect().toSet == expectedP)
    // clustered-data-column DISTINCT: single-valued files contribute
    // their one value, boundary (null-carrying) files scan — the NULL
    // group survives exactly
    def qb = t.read(spark).select("bucket").distinct()
    assert(hybridServed(qb), "data-column DISTINCT must serve hybrid")
    assert(qb.collect().toSet == ev.select("bucket").distinct().collect().toSet)
    // DISTINCT over an uncovered column declines, stays exact
    def qu = t.read(spark).select("user_id").distinct()
    assert(!hybridServed(qu) &&
      graft.plans.PlanWalk.scannedFiles(qu).nonEmpty)
    assert(qu.collect().toSet ==
      ev.select("user_id").distinct().collect().toSet)
  }

  test("decimal sum serves from exact widened partials, whole and hybrid") {
    val path = Files.createTempDirectory("graft_decsum_").toString + "/t"
    val t = KeyedTable(cowSpec(path))
    // value quantized to cents: the double→decimal cast is exact.
    val ev = eventsUs.withColumn("dec_val",
      (floor(col("value") * 100) / 100).cast("decimal(12,2)"))
    t.upsert(spark, ev, commitTime = "c0")
    t.cluster(spark, Seq("ts_us"), targetFileBytes = 4L << 10)
    t.recordColumnStats(spark, Seq("ts_us", "dec_val"))
    // WHOLE serve: no data files open, value bit-exact, result type =
    // Spark's own Sum type (DECIMAL(22,2)).
    def whole = t.read(spark).agg(
      sum(col("dec_val")).as("s"), min(col("dec_val")).as("mn"),
      count(lit(1)).as("n"))
    assert(graft.plans.PlanWalk.scannedFiles(whole).isEmpty,
      "the decimal sum must be answered from the sidecar")
    assert(whole.schema("s").dataType.simpleString == "decimal(22,2)")
    assert(whole.collect()(0) == ev.agg(
      sum(col("dec_val")).as("s"), min(col("dec_val")).as("mn"),
      count(lit(1)).as("n")).collect()(0))
    // HYBRID serve: full files fold in decimal, boundary files scan,
    // the combine re-casts to the original result type.
    val Array(r) = ev.agg(min("ts_us").as("mn"), max("ts_us").as("mx")).collect()
    val (mn, mx) = (r.getLong(0), r.getLong(1)); val span = mx - mn
    def hyb(df: DataFrame) = df
      .filter(col("ts_us") >= mn + span / 8 && col("ts_us") <= mx - span / 8)
      .agg(sum(col("dec_val")).as("s"), count(lit(1)).as("n"))
    val served = hyb(t.read(spark))
    assert(hybridServed(served), "the decimal hybrid must serve")
    assert(served.schema("s").dataType.simpleString == "decimal(22,2)")
    assert(served.collect()(0) == hyb(ev).collect()(0))
    // FP sums still decline (order-sensitive folds).
    val fp = t.read(spark).agg(sum(col("value")).as("sv"))
    assert(graft.plans.PlanWalk.scannedFiles(fp).nonEmpty,
      "an FP sum must still decline to the scan")
  }

  test("IN-list hybrid: single-valued files fold, boundary files scan") {
    val path = Files.createTempDirectory("graft_hyb_in_").toString + "/t"
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "lang", "source", "n_chars")
    val t = KeyedTable(KeyedTableSpec(
      path = path, keyCols = Seq("doc_id"), precombineCol = "n_chars"))
    t.upsert(spark, docs, commitTime = "c0")
    // 1 KB files over 5 language runs of 70-190 rows: interior files
    // are single-valued in lang, run boundaries straddle two values.
    t.cluster(spark, Seq("lang"), targetFileBytes = 1L << 10)
    t.recordColumnStats(spark, Seq("lang", "n_chars"))
    def plain(df: DataFrame) = df
      .filter(col("lang").isin("de", "zh"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("s"),
        min(col("n_chars")).as("mn"), max(col("n_chars")).as("mx"))
    val served = plain(t.read(spark))
    assert(hybridServed(served), "the IN hybrid union must serve")
    // Boundary scan strictly smaller than the IN-prune candidate set —
    // possibly EMPTY when the run boundaries align with file boundaries
    // (every candidate single-valued: the fold answers everything).
    val scanned = scannedData(served)
    val (cands, _) = t.statsCandidates(
      spark, Nil, Nil, Seq(("lang", Seq("de", "zh")))).get
    assert(scanned.length < cands.length,
      s"boundary files (${scanned.length}) must be fewer than the IN " +
        s"candidates (${cands.length})")
    assert(served.collect()(0) == plain(docs).collect()(0))
    // A probe spanning every language exercises both sides at once:
    // interior single-valued files fold, any straddling file scans.
    def all5(df: DataFrame) = df
      .filter(col("lang").isin("de", "en", "es", "fr", "zh"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("s"))
    val servedAll = all5(t.read(spark))
    assert(hybridServed(servedAll), "the all-language IN must serve")
    assert(servedAll.collect()(0) == all5(docs).collect()(0))
    // A list whose values appear in NO file folds to the empty side and
    // scans nothing satisfying — exact either way.
    val none = t.read(spark).filter(col("lang").isin("xx"))
      .agg(count(lit(1)).as("n"))
    assert(none.collect()(0).getLong(0) == 0L)
  }

  test("hybrid declines: FP sum, leftover conjunct, zero full files") {
    val path = Files.createTempDirectory("graft_hyb_dec_").toString + "/t"
    val (t, mn, mx) = mkTimeClustered(path)
    val span = mx - mn
    val (lo, hi) = (mn + span / 8, mx - span / 8)
    // Sum over a DOUBLE declines the whole node (order-sensitive folds).
    val fp = t.read(spark)
      .filter(col("ts_us") >= lo && col("ts_us") <= hi)
      .agg(sum(col("value")).as("sv"))
    assert(!hybridServed(fp), "FP sum must decline")
    // A conjunct the extraction cannot consume declines (its rows would
    // falsify the full-file fold).
    val leftover = t.read(spark)
      .filter(col("ts_us") >= lo && col("ts_us") <= hi &&
        col("event_id") % 2 === 0)
      .agg(count(lit(1)).as("n"))
    assert(!hybridServed(leftover), "a leftover conjunct must decline")
    // A sliver range contained in one file has no full files — that
    // shape belongs to the pruned SCAN, not the fold.
    val sliver = t.read(spark)
      .filter(col("ts_us") >= mn && col("ts_us") <= mn + 1L)
      .agg(count(lit(1)).as("n"))
    assert(!hybridServed(sliver), "zero full files must decline")
    // Every declined shape still answers exactly.
    assert(sliver.collect()(0).getLong(0) ==
      eventsUs.filter(col("ts_us") >= mn && col("ts_us") <= mn + 1L).count())
  }
}
