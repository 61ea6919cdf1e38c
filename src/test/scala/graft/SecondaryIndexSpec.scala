package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.table.{KeyedTable, KeyedTableSpec}

/** The secondary index (point lookups on a NON-key column, Hudi 1.0's
  * secondary-index idea): result equivalence with the full filtered
  * read on every path (fresh, stale over MoR appends, value-migrating
  * updates, compaction), candidate pruning through the composed
  * value→keys→files chain, incremental refresh ≡ rebuild, and the
  * absent-index fallback.
  */
class SecondaryIndexSpec extends SparkTestBase {
  import spark.implicits._

  private def eventsUs =
    Tables.events(spark, sf0001).withColumn("ts_us", expr("ts div 1000"))

  private def outputSet(df: DataFrame): Set[(Long, String, Long, Long, Double)] =
    df.select("user_id", "event_type", "ts_us", "event_id", "value")
      .as[(Long, String, Long, Long, Double)].collect().toSet

  private def cowSpec(path: String) = KeyedTableSpec(
    path = path, keyCols = Seq("user_id"), precombineCol = "ts_us",
    tiebreakCols = Seq("event_id"), partitionCols = Seq("event_type"))

  private def morSpec(path: String) = cowSpec(path).copy(retainHistory = true)

  private def probeVals: Seq[Any] = eventsUs
    .filter(col("event_id") % 97 === 0)
    .select("event_id").distinct().collect().map(_.getLong(0)).toSeq

  /** The fallback path IS the semantics: latest state filtered by value. */
  private def oracle(table: KeyedTable, vals: Seq[Any]): Set[(Long, String, Long, Long, Double)] =
    outputSet(table.read(spark).filter(col("event_id").isin(vals: _*)))

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

  /** Files the composed lookup would open: the RLI candidate set for the
    * secondary index's probe keys.
    */
  private def composedCandidates(
      table: KeyedTable, vals: Seq[Any]): Option[Seq[String]] =
    table.siProbeKeys(spark, "event_id", vals)
      .flatMap(keys => table.rliCandidateFiles(spark, keys))

  test("fresh index: lookup == filtered read, composed candidates prune") {
    val path = Files.createTempDirectory("graft_si_fresh_").toString + "/t"
    val table = KeyedTable(morSpec(path))
    val ev = eventsUs
    table.upsert(spark, ev.filter(col("event_id") % 2 === 0), commitTime = "c0")
    table.upsert(spark, ev.filter(col("event_id") % 2 === 1), commitTime = "c1")
    table.recordKeyIndex(spark)
    table.secondaryIndex(spark, "event_id")
    val vals = probeVals
    assert(outputSet(table.lookupByColumn(spark, "event_id", vals))
      == oracle(table, vals))
    val cands = composedCandidates(table, vals)
    assert(cands.isDefined, "freshness provable on a marker-complete table")
    val total = dataFileCount(path)
    assert(cands.get.nonEmpty && cands.get.size < total,
      s"secondary lookup must open a strict subset: ${cands.get.size} of $total")
  }

  test("combined recordIndexes == serial builds: same entries, same lookups") {
    val pa = Files.createTempDirectory("graft_si_comb_").toString + "/t"
    val table = KeyedTable(morSpec(pa))
    val ev = eventsUs
    table.upsert(spark, ev.filter(col("event_id") % 2 === 0), commitTime = "c0")
    table.upsert(spark, ev.filter(col("event_id") % 2 === 1), commitTime = "c1")
    // Serial builds over the SAME data files, snapshotted; then the
    // combined one-scan build must reproduce them entry for entry.
    table.recordKeyIndex(spark)
    table.secondaryIndex(spark, "event_id")
    def snapshot(sidecar: String): (Seq[String], Set[String]) = {
      val df = spark.read.parquet(s"$pa/$sidecar")
      val cols = df.columns.sorted.toSeq
      (cols, df.select(cols.map(col): _*).collect().map(_.toString).toSet)
    }
    val serial = Seq("_graft_rli", "_graft_si_event_id").map(snapshot)
    table.recordIndexes(spark, Seq("event_id")) // ONE resolved scan
    Seq("_graft_rli", "_graft_si_event_id").zip(serial).foreach {
      case (sidecar, (cols, rows)) =>
        val (cols2, rows2) = snapshot(sidecar)
        assert(cols2 == cols, sidecar)
        assert(rows2 == rows, s"$sidecar entries must match the serial build")
    }
    val vals = probeVals
    assert(outputSet(table.lookupByColumn(spark, "event_id", vals))
      == oracle(table, vals))
    val cands = composedCandidates(table, vals)
    assert(cands.isDefined && cands.get.size < dataFileCount(pa))
  }

  test("stale index over MoR appends: delta values found, exact and pruned") {
    val path = Files.createTempDirectory("graft_si_mor_").toString + "/t"
    val table = KeyedTable(morSpec(path))
    val ev = eventsUs
    table.upsert(spark, ev.filter(col("event_id") % 2 === 0), commitTime = "c0")
    table.recordKeyIndex(spark)
    table.secondaryIndex(spark, "event_id") // built at c0
    table.upsert(spark, ev.filter(col("event_id") % 2 === 1), commitTime = "c1")
    val vals = probeVals // half these values exist ONLY in c1's delta
    assert(outputSet(table.lookupByColumn(spark, "event_id", vals))
      == oracle(table, vals))
    assert(composedCandidates(table, vals).get.size < dataFileCount(path))
  }

  test("value migration: a key's new version retires the old value") {
    val path = Files.createTempDirectory("graft_si_mig_").toString + "/t"
    val table = KeyedTable(morSpec(path))
    val ev = eventsUs
    table.upsert(spark, ev, commitTime = "c0")
    table.recordKeyIndex(spark)
    table.secondaryIndex(spark, "event_id")
    // Migrate: for one key, land a NEWER version under a fresh event_id
    // (all other columns carried — the batch keeps the table schema).
    val base = table.read(spark)
      .orderBy(col("user_id"), col("event_type")).limit(1).cache()
    val migrated = base
      .withColumn("ts_us", col("ts_us") + 1000L)
      .withColumn("event_id", lit(9999999L))
    val oldId: Seq[Any] = Seq(base.select("event_id").collect()(0).getLong(0))
    table.upsert(spark, migrated, commitTime = "c1")
    val newId: Seq[Any] = Seq(9999999L)
    // The stale index still maps oldId → the key, but the key's latest
    // version no longer carries it: the residual filter must retire it.
    assert(outputSet(table.lookupByColumn(spark, "event_id", oldId))
      == oracle(table, oldId))
    assert(oracle(table, oldId).isEmpty)
    // The new value is only in the delta — found via the delta scan.
    assert(outputSet(table.lookupByColumn(spark, "event_id", newId))
      == oracle(table, newId))
    assert(oracle(table, newId).nonEmpty)
  }

  test("incremental refresh == rebuild; post-refresh lookups stay exact") {
    val a = Files.createTempDirectory("graft_si_ra_").toString + "/t"
    val inc = KeyedTable(morSpec(a))
    val ev = eventsUs
    inc.upsert(spark, ev.filter(col("event_id") % 2 === 0), commitTime = "c0")
    inc.secondaryIndex(spark, "event_id")
    inc.upsert(spark, ev.filter(col("event_id") % 2 === 1), commitTime = "c1")
    inc.refreshRecordKeyIndex(spark) // (absent RLI would just fall back)
    inc.refreshSecondaryIndex(spark, "event_id")
    val refreshed = spark.read.parquet(s"$a/_graft_si_event_id")
      .select("sval", "key", "file").as[(Long, String, String)].collect().toSet
    inc.secondaryIndex(spark, "event_id") // rebuild over the SAME table
    val rebuilt = spark.read.parquet(s"$a/_graft_si_event_id")
      .select("sval", "key", "file").as[(Long, String, String)].collect().toSet
    // Same table, same files: refresh must reproduce the rebuild
    // entry-for-entry (winner settling), not just cover its keys.
    assert(refreshed == rebuilt)
    val vals = probeVals
    inc.recordKeyIndex(spark)
    assert(outputSet(inc.lookupByColumn(spark, "event_id", vals))
      == oracle(inc, vals))
    assert(composedCandidates(inc, vals).get.size < dataFileCount(a))
  }

  test("layout commits: stale lookup survives compaction") {
    val path = Files.createTempDirectory("graft_si_cmp_").toString + "/t"
    val table = KeyedTable(morSpec(path))
    val ev = eventsUs
    table.upsert(spark, ev.filter(col("event_id") % 2 === 0), commitTime = "c0")
    table.upsert(spark, ev.filter(col("event_id") % 2 === 1), commitTime = "c1")
    table.recordKeyIndex(spark)
    table.secondaryIndex(spark, "event_id")
    table.compact(spark) // every indexed file is rewritten
    table.upsert(spark, ev.filter(col("event_id") % 3 === 0), commitTime = "c2")
    val vals = probeVals
    // The sidecar was carried across the rewrite, freshness stays
    // provable, dead entries are subtracted, delta values are found.
    assert(table.siProbeKeys(spark, "event_id", vals).isDefined,
      "layout commits must not break secondary freshness proofs")
    assert(outputSet(table.lookupByColumn(spark, "event_id", vals))
      == oracle(table, vals))
    val cands = composedCandidates(table, vals)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    cands.get.foreach { rel =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$path/$rel")), rel)
    }
    assert(cands.get.size < dataFileCount(path))
  }

  test("a refresh lists the timeline twice per sidecar: its boundary and delta share one listing") {
    val path = Files.createTempDirectory("graft_si_list_").toString + "/t"
    val table = KeyedTable(cowSpec(path))
    val ev = eventsUs
    table.upsert(spark, ev.filter(col("event_id") % 2 === 0), commitTime = "c0")
    table.recordIndexes(spark, Seq("event_id"))
    table.upsert(spark, ev.filter(col("event_id") % 2 === 1), commitTime = "c1")
    // Per sidecar: the version read behind the cached `built_at`, and the
    // one listing the stamped boundary and the folded delta both come from.
    val before = KeyedTable.timelineReads.get
    assert(table.refreshIndexes(spark))
    assert(KeyedTable.timelineReads.get - before == 4)
    for (dir <- Seq("_graft_rli", "_graft_si_event_id"))
      assert(spark.read.parquet(s"$path/$dir").select("built_at").distinct()
        .as[String].collect().toSeq == Seq("c1"), dir)
    val vals = probeVals
    assert(outputSet(table.lookupByColumn(spark, "event_id", vals))
      == oracle(table, vals))
  }

  test("absent index falls back to the full filtered read; COW non-resolving tables stay exact") {
    val path = Files.createTempDirectory("graft_si_none_").toString + "/t"
    val table = KeyedTable(cowSpec(path))
    table.upsert(spark, eventsUs, commitTime = "c0")
    val vals = probeVals
    assert(table.siProbeKeys(spark, "event_id", vals).isEmpty)
    assert(outputSet(table.lookupByColumn(spark, "event_id", vals))
      == oracle(table, vals))
    // Plain COW (no resolve): index every stored row; lookups agree.
    table.secondaryIndex(spark, "event_id")
    assert(outputSet(table.lookupByColumn(spark, "event_id", vals))
      == oracle(table, vals))
  }
}
