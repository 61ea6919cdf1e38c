package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.table.{KeyedTable, KeyedTableSpec}

/** The record-level index (exact key→file point lookups): result
  * equivalence with the full merge ∘ semi-join on every path (fresh
  * index, stale index over MoR appends, stale index over COW partition
  * rewrites, deletes), candidate-set pruning (a point lookup opens few
  * files, not the table), incremental refresh ≡ rebuild, and the
  * absent-index fallback.
  */
class RliSpec extends SparkTestBase {
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

  private def probeFrame = eventsUs
    .select("user_id").distinct().filter(col("user_id") % 7 === 3)

  private def oracle(table: KeyedTable, probe: DataFrame): Set[(Long, String, Long, Long, Double)] =
    outputSet(table.read(spark).join(probe, Seq("user_id"), "left_semi"))

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

  test("fresh index: lookup == full read, candidate set prunes") {
    val path = Files.createTempDirectory("graft_rli_fresh_").toString + "/t"
    val table = KeyedTable(morSpec(path))
    val ev = eventsUs
    table.upsert(spark, ev.filter(col("event_id") % 2 === 0), commitTime = "c0")
    table.upsert(spark, ev.filter(col("event_id") % 2 === 1), commitTime = "c1")
    table.recordKeyIndex(spark)
    val probe = probeFrame
    assert(outputSet(table.lookupKeys(spark, probe)) == oracle(table, probe))
    val cands = table.rliCandidateFiles(spark, probe)
    assert(cands.isDefined, "freshness provable on a marker-complete table")
    val total = dataFileCount(path)
    assert(cands.get.nonEmpty && cands.get.size < total,
      s"point lookup must open a strict subset: ${cands.get.size} of $total")
  }

  test("stale index over MoR appends: exact via the delta union") {
    val path = Files.createTempDirectory("graft_rli_mor_").toString + "/t"
    val table = KeyedTable(morSpec(path))
    val ev = eventsUs
    table.upsert(spark, ev.filter(col("event_id") % 2 === 0), commitTime = "c0")
    table.recordKeyIndex(spark) // built at c0
    table.upsert(spark, ev.filter(col("event_id") % 2 === 1), commitTime = "c1")
    val probe = probeFrame
    assert(outputSet(table.lookupKeys(spark, probe)) == oracle(table, probe))
    // Candidates = probe keys' indexed files + ONLY the c1 files.
    val cands = table.rliCandidateFiles(spark, probe).get
    assert(cands.size < dataFileCount(path))
  }

  test("stale index over COW partition rewrites: removed files subtracted") {
    val path = Files.createTempDirectory("graft_rli_cow_").toString + "/t"
    val table = KeyedTable(cowSpec(path))
    val ev = eventsUs
    table.upsert(spark, ev.filter(col("event_id") % 2 === 0), commitTime = "c0")
    table.recordKeyIndex(spark)
    // c1 rewrites every touched partition: most indexed files are gone.
    table.upsert(spark, ev.filter(col("event_id") % 2 === 1), commitTime = "c1")
    val probe = probeFrame
    assert(outputSet(table.lookupKeys(spark, probe)) == oracle(table, probe))
    // Every candidate file must still exist (dead entries subtracted).
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    table.rliCandidateFiles(spark, probe).get.foreach { rel =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$path/$rel")), rel)
    }
  }

  test("deletes after build: deleted keys vanish, others stay exact") {
    val path = Files.createTempDirectory("graft_rli_del_").toString + "/t"
    val table = KeyedTable(cowSpec(path))
    val ev = eventsUs
    table.upsert(spark, ev, commitTime = "c0")
    table.recordKeyIndex(spark)
    val doomed = eventsUs.select("user_id", "event_type")
      .distinct().filter(col("user_id") % 7 === 3).limit(5)
    table.delete(spark, doomed)
    val probe = probeFrame
    assert(outputSet(table.lookupKeys(spark, probe)) == oracle(table, probe))
  }

  test("incremental refresh == rebuild; post-refresh lookups stay exact") {
    val a = Files.createTempDirectory("graft_rli_ra_").toString + "/t"
    val b = Files.createTempDirectory("graft_rli_rb_").toString + "/t"
    val inc = KeyedTable(morSpec(a))
    val reb = KeyedTable(morSpec(b))
    val ev = eventsUs
    for (t <- Seq(inc, reb)) {
      t.upsert(spark, ev.filter(col("event_id") % 2 === 0), commitTime = "c0")
    }
    inc.recordKeyIndex(spark)
    for (t <- Seq(inc, reb)) {
      t.upsert(spark, ev.filter(col("event_id") % 2 === 1), commitTime = "c1")
    }
    inc.refreshRecordKeyIndex(spark)
    reb.recordKeyIndex(spark)
    val idxInc = spark.read.parquet(s"$a/_graft_rli")
      .select("key", "file").as[(String, String)].collect().toSet
    val idxReb = spark.read.parquet(s"$b/_graft_rli")
      .select("key", "file").as[(String, String)].collect().toSet
    // Refresh settles the union of surviving and delta entries to ONE
    // winner per resolve scope — entry keys match a rebuild exactly.
    // (Files differ only because a and b are distinct tables whose data
    // file names differ.)
    assert(idxReb.map(_._1) == idxInc.map(_._1))
    val probe = probeFrame
    assert(outputSet(inc.lookupKeys(spark, probe)) == oracle(inc, probe))
    assert(outputSet(inc.lookupKeys(spark, probe))
      == outputSet(reb.lookupKeys(spark, probe)))
    // The refreshed boundary makes the delta empty again.
    val cands = inc.rliCandidateFiles(spark, probe).get
    assert(cands.size < dataFileCount(a))
  }

  test("refresh rebuilds a pre-pv index instead of failing the carry") {
    val path = Files.createTempDirectory("graft_rli_prepv_").toString + "/t"
    val t = KeyedTable(morSpec(path))
    val ev = eventsUs
    t.upsert(spark, ev.filter(col("event_id") % 2 === 0), commitTime = "c0")
    t.recordKeyIndex(spark)
    // Strip the typed pv_ columns — the entry layout of an index built
    // before they existed.
    val rli = s"$path/_graft_rli"
    val old = spark.read.parquet(rli)
    val stripped = old.drop(old.columns.filter(_.startsWith("pv_")).toSeq: _*)
    val rows = stripped.collect().toSeq
    val fs = new org.apache.hadoop.fs.Path(rli)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), stripped.schema)
      .write.mode("overwrite").parquet(s"$path/._graft_rli_old")
    fs.delete(new org.apache.hadoop.fs.Path(rli), true)
    fs.rename(
      new org.apache.hadoop.fs.Path(s"$path/._graft_rli_old"),
      new org.apache.hadoop.fs.Path(rli))
    // A later commit gives the refresh a delta whose entries carry pv —
    // the drift must trigger a rebuild, never a failed union.
    t.upsert(spark, ev.filter(col("event_id") % 2 === 1), commitTime = "c1")
    t.refreshRecordKeyIndex(spark)
    val refreshed = spark.read.parquet(rli)
    assert(refreshed.columns.exists(_.startsWith("pv_")),
      "the rebuilt index must carry the typed partition values")
    val probe = probeFrame
    assert(outputSet(t.lookupKeys(spark, probe)) == oracle(t, probe),
      "post-rebuild lookups must stay exact")
  }

  test("layout commits: stale lookup survives compaction, candidates stay live and pruned") {
    val path = Files.createTempDirectory("graft_rli_cmp_").toString + "/t"
    val table = KeyedTable(morSpec(path))
    val ev = eventsUs
    table.upsert(spark, ev.filter(col("event_id") % 2 === 0), commitTime = "c0")
    table.upsert(spark, ev.filter(col("event_id") % 2 === 1), commitTime = "c1")
    table.recordKeyIndex(spark)
    table.compact(spark) // every indexed file is rewritten
    table.upsert(spark, ev.filter(col("event_id") % 3 === 0), commitTime = "c2")
    val probe = probeFrame
    // Freshness stays provable across the layout commit (compact records
    // its file delta), the lookup stays exact, every candidate is a live
    // file, and the candidate set still prunes — the stale index's dead
    // entries are all subtracted and the delta settles to winner files.
    val cands = table.rliCandidateFiles(spark, probe)
    assert(cands.isDefined, "layout commits must not break freshness proofs")
    assert(outputSet(table.lookupKeys(spark, probe)) == oracle(table, probe))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    cands.get.foreach { rel =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$path/$rel")), rel)
    }
    assert(cands.get.size < dataFileCount(path))
    // A refresh across the compaction rebuilds winner entries from the
    // delta alone and keeps the lookup exact and pruned.
    table.refreshRecordKeyIndex(spark)
    assert(outputSet(table.lookupKeys(spark, probe)) == oracle(table, probe))
    assert(table.rliCandidateFiles(spark, probe).get.size < dataFileCount(path))
  }

  test("stale index across a partition compaction and an upsert: counts, winners and refresh match the read") {
    val path = Files.createTempDirectory("graft_rli_fold_").toString + "/t"
    val table = KeyedTable(morSpec(path))
    val ev = eventsUs
    table.upsert(spark, ev.filter(col("event_id") % 2 === 0), commitTime = "c0")
    table.upsert(spark, ev.filter(col("event_id") % 3 === 0)
      .withColumn("ts_us", col("ts_us") + 1), commitTime = "c1")
    table.recordKeyIndex(spark)
    table.compactPartitions(spark, Seq("click").toDF("event_type"), commitTime = "c2")
    table.upsert(spark, ev.filter(col("event_id") % 2 === 1), commitTime = "c3")
    val (added, removed) = KeyedTable.fileDeltaSince(spark, path, "c1").get
    assert(added.nonEmpty && removed.nonEmpty, "the delta must hold both sides")

    val read = table.read(spark)
    assert(table.resolvedCount(spark).contains(read.count()))
    val groups = table.resolvedGroupCounts(spark).get
      .map { case (p, n) => p.head.toString -> n }.toMap
    assert(groups == read.groupBy("event_type").count()
      .as[(String, Long)].collect().toMap)
    // The winners' files are live, and their winner rows are the read.
    val winners = table.settledWinnerEntries(spark).get
    val files = winners.select("file").distinct().as[String].collect().toSeq
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    files.foreach(rel =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$path/$rel")), rel))
    assert(outputSet(table.winnerRowsOf(spark, files, winners)) == outputSet(read))

    // Refresh over that delta writes exactly what a rebuild of the same
    // table writes, boundary included.
    def entries = spark.read.parquet(s"$path/_graft_rli").collect().map(_.toSeq).toSet
    table.refreshRecordKeyIndex(spark)
    val refreshed = entries
    table.recordKeyIndex(spark)
    assert(refreshed == entries)
  }

  test("bloom fallback: no RLI, the bloom sidecar serves a pruned exact lookup") {
    val path = Files.createTempDirectory("graft_rli_blm_").toString + "/t"
    // event_id keys: a 2-key probe genuinely lives in few files.
    val table = KeyedTable(KeyedTableSpec(
      path = path, keyCols = Seq("event_id"), precombineCol = "ts_us",
      partitionCols = Seq("event_type")))
    val ev = eventsUs
    table.upsert(spark, ev, commitTime = "c0")
    table.recordBloomIndex(spark)
    import spark.implicits._
    val probe = Seq(0L, 7L).toDF("event_id")
    def oracleIds = outputSet(
      table.read(spark).join(probe, Seq("event_id"), "left_semi"))
    assert(table.rliCandidateFiles(spark, probe).isEmpty, "no RLI here")
    val cands = table.bloomRelCandidateFiles(spark, probe)
    assert(cands.isDefined && cands.get.nonEmpty
      && cands.get.size < dataFileCount(path),
      s"bloom candidates must prune: $cands of ${dataFileCount(path)}")
    assert(outputSet(table.lookupKeys(spark, probe)) == oracleIds)
    // A plain write KILLS the sidecar (exists ⇒ current): the lookup
    // falls back to the full read and stays exact.
    table.upsert(spark, ev.filter(col("event_id") < 5), commitTime = "c1")
    assert(table.bloomRelCandidateFiles(spark, probe).isEmpty,
      "a non-maintaining write must retire the bloom sidecar")
    assert(outputSet(table.lookupKeys(spark, probe)) == oracleIds)
  }

  test("bloom fallback on MoR: all versions covered, resolve stays exact") {
    val path = Files.createTempDirectory("graft_rli_blmm_").toString + "/t"
    val table = KeyedTable(morSpec(path))
    val ev = eventsUs
    table.upsert(spark, ev.filter(col("event_id") % 2 === 0), commitTime = "c0")
    table.upsert(spark, ev.filter(col("event_id") % 2 === 1), commitTime = "c1")
    table.recordBloomIndex(spark) // built over BOTH commits' versions
    val probe = probeFrame
    assert(outputSet(table.lookupKeys(spark, probe)) == oracle(table, probe))
  }

  test("absent index falls back to the full read") {
    val path = Files.createTempDirectory("graft_rli_none_").toString + "/t"
    val table = KeyedTable(cowSpec(path))
    table.upsert(spark, eventsUs, commitTime = "c0")
    val probe = probeFrame
    assert(table.rliCandidateFiles(spark, probe).isEmpty)
    assert(outputSet(table.lookupKeys(spark, probe)) == oracle(table, probe))
  }
}
