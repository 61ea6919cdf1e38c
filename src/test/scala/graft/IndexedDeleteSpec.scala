package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.table.{KeyedTable, KeyedTableSpec}

/** [[graft.table.KeyedTable.deleteIndexed]]: a k-key delete must rewrite
  * only the index's candidate files (untouched files survive by NAME),
  * return exactly the anti-joined table on every path, preserve
  * surviving rows' commit times, fall back to the partition-granular
  * [[graft.table.KeyedTable.delete]] when no qualifying index exists,
  * and keep the record-level index serving lookups across the delete.
  */
class IndexedDeleteSpec extends SparkTestBase {
  import spark.implicits._

  private def eventsUs =
    Tables.events(spark, sf0001).withColumn("ts_us", expr("ts div 1000"))

  private def cowSpec(path: String) = KeyedTableSpec(
    path = path, keyCols = Seq("event_id"), precombineCol = "ts_us",
    partitionCols = Seq("event_type"))

  private def outputSet(df: DataFrame): Set[(Long, String, Long, Long, Double)] =
    df.select("user_id", "event_type", "ts_us", "event_id", "value")
      .as[(Long, String, Long, Long, Double)].collect().toSet

  private def dataFiles(path: String): Set[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(fs.makeQualified(p), true)
    val out = scala.collection.mutable.Set[String]()
    while (it.hasNext) {
      val s = it.next()
      val rel = s.getPath.toUri.getPath
      if (s.getPath.getName.endsWith(".parquet") &&
        !rel.split('/').exists(seg => seg.startsWith("_") || seg.startsWith(".")))
        out += rel
    }
    out.toSet
  }

  test("COW delete rewrites only candidate files; lookups keep serving") {
    val path = Files.createTempDirectory("graft_idel_cow_").toString + "/t"
    val table = KeyedTable(cowSpec(path))
    table.upsert(spark, eventsUs, commitTime = "c0")
    table.recordKeyIndex(spark)
    val doomed = Seq(0L, 7L, 13L)
    val doomedDf = doomed.toDF("event_id")
    val expected = outputSet(table.read(spark))
      .filterNot(t => doomed.contains(t._4))
    val before = dataFiles(path)
    table.deleteIndexed(spark, doomedDf, commitTime = "c1")
    assert(outputSet(table.read(spark)) == expected)
    val after = dataFiles(path)
    val replaced = before -- after
    assert(replaced.nonEmpty && replaced.size < before.size,
      s"only candidate files may be rewritten: ${replaced.size} of ${before.size}")
    // Untouched files survive by NAME — file-granular, not partition.
    assert((before & after).nonEmpty)
    // The RLI still serves across the delete (commit→files delta).
    val survivor = expected.head._4
    val probe = Seq(survivor).toDF("event_id")
    val cands = table.rliCandidateFiles(spark, probe)
    assert(cands.isDefined && cands.get.size < after.size,
      s"post-delete lookup must still prune: $cands of ${after.size}")
    assert(outputSet(table.lookupKeys(spark, probe)) ==
      expected.filter(_._4 == survivor))
  }

  test("MoR: the bloom qualifies (all versions die); RLI alone falls back") {
    // event_id keys (high cardinality): a 2-key probe genuinely lives
    // in few files, so the bloom path can demonstrate file granularity.
    val mk = () => {
      val p = Files.createTempDirectory("graft_idel_mor_").toString + "/t"
      val t = KeyedTable(KeyedTableSpec(
        path = p, keyCols = Seq("event_id"), precombineCol = "ts_us",
        partitionCols = Seq("event_type"), retainHistory = true))
      val ev = eventsUs
      t.upsert(spark, ev, commitTime = "c0")
      // Second versions for a slice of keys — the doomed keys' EVERY
      // version must die, not just the winner.
      t.upsert(spark, ev.filter(col("event_id") < 100), commitTime = "c1")
      (p, t)
    }
    val doomed = Seq(13L, 42L)
    val doomedDf = doomed.toDF("event_id")
    // Bloom path: file-granular, every version of the doomed keys dies,
    // survivors keep their original commit times.
    val (p1, t1) = mk()
    t1.recordBloomIndex(spark)
    val expected = outputSet(t1.read(spark)).filterNot(t => doomed.contains(t._4))
    val rawBefore = t1.readRaw(spark)
      .select(col("event_id"), col("_graft_commit_time")).as[(Long, String)]
      .collect().groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    val before = dataFiles(p1)
    t1.deleteIndexed(spark, doomedDf, commitTime = "c2")
    assert(outputSet(t1.read(spark)) == expected)
    assert(t1.readRaw(spark).join(doomedDf, Seq("event_id"), "left_semi").isEmpty,
      "every stored VERSION of a doomed key must die")
    assert((before & dataFiles(p1)).nonEmpty, "file-granular on MoR too")
    val rawAfter = t1.readRaw(spark)
      .select(col("event_id"), col("_graft_commit_time")).as[(Long, String)]
      .collect().groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(rawAfter.forall { case (id, cts) => rawBefore(id) == cts },
      "surviving versions keep their original commit times")
    // RLI alone on MoR holds only winners — must FALL BACK, same answer.
    val (_, t2) = mk()
    t2.recordKeyIndex(spark)
    t2.deleteIndexed(spark, doomedDf, commitTime = "c2")
    assert(outputSet(t2.read(spark)) == expected)
    assert(t2.readRaw(spark).join(doomedDf, Seq("event_id"), "left_semi").isEmpty)
  }

  test("no index falls back to the partition-granular delete, same rows") {
    val path = Files.createTempDirectory("graft_idel_none_").toString + "/t"
    val table = KeyedTable(cowSpec(path))
    table.upsert(spark, eventsUs, commitTime = "c0")
    val doomedDf = Seq(5L, 11L).toDF("event_id")
    val expected = outputSet(table.read(spark))
      .filterNot(t => Set(5L, 11L)(t._4))
    table.deleteIndexed(spark, doomedDf)
    assert(outputSet(table.read(spark)) == expected)
  }

  test("the fallback delete commits under the caller's commit id") {
    val path = Files.createTempDirectory("graft_idel_ct_").toString + "/t"
    val table = KeyedTable(cowSpec(path))
    table.upsert(spark, eventsUs, commitTime = "c0")
    table.deleteIndexed(spark, Seq(5L, 11L).toDF("event_id"), commitTime = "mine")
    assert(KeyedTable.timelineEntries(spark, path).last == (("mine", "delete")))
  }

  test("partition drop: directory deletes only, untouched files by name, index survives") {
    val path = Files.createTempDirectory("graft_dropp_s_").toString + "/t"
    val table = KeyedTable(cowSpec(path))
    table.upsert(spark, eventsUs, commitTime = "c0")
    table.recordKeyIndex(spark)
    val before = dataFiles(path)
    val expected = outputSet(table.read(spark)).filterNot(_._2 == "click")
    table.dropPartitions(spark, Seq("click").toDF("event_type"),
      commitTime = "c1")
    assert(outputSet(table.read(spark)) == expected)
    val after = dataFiles(path)
    // Every surviving file is byte-untouched (same name); only the
    // dropped partition's files left.
    assert(after.subsetOf(before))
    assert((before -- after).forall(_.contains("event_type=click")))
    assert(!new java.io.File(s"$path/event_type=click").exists)
    // The record-level index keeps serving: the scoped commit record's
    // removed side subtracts the dropped files from the candidates.
    val survivor = expected.head._4
    val probe = Seq(survivor).toDF("event_id")
    val cands = table.rliCandidateFiles(spark, probe)
    assert(cands.isDefined && cands.get.size < after.size,
      s"post-drop lookup must still prune: $cands of ${after.size}")
    assert(outputSet(table.lookupKeys(spark, probe)) ==
      expected.filter(_._4 == survivor))
    // Unknown partition values are a no-op.
    table.dropPartitions(spark, Seq("nope").toDF("event_type"))
    assert(outputSet(table.read(spark)) == expected)
  }
}
