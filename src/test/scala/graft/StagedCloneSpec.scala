package graft

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.UpsertOps
import graft.sources.Tables
import graft.table.{KeyedTable, KeyedTableSpec, MaterializedView}

/** The staged-clone discipline ([[Scratch.clone]]): priced write
  * queries build their pre-mutation state ONCE per (fixture, kind) and
  * mutate a per-invocation deep copy. The whole scheme is sound only if
  * (a) the clone is byte-faithful to the template — table data,
  * `_graft_*` sidecars, and the sibling timeline directory all travel —
  * and (b) mutating the clone never touches the template, so every
  * later invocation starts from the identical state. Both are pinned
  * here, along with result equivalence across repeated invocations of
  * the staged queries themselves.
  */
class StagedCloneSpec extends SparkTestBase {

  /** Recursive (relative path → SHA-256) inventory of a directory tree.
    * Content hashes, not mtimes: the copy rewrites timestamps by
    * design; bytes are the contract.
    */
  private def inventory(root: String): Map[String, String] = {
    val base = Paths.get(root)
    val walk = Files.walk(base)
    try {
      val out = Map.newBuilder[String, String]
      val it = walk.iterator()
      while (it.hasNext) {
        val p: Path = it.next()
        if (!Files.isDirectory(p)) {
          val md = MessageDigest.getInstance("SHA-256")
          out += base.relativize(p).toString ->
            md.digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString
        }
      }
      out.result()
    } finally walk.close()
  }

  private def eventsUs = Tables.eventsUs(spark, sf0001)

  test("the clone is byte-faithful: data, sidecars, and the sibling timeline travel") {
    var tplRoot = ""
    var cloneRoots = Seq.empty[String]
    (0 until 2).foreach { _ =>
      val (tpl, _, clone) = Scratch.clone(
        sf0001, "cloneSpecBF") { r =>
        val t = KeyedTable(KeyedTableSpec(
          path = s"$r/events_keyed", keyCols = Seq("event_id"),
          precombineCol = "ts_us", partitionCols = Seq("event_type")))
        t.upsert(spark, eventsUs, commitTime = "c0")
        t.recordKeyIndex(spark)
        t.recordColumnStats(spark, Seq("event_id"))
        t
      }
      tplRoot = tpl
      cloneRoots :+= clone
    }
    val tplInv = inventory(tplRoot)
    // The template carries everything the engine consults: parquet data,
    // the RLI + stats sidecars under the table, the timeline sibling.
    assert(tplInv.keys.exists(_.endsWith(".parquet")))
    assert(tplInv.keys.exists(_.contains("_graft_rli")))
    assert(tplInv.keys.exists(_.contains("_graft_colstats")))
    assert(tplInv.keys.exists(_.contains("_graft_timeline")),
      "the sibling timeline directory must be inside the cloned root")
    // NOTE: Scratch.clone retires the previous clone per (dir, kind), so
    // only the LAST clone is on disk — it must be byte-identical.
    assert(inventory(cloneRoots.last) == tplInv,
      "clone must be byte-identical to the template")
    assert(!Files.exists(Paths.get(cloneRoots.head)),
      "the previous invocation's clone must have been retired")
  }

  test("mutating the clone leaves the template byte-identical; re-clones restart clean") {
    val (tpl, _, clone1) = Scratch.clone(
      sf0001, "cloneSpecMut") { r =>
      val t = KeyedTable(KeyedTableSpec(
        path = s"$r/events_keyed", keyCols = Seq("event_id"),
        precombineCol = "ts_us", partitionCols = Seq("event_type")))
      t.upsert(spark, eventsUs, commitTime = "c0")
      t.recordKeyIndex(spark)
      t
    }
    val before = inventory(tpl)
    val t1 = KeyedTable(KeyedTableSpec(
      path = s"$clone1/events_keyed", keyCols = Seq("event_id"),
      precombineCol = "ts_us", partitionCols = Seq("event_type")))
    t1.deleteIndexed(
      spark, eventsUs.filter(col("event_id") % 7 === 0).select("event_id"),
      commitTime = "c1")
    assert(inventory(tpl) == before,
      "mutating the clone must never touch the template")
    // A second invocation starts from the pre-mutation state: the c1
    // delete is invisible to it.
    val (_, _, clone2) = Scratch.clone[KeyedTable](
      sf0001, "cloneSpecMut")(_ => fail("template must be memoized"))
    assert(inventory(clone2) == before,
      "a re-clone must restart from the unmutated template")
  }

  test("the two-commit table's clone keeps its timeline: c0/c1 markers survive a cluster") {
    // Stage the template, then read its spec back from the memo (which
    // retires that first clone) before taking the clone under test.
    UpsertOps.twoCommitTable(spark, sf0001, history = false)
    val (_, tplSpec, _) = Scratch.clone[KeyedTableSpec](
      sf0001, "twoCommitCow")(_ => fail("template must be memoized"))
    val template = KeyedTable(tplSpec)
    val clone = UpsertOps.twoCommitTable(spark, sf0001, history = false)
    val tplEntries = KeyedTable.timelineEntries(spark, template.spec.path)
    assert(tplEntries.map(_._1) == Seq("c0", "c1"))
    assert(KeyedTable.timelineEntries(spark, clone.spec.path) == tplEntries,
      "the clone must carry the template's timeline")
    assert(clone.commits(spark) == Seq("c0", "c1"))
    clone.cluster(spark, Seq("ts_us"))
    assert(clone.commits(spark) == Seq("c0", "c1"),
      "a layout action must not hide the data commits")
    assert(KeyedTable.timelineEntries(spark, template.spec.path) == tplEntries,
      "clustering the clone must never touch the template's timeline")
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("staged write queries are invocation-stable and equal their unstaged construction") {
    // q105: the staged bloom merge must equal a fresh two-commit bloom
    // build (the unstaged construction it replaced), on every rep.
    def unstagedBloom: DataFrame = {
      val tmp = Files.createTempDirectory("graft_clsp_bloom_").toString
      val t = KeyedTable(KeyedTableSpec(
        path = s"$tmp/events_keyed", keyCols = Seq("user_id"),
        precombineCol = "ts_us", tiebreakCols = Seq("event_id"),
        partitionCols = Seq("event_type")))
      t.upsertBloomIndexed(
        spark, eventsUs.filter(col("event_id") % 2 === 0), commitTime = "c0")
      t.upsertBloomIndexed(
        spark, eventsUs.filter(col("event_id") % 2 === 1), commitTime = "c1")
      t.read(spark)
        .select("user_id", "event_type", "ts_us", "event_id", "value")
    }
    val expected = sortedRows(unstagedBloom)
    assert(sortedRows(UpsertOps.upsertBloomMerge(spark, sf0001)) == expected)
    assert(sortedRows(UpsertOps.upsertBloomMerge(spark, sf0001)) == expected,
      "the second invocation (memoized template, fresh clone) must agree")
    // q131: the rebased keyed-MV clone must refresh INCREMENTALLY (the
    // require inside would throw otherwise) and agree across reps.
    val mv1 = sortedRows(MaterializedView.mvKeyedRefresh(spark, sf0001))
    val mv2 = sortedRows(MaterializedView.mvKeyedRefresh(spark, sf0001))
    assert(mv1 == mv2, "repeated staged MV refreshes must agree")
    val scratch = sortedRows {
      val t = KeyedTable(KeyedTableSpec(
        path = Files.createTempDirectory("graft_clsp_mv_").toString + "/t",
        keyCols = Seq("user_id"), precombineCol = "ts_us",
        tiebreakCols = Seq("event_id"), partitionCols = Seq("event_type"),
        retainHistory = true))
      t.upsert(spark, eventsUs, commitTime = "c0")
      t.read(spark).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_rows"),
          sum(expr("CAST(value AS DECIMAL(18,4))"))
            .cast("double").as("sum_value"))
        .select("event_type", "n_rows", "sum_value")
    }
    assert(mv1 == scratch,
      "the staged incremental refresh must equal the from-scratch rollup")
  }
}
