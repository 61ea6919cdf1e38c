package graft.plans

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.sources.Tables
import graft.table.{KeyedTable, KeyedTableSpec, TableMetaCache}

/** [[KeyedServe]]: the six pruning families run as one optimizer rule,
  * under one version pin per application — so planning a query reads
  * each table's on-disk version once per application, not once per
  * family that looks at it.
  */
class KeyedServeSpec extends SparkTestBase {
  import spark.implicits._

  private def eventsUs =
    Tables.events(spark, sf0001).withColumn("ts_us", expr("ts div 1000"))

  /** A clustered events table keyed by event_id; `indexes` adds the
    * record-level index and column stats on event_id.
    */
  private def events(prefix: String, indexes: Boolean): KeyedTable = {
    val path = Files.createTempDirectory(prefix).toString + "/t"
    val t = KeyedTable(KeyedTableSpec(
      path = path, keyCols = Seq("event_id"), precombineCol = "ts_us",
      partitionCols = Seq("event_type")))
    t.upsert(spark, eventsUs, commitTime = "c0")
    t.cluster(spark, Seq("event_id"), targetFileBytes = 4L << 10)
    if (indexes) {
      t.recordKeyIndex(spark)
      t.recordColumnStats(spark, Seq("event_id"))
    }
    t
  }

  private def served(df: DataFrame): Boolean = {
    val paths = PlanWalk.scannedFiles(df)
    paths.nonEmpty && paths.forall(_.endsWith(".parquet"))
  }

  /** Version reads made while `df` (already analyzed) is optimized. */
  private def versionReads(df: DataFrame): Long = {
    val before = TableMetaCache.versionReads.get
    df.queryExecution.optimizedPlan
    TableMetaCache.versionReads.get - before
  }

  test("the session's optimizer holds one KeyedServe and none of the six families as rules") {
    val rules = spark.sessionState.optimizer.batches.flatMap(_.rules)
    assert(rules.collect { case k: KeyedServe => k }.distinct.length == 1)
    val families = Seq("PointLookupRewrite", "RangePruneRewrite",
      "JoinPruneRewrite", "TopKPruneRewrite", "GroupTopKRewrite",
      "StatsAggregateRewrite")
    assert(rules.map(_.getClass.getSimpleName).toSet.intersect(families.toSet).isEmpty)
  }

  test("planning reads each table's version once per rule application") {
    // Pinned at the values measured when each family was its own rule
    // under its own pin (in parentheses): one read per application that
    // touches the table, however many families look at it.
    val bare = events("graft_ks_bare_", indexes = false)
    val declined = bare.read(spark).filter(col("event_id") === 42L)
    assert(versionReads(declined) == 3) // (6)
    assert(!served(declined))

    // A served shape reads once: after the swap no family matches again.
    val t = events("graft_ks_idx_", indexes = true)
    val point = t.read(spark).filter(col("event_id") === 42L)
    assert(versionReads(point) == 1) // (1)
    assert(served(point))
    val range = t.read(spark).filter(col("event_id").between(100L, 140L))
    assert(versionReads(range) == 1) // (1)
    assert(served(range))
    val topK = t.read(spark).orderBy(col("event_id").desc).limit(3)
    assert(versionReads(topK) == 1) // (1)
    assert(served(topK))
    val agg = t.read(spark).agg(min("event_id"), max("event_id"))
    assert(versionReads(agg) == 1) // (1)
    assert(PlanWalk.scannedFiles(agg).isEmpty, "the fold scans nothing")

    val tmp = Files.createTempDirectory("graft_ks_join_").toString
    val fact = KeyedTable(KeyedTableSpec(
      path = s"$tmp/fact", keyCols = Seq("event_id"), precombineCol = "ts_us",
      partitionCols = Seq("event_type")))
    fact.upsert(spark, eventsUs, commitTime = "c0")
    fact.cluster(spark, Seq("user_id"), targetFileBytes = 16L << 10)
    fact.recordIndexes(spark, Seq("user_id"))
    val dim = KeyedTable(KeyedTableSpec(
      path = s"$tmp/dim", keyCols = Seq("user_id"), precombineCol = "tier"))
    dim.upsert(spark, eventsUs.select("user_id").distinct()
      .withColumn("tier", (col("user_id") % 16).cast("long")), commitTime = "c0")
    val ids = eventsUs.select("user_id").distinct()
      .filter(col("user_id") % 13 === 3).as[Long].collect().toSeq.sorted.take(12)
    val f = fact.read(spark)
    val d = dim.read(spark).filter(col("user_id").isin(ids: _*))
    val join = f.join(d, f("user_id") === d("user_id")).select(f("event_id"), d("tier"))
    assert(versionReads(join) == 5) // (10)
    assert(PlanWalk.scannedFiles(join).exists(p =>
      p.contains("/fact/") && p.endsWith(".parquet")), "the fact scan is pruned")
  }

  test("a second application inside one pin adds no version read") {
    val rule = new KeyedServe(spark)
    val plan = events("graft_ks_pin_", indexes = false).read(spark)
      .filter(col("event_id") === 7L).queryExecution.analyzed
    TableMetaCache.pinVersions {
      val before = TableMetaCache.versionReads.get
      rule(plan)
      val first = TableMetaCache.versionReads.get
      assert(first - before == 1)
      rule(plan)
      assert(TableMetaCache.versionReads.get == first)
    }
  }
}
