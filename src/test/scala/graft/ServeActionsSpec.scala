package graft

import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.table.{KeyedTable, KeyedTableSpec}

/** Plan-time Spark actions of the column-stats serves: for each stats
  * family (aggregate fold, distinct values, top-k, grouped top-k) on a
  * copy-on-write and a merge-on-read fixture, the SQL executions that
  * planning the served query starts. The counts are taken on a second
  * planning of the same query, so the per-table-version caches (the
  * sidecar snapshot, the winner maps) are already filled and only the
  * serve's own sidecar actions remain. A serve that gains a winner-map
  * join, an extra count or a second sidecar read fails here.
  */
class ServeActionsSpec extends SparkTestBase {

  private def rows(tuples: Seq[(Long, String, String, Long, Long)]): DataFrame =
    spark.createDataFrame(tuples).toDF("id", "p", "g", "v", "rev")

  private val bulk = (1L to 80L).map(i =>
    (i, if (i % 2 == 0) "p0" else "p1", if (i <= 40) "a" else "b", i, 0L))

  /** Two partitions, clustered on (g, v) into many small files, stats on
    * g and v; the MoR twin also carries corrections (mixed and dead
    * files) and a refreshed record-level index.
    */
  private def fixture(retainHistory: Boolean): KeyedTable = {
    val path = Files.createTempDirectory("graft_serve_actions_").toString + "/t"
    val t = KeyedTable(KeyedTableSpec(
      path = path, keyCols = Seq("id"), precombineCol = "rev",
      partitionCols = Seq("p"), retainHistory = retainHistory))
    t.upsert(spark, rows(bulk), commitTime = "c0")
    t.cluster(spark, Seq("g", "v"), targetFileBytes = 1L << 10)
    if (retainHistory) {
      t.recordKeyIndex(spark)
      t.upsert(spark, rows(Seq((3L, "p1", "a", 0L, 1L), (80L, "p0", "b", 1L, 1L))),
        commitTime = "c1")
      t.refreshRecordKeyIndex(spark)
    }
    t.recordColumnStats(spark, Seq("g", "v"))
    t
  }

  private lazy val cow = fixture(retainHistory = false)
  private lazy val mor = fixture(retainHistory = true)

  /** SQL executions started while `body` runs. The listener bus is
    * asynchronous: a sentinel job from this thread marks the end.
    */
  private def sqlExecutions(body: => Unit): Int = {
    val sc = spark.sparkContext
    val sentinel = s"graft-sql-${System.nanoTime()}"
    val counted = new java.util.concurrent.atomic.AtomicInteger
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => counted.incrementAndGet()
        case _ =>
      }
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).flatMap(p =>
            Option(p.getProperty("graft.test.sentinel"))).contains(sentinel))
          drained.countDown()
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty("graft.test.sentinel", sentinel)
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
      counted.get
    } finally {
      sc.setLocalProperty("graft.test.sentinel", null)
      sc.removeSparkListener(listener)
    }
  }

  private def dataScans(df: DataFrame): Seq[String] =
    graft.plans.PlanWalk.scannedFiles(df).filterNot(_.contains("/_graft_"))

  private def dataFiles(t: KeyedTable): Long =
    spark.read.parquet(s"${t.spec.path}/_graft_colstats").count()

  /** Plans `q` once (filling the caches, checking that it serves), then
    * counts the SQL executions of a second planning.
    */
  private def planActions(t: KeyedTable, q: () => DataFrame): Int = {
    val scanned = dataScans(q())
    assert(scanned.size < dataFiles(t), s"the query must serve: $scanned")
    sqlExecutions(q().queryExecution.executedPlan)
  }

  private val byP = Window.partitionBy("p").orderBy(col("v").desc, col("id").desc)

  private val families: Seq[(String, KeyedTable => DataFrame, Int, Int)] = Seq(
    // (family, query, COW actions, MoR actions)
    ("unfiltered fold", t => t.read(spark).agg(min("v"), max("v"), sum("v")), 1, 1),
    ("partition-filtered fold", t => t.read(spark).filter(col("p") === "p0")
      .agg(min("v"), max("v"), count(lit(1))), 1, 2),
    ("range-filtered fold", t => t.read(spark).filter(col("v").between(10L, 60L))
      .agg(min("v"), max("v"), count(lit(1)), sum("v")), 2, 2),
    ("distinct values", t => t.read(spark).agg(countDistinct("g")), 2, 2),
    ("top-k", t => t.read(spark).orderBy(col("v").desc, col("id").desc).limit(3), 3, 2),
    ("filtered top-k", t => t.read(spark).filter(col("v") <= 50L)
      .orderBy(col("v").desc, col("id").desc).limit(3), 3, 2),
    ("grouped top-k", t => t.read(spark).withColumn("rk", row_number().over(byP))
      .filter(col("rk") <= 2), 2, 1))

  families.foreach { case (family, q, cowPin, morPin) =>
    test(s"$family: plan-time SQL executions are pinned on COW and MoR") {
      val got = (planActions(cow, () => q(cow)), planActions(mor, () => q(mor)))
      assert(got == ((cowPin, morPin)))
    }
  }
}
