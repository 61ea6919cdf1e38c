package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.table.{KeyedTable, KeyedTableSpec, TableMetaCache}

/** [[TableMetaCache]]: cached table metadata (sidecar snapshots, rule
  * declines) holds exactly while the table's on-disk version — latest
  * timeline marker plus `_graft_*` sidecar status — is unchanged. A
  * change made through another table instance and session is seen with
  * no in-process signal, and a change to one table leaves every other
  * table's entries alone.
  */
class TableMetaCacheSpec extends SparkTestBase {
  import spark.implicits._

  private def eventsUs =
    Tables.events(spark, sf0001).withColumn("ts_us", expr("ts div 1000"))

  private def clustered(prefix: String): KeyedTable = {
    val path = Files.createTempDirectory(prefix).toString + "/t"
    val t = KeyedTable(KeyedTableSpec(
      path = path, keyCols = Seq("event_id"), precombineCol = "ts_us",
      partitionCols = Seq("event_type")))
    t.upsert(spark, eventsUs, commitTime = "c0")
    t.cluster(spark, Seq("event_id"), targetFileBytes = 4L << 10)
    t
  }

  private def served(df: DataFrame): Boolean = {
    val paths = graft.plans.PlanWalk.scannedFiles(df)
    paths.nonEmpty && paths.forall(_.endsWith(".parquet"))
  }

  private def outputSet(df: DataFrame): Set[(Long, String, Long, Double)] =
    df.select("event_id", "event_type", "ts_us", "value")
      .as[(Long, String, Long, Double)].collect().toSet

  /** Spark jobs started by `body` on this thread. The listener bus is
    * asynchronous, so a tagged sentinel job marks the end: events arrive
    * in order, and once its start is seen every earlier one has been.
    */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tagKey = "graft.test.jobTag"
    val tag = s"count-${System.nanoTime()}"
    val counted = new java.util.concurrent.atomic.AtomicInteger
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty(tagKey))) match {
          case Some(`tag`) => counted.incrementAndGet()
          case Some(t) if t == tag + "-end" => drained.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tagKey, tag)
      body
      sc.setLocalProperty(tagKey, tag + "-end")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
      counted.get
    } finally {
      sc.setLocalProperty(tagKey, null)
      sc.removeSparkListener(listener)
    }
  }

  test("a sidecar rewritten through another instance and session is seen by the next serve") {
    val t = clustered("graft_tmc_sidecar_")
    t.recordColumnStats(spark, Seq("event_id"))
    def q = t.read(spark).filter(col("event_id").between(100L, 299L))
    assert(served(q), "the stats snapshot serves the range")
    val expected = outputSet(q)

    // Out of band: a second session rewrites the sidecar with plain Spark
    // calls, dropping event_id's bounds. Nothing in-process is told.
    val s2 = spark.newSession()
    val dir = new Path(t.spec.path, "_graft_colstats")
    val tmp = new Path(t.spec.path + "_colstats_rewrite")
    val fs = dir.getFileSystem(s2.sparkContext.hadoopConfiguration)
    val st = s2.read.parquet(dir.toString)
    st.drop(st.columns.filter(_.endsWith("_event_id")): _*)
      .write.parquet(tmp.toString)
    fs.delete(dir, true)
    assert(fs.rename(tmp, dir))
    assert(!served(q), "the rewritten sidecar no longer covers event_id")
    assert(outputSet(q) == expected)

    // A separate table instance in the second session rebuilds it.
    KeyedTable(t.spec).recordColumnStats(s2, Seq("event_id"))
    assert(served(q), "the rebuilt sidecar serves again")
    assert(outputSet(q) == expected)
  }

  test("a commit through another instance lifts a remembered decline") {
    val t = clustered("graft_tmc_commit_")
    t.recordColumnStats(spark, Seq("event_id"))
    def q = t.read(spark).filter(col("event_id").between(100L, 299L))
    assert(served(q))
    // A commit here retires the stats: the serve declines, and the
    // decline is remembered for this table version.
    t.upsert(spark, eventsUs.filter(col("event_id") === 150L)
      .withColumn("value", lit(-1.0)), commitTime = "c1")
    assert(!served(q))
    assert(!served(q))

    // The next commit, with its stats upkeep, goes through another
    // instance and session.
    val s2 = spark.newSession()
    val t2 = KeyedTable(t.spec)
    t2.upsert(s2, Tables.events(s2, sf0001)
      .withColumn("ts_us", expr("ts div 1000"))
      .filter(col("event_id") === 151L).withColumn("value", lit(-2.0)),
      commitTime = "c2")
    assert(t2.refreshColumnStats(s2))
    assert(served(q), "the new version lifts the remembered decline")
    val values = outputSet(q).collect {
      case (id, _, _, v) if id == 150L || id == 151L => id -> v
    }
    assert(values == Set(150L -> -1.0, 151L -> -2.0))

    // The same holds at the cache's own surface for a bare timeline
    // marker, and a decline over two tables follows both versions.
    val other = clustered("graft_tmc_other_").spec.path
    var probes = 0
    def probe(): Option[Unit] =
      TableMetaCache.declineGated(spark, this, t.spec.path, other)("p") {
        probes += 1; None
      }
    probe(); probe()
    assert(probes == 1, "a decline is remembered while both versions hold")
    KeyedTable.recordTimeline(s2, t.spec.path, "c3", "upsert")
    probe(); probe()
    assert(probes == 2, "a marker on the first table lifts it")
    KeyedTable.recordTimeline(s2, other, "c9", "upsert")
    probe()
    assert(probes == 3, "a marker on the second table lifts it")
  }

  test("a commit to one table does not evict another table's entries") {
    val a = clustered("graft_tmc_a_")
    val b = clustered("graft_tmc_b_")
    b.recordColumnStats(spark, Seq("event_id"))
    val baseB = b.read(spark)
    // Every file holds an event_id ≥ 0: the stats probe prunes nothing
    // and the serve declines.
    def planB(): Unit =
      baseB.filter(col("event_id") >= 0L).queryExecution.optimizedPlan
    assert(jobsDuring(planB()) > 0, "the first plan pays the stats probe")
    assert(jobsDuring(planB()) == 0, "the decline is remembered")
    a.upsert(spark, eventsUs.filter(col("event_id") === 5L)
      .withColumn("value", lit(0.5)), commitTime = "c1")
    assert(jobsDuring(planB()) == 0, "a commit to A leaves B's entries alone")
    KeyedTable.recordTimeline(spark, b.spec.path, "c1", "upsert")
    assert(jobsDuring(planB()) > 0, "a commit to B itself re-probes")
  }
}
