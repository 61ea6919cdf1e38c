package graft

import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.schema.SchemaEvolution
import graft.sources.JsonStreamSource
import graft.streaming.MicroBatchPipeline
import graft.table.{KeyedTable, KeyedTableSpec}

/** One pass per micro-batch: the pipeline reads a small batch once (a
  * bounded collect), and everything after — the absent-column probe, the
  * partition-tuple collect, the merge's batch side — works on the
  * collected rows. Pins the Spark job count of one batch, and that
  * batches past the byte or row bound, empty triggers and
  * source-computed columns behave as before.
  */
class MicroBatchPassSpec extends SparkTestBase {
  import spark.implicits._

  private def table(dir: String) = KeyedTable(KeyedTableSpec(
    path = s"$dir/t", keyCols = Seq("name"), precombineCol = "date",
    tiebreakCols = Seq("payload"), partitionCols = Seq("year")))

  private def record(name: String, date: String, year: Int, payload: String) =
    s"""{"name":"$name","date":"$date","year":$year,"payload":"$payload"}"""

  private def publish(dir: String, file: String, lines: Seq[String]): Unit = {
    new java.io.File(dir).mkdirs()
    val tmp = new java.io.File(dir, s".$file.tmp")
    Files.writeString(tmp.toPath, lines.map(_ + "\n").mkString)
    Files.move(tmp.toPath, new java.io.File(dir, file).toPath)
  }

  /** Spark jobs the stream `q` starts while `body` runs. The listener bus
    * is asynchronous, so a sentinel job from this thread marks the end:
    * events arrive in order, and once its start is seen every earlier
    * one has been.
    */
  private def streamJobsDuring(q: StreamingQuery)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = q.runId.toString
    val sentinel = s"graft-pass-${System.nanoTime()}"
    val counted = new java.util.concurrent.atomic.AtomicInteger
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val props = Option(js.properties)
        if (props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).contains(group))
          counted.incrementAndGet()
        if (props.flatMap(p => Option(p.getProperty("graft.test.sentinel"))).contains(sentinel))
          drained.countDown()
      }
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

  /** Streams five 20-row batches through the pipeline and returns the
    * Spark jobs of each of the last three, after checking the table holds
    * the latest row per key. `prep` also sees each batch.
    */
  private def twentyRowBatches(tmp: String, prep: DataFrame => DataFrame): Seq[Int] = {
    val in = s"$tmp/in"
    new java.io.File(in).mkdirs()
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "name STRING, date STRING, year INT, payload STRING")
    val t = table(tmp)
    val q = MicroBatchPipeline.start(
      JsonStreamSource.stream(spark, in, Some(schema), maxFilesPerTrigger = Some(1)),
      t, s"$tmp/cp", Trigger.ProcessingTime(0L),
      prep = prep.andThen(SchemaEvolution.dropAbsentColumns))
    val jobs = try {
      def batch(b: Int) = (0 until 20).map(i =>
        record(s"k${(b * 7 + i) % 30}", f"2024-01-$b%02d", 2020 + i % 3, s"p$b"))
      // bootstrap and one warm batch: the table and its partitions exist
      (1 to 2).foreach { b => publish(in, s"b$b.json", batch(b)); q.processAllAvailable() }
      (3 to 5).map { b =>
        streamJobsDuring(q) { publish(in, s"b$b.json", batch(b)); q.processAllAvailable() }
      }
    } finally { q.stop(); q.awaitTermination() }
    val latest = (1 to 5).flatMap(b => (0 until 20).map(i =>
      (s"k${(b * 7 + i) % 30}", 2020 + i % 3) -> s"p$b")).toMap
    assert(t.read(spark).select("name", "year", "payload").as[(String, Int, String)]
      .collect().map { case (n, y, p) => (n, y) -> p }.toMap == latest)
    jobs
  }

  test("a 20-row batch costs one collect plus the merge write: 3 Spark jobs") {
    val tmp = Files.createTempDirectory("graft_pass_").toString
    val jobs = twentyRowBatches(tmp, identity)
    // Measured on Spark 4.1, local[8]: 8 jobs per batch while the batch
    // was scanned by each consumer (the emptiness probe, the absent-column
    // aggregate, the partition distinct, then the merge write); 3 now:
    // the bounded collect and the merge write's two stages.
    assert(jobs.forall(_ == 3), s"jobs per batch: ${jobs.mkString(", ")}")
  }

  test("a batch over the byte bound is never collected: it stays distributed") {
    // The bound is the session's broadcast threshold; -1 puts every batch
    // over it. The conf is read in the stream's session, cloned at start.
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    val local = scala.collection.mutable.ArrayBuffer.empty[Boolean]
    val jobs = try {
      twentyRowBatches(Files.createTempDirectory("graft_pass_bytes_").toString,
        b => { local += b.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]; b })
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(local.size == 5 && !local.exists(identity))
    // Measured on Spark 4.1, local[8]: the parent's 8 per batch (the
    // one-row probe, the absent-column aggregate, the partition distinct,
    // the merge write) — the distributed path is the path it replaced.
    assert(jobs.forall(_ == 8), s"jobs per batch: ${jobs.mkString(", ")}")
  }

  test("a batch past the row bound takes the distributed path and lands the same table") {
    val tmp = Files.createTempDirectory("graft_pass_big_").toString
    val in = s"$tmp/in"
    val n = KeyedTable.MaxSnapshotRows + 1
    publish(in, "big.json", (0 until n).map(i =>
      record(s"k${i % 50000}", f"2024-02-${i % 28 + 1}%02d", 2020 + i % 4, s"p$i")))
    val t = table(tmp)
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Boolean)]
    val q = MicroBatchPipeline.start(
      JsonStreamSource.stream(spark, in), t, s"$tmp/cp", Trigger.AvailableNow(),
      prep = (b: DataFrame) => {
        seen += ((b.count(), b.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]))
        b
      })
    q.awaitTermination()
    assert(seen.toSeq == Seq((n.toLong, false)),
      "a batch over the row bound must reach prep as the distributed frame")
    val direct = table(s"$tmp/direct")
    direct.upsert(spark, spark.read.json(in))
    def rows(k: KeyedTable) = k.read(spark).select("name", "date", "year", "payload")
      .as[(String, String, Long, String)].collect().toSet
    val got = rows(t)
    assert(got.size == 50000 && got == rows(direct))
  }

  test("a small batch reaches prep as a local relation") {
    val tmp = Files.createTempDirectory("graft_pass_local_").toString
    publish(s"$tmp/in", "a.json", Seq(record("a", "d1", 2024, "v1")))
    var local = false
    val q = MicroBatchPipeline.start(
      JsonStreamSource.stream(spark, s"$tmp/in"), table(tmp), s"$tmp/cp",
      Trigger.AvailableNow(),
      prep = (b: DataFrame) => {
        local = b.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]
        b
      })
    q.awaitTermination()
    assert(local)
  }

  test("an all-empty trigger leaves no table behind") {
    val tmp = Files.createTempDirectory("graft_pass_empty_").toString
    publish(s"$tmp/in", "empty.json", Nil)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "name STRING, date STRING, year INT, payload STRING")
    val t = table(tmp)
    var writes = 0
    val q = MicroBatchPipeline.start(
      JsonStreamSource.stream(spark, s"$tmp/in", Some(schema)), t, s"$tmp/cp",
      Trigger.AvailableNow(), write = (k, sp, b) => { writes += 1; k.upsert(sp, b) })
    q.awaitTermination()
    assert(writes == 0 && !t.exists(spark))
  }

  test("streamSharded's transport_seq, computed from _metadata, survives the collect") {
    val tmp = Files.createTempDirectory("graft_pass_shard_").toString
    val in = s"$tmp/in"
    val t0 = System.currentTimeMillis() - 600000L
    val files = Seq((0, "f0.json", "a", t0), (1, "f0.json", "b", t0 + 1000),
      (0, "f1.json", "a", t0 + 2000))
    files.foreach { case (shard, name, key, mtime) =>
      val d = new java.io.File(s"$in/shard=$shard"); d.mkdirs()
      val f = new java.io.File(d, name)
      Files.writeString(f.toPath, s"""{"name":"$key","year":2024,"payload":"$shard/$name"}""" + "\n")
      f.setLastModified(mtime)
    }
    val t = KeyedTable(KeyedTableSpec(
      path = s"$tmp/t", keyCols = Seq("name"), precombineCol = "transport_seq",
      partitionCols = Seq("year")))
    val q = MicroBatchPipeline.start(
      JsonStreamSource.streamSharded(spark, in, maxFilesPerTrigger = Some(1)),
      t, s"$tmp/cp", Trigger.AvailableNow())
    q.awaitTermination()
    val got = t.read(spark).select("name", "transport_seq").as[(String, String)].collect().toMap
    def seq(mtime: Long, name: String) = f"$mtime%020d/$name"
    assert(got == Map("a" -> seq(t0 + 2000, "f1.json"), "b" -> seq(t0 + 1000, "f0.json")))
  }
}
