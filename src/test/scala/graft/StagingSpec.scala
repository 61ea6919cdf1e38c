package graft

import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.table.{KeyedTable, KeyedTableSpec}

/** The table layer's write-asides (`graft.table.Staging`): every writer
  * stages under a name of its own, a failed write removes its own stage,
  * and the debris sweep takes only orphans.
  */
class StagingSpec extends SparkTestBase {

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  /** A two-commit partitioned `events` table under a fresh temp dir. */
  private def table(prefix: String): (JPath, KeyedTable) = {
    val dir = Files.createTempDirectory(prefix)
    val t = KeyedTable(KeyedTableSpec(
      path = s"$dir/events", keyCols = Seq("user_id"),
      precombineCol = "ts_us", tiebreakCols = Seq("event_id"),
      partitionCols = Seq("event_type")))
    val ev = Tables.eventsUs(spark, sf0001)
    t.upsert(spark, ev.filter(col("event_id") % 2 === 0), commitTime = "c0")
    t.upsert(spark, ev.filter(col("event_id") % 2 === 1), commitTime = "c1")
    (dir, t)
  }

  private def plant(p: JPath, bytes: Array[Byte]): JPath = {
    Files.createDirectories(p.getParent)
    Files.write(p, bytes)
  }

  /** Names in `dir` matching `pattern`. */
  private def siblings(dir: JPath, pattern: String): Set[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(_.matches(pattern)).toSet
    finally s.close()
  }

  test("the sweep keeps a stage newer than the latest commit and takes an older one") {
    val (dir, t) = table("graft_staging_sweep_")
    val timeline = dir.resolve(KeyedTable.timelineDir(t.spec.path).getName)
    val latest = siblings(timeline, "[0-9]+\\..*").max
    val committed = Files.getLastModifiedTime(timeline.resolve(latest)).toMillis
    def stage(name: String, mtime: Long): JPath = {
      val p = dir.resolve(name)
      plant(p.resolve("part-00000.parquet"), Array[Byte](1, 2, 3))
      Files.setLastModifiedTime(p, FileTime.fromMillis(mtime))
      p
    }
    def hiddenTmp(name: String, mtime: Long): JPath = {
      val p = plant(dir.resolve("events").resolve(name), Array[Byte](4))
      Files.setLastModifiedTime(p, FileTime.fromMillis(mtime))
      p
    }
    val live = stage(s"events_graft_stage_ins_${java.util.UUID.randomUUID()}_tmp",
      committed + 60000)
    val orphan = stage(s"events_graft_stage_ins_${java.util.UUID.randomUUID()}_tmp",
      committed - 60000)
    val liveTmp = hiddenTmp(s"._graft_schema.json.${java.util.UUID.randomUUID()}.tmp",
      committed + 60000)
    val orphanTmp = hiddenTmp(s"._graft_catalog.${java.util.UUID.randomUUID()}.tmp",
      committed - 60000)
    val want = rows(t.read(spark))

    t.rollbackDebris(spark)

    assert(Files.exists(live.resolve("part-00000.parquet")), "a live stage was swept")
    assert(Files.exists(liveTmp), "a live sidecar tmp was swept")
    assert(!Files.exists(orphan), "an orphaned stage survived")
    assert(!Files.exists(orphanTmp), "an orphaned sidecar tmp survived")
    assert(rows(t.read(spark)) == want)
  }

  test("writers leave another writer's stage at a legacy fixed name alone") {
    val (dir, t) = table("graft_staging_legacy_")
    val planted = Seq(
      dir.resolve("events_graft_compact_tmp").resolve("part-00000.parquet"),
      dir.resolve("events_graft_rli_tmp").resolve("part-00000.parquet"),
      dir.resolve("events").resolve("._graft_schema.json.tmp"))
    def plantAt(i: Int): Unit = plant(planted(i), Array[Byte](7, i.toByte))
    plantAt(0)
    plantAt(1)
    val stagesBefore = siblings(dir, "events_graft_.*_tmp")

    t.compact(spark)
    // compact replaces the whole root, so the in-root file stands for a
    // writer that starts after it
    plantAt(2)
    t.recordKeyIndex(spark)
    t.insert(spark, Tables.eventsUs(spark, sf0001).limit(5), commitTime = "c2")

    planted.zipWithIndex.foreach { case (p, i) =>
      assert(Files.exists(p), s"$p was removed")
      assert(Files.readAllBytes(p).toSeq == Seq[Byte](7, i.toByte), s"$p was overwritten")
    }
    assert(siblings(dir, "events_graft_.*_tmp") == stagesBefore,
      "a writer left a stage of its own beside the root")
    assert(siblings(dir.resolve("events"), """\..*\.tmp""") == Set("._graft_schema.json.tmp"),
      "a writer left a sidecar tmp of its own in the root")
  }

  test("a failed insert removes its own stage and leaves the table as it was") {
    val (dir, t) = table("graft_staging_failed_")
    val want = rows(t.read(spark))
    val boom = udf { (v: Long) =>
      if (v != Long.MinValue) throw new IllegalStateException("boom")
      v
    }
    val bad = Tables.eventsUs(spark, sf0001).withColumn("ts_us", boom(col("ts_us")))

    intercept[Exception](t.insert(spark, bad, commitTime = "c2"))

    assert(siblings(dir, "events_graft_.*_tmp").isEmpty,
      "the failed insert left its stage beside the root")
    assert(rows(t.read(spark)) == want)
  }

  /** A partitioned `id`/`v`/`day` table of 40 rows with column stats and a
    * bloom index, so a failed commit has sidecars it could leave stale.
    */
  private def indexedTable(globalKeys: Boolean): (JPath, KeyedTable) = {
    val dir = Files.createTempDirectory("graft_staging_commit_")
    val t = KeyedTable(KeyedTableSpec(
      path = s"$dir/events", keyCols = Seq("id"), precombineCol = "v",
      partitionCols = Seq("day"), globalKeys = globalKeys))
    t.upsert(spark, idRows(0, 40), commitTime = "c0")
    t.recordColumnStats(spark, Seq("v"))
    t.recordBloomIndex(spark)
    (dir, t)
  }

  /** Rows `id` in [from, until), `v` = 10·id, `day` = d0..d2 — from a
    * range, not a local relation, so no UDF over them runs at plan time.
    */
  private def idRows(from: Long, until: Long) =
    spark.range(from, until).select(col("id"), (col("id") * 10).as("v"),
      concat(lit("d"), (col("id") % 3).cast("string")).as("day"))

  /** Part-file names of the table's data files. */
  private def dataFileNames(t: KeyedTable): Set[String] = {
    val s = Files.walk(java.nio.file.Paths.get(t.spec.path))
    try s.iterator().asScala.map(_.toString)
      .filter(p => p.endsWith(".parquet") && !p.contains("/_graft_"))
      .map(p => java.nio.file.Paths.get(p).getFileName.toString).toSet
    finally s.close()
  }

  /** Part-file names the per-file sidecar `dir` indexes, if it is present. */
  private def sidecarFileNames(t: KeyedTable, dir: String): Option[Set[String]] = {
    val p = s"${t.spec.path}/$dir"
    if (!Files.exists(java.nio.file.Paths.get(p))) None
    else Some(spark.read.parquet(p).select("file").collect()
      .map(r => new org.apache.hadoop.fs.Path(r.getString(0)).getName).toSet)
  }

  /** A UDF failing every row it meets inside a parquet write, or every
    * row at all with `always`.
    */
  private def boom(always: Boolean): UserDefinedFunction = udf { (v: Long) =>
    if (always || StagingSpec.inWrite()) throw new IllegalStateException("boom")
    v
  }

  private final case class FailedCommit(label: String, globalKeys: Boolean, always: Boolean)(
      val run: (KeyedTable, UserDefinedFunction) => Unit)

  private val failedCommits = Seq(
    FailedCommit("scoped upsert", globalKeys = false, always = false)((t, f) =>
      t.upsert(spark, idRows(30, 50).withColumn("v", f(col("v"))), commitTime = "c1")),
    // The relocating upsert evaluates its merge in a tuple collect before
    // it writes, so its failure lands there.
    FailedCommit("globalKeys upsert", globalKeys = true, always = true)((t, f) =>
      t.upsert(spark, idRows(30, 50).withColumn("v", f(col("v"))), commitTime = "c1")),
    FailedCommit("bloom-indexed upsert", globalKeys = false, always = false)((t, f) =>
      t.upsertBloomIndexed(spark, idRows(30, 50).withColumn("v", f(col("v"))),
        commitTime = "c1")),
    FailedCommit("delete", globalKeys = false, always = false)((t, f) =>
      t.delete(spark, idRows(0, 5).select(f(col("id")).as("id")))),
    FailedCommit("indexed delete", globalKeys = false, always = false)((t, f) =>
      t.deleteIndexed(spark, idRows(0, 5).select(f(col("id")).as("id")), commitTime = "c1")))

  failedCommits.foreach { c =>
    test(s"a failed ${c.label} leaves no marker, the same rows, no stage and no stale sidecar") {
      val (dir, t) = indexedTable(c.globalKeys)
      val want = rows(t.read(spark))
      val markers = KeyedTable.timelineMarkers(spark, t.spec.path)

      spark.sparkContext.addSparkListener(StagingSpec.Executions)
      try intercept[Exception](c.run(t, boom(c.always)))
      finally spark.sparkContext.removeSparkListener(StagingSpec.Executions)

      assert(KeyedTable.timelineMarkers(spark, t.spec.path) == markers, "a marker was dropped")
      assert(rows(t.read(spark)) == want)
      assert(siblings(dir, "events_graft_stage_.*").isEmpty, "a stage was left beside the root")
      val files = dataFileNames(t)
      Seq("_graft_colstats", "_graft_bloom").foreach { d =>
        sidecarFileNames(t, d).foreach(indexed =>
          assert(indexed == files, s"$d is present but stale"))
      }
    }
  }
}

object StagingSpec {
  /** Whether each SQL execution seen so far writes parquet, by id. */
  object Executions extends org.apache.spark.scheduler.SparkListener {
    val writes = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]
    override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
      e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          writes.put(s.executionId.toString,
            s.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand"))
        case _ =>
      }
  }

  /** Whether the running task belongs to a parquet write — its own job
    * or one its plan runs first, such as a broadcast. The listener bus is
    * asynchronous, so this waits until the execution's start is seen.
    */
  def inWrite(): Boolean =
    Option(org.apache.spark.TaskContext.get())
      .flatMap(tc => Option(tc.getLocalProperty("spark.sql.execution.id")))
      .exists { id =>
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (!Executions.writes.containsKey(id) && System.nanoTime() < deadline)
          Thread.sleep(5)
        Executions.writes.getOrDefault(id, false)
      }
}
