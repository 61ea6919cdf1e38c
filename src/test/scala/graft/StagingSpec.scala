package graft

import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

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
}
