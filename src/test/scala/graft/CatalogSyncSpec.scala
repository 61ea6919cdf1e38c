package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.types._

import graft.table.{KeyedTable, KeyedTableSpec}

/** Incremental catalog sync: `syncCatalog` registers only the partitions
  * written by commits since the catalog last synced the table (the commit
  * kept in TBLPROPERTIES, Hudi's `last_commit_time_sync`), and falls back
  * to a full partition recovery where the timeline can't say which.
  */
class CatalogSyncSpec extends SparkTestBase {
  import scala.jdk.CollectionConverters._

  private val schema = StructType(Seq(
    StructField("name", StringType),
    StructField("date", StringType),
    StructField("year", IntegerType),
    StructField("region", StringType)))

  private def batch(rows: Row*): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  private def freshTable() = {
    val dir = Files.createTempDirectory("graft_sync_").toString
    KeyedTable(KeyedTableSpec(
      path = s"$dir/t",
      keyCols = Seq("name"),
      precombineCol = "date",
      partitionCols = Seq("year", "region")))
  }

  private def freshName() = s"graft_sync_${System.nanoTime()}"

  private def registered(name: String): Set[String] =
    spark.sessionState.catalog.listPartitions(TableIdentifier(name))
      .map(_.spec.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("/"))
      .toSet

  private def syncedCommit(name: String): Option[String] =
    spark.sessionState.catalog.getTableMetadata(TableIdentifier(name))
      .properties.get("graft.last_commit_time_sync")

  private def sqlCount(name: String): Long =
    spark.sql(s"SELECT count(*) FROM $name").head().getLong(0)

  test("a batch that creates a new partition is visible to SQL after sync") {
    val t = freshTable()
    val name = freshName()
    t.upsert(spark, batch(Row("a", "d1", 2024, "eu")), commitTime = "c0")
    t.syncCatalog(spark, name)
    assert(syncedCommit(name).contains("c0"))
    t.upsert(spark, batch(Row("b", "d1", 2025, "us")), commitTime = "c1")
    t.syncCatalog(spark, name)
    assert(registered(name) == Set("region=eu/year=2024", "region=us/year=2025"))
    assert(syncedCommit(name).contains("c1"))
    assert(sqlCount(name) == 2)
    assert(spark.sql(s"SELECT name FROM $name WHERE year = 2025 AND region = 'us'")
      .collect().map(_.getString(0)).toSeq == Seq("b"))
    spark.sql(s"DROP TABLE $name")
  }

  test("an incremental sync registers only the partitions of the commits since the last one") {
    val t = freshTable()
    val name = freshName()
    t.upsert(spark, batch(Row("a", "d1", 2024, "eu")), commitTime = "c0")
    t.syncCatalog(spark, name)
    // A registration removed behind the engine's back stays removed: the
    // sync reads the partitions from c1's file record, not a listing.
    spark.sql(s"ALTER TABLE $name DROP PARTITION (year = 2024, region = 'eu')")
    t.upsert(spark, batch(Row("b", "d1", 2025, "eu")), commitTime = "c1")
    t.syncCatalog(spark, name)
    assert(registered(name) == Set("region=eu/year=2025"))
    spark.sql(s"DROP TABLE $name")
  }

  test("three commits without a sync between them: one sync registers all their partitions") {
    val t = freshTable()
    val name = freshName()
    t.upsert(spark, batch(Row("a", "d1", 2024, "eu")), commitTime = "c0")
    t.syncCatalog(spark, name)
    t.upsert(spark, batch(Row("b", "d1", 2025, "eu")), commitTime = "c1")
    t.insert(spark, batch(Row("c", "d1", 2026, "us")), commitTime = "c2")
    // a value that needs escaping in its directory name, and a null one
    t.upsert(spark, batch(Row("d", "d1", 2027, "a/b'c"), Row("e", "d1", 2027, null)),
      commitTime = "c3")
    t.syncCatalog(spark, name)
    assert(syncedCommit(name).contains("c3"))
    assert(sqlCount(name) == 5)
    assert(spark.sql(s"SELECT name FROM $name WHERE region = 'a/b''c'")
      .collect().map(_.getString(0)).toSeq == Seq("d"))
    assert(spark.sql(s"SELECT name FROM $name WHERE region IS NULL")
      .collect().map(_.getString(0)).toSeq == Seq("e"))
    // the incremental registrations equal what a full recovery finds
    val incremental = registered(name)
    spark.sql(s"DROP TABLE $name")
    t.syncCatalog(spark, name) // fresh registration: recovers every partition
    assert(registered(name) == incremental)
    assert(incremental.size == 5)
    spark.sql(s"DROP TABLE $name")
  }

  test("a synced commit no longer on the timeline falls back to a full recovery") {
    val t = freshTable()
    val name = freshName()
    t.upsert(spark, batch(Row("a", "d1", 2024, "eu")), commitTime = "c0")
    t.syncCatalog(spark, name)
    t.upsert(spark, batch(Row("b", "d1", 2025, "eu")), commitTime = "c1")
    spark.sql(s"ALTER TABLE $name SET TBLPROPERTIES " +
      "('graft.last_commit_time_sync' = 'not-on-the-timeline')")
    // Only a full recovery re-registers c0's partition (the table is
    // external: dropping the registration keeps the files); the
    // partition c1 created is registered too.
    spark.sql(s"ALTER TABLE $name DROP PARTITION (year = 2024, region = 'eu')")
    t.syncCatalog(spark, name)
    assert(registered(name) == Set("region=eu/year=2024", "region=eu/year=2025"))
    assert(syncedCommit(name).contains("c1"))
    assert(sqlCount(name) == 2)
    spark.sql(s"DROP TABLE $name")
  }

  test("a sync with no new commit changes neither the partitions nor the marker") {
    val t = freshTable()
    val name = freshName()
    t.upsert(spark, batch(Row("a", "d1", 2024, "eu")), commitTime = "c0")
    t.syncCatalog(spark, name)
    val before = spark.sessionState.catalog.getTableMetadata(TableIdentifier(name))
    t.syncCatalog(spark, name)
    val after = spark.sessionState.catalog.getTableMetadata(TableIdentifier(name))
    assert(after.properties == before.properties)
    assert(registered(name) == Set("region=eu/year=2024"))
    spark.sql(s"DROP TABLE $name")
  }
}
