package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.table.{KeyedTable, KeyedTableSpec}

/** `currentUserSchema` answers from the schema sidecar, without building
  * `read`: it must still be exactly the schema `read` returns — names,
  * types and column order — through every way a table's schema moves, and
  * on the layouts that keep asking `read` (evolved, merge-on-read).
  */
class SidecarSchemaSpec extends SparkTestBase {
  import scala.jdk.CollectionConverters._

  private def frame(fields: (String, DataType)*)(rows: Row*): DataFrame =
    spark.createDataFrame(rows.asJava,
      StructType(fields.map { case (n, t) => StructField(n, t) }))

  private def table(partitionCols: Seq[String], globalKeys: Boolean = false,
      retainHistory: Boolean = false) = {
    val dir = Files.createTempDirectory("graft_sidecar_schema_").toString
    KeyedTable(KeyedTableSpec(
      path = s"$dir/t", keyCols = Seq("id"), precombineCol = "ts",
      partitionCols = partitionCols, globalKeys = globalKeys,
      retainHistory = retainHistory))
  }

  private def assertMatchesRead(t: KeyedTable, label: String): Unit = {
    val fromSidecar = t.currentUserSchema(spark).get
    val fromRead = t.read(spark).schema
    def shape(s: StructType) = s.fields.map(f => (f.name, f.dataType)).toSeq
    assert(shape(fromSidecar) == shape(fromRead),
      s"$label: currentUserSchema ${fromSidecar.simpleString} != read ${fromRead.simpleString}")
  }

  private val base = Seq("id" -> StringType, "day" -> StringType, "ts" -> LongType,
    "region" -> StringType)

  test("partitioned table: bootstrap, mid-stream widening and int→long→double drift") {
    val t = table(Seq("day"))
    assert(t.currentUserSchema(spark).isEmpty)
    // the partition column leads the batch; the reader puts it last
    t.upsert(spark, frame(base: _*)(Row("a", "d1", 1L, "eu")))
    assertMatchesRead(t, "bootstrap")
    t.upsert(spark, frame(base :+ ("v" -> IntegerType): _*)(Row("b", "d2", 2L, "us", 7)))
    assertMatchesRead(t, "widening")
    t.upsert(spark, frame(base :+ ("v" -> LongType): _*)(Row("c", "d1", 3L, "eu", 8L)))
    assertMatchesRead(t, "int→long")
    t.upsert(spark, frame(base :+ ("v" -> DoubleType): _*)(Row("d", "d3", 4L, "eu", 0.5)))
    assertMatchesRead(t, "long→double")
    assert(t.currentUserSchema(spark).get("v").dataType == DoubleType)
  }

  test("unpartitioned and multi-column-partitioned tables") {
    val u = table(Nil)
    u.upsert(spark, frame(base: _*)(Row("a", "d1", 1L, "eu")))
    u.upsert(spark, frame(base :+ ("v" -> IntegerType): _*)(Row("b", "d2", 2L, "us", 7)))
    assertMatchesRead(u, "unpartitioned")
    // partition columns listed in an order unlike the batch's
    val m = table(Seq("region", "day"))
    m.upsert(spark, frame(base: _*)(Row("a", "d1", 1L, "eu"), Row("b", "d2", 2L, "us")))
    assertMatchesRead(m, "multi-column bootstrap")
    m.insert(spark, frame(base :+ ("v" -> IntegerType): _*)(Row("c", "d1", 3L, "eu", 1)))
    assertMatchesRead(m, "multi-column widening insert")
  }

  test("evolved-layout and merge-on-read tables keep reading the schema from read") {
    val e = table(Seq("day"), globalKeys = true)
    e.upsert(spark, frame(base: _*)(Row("a", "d1", 1L, "eu")))
    e.evolvePartitioning(spark, Seq("region"))
    e.upsert(spark, frame(base :+ ("v" -> IntegerType): _*)(Row("b", "d2", 2L, "us", 7)))
    assertMatchesRead(e, "evolved")
    val h = table(Seq("day"), retainHistory = true)
    h.upsert(spark, frame(base: _*)(Row("a", "d1", 1L, "eu")))
    h.upsert(spark, frame(base :+ ("v" -> IntegerType): _*)(Row("a", "d1", 2L, "eu", 7)))
    assertMatchesRead(h, "merge-on-read")
  }
}
