package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.plans.PlanWalk
import graft.table.{KeyedTable, KeyedTableSpec}

/** A candidate file that is not on disk under its indexed name declines
  * the serve instead of dropping the file's rows: Spark lists a missing
  * root path as empty with only a warning, so the swap checks that its
  * index lists every candidate it was given.
  */
class MissingCandidateSpec extends SparkTestBase {
  import spark.implicits._

  test("a point read whose indexed file was renamed outside the engine declines") {
    val path = Files.createTempDirectory("graft_missing_candidate_").toString + "/t"
    val t = KeyedTable(KeyedTableSpec(
      path = path, keyCols = Seq("id"), precombineCol = "ts",
      partitionCols = Seq("part")))
    val rows = (0L until 12L).map(i => (i, s"p${i % 3}", i * 10))
    t.upsert(spark, rows.toDF("id", "part", "ts"), commitTime = "c0")
    t.recordKeyIndex(spark)

    val k = 4L
    val q = () => t.read(spark).filter(col("id") === k)
    assert(PlanWalk.scannedFiles(q()).forall(_.endsWith(".parquet")), "the index serves")
    val file = new Path(new java.net.URI(
      q().select(input_file_name()).as[String].collect().head))
    val fs = file.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(file, new Path(file.getParent, s"moved-${file.getName}")))

    val after = q()
    assert(after.select("id", "part", "ts").as[(Long, String, Long)].collect().toSeq ==
      rows.filter(_._1 == k))
    assert(!PlanWalk.scannedFiles(after).forall(_.endsWith(".parquet")),
      "the scan stays whole")
  }
}
