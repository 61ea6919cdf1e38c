package graft.plans

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.catalyst.expressions.{EqualTo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex, LogicalRelation}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.BaseRelation
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.SparkTestBase
import graft.table.{KeyedTable, KeyedTableSpec}

/** [[KeyedScan]]: what no rule spec checks directly — which fragments
  * the matcher declines, and what the swap leaves in place.
  */
class KeyedScanSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val table: KeyedTable = {
    val path = Files.createTempDirectory("graft_keyed_scan_").toString + "/t"
    val t = KeyedTable(KeyedTableSpec(
      path = path, keyCols = Seq("k"), precombineCol = "ts",
      partitionCols = Seq("p")))
    t.upsert(spark, (0L until 40L).map(i => (i, i, s"p${i % 4}", i * 1.5))
      .toDF("k", "ts", "p", "v"), commitTime = "c0")
    t
  }

  private def analyzed(df: DataFrame): LogicalPlan = df.queryExecution.analyzed

  /** The table's data files, table-relative — what swap and prune take. */
  private def relFiles: Seq[String] = {
    val root = new Path(table.spec.path)
    KeyedTable.dataFilesUnder(
      root.getFileSystem(spark.sparkContext.hadoopConfiguration), root).map(_._1)
  }

  private def registeredScan: (LogicalPlan, KeyedScan) = {
    val plan = analyzed(table.read(spark).filter(col("k") === 3L))
    (plan, KeyedScan.of(plan).getOrElse(fail("the registered read must match")))
  }

  test("of matches the registered read and declines everything else") {
    val (_, ks) = registeredScan
    assert(ks.spec == table.spec)
    assert(ks.conjuncts.exists(_._1.references.exists(_.name == "k")))

    // An unregistered root: the same files read as plain parquet from a
    // copy under another directory.
    val other =
      Files.createTempDirectory("graft_keyed_scan_other_").toString + "/copy"
    table.read(spark).write.parquet(other)
    assert(KeyedScan.of(analyzed(spark.read.parquet(other))).isEmpty)

    // Two roots, one of them registered.
    val twoRoots = ks.lr.copy(relation = ks.fsRel.copy(
      location = new InMemoryFileIndex(
        spark, Seq(new Path(ks.root), new Path(other)), Map.empty, None))(spark))
    assert(KeyedScan.registered(twoRoots).isEmpty)
    assert(KeyedScan.of(twoRoots).isEmpty)

    // A relation that is not a file relation.
    val nonFile = LogicalRelation(new BaseRelation {
      override def sqlContext: SQLContext = spark.sqlContext
      override def schema: StructType = StructType(Seq(StructField("k", LongType)))
    })
    assert(KeyedScan.of(nonFile).isEmpty)

    // An inner equi-join of the registered read with itself.
    val a = table.read(spark).as("a")
    val b = table.read(spark).as("b")
    assert(KeyedScan.of(analyzed(a.join(b, $"a.k" === $"b.k"))).isEmpty)
  }

  test("swap keeps the relation's exprIds and guards directly above the scan") {
    val (plan, ks) = registeredScan
    val files = relFiles.take(2)
    val key = ks.keyAttrs.getOrElse(fail("key attribute")).head
    val guard = EqualTo(key, Literal(3L))
    val swapped = ks.swap(spark, plan, files, Some(guard))
      .getOrElse(fail("every candidate is listed"))
    assert(swapped.output.map(_.exprId) == plan.output.map(_.exprId))
    val guarded = swapped.collect {
      case Filter(c, l: LogicalRelation) if c == guard => l
    }
    assert(guarded.length == 1, swapped.treeString)
    assert(guarded.head.output.map(_.exprId) == ks.lr.output.map(_.exprId))
    val loc = guarded.head.relation.asInstanceOf[HadoopFsRelation].location
    def pathsOf(ps: Seq[String]) = ps.map(new Path(_).toUri.getPath).sorted
    assert(pathsOf(loc.inputFiles.toSeq) == pathsOf(files.map(f => s"${table.spec.path}/$f")))
    // The swapped scan no longer roots at the registered path.
    assert(KeyedScan.of(swapped).isEmpty)
  }

  test("prune declines a candidate set no smaller than the listing") {
    val (plan, ks) = registeredScan
    val all = relFiles
    assert(all.length > 1)
    assert(ks.prune(spark, plan, all)("every file").isEmpty)
    assert(ks.prune(spark, plan, all.take(1), total = 1)("one of one").isEmpty)
    assert(ks.prune(spark, plan, all.take(1))("one file").isDefined)
  }
}
