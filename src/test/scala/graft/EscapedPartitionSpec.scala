package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.plans.PlanWalk
import graft.table.{ColumnRange, KeyedTable, KeyedTableSpec}

/** Partition values that hive-escape or URL-encode on their way to disk
  * (`a b`, `x:y` — stored as `x%3Ay` and reported by a scan as `x%253Ay`
  * — and `a+b`, which form decoding would turn into a space) serve
  * through every index entry point exactly as a plain value does, on a
  * copy-on-write and a merge-on-read table. Each answer is compared with
  * a plain Scala model of the two commits, and each plan-rule answer
  * must be served from candidate files, not by a declined full scan.
  */
class EscapedPartitionSpec extends SparkTestBase {
  import spark.implicits._

  private type R = (Long, String, Long, Long)
  private val parts = Seq("ab", "a b", "x:y", "a+b")

  // Per partition: six keys at c0; c1 updates four of them (one new).
  // `ts` and `u` band per partition, so a range or a value selects only
  // some partitions' files.
  private val c0: Seq[R] = for ((p, pi) <- parts.zipWithIndex; j <- 0 until 6)
    yield (pi * 100L + j, p, pi * 1000L + j, pi * 10L + j % 3)
  private val c1: Seq[R] = for ((p, pi) <- parts.zipWithIndex; j <- 0 to 6 by 2)
    yield (pi * 100L + j, p, pi * 1000L + 500 + j, pi * 10L + (j + 1) % 3)

  /** The latest version of every key. */
  private val model: Map[Long, R] =
    (c0 ++ c1).groupBy(_._1).map { case (k, vs) => k -> vs.maxBy(_._3) }

  private def frame(rows: Seq[R]): DataFrame = rows.toDF("id", "part", "ts", "u")

  private def fresh(mor: Boolean, name: String): KeyedTable = KeyedTable(KeyedTableSpec(
    path = Files.createTempDirectory(s"graft_escaped_$name").toString + "/t",
    keyCols = Seq("id"), precombineCol = "ts", partitionCols = Seq("part"),
    retainHistory = mor))

  private def build(mor: Boolean, name: String): KeyedTable = {
    val t = fresh(mor, name)
    t.upsert(spark, frame(c0), commitTime = "c0")
    t.upsert(spark, frame(c1), commitTime = "c1")
    t.recordIndexes(spark, Seq("u"))
    t.recordColumnStats(spark, Seq("ts"))
    t
  }

  private def rows(df: DataFrame): Set[R] =
    df.select("id", "part", "ts", "u").as[R].collect().toSet

  private def dataFiles(t: KeyedTable): Int = {
    val root = new Path(t.spec.path)
    KeyedTable.dataFilesUnder(
      root.getFileSystem(spark.sparkContext.hadoopConfiguration), root).length
  }

  /** The scan was swapped onto fewer files than the table holds. */
  private def served(t: KeyedTable, df: DataFrame): Boolean = {
    val scanned = PlanWalk.scannedFiles(df)
    scanned.nonEmpty && scanned.forall(_.endsWith(".parquet")) &&
      scanned.length < dataFiles(t)
  }

  private def band(pi: Int) = (pi * 1000L, pi * 1000L + 999)

  Seq(false -> "copy-on-write", true -> "merge-on-read").foreach { case (mor, kind) =>
    lazy val t = build(mor, if (mor) "mor_" else "cow_")

    test(s"$kind: a point read serves each partition's key") {
      parts.indices.foreach { pi =>
        val k = pi * 100L + 2
        val q = t.read(spark).filter(col("id") === k)
        assert(rows(q) == Set(model(k)), parts(pi))
        assert(served(t, q), s"point read in ${parts(pi)} must serve")
      }
    }

    test(s"$kind: a range read serves each partition") {
      parts.indices.foreach { pi =>
        val (lo, hi) = band(pi)
        val q = t.read(spark).filter(col("ts").between(lo, hi))
        assert(rows(q) == model.values.filter(_._2 == parts(pi)).toSet, parts(pi))
        assert(served(t, q), s"range read in ${parts(pi)} must serve")
      }
    }

    test(s"$kind: a secondary-index read serves across partitions") {
      val q = t.read(spark).filter(col("u").isin(12L, 22L))
      assert(rows(q) == model.values.filter(r => r._4 == 12L || r._4 == 22L).toSet)
      assert(served(t, q), "secondary-index read must serve")
    }

    test(s"$kind: lookupKeys and lookupByColumn return every partition's rows") {
      val keys = parts.indices.flatMap(pi => Seq(pi * 100L + 1, pi * 100L + 2))
      assert(rows(t.lookupKeys(spark, keys.toDF("id"))) == keys.map(model).toSet)
      assert(rows(t.lookupByColumn(spark, "u", Seq(11L, 31L))) ==
        model.values.filter(r => r._4 == 11L || r._4 == 31L).toSet)
    }

    test(s"$kind: the stats-pruned read returns each partition's rows") {
      parts.indices.foreach { pi =>
        val (lo, hi) = band(pi)
        val got =
          if (mor) t.readPrunedResolving(spark, Seq(ColumnRange.inclusive("ts", lo, hi)))
          else t.readPruned(spark, "ts", lo, hi)
        assert(rows(got) == model.values.filter(_._2 == parts(pi)).toSet, parts(pi))
      }
    }

    test(s"$kind: an index built before the last commit serves through its delta") {
      val s = fresh(mor, if (mor) "mor_delta_" else "cow_delta_")
      s.upsert(spark, frame(c0), commitTime = "c0")
      s.recordKeyIndex(spark)
      // The index's entries in the files c1 removes must drop and c1's
      // added files must join, both under the listing's names.
      s.upsert(spark, frame(c1), commitTime = "c1")
      parts.indices.foreach { pi =>
        val k = pi * 100L + 2
        val q = s.read(spark).filter(col("id") === k)
        assert(rows(q) == Set(model(k)), parts(pi))
        assert(served(s, q), s"point read in ${parts(pi)} must serve")
      }
    }

    test(s"$kind: a stats refresh carries the escaped partitions' rows") {
      val s = build(mor, if (mor) "mor_refresh_" else "cow_refresh_")
      val dir = s"${s.spec.path}/_graft_colstats"
      val st = spark.read.parquet(dir)
      assert(st.filter(col("flen") === -1L).isEmpty, "every stats row knows its length")
      // Mark the escaped partitions' rows: a carried row keeps the mark, a
      // rescanned one loses it.
      val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val marked = s"${s.spec.path}/_marked_colstats"
      st.withColumn("cnt", when(col("file").contains("/part=ab/"), col("cnt"))
          .otherwise(col("cnt") + 1000L))
        .write.parquet(marked)
      fs.delete(new Path(dir), true)
      assert(fs.rename(new Path(marked), new Path(dir)))

      s.upsert(spark, frame(Seq((1L, "ab", 2000L, 0L))), commitTime = "c2")
      assert(s.refreshColumnStats(spark))
      val after = spark.read.parquet(dir)
      val escaped = after.filter(!col("file").contains("/part=ab/"))
      assert(!escaped.isEmpty)
      assert(escaped.filter(col("cnt") < 1000L).isEmpty,
        "the untouched partitions' rows are carried, not rescanned")
      assert(after.filter(col("file").contains("/part=ab/") && col("cnt") >= 1000L).isEmpty)
    }
  }
}
