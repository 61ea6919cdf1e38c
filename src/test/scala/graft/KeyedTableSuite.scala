package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.table.{KeyedTable, KeyedTableSpec}

/** The reference's nine implicit acceptance tests (SURVEY §5) for the
  * keyed upsert table: insert, upsert, precombine, schema add/miss,
  * bootstrap, partition layout, plus idempotence.
  */
class KeyedTableSuite extends SparkTestBase {
  import scala.jdk.CollectionConverters._

  private val schema = StructType(Seq(
    StructField("name", StringType),
    StructField("date", StringType),
    StructField("year", IntegerType),
    StructField("payload", StringType)))

  private def batch(rows: Row*): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  private def freshTable(partitioned: Boolean = true, global: Boolean = false) = {
    val dir = Files.createTempDirectory("graft_kt_").toString
    KeyedTable(KeyedTableSpec(
      path = s"$dir/t",
      keyCols = Seq("name"),
      precombineCol = "date",
      tiebreakCols = Seq("payload"),
      partitionCols = if (partitioned) Seq("year") else Nil,
      globalKeys = global))
  }

  test("1 insert + 6 bootstrap: first batch creates the table") {
    val t = freshTable()
    t.upsert(spark, batch(Row("a", "2024-03-07", 2024, "v1")))
    val rows = t.read(spark).collect()
    assert(rows.length == 1 && rows.head.getAs[String]("payload") == "v1")
  }

  test("2 upsert: re-sent key with later precombine replaces the row") {
    val t = freshTable()
    t.upsert(spark, batch(Row("a", "2024-03-07", 2024, "v1")))
    t.upsert(spark, batch(Row("a", "2024-03-08", 2024, "v2")))
    val rows = t.read(spark).collect()
    assert(rows.length == 1 && rows.head.getAs[String]("payload") == "v2")
  }

  test("precombine-aware merge: an older incoming row does not clobber a newer stored row") {
    val t = freshTable()
    t.upsert(spark, batch(Row("a", "2024-03-08", 2024, "new")))
    t.upsert(spark, batch(Row("a", "2024-03-07", 2024, "old")))
    val rows = t.read(spark).collect()
    assert(rows.length == 1 && rows.head.getAs[String]("payload") == "new")
  }

  test("3 precombine: two same-key records in one batch keep max(date)") {
    val t = freshTable()
    t.upsert(spark, batch(
      Row("a", "2024-03-07", 2024, "older"),
      Row("a", "2024-03-09", 2024, "newer")))
    val rows = t.read(spark).collect()
    assert(rows.length == 1 && rows.head.getAs[String]("payload") == "newer")
  }

  test("4+5 schema evolution through upsert: add widens, miss null-fills") {
    val t = freshTable()
    t.upsert(spark, batch(Row("a", "2024-03-07", 2024, "v1")))
    val widened = batch(Row("b", "2024-03-07", 2024, "v1"))
      .withColumn("extra", lit(42L))
    t.upsert(spark, widened)
    val out = t.read(spark)
    assert(out.columns.contains("extra"))
    val byName = out.collect().map(r => r.getAs[String]("name") -> r).toMap
    assert(byName("a").isNullAt(byName("a").fieldIndex("extra")))
    assert(byName("b").getAs[Long]("extra") == 42L)

    val narrow = spark.createDataFrame(
      Seq(Row("c", "2024-03-07", 2024)).asJava,
      StructType(schema.fields.take(3)))
    t.upsert(spark, narrow)
    val c = t.read(spark).filter(col("name") === "c").collect().head
    assert(c.isNullAt(c.fieldIndex("payload")))
  }

  test("7 partition layout: hive-style year=... directories") {
    val t = freshTable()
    t.upsert(spark, batch(
      Row("a", "2024-03-07", 2024, "v1"),
      Row("b", "2023-03-07", 2023, "v1")))
    val dirs = new java.io.File(t.spec.path).listFiles().map(_.getName).filter(_.startsWith("year="))
    assert(dirs.toSet == Set("year=2023", "year=2024"))
  }

  test("non-global keys are scoped per partition path (Hudi default index)") {
    val t = freshTable()
    t.upsert(spark, batch(Row("a", "2024-03-07", 2024, "v1")))
    t.upsert(spark, batch(Row("a", "2024-03-08", 2025, "v2")))
    assert(t.read(spark).count() == 2) // one row per partition
  }

  test("global keys relocate the row to the new partition") {
    val t = freshTable(global = true)
    t.upsert(spark, batch(Row("a", "2024-03-07", 2024, "v1")))
    t.upsert(spark, batch(Row("a", "2024-03-08", 2025, "v2")))
    val rows = t.read(spark).collect()
    assert(rows.length == 1 && rows.head.getAs[Int]("year") == 2025)
  }

  test("upsert is idempotent: re-applying the same batch changes nothing") {
    val t = freshTable()
    val b = batch(Row("a", "2024-03-07", 2024, "v1"), Row("b", "2024-03-08", 2024, "v2"))
    t.upsert(spark, b)
    val first = t.read(spark).orderBy("name").collect().toSeq
    t.upsert(spark, b)
    val second = t.read(spark).orderBy("name").collect().toSeq
    assert(first == second)
  }

  test("catalog sync registers the table, recovers partitions, and refreshes after commits") {
    val t = freshTable()
    val name = s"graft_sync_${System.nanoTime()}"
    t.upsert(spark, batch(
      Row("a", "2024-03-07", 2024, "v1"),
      Row("b", "2023-03-07", 2023, "v1")))
    t.syncCatalog(spark, name)
    assert(spark.table(name).count() == 2)
    // O5: SQL schema probe over the registered table (LIMIT 0 path)
    val probed = t.probeSchemaViaSql(spark, name)
    assert(probed.fieldNames.toSet ==
      Set("name", "date", "payload", "year",
        table.KeyedTable.CommitTimeCol, table.KeyedTable.RecordKeyCol,
        table.KeyedTable.PartitionPathCol))
    def partitions() = spark.sql(s"SHOW PARTITIONS $name").collect().map(_.getString(0)).toSet
    def syncedCommit() = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(name))
      .properties.get("graft.last_commit_time_sync")
    assert(partitions() == Set("year=2023", "year=2024"))
    assert(syncedCommit() == t.latestCommit(spark))
    // a later commit becomes visible after re-sync; its new partition is
    // registered from the commit's file record
    t.upsert(spark, batch(Row("c", "2025-01-01", 2025, "v1")))
    t.syncCatalog(spark, name)
    assert(spark.table(name).count() == 3)
    assert(partitions() == Set("year=2023", "year=2024", "year=2025"))
    assert(spark.sql(s"SELECT name FROM $name WHERE year = 2025")
      .collect().map(_.getString(0)).toSeq == Seq("c"))
    assert(syncedCommit() == t.latestCommit(spark))
    spark.sql(s"DROP TABLE $name")
  }

  test("catalog sidecar: registration persists with the data and replays into a fresh catalog") {
    val t = freshTable()
    val name = s"graft_persist_${System.nanoTime()}"
    t.upsert(spark, batch(
      Row("a", "2024-03-07", 2024, "v1"),
      Row("b", "2023-03-07", 2023, "v1")))
    t.syncCatalog(spark, name)
    assert(t.syncedNames(spark) == Seq(name))
    // A fresh SparkSession starts with an empty in-memory metastore; a
    // second SparkContext per JVM isn't possible here, so model it by
    // dropping the registration and replaying from the sidecar — the
    // exact code path a fresh session's open runs.
    spark.sql(s"DROP TABLE $name")
    assert(!spark.catalog.tableExists(name))
    t.registerSynced(spark)
    assert(spark.table(name).count() == 2)
    // the sidecar survives a full-table rewrite (compaction)
    t.upsert(spark, batch(Row("c", "2025-01-01", 2025, "v1")))
    t.compact(spark)
    assert(t.syncedNames(spark) == Seq(name))
    spark.sql(s"DROP TABLE $name")
    t.registerSynced(spark)
    assert(spark.table(name).count() == 3)
    spark.sql(s"DROP TABLE $name")

    // UNPARTITIONED table: the merge path is a STATIC overwrite that
    // deletes the whole directory — the sidecar must survive that too
    val u = freshTable(partitioned = false)
    val uname = s"graft_persist_u_${System.nanoTime()}"
    u.upsert(spark, batch(Row("a", "2024-03-07", 2024, "v1")))
    u.syncCatalog(spark, uname)
    u.upsert(spark, batch(Row("a", "2024-03-08", 2024, "v2"))) // merge: static overwrite
    assert(u.syncedNames(spark) == Seq(uname),
      "catalog sidecar must survive the unpartitioned merge rewrite")
    spark.sql(s"DROP TABLE $uname")
    u.registerSynced(spark)
    assert(spark.table(uname).count() == 1)
    spark.sql(s"DROP TABLE $uname")
  }

  test("registry discovery: a session resolves a synced table by name with no explicit replay") {
    val t = freshTable()
    val name = s"graft_disc_${System.nanoTime()}"
    val reg = Files.createTempDirectory("graft_reg_").resolve("registry").toString
    // The one piece of config a fresh session carries — the engine's
    // "metastore URI". Everything else is discovered.
    spark.conf.set(table.GraftCatalog.RegistryConf, reg)
    try {
      t.upsert(spark, batch(
        Row("a", "2024-03-07", 2024, "v1"),
        Row("b", "2023-03-07", 2023, "v1")))
      t.syncCatalog(spark, name)
      // Model a fresh session: the in-memory registration is gone; only
      // the registry conf remains. No registerSynced call follows.
      spark.sql(s"DROP TABLE $name")
      assert(!spark.catalog.tableExists(name))
      assert(spark.table(name).count() == 2,
        "name resolution should consult the registry and replay the table")
      // A table synced AFTER the first replay bumps the registry
      // generation; a later unresolved name picks it up.
      val u = freshTable(partitioned = false)
      val uname = s"graft_disc_u_${System.nanoTime()}"
      u.upsert(spark, batch(Row("a", "2024-03-08", 2024, "v2")))
      u.syncCatalog(spark, uname)
      spark.sql(s"DROP TABLE $uname")
      assert(spark.table(uname).count() == 1,
        "a new registry generation should replay newly synced tables")
      spark.sql(s"DROP TABLE $name")
      spark.sql(s"DROP TABLE $uname")
    } finally spark.conf.unset(table.GraftCatalog.RegistryConf)
  }

  test("registry record is lost-update-safe under concurrent writers") {
    val reg = Files.createTempDirectory("graft_reg_").resolve("registry").toString
    spark.conf.set(table.GraftCatalog.RegistryConf, reg)
    try {
      // 4 contending writers × 8 registrations: without the registry
      // lock each read-append-publish can overwrite a concurrent
      // writer's line (lost update); with it, every line survives.
      val paths = (0 until 32).map(i => s"/tmp/graft_reg_tbl_$i")
      val threads = paths.grouped(8).toSeq.map { group =>
        new Thread(() => group.foreach(p =>
          table.GraftCatalog.record(spark, p, Seq("year"))))
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      val lines = scala.io.Source.fromFile(reg).getLines().filter(_.nonEmpty).toSeq
      assert(lines.toSet == paths.map(p => s"$p\tyear").toSet,
        s"registry lost ${paths.size - lines.size} of ${paths.size} entries")
      assert(!new java.io.File(reg).getParentFile.listFiles()
        .exists(_.getName.endsWith(".lock")), "lock file must be released")
    } finally spark.conf.unset(table.GraftCatalog.RegistryConf)
  }

  test("registry replay survives a poisoned line and refuses non-identifier names") {
    val t = freshTable()
    val name = s"graft_poison_ok_${System.nanoTime()}"
    val regDir = Files.createTempDirectory("graft_reg_")
    val reg = regDir.resolve("registry").toString
    spark.conf.set(table.GraftCatalog.RegistryConf, reg)
    try {
      // A poisoned table dir: its sidecar holds a non-identifier "name"
      // (the injection shape) — replay must refuse it without SQL-parsing
      // it and without abandoning the rest of the registry.
      val bad = Files.createTempDirectory("graft_bad_tbl_")
      Files.writeString(bad.resolve("_graft_catalog"),
        "evil; DROP TABLE users --")
      table.GraftCatalog.record(spark, bad.toString, Nil)
      // The good table registers after the poisoned line.
      t.upsert(spark, batch(Row("a", "2024-03-07", 2024, "v1")))
      t.syncCatalog(spark, name)
      spark.sql(s"DROP TABLE $name")
      assert(spark.table(name).count() == 1,
        "a poisoned registry line must not block later entries")
      spark.sql(s"DROP TABLE $name")
    } finally spark.conf.unset(table.GraftCatalog.RegistryConf)
  }

  test("catalog sync refuses merge-on-read tables (plain-parquet registration would expose versions)") {
    val dir = Files.createTempDirectory("graft_kt_").toString
    val t = KeyedTable(KeyedTableSpec(
      path = s"$dir/t", keyCols = Seq("name"), precombineCol = "date",
      partitionCols = Seq("year"), retainHistory = true))
    t.upsert(spark, batch(Row("a", "2024-03-07", 2024, "v1")))
    val e = intercept[IllegalArgumentException] {
      t.syncCatalog(spark, s"graft_mor_sync_${System.nanoTime()}")
    }
    assert(e.getMessage.contains("copy-on-write"))
  }

  test("partition-tuple ceiling: over-cap batches fail fast with an actionable error") {
    val t = freshTable()
    // bootstrap first: the ceiling guards the merge path's partition
    // bookkeeping; the first write is a plain partitioned write
    t.upsert(spark, batch(Row("z", "2020-01-01", 2020, "v")))
    val key = "spark.graft.partition.collect.max"
    spark.conf.set(key, "2")
    try {
      val e = intercept[IllegalStateException] {
        t.upsert(spark, batch(
          Row("a", "2024-01-01", 2024, "v"),
          Row("b", "2023-01-01", 2023, "v"),
          Row("c", "2022-01-01", 2022, "v")))
      }
      assert(e.getMessage.contains("partition.collect.max"))
      spark.conf.set(key, "100000")
      t.upsert(spark, batch(
        Row("a", "2024-01-01", 2024, "v"),
        Row("b", "2023-01-01", 2023, "v"),
        Row("c", "2022-01-01", 2022, "v")))
      assert(t.read(spark).count() == 4)
    } finally spark.conf.unset(key)
  }

  test("insert appends without key lookup; a later upsert collapses duplicates") {
    val t = freshTable()
    t.insert(spark, batch(Row("a", "2024-03-07", 2024, "v1")))
    t.insert(spark, batch(Row("a", "2024-03-08", 2024, "v2")))
    assert(t.read(spark).count() == 2) // no merge on insert
    t.upsert(spark, batch(Row("a", "2024-03-09", 2024, "v3")))
    val rows = t.read(spark).collect()
    assert(rows.length == 1 && rows.head.getAs[String]("payload") == "v3")
  }

  test("bulk insert is a raw append honoring partition layout") {
    val t = freshTable()
    t.bulkInsert(spark, batch(
      Row("a", "2024-03-07", 2024, "v1"),
      Row("b", "2024-03-07", 2023, "v1")))
    t.bulkInsert(spark, batch(Row("c", "2024-03-07", 2024, "v1")))
    assert(t.read(spark).count() == 3)
    val dirs = new java.io.File(t.spec.path).listFiles().map(_.getName).filter(_.startsWith("year="))
    assert(dirs.toSet == Set("year=2023", "year=2024"))
  }

  test("incremental read: returns exactly the rows changed after a commit") {
    val t = freshTable()
    t.upsert(spark, batch(
      Row("a", "2024-03-07", 2024, "a1"),
      Row("b", "2024-03-07", 2024, "b1")), commitTime = "c1")
    // c2 updates a, inserts c; b is carried over unchanged (its partition
    // IS rewritten — commit time must survive the rewrite).
    t.upsert(spark, batch(
      Row("a", "2024-03-08", 2024, "a2"),
      Row("c", "2024-03-08", 2024, "c1")), commitTime = "c2")

    assert(t.commits(spark) == Seq("c1", "c2"))
    assert(t.latestCommit(spark).contains("c2"))

    val inc = t.readIncremental(spark, sinceCommit = "c1")
      .select("name", "payload").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(inc == Set(("a", "a2"), ("c", "c1")),
      "only rows inserted/updated by c2; the untouched b keeps commit c1")

    // a stale update (older precombine) must not refresh the commit time
    t.upsert(spark, batch(Row("a", "2024-03-01", 2024, "stale")), commitTime = "c3")
    assert(t.readIncremental(spark, "c2").collect().isEmpty)
    // bounded window (since, end]: latest-state semantics — "a" changed
    // again at c2, so only "b" still has its last change inside (c0, c1]
    val win = t.readIncremental(spark, "c0", endCommit = Some("c1"))
      .select("name").collect().map(_.getString(0)).toSet
    assert(win == Set("b"))
  }

  test("compaction shrinks the file count and changes nothing else") {
    val t = freshTable()
    // 4 append commits → ≥4 data files in the partition
    (1 to 4).foreach(i =>
      t.insert(spark, batch(Row(s"k$i", s"2024-03-0$i", 2024, s"v$i")), commitTime = f"c$i"))
    def dataFiles(): Seq[java.io.File] = {
      def walk(d: java.io.File): Seq[java.io.File] =
        Option(d.listFiles()).toSeq.flatten
          .flatMap(x => if (x.isDirectory) walk(x) else Seq(x))
      walk(new java.io.File(t.spec.path)).filter(_.getName.endsWith(".parquet"))
    }
    val before = t.readRaw(spark).orderBy("name").collect().toSeq
    val filesBefore = dataFiles().size
    assert(filesBefore >= 4)

    t.compact(spark)
    assert(dataFiles().size < filesBefore, "compaction must merge files")
    val after = t.readRaw(spark).orderBy("name").collect().toSeq
    assert(after == before, "rows, schema, and commit times survive intact")
    assert(t.commits(spark) == Seq("c1", "c2", "c3", "c4"))
  }

  test("partition-selective compaction merges only the named partitions") {
    val t = freshTable()
    // Drip four commits into 2024 (fragmented) and one into 2023
    // (clean): only 2024 qualifies for the merge.
    (1 to 4).foreach(i =>
      t.insert(spark, batch(Row(s"k$i", s"2024-03-0$i", 2024, s"v$i")),
        commitTime = f"c$i"))
    t.insert(spark, batch(Row("old", "2023-01-01", 2023, "keep")),
      commitTime = "c5")
    def files(year: Int): Seq[java.io.File] = {
      def walk(d: java.io.File): Seq[java.io.File] =
        Option(d.listFiles()).toSeq.flatten
          .flatMap(x => if (x.isDirectory) walk(x) else Seq(x))
      walk(new java.io.File(s"${t.spec.path}/year=$year"))
        .filter(_.getName.endsWith(".parquet"))
    }
    val before = t.readRaw(spark).orderBy("name").collect().toSeq
    val clean2023 = files(2023).map(_.getName).toSet
    assert(files(2024).size >= 4)

    import spark.implicits._
    t.compactPartitions(spark, Seq(2024).toDF("year"), commitTime = "c6")
    assert(files(2024).size < 4, "the named partition must merge")
    assert(files(2023).map(_.getName).toSet == clean2023,
      "other partitions' files must stay byte-identical (same names)")
    assert(t.readRaw(spark).orderBy("name").collect().toSeq == before,
      "rows, schema, and commit times survive intact")
    // The scoped commit keeps incremental readers exact: nothing
    // CHANGED state at c6 (a compaction re-homes bytes, it does not
    // re-version rows).
    assert(t.readIncremental(spark, "c5").collect().isEmpty)

    // The measured variant finds nothing further to merge (no new
    // commit), and re-fragmenting draws it again.
    assert(t.compactSmallPartitions(spark, 2, 32L << 20).isEmpty)
    (7 to 9).foreach(i =>
      t.insert(spark, batch(Row(s"n$i", s"2024-04-0$i", 2024, s"w$i")),
        commitTime = f"c$i"))
    val merged = t.compactSmallPartitions(spark, 2, 32L << 20)
    assert(merged == Seq("year=2024"),
      s"the re-fragmented partition must merge, got $merged")
    assert(t.read(spark).count() == 8)
  }

  test("unpartitioned table upserts work") {
    val t = freshTable(partitioned = false)
    t.upsert(spark, batch(Row("a", "2024-03-07", 2024, "v1")))
    t.upsert(spark, batch(Row("b", "2024-03-07", 2024, "v1")))
    assert(t.read(spark).count() == 2)
  }

  test("delete: key-only form erases the key table-wide, survivors untouched") {
    val t = freshTable()
    t.upsert(spark, batch(
      Row("a", "2024-03-07", 2023, "a23"),
      Row("a", "2024-03-07", 2024, "a24"), // non-global: a exists in 2 partitions
      Row("b", "2024-03-07", 2024, "b1")), commitTime = "c1")
    val keys = spark.createDataFrame(
      Seq(Row("a")).asJava,
      StructType(Seq(StructField("name", StringType))))
    t.delete(spark, keys)
    val rows = t.readRaw(spark).collect()
    assert(rows.map(_.getAs[String]("name")).toSeq == Seq("b"))
    assert(rows.head.getAs[String](table.KeyedTable.CommitTimeCol) == "c1",
      "survivors keep their original commit time")
  }

  test("delete: partition-scoped form kills only the named (key, partition) row") {
    val t = freshTable()
    t.upsert(spark, batch(
      Row("a", "2024-03-07", 2023, "a23"),
      Row("a", "2024-03-07", 2024, "a24")))
    val keys = spark.createDataFrame(
      Seq(Row("a", 2024)).asJava,
      StructType(Seq(StructField("name", StringType), StructField("year", IntegerType))))
    t.delete(spark, keys)
    val rows = t.read(spark).collect()
    assert(rows.length == 1 && rows.head.getAs[Int]("year") == 2023)
  }

  test("delete: an emptied partition's directory is removed; idempotent") {
    val t = freshTable()
    t.upsert(spark, batch(
      Row("a", "2024-03-07", 2023, "v"),
      Row("b", "2024-03-07", 2024, "v")))
    val keys = spark.createDataFrame(
      Seq(Row("b")).asJava,
      StructType(Seq(StructField("name", StringType))))
    t.delete(spark, keys)
    val dirs = new java.io.File(t.spec.path).listFiles()
      .map(_.getName).filter(_.startsWith("year="))
    assert(dirs.toSet == Set("year=2023"), "year=2024 emptied and cleaned")
    val before = t.read(spark).collect().toSeq
    t.delete(spark, keys) // absent keys: no-op
    assert(t.read(spark).collect().toSeq == before)
  }

  test("delete cleans an emptied partition whose value needs hive path escaping") {
    // partition value "2024/03" is written as month=2024%2F03 — the cleanup
    // must delete the ESCAPED directory, or the erased rows reappear on read
    val dir = Files.createTempDirectory("graft_kt_").toString
    val t = KeyedTable(KeyedTableSpec(
      path = s"$dir/t",
      keyCols = Seq("name"),
      precombineCol = "date",
      partitionCols = Seq("month")))
    val sch = StructType(Seq(
      StructField("name", StringType),
      StructField("date", StringType),
      StructField("month", StringType)))
    t.upsert(spark, spark.createDataFrame(Seq(
      Row("a", "2024-03-07", "2024/03"),
      Row("b", "2024-04-07", "2024-04")).asJava, sch))
    val keys = spark.createDataFrame(
      Seq(Row("a")).asJava, StructType(Seq(StructField("name", StringType))))
    t.delete(spark, keys)
    val dirs = new java.io.File(t.spec.path).listFiles()
      .map(_.getName).filter(_.startsWith("month="))
    assert(dirs.toSet == Set("month=2024-04"),
      s"escaped month=2024%2F03 dir must be gone, saw: ${dirs.mkString(", ")}")
    val rows = t.read(spark).collect()
    assert(rows.map(_.getAs[String]("name")).toSeq == Seq("b"))
  }

  test("delete on an unpartitioned table rewrites through temp + rename") {
    val t = freshTable(partitioned = false)
    t.upsert(spark, batch(
      Row("a", "2024-03-07", 2024, "v1"),
      Row("b", "2024-03-07", 2024, "v2")))
    val keys = spark.createDataFrame(
      Seq(Row("a")).asJava,
      StructType(Seq(StructField("name", StringType))))
    t.delete(spark, keys)
    val rows = t.read(spark).collect()
    assert(rows.length == 1 && rows.head.getAs[String]("name") == "b")
  }

  private def historyTable() = {
    val dir = Files.createTempDirectory("graft_kt_").toString
    KeyedTable(KeyedTableSpec(
      path = s"$dir/t",
      keyCols = Seq("name"),
      precombineCol = "date",
      tiebreakCols = Seq("payload"),
      partitionCols = Seq("year"),
      retainHistory = true))
  }

  test("merge-on-read: upserts append versions, read resolves latest, history survives") {
    val t = historyTable()
    t.upsert(spark, batch(Row("a", "2024-03-07", 2024, "v1")), commitTime = "c0")
    t.upsert(spark, batch(Row("a", "2024-03-08", 2024, "v2")), commitTime = "c1")
    // an older incoming version appends but must not win the read
    t.upsert(spark, batch(Row("a", "2024-03-01", 2024, "stale")), commitTime = "c2")
    assert(t.readRaw(spark).count() == 3, "every version retained")
    val rows = t.read(spark).collect()
    assert(rows.length == 1 && rows.head.getAs[String]("payload") == "v2")
  }

  test("time travel: readAsOf reproduces each commit's state; COW refuses") {
    val t = historyTable()
    t.upsert(spark, batch(
      Row("a", "2024-03-07", 2024, "a1"),
      Row("b", "2024-03-07", 2024, "b1")), commitTime = "c0")
    t.upsert(spark, batch(Row("a", "2024-03-08", 2024, "a2")), commitTime = "c1")
    def payloads(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[String]("name") -> r.getAs[String]("payload")).toMap
    assert(payloads(t.readAsOf(spark, "c0")) == Map("a" -> "a1", "b" -> "b1"))
    assert(payloads(t.readAsOf(spark, "c1")) == Map("a" -> "a2", "b" -> "b1"))
    assert(payloads(t.read(spark)) == Map("a" -> "a2", "b" -> "b1"))
    intercept[IllegalArgumentException] {
      freshTable().readAsOf(spark, "c0") // COW has no history to travel to
    }
  }

  test("vacuum reclaims superseded versions and keeps the latest state + commit times") {
    val t = historyTable()
    t.upsert(spark, batch(Row("a", "2024-03-07", 2024, "v1")), commitTime = "c0")
    t.upsert(spark, batch(Row("a", "2024-03-08", 2024, "v2")), commitTime = "c1")
    val before = t.read(spark).collect().toSeq
    t.vacuum(spark)
    assert(t.readRaw(spark).count() == 1, "superseded version reclaimed")
    assert(t.read(spark).collect().toSeq == before)
    assert(t.commits(spark) == Seq("c1"), "survivor keeps its own commit time")
  }

  test("partition-selective vacuum reclaims only the named partitions' versions") {
    val t = historyTable()
    // History in BOTH partitions: a updated in 2024, b updated in 2023.
    t.upsert(spark, batch(
      Row("a", "2024-03-07", 2024, "v1"),
      Row("b", "2023-03-07", 2023, "w1")), commitTime = "c0")
    t.upsert(spark, batch(
      Row("a", "2024-03-08", 2024, "v2"),
      Row("b", "2023-03-08", 2023, "w2")), commitTime = "c1")
    def files(year: Int): Set[String] = {
      def walk(d: java.io.File): Seq[java.io.File] =
        Option(d.listFiles()).toSeq.flatten
          .flatMap(x => if (x.isDirectory) walk(x) else Seq(x))
      walk(new java.io.File(s"${t.spec.path}/year=$year"))
        .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    }
    val before = t.read(spark).collect().toSet
    val clean2023 = files(2023)
    val asOfC0In2023 = t.readAsOf(spark, "c0")
      .filter(col("year") === 2023).collect().toSeq

    import spark.implicits._
    t.vacuumPartitions(spark, Seq(2024).toDF("year"), commitTime = "c2")
    // The named partition holds only winners; the other keeps its
    // history byte-identical and stays travelable.
    assert(t.readRaw(spark).filter(col("year") === 2024).count() == 1,
      "superseded 2024 version reclaimed")
    assert(t.readRaw(spark).filter(col("year") === 2023).count() == 2,
      "the other partition's history survives")
    assert(files(2023) == clean2023,
      "the other partition's files stay byte-identical (same names)")
    assert(t.read(spark).collect().toSet == before)
    assert(t.readAsOf(spark, "c0").filter(col("year") === 2023)
      .collect().toSeq == asOfC0In2023,
      "time travel still works where history survived")
    // globalKeys tables refuse: a key's versions span partitions.
    val g = freshTable(global = true).spec.copy(retainHistory = true)
    intercept[IllegalArgumentException] {
      KeyedTable(g).vacuumPartitions(spark, Seq(2024).toDF("year"))
    }
  }

  test("change feed: op markers distinguish first-ever versions from updates; COW refuses") {
    val t = historyTable()
    t.upsert(spark, batch(Row("a", "2024-03-07", 2024, "v1")), commitTime = "c0")
    t.upsert(spark, batch(
      Row("a", "2024-03-08", 2024, "v2"),
      Row("b", "2024-03-08", 2024, "w1")), commitTime = "c1")
    val feed = t.readChangeFeed(spark, "c0").collect()
      .map(r => r.getAs[String]("name") -> r.getAs[String]("op")).toMap
    assert(feed == Map("a" -> "update", "b" -> "insert"))
    // bounded window: (-, c0] via since="" returns only c0's insert
    val first = t.readChangeFeed(spark, "", endCommit = Some("c0")).collect()
      .map(r => (r.getAs[String]("name"), r.getAs[String]("op")))
    assert(first.toSeq == Seq(("a", "insert")))
    intercept[IllegalArgumentException] {
      freshTable().readChangeFeed(spark, "c0")
    }
  }

  test("restore rolls back later commits: read ≡ prior readAsOf, timeline truncates, idempotent; COW refuses") {
    val t = historyTable()
    t.upsert(spark, batch(Row("a", "2024-03-07", 2024, "v1")), commitTime = "c0")
    t.upsert(spark, batch(
      Row("a", "2024-03-08", 2024, "v2"),
      Row("b", "2024-03-08", 2024, "w1")), commitTime = "c1")
    val asOfC0 = t.readAsOf(spark, "c0").collect().toSet
    t.restore(spark, "c0")
    assert(t.read(spark).collect().toSet == asOfC0)
    assert(t.commits(spark) == Seq("c0"), "timeline ends at the restore point")
    t.restore(spark, "c0") // restoring to the current head changes nothing
    assert(t.read(spark).collect().toSet == asOfC0)
    intercept[IllegalArgumentException] {
      t.restore(spark, "b0") // unknown commit: refuse, don't erase the table
    }
    assert(t.read(spark).collect().toSet == asOfC0, "refused restore must not touch data")
    intercept[IllegalArgumentException] {
      freshTable().restore(spark, "c0") // COW already folded later commits
    }
  }

  test("merge-on-read delete erases every version of the key (GDPR over history)") {
    val t = historyTable()
    t.upsert(spark, batch(Row("a", "2024-03-07", 2024, "v1")), commitTime = "c0")
    t.upsert(spark, batch(
      Row("a", "2024-03-08", 2024, "v2"),
      Row("b", "2024-03-08", 2024, "w1")), commitTime = "c1")
    val keys = spark.createDataFrame(
      Seq(Row("a")).asJava, StructType(Seq(StructField("name", StringType))))
    t.delete(spark, keys)
    val raw = t.readRaw(spark).collect()
    assert(raw.length == 1 && raw.head.getAs[String]("name") == "b",
      "no version of the erased key may survive")
  }

  private def driftTable(partitioned: Boolean) = {
    val dir = Files.createTempDirectory("graft_kt_").toString
    KeyedTable(KeyedTableSpec(
      path = s"$dir/t",
      keyCols = Seq("name"),
      precombineCol = "date",
      partitionCols = if (partitioned) Seq("year") else Nil))
  }

  private def driftSchema(n: DataType) = StructType(Seq(
    StructField("name", StringType),
    StructField("date", StringType),
    StructField("year", IntegerType),
    StructField("n", n)))

  test("type drift: int batch then long batch upserts without exception or loss") {
    val t = driftTable(partitioned = false)
    t.upsert(spark, spark.createDataFrame(
      Seq(Row("a", "2024-03-07", 2024, 7)).asJava, driftSchema(IntegerType)))
    t.upsert(spark, spark.createDataFrame(
      Seq(Row("b", "2024-03-08", 2024, 8L)).asJava, driftSchema(LongType)))
    val out = t.read(spark)
    assert(out.schema("n").dataType == LongType)
    val byName = out.collect().map(r => r.getAs[String]("name") -> r).toMap
    assert(byName("a").getAs[Long]("n") == 7L)
    assert(byName("b").getAs[Long]("n") == 8L)
  }

  test("type drift with an untouched partition: table stays readable") {
    val t = driftTable(partitioned = true) // partitioned by year
    t.upsert(spark, spark.createDataFrame(Seq(
      Row("a", "2024-03-07", 2023, 1),
      Row("b", "2024-03-07", 2024, 2)).asJava, driftSchema(IntegerType)))
    // drifted batch touches only year=2024; year=2023 keeps int files
    t.upsert(spark, spark.createDataFrame(
      Seq(Row("c", "2024-03-08", 2024, 3L)).asJava, driftSchema(LongType)))
    val out = t.read(spark)
    assert(out.schema("n").dataType == LongType)
    assert(out.count() == 3)
    val byName = out.collect().map(r => r.getAs[String]("name") -> r).toMap
    assert(Seq("a", "b", "c").map(byName(_).getAs[Long]("n")) == Seq(1L, 2L, 3L))
  }

  test("non-widenable drift (int vs string) forces a full rewrite, stays readable") {
    val t = driftTable(partitioned = true)
    t.upsert(spark, spark.createDataFrame(Seq(
      Row("a", "2024-03-07", 2023, 1),
      Row("b", "2024-03-07", 2024, 2)).asJava, driftSchema(IntegerType)), commitTime = "c1")
    // string drift can't be widen-read over int32 files → rewrite commit;
    // untouched rows keep their original commit time through the rewrite
    t.upsert(spark, spark.createDataFrame(
      Seq(Row("c", "2024-03-08", 2024, "x")).asJava, driftSchema(StringType)), commitTime = "c2")
    val out = t.read(spark)
    assert(out.schema("n").dataType == StringType)
    val byName = out.collect().map(r => r.getAs[String]("name") -> r).toMap
    assert(Seq("a", "b", "c").map(byName(_).getAs[String]("n")) == Seq("1", "2", "x"))
    val inc = t.readIncremental(spark, "c1").select("name").as[String](
      org.apache.spark.sql.Encoders.STRING).collect().toSet
    assert(inc == Set("c"), "rewrite must not refresh untouched rows' commit times")
  }

  test("insert with non-widenable drift rewrites through a temp dir, table intact") {
    val t = driftTable(partitioned = true)
    t.insert(spark, spark.createDataFrame(Seq(
      Row("a", "2024-03-07", 2023, 1),
      Row("b", "2024-03-07", 2024, 2)).asJava, driftSchema(IntegerType)))
    // string drift through the APPEND path must not read-and-overwrite
    // the live directory in one job
    t.insert(spark, spark.createDataFrame(
      Seq(Row("c", "2024-03-08", 2024, "x")).asJava, driftSchema(StringType)))
    val out = t.read(spark)
    assert(out.schema("n").dataType == StringType)
    val byName = out.collect().map(r => r.getAs[String]("name") -> r).toMap
    assert(Seq("a", "b", "c").map(byName(_).getAs[String]("n")) == Seq("1", "2", "x"))
  }

  private def nestedSchema(leaf: DataType) = StructType(Seq(
    StructField("name", StringType),
    StructField("date", StringType),
    StructField("year", IntegerType),
    StructField("s", StructType(Seq(
      StructField("a", leaf), StructField("b", StringType))))))

  test("nested type drift: a struct's int leaf widens to long, container intact") {
    val t = driftTable(partitioned = true)
    t.upsert(spark, spark.createDataFrame(Seq(
      Row("a", "2024-03-07", 2023, Row(1, "x")),
      Row("b", "2024-03-07", 2024, Row(2, "y"))).asJava,
      nestedSchema(IntegerType)), commitTime = "c1")
    // drifted batch touches only year=2024; year=2023 keeps int-leaf files,
    // which must stay widen-readable (no full rewrite, commit times intact)
    t.upsert(spark, spark.createDataFrame(
      Seq(Row("c", "2024-03-08", 2024, Row(3L, "z"))).asJava,
      nestedSchema(LongType)), commitTime = "c2")
    val out = t.read(spark)
    assert(out.schema("s").dataType ==
      StructType(Seq(StructField("a", LongType), StructField("b", StringType))),
      "leaf widened in place — container must not collapse to string")
    val byName = out.collect().map(r => r.getAs[String]("name") -> r).toMap
    assert(Seq("a", "b", "c").map(byName(_).getAs[Row]("s").getLong(0)) ==
      Seq(1L, 2L, 3L))
    val inc = t.readIncremental(spark, "c1").select("name").collect()
      .map(_.getString(0)).toSet
    assert(inc == Set("c"), "nested widen-readable drift must not rewrite untouched rows")
  }

  test("nested shape drift (field added inside struct) falls back to string, stays readable") {
    val t = driftTable(partitioned = false)
    t.upsert(spark, spark.createDataFrame(
      Seq(Row("a", "2024-03-07", 2024, Row(1, "x"))).asJava,
      nestedSchema(IntegerType)))
    val grown = StructType(Seq(
      StructField("name", StringType),
      StructField("date", StringType),
      StructField("year", IntegerType),
      StructField("s", StructType(Seq(
        StructField("a", IntegerType), StructField("b", StringType),
        StructField("c", IntegerType))))))
    t.upsert(spark, spark.createDataFrame(
      Seq(Row("b", "2024-03-08", 2024, Row(2, "y", 9))).asJava, grown))
    val out = t.read(spark)
    assert(out.schema("s").dataType == StringType,
      "shape drift is a choice-type conflict — lossless string fallback")
    assert(out.count() == 2)
  }

  test("bulk insert rejects non-widen-readable drift instead of corrupting reads") {
    val t = driftTable(partitioned = false)
    t.bulkInsert(spark, spark.createDataFrame(
      Seq(Row("a", "2024-03-07", 2024, 1)).asJava, driftSchema(IntegerType)))
    intercept[IllegalArgumentException] {
      t.bulkInsert(spark, spark.createDataFrame(
        Seq(Row("b", "2024-03-08", 2024, "x")).asJava, driftSchema(StringType)))
    }
    // the table stayed readable and unchanged
    assert(t.read(spark).count() == 1)
    // widen-readable drift (int batch over int schema, long batch) is fine
    t.bulkInsert(spark, spark.createDataFrame(
      Seq(Row("c", "2024-03-09", 2024, 3L)).asJava, driftSchema(LongType)))
    assert(t.read(spark).schema("n").dataType == LongType)
    assert(t.read(spark).count() == 2)
  }

  test("catalog sync adds the columns a later batch widened the table with") {
    val t = freshTable()
    val name = s"graft_widen_${System.nanoTime()}"
    t.upsert(spark, batch(Row("a", "2023-03-07", 2023, "v1")))
    t.syncCatalog(spark, name)
    assert(!spark.table(name).columns.contains("score"))
    t.upsert(spark, batch(Row("b", "2024-03-07", 2024, "v1"))
      .withColumn("score", lit(7L)))
    t.syncCatalog(spark, name)
    val got = spark.table(name)
    assert(got.schema("score").dataType == LongType)
    val scores = got.select("name", "score").collect()
      .map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(scores == Map("a" -> None, "b" -> Some(7L)),
      "the older partition's file has no score column: it reads as null")
    spark.sql(s"DROP TABLE $name")
  }

  test("two unlocked concurrent inserts keep every row or fail loudly") {
    val t = freshTable()
    t.insert(spark, batch(Row("seed", "2024-01-01", 2024, "v0")))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      (1 to 2).foreach { round =>
        val writers = (0 until 2).map { w =>
          val keys = (0 until 20).map(i => s"r${round}_w${w}_$i")
          (keys, batch(keys.zipWithIndex.map { case (k, i) =>
            Row(k, "2024-03-07", 2023 + i % 2, "v1")
          }: _*))
        }
        val start = new java.util.concurrent.CountDownLatch(1)
        val runs = writers.map { case (_, b) =>
          pool.submit(new java.util.concurrent.Callable[scala.util.Try[Unit]] {
            def call(): scala.util.Try[Unit] = {
              start.await()
              scala.util.Try(KeyedTable(t.spec).insert(spark, b))
            }
          })
        }
        start.countDown()
        val outcomes = runs.map(_.get())
        val stored = t.read(spark).select("name").collect().map(_.getString(0)).toSet
        writers.zip(outcomes).foreach {
          case ((keys, _), scala.util.Success(_)) =>
            assert(keys.toSet.subsetOf(stored),
              s"round $round: a successful insert lost ${keys.toSet -- stored}")
          case (_, scala.util.Failure(_)) => () // failed loudly
        }
        assert(outcomes.exists(_.isSuccess))
      }
    } finally pool.shutdown()
  }
}
