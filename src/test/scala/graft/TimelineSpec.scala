package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.table.{KeyedTable, KeyedTableSpec}

/** Commit timeline markers ([[KeyedTable.recordTimeline]]): every mutator
  * drops `<commitTime>.<action>` in the sibling `_graft_timeline.<table>`
  * dir, the marker survives both static overwrites and via-tmp rewrites
  * (it lives OUTSIDE the table directory), and the latest marker is the
  * cheap change signal derived-state staleness guards compare.
  */
class TimelineSpec extends SparkTestBase {

  private def freshPath(): String =
    Files.createTempDirectory("graft_tl_").toString + "/tbl"

  private def kv(ids: (Int, Int)*) =
    spark.createDataFrame(ids.toSeq).toDF("id", "v")

  private def rows(ids: (Int, Int)*) =
    kv(ids: _*).withColumn("day", lit("d1"))

  test("each mutator records its action; the timeline is chronological") {
    val path = freshPath()
    val t = KeyedTable(KeyedTableSpec(
      path, keyCols = Seq("id"), precombineCol = "v",
      partitionCols = Seq("day")))
    t.upsert(spark, rows(1 -> 10, 2 -> 20))
    t.insert(spark, rows(3 -> 30))
    t.bulkInsert(spark, rows(4 -> 40))
    t.compact(spark)
    t.cluster(spark, Seq("id"))
    t.delete(spark, spark.createDataFrame(Seq(Tuple1(3))).toDF("id"))
    val actions = KeyedTable.timelineEntries(spark, path).map(_._2)
    assert(actions == Seq(
      "upsert", "insert", "bulkinsert", "compact", "cluster", "delete"))
    val commits = KeyedTable.timelineEntries(spark, path).map(_._1)
    assert(commits == commits.sorted, "marker order must be chronological")
  }

  test("markers survive a static-overwrite write and a via-tmp rewrite") {
    // Unpartitioned COW: an upsert is a STATIC overwrite that deletes the
    // whole table directory; compact is a delete+rename of it. The
    // timeline lives in a sibling dir, so history survives both.
    val path = freshPath()
    val t = KeyedTable(KeyedTableSpec(
      path, keyCols = Seq("id"), precombineCol = "v"))
    t.upsert(spark, kv(1 -> 10))
    t.upsert(spark, kv(1 -> 11, 2 -> 20))
    t.compact(spark)
    val actions = KeyedTable.timelineEntries(spark, path).map(_._2)
    assert(actions == Seq("upsert", "upsert", "compact"))
  }

  test("latest marker advances on every commit; empty table reads as \"\"") {
    val path = freshPath()
    assert(KeyedTable.latestTimelineMarker(spark, path) == "")
    val t = KeyedTable(KeyedTableSpec(
      path, keyCols = Seq("id"), precombineCol = "v",
      retainHistory = true))
    t.upsert(spark, kv(1 -> 10))
    val m1 = KeyedTable.latestTimelineMarker(spark, path)
    assert(m1.nonEmpty)
    t.upsert(spark, kv(1 -> 11))
    val m2 = KeyedTable.latestTimelineMarker(spark, path)
    assert(m2 > m1, "a later commit must sort after an earlier one")
    // MoR upserts are physically version appends; the timeline records
    // the physical commit class (data-class either way).
    assert(KeyedTable.DataActions.contains(
      KeyedTable.timelineEntries(spark, path).last._2))
  }

  test("commits() serves from markers: no data read, equals the column scan; destructive actions fall back") {
    val path = freshPath()
    val t = KeyedTable(KeyedTableSpec(
      path, keyCols = Seq("id"), precombineCol = "v",
      partitionCols = Seq("day")))
    // MIXED id formats: lexicographic sort must agree on both paths.
    t.upsert(spark, rows(1 -> 10, 2 -> 20), commitTime = "c1")
    t.insert(spark, rows(3 -> 30), commitTime = "20990101000000000")
    t.compact(spark) // layout action: commit-preserving, marker-served
    val scanned = t.readRaw(spark)
      .select(org.apache.spark.sql.functions
        .col(KeyedTable.CommitTimeCol)).distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    assert(t.commits(spark) == scanned,
      "marker-served commits must equal the column scan")
    assert(t.latestCommit(spark).contains(scanned.last))
    // DELETE the table data entirely (markers live in the sibling
    // dir): the marker path must still answer — the deterministic
    // proof it reads zero data files.
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    assert(t.commits(spark) == scanned,
      "the marker path must answer with the data gone")
    // latestCommit gates on existence: an out-of-band table removal
    // (timeline dir surviving) reads as "no commits" to consumers.
    assert(t.latestCommit(spark).isEmpty,
      "latestCommit must report None for an externally-deleted table")
    // A history-destroying action (delete) falls back to the scan.
    val path2 = freshPath()
    val t2 = KeyedTable(KeyedTableSpec(
      path2, keyCols = Seq("id"), precombineCol = "v",
      partitionCols = Seq("day")))
    t2.upsert(spark, rows(1 -> 10, 2 -> 20), commitTime = "c1")
    t2.upsert(spark, rows(2 -> 21, 3 -> 30), commitTime = "c2")
    t2.delete(spark,
      spark.createDataFrame(Seq(Tuple1(1))).toDF("id"))
    val scanned2 = t2.readRaw(spark)
      .select(org.apache.spark.sql.functions
        .col(KeyedTable.CommitTimeCol)).distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    assert(t2.commits(spark) == scanned2,
      "a deleted-from table must reconstruct commits from data")
  }

  test("commit markers carry a file record; addedFilesSince replays it") {
    val path = freshPath()
    val t = KeyedTable(KeyedTableSpec(
      path, keyCols = Seq("id"), precombineCol = "v",
      partitionCols = Seq("day"), retainHistory = true))
    t.upsert(spark, rows(1 -> 10, 2 -> 20), commitTime = "c0")
    t.upsert(spark, rows(1 -> 11), commitTime = "c1")
    t.upsert(spark, rows(3 -> 30), commitTime = "c2")
    val markers = KeyedTable.timelineMarkers(spark, path)
    val records = markers.map(KeyedTable.commitFileRecord(spark, path, _))
    assert(records.forall(_.isDefined), "every mutator records its files")
    // MoR commits are pure appends: no removals, at least one added file,
    // and records are disjoint (each file belongs to exactly one commit).
    val added = records.flatten.map(_._1)
    assert(records.flatten.forall(_._2.isEmpty))
    assert(added.forall(_.nonEmpty))
    assert(added.flatten.distinct.length == added.flatten.length)
    // The index replays to exactly the post-boundary additions.
    assert(KeyedTable.addedFilesSince(spark, path, "c0").get.toSet ==
      (added(1) ++ added(2)).toSet)
    assert(KeyedTable.addedFilesSince(spark, path, "c2").get.isEmpty)
    assert(KeyedTable.addedFilesSince(spark, path, "nope").isEmpty,
      "an off-timeline boundary has no file answer")
  }

  /** Recursive data-file listing computed by the TEST (the reference
    * diff the scoped commit records must reproduce).
    */
  private def relFiles(path: String): Set[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Set.empty
    val prefix = fs.makeQualified(p).toUri.getPath + "/"
    val it = fs.listFiles(fs.makeQualified(p), true)
    val b = Set.newBuilder[String]
    while (it.hasNext) {
      val s = it.next()
      val rel = s.getPath.toUri.getPath.stripPrefix(prefix)
      if (!rel.split('/').exists(g => g.startsWith("_") || g.startsWith(".")) &&
        rel.endsWith(".parquet")) b += rel
    }
    b.result()
  }

  private def lastRecord(path: String): (Seq[String], Seq[String]) =
    KeyedTable.commitFileRecord(
      spark, path, KeyedTable.timelineMarkers(spark, path).last).get

  test("scoped write paths never full-list the table; records equal a full diff") {
    // The per-commit bookkeeping on the partitioned write paths must
    // scale with the BATCH (touched partition dirs), never the table: a
    // full recursive listing per commit is the write-side hazard Hudi's
    // metadata table exists to avoid. The counter pins the absence of
    // the listing; the diff-equality pins that scoping lost nothing.
    def day(d: String, ids: (Int, Int)*) =
      kv(ids: _*).withColumn("day", lit(d))
    val path = freshPath()
    val t = KeyedTable(KeyedTableSpec(
      path, keyCols = Seq("id"), precombineCol = "v",
      partitionCols = Seq("day")))
    t.upsert(spark, day("d1", 1 -> 10).union(day("d2", 2 -> 20))
      .union(day("d3", 3 -> 30)), commitTime = "c0") // bootstrap may list
    def check(label: String)(mutate: => Unit): Unit = {
      val pre = relFiles(path)
      val n0 = KeyedTable.fullListings.get()
      mutate
      assert(KeyedTable.fullListings.get() == n0,
        s"$label performed a full-table listing")
      val post = relFiles(path)
      val (a, r) = lastRecord(path)
      assert(a.toSet == (post -- pre) && r.toSet == (pre -- post),
        s"$label: scoped record != full diff")
    }
    check("COW merge upsert") {
      t.upsert(spark, day("d2", 2 -> 21, 4 -> 40), commitTime = "c1")
    }
    check("insert append") {
      t.insert(spark, day("d3", 5 -> 50), commitTime = "c2")
    }
    check("bulk-insert append") {
      t.bulkInsert(spark, day("d1", 6 -> 60), commitTime = "c3")
    }
    check("partition-scoped delete") {
      t.delete(spark, day("d3", 5 -> 0).select("id", "day"))
    }
    check("key-only delete (probe-scoped)") {
      t.delete(spark, kv(6 -> 0).select("id"))
    }
  }

  test("a one-partition upsert discovers only that partition's files") {
    // The counter above sees only the engine's own full listings; the
    // reader's file index lists through Spark. A schema probe through
    // `read` or a root scan pruned afterwards would discover every file
    // of the table, so count what the file indexes actually discover.
    import org.apache.spark.metrics.source.HiveCatalogMetrics
    val path = freshPath()
    val t = KeyedTable(KeyedTableSpec(
      path, keyCols = Seq("id"), precombineCol = "v",
      partitionCols = Seq("day")))
    val days = (0 until 40).map(d => f"d$d%02d")
    t.upsert(spark, spark.createDataFrame(days.zipWithIndex.map { case (d, i) => (i, 1, d) })
      .toDF("id", "v", "day"), commitTime = "c0")
    val target = relFiles(path).filter(_.startsWith("day=d07/"))
    assert(target.nonEmpty && relFiles(path).size >= 40)
    val n0 = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
    t.upsert(spark, kv(7 -> 2, 100 -> 1).withColumn("day", lit("d07")), commitTime = "c1")
    val discovered = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount - n0
    assert(discovered == target.size,
      s"upsert into one of 40 partitions discovered $discovered files; " +
        s"the partition holds ${target.size}")
    assert(t.read(spark).filter(col("day") === "d07").count() == 2)
  }

  test("partition dirs follow the writer's rendering: a timestamp-partitioned upsert keeps its rows") {
    // `Timestamp.toString` prints "10:30:00.0" where the parquet writer's
    // string cast prints "10:30:00": a directory named from the former
    // misses the partition, so the scoped scan would drop its rows and
    // the scoped record would miss its files.
    val path = freshPath()
    val t = KeyedTable(KeyedTableSpec(
      path, keyCols = Seq("id"), precombineCol = "v",
      partitionCols = Seq("at")))
    def at(ids: (Int, Int)*) =
      kv(ids: _*).withColumn("at", to_timestamp(lit("2024-03-07 10:30:00")))
    t.upsert(spark, at(1 -> 10, 2 -> 20), commitTime = "c0")
    val pre = relFiles(path)
    t.upsert(spark, at(2 -> 21, 3 -> 30), commitTime = "c1")
    assert(t.read(spark).select("id", "v").collect()
      .map(r => r.getInt(0) -> r.getInt(1)).toSet == Set(1 -> 10, 2 -> 21, 3 -> 30))
    val post = relFiles(path)
    val (a, r) = lastRecord(path)
    assert(a.nonEmpty && a.toSet == (post -- pre) && r.toSet == (pre -- post),
      "scoped record != full diff")
  }

  test("bloom file-path commit is writer-recorded: no listing, exact record") {
    def day(d: String, ids: (Int, Int)*) =
      kv(ids: _*).withColumn("day", lit(d))
    val path = freshPath()
    val t = KeyedTable(KeyedTableSpec(
      path, keyCols = Seq("id"), precombineCol = "v",
      partitionCols = Seq("day")))
    t.upsertBloomIndexed(spark,
      day("d1", 1 -> 10).union(day("d2", 2 -> 20)), commitTime = "c0")
    val pre = relFiles(path)
    val n0 = KeyedTable.fullListings.get()
    t.upsertBloomIndexed(spark, day("d2", 2 -> 21, 3 -> 30), commitTime = "c1")
    assert(KeyedTable.fullListings.get() == n0,
      "bloom upsert performed a full-table listing")
    val post = relFiles(path)
    val (a, r) = lastRecord(path)
    assert(a.toSet == (post -- pre) && r.toSet == (pre -- post),
      "bloom writer-supplied record != full diff")
    assert(KeyedTable.addedFilesSince(spark, path, "c0").get.toSet == a.toSet)
  }

  test("a rewrite commit records removals; the replay never dangles") {
    val path = freshPath()
    val t = KeyedTable(KeyedTableSpec(
      path, keyCols = Seq("id"), precombineCol = "v",
      partitionCols = Seq("day"), retainHistory = true))
    t.upsert(spark, rows(1 -> 10, 2 -> 20), commitTime = "c0")
    t.upsert(spark, rows(3 -> 30), commitTime = "c1")
    t.compact(spark) // rewrites every file: adds the compacted set, removes the old
    val markers = KeyedTable.timelineMarkers(spark, path)
    val (added, removed) =
      KeyedTable.commitFileRecord(spark, path, markers.last).get
    assert(added.nonEmpty && removed.nonEmpty)
    // Candidates since c0 = compact's output only (c1's file was removed);
    // every candidate exists on disk.
    val cands = KeyedTable.addedFilesSince(spark, path, "c0").get
    assert(cands.toSet == added.toSet)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    cands.foreach(f => assert(
      fs.exists(new org.apache.hadoop.fs.Path(s"$path/$f")), s"dangling $f"))
  }

  test("readIncremental plans over the delta files only, same answer") {
    val path = freshPath()
    val t = KeyedTable(KeyedTableSpec(
      path, keyCols = Seq("id"), precombineCol = "v",
      partitionCols = Seq("day"), retainHistory = true))
    t.upsert(spark, rows(1 -> 10, 2 -> 20), commitTime = "c0")
    t.upsert(spark, rows(1 -> 11, 3 -> 30), commitTime = "c1")
    val inc = t.readIncremental(spark, "c0")
    // Answer: the versions committed after c0.
    assert(inc.orderBy("id").collect().map(r =>
      (r.getAs[Int]("id"), r.getAs[Int]("v"))).toSeq == Seq(1 -> 11, 3 -> 30))
    // Plan: the scan's roots are exactly c1's files — never the table dir.
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val roots = inc.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
        case _ => Nil
      }
    }.flatten
    val c1Files = KeyedTable.addedFilesSince(spark, path, "c0").get
      .map(f => s"$path/$f").toSet
    assert(roots.nonEmpty)
    roots.foreach(r => assert(
      c1Files.exists(r.endsWith), s"scan root $r outside the delta set"))
  }

  test("a pruned COW incremental window matches the full-scan answer") {
    // COW upserts REWRITE touched partitions: the delta files then hold
    // old rows too, and the commit-time filter must settle membership.
    val path = freshPath()
    val t = KeyedTable(KeyedTableSpec(
      path, keyCols = Seq("id"), precombineCol = "v",
      partitionCols = Seq("day")))
    t.upsert(spark, rows(1 -> 10, 2 -> 20), commitTime = "c0")
    t.upsert(spark, rows(2 -> 21, 3 -> 30), commitTime = "c1") // rewrites d1
    val got = t.readIncremental(spark, "c0").orderBy("id").collect()
      .map(r => (r.getAs[Int]("id"), r.getAs[Int]("v"))).toSeq
    assert(got == Seq(2 -> 21, 3 -> 30),
      "rewritten-but-unchanged rows must not leak into the window")
  }

  test("action classes partition the vocabulary the mutators emit") {
    val emitted = Set("insert", "bulkinsert", "upsert", "compact",
      "cluster", "zorder", "evolve", "fold", "delete", "vacuum", "restore")
    val classed = KeyedTable.DataActions ++ KeyedTable.LayoutActions
    assert(KeyedTable.DataActions.intersect(KeyedTable.LayoutActions).isEmpty)
    // delete/vacuum/restore are deliberately UNclassed: unknown or
    // destructive actions must fall into the rebuild class by default.
    assert(classed.subsetOf(emitted))
    assert((emitted -- classed) == Set("delete", "vacuum", "restore"))
  }
}
