package graft.table

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, ByteType, DataType, DateType, DecimalType, DoubleType, FloatType, IntegerType, LongType, ShortType, StringType, StructType, TimestampNTZType, TimestampType}

import graft.schema.SchemaEvolution

/** Specification of a keyed, partitioned, upsertable table — the engine's
  * equivalent of the reference's Hudi copy-on-write table config
  * (glue-streaming-job-script/glue_job_script.py:50-62):
  *
  *   - `keyCols`        ≈ `hoodie.datasource.write.recordkey.field` (py:56)
  *   - `precombineCol`  ≈ `hoodie.datasource.write.precombine.field` (py:55)
  *   - `partitionCols`  ≈ `hoodie.datasource.write.partitionpath.field`
  *                        with hive-style encoding (py:57-58,70)
  *   - `tiebreakCols`     pins a total order when precombine values tie, so
  *                        results are deterministic (Hudi's tie-break is
  *                        arrival order — nondeterministic; SURVEY §7.4).
  *   - `globalKeys`       false ⇒ keys are scoped per partition path, like
  *                        Hudi's default (non-global) index; true ⇒ a key is
  *                        unique table-wide and an upsert relocates the row
  *                        to its new partition (Hudi GLOBAL_BLOOM).
  *   - `retainHistory`    false ⇒ copy-on-write: an upsert rewrites touched
  *                        partitions and superseded versions are gone (the
  *                        reference's COW config, py:54). true ⇒ merge-on-
  *                        read: an upsert is a pure APPEND of new row
  *                        versions (cheapest possible write — no index
  *                        probe, no partition rewrite, Hudi MOR's deltalog
  *                        idea), the merge to latest-per-key happens at
  *                        READ time, every version is retained so
  *                        [[KeyedTable.readAsOf]] can time-travel to any
  *                        commit, and [[KeyedTable.vacuum]] reclaims
  *                        superseded versions when history is no longer
  *                        needed (Hudi cleaning / Delta VACUUM).
  */
final case class KeyedTableSpec(
    path: String,
    keyCols: Seq[String],
    precombineCol: String,
    tiebreakCols: Seq[String] = Nil,
    partitionCols: Seq[String] = Nil,
    globalKeys: Boolean = false,
    retainHistory: Boolean = false)

/** One column's conjunctive range for column-stats file skipping: bounds
  * are SCALA-side values in the column's own external type (`Long`,
  * `String`, `java.sql.Timestamp`, `java.time.LocalDateTime`,
  * `java.sql.Date`, `java.math.BigDecimal`, …) usable in `lit()`, with
  * per-side inclusivity — strict bounds are carried as flags instead of
  * the ±1 integer trick, so every ORDERED type serves uniformly (the
  * Iceberg/Hudi column-stats model: min/max order is defined for dates,
  * timestamps, decimals and strings, not just integers). An absent side
  * is unbounded.
  */
final case class ColumnRange(
    column: String,
    lo: Option[Any], loInclusive: Boolean,
    hi: Option[Any], hiInclusive: Boolean) {
  /** An equality probe in range clothing (lo = hi, both inclusive) —
    * the advisor routes these to the point-lookup family.
    */
  def isPoint: Boolean =
    loInclusive && hiInclusive && lo.isDefined && lo == hi

  /** The range as one predicate: `lo` bounds `loSide`, `hi` bounds
    * `hiSide`. Rows pass `(col, col)`; over a stats row, a file that MAY
    * hold a match passes `(max, min)` and a file wholly inside passes
    * `(min, max)`. True when both sides are unbounded.
    */
  def within(loSide: Column, hiSide: Column): Column = {
    val loP = lo.map(v => if (loInclusive) loSide >= lit(v) else loSide > lit(v))
    val hiP = hi.map(v => if (hiInclusive) hiSide <= lit(v) else hiSide < lit(v))
    (loP.toSeq ++ hiP.toSeq).reduceOption(_ && _).getOrElse(lit(true))
  }
}

object ColumnRange {
  /** The legacy integral form: `column ∈ [lo, hi]`, both inclusive. */
  def inclusive(column: String, lo: Long, hi: Long): ColumnRange =
    ColumnRange(column, Some(lo), loInclusive = true,
      Some(hi), hiInclusive = true)
}

/** Keyed upsert table over hive-partitioned Parquet.
  *
  * Re-expresses the reference's Hudi COW upsert sink (glue_job_script.py:
  * 105-109) as a composition of Spark builtins, per SURVEY §2 O10-O12:
  *
  *   1. in-batch precombine dedup — `row_number() OVER (PARTITION BY key
  *      ORDER BY precombine DESC, tiebreak DESC) = 1` (Hudi "precombine",
  *      py:55);
  *   2. merge — read only the *affected* partitions of the existing table
  *      (partition-pruned scan), `LEFT ANTI` join out the rows being
  *      replaced, union with the batch;
  *   3. copy-on-write — `INSERT OVERWRITE` with
  *      `spark.sql.sources.partitionOverwriteMode=dynamic`, so only touched
  *      partitions are rewritten (the Spark-native analogue of COW's
  *      file-level rewrite; cheaper: partition-level, not table-level).
  *
  * Scale notes (100 TB): the anti-join shuffles only `affected partitions ∪
  * batch`, not the whole table; partition pruning happens at the parquet
  * scan via an `IN`-list predicate on partition columns, so a 1000-executor
  * cluster reads just the touched directories. The driver-side collect is
  * bounded by the number of *distinct partition tuples in the batch* (small
  * by construction — a micro-batch touches few days/names), never by row
  * count. With AQE on, the anti-join broadcasts whichever side is small.
  *
  * Atomicity caveat (SURVEY §7.4): dynamic partition overwrite is atomic per
  * partition directory, not per job — a concurrent reader mid-write can see
  * partial state. Hudi solves this with a timeline; acceptable locally and
  * documented for cluster use (front with a manifest/table format).
  */
final class KeyedTable(val spec: KeyedTableSpec) {
  import KeyedTable._

  private def fs(spark: SparkSession) =
    new Path(spec.path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The one commit protocol every mutator runs — a keyed Hudi
    * copy-on-write commit on the timeline, reduced to four steps:
    *   1. refuse a commit id already on the timeline, BEFORE any data is
    *      written (recordTimeline re-checks post-write, but failing there
    *      would leave data without a marker);
    *   2. take the pre-write snapshot of `scope` (see [[CommitScope]]),
    *      handed to `write` as (table-relative file → bytes);
    *   3. run `write`, which lands the data through one of the four write
    *      shapes ([[appendViaStaging]], [[overwritePartitions]],
    *      [[replaceFiles]], [[rewriteViaTmp]]) and retires the per-file
    *      sidecars ([[retireFileSidecars]]) before its files land;
    *   4. after it succeeds, record the written schema and drop the
    *      timeline marker with the commit's file record — LAST, so a
    *      marker always denotes a durable commit (a crashed write leaves
    *      no marker; derived state then sees no change, which is the
    *      correct reading of a write that never happened).
    */
  private def commit(
      spark: SparkSession, commitTime: String, action: String,
      scope: CommitScope)(write: Map[String, Long] => Landed): Unit = {
    require(!KeyedTable.timelineMarkers(spark, spec.path)
      .exists(m => KeyedTable.markerCommit(m) == commitTime),
      s"commit id '$commitTime' is already on the timeline of " +
        s"${spec.path}; every commit needs a distinct id")
    def listed(): Option[Map[String, Long]] = scope match {
      case WholeTable          => Some(relDataFiles(spark))
      case PartitionDirs(dirs) => Some(relDataFilesUnder(spark, dirs))
      case _                   => None
    }
    val before = listed()
    val landed = write(before.getOrElse(Map.empty))
    landed.schema.foreach(recordSchema(spark, _))
    val record = scope match {
      case WriterRecord => Some(landed.record)
      case Unrecorded   => None
      case _ =>
        val (b, a) = (before.get.keySet, listed().get.keySet)
        Some(((a -- b).toSeq, (b -- a).toSeq))
    }
    KeyedTable.recordTimeline(spark, spec.path, commitTime, action, record)
  }

  def exists(spark: SparkSession): Boolean = {
    val p = new Path(spec.path)
    val f = fs(spark)
    f.exists(p) && f.listStatus(p).nonEmpty
  }

  // ---- table schema sidecar -------------------------------------------
  // The evolved schema is recorded in `_graft_schema.json` under the table
  // path at every commit — the engine's analogue of Hudi persisting the
  // writer schema in each commit's timeline metadata. Reading with this
  // explicit schema (a) avoids parquet footer merging, which at 100 TB
  // lists and reads every file's footer on the driver, and (b) survives
  // numeric type drift: partitions written before a widening keep their
  // narrow files, and Spark's parquet reader widen-reads int32→{int,long,
  // double} and float→double into the recorded wider type. The leading
  // underscore keeps the sidecar invisible to data-file listings.

  private def sidecarPath = new Path(spec.path, "_graft_schema.json")

  private[table] def sidecarSchema(spark: SparkSession): Option[org.apache.spark.sql.types.StructType] = {
    val f = fs(spark)
    if (!f.exists(sidecarPath)) None
    else {
      val in = f.open(sidecarPath)
      try Some(org.apache.spark.sql.types.DataType
        .fromJson(new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
        .asInstanceOf[org.apache.spark.sql.types.StructType])
      finally in.close()
    }
  }

  /** Merge `written` into the recorded table schema (field union; drifted
    * common fields take [[SchemaEvolution.widenType]]; everything nullable —
    * evolution null-fills) and persist it via [[Staging.replaceFile]] —
    * unless the sidecar FILE already holds exactly that schema, the common
    * case of a batch that adds no column. A schema seeded from the parquet
    * footers never counts as a match: the sidecar is absent then (a static
    * overwrite or a rewrite deleted it) and must be written.
    */
  private def recordSchema(spark: SparkSession, written: org.apache.spark.sql.types.StructType): Unit = {
    import org.apache.spark.sql.types.StructField
    val recorded = sidecarSchema(spark)
    // Legacy table written before the sidecar existed: seed the merge from
    // the on-disk footers (one-time cost), so recording a NARROW batch's
    // schema can't shrink the table schema and silently hide columns.
    val prior = recorded.orElse(
      if (exists(spark))
        scala.util.Try(
          spark.read.option("mergeSchema", "true").parquet(spec.path).schema).toOption
      else None)
    val merged = prior match {
      case None => StructType(written.fields.map(_.copy(nullable = true)))
      case Some(old) =>
        val byName = written.fields.map(f => f.name -> f).toMap
        val kept = old.fields.map { f =>
          byName.get(f.name) match {
            case Some(nf) if nf.dataType != f.dataType =>
              StructField(f.name, SchemaEvolution.widenType(f.dataType, nf.dataType))
            case _ => f.copy(nullable = true)
          }
        }
        val oldNames = old.fieldNames.toSet
        StructType(kept ++ written.fields.filterNot(f => oldNames(f.name)).map(_.copy(nullable = true)))
    }
    if (!recorded.contains(merged))
      Staging.replaceFile(fs(spark), sidecarPath, merged.json)
  }

  /** Can existing parquet files recorded as `from` be read under a schema
    * widened to `to` without rewriting them? Matches Spark 4's vectorized
    * reader promotions (int32-physical → int/long/double, float → double);
    * notably NOT long→double and NOT anything→string. The promotion is
    * per parquet LEAF, so containers recurse when the shape is unchanged
    * (pinned by WidenProbeSpec): a drifted leaf inside a struct/array/map
    * stays widen-readable and the commit needn't rewrite the table.
    */
  private def parquetWidenReadable(
      from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (a, b) if a == b                                     => true
      case (StructType(af), StructType(bf))
          if af.length == bf.length &&
            af.map(_.name).sameElements(bf.map(_.name)) =>
        af.zip(bf).forall { case (fa, fb) =>
          parquetWidenReadable(fa.dataType, fb.dataType)
        }
      case (ArrayType(ae, _), ArrayType(be, _))                 =>
        parquetWidenReadable(ae, be)
      case (MapType(ak, av, _), MapType(bk, bv, _))             =>
        parquetWidenReadable(ak, bk) && parquetWidenReadable(av, bv)
      case (ByteType | ShortType | IntegerType,
            ShortType | IntegerType | LongType | DoubleType)    => true
      case (FloatType, DoubleType)                              => true
      case _                                                    => false
    }
  }

  /** True when `batch`'s drift against the recorded schema would leave
    * existing files unreadable under the widened schema — the commit must
    * then rewrite the whole table (rare: a non-numeric type conflict).
    */
  private def driftNeedsRewrite(
      current: org.apache.spark.sql.types.StructType,
      batch: org.apache.spark.sql.types.StructType): Boolean = {
    val cur = current.fields.map(f => f.name -> f.dataType).toMap
    batch.fields.exists { f =>
      cur.get(f.name).exists { t =>
        t != f.dataType &&
          !parquetWidenReadable(t, SchemaEvolution.widenType(t, f.dataType))
      }
    }
  }

  /** Raw on-disk frame incl. meta columns, read with the recorded sidecar
    * schema when present (no footer merging); `mergeSchema` fallback for
    * tables written before the sidecar existed.
    */
  def readRaw(spark: SparkSession): DataFrame = {
    val schemaOpt = sidecarSchema(spark) // one sidecar read, however many gens
    def rd(path: String) = (schemaOpt match {
      case Some(s) => spark.read.schema(s)
      case None    => spark.read.option("mergeSchema", "true")
    }).option("basePath", path).parquet(path)
    val base = rd(spec.path)
    // Evolved layouts: union the generation dirs (each recovers its own
    // hive partition values against its own basePath; the shared sidecar
    // schema aligns columns). Root scans never see them — '_'-prefixed.
    val f = fs(spark)
    val gens = layoutGens(spark)
      .map { case (n, _) => genDirStr(n) }
      .filter(d => f.exists(new Path(d)) && f.listStatus(new Path(d)).nonEmpty)
    gens.map(rd).foldLeft(base)(
      _.unionByName(_, allowMissingColumns = true))
  }

  /** Raw frame over an explicit table-relative file list (the commit→
    * files index's candidate set, a scoped commit's pre-write listing):
    * sidecar schema + basePath partition recovery — [[readRaw]] semantics
    * without the directory listing.
    */
  private[graft] def readFilesRaw(
      spark: SparkSession, rel: Seq[String]): DataFrame = {
    val rd = spark.read.option("basePath", spec.path)
    (sidecarSchema(spark) match {
      case Some(s) => rd.schema(s)
      case None    => rd.option("mergeSchema", "true")
    }).parquet(rel.map(r => s"${spec.path}/$r"): _*)
  }

  /** The schema a root scan resolves to under the recorded sidecar `s`:
    * the parquet reader puts the discovered hive partition columns after
    * the data columns, in directory order (`spec.partitionCols`).
    */
  private def readerSchema(
      s: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType = {
    val parts = spec.partitionCols.toSet
    org.apache.spark.sql.types.StructType(
      s.filterNot(f => parts(f.name)) ++ spec.partitionCols.flatMap(c => s.find(_.name == c)))
  }

  /** The raw frame restricted to the files that can hold rows committed
    * after `sinceCommit`, driven by timeline-marker CONTENT alone — the
    * scan plans over O(delta files) with no table listing at all (what
    * Hudi's metadata table buys its incremental reader). None → the
    * caller full-scans; an empty candidate set short-circuits to an
    * empty frame (the optimizer collapses the false filter to a local
    * relation, so not even the pruned scan runs).
    */
  private def prunedRawSince(
      spark: SparkSession, sinceCommit: String): Option[DataFrame] =
    try KeyedTable.addedFilesSince(spark, spec.path, sinceCommit).map { files =>
      if (files.isEmpty) readRaw(spark).filter(lit(false))
      else readFilesRaw(spark, files)
    } catch {
      // A marker vanishing under a concurrent writer, a permission
      // hiccup — the index is an optimization, never a gate.
      case scala.util.control.NonFatal(_) => None
    }

  /** Merge-on-read resolve: latest version per key; an exact
    * precombine+tiebreak tie goes to the later commit (matching the COW
    * merge's incoming-wins rule, where the later write prevails).
    */
  private def resolveLatest(df: DataFrame): DataFrame =
    dedupLatest(df, extraOrder = Seq(commitOrderCol(df.sparkSession).desc))

  /** The column an exact (precombine, tiebreaks) tie breaks on: "the
    * later COMMIT wins". The commit-time string orders commits only
    * while the timeline's ids sort consistently as strings; under mixed
    * id formats the tie-break maps each id to its timeline SEQUENCE
    * instead (small broadcast map; ids absent from the timeline rank
    * lowest, matching desc-nulls-last). Consistent tables — every
    * default-id table — keep the plain column, so the resolve window's
    * shape (and the MV rule matching it) is unchanged there.
    */
  private def commitOrderCol(spark: SparkSession): Column =
    commitOrderColFor(spark, col(CommitTimeCol))

  /** [[commitOrderCol]] over an arbitrary commit-time column — the
    * record-level index stores each entry's commit id under its own name
    * and resolves entries with the same ordering the data resolve uses.
    */
  private def commitOrderColFor(spark: SparkSession, ct: Column): Column = {
    // Only DATA-action ids ever appear in the commit-time column, so
    // only their mutual order matters — a service commit's generated id
    // between "c0"-style data ids must not force the mapped path (which
    // would also change the resolve window's shape and decline MV
    // serving).
    val ids = KeyedTable.timelineMarkers(spark, spec.path)
      .filter(m => KeyedTable.DataActions.contains(KeyedTable.markerAction(m)))
      .map(KeyedTable.markerCommit)
    if (ids.isEmpty || ids == ids.sorted) ct
    else element_at(typedLit(ids.zipWithIndex.toMap), ct)
  }

  /** Timeline-order-aware boundary predicates on the commit-time column
    * (same rationale as [[readStateDelta]]'s): the cheap range compare
    * when the timeline's ids sort consistently as strings; membership
    * in the timeline-ordered prefix otherwise. One listing, shared by
    * both directions; a boundary id not on the timeline falls back to
    * the range predicate (pre-timeline callers).
    */
  private def commitBoundary(spark: SparkSession): String => (Column, Column) = {
    val ids = KeyedTable.timelineMarkers(spark, spec.path)
      .map(KeyedTable.markerCommit)
    val consistent = ids == ids.sorted
    (c: String) => {
      val i = ids.lastIndexOf(c)
      if (consistent || i < 0)
        (col(CommitTimeCol) <= c, col(CommitTimeCol) > c)
      else {
        // Membership on the SUFFIX (commits after the boundary): a row id
        // absent from the timeline can only be pre-timeline (every mutator
        // records a marker), so it ranks BEFORE every boundary — a prefix
        // test would instead classify it as after, dropping it from
        // timeTravel and double-counting it in every incremental window.
        val suffix = ids.drop(i + 1).distinct
        (!col(CommitTimeCol).isin(suffix: _*),
          col(CommitTimeCol).isin(suffix: _*))
      }
    }
  }

  /** User-facing view: meta columns stripped, mirroring the reference's drop
    * of the five `_hoodie_*` columns (glue_job_script.py:87-88). On a
    * `retainHistory` table this is the merge-on-read point: the stored
    * versions resolve to latest-per-key in one window pass (the read-side
    * cost MOR trades for its append-only writes).
    */
  def read(spark: SparkSession): DataFrame = {
    // Register the spec for the point-lookup rewrite: every plan the
    // rule could serve flows through this read, so the registry is warm
    // by construction. Evolved tables are excluded naturally — their
    // scans root at generation dirs, never at this path.
    KeyedTable.specRegistry.put(
      MaterializedView.qualify(spark, spec.path), spec)
    val raw = readRaw(spark)
    // Evolved tables resolve like merge-on-read even in COW mode: their
    // writes are generation APPENDS, superseded rows die at read time.
    SchemaEvolution.dropSystemColumns(
      if (spec.retainHistory || isEvolved(spark)) resolveLatest(raw) else raw)
  }

  /** Time travel — the table as it stood after `commit`: latest version
    * per key among versions committed at or before it. Requires
    * `retainHistory` (copy-on-write drops superseded versions, so there
    * is no history to travel to — asking is an error, not a wrong
    * answer). The commit-time filter is an ordinary pushed predicate;
    * with commit time in `partitionCols` it would prune files too.
    */
  def readAsOf(spark: SparkSession, commit: String): DataFrame = {
    require(
      spec.retainHistory,
      "time travel requires retainHistory=true; a copy-on-write table has no superseded versions")
    SchemaEvolution.dropSystemColumns(
      resolveLatest(readRaw(spark).filter(commitBoundary(spark)(commit)._1)))
  }

  /** Z-order clustering — the multi-column layout [[cluster]] can't give:
    * lexicographic sort on (a, b) yields tight file ranges for `a` but
    * every file spans all of `b`, so only `a`-predicates skip files.
    * Interleaving the bits of both columns' 16-bit quantized ranks (the
    * Morton curve; Delta's ZORDER BY does the same rank-then-interleave)
    * makes each file a small rectangle in (a, b) space: range predicates
    * on EITHER column prune files (ZOrderSpec measures both, against the
    * lexicographic baseline). Quantization bounds come from two bounded
    * driver-side aggregates; the spread/interleave is plain shift/mask
    * arithmetic on built-in expressions — whole-stage codegen, no UDF.
    * Hive partition columns still lead the range so directories stay
    * contiguous. Rows/schema/commit times unchanged, like [[cluster]].
    */
  def clusterZOrder(
      spark: SparkSession,
      cols: Seq[String],
      targetFileBytes: Long = 128L << 20): Unit = {
    notEvolvedGuard(spark, "z-order clustering")
    require(cols.length >= 2, "z-order clustering interleaves two or more columns")
    if (!exists(spark)) return
    val all = readRaw(spark)
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).cast("long"), max(col(c)).cast("long")))
    val Array(b) = all.agg(aggs.head, aggs.tail: _*).collect()
    if (b.isNullAt(0)) return // existing-but-empty table: nothing to lay out
    // Every column must rank: an all-null or non-numeric column (string
    // cast("long") = null) would otherwise surface as a bare driver NPE
    // on the bounds row, far from the bad column name.
    cols.zipWithIndex.foreach { case (c, i) =>
      require(!b.isNullAt(2 * i) && !b.isNullAt(2 * i + 1),
        s"z-order column '$c' has no numeric min/max (all null, or not " +
          "castable to long) — z-order columns must be numeric-rankable")
    }
    // Per-column rank, min–max scaled to `bits` bits of resolution
    // (16 for two columns — plenty for file-level skipping; fewer as the
    // column count grows so the interleave stays inside a long).
    val n = cols.length
    require(n <= 31,
      s"z-order over $n columns leaves under 2 bits of rank resolution " +
        "per column inside a 64-bit key; cluster on fewer columns")
    val bits = math.min(16, 62 / n)
    val maxRank = (1L << bits) - 1
    def bucket(c: Column, lo: Long, hi: Long): Column =
      if (hi == lo) lit(0L)
      else floor((c.cast("double") - lit(lo.toDouble)) * maxRank.toDouble /
        (hi.toDouble - lo.toDouble)).cast("long")
    // Classic two-column bit-spread (8 ops/column); the N-column general
    // form places bit j of column i at position j·n + i with one
    // shift-mask-shift term per bit — more expression nodes, same
    // whole-stage codegen.
    def spread16(c: Column): Column = {
      val s1 = c.bitwiseOR(shiftleft(c, 8)).bitwiseAND(lit(0x00FF00FFL))
      val s2 = s1.bitwiseOR(shiftleft(s1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
      val s3 = s2.bitwiseOR(shiftleft(s2, 2)).bitwiseAND(lit(0x33333333L))
      s3.bitwiseOR(shiftleft(s3, 1)).bitwiseAND(lit(0x55555555L))
    }
    def spreadN(r: Column, i: Int): Column =
      (0 until bits).map { j =>
        shiftleft(shiftright(r, j).bitwiseAND(lit(1L)), j * n + i)
      }.reduce(_ bitwiseOR _)
    val ranks = cols.zipWithIndex.map { case (c, i) =>
      bucket(col(c), b.getLong(2 * i), b.getLong(2 * i + 1))
    }
    val z =
      if (n == 2)
        spread16(ranks(0)).bitwiseOR(shiftleft(spread16(ranks(1)), 1))
      else
        ranks.zipWithIndex.map { case (r, i) => spreadN(r, i) }
          .reduce(_ bitwiseOR _)
    val zc = "_graft_zkey"
    val order = spec.partitionCols.map(col) :+ col(zc)
    rewriteViaTmp(spark, "zorder") { files =>
      all.withColumn(zc, z)
        .repartitionByRange(filePartsFor(files, targetFileBytes), order: _*)
        .sortWithinPartitions(order: _*)
        .drop(zc)
    }
  }

  /** Output file count for a layout rewrite of `files` (file → bytes):
    * their data volume over the target file size (the clustering plan's
    * small-file sizing).
    */
  private def filePartsFor(files: Map[String, Long], targetFileBytes: Long): Int =
    math.max(1, math.ceil(files.values.sum.toDouble / targetFileBytes).toInt)

  /** [[KeyedTable.dataFilesUnder]] over the whole table. */
  private def listDataFiles(spark: SparkSession): Seq[(String, FileStatus)] = {
    KeyedTable.fullListings.incrementAndGet() // test-pinned: hot write paths must not call this
    KeyedTable.dataFilesUnder(fs(spark), new Path(spec.path))
  }

  // Column-stats index sidecar (Hudi metadata-table `column_stats`): one
  // row per data file with min/max of the indexed columns. The leading
  // underscore keeps data scans from listing it as table data.
  private val ColStatsDirName = "_graft_colstats"
  private def colStatsDir = s"${spec.path}/$ColStatsDirName"

  // Retired column-stats cache: the previous sidecar, moved aside (not
  // deleted) by the file-set-changing write paths so the NEXT
  // [[recordColumnStats]] can carry the surviving files' rows and scan
  // only the files it has never seen. Never read by any serving path —
  // the exists ⇒ current invariant stays on `colStatsDir` alone.
  private def staleStatsDir = s"${spec.path}/_graft_colstats_stale"

  /** Retire the column-stats sidecar ahead of a file-set change: move it
    * to [[staleStatsDir]] (replacing any older cache — the newest covers
    * the most current files) so the next [[recordColumnStats]] rebuilds
    * INCREMENTALLY. The serving invariant is untouched: `colStatsDir` is
    * gone before the data write lands, exactly as the old delete, so a
    * crash mid-write leaves stale-absent (readers full-scan, correct).
    * The cache is sound to carry from because a per-file stats row is
    * immutable — data files are never modified in place, and every write
    * stamps fresh part-file names, the same file-identity-by-relative-
    * path assumption the commit records' pre/post listing diffs already
    * rely on; a carried row is kept only while its file is still listed.
    * Falls back to a plain delete when the rename fails (cross-FS, race)
    * — losing the cache only costs the next build a full scan.
    */
  private def retireColumnStats(f: FileSystem): Unit = {
    val cur = new Path(colStatsDir)
    if (f.exists(cur)) {
      f.delete(new Path(staleStatsDir), true)
      if (!f.rename(cur, new Path(staleStatsDir))) f.delete(cur, true)
    }
  }

  /** Every file-set change invalidates the per-file sidecars: appended
    * files would be invisible to the column-stats prune and the bloom
    * probe (silent false negatives, missed merges), replaced files would
    * dangle as candidates. Each write shape calls this once, BEFORE any
    * of its files lands in the table (after staging them, where it
    * stages), so a crash between the two leaves them stale-absent
    * (readers full-scan, the next indexed upsert rebuilds — correct) and
    * never stale-present (the one wrong state). Column stats are retired to a cache
    * ([[retireColumnStats]]) so the next build scans only the new files;
    * the bloom index is deleted. A full rewrite ([[rewriteViaTmp]])
    * drops both with the old directory instead.
    */
  private def retireFileSidecars(f: FileSystem): Unit = {
    retireColumnStats(f)
    f.delete(new Path(bloomDir), true)
  }

  // ---- bloom record-key index (Hudi BLOOM index) -----------------------
  // One row per data file: the SET BIT POSITIONS of a bloom filter over the
  // file's record keys, stored as a sorted int array — a bloom filter
  // expressed relationally, so both build (groupBy file + collect_set) and
  // probe (exploded-positions join) are plain codegen'd operators, no UDF
  // and no custom binary format. Hudi keeps the same structure in parquet
  // footers / its metadata table `bloom_filters` partition; the point is
  // identical: an upsert's index lookup touches metadata (file count ×
  // ~k·keys ints), never table data.
  private val BloomDirName = "_graft_bloom"
  private def bloomDir = s"${spec.path}/$BloomDirName"

  /** (bits m, hashes k). Defaults suit ~10⁴ keys/file (fpp ≈ 1e-4 at
    * 5·10⁴ set bits of 2¹⁸); size m ≈ 1.44·k·keys-per-file upward for
    * bigger file groups — an undersized bloom only costs false-positive
    * file reads, never correctness.
    */
  private def bloomConf(spark: SparkSession): (Int, Int) = (
    spark.conf.get("spark.graft.bloom.bits", (1 << 18).toString).toInt,
    spark.conf.get("spark.graft.bloom.hashes", "5").toInt)

  /** The k bloom positions of a record key: k seeded xxhash64 draws mod m.
    * Duplicate positions within a draw are harmless (the probe counts
    * matched probe rows, so duplicates can only ADD false positives,
    * never false negatives).
    */
  private def bloomPositions(key: Column, m: Int, k: Int): Column =
    transform(sequence(lit(0), lit(k - 1)),
      i => pmod(xxhash64(i, key), lit(m.toLong)).cast("int"))

  // `file` is stored TABLE-RELATIVE like every other sidecar (stats,
  // RLI, commit records): the index must survive a table move /
  // restore-from-snapshot byte-copy, where a stored absolute path would
  // resolve to the source tree. Relativization happens AFTER the
  // groupBy, on the file-count-sized result, not per data row.
  private def bloomRowsFor(df: DataFrame, m: Int, k: Int): DataFrame = {
    val spark = df.sparkSession
    val rootPrefix =
      fs(spark).makeQualified(new Path(spec.path)).toUri.getPath + "/"
    df.withColumn("file", input_file_name())
      .select(col("file"), explode(bloomPositions(col(RecordKeyCol), m, k)).as("pos"))
      .groupBy(col("file"))
      .agg(array_sort(collect_set(col("pos"))).as("bits"))
      .withColumn("file", KeyedTable.relPathUdf(rootPrefix)(col("file")))
      .withColumn("m", lit(m)).withColumn("k", lit(k))
  }

  /** Build/refresh the record-key bloom index: per data file, the bloom of
    * its `_graft_record_key`s, in ONE scan (groupBy `input_file_name`,
    * map-side partial collect_set). Row count = file count — metadata-
    * sized. [[upsertBloomIndexed]] maintains it incrementally afterwards.
    */
  def recordBloomIndex(spark: SparkSession): Unit = {
    if (!exists(spark)) return
    val (m, k) = bloomConf(spark)
    publishSidecar(spark, BloomDirName, bloomRowsFor(readRaw(spark), m, k).coalesce(1))
  }

  /** The index's candidate files for `batch`'s record keys,
    * TABLE-RELATIVE: (files whose
    * bloom may contain ≥1 batch key, total indexed files). The probe is
    * an exploded-positions equality join against the BROADCAST index —
    * each (key, position) probe row hash-matches at most one (file,
    * position) index row per file, a file qualifies when all k of a key's
    * probe rows hit — so the lookup is map-side over the batch and never
    * opens a data file. (A per-row `array_contains` over the bit arrays
    * would scan O(set bits) per key×file — the join is the scale shape.)
    * False positives cost a redundant file read; false negatives cannot
    * occur (every stored key set every one of its positions).
    */
  // NOT meta-conf-scoped: the upsert path probes with the DATA-SIZED
  // batch, which wants the session's full shuffle parallelism — only
  // the lookup-sized wrapper below narrows the conf.
  /** The bloom index frame, FORMAT-CHECKED: a sidecar persisted by a
    * pre-relative-path build stored ABSOLUTE file URIs, which the
    * table-relative consumers would mis-resolve (prefixing spec.path
    * onto an absolute entry) and the maintenance carry-over filter
    * would never match (leaving stale rows behind). Detected by
    * inspecting one entry — a table-relative path never starts with
    * '/' and never carries a scheme — and a legacy index is REBUILT in
    * place: one table scan, the same cost its first build paid,
    * amortized once per migrated table.
    */
  /** One aggregate serves the legacy-format check (first entry's file
    * rendering), the index's stored (m, k) and the indexed-file count —
    * previously three separate actions per bloom probe.
    */
  private def bloomHeadAgg(idx: DataFrame): org.apache.spark.sql.Row =
    idx.agg(
      first(col("file")).as("f0"), first(col("m")).as("m0"),
      first(col("k")).as("k0"), count(lit(1)).as("n")).collect()(0)

  private[graft] def bloomCandidateFiles(
      spark: SparkSession, batch: DataFrame): (Seq[String], Int) = {
    var idx = spark.read.parquet(bloomDir)
    var h = bloomHeadAgg(idx)
    if (h.getLong(3) > 0L) {
      val f0 = h.getString(0)
      // Legacy = rooted ('/...') or scheme-qualified ('file:/...',
      // 'hdfs://...', 's3a://...'); a table-relative entry's first
      // segment is a partition dir or part-file name, never a scheme.
      // A legacy index is REBUILT in place: one table scan, the same
      // cost its first build paid, amortized once per migrated table.
      if (f0.startsWith("/") ||
        f0.matches("^[A-Za-z][A-Za-z0-9+.\\-]*:/.*")) {
        recordBloomIndex(spark)
        idx = spark.read.parquet(bloomDir)
        h = bloomHeadAgg(idx)
      }
    }
    if (h.getLong(3) == 0L) return (Nil, 0)
    val (m, k) = (h.getInt(1), h.getInt(2))
    val total = h.getLong(3).toInt
    val probes = batch.select(keyExpr.as("_graft_pk")).distinct()
      .select(col("_graft_pk"),
        explode(bloomPositions(col("_graft_pk"), m, k)).as("pos"))
    val idxBits = idx.select(col("file"), explode(col("bits")).as("pos"))
    val sel = probes.join(broadcast(idxBits), Seq("pos"))
      .groupBy(col("_graft_pk"), col("file")).count()
      .filter(col("count") === k)
      .select(col("file")).distinct()
      .collect().map(_.getString(0)).toSeq
    (sel, total)
  }

  /** Current data-file SIZES in bytes — advisor context only (one full
    * listing; hot write paths must not call this, see the
    * [[KeyedTable.fullListings]] pin).
    */
  private[graft] def dataFileSizes(spark: SparkSession): Seq[Long] =
    listDataFiles(spark).map(_._2.getLen)

  /** Current data files, TABLE-RELATIVE (the rendering commit markers
    * record — portable across schemes and across a table move), with
    * their sizes in bytes.
    */
  private def relDataFiles(spark: SparkSession): Map[String, Long] = {
    if (!fs(spark).exists(new Path(spec.path))) return Map.empty // bootstrap
    listDataFiles(spark).map { case (rel, st) => rel -> st.getLen }.toMap
  }

  /** [[relDataFiles]] restricted to the given table-relative partition
    * dirs — the commit-record listing for a partition-scoped write:
    * cost O(touched dirs' files), never O(table files). A dir that does
    * not exist yet (a new partition about to be written) contributes
    * nothing.
    */
  private def relDataFilesUnder(
      spark: SparkSession, dirs: Set[String]): Map[String, Long] = {
    val f = fs(spark)
    if (!f.exists(new Path(spec.path))) return Map.empty
    KeyedTable.dataFilesUnder(f, new Path(spec.path), dirs)
      .map { case (rel, st) => rel -> st.getLen }.toMap
  }

  /** Upsert through the bloom index at FILE granularity — Hudi's actual
    * copy-on-write write path (index probe → file groups → rewrite only
    * touched groups), one level finer than [[upsert]]'s partition-level
    * dynamic overwrite. Semantically identical to [[upsert]] (same
    * precombine merge, same read-back); physically, only files whose
    * bloom may contain an incoming key are read, merged, and replaced —
    * every other file keeps its bytes. At 100 TB that is the difference
    * between rewriting the handful of file groups a micro-batch touches
    * and rewriting every touched PARTITION (a hot day-partition can hold
    * thousands of file groups of which a batch updates three).
    *
    * Write sequence (crash-safe, stale-absent like the colstats rule):
    * surviving index rows are staged, the index goes ABSENT, merged rows
    * are APPENDED as new files (readers of the lazy plan still see the
    * old files), replaced files are deleted, then the staged rows union
    * the new files' blooms back into the index. A crash anywhere leaves
    * either a duplicate-free table with no index (next call rebuilds via
    * one scan) or — between append and delete — transient duplicate
    * versions that the NEXT merge's precombine collapses; never a
    * present-but-wrong index. Merged output is range-laid on record key
    * so file groups keep tight key ranges and the next probe stays
    * selective. Non-global keys only (rows never relocate partitions —
    * Hudi's plain BLOOM scope; GLOBAL_BLOOM's relocation stays on
    * [[upsert]]'s partition path).
    */
  def upsertBloomIndexed(
      spark: SparkSession, batch: DataFrame,
      commitTime: String = defaultCommitTime()): Unit = {
    require(!spec.retainHistory,
      "bloom-indexed upsert is a copy-on-write path; retainHistory tables append")
    require(!spec.globalKeys,
      "bloom-indexed upsert is partition-scoped (Hudi BLOOM); global keys " +
        "relocate rows across partitions — use upsert (GLOBAL_BLOOM scope)")
    val incoming = SchemaEvolution.dropSystemColumns(batch)
    currentUserSchema(spark) match {
      case None =>
        commit(spark, commitTime, "upsert", WholeTable) { _ =>
          writeOut(withMeta(dedupLatest(incoming), commitTime), SaveMode.Overwrite)
        }
        recordBloomIndex(spark)
      case Some(current) if driftNeedsRewrite(current, incoming.schema) =>
        // Non-widen-readable drift forces the one-off full rewrite anyway;
        // take the partition path (which records its own commit) and
        // rebuild the index after.
        upsert(spark, batch, commitTime)
        recordBloomIndex(spark)
      case Some(current) =>
        val f = fs(spark)
        if (!f.exists(new Path(bloomDir))) recordBloomIndex(spark)
        val aligned = SchemaEvolution.align(incoming, current)
        val alignedC = aligned.withColumn(CommitTimeCol, lit(commitTime))
        val (candRel, _) = bloomCandidateFiles(spark, aligned)
        val candRows =
          if (candRel.isEmpty) readRaw(spark).filter(lit(false))
          else readFilesRaw(spark, candRel)
        val existing = SchemaEvolution.align(
          candRows.drop(RecordKeyCol, PartitionPathCol), alignedC.schema)
        val combined = existing.withColumn(SrcCol, lit(0))
          .unionByName(alignedC.withColumn(SrcCol, lit(1)), allowMissingColumns = true)
        val merged = withMeta(
          dedupLatest(combined, extraOrder = Seq(col(SrcCol).desc)).drop(SrcCol),
          commitTime)
        val order = (spec.partitionCols :+ RecordKeyCol).map(col)

        // New-file rows are built with the INDEX's own (m, k), not the
        // session conf — a mixed-parameter index would turn probe
        // mismatches into bloom false negatives; to change parameters,
        // rebuild via recordBloomIndex.
        val head = spark.read.parquet(bloomDir)
          .select(col("m"), col("k")).limit(1).collect()
        val (m, k) =
          if (head.isEmpty) bloomConf(spark)
          else (head(0).getInt(0), head(0).getInt(1))
        // The next index is built in a stage: the surviving files' rows
        // first, then the file replace (which deletes the live index
        // before its files land — stale-absent from there on), then the
        // new files' rows, and the stage is published last. A crash
        // leaves no index (next use rebuilds with one scan), never a
        // partial one that is blind to the new files.
        commit(spark, commitTime, "upsert", WriterRecord) { _ =>
          Staging.replaceDir(f, new Path(spec.path), new Path(bloomDir), "bloom") { stage =>
            spark.read.parquet(bloomDir)
              .filter(!col("file").isInCollection(candRel))
              .coalesce(1).write.mode(SaveMode.Overwrite).parquet(stage.toString)
            val landed = replaceFiles(spark, candRel,
              merged.repartitionByRange(math.max(1, candRel.size), order: _*))
            val added = landed.record._1
            if (added.nonEmpty)
              bloomRowsFor(spark.read.schema(new StructType().add(RecordKeyCol, StringType))
                .parquet(added.map(r => s"${spec.path}/$r"): _*), m, k)
                .coalesce(1).write.mode(SaveMode.Append).parquet(stage.toString)
            landed
          }
        }
    }
  }

  // ---- record-level index (point lookups) ------------------------------
  // The exact-contains member of the index family (bloom = may-contain,
  // column stats = range): one row per LIVE key version mapping its
  // record key to the data file holding it — Hudi 0.14's record-level
  // index idea, stored relationally as a parquet sidecar. A point lookup
  // opens O(probe keys + post-build delta) files instead of probing every
  // file's bloom or scanning the table; at 100 TB that is the difference
  // between a key fetch and a table scan. Staleness is handled at
  // LOOKUP time through the commit→files index: files the index cannot
  // know about (added after its build boundary) are unioned into the
  // candidate set, files removed since are subtracted — a stale index is
  // never wrong, only less selective, and an unprovable delta falls back
  // to the full read. Every consumer of this index and of the secondary
  // indexes below reads its sidecar through one [[IndexView]].

  private val RliDirName = "_graft_rli"
  private def rliDir = s"${spec.path}/$RliDirName"

  /** The table-relative rendering of `input_file_name()` — the same
    * normalization the commit markers record, so index entries and
    * marker file records compare as equals.
    */
  private[table] def relFileExpr(spark: SparkSession): Column = {
    val root = fs(spark).makeQualified(new Path(spec.path)).toUri.getPath
    substring_index(input_file_name(), s"$root/", -1)
  }

  /** One index entry per LIVE row version for resolving tables (one per
    * stored row for plain COW): the record key, its resolve scope
    * (partition path — [[dedupLatest]]'s per-partition key scope), the
    * table-relative file holding it, and the full resolve ordering
    * (precombine, tiebreaks, commit id). Storing the ORDERING alongside
    * the location is what lets a stale index stay selective: a lookup
    * can settle "indexed version vs post-build version" relationally,
    * without opening either file.
    */
  private def rliEntryCols: Seq[Column] =
    Seq(
      col(KeyedTable.RecordKeyCol).as("key"),
      col(KeyedTable.PartitionPathCol).as("pp"),
      col("_graft_rel").as("file"),
      col(spec.precombineCol).as("pre"),
      col(KeyedTable.CommitTimeCol).as("ct")) ++
      spec.tiebreakCols.zipWithIndex.map { case (c, i) => col(c).as(s"tb_$i") } ++
      // TYPED partition values (`pv_<col>`) alongside the rendered path:
      // the rendered `pp` string is not invertible (no hive escaping, a
      // value containing '/' or '=' corrupts a parse), so consumers that
      // need partition VALUES — the grouped resolved count, the
      // retention measurement — read these instead. NOT in
      // [[rliRequiredCols]]: a pre-pv index keeps serving point lookups;
      // pv consumers decline on it until the next build/refresh
      // (refresh rebuilds on entry-schema drift).
      spec.partitionCols.map(c => col(c).as(s"pv_$c"))

  private def rliRequiredCols: Set[String] =
    Set("key", "pp", "file", "pre", "ct", "built_at") ++
      spec.tiebreakCols.indices.map(i => s"tb_$i")

  private def rliPvCols: Seq[String] = spec.partitionCols.map(c => s"pv_$c")

  /** Does this table's read resolve latest-per-key? (Mirrors
    * [[lookupResolve]] — the index must return the same rows a full
    * read would.)
    */
  private[table] def rliResolves(spark: SparkSession): Boolean =
    spec.retainHistory || isEvolved(spark)

  /** [[dedupLatest]]'s winner selection re-expressed over index ENTRIES:
    * one surviving entry per resolve scope, ordered exactly as the data
    * resolve orders rows — so resolving entries and resolving the rows
    * they point at always agree on the winner.
    */
  private[table] def rliResolveEntries(spark: SparkSession, entries: DataFrame): DataFrame = {
    val scope =
      if (spec.globalKeys) Seq(col("key")) else Seq(col("key"), col("pp"))
    val order = (col("pre") +: spec.tiebreakCols.indices.map(i => col(s"tb_$i")))
      .map(_.desc_nulls_last) :+ commitOrderColFor(spark, col("ct")).desc
    val w = Window.partitionBy(scope: _*).orderBy(order: _*)
    entries
      .withColumn("_graft_rli_rn", row_number().over(w))
      .filter(col("_graft_rli_rn") === 1)
      .drop("_graft_rli_rn")
  }

  /** Every index-sidecar publish — build and refresh, RLI and secondary —
    * goes through a [[Staging.replaceDir]] stage: a crash leaves either
    * the old index or none at all (lookups fall back to the full read),
    * never a partially-committed one whose surviving rows would claim the
    * new `built_at` and silently drop keys. The bloom and column-stats
    * sidecars publish the same way. `rows` come laid out as the sidecar
    * stores them.
    */
  private def publishSidecar(
      spark: SparkSession, dirName: String, rows: DataFrame): Unit = {
    val root = new Path(spec.path)
    Staging.replaceDir(fs(spark), root, new Path(root, dirName),
      dirName.stripPrefix("_graft_")) { tmp =>
      rows.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    }
  }

  /** Index entries hash-distributed on their probe column `dist`. */
  private def publishIndex(
      spark: SparkSession, dirName: String, entries: DataFrame, dist: Column): Unit =
    publishSidecar(spark, dirName, entries.repartition(4, dist))

  private def publishRli(spark: SparkSession, entries: DataFrame): Unit =
    publishIndex(spark, RliDirName, entries, col("key"))

  /** The `built_at` an index built now stamps. */
  private def timelineBoundary(spark: SparkSession): String =
    KeyedTable.boundaryOf(KeyedTable.timelineMarkers(spark, spec.path))

  /** Build the record-level index from one table scan: latest version
    * per key (the precombine resolve, so a history table indexes only
    * the version a lookup would return), keyed by `_graft_record_key`,
    * valued by the table-relative file holding it plus the entry's
    * resolve ordering. `built_at` records the timeline boundary the
    * index is current as of; lookups prove freshness against it via the
    * commit→files index. Row count is the live key count —
    * hash-distributed on key like Hudi's RLI metadata partition, and
    * never collected to the driver.
    */
  def recordKeyIndex(spark: SparkSession): Unit = {
    if (!exists(spark)) return
    val builtAt = timelineBoundary(spark)
    val entries = lookupResolve(
      spark, readRaw(spark).withColumn("_graft_rel", relFileExpr(spark)))
      .select(rliEntryCols: _*)
    publishRli(spark, entries.withColumn("built_at", lit(builtAt)))
  }

  /** Incremental index maintenance at O(delta), never O(table): entries
    * pointing at files a post-build commit removed are dropped (their
    * keys' surviving versions were re-added under that commit), the
    * post-build files' latest versions join as new entries, and — on a
    * resolving table — the union settles to ONE winner per resolve
    * scope via the stored ordering, so a refreshed index is entry-wise
    * equivalent to a rebuilt one and prunes identically. The boundary
    * advances to the last marker, making the next lookup's delta empty.
    * An unprovable delta (pre-index markers, evolved layout, an index
    * written under an older schema) rebuilds.
    */
  def refreshRecordKeyIndex(spark: SparkSession): Unit =
    refreshIndexSidecar(
      spark, RliDirName, rliEntryCols, rliRequiredCols, col("key"))(
      recordKeyIndex(spark))

  /** The incremental-maintenance skeleton shared by the record-level and
    * secondary indexes (their entries differ only in the extra columns
    * carried): the sidecar's [[IndexView.current]] entries, published
    * under the view's boundary. `rebuild` runs when the sidecar is
    * absent/foreign-schema or the delta is unprovable.
    */
  private def refreshIndexSidecar(
      spark: SparkSession, dirName: String, entryCols: Seq[Column],
      required: Set[String], dist: Column)(rebuild: => Unit): Unit = {
    val view = IndexView.open(spark, this, dirName, required)
      .getOrElse { rebuild; return }
    // Entry-schema drift (an index written before a column joined the
    // entry layout, e.g. the typed pv_ partition values) rebuilds: the
    // carried rows could not union with the delta's, and a mixed-schema
    // index would silently withhold the new columns from consumers.
    val expectedEntryCols = readRaw(spark).limit(0)
      .withColumn("_graft_rel", lit(""))
      .select(entryCols: _*).columns.toSet
    if (view.entries.columns.toSet != expectedEntryCols) { rebuild; return }
    if (view.fresh) return
    publishIndex(spark, dirName,
      view.current(entryCols, resolve = lookupResolve(spark, _))
        .withColumn("built_at", lit(view.boundary)), dist)
  }

  /** The record-level index as of the current timeline. */
  private def rliView(spark: SparkSession): Option[IndexView] =
    IndexView.open(spark, this, RliDirName, rliRequiredCols)

  /** The lookup's candidate file set for `probe` keys, or `None` when
    * the index is absent/unreadable or freshness cannot be proven (the
    * caller full-scans). The stale path stays SELECTIVE, not just
    * correct: post-build files are never unioned in wholesale — their
    * probe-key rows are read (key/ordering columns only, O(delta files)
    * with column pruning) and, on a resolving table, settled against
    * the indexed entries relationally, so the candidates are exactly
    * the files holding the rows the lookup will return. The collect is
    * O(probe keys + delta rows for those keys) — the point-lookup
    * contract; this is never the path for a large key set.
    */
  private[graft] def rliCandidateFiles(
      spark: SparkSession, probe: DataFrame): Option[Seq[String]] =
    KeyedTable.withMetaConf(spark) {
      try rliView(spark).map { view =>
        val probePk = probe.select(keyExpr.as("key")).distinct()
        view.current(rliEntryCols, _.join(broadcast(probePk), Seq("key")))
          .select(col("file")).distinct()
          .collect().map(_.getString(0)).toSeq
      } catch { case scala.util.control.NonFatal(_) => None }
    }

  /** The resolved (latest-per-key) row count served from the
    * record-level index, or `None` when the index is absent or its
    * staleness is unprovable — the serving half of
    * [[graft.plans.StatsAggregateRewrite]]'s MoR count arm: the row count
    * of [[settledWinnerEntries]]. On a resolving table the index stores
    * exactly ONE entry per live resolve scope ([[rliEntryCols]]), so its
    * row count IS the resolved count at `built_at`. Cost is O(index +
    * delta files), never O(table data): counting a 100 TB history
    * table's live keys reads the key/file index, not the data (and with
    * an empty delta it is a bare index count, no shuffle at all) — which
    * is why this deliberately does NOT run under [[withMetaConf]]'s
    * 8-partition squeeze: the index is key-count-sized, not
    * metadata-sized.
    */
  private[graft] def resolvedCount(spark: SparkSession): Option[Long] =
    try settledWinnerEntries(spark).map(_.count())
    catch { case scala.util.control.NonFatal(_) => None }

  /** Resolved (latest-per-key) row counts per FULL partition tuple,
    * served from the record-level index — the grouped twin of
    * [[resolvedCount]]. Requires the index to carry the TYPED partition
    * values (`pv_<col>`, recorded since the entry layout gained them —
    * older indexes decline until their next build/refresh); the
    * rendered `pp` string is deliberately never parsed. Same delta
    * reconciliation and cost shape as [[resolvedCount]]; the returned
    * tuples are external Scala values in `spec.partitionCols` order.
    */
  private[graft] def resolvedGroupCounts(
      spark: SparkSession): Option[Seq[(Seq[Any], Long)]] = {
    if (spec.partitionCols.isEmpty) return None
    try settledWinnerEntries(spark)
      .filter(settled => rliPvCols.forall(settled.columns.contains))
      .map(_.groupBy(rliPvCols.map(col): _*).count().collect()
        .map(r => (rliPvCols.indices.map(r.get), r.getLong(r.length - 1)))
        .toSeq)
    catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Every live resolve scope's WINNING entry (key, scope, table-
    * relative file, full resolve ordering), delta-reconciled to the
    * current timeline ([[IndexView.current]]; with an empty delta, the
    * stored entries as they are) — the classification input for serving
    * resolved aggregates beyond count(*): joined against the
    * column-stats sidecar it tells which files hold ONLY winners (their
    * stats fold) and which must scan. `None` when the index is absent,
    * not a resolving table, or staleness is unprovable. Cost O(index +
    * delta files), never table data.
    */
  private[graft] def settledWinnerEntries(
      spark: SparkSession): Option[DataFrame] = {
    if (!spec.retainHistory) return None
    try rliView(spark).map(view =>
      if (view.fresh) view.entries else view.current(rliEntryCols))
    catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Table-relative rendering of an ABSOLUTE-path column (the stats
    * sidecar's `file`), matching [[relFileExpr]]'s normalization so
    * sidecar rows and index entries compare as equals.
    */
  private[graft] def relOfFileCol(spark: SparkSession, c: Column): Column = {
    val root = fs(spark).makeQualified(new Path(spec.path)).toUri.getPath
    substring_index(c, s"$root/", -1)
  }

  /** The rows of `boundaryRel` files that ARE live winners: a left-semi
    * join against the settled entries on the FULL resolve identity
    * (key, scope, file, precombine, commit id, tiebreaks — the entry
    * stores the ordering precisely so this match needs no other file),
    * then the standard resolve window to settle exact-duplicate
    * identities (two stored rows identical in key AND ordering: the
    * data resolve keeps one, so must the serve). A row whose winner
    * lives in another file fails the join — a locally-latest superseded
    * version can never resurrect. Cost: O(boundary files' rows +
    * their entries).
    */
  private[graft] def winnerRowsOf(
      spark: SparkSession, boundaryRel: Seq[String],
      settled: DataFrame): DataFrame = {
    val data = readFilesRaw(spark, boundaryRel)
      .withColumn("_graft_rel", relFileExpr(spark))
    val eCols = Seq("key", "pp", "file", "pre", "ct") ++
      spec.tiebreakCols.indices.map(i => s"tb_$i")
    val e = settled.select(eCols.map(col): _*)
    val idPairs: Seq[(Column, Column)] = Seq(
      data(KeyedTable.RecordKeyCol) -> e("key"),
      data(KeyedTable.PartitionPathCol) -> e("pp"),
      data("_graft_rel") -> e("file"),
      data(spec.precombineCol) -> e("pre"),
      data(KeyedTable.CommitTimeCol) -> e("ct")) ++
      spec.tiebreakCols.zipWithIndex.map { case (c, i) =>
        data(c) -> e(s"tb_$i")
      }
    val cond = idPairs.map { case (l, r) => l <=> r }.reduce(_ && _)
    resolveLatest(data.join(e, cond, "left_semi")).drop("_graft_rel")
  }

  /** History partitions whose stored-version population is mostly
    * superseded — the measurement behind the advisor's RETENTION arm.
    * Total stored rows per partition come from the column-stats
    * sidecar (all-version per-file counts grouped by the recorded
    * partition tuple); live rows per partition from the record-level
    * index (one entry per live resolve scope, grouped by partition
    * path), admitted only while the index's commit delta is EMPTY (a
    * stale index would over- or under-state liveness). Returns `None`
    * when unmeasurable (unpartitioned, global keys, non-history, no
    * stats, no/stale/unreadable RLI); otherwise a frame of the
    * partition VALUES whose superseded fraction is ≥ `minRatio`, ready
    * for [[vacuumPartitions]]. Cost: one metadata-sized sidecar fold +
    * one index-sized groupBy — never table data.
    */
  private[graft] def supersededPartitions(
      spark: SparkSession, minRatio: Double): Option[DataFrame] = {
    if (!spec.retainHistory || spec.globalKeys || spec.partitionCols.isEmpty)
      return None
    val f = fs(spark)
    if (!f.exists(new Path(rliDir))) return None
    try {
      colStatsFrame(spark).flatMap { st =>
        val pCols = spec.partitionCols.map(c =>
          st.columns.find(_.equalsIgnoreCase(s"p_$c")))
        if (pCols.exists(_.isEmpty) || !st.columns.contains("cnt"))
          return None
        val idx = rliView(spark).filter(_.fresh).getOrElse(return None).entries
        val cap = spark.conf
          .get("spark.graft.partition.collect.max", "100000").toInt
        val totals = KeyedTable.withMetaConf(spark)(
          st.groupBy(pCols.flatten.map(col): _*)
            .agg(sum(col("cnt")).as("_total"))
            .limit(cap + 1).collect())
        if (totals.length > cap) return None // see collectPartitionTuples
        // ONLY the TYPED pv_ tuples measure live counts (exact match
        // against the stats p_ values). A pre-pv index has just the
        // rendered `pp` path string, which is NOT escape-safe: a
        // partition value containing '/' or '=' would mis-bucket live
        // counts, inflate a partition's superseded ratio past the
        // threshold, and let the advisor's vacuum erase history
        // versions beyond the user's opt-in — so the measurement
        // DECLINES until the index is rebuilt with pv_ columns, the
        // same refuse-don't-guess stance as every other serve gate.
        val nP = spec.partitionCols.length
        if (!rliPvCols.forall(idx.columns.contains)) return None
        val liveTyped: Map[Seq[Any], Long] =
          idx.groupBy(rliPvCols.map(col): _*).count().collect()
            .map(r => (rliPvCols.indices.map(r.get): Seq[Any]) ->
              r.getLong(r.length - 1)).toMap
        val doomed = totals.filter { row =>
          val total = if (row.isNullAt(nP)) 0L else row.getLong(nP)
          val lv = liveTyped.getOrElse((0 until nP).map(row.get), 0L)
          total > 0 && (total - lv).toDouble / total >= minRatio
        }
        val schema = org.apache.spark.sql.types.StructType(
          spec.partitionCols.zip(pCols.flatten).map { case (c, pc) =>
            org.apache.spark.sql.types.StructField(
              c, st.schema(st.schema.fieldIndex(pc)).dataType)
          })
        val rows = new java.util.ArrayList[org.apache.spark.sql.Row](
          doomed.length)
        doomed.foreach(r =>
          rows.add(org.apache.spark.sql.Row((0 until nP).map(r.get): _*)))
        Some(spark.createDataFrame(rows, schema))
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** The bloom index's candidate files for `probe` keys, TABLE-RELATIVE,
    * or `None` when the sidecar is absent/unreadable — the PROBABILISTIC
    * member of the lookup-candidate family. No freshness proof is
    * needed: the bloom sidecar follows the exists ⇒ current invariant
    * (every non-maintaining write path deletes it; only
    * [[upsertBloomIndexed]] carries it forward), so its answer covers
    * EVERY stored version of a probe key — false positives cost
    * redundant file reads, false negatives cannot occur. Evolved
    * layouts decline (their appends delete the sidecar anyway).
    */
  private[graft] def bloomRelCandidateFiles(
      spark: SparkSession, probe: DataFrame): Option[Seq[String]] = {
    val f = fs(spark)
    if (!f.exists(new Path(bloomDir)) || isEvolved(spark)) return None
    try {
      val (cands, total) =
        KeyedTable.withMetaConf(spark)(bloomCandidateFiles(spark, probe))
      if (total == 0) return None
      Some(cands) // stored table-relative
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** The lookup-candidate chain — the index FAMILY serving one probe:
    * exact record-level index first (winner files, O(probe + delta)),
    * the bloom sidecar second (all-version files, may-contain), `None`
    * last (the caller full-scans). Every member returns a file set whose
    * rows resolve to exactly the probe keys' latest state.
    */
  private[graft] def lookupCandidateFiles(
      spark: SparkSession, probe: DataFrame): Option[Seq[String]] =
    rliCandidateFiles(spark, probe)
      .orElse(bloomRelCandidateFiles(spark, probe))

  /** Whether a point probe through this table's index family is
    * file-bounded — i.e. whether the lookup-candidate chain has a member
    * to consult at all (`None` column: key probe, needs the RLI or the
    * bloom sidecar; `Some(c)`: non-key probe, needs `_graft_si_<c>` for
    * value→keys). Existence only, no sidecar reads: callers that would
    * otherwise trigger a plan-time lookup (e.g.
    * [[graft.plans.JoinPruneRewrite]]) gate on this so an absent index
    * degrades to "don't prune", never to a plan-time full scan.
    */
  private[graft] def hasPointIndexes(
      spark: SparkSession, column: Option[String]): Boolean = {
    val f = fs(spark)
    column match {
      case None =>
        f.exists(new Path(rliDir)) || f.exists(new Path(bloomDir))
      case Some(c) =>
        f.exists(new Path(new Path(spec.path), siDirName(c)))
    }
  }

  /** Point lookup through the index family: the latest state of every
    * row whose key appears in `keys` (a small frame holding the key
    * columns), reading only the candidate files — the record-level
    * index's winner files plus post-build delta when it serves, the
    * bloom index's may-contain files otherwise. Falls back to the full
    * merge ∘ semi-join when no index serves; every path returns
    * identical rows, the indexes only change which files open.
    * Non-probe rows sharing a candidate file are discarded by the
    * semi-join, so a partially-covered foreign key's resolve never
    * leaks a wrong version: the probe key's OWN latest version is
    * always in the candidate set (its indexed file if untouched since
    * build, a delta file otherwise; every one of its files under the
    * bloom).
    */
  def lookupKeys(spark: SparkSession, keys: DataFrame): DataFrame = {
    val probe = keys.select(spec.keyCols.map(col): _*).distinct()
    lookupCandidateFiles(spark, probe) match {
      case None =>
        read(spark).join(broadcast(probe), spec.keyCols, "left_semi")
      case Some(candidates) =>
        val rows =
          if (candidates.isEmpty) readRaw(spark).filter(lit(false))
          else readFilesRaw(spark, candidates)
        SchemaEvolution.dropSystemColumns(lookupResolve(spark, rows))
          .join(broadcast(probe), spec.keyCols, "left_semi")
    }
  }

  /** [[read]]'s resolve decision applied to an arbitrary raw frame: a
    * history/evolved table resolves latest-per-key; a plain COW table
    * does not (its [[insert]] path can legitimately append duplicate
    * keys, and [[read]] returns them all — the index and lookup must
    * return the same rows the full read would).
    */
  private def lookupResolve(spark: SparkSession, raw: DataFrame): DataFrame =
    if (spec.retainHistory || isEvolved(spark)) resolveLatest(raw) else raw

  // ---- secondary index (point lookups on a non-key column) -------------
  // Hudi 1.0's secondary-index idea: a sidecar mapping a non-key
  // column's VALUE to the record keys whose live version carries it,
  // composing with the record-level index (key → file) — a lookup on the
  // column resolves value→keys here, keys→files through the RLI, and
  // opens only the candidate files. Entries reuse the RLI entry shape
  // (file + resolve ordering) plus the indexed value and the TYPED key
  // columns, so refresh shares the RLI's incremental skeleton verbatim
  // and the probe-key frame feeds lookupKeys without re-deriving keys.
  // Staleness mirrors the RLI: entries in removed files are subtracted
  // (their rows were rewritten into delta files), delta files are
  // scanned for probe values (column-pruned, O(delta)), and an
  // unprovable delta falls back to the full filtered read — a stale
  // index is never wrong, only less selective.

  private def siDirName(column: String) = s"_graft_si_$column"

  private def requireSiColumn(column: String): Unit =
    require(
      column.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"secondary-index column name '$column' must be a plain identifier " +
        "(it names the sidecar directory)")

  private def siEntryCols(column: String): Seq[Column] =
    rliEntryCols ++ (col(column).as("sval") +:
      spec.keyCols.zipWithIndex.map { case (c, i) => col(c).as(s"k_$i") })

  private def siRequiredCols: Set[String] =
    rliRequiredCols + "sval" ++ spec.keyCols.indices.map(i => s"k_$i")

  /** Build the secondary index on `column` from one table scan (the
    * version a lookup would return per key — the same resolve the RLI
    * build uses, so both sidecars describe the same row set). Entries
    * hash-distribute on the indexed value: the probe side of every
    * lookup.
    */
  def secondaryIndex(spark: SparkSession, column: String): Unit = {
    requireSiColumn(column)
    if (!exists(spark)) return
    require(readRaw(spark).columns.contains(column),
      s"secondary-index column '$column' is not in the table schema")
    val builtAt = timelineBoundary(spark)
    val entries = lookupResolve(
      spark, readRaw(spark).withColumn("_graft_rel", relFileExpr(spark)))
      .select(siEntryCols(column): _*)
    publishIndex(spark, siDirName(column),
      entries.withColumn("built_at", lit(builtAt)), col("sval"))
  }

  /** Build the record-level index AND the secondary indexes on
    * `siColumns` from ONE resolved table scan. [[recordKeyIndex]] and
    * [[secondaryIndex]] each pay a full scan + latest-per-key resolve;
    * when a table wants both (the normal shape — a secondary lookup
    * routes value→keys→files THROUGH the RLI), the resolve is identical,
    * so this builds every sidecar from a single persisted resolve: at
    * 100 TB that halves (or better, with several secondary columns) the
    * dominant index-build cost. Each sidecar's entries and `built_at`
    * are exactly what the serial builds would write.
    */
  def recordIndexes(spark: SparkSession, siColumns: Seq[String]): Unit = {
    if (!exists(spark)) return
    siColumns.foreach(requireSiColumn)
    val tableCols = readRaw(spark).columns.toSet
    siColumns.foreach(c => require(tableCols.contains(c),
      s"secondary-index column '$c' is not in the table schema"))
    val builtAt = timelineBoundary(spark)
    val resolved = lookupResolve(
      spark, readRaw(spark).withColumn("_graft_rel", relFileExpr(spark)))
    // One narrow frame carrying every sidecar's columns (values aliased
    // positionally — a user column may be named `sval`/`k_0`), persisted
    // so the scan + window resolve runs once; each publish below is a
    // metadata-sized select over it.
    val svAlias = siColumns.zipWithIndex.map { case (c, i) =>
      c -> s"_graft_sv_$i"
    }.toMap
    val keyAliases = spec.keyCols.zipWithIndex.map { case (c, i) =>
      col(c).as(s"_graft_k_$i")
    }
    val combined = resolved.select(
      rliEntryCols ++
        siColumns.map(c => col(c).as(svAlias(c))) ++ keyAliases: _*)
      .persist()
    try {
      val rliNames = Seq("key", "pp", "file", "pre", "ct") ++
        spec.tiebreakCols.indices.map(i => s"tb_$i")
      publishRli(spark, combined
        .select((rliNames ++ rliPvCols).map(col): _*)
        .withColumn("built_at", lit(builtAt)))
      siColumns.foreach { c =>
        val entries = combined.select(
          (rliNames ++ rliPvCols).map(col) ++
            (col(svAlias(c)).as("sval") +:
              spec.keyCols.indices.map(i =>
                col(s"_graft_k_$i").as(s"k_$i"))): _*)
        publishIndex(spark, siDirName(c),
          entries.withColumn("built_at", lit(builtAt)), col("sval"))
      }
    } finally combined.unpersist()
  }

  /** Column names of the EXISTING secondary sidecars, discovered from
    * their directory names — one listStatus of the table root, never
    * data.
    */
  private def secondarySidecarColumns(spark: SparkSession): Seq[String] = {
    val f = fs(spark)
    val p = new Path(spec.path)
    if (!f.exists(p)) Nil
    else f.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("_graft_si_"))
      .map(_.stripPrefix("_graft_si_")).sorted
  }

  /** Bring EVERY index sidecar current from its own recorded state —
    * the record-level index (if present) and each secondary sidecar
    * discovered from its directory — each at the incremental skeleton's
    * O(delta) cost. Returns false when no sidecar exists to refresh
    * (an initial [[recordKeyIndex]]/[[recordIndexes]] names the
    * surface, exactly as [[refreshColumnStats]]'s contract).
    */
  def refreshIndexes(spark: SparkSession): Boolean = {
    val f = fs(spark)
    if (!exists(spark)) return false
    var any = false
    if (f.exists(new Path(rliDir))) { refreshRecordKeyIndex(spark); any = true }
    secondarySidecarColumns(spark).foreach { c =>
      refreshSecondaryIndex(spark, c); any = true
    }
    any
  }

  /** The per-commit maintenance composition for a micro-batch loop:
    * column stats AND every index sidecar brought current from their
    * own recorded state — `(t, sp, b) => { t.upsert(sp, b);
    * t.maintainDerivedState(sp) }` keeps a streaming ingest's point
    * lookups, range prunes, and stats serves warm BETWEEN batches at
    * O(the commit's own files) refresh cost, the Hudi
    * metadata-table-maintenance analogue. Returns whether anything
    * refreshed (false until the initial builds name the surface).
    */
  def maintainDerivedState(spark: SparkSession): Boolean = {
    val stats = refreshColumnStats(spark)
    val idx = refreshIndexes(spark)
    stats || idx
  }

  /** Incremental maintenance at O(delta) — the RLI skeleton over this
    * sidecar's entries: refresh ≡ rebuild (winner-settled on resolving
    * tables), boundary advances, unprovable deltas rebuild.
    */
  def refreshSecondaryIndex(spark: SparkSession, column: String): Unit = {
    requireSiColumn(column)
    refreshIndexSidecar(
      spark, siDirName(column), siEntryCols(column), siRequiredCols,
      col("sval"))(secondaryIndex(spark, column))
  }

  /** The probe-KEY frame for `column ∈ values`, or `None` when the
    * sidecar is absent/unreadable or freshness cannot be proven (the
    * caller full-scans). Keys come from two column-pruned sources:
    * surviving index entries whose value matches (parquet pushdown on
    * `sval`, the distribution column), and post-build delta files'
    * matching rows (key + probe columns only, O(delta files)). A key
    * whose post-build version dropped the value may slip in — the
    * lookup's residual filter discards it; a key whose live version
    * CARRIES the value can never be missed (its version is either in a
    * surviving indexed file, or in a delta file — removed files' rows
    * were rewritten into delta files).
    */
  private[graft] def siProbeKeys(
      spark: SparkSession, column: String, values: Seq[Any]): Option[DataFrame] =
    try IndexView.open(spark, this, siDirName(column), siRequiredCols).map { view =>
      val idxKeys = spec.keyCols.zipWithIndex.foldLeft(
        view.surviving.filter(col("sval").isin(values: _*))
          .select(spec.keyCols.indices.map(i => col(s"k_$i")): _*)) {
        case (df, (c, i)) => df.withColumnRenamed(s"k_$i", c)
      }
      view.addedRows.fold(idxKeys)(rows => idxKeys.unionByName(
        rows.filter(col(column).isin(values: _*)).select(spec.keyCols.map(col): _*)))
        .distinct()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Point lookup on a NON-KEY column: the latest state of every row
    * whose `column` value is in `values` (a small literal set — the
    * point-lookup contract; null probe values are not expressible,
    * matching `IN`-list semantics on both paths). Value→keys through
    * the secondary index, keys→rows through [[lookupKeys]] (which
    * prunes files through the record-level index when present), then
    * the residual value filter — needed because a probed key's LATEST
    * version may carry a different value than the indexed one; the
    * filter is what makes a stale index return exactly the fresh
    * answer. Falls back to the full filtered read when the index is
    * absent or staleness unprovable; either path returns identical
    * rows, the indexes only change which files open.
    */
  def lookupByColumn(
      spark: SparkSession, column: String, values: Seq[Any]): DataFrame = {
    require(values.nonEmpty, "secondary lookup needs at least one probe value")
    siProbeKeys(spark, column, values) match {
      case None => read(spark).filter(col(column).isin(values: _*))
      case Some(keys) =>
        lookupKeys(spark, keys).filter(col(column).isin(values: _*))
    }
  }

  /** Build/refresh the file-skipping index for integral `cols`: per data
    * file, min–max of each column PLUS the file's row count (`cnt`) and
    * each column's non-null count (`nn_<col>`), computed in ONE scan
    * (groupBy on `input_file_name`) and stored as a parquet sidecar whose
    * row count is the file count — metadata-sized, never row-sized. The
    * min–max pairs serve range pruning ([[readPruned]] and the
    * declarative [[graft.plans.RangePruneRewrite]]); the counts let
    * whole-table `min/max/count` aggregates be answered from the sidecar
    * alone ([[graft.plans.StatsAggregateRewrite]]) — on a 100 TB table
    * that is the difference between a metadata read and a full scan.
    * Pairs with [[cluster]]: after a sort-order rewrite the per-file
    * ranges are tight and disjoint, so a range predicate selects few
    * files; without clustering the index still answers, it just prunes
    * less.
    *
    * Maintenance is INCREMENTAL: file-set-changing writes retire the
    * sidecar to a cache instead of deleting it ([[retireColumnStats]]),
    * and this build carries the cache rows whose files are still listed,
    * scanning ONLY never-seen files — per-commit stats refresh cost is
    * O(the commit's own files), not O(table), the 100 TB drip-ingest
    * requirement. Any carry mismatch (different columns, changed types,
    * unreadable cache) falls back to the full scan; the serving
    * invariant (exists ⇒ current) is unchanged either way.
    */
  def recordColumnStats(spark: SparkSession, cols: Seq[String]): Unit = {
    require(cols.nonEmpty, "column stats need at least one column")
    notEvolvedGuard(spark, "column stats") // see colStatsFrame
    if (!exists(spark)) return
    val raw = readRaw(spark)
    val schema = raw.schema
    def dtOf(c: String): Option[DataType] =
      schema.find(_.name.equalsIgnoreCase(c)).map(_.dataType)
    cols.foreach(c => require(
      dtOf(c).exists(KeyedTable.statsOrderedType),
      s"column stats need an ordered type; '$c' is " +
        dtOf(c).map(_.simpleString).getOrElse("absent")))
    // Each data file lives in exactly one partition directory, so its
    // partition tuple is a per-file CONSTANT — recorded as `p_<col>`,
    // it lets grouped aggregates over partition columns fold from the
    // sidecar too (each sidecar group is a whole set of files).
    val partAggs = spec.partitionCols.filter(raw.columns.contains)
      .map(pc => first(col(pc)).as(s"p_$pc"))
    // Exact-sum partial type: integral columns widen to DECIMAL(38,0),
    // decimal columns to DECIMAL(38, their own scale) — both fold
    // associatively with no overflow below 10^38 (unreachable per-file:
    // < 2^30 rows × a 38-digit bound). FP columns get none (an FP sum
    // is order-sensitive; the aggregate rule declines to a scan).
    def sumPartialType(c: String): Option[DecimalType] = dtOf(c).flatMap {
      case ByteType | ShortType | IntegerType | LongType =>
        Some(DecimalType(38, 0))
      case d: DecimalType => Some(DecimalType(38, d.scale))
      case _ => None
    }
    // Min/max in the column's OWN type (the Iceberg/Hudi column-stats
    // model — pruning comparisons then use the exact ordering the data
    // filter uses, for dates/timestamps/decimals/strings alike). SUM is
    // recorded for EXACTLY-SUMMABLE columns only (integral + decimal),
    // as an EXACT widened decimal (see sumPartialType): a per-file LONG
    // sum can overflow (a 10k-row file of epoch-micros longs already
    // exceeds 2^63), and under ANSI mode Spark's Sum THROWS on overflow
    // rather than wrapping — the decimal partial is exact up to 10^38
    // (unreachable per file), folds associatively, and the serving rule
    // narrows the folded total back to the aggregate's own result type
    // only when it fits, declining to a real scan otherwise so ANSI
    // overflow semantics stay with Spark's own Sum. (FP sums are
    // order-sensitive — never recorded; the aggregate rule declines to
    // a scan.)
    val stringCols = cols.filter(c => dtOf(c).contains(StringType))
    val partCols = spec.partitionCols.filter(raw.columns.contains)

    // The per-file stats pipeline over any raw input frame — the whole
    // table on a full build, ONLY the never-seen files on an
    // incremental one.
    def statsRowsOf(in: DataFrame): DataFrame = {
      val aggs = cols.flatMap(c => Seq(
        min(col(c)).as(s"min_$c"),
        max(col(c)).as(s"max_$c")) ++
        sumPartialType(c).map(t =>
          sum(col(c).cast(t)).as(s"sum_$c")).toSeq :+
        count(col(c)).as(s"nn_$c")) ++ partAggs :+ count(lit(1)).as("cnt")
      val perFile = in
        .withColumn("file", input_file_name())
        .groupBy(col("file"))
        .agg(aggs.head, aggs.tail: _*)
      // String bounds follow the Iceberg truncation convention so a
      // pathological long-string column cannot bloat the metadata sidecar:
      // the stored lower bound is a code-point prefix of the true min
      // (prefix ≤ min ≤ every value — sound), the stored upper bound is
      // the prefix with its last incrementable code point incremented
      // (≥ every value — sound; UTF-8 is prefix-free and order-preserving,
      // so the byte comparison Spark's filters use agrees). `trunc_<c>`
      // records whether either stored bound may differ from the exact one:
      // pruning doesn't care (bounds stay sound), but the stats-aggregate
      // rule must DECLINE min/max serving on a truncated file — a
      // truncated bound is not the value the aggregate would return.
      stringCols.foldLeft(perFile) { (df, c) =>
        df.withColumn(s"trunc_$c",
            coalesce(length(col(s"min_$c")) > KeyedTable.StatsStringPrefix,
              lit(false)) ||
            coalesce(length(col(s"max_$c")) > KeyedTable.StatsStringPrefix,
              lit(false)))
          .withColumn(s"min_$c", KeyedTable.truncLowerUdf(col(s"min_$c")))
          .withColumn(s"max_$c", KeyedTable.truncUpperUdf(col(s"max_$c")))
      }
    }

    // INCREMENTAL maintenance (Hudi metadata-table col_stats shape): a
    // per-file stats row is immutable (files are never modified in
    // place; every write stamps fresh part-file names — the same
    // identity-by-relative-path the commit records' listing diffs rely
    // on), so rows of the retired cache ([[retireColumnStats]]) whose
    // file is STILL LISTED carry over verbatim and only never-seen
    // files scan. At 100 TB drip ingestion this turns the per-commit
    // stats refresh from a full-table scan into a scan of the commit's
    // own files. The cache must match the schema THIS build would
    // produce (same columns, same types — a different cols request or
    // a widened column falls back to the full scan); any carry failure
    // degrades to the full build, never to a wrong sidecar.
    val f = fs(spark)
    retireColumnStats(f) // an intact current sidecar is the best cache
    // ONE recursive listing (stats-build context, O(files) metadata):
    // the names resolve the carry's keep set, and the LENGTHS are stored
    // beside every stats row (`flen`) so the next carry can cross-check
    // file identity — a relative path reused with different content
    // (no current write path does, but nothing else enforces it) shows a
    // changed length and RESCANS instead of serving stale bounds.
    val rootPrefix =
      f.makeQualified(new Path(spec.path)).toUri.getPath + "/"
    def relOf(abs: String): String =
      new Path(abs).toUri.getPath.stripPrefix(rootPrefix)
    val lenByRel: Map[String, Long] =
      listDataFiles(spark).map { case (r, st) => r -> st.getLen }.toMap
    def carriedPlusNew(): Option[DataFrame] = {
      if (!f.exists(new Path(staleStatsDir))) return None
      try {
        val stale = spark.read.parquet(staleStatsDir)
        val expected: Map[String, DataType] =
          (Seq[(String, DataType)]("file" -> StringType, "cnt" -> LongType,
            "flen" -> LongType) ++
            cols.flatMap(c => Seq(
              s"min_$c" -> dtOf(c).get, s"max_$c" -> dtOf(c).get,
              s"nn_$c" -> LongType) ++
              sumPartialType(c).map(t => s"sum_$c" -> (t: DataType))) ++
            stringCols.map(c => s"trunc_$c" -> BooleanType) ++
            partCols.map(pc => s"p_$pc" -> dtOf(pc).get))
            .map { case (n, t) => n.toLowerCase(java.util.Locale.ROOT) -> t }
            .toMap
        val actual = stale.schema
          .map(fd => fd.name.toLowerCase(java.util.Locale.ROOT) -> fd.dataType)
          .toMap
        if (actual != expected) return None
        val staleFiles = KeyedTable.withMetaConf(spark)(
          stale.select("file", "flen").collect()
            .map(r => r.getString(0) -> r.getLong(1)).toSeq)
        // A cached row carries only while its file is still listed AT
        // THE RECORDED LENGTH; a mismatched length rescans (below, via
        // newRel). Set-closure filter, never an IN list: both sides are
        // file-count-sized, which at 100 TB is 10^5–10^6 entries.
        val keepAbs = staleFiles.collect {
          case (a, len) if lenByRel.get(relOf(a)).contains(len) => a
        }.toSet
        // Empty overlap: a rebuilt file set (clustering/compaction/full
        // rewrite — q120's fresh-per-invocation shape) shares nothing
        // with the cache, so the carry plan (cache read + UDF filter +
        // union) can only cost; fall straight to the one full build.
        if (keepAbs.isEmpty) return None
        val keepU = udf((s: String) => keepAbs.contains(s))
        val carried = stale.filter(keepU(col("file")))
        val newRel = (lenByRel.keySet -- keepAbs.map(relOf)).toSeq.sorted
        Some(
          if (newRel.isEmpty) carried
          else carried.unionByName(
            statsRowsOf(readFilesRaw(spark, newRel))
              .withColumn("flen", KeyedTable.relLenUdf(lenByRel, rootPrefix)(
                col("file")))))
      } catch { case scala.util.control.NonFatal(_) => None }
    }
    publishSidecar(spark, ColStatsDirName, carriedPlusNew().getOrElse(
        statsRowsOf(raw).withColumn("flen",
          KeyedTable.relLenUdf(lenByRel, rootPrefix)(col("file"))))
      .coalesce(1))
    f.delete(new Path(staleStatsDir), true)
  }

  /** Bring the column-stats sidecar current over the SAME columns it
    * already covers — the per-commit maintenance call a write path or
    * micro-batch loop composes after its commit (e.g.
    * `(t, sp, b) => { t.upsert(sp, b); t.refreshColumnStats(sp) }` as
    * [[graft.streaming.MicroBatchPipeline]]'s `write`). The column set
    * comes from the retired cache (or an intact sidecar), so callers
    * never re-name columns; [[recordColumnStats]]'s incremental carry
    * makes the refresh cost O(the commit's own files). Returns false
    * when there is nothing to refresh from — an initial
    * [[recordColumnStats]] names the columns — or the table refuses
    * stats (evolved layout).
    */
  def refreshColumnStats(spark: SparkSession): Boolean = {
    val f = fs(spark)
    if (!exists(spark) || isEvolved(spark)) return false
    val src =
      if (f.exists(new Path(colStatsDir))) colStatsDir
      else if (f.exists(new Path(staleStatsDir))) staleStatsDir
      else return false
    val cols =
      try spark.read.parquet(src).columns.toSeq
        .collect { case c if c.startsWith("min_") => c.stripPrefix("min_") }
      catch { case scala.util.control.NonFatal(_) => return false }
    if (cols.isEmpty) return false
    recordColumnStats(spark, cols)
    true
  }

  /** The column-stats sidecar frame, or `None` when absent/unreadable —
    * the planner rules' entry point. Existence is the freshness proof:
    * every data write deletes the sidecar BEFORE the write lands (see
    * [[recordColumnStats]]/`writeOut`), so a present sidecar covers
    * every data file (exists ⇒ current, the same invariant the bloom
    * sidecar keeps). Evolved layouts decline like the bloom: a sidecar
    * spanning generation dirs could hand a root-`basePath` scan files
    * whose hive layout it cannot parse (and a raw root scan would gain
    * rows it never listed) — [[recordColumnStats]] refuses to build one,
    * and this guard keeps a pre-evolution sidecar from serving past the
    * layout change even before the first generation write retires it.
    */
  private[graft] def colStatsFrame(spark: SparkSession): Option[DataFrame] = {
    if (!fs(spark).exists(new Path(colStatsDir)) || isEvolved(spark))
      return None
    colStatsSnapshot(spark).map(_._1).orElse {
      try Some(spark.read.parquet(colStatsDir))
      catch { case scala.util.control.NonFatal(_) => None }
    }
  }

  /** In-memory snapshot of the column-stats sidecar plus its row
    * count, or `None` when it is absent, unreadable or past
    * [[KeyedTable.MaxSnapshotRows]] (callers fall back to the
    * parquet-backed frame). The serve rules probe this tiny frame several
    * times per query (classification, walk, selection), and each probe
    * over a parquet-backed frame pays file listing + a scan job — 100–300
    * ms of fixed cost per action at any data scale. Collected ONCE per
    * (session, table version) into a LocalRelation, every later probe is
    * a local job with the SAME Spark expression semantics (UTF8String
    * ordering, decimal comparisons — nothing re-implemented by hand).
    * The gate counts rows, so planner memory is bounded whatever the
    * sidecar's compressed size: a 100 TB table's million-file sidecar
    * stays parquet-backed and streams through Spark.
    */
  private def colStatsSnapshot(spark: SparkSession): Option[(DataFrame, Int)] =
    TableMetaCache.get(spark, spec.path, ("colstats", spark)) {
      try {
        val src = spark.read.parquet(colStatsDir)
        val rows = KeyedTable.withMetaConf(spark)(
          src.limit(KeyedTable.MaxSnapshotRows + 1).collect())
        if (rows.length > KeyedTable.MaxSnapshotRows) None
        else Some((spark.createDataFrame(
          java.util.Arrays.asList(rows: _*), src.schema), rows.length))
      } catch { case scala.util.control.NonFatal(_) => None }
    }

  /** The stats index's candidate files for a conjunction of ranges, as
    * absolute [[Path]]s plus the total indexed file count, or `None`
    * when the sidecar is absent or doesn't cover every range column —
    * the serving half of the declarative range prune
    * ([[graft.plans.RangePruneRewrite]]). Sound on non-resolving tables
    * only (same argument as [[readPruned]]): dropped files hold no row
    * inside EVERY range (stats admit false positives, never false
    * negatives), and on a copy-on-write table rows are independent, so
    * removing them cannot change any other row's visibility. Bounds are
    * in the columns' own types with per-side inclusivity — the shape
    * the rule extracts over dates, timestamps, decimals and strings as
    * well as integers.
    */
  private[graft] def rangeCandidateFilesTyped(
      spark: SparkSession,
      ranges: Seq[ColumnRange],
      nullPreds: Seq[(String, Boolean)] = Nil,
      inLists: Seq[(String, Seq[Any])] = Nil): Option[(Seq[Path], Int)] = {
    require(!spec.retainHistory,
      "range candidates require a copy-on-write table (see readPruned)")
    colStatsFrame(spark).flatMap { st =>
      val cols = st.columns.toSet
      // Selecting on the COVERED subset of the conjunction stays sound
      // (dropped files satisfy no covered range, hence not the whole
      // conjunction); uncovered columns just don't contribute skipping.
      val covered = ranges.filter(r => cols.contains(s"min_${r.column}"))
      val coveredNulls = nullPreds.filter(p => cols.contains(s"nn_${p._1}"))
      val coveredIns = inLists.filter(p => cols.contains(s"min_${p._1}"))
      if (covered.isEmpty && coveredNulls.isEmpty && coveredIns.isEmpty) None
      else try {
        val (sel, total) =
          statsSelectedFilesTyped(spark, covered, coveredNulls, coveredIns)
        Some((sel.map(abs => new Path(new java.net.URI(abs))), total))
      } catch { case scala.util.control.NonFatal(_) => None }
    }
  }

  /** The index's file selection for `column ∈ [lo, hi]`: (selected files,
    * total indexed files). Driver-side size is the file count.
    */
  private[graft] def statsSelectedFiles(
      spark: SparkSession, column: String, lo: Long, hi: Long): (Seq[String], Int) =
    statsSelectedFiles(spark, Seq((column, lo, hi)))

  /** Multi-predicate file selection: files whose recorded [min, max]
    * intersects EVERY range — the conjunctive prune a 2-D probe over a
    * Z-ordered layout needs (each Morton file is a rectangle in key
    * space, so both dimensions' stats are tight and the intersection
    * multiplies the skip rates).
    */
  private[graft] def statsSelectedFiles(
      spark: SparkSession, ranges: Seq[(String, Long, Long)]): (Seq[String], Int) =
    statsSelectedFilesTyped(
      spark, ranges.map { case (c, lo, hi) => ColumnRange.inclusive(c, lo, hi) })

  /** Typed multi-predicate file selection. A file survives a range iff
    * its recorded [min, max] intersects it: `max ≥(>) lo` and
    * `min ≤(<) hi`, with strict comparisons for exclusive bounds —
    * uniform across every ordered type, no integer ±1. The comparisons
    * run in Spark over the sidecar, so they use exactly the ordering the
    * residual data filter uses (UTF8String byte order for strings,
    * micros for timestamps, …). An all-null file has null min/max and is
    * correctly dropped: a range conjunct is null-rejecting.
    */
  private[graft] def statsSelectedFilesTyped(
      spark: SparkSession,
      ranges: Seq[ColumnRange],
      nullPreds: Seq[(String, Boolean)] = Nil,
      inLists: Seq[(String, Seq[Any])] = Nil): (Seq[String], Int) =
    KeyedTable.withMetaConf(spark) {
      statsSelectedFilesTypedImpl(spark, ranges, nullPreds, inLists)
    }

  private def statsSelectedFilesTypedImpl(
      spark: SparkSession,
      ranges: Seq[ColumnRange],
      nullPreds: Seq[(String, Boolean)],
      inLists: Seq[(String, Seq[Any])]): (Seq[String], Int) = {
    // Localized sidecar: the total count rides the snapshot and the
    // selection is ONE local action instead of a parquet count + a
    // parquet filter-collect (two scan jobs per serve).
    val snap = colStatsSnapshot(spark)
    val st = snap.map(_._1).getOrElse(spark.read.parquet(colStatsDir))
    val all = snap.map(_._2).getOrElse(st.count().toInt)
    val rangePreds = ranges.map(r =>
      r.within(col(s"max_${r.column}"), col(s"min_${r.column}")))
    // Null predicates select on the per-file null count (cnt − nn):
    // `IS NULL` needs at least one null in the file, `IS NOT NULL` at
    // least one non-null value — per-row facts, so conjunction-subset
    // soundness carries over unchanged.
    val nullSel = nullPreds.map { case (c, isNull) =>
      if (isNull) col("cnt") > col(s"nn_$c") else col(s"nn_$c") > lit(0L)
    }
    // IN lists select files by per-value containment, OR-ed: a file can
    // hold v only when min <= v <= max — the multi-point disjunction
    // (`lang IN ('en','de')` over a lang-clustered table opens just
    // those values' files). Per-row fact, so conjunction-subset
    // soundness carries over unchanged.
    val inSel = inLists.map { case (c, vs) =>
      vs.map(v => col(s"min_$c") <= lit(v) && col(s"max_$c") >= lit(v))
        .reduce(_ || _)
    }
    val pred = (rangePreds ++ nullSel ++ inSel).reduce(_ && _)
    val sel = st.filter(pred).select("file").collect().map(_.getString(0)).toSeq
    (sel, all)
  }

  /** Range read through the column-stats index: only files whose recorded
    * [min, max] intersects [lo, hi] are opened — file skipping on a
    * non-partition column, the scan shape that makes a time-range query
    * on a clustered 100 TB table touch a handful of files instead of all
    * of them. Falls back to a full scan when the index is absent. The
    * residual `BETWEEN` filter still applies (stats admit false
    * positives, never false negatives). COW tables only: on a
    * `retainHistory` table, resolving latest-per-key over a pruned file
    * subset could resurrect versions superseded by rows outside the
    * range, so the prune is unsound there by construction.
    */
  def readPruned(
      spark: SparkSession, column: String, lo: Long, hi: Long): DataFrame =
    readPruned(spark, Seq((column, lo, hi)))

  /** Conjunctive multi-range form of [[readPruned]]: only files whose
    * recorded [min, max] intersects EVERY `(column, lo, hi)` range are
    * opened. Over a Z-ordered layout this is the payoff shape — Morton
    * files are rectangles in the clustered key space, so a 2-D probe
    * multiplies the per-dimension skip rates instead of pruning on one
    * axis and scanning the other.
    */
  def readPruned(
      spark: SparkSession, ranges: Seq[(String, Long, Long)]): DataFrame = {
    require(ranges.nonEmpty, "readPruned needs at least one range")
    require(
      !spec.retainHistory,
      "readPruned requires a copy-on-write table: latest-per-key resolution " +
        "over a pruned file subset is unsound on history tables")
    notEvolvedGuard(spark, "stats-pruned read") // evolved reads resolve too
    val f = fs(spark)
    // "Index absent" is per COLUMN, not just per directory: stats recorded
    // for other columns can't answer this predicate — fall back to the
    // full scan the contract promises instead of failing analysis.
    def indexCovers: Boolean = {
      val cols = spark.read.parquet(colStatsDir).columns.toSet
      ranges.forall { case (c, _, _) => cols.contains(s"min_$c") }
    }
    val raw =
      if (!f.exists(new Path(colStatsDir)) || !indexCovers) readRaw(spark)
      else statsSelectedFiles(spark, ranges) match {
        case (sel, _) if sel.isEmpty => readRaw(spark).filter(lit(false))
        case (sel, _) =>
          val rd = spark.read.option("basePath", spec.path)
          (sidecarSchema(spark) match {
            case Some(s) => rd.schema(s)
            case None    => rd.option("mergeSchema", "true")
          }).parquet(sel: _*)
      }
    val residual = ranges
      .map { case (c, lo, hi) => col(c).between(lo, hi) }
      .reduce(_ && _)
    SchemaEvolution.dropSystemColumns(raw).filter(residual)
  }

  /** Range read on a RESOLVING (merge-on-read / evolved) table — the
    * composition [[readPruned]] refuses by construction, made sound: a
    * naive prune would resurrect versions superseded by rows OUTSIDE the
    * range, so this path (a) records stats over ALL version files (the
    * sidecar covers every stored version — the bloom chain's
    * "candidates hold every version" argument), (b) selects the files
    * whose [min, max] intersects the range, (c) takes the DISTINCT KEYS
    * of the in-range rows in those files — the only keys whose winner
    * can possibly be in range (a winner is itself a version, so an
    * in-range winner sits in a candidate file) — and (d) fetches those
    * keys' LATEST state through [[lookupKeys]] (RLI-pruned when the
    * index exists, full resolve otherwise), re-applying the range as the
    * residual: a key whose winner moved out of range is discarded, never
    * resurrected. Cost: O(candidate files) + O(probe keys + delta) —
    * range-SELECTIVE reads only; a range matching half a 100 TB table
    * belongs in a full resolve. Falls back to resolve ∘ filter when
    * stats are absent or don't cover every range column.
    */
  def readPrunedResolving(
      spark: SparkSession, ranges: Seq[ColumnRange]): DataFrame = {
    require(ranges.nonEmpty, "readPrunedResolving needs at least one range")
    require(
      spec.retainHistory,
      "readPrunedResolving is the merge-on-read path; a copy-on-write " +
        "table prunes directly via readPruned")
    val residual =
      ranges.map(r => r.within(col(r.column), col(r.column))).reduce(_ && _)
    def fallback = read(spark).filter(residual)
    val covered = colStatsFrame(spark).exists { st =>
      val cols = st.columns.toSet
      ranges.forall(r => cols.contains(s"min_${r.column}"))
    }
    if (!covered) return fallback
    val (sel, _) =
      try statsSelectedFilesTyped(spark, ranges)
      catch { case scala.util.control.NonFatal(_) => return fallback }
    // No version intersects the range ⇒ no winner can (a winner is a
    // version) ⇒ empty, with the read's own schema.
    if (sel.isEmpty) return read(spark).filter(lit(false))
    val f = fs(spark)
    val rootPrefix = f.makeQualified(new Path(spec.path)).toUri.getPath + "/"
    val rel = sel.map(abs =>
      new Path(new java.net.URI(abs)).toUri.getPath.stripPrefix(rootPrefix))
    val keys = readFilesRaw(spark, rel)
      .filter(residual)
      .select(spec.keyCols.map(col): _*)
      .distinct()
    lookupKeys(spark, keys).filter(residual)
  }

  /** Restore the table to its state as of `commit` (Hudi
    * savepoint+restore / rollback of every later commit): versions
    * committed after `commit` are physically dropped, so a failed or
    * poisoned ingest is erased — [[read]] afterwards equals
    * [[readAsOf]]`(commit)` beforehand, and the timeline ends at
    * `commit`. Requires `retainHistory` (the rolled-back versions must
    * still exist as rows); the rewrite is the standard temp-dir + rename,
    * and rows at or before the restore point keep their commit times, so
    * incremental reads and later time travel stay exact.
    */
  def restore(spark: SparkSession, commit: String): Unit = {
    notEvolvedGuard(spark, "restore")
    require(
      spec.retainHistory,
      "restore requires retainHistory=true; a copy-on-write table has " +
        "already folded later commits into its files")
    if (!exists(spark)) return
    // Restoring to a commit the timeline never saw (a typo, a commit from
    // another table) would filter to an arbitrary subset — for a value
    // sorting before the first commit, to ZERO rows, physically erasing
    // the table. Hudi likewise refuses restore to an unknown savepoint.
    require(
      commits(spark).contains(commit),
      s"restore target '$commit' is not in this table's commit timeline")
    rewriteViaTmp(spark, "restore")(_ =>
      readRaw(spark).filter(col(CommitTimeCol) <= commit))
  }

  /** Reclaim superseded versions (Hudi cleaning / Delta VACUUM): rewrite
    * the table keeping only each key's latest version — per-row commit
    * times survive, so [[readIncremental]] stays correct, but time travel
    * before the vacuum point is gone by definition.
    */
  def vacuum(spark: SparkSession): Unit = {
    notEvolvedGuard(spark, "vacuum")
    require(spec.retainHistory, "vacuum applies to retainHistory tables")
    if (!exists(spark)) return
    rewriteViaTmp(spark, "vacuum")(_ => resolveLatest(readRaw(spark)))
  }

  /** PARTITION-selective vacuum — reclaim superseded versions in ONLY
    * the named hive partitions, leaving every other partition's files
    * (and their travelable history) byte-identical: at 100 TB version
    * debt concentrates where the correction traffic lands, and
    * [[vacuum]]'s whole-table rewrite is the same scale failure
    * [[compactPartitions]] exists to avoid. Sound because the resolve
    * scope is (key, partition columns) on a non-global table — a key's
    * versions never span partitions, so resolving the named
    * partitions' rows alone picks exactly the winners the full resolve
    * would (`globalKeys` tables refuse: their versions DO span
    * partitions, and a partial resolve could keep a superseded row).
    * Winner rows rewrite AS-IS (commit times survive, so
    * [[readIncremental]] stays correct); time travel before the vacuum
    * point is gone IN THESE PARTITIONS by definition. A file replace
    * ([[replaceFiles]]), like [[compactPartitionDirs]].
    */
  def vacuumPartitions(
      spark: SparkSession, parts: DataFrame,
      commitTime: String = defaultCommitTime()): Unit = {
    notEvolvedGuard(spark, "partition vacuum")
    require(spec.retainHistory, "vacuum applies to retainHistory tables")
    require(spec.partitionCols.nonEmpty,
      "partition vacuum needs a partitioned table; use vacuum()")
    require(!spec.globalKeys,
      "partition vacuum is unsound under globalKeys: a key's versions " +
        "span partitions, so a partial resolve could keep a superseded row")
    val provided = SchemaEvolution.dropSystemColumns(parts)
    require(
      spec.partitionCols.forall(provided.columns.contains),
      s"partition-vacuum frame must carry ${spec.partitionCols.mkString(", ")}")
    if (!exists(spark)) return
    val dirs = collectPartitionTuples(provided).map(partitionDirOf).toSet
    val pre = relDataFilesUnder(spark, dirs).keys.toSeq.sorted
    if (pre.isEmpty) return
    commit(spark, commitTime, "vacuum", WriterRecord)(_ =>
      replaceFiles(spark, pre, resolveLatest(readFilesRaw(spark, pre))
        .repartition(spec.partitionCols.map(col): _*)))
  }

  /** The user-facing schema [[read]] returns, or None before the first
    * commit. On a single-layout copy-on-write table it comes from the
    * schema sidecar in the reader's column order ([[readerSchema]]) with
    * the system columns dropped, so asking costs one small file read and
    * no table listing. Evolved, merge-on-read and sidecar-less tables
    * take it from [[read]].
    */
  def currentUserSchema(spark: SparkSession): Option[org.apache.spark.sql.types.StructType] =
    (if (spec.retainHistory || isEvolved(spark)) None else sidecarSchema(spark)) match {
      case Some(s) =>
        Some(org.apache.spark.sql.types.StructType(
          readerSchema(s).filterNot(f => SchemaEvolution.isSystemColumn(f.name))))
      case None => if (exists(spark)) Some(read(spark).schema) else None
    }

  /** The commit timeline: the table's DATA commits, ascending — served
    * from the timeline MARKER directory (one listStatus, O(#commits) —
    * the engine's analogue of Hudi's `.hoodie` timeline) whenever the
    * markers can answer exactly, with the commit-time column scan as
    * the fallback. The marker path serves when every recorded action
    * is data-adding (upsert/insert/bulkinsert) or a commit-preserving
    * layout rewrite (compact/cluster/zorder/evolve/fold); any
    * history-destroying action (restore/vacuum/delete/partition drop)
    * erases commit times from data in ways the markers cannot resolve,
    * so those tables — and pre-timeline tables — reconstruct from the
    * data, where presence is the only derivable truth. One documented
    * nuance of the marker path (Hudi's own semantics): a data commit
    * whose rows were ALL later superseded by upserts stays on the
    * timeline — it is part of history — while the scan fallback can
    * only report commits still carrying rows.
    */
  def commits(spark: SparkSession): Seq[String] = {
    val entries = KeyedTable.timelineEntries(spark, spec.path)
    val safe = KeyedTable.DataActions ++ KeyedTable.LayoutActions
    if (entries.nonEmpty && entries.forall { case (_, a) => safe.contains(a) })
      entries.collect {
        case (ct, a) if KeyedTable.DataActions.contains(a) => ct
      }.distinct.sorted
    else if (!exists(spark)) Nil
    else readRaw(spark).select(col(KeyedTable.CommitTimeCol)).distinct()
      .collect().map(_.getString(0)).toSeq.sorted
  }

  /** Latest data commit — gated on the table actually EXISTING so a
    * table whose data directory was removed out-of-band (while the
    * sibling timeline directory survived) still reads as having no
    * commits, matching the pre-timeline behavior consumers assume.
    */
  def latestCommit(spark: SparkSession): Option[String] =
    if (!exists(spark)) None else commits(spark).lastOption

  /** Small-file maintenance — the size-driven half of Hudi's table-service
    * family (see [[cluster]] for the sort-order half): every append-path
    * commit ([[insert]]/[[bulkInsert]])
    * adds files, and a streaming ingest accumulates thousands of tiny ones,
    * which at scale turns every scan into a file-listing + task-overhead
    * problem. Compaction rewrites the table clustered by its partition
    * columns (one write task per hive partition), preserving rows, schema,
    * AND per-row commit times exactly — only the physical file layout
    * changes. The rewrite goes through a temp directory and a rename, so
    * the live path is never read and overwritten in the same job.
    */
  def compact(spark: SparkSession): Unit = {
    notEvolvedGuard(spark, "compaction")
    if (!exists(spark)) return
    val all = readRaw(spark)
    val clustered =
      if (spec.partitionCols.nonEmpty)
        all.repartition(spec.partitionCols.map(col): _*)
      else all.coalesce(1)
    rewriteViaTmp(spark, "compact")(_ => clustered)
  }

  /** PARTITION-selective compaction — merge small files in ONLY the
    * named hive partitions, leaving every other partition's files
    * byte-identical: at 100 TB fragmentation concentrates where the
    * drip commits land (today's partitions), and [[compact]]'s
    * whole-table rewrite is exactly the scale failure a 100 TB table
    * cannot afford to fix a few directories. `parts` carries the
    * partition columns, like [[dropPartitions]] (extra columns
    * ignored; unknown values are no-ops). Rows are rewritten AS-IS —
    * original commit times and, on a `retainHistory` table, every
    * stored version survive — through a file replace ([[replaceFiles]]),
    * like [[deleteIndexed]]. Its commit record (writer-supplied
    * added/removed, never a table listing) keeps incremental readers and
    * the record-level index's freshness delta sound. Cost:
    * O(named partitions' bytes), zero reads elsewhere.
    */
  def compactPartitions(
      spark: SparkSession, parts: DataFrame,
      commitTime: String = defaultCommitTime()): Unit = {
    notEvolvedGuard(spark, "partition compaction") // dirs are root-layout
    require(spec.partitionCols.nonEmpty,
      "partition compaction needs a partitioned table")
    val provided = SchemaEvolution.dropSystemColumns(parts)
    require(
      spec.partitionCols.forall(provided.columns.contains),
      s"partition-compaction frame must carry ${spec.partitionCols.mkString(", ")}")
    if (!exists(spark)) return
    val dirs = collectPartitionTuples(provided).map(partitionDirOf).toSet
    compactPartitionDirs(spark, dirs, commitTime)
  }

  private[graft] def compactPartitionDirs(
      spark: SparkSession, dirs: Set[String], commitTime: String): Unit = {
    val f = fs(spark)
    val pre = relDataFilesUnder(spark, dirs).keys.toSeq.sorted
    // Already ≤ one file per named partition: nothing to merge, no
    // commit to record.
    if (pre.size <= dirs.count(d => f.exists(new Path(s"${spec.path}/$d"))))
      return
    commit(spark, commitTime, "compact", WriterRecord)(_ =>
      replaceFiles(spark, pre,
        readFilesRaw(spark, pre).repartition(spec.partitionCols.map(col): _*)))
  }

  /** Measure-and-merge: compact exactly the hive partitions whose
    * files are NUMEROUS (≥ `minFiles`) and SMALL on average
    * (< `smallBytes`) — the shape drip ingestion leaves behind — and
    * return the compacted partition dirs. One full listing (advisor /
    * maintenance context, like [[dataFileSizes]]), then
    * O(fragmented partitions' bytes) of rewrite and zero reads
    * elsewhere; an unfragmented table is a no-op with no commit.
    */
  def compactSmallPartitions(
      spark: SparkSession, minFiles: Int, smallBytes: Long,
      commitTime: String = defaultCommitTime()): Seq[String] = {
    notEvolvedGuard(spark, "partition compaction")
    require(spec.partitionCols.nonEmpty,
      "partition compaction needs a partitioned table; use compact()")
    if (!exists(spark)) return Nil
    val byDir = listDataFiles(spark)
      .map { case (rel, st) =>
        val i = rel.lastIndexOf('/')
        (if (i < 0) "" else rel.substring(0, i), st.getLen)
      }
      .groupBy(_._1)
    val frag = byDir.collect {
      case (dir, fs0) if dir.nonEmpty && fs0.length >= minFiles &&
        fs0.map(_._2).sum / fs0.length < smallBytes => dir
    }.toSet
    if (frag.isEmpty) Nil
    else {
      compactPartitionDirs(spark, frag, commitTime)
      frag.toSeq.sorted
    }
  }

  /** Rollback of failed table-service actions — Hudi's rollback/cleaner
    * for crashed compactions and clusterings: removes the orphaned
    * write-asides a crash leaves behind ([[Staging.sweepOrphans]]) and
    * nothing else, so observable table state is IDENTICAL before and after.
    */
  def rollbackDebris(spark: SparkSession): Unit =
    Staging.sweepOrphans(fs(spark), new Path(spec.path), KeyedTable.timelineDir(spec.path))

  /** Sort-order clustering — Hudi's clustering service with a sort
    * strategy (`hoodie.clustering.plan.strategy.sort.columns`): rewrite
    * the table range-partitioned + sorted on `sortCols` so each file
    * holds a disjoint slice of the sort key's domain. Rows, schema, and
    * per-row commit times are untouched; what changes is that parquet
    * row-group/file min–max statistics on the sort columns become tight
    * and non-overlapping, so a range predicate on them prunes to the few
    * files that can match instead of scanning every file (the payoff
    * grows with file count — at 100 TB it is the difference between a
    * point-range query touching 2 files or 20 000). Hive partition
    * columns lead the range so the write still lands one task's rows in
    * few partition directories.
    */
  def cluster(
      spark: SparkSession,
      sortCols: Seq[String],
      targetFileBytes: Long = 128L << 20): Unit = {
    notEvolvedGuard(spark, "sort clustering")
    if (!exists(spark)) return
    require(sortCols.nonEmpty, "cluster needs at least one sort column")
    val all = readRaw(spark)
    val order = (spec.partitionCols ++ sortCols).map(col)
    // Output file count = current data volume / target file size (the
    // clustering plan's small-file sizing): range partitioning alone
    // would default to spark.sql.shuffle.partitions regardless of data,
    // yielding tiny files at small volumes and oversized ones at large.
    rewriteViaTmp(spark, "cluster") { files =>
      all.repartitionByRange(filePartsFor(files, targetFileBytes), order: _*)
        .sortWithinPartitions(order: _*)
    }
  }

  /** Incremental query — Hudi's incremental read semantics
    * (`hoodie.datasource.query.type=incremental` with
    * `begin.instanttime`/`end.instanttime`): the user-view rows whose LAST
    * change landed after `sinceCommit` (exclusive) and, if given, at most
    * `endCommit` (inclusive). Because the merge path preserves each row's
    * original commit time across partition rewrites, this returns exactly
    * the rows inserted or updated in that window — the feed a downstream
    * consumer tails instead of re-reading the table. Latest-state
    * semantics, as on a COW table whose older file slices are cleaned: a
    * row updated again after `endCommit` no longer appears in the bounded
    * window (its last change moved past the bound). The commit-time
    * predicate is an ordinary pushed filter; with commit time added to
    * `partitionCols` it would prune files too. On a `retainHistory`
    * table every stored row is a VERSION, so this is a true CDC feed:
    * each change committed in the window is returned, including versions
    * later superseded.
    */
  def readIncremental(
      spark: SparkSession,
      sinceCommit: String,
      endCommit: Option[String] = None): DataFrame = {
    // An evolved COW table stores generation APPENDS, so the raw frame
    // holds superseded versions the plain-COW contract ("latest-state
    // rows whose last change landed in the window") never exposes —
    // resolve first, then window. History tables stay a version feed.
    //
    // Scan pruned to the commit→files index when every post-boundary
    // marker carries a file record: each row whose commit ranks after
    // the boundary lives in a file some post-boundary commit added (its
    // own, or the later rewrite that moved it), so the candidate set is
    // a superset of the window's rows and the commit-time filters below
    // settle exact membership. At 100 TB this is the difference between
    // re-reading the table per incremental poll and reading the files
    // the new commits actually wrote.
    val raw = prunedRawSince(spark, sinceCommit).getOrElse(readRaw(spark))
    val base =
      if (!spec.retainHistory && isEvolved(spark)) resolveLatest(raw) else raw
    val bound = commitBoundary(spark)
    val begun = base.filter(bound(sinceCommit)._2)
    val bounded = endCommit.fold(begun)(e => begun.filter(bound(e)._1))
    SchemaEvolution.dropSystemColumns(bounded)
  }

  /** Change-data-capture feed with operation markers (Hudi's `cdc` query
    * type / Delta CDF): every version committed in `(sinceCommit,
    * endCommit]` tagged `op = insert` (first version of its key ever) or
    * `op = update` (supersedes an earlier version). Requires
    * `retainHistory` — the op distinction needs the key's earlier
    * versions to still exist. One window pass keyed like the merge (key
    * cols + partition scope): the first-commit-per-key min rides the same
    * shuffle as the feed itself, no self-join. Downstream consumers
    * replay the feed to maintain derived tables without re-reading the
    * source; deletes appear through [[delete]]'s physical erasure and are
    * by definition absent from a version feed.
    */
  def readChangeFeed(
      spark: SparkSession,
      sinceCommit: String,
      endCommit: Option[String] = None): DataFrame = {
    require(
      spec.retainHistory,
      "the change feed requires retainHistory=true: op markers need the " +
        "key's earlier versions to still exist")
    val raw = readRaw(spark)
    val scope =
      if (spec.globalKeys) spec.keyCols
      else spec.keyCols ++ spec.partitionCols.filter(raw.columns.contains)
    val w = Window.partitionBy(scope.map(col): _*)
    val bound = commitBoundary(spark)
    // "First version of its key" means first in COMMIT ORDER — under
    // mixed id formats the minimum commit STRING can be a later commit.
    val ordC = commitOrderCol(spark)
    val begun = raw
      .withColumn("_graft_commit_ord", ordC)
      .withColumn("_graft_first_ord",
        min(col("_graft_commit_ord")).over(w))
      .filter(bound(sinceCommit)._2)
    val bounded = endCommit.fold(begun)(e => begun.filter(bound(e)._1))
    SchemaEvolution.dropSystemColumns(
      bounded.withColumn("op",
        when(col("_graft_commit_ord") === col("_graft_first_ord"), "insert")
          .otherwise("update"))
        .drop("_graft_first_ord", "_graft_commit_ord"))
  }

  // ---- partition evolution (Iceberg partition-spec evolution) ----------
  // A table's partition layout can change WITHOUT rewriting history: each
  // layout change opens a new GENERATION. Generation 0 is the table root
  // in `spec.partitionCols` layout; generation N ≥ 1 lives under
  // `_graft_gen_N/` (underscore and no '=' ⇒ invisible to plain root
  // scans) in its own hive layout. Writes land in the CURRENT generation; reads union
  // the generations and resolve latest-per-key (the read-side cost
  // evolution trades for its rewrite-free layout change — Iceberg
  // instead rewrites manifests because its scans are manifest-driven;
  // over a directory-layout table the generation union is the honest
  // equivalent). Requires `globalKeys`: a non-global key is SCOPED by
  // the partition columns, so changing them would change key identity
  // mid-history.

  // Layout sidecars are VERSIONED (`_graft_layout_<v>`), written fresh
  // and renamed in (atomic: the destination never pre-exists), older
  // versions best-effort-deleted after. A crash at any point leaves the
  // PREVIOUS version readable — for this sidecar "stale-absent" would be
  // data loss (generation rows silently invisible), the opposite of the
  // colstats/bloom rule, so absence is never a window here. Stale-old is
  // safe: the newest generation a stale sidecar misses has no data yet
  // (evolution precedes the first write into it).
  private def layoutVersionFiles(spark: SparkSession) =
    fs(spark).globStatus(new Path(spec.path, "_graft_layout_*"))
      .toSeq.map(_.getPath)
      .sortBy(p => p.getName.stripPrefix("_graft_layout_").toInt)

  /** Recorded layout generations beyond gen 0: (gen, partitionCols).
    * Cached per (session, path) — this sits on every read path, and an
    * exists() per read is real money on an object store. Mutators
    * ([[evolvePartitioning]], [[foldGenerations]]) invalidate; external
    * writers are outside the single-writer assumption the write paths
    * already make (see [[withTableLock]]).
    */
  private[graft] def layoutGens(spark: SparkSession): Seq[(Int, Seq[String])] =
    KeyedTable.layoutCache.getOrElseUpdate(
      (System.identityHashCode(spark), spec.path), {
        layoutVersionFiles(spark).lastOption match {
          case None => Nil
          case Some(p) =>
            val in = fs(spark).open(p)
            val raw =
              try scala.io.Source.fromInputStream(in, "UTF-8").mkString
              finally in.close()
            raw.split('\n').toSeq.filter(_.nonEmpty).map { line =>
              // limit 2: an unpartitioned generation serializes as "N:"
              // and a plain split(':') would drop the empty field
              val Array(g, cols) = line.split(":", 2)
              (g.toInt, cols.split(',').toSeq.filter(_.nonEmpty))
            }
        }
      })

  private def invalidateLayoutCache(spark: SparkSession): Unit =
    KeyedTable.layoutCache.remove(
      (System.identityHashCode(spark), spec.path))

  private[table] def isEvolved(spark: SparkSession): Boolean =
    layoutGens(spark).nonEmpty

  // No '=' in the name: Spark hides '_'-prefixed dirs EXCEPT when they
  // look like a `key=value` partition dir — `_graft_gen=1` would be
  // DISCOVERED as a partition column by root scans and break them.
  private def genDirStr(n: Int) = s"${spec.path}/_graft_gen_$n"

  /** Open a new layout generation: future writes partition by `newCols`;
    * nothing already written moves. See the section comment for read
    * semantics and the `globalKeys` requirement. The table services that
    * assume one physical layout (compact / cluster / z-order / delete /
    * restore / vacuum / manifests / catalog sync / stats-pruned reads)
    * refuse on an evolved table until generations are folded — an
    * explicit rewrite the operator schedules, not one evolution smuggles
    * in.
    */
  def evolvePartitioning(spark: SparkSession, newCols: Seq[String]): Unit = {
    require(spec.globalKeys,
      "partition evolution requires globalKeys=true: a non-global key is " +
        "scoped by the partition columns, so changing them would change " +
        "key identity mid-history")
    require(exists(spark),
      "evolving an absent table: construct the spec with the new layout instead")
    // Partition columns must exist in the table schema NOW: a typo'd
    // column otherwise commits to the sidecar and every later write
    // fails inside partitionBy, far from the bad call.
    val known = currentUserSchema(spark)
      .map(_.fieldNames.toSet).getOrElse(Set.empty[String])
    newCols.foreach(c => require(known.contains(c),
      s"unknown partition column '$c' (table columns: ${known.mkString(", ")})"))
    val gens = layoutGens(spark)
    val cur = gens.lastOption.map(_._2).getOrElse(spec.partitionCols)
    require(newCols != cur, s"table is already partitioned by $cur")
    val next = gens.lastOption.map(_._1 + 1).getOrElse(1)
    val f = fs(spark)
    val prior = layoutVersionFiles(spark)
    val version = prior.lastOption
      .map(_.getName.stripPrefix("_graft_layout_").toInt + 1).getOrElse(1)
    // Evolution moves no data files: its record is accurately EMPTY.
    commit(spark, defaultCommitTime(), "evolve", WriterRecord) { _ =>
      // Publish to a NEW versioned name (atomic — destination never
      // pre-exists), THEN retire older versions: a crash anywhere leaves
      // the previous sidecar readable, never an absence window.
      Staging.createFile(f, new Path(spec.path, s"_graft_layout_$version"),
        (gens :+ (next, newCols)).map { case (g, cs) => s"$g:${cs.mkString(",")}" }.mkString("\n"))
      prior.foreach(p => f.delete(p, false))
      invalidateLayoutCache(spark)
      Landed(None)
    }
  }

  /** Evolved-mode write: precombine-dedup (for upsert semantics), stamp
    * meta with the CURRENT generation's partition path, append into the
    * generation dir in its layout. Supersession is by commit time at
    * read — the write itself is O(batch), the whole point. Committed
    * [[Unrecorded]]: generation dirs are metadata-prefixed (invisible to
    * the data listing), so a listing diff would silently under-record;
    * the legacy marker makes consumers fall back to the full scan.
    */
  private def evolvedAppend(
      spark: SparkSession, batch: DataFrame, commitTime: String,
      action: String, dedup: Boolean): Unit = {
    val incoming = SchemaEvolution.dropSystemColumns(batch)
    val current = currentUserSchema(spark).getOrElse(incoming.schema)
    require(!driftNeedsRewrite(current, incoming.schema),
      "non-widen-readable type drift on an evolved table: fold generations " +
        "first (the rewrite must visit every generation)")
    val aligned = SchemaEvolution.align(incoming, current)
    val deduped = if (dedup) dedupLatest(aligned) else aligned
    val (gen, cols) = layoutGens(spark).last
    val stamped = withMetaLayout(deduped, commitTime, cols)
    commit(spark, commitTime, action, Unrecorded) { _ =>
      retireFileSidecars(fs(spark))
      val w = stamped.write.mode(SaveMode.Append)
      (if (cols.nonEmpty) w.partitionBy(cols: _*) else w).parquet(genDirStr(gen))
      Landed(Some(stamped.schema))
    }
  }

  /** Fold every generation back into the SPEC's layout: one rewrite of
    * the resolved latest state (per-row commit times survive, as in
    * [[compact]]), generation dirs and the layout sidecar die with the
    * old directory, and the single-layout services work again. This is
    * the explicit rewrite the guards point at — scheduled by the
    * operator when read-side union cost has outgrown the write-side
    * savings. (To make an EVOLVED layout permanent instead, open the
    * path under a spec whose `partitionCols` match it and fold there.)
    */
  def foldGenerations(spark: SparkSession): Unit = {
    if (layoutGens(spark).isEmpty) return
    val all = readRaw(spark)
    // History tables keep EVERY version through the fold (like compact's
    // rewrite) — resolving here would be a silent vacuum: readAsOf and
    // the feeds would lose every pre-fold version. Only copy-on-write
    // tables collapse to latest state (their evolved appends were
    // pending supersessions the fold finally applies).
    val folded = (if (spec.retainHistory) all else resolveLatest(all))
      .drop(PartitionPathCol)
      .withColumn(PartitionPathCol, partitionPathExpr(spec.partitionCols))
    // The root-listing diff is sound here — generation files are
    // invisible to the data listing on both sides, and they never
    // appeared in any earlier marker's `added` record (evolved commits
    // record legacy markers), so omitting their removal can never leave
    // a dangling candidate. Recording the fold's own file set re-enables
    // O(delta-files) reads for every boundary at or after the fold.
    rewriteViaTmp(spark, "fold")(_ => folded)
    invalidateLayoutCache(spark)
  }

  private def notEvolvedGuard(spark: SparkSession, what: String): Unit =
    require(!isEvolved(spark),
      s"$what assumes a single physical layout; this table has evolved " +
        "partitioning (_graft_layout present) — fold generations first")

  // ---- filesystem lock provider (Hudi FileSystemBasedLockProvider) -----

  /** Run `body` holding the table's writer lock — multi-writer safety for
    * the write paths, whose read-merge-overwrite sequences assume a
    * single writer (SURVEY §7.4's documented caveat). The lock is an
    * ATOMIC create of `_graft_lock` (atomic on local FS and HDFS;
    * object stores without atomic create need an external lock service,
    * same constraint Hudi documents for its FS lock provider). Blocked
    * writers poll until `timeoutMs`, so contending commits SERIALIZE
    * rather than interleave — two upserts racing the same partition
    * otherwise both read pre-state and the loser's rows vanish (lost
    * update). Reentrancy is not provided; timeout surfaces a stuck or
    * crashed holder (a crash leaks the file — `breakTableLock` is the
    * operator override, mirroring Hudi's forced unlock). The lock file
    * lives BESIDE the table directory, not inside it: a bootstrap's
    * static overwrite deletes the table dir wholesale and would delete
    * the holder's own lock mid-commit (Hudi keeps its FS lock path
    * outside the base path for the same reason).
    */
  def withTableLock[T](
      spark: SparkSession,
      timeoutMs: Long = 60000L,
      pollMs: Long = 25L)(body: => T): T =
    Locks.withLock(spark, lockPath.toString, timeoutMs, pollMs,
      "breakTableLock()")(body)

  /** Forcibly remove a leaked lock (crashed holder). Operator judgment
    * call by design — the provider cannot distinguish stuck from slow.
    */
  def breakTableLock(spark: SparkSession): Unit =
    Locks.break(spark, lockPath.toString)

  private def lockPath: Path = {
    val base = new Path(spec.path)
    new Path(base.getParent, s"_graft_lock.${base.getName}")
  }

  // ---- snapshot manifests (Iceberg-style pinned file lists) ------------
  private def manifestDir = s"${spec.path}/_graft_manifest"

  /** Pin the CURRENT set of data files as a named snapshot manifest
    * (Iceberg's core move: a table is a file LIST, not a directory).
    * Readers of the returned snapshot id get (a) read isolation — later
    * appends are invisible however long the reader runs — and (b) no
    * directory listing: at 100 TB an object-store LIST over millions of
    * keys per query is its own bottleneck; a manifest is one metadata
    * read. Valid under append-only evolution ([[insert]] /
    * [[bulkInsert]] / merge-on-read [[upsert]]); rewriting services
    * (copy-on-write upsert, [[delete]], [[compact]], clustering) delete
    * superseded files eagerly — Hudi cleaning without a retention
    * window — so they invalidate older manifests, documented rather than
    * hidden (Iceberg keeps old files until `expire_snapshots`; a
    * retention-aware cleaner would be the extension).
    */
  def writeManifest(spark: SparkSession): String = {
    notEvolvedGuard(spark, "snapshot manifests") // dataFiles skips _gen dirs
    import spark.implicits._
    // Snapshot id from metadata only (wall clock + manifest count — the
    // count disambiguates same-millisecond writes): minting an id must
    // not scan table CONTENT, or pinning a 100 TB snapshot costs a
    // column scan of the table it is trying not to read.
    val snapshotId = s"s${defaultCommitTime()}-${
      fs(spark).listStatus(new Path(manifestDirSafe(spark))).length}"
    listDataFiles(spark).map(_._2.getPath.toString).sorted.toDF("file")
      .coalesce(1)
      .write.mode(SaveMode.ErrorIfExists).parquet(s"$manifestDir/$snapshotId")
    snapshotId
  }

  private def manifestDirSafe(spark: SparkSession): String = {
    val f = fs(spark)
    val p = new Path(manifestDir)
    if (!f.exists(p)) f.mkdirs(p)
    manifestDir
  }

  /** The table as pinned by `snapshotId`: exactly the manifest's files,
    * no directory listing of the data path. History tables still resolve
    * latest-per-key — over the pinned file set, which is precisely what
    * makes the snapshot a consistent point-in-time view under concurrent
    * appends.
    */
  def readSnapshot(spark: SparkSession, snapshotId: String): DataFrame = {
    val files = spark.read.parquet(s"$manifestDir/$snapshotId")
      .collect().map(_.getString(0)).toSeq
    val raw =
      if (files.isEmpty) readRaw(spark).filter(lit(false))
      else {
        val rd = spark.read.option("basePath", spec.path)
        (sidecarSchema(spark) match {
          case Some(sch) => rd.schema(sch)
          case None      => rd.option("mergeSchema", "true")
        }).parquet(files: _*)
      }
    SchemaEvolution.dropSystemColumns(
      if (spec.retainHistory) resolveLatest(raw) else raw)
  }

  /** STATE-delta change feed (Delta CDF's row set: `insert` /
    * `update_preimage` / `update_postimage` / `delete`): per key, the
    * latest-resolved state BEFORE `sinceCommit` versus AFTER `endCommit`,
    * emitted only when they differ. This is the feed incremental VIEW
    * maintenance needs and [[readChangeFeed]]'s version feed cannot
    * provide: a version feed has no preimages (nothing to retract from a
    * downstream aggregate), and a late-arriving version (older precombine
    * than the standing winner) appears in the version feed while leaving
    * the STATE unchanged — replaying it would corrupt the view, while
    * here before == after drops it. ONE shuffle on the merge key scope:
    * both resolved states come out of a single aggregation (`max_by` over
    * the merge order for the after state; the same `max_by` masked to
    * commits ≤ since for the before state — masked rows carry a null
    * ordering, which `max_by` ignores), instead of two window passes plus
    * a key-equality join. Cost is O(history ≤ end), never O(downstream
    * recompute). No `delete` rows: [[delete]] is physical erasure, which
    * removes the very versions a retrospective feed would need (same
    * limitation [[readChangeFeed]] documents — tombstones would be the
    * extension). Requires `retainHistory` (the before state needs
    * superseded versions).
    */
  /** LIVE change feed — the table as a Structured-Streaming SOURCE
    * (Hudi's incremental streaming read / Delta's `readStream` on a
    * table): a stream of the table's version rows, each tagged with its
    * `commit_time`, delivered as writes land. On a `retainHistory`
    * table every write APPENDS version files — new files ⇔ new
    * versions — so Spark's file-stream source over the data directory
    * IS the feed: exactly-once per file under a checkpoint, restart
    * resumes from the last seen file, and a tailer started later
    * replays history then follows. Consumers compose the usual
    * machinery downstream (watermarks, `foreachBatch` upserts into a
    * replica, stream-maintained MVs).
    *
    * Contracts and bounds:
    *   - `retainHistory` only: on a COW table the upsert REWRITES
    *     partitions, so the file source would re-deliver every
    *     untouched row of a rewritten partition — a version feed needs
    *     appends. [[readChangeFeed]] is the batch twin (and carries the
    *     insert/update op classification, which needs a full-history
    *     window the stream deliberately doesn't pay for).
    *   - Layout services (`cluster`/`compact`/`fold`) rewrite files and
    *     would re-deliver their rows with ORIGINAL commit times; run
    *     them under a paused tailer, or dedupe downstream on
    *     (key, commit_time, precombine) — re-delivered versions are
    *     bit-identical by the rewrite contract, so the dedupe is exact.
    *   - The file source lists the directory per trigger — O(files),
    *     Spark's own file-stream bound; at production file counts set
    *     `maxFileAge`/`cleanSource` or tail fewer partitions. Deletes
    *     are physical erasure and absent, as in every version feed here.
    */
  def streamFeed(spark: SparkSession): DataFrame = {
    require(
      spec.retainHistory,
      "the streaming feed requires retainHistory=true: version appends " +
        "are what make new files ⇔ new versions; COW rewrites re-deliver")
    notEvolvedGuard(spark, "the streaming feed")
    val schema = sidecarSchema(spark).getOrElse(throw new IllegalStateException(
      "streamFeed needs the recorded schema sidecar — commit once first"))
    val raw = spark.readStream
      .schema(schema)
      .option("basePath", spec.path)
      .parquet(spec.path)
    SchemaEvolution.dropSystemColumns(
      raw.withColumn("commit_time", col(KeyedTable.CommitTimeCol)))
  }

  def readStateDelta(
      spark: SparkSession,
      sinceCommit: String,
      endCommit: Option[String] = None): DataFrame = {
    require(
      spec.retainHistory,
      "the state-delta feed requires retainHistory=true: the before state " +
        "needs the key's superseded versions to still exist")
    val raw = readRaw(spark)
    // Commit boundaries follow TIMELINE order (the sequence prefix), not
    // raw id-string order: tables legitimately mix id formats (explicit
    // "c0"-style data commits, generated "2026…" service commits), and
    // "20260814…" <= "c0" is true as a string — a `CommitTimeCol <= c`
    // filter would then put NEWER versions in the before-image and emit
    // an empty/wrong delta ([[commitBoundary]]; the same discipline
    // orders the tie-break via [[commitOrderCol]]).
    val bound = commitBoundary(spark)
    val upTo0 = endCommit.fold(raw)(e => raw.filter(bound(e)._1))
    val userCols = SchemaEvolution.dropSystemColumns(upTo0).columns.toSeq
    val scope =
      if (spec.globalKeys) spec.keyCols
      else spec.keyCols ++ spec.partitionCols.filter(userCols.contains)
    // Key-scope prune from the commit→files index: only a key with a
    // version in a post-boundary file can produce a delta row, so the
    // aggregation below shuffles just those keys' histories instead of
    // every key's. A SUPERSET of candidate keys is safe (an untouched
    // key resolves before == after and is filtered out); the candidate
    // frame reads O(delta files). The before-image scan still reads the
    // full history files — file-level key pruning would need the bloom
    // index; the shuffle is the win here.
    val candidateKeys: Option[DataFrame] =
      try KeyedTable.addedFilesSince(spark, spec.path, sinceCommit).map { fls =>
        val src =
          if (fls.isEmpty) raw.filter(lit(false)) else readFilesRaw(spark, fls)
        src.select(scope.map(col): _*).distinct()
      } catch { case scala.util.control.NonFatal(_) => None }
    val upTo = candidateKeys.fold(upTo0)(k => upTo0.join(k, scope, "left_semi"))
    // Merge order = [[resolveLatest]]'s: precombine, tiebreaks, then
    // commit ORDER (an exact tie goes to the later commit); struct
    // comparison ranks null fields lowest, matching desc_nulls_last.
    val ord = struct(
      (spec.precombineCol +: spec.tiebreakCols).map(col) :+
        commitOrderCol(spark): _*)
    val payload = struct(userCols.map(col): _*)
    val inBefore = bound(sinceCommit)._1
    val j = upTo.groupBy(scope.map(col): _*).agg(
      max_by(payload, ord).as("_graft_after"),
      max_by(when(inBefore, payload), when(inBefore, ord)).as("_graft_before"))
    // Each changed key explodes to its CDF rows; `when` without
    // `otherwise` yields null array slots, filtered after the explode.
    // Keys never leave the state (versions only accrete; physical
    // erasure takes history with it), so after is never null for a key
    // present in before — the row set is the three non-delete CDF ops.
    val ops = array(
      when(col("_graft_before").isNotNull,
        struct(col("_graft_before").as("row"), lit("update_preimage").as("op"))),
      struct(col("_graft_after").as("row"),
        when(col("_graft_before").isNull, "insert")
          .otherwise("update_postimage").as("op")))
    j.filter(
        col("_graft_before").isNull ||
          col("_graft_before") =!= col("_graft_after"))
      .select(explode(ops).as("_graft_cdf"))
      .filter(col("_graft_cdf").isNotNull)
      .select(col("_graft_cdf.row.*"), col("_graft_cdf.op").as("op"))
  }

  /** Catalog sync (SURVEY §2 O12): register/refresh this table in the
    * session metastore so SQL engines see new data — the reference's
    * Hive/Glue sync after each commit (glue_job_script.py:64-73).
    * Partition registration ([[registerPartitions]]) plays
    * `MultiPartKeysValueExtractor` for the hive-style layout and adds only
    * the partitions written since the previous sync.
    */
  def syncCatalog(spark: SparkSession, tableName: String): Unit = {
    // A history (merge-on-read) table cannot be registered as a plain
    // parquet LOCATION: SQL readers would see EVERY stored version, not
    // latest-per-key, and silently return duplicates. Hudi's hive sync
    // registers _ro/_rt views with a resolving input format for exactly
    // this reason; until an equivalent view exists, refusing beats
    // registering a wrong-answer table.
    require(
      !spec.retainHistory,
      "catalog sync requires a copy-on-write table: a merge-on-read table " +
        "registered as plain parquet would expose superseded row versions " +
        "to SQL readers; compact to COW or read through KeyedTable.read")
    notEvolvedGuard(spark, "catalog sync") // plain readers can't union gens
    registerInSession(spark, tableName)
    // Record only when new: replaying N names must not do N redundant
    // sidecar rewrites, and the open path stays read-only on storage.
    if (!syncedNames(spark).contains(tableName))
      recordSyncedName(spark, tableName)
    // And publish the location to the central registry (if one is
    // configured) so a LATER session that never saw this path discovers
    // the table by name — the discovery half of hive_sync.
    GraftCatalog.record(spark, spec.path, spec.partitionCols)
  }

  private def registerInSession(spark: SparkSession, tableName: String): Unit = {
    if (spark.catalog.tableExists(tableName)) {
      // `CREATE TABLE … LOCATION` froze the columns the files had then;
      // like the reference's hive_sync, add the columns the table has
      // gained since (older files read them as null).
      val known = spark.table(tableName).columns.map(_.toLowerCase).toSet
      val gained = sidecarSchema(spark).toSeq.flatMap(_.fields)
        .filterNot(f => known(f.name.toLowerCase))
      if (gained.nonEmpty)
        spark.sql(s"ALTER TABLE $tableName ADD COLUMNS " +
          gained.map(_.toDDL).mkString("(", ", ", ")"))
      spark.catalog.refreshTable(tableName)
    } else {
      spark.sql(
        s"CREATE TABLE $tableName USING parquet LOCATION '${spec.path}'")
    }
    if (spec.partitionCols.nonEmpty) registerPartitions(spark, tableName)
  }

  /** Register the hive partitions written since the catalog last synced
    * this table — Hudi hive-sync's `last_commit_time_sync` pattern: the
    * table's TBLPROPERTIES keep the last synced commit, and the commits
    * after it name their partitions in their file records
    * ([[KeyedTable.fileDeltaSince]]), so a sync adds O(new partitions)
    * to the session catalog (existing ones are kept) instead of listing
    * and re-registering every partition. Where the timeline can't answer
    * — no property yet (a table just created or replayed into a fresh
    * session), a synced commit no longer on the timeline, a commit
    * without a file record — `recoverPartitions` lists them all.
    * Partitions whose directories a later commit removed stay
    * registered, as they do under `recoverPartitions`.
    */
  private def registerPartitions(spark: SparkSession, tableName: String): Unit = {
    import org.apache.spark.sql.catalyst.catalog.CatalogTablePartition
    import org.apache.spark.sql.execution.datasources.PartitioningUtils
    val catalog = spark.sessionState.catalog
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(tableName)
    val table = catalog.getTableMetadata(ident)
    val synced = table.properties.get(LastSyncProperty)
    val markers = KeyedTable.timelineMarkers(spark, spec.path)
    synced.flatMap(KeyedTable.fileDeltaAfter(spark, spec.path, markers, _)) match {
      case Some((added, _)) =>
        val dirs = added.filter(_.contains('/'))
          .map(r => r.substring(0, r.lastIndexOf('/'))).distinct
        if (dirs.nonEmpty) {
          // The dirs are the writer's own: parse them with Spark's
          // partition-path parser and register each at its real location.
          // (The table was refreshed just before; nothing has read it since.)
          catalog.createPartitions(ident, dirs.map(d => CatalogTablePartition(
            PartitioningUtils.parsePathFragment(d),
            table.storage.copy(locationUri =
              Some(new Path(new Path(table.location), d).toUri)))),
            ignoreIfExists = true)
        }
      case None => spark.catalog.recoverPartitions(tableName)
    }
    val latest = markers.lastOption.map(KeyedTable.markerCommit)
    if (latest != synced) latest.foreach { c =>
      // Re-read: a recovery above updates the table's metadata.
      val now = catalog.getTableMetadata(ident)
      catalog.alterTable(now.copy(properties = now.properties + (LastSyncProperty -> c)))
    }
  }

  // ---- catalog sidecar ------------------------------------------------
  // The reference's hive_sync lands the registration in a PERSISTENT
  // catalog (Glue Data Catalog) so other engines and later jobs see the
  // table (glue_job_script.py:64-73, `hoodie.datasource.hive_sync.*`).
  // A Spark in-memory session catalog dies with the SparkContext, so the
  // synced names are also recorded in a `_graft_catalog` sidecar that
  // travels with the data; [[registerSynced]] replays it into a fresh
  // session's metastore on open. Newline-separated names, written via
  // tmp + rename like the schema sidecar.

  private def catalogSidecarPath = new Path(spec.path, "_graft_catalog")

  /** Table names previously registered for this path, from the sidecar. */
  def syncedNames(spark: SparkSession): Seq[String] = {
    val f = fs(spark)
    if (!f.exists(catalogSidecarPath)) Nil
    else {
      val in = f.open(catalogSidecarPath)
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
        .linesIterator.map(_.trim).filter(_.nonEmpty).toSeq
      finally in.close()
    }
  }

  private def recordSyncedName(spark: SparkSession, name: String): Unit =
    writeSyncedNames(spark, (syncedNames(spark) :+ name).distinct)

  private def writeSyncedNames(spark: SparkSession, names: Seq[String]): Unit = {
    if (names.isEmpty) return
    Staging.replaceFile(fs(spark), catalogSidecarPath, names.mkString("\n"))
  }

  /** Replay the sidecar's registrations into this (possibly fresh)
    * session's catalog — the "open" half of persistent hive_sync: a new
    * SparkSession that knows only the table path calls this once and
    * `spark.table(name)` works for every previously synced name.
    */
  def registerSynced(spark: SparkSession): Unit =
    syncedNames(spark).foreach(registerInSession(spark, _))

  /** The reference's catalog schema probe — `SELECT * FROM tbl LIMIT 0`
    * (glue_job_script.py:85, SURVEY O5): parse→analyze against the
    * metastore, `LIMIT 0` collapsed by Catalyst, no scan.
    */
  def probeSchemaViaSql(spark: SparkSession, tableName: String): org.apache.spark.sql.types.StructType =
    spark.sql(s"SELECT * FROM $tableName LIMIT 0").schema

  /** In-batch precombine dedup: latest row per key wins, ties broken by
    * `tiebreakCols` (glue_job_script.py:55 — `max(date)` per `name`).
    * Keys are per-partition-path unless `globalKeys`. `extraOrder` appends
    * a final ordering column (used by the merge path to prefer incoming
    * rows on exact precombine ties).
    */
  def dedupLatest(batch: DataFrame, extraOrder: Seq[Column] = Nil): DataFrame = {
    val scope =
      if (spec.globalKeys) spec.keyCols
      else spec.keyCols ++ spec.partitionCols.filter(batch.columns.contains)
    val order = (spec.precombineCol +: spec.tiebreakCols)
      .map(c => col(c).desc_nulls_last) ++ extraOrder
    val w = Window.partitionBy(scope.map(col): _*).orderBy(order: _*)
    batch
      .withColumn(RowNumCol, row_number().over(w))
      .filter(col(RowNumCol) === 1)
      .drop(RowNumCol)
  }

  private def keyExpr: Column =
    concat_ws(":", spec.keyCols.map(c => col(c).cast("string")): _*)

  private def partitionPathExpr(layoutCols: Seq[String]): Column =
    if (layoutCols.isEmpty) lit("")
    else
      concat_ws(
        "/",
        layoutCols.map(c => concat_ws("=", lit(c), col(c).cast("string"))): _*)

  /** Adds engine meta columns — analogue of Hudi's `_hoodie_*` columns
    * (glue_job_script.py:87-88). Dropped again by [[read]]. A commit-time
    * column already present is preserved: the merge path threads each
    * existing row's ORIGINAL commit time through, so a row's commit time
    * means "when this row last changed", not "when its partition was last
    * rewritten" — the invariant [[readIncremental]] depends on (and what
    * Hudi's `_hoodie_commit_time` records).
    */
  private def withMeta(df: DataFrame, commitTime: String): DataFrame =
    withMetaLayout(df, commitTime, spec.partitionCols)

  private def withMetaLayout(
      df: DataFrame, commitTime: String, layoutCols: Seq[String]): DataFrame = {
    val stamped =
      if (df.columns.contains(CommitTimeCol)) df
      else df.withColumn(CommitTimeCol, lit(commitTime))
    stamped
      .withColumn(RecordKeyCol, keyExpr)
      .withColumn(PartitionPathCol, partitionPathExpr(layoutCols))
  }

  /** Write `df` into the table root — the bootstrap, unpartitioned-append
    * and partition-overwrite writes — retiring the per-file sidecars
    * before the write job starts ([[retireFileSidecars]]).
    */
  private def writeOut(df: DataFrame, mode: SaveMode): Landed = {
    val spark = df.sparkSession
    val f = fs(spark)
    retireFileSidecars(f)
    // The catalog sidecar must survive every write: on an unpartitioned
    // table SaveMode.Overwrite is a STATIC overwrite that deletes the
    // whole directory (dynamic overwrite only replaces touched
    // partitions), so capture the synced names first and restore them
    // if the write took the sidecar with it — registration is a property
    // of the table, not of one directory generation. No-ops when nothing
    // was ever synced.
    val synced = syncedNames(spark)
    val w = df.write.mode(mode)
    (if (spec.partitionCols.nonEmpty) w.partitionBy(spec.partitionCols: _*) else w)
      .parquet(spec.path)
    if (synced.nonEmpty && !f.exists(catalogSidecarPath)) writeSyncedNames(spark, synced)
    Landed(Some(df.schema))
  }

  /** Partition-scoped APPEND through a sibling staging directory: the
    * batch is written once (partitioned, the same write job a direct
    * append runs) into a fresh [[Staging.dir]] stage, each produced
    * part file is MOVED (rename) into its table partition dir, and the
    * moved table-relative names are returned — the commit's EXACT file
    * record. Replaces the direct-append sequence [batch-scan
    * partition-tuple collect → scoped pre-listing → append → scoped
    * post-listing]: the staging tree itself names the touched dirs and
    * the added files, so the streaming-ingest hot path pays zero extra
    * Spark actions and no directory diffing — O(batch files) driver FS
    * renames, which also scales strictly better than the scoped diff
    * (a hot partition's file count no longer enters the commit cost).
    * The stage-and-move append shape ([[insert]], [[bulkInsert]]) and
    * the base of [[replaceFiles]]. The stale-absent sidecar retirement
    * happens after the staging write but BEFORE any file lands in the
    * table. Crash shape matches the direct append (files
    * can land without a marker; readers see them as committed rows
    * exactly as a torn append's); rename collisions are impossible in
    * practice (part names embed the write job's UUID) and checked
    * loudly. The staging dir is the writer's own, and only it is
    * deleted, also when the write fails: two unlocked concurrent appends
    * never remove each other's staged files (a crashed writer's dir is
    * left to [[rollbackDebris]]). Local/HDFS-style rename is O(1); an
    * object-store backend would pay a copy per file — the direct-append
    * path there pays the same copy inside its commit protocol.
    */
  private def appendViaStaging(spark: SparkSession, df: DataFrame): Landed = {
    val f = fs(spark)
    val added = Staging.staged(f, Staging.dir(new Path(spec.path), "ins")) { staging =>
      val w = df.write.mode(SaveMode.ErrorIfExists)
      (if (spec.partitionCols.nonEmpty) w.partitionBy(spec.partitionCols: _*) else w)
        .parquet(staging.toString)
      retireFileSidecars(f)
      val staged = KeyedTable.dataFilesUnder(f, staging)
      staged.map { case (rel, _) => new Path(s"${spec.path}/$rel").getParent }
        .distinct.foreach(f.mkdirs)
      val moved = staged.map { case (rel, st) =>
        val dst = new Path(s"${spec.path}/$rel")
        require(!f.exists(dst), s"staged append collision: $dst exists")
        require(f.rename(st.getPath, dst),
          s"staged append could not move ${st.getPath} to $dst")
        rel
      }
      f.delete(staging, true)
      moved
    }
    Landed(Some(df.schema), (added, Nil))
  }

  /** The file-replace shape ([[compactPartitionDirs]], [[vacuumPartitions]],
    * [[deleteIndexed]], [[upsertBloomIndexed]]): `rows`, the replacement
    * of the table-relative `files` laid out by the caller, are appended
    * through a stage ([[appendViaStaging]]), then `files` are deleted.
    * The record is exact with no listing: (the staged files, `files`).
    * Single-writer crash contract: a crash between the two steps leaves
    * both copies of the replaced rows, which the next merge's precombine
    * collapses.
    */
  private def replaceFiles(
      spark: SparkSession, files: Seq[String], rows: DataFrame): Landed = {
    val landed = appendViaStaging(spark, rows)
    val f = fs(spark)
    files.foreach(r => f.delete(new Path(s"${spec.path}/$r"), false))
    landed.copy(record = (landed.record._1, files))
  }

  /** Distinct partition tuples of `df`, collected driver-side under a hard
    * ceiling. Partition-count-bounded collects are the same assumption
    * Hive/Hudi make, but at 100 TB a mis-declared high-cardinality
    * partition spec (e.g. partitioning by user_id) would silently OOM the
    * driver; the `limit(cap+1)` bounds what ever leaves the executors and
    * the error says what to fix. Cap via spark.graft.partition.collect.max
    * (default 100k tuples ≈ a few MB of driver memory). A driver-local
    * frame (a pipeline micro-batch, see [[SchemaEvolution.localRows]]) is
    * de-duplicated on the driver with no Spark job; any other frame runs
    * one bounded distinct.
    */
  private def collectPartitionTuples(df: DataFrame): Array[org.apache.spark.sql.Row] = {
    val cap = df.sparkSession.conf
      .get("spark.graft.partition.collect.max", "100000").toInt
    val projected = df.select(spec.partitionCols.map(col): _*)
    // Metadata-sized by contract (the cap below): the distinct's reduce
    // side holds at most `cap` tuples whatever the batch size, so the
    // probe conf (AQE off, 8 partitions) fits — one job instead of
    // AQE's 2-3 stage-materialization jobs per upsert. The map side
    // (the batch scan) keeps its own partitioning either way.
    val tuples = SchemaEvolution.localRows(projected)
      .map(_.distinct.take(cap + 1))
      .getOrElse(KeyedTable.withMetaConf(df.sparkSession)(
        projected.distinct().limit(cap + 1).collect()))
    if (tuples.length > cap)
      throw new IllegalStateException(
        s"table ${spec.path}: batch touches more than $cap distinct " +
          s"partition tuples of (${spec.partitionCols.mkString(", ")}); " +
          "driver-side partition bookkeeping would not be safe at this " +
          "cardinality. Coarsen the partition spec (partition columns " +
          "should be low-cardinality, e.g. dates not ids) or raise " +
          "spark.graft.partition.collect.max if the driver has the memory.")
    tuples
  }

  /** Predicate selecting exactly the partitions present in `batch` —
    * collected driver-side (bounded by touched-partition count, not rows)
    * and pushed into the parquet scan for partition pruning.
    */
  private def affectedPartitionsFilter(batch: DataFrame): Option[Column] =
    if (spec.partitionCols.isEmpty) None
    else Some(tuplesFilter(collectPartitionTuples(batch)))

  /** Partition-pruning predicate for pre-collected partition tuples —
    * shared by [[affectedPartitionsFilter]] and the scoped-commit paths
    * that reuse ONE tuple collect for both the scan filter and the
    * commit record's scoped listing.
    */
  private def tuplesFilter(tuples: Array[org.apache.spark.sql.Row]): Column = {
    val preds = tuples.map { row =>
      spec.partitionCols.zipWithIndex
        .map { case (c, i) =>
          if (row.isNullAt(i)) col(c).isNull else col(c) === lit(row.get(i))
        }
        .reduce(_ && _)
    }
    if (preds.isEmpty) lit(false) else preds.reduce(_ || _)
  }

  /** Hive-escaped relative partition directory for a
    * [[collectPartitionTuples]] row — EXACTLY the path the parquet writer
    * produced: the writer's own string cast of each value in the session
    * time zone (a timestamp prints without the `.0` `Timestamp.toString`
    * adds) and its own escaping (`ExternalCatalogUtils`), so scoped scans,
    * listings and directory cleanup never miss a partition whose value
    * needs escaping (e.g. `"2024/03"`).
    */
  private def partitionDirOf(row: org.apache.spark.sql.Row): String = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    val tz = Some(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
    spec.partitionCols.zipWithIndex.map { case (c, i) =>
      val v =
        if (row.isNullAt(i)) null
        else Cast(Literal.create(row.get(i), row.schema(i).dataType), StringType, tz)
          .eval().toString
      ExternalCatalogUtils.getPartitionPathString(c, v)
    }.mkString("/")
  }

  private def deletePartitionDirs(
      spark: SparkSession, rows: Iterable[org.apache.spark.sql.Row]): Unit = {
    val f = fs(spark)
    rows.foreach(r => f.delete(new Path(s"${spec.path}/${partitionDirOf(r)}"), true))
  }

  /** Run `body` under dynamic partition overwrite, restoring the prior
    * session value afterwards.
    */
  private def withDynamicOverwrite[T](spark: SparkSession)(body: => T): T = {
    val prev = spark.conf.getOption(OverwriteModeKey)
    spark.conf.set(OverwriteModeKey, "dynamic")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(OverwriteModeKey, v)
      case None    => spark.conf.unset(OverwriteModeKey)
    }
  }

  /** The partition-overwrite shape ([[upsert]], partitioned [[delete]]):
    * `written` replaces every partition it writes rows into (dynamic
    * partition overwrite through [[writeOut]]). Given `scanned`, the
    * partition tuples its rows were read from, a scanned partition left
    * with no rows is deleted — dynamic overwrite only replaces partitions
    * it writes to (Hudi's file-group cleaning does the same job). Then
    * `written` is evaluated twice, by its tuple collect and by the write:
    * the caller persists it, or the frame it derives from.
    */
  private def overwritePartitions(
      spark: SparkSession, written: DataFrame,
      scanned: Option[Array[org.apache.spark.sql.Row]]): Landed = {
    val kept = scanned.fold(Set.empty[org.apache.spark.sql.Row])(_ =>
      collectPartitionTuples(written).toSet)
    withDynamicOverwrite(spark) {
      val landed = writeOut(written, SaveMode.Overwrite)
      deletePartitionDirs(spark, scanned.toSeq.flatten.filterNot(kept))
      landed
    }
  }

  /** The table-wide key probe (≈ Hudi GLOBAL_BLOOM's index lookup): the
    * rows of `existing` in every partition holding a key of `keys`, or
    * in one of `alsoParts`.
    */
  private def keyProbe(
      existing: DataFrame, keys: DataFrame,
      alsoParts: Option[DataFrame] = None): DataFrame = {
    val holding = existing.join(keys, spec.keyCols, "left_semi")
      .select(spec.partitionCols.map(col): _*)
      .distinct()
    existing.join(alsoParts.fold(holding)(_.union(holding).distinct()),
      spec.partitionCols, "left_semi")
  }

  /** The table-rewrite shape: one committed full rewrite of the table as
    * `rows(files)`, `files` being the pre-write listing (file → bytes),
    * through a [[Staging.replaceDir]] stage — a static overwrite would
    * delete the very files the lazy plan is reading. The per-file
    * sidecars and the schema sidecar die with the old directory; the
    * catalog sidecar and the key-mapping indexes are carried over.
    */
  private def rewriteViaTmp(
      spark: SparkSession, action: String, commitTime: String = defaultCommitTime())(
      rows: Map[String, Long] => DataFrame): Unit =
    commit(spark, commitTime, action, WholeTable) { files =>
      val df = rows(files)
      val f = fs(spark)
      val root = new Path(spec.path)
      val synced = Staging.replaceDir(f, root, root, action) { tmp =>
        val w = df.write.mode(SaveMode.Overwrite)
        (if (spec.partitionCols.nonEmpty) w.partitionBy(spec.partitionCols: _*) else w)
          .parquet(tmp.toString)
        // The catalog sidecar must outlive the rewrite (registration is a
        // property of the table, not of one directory generation).
        val synced = syncedNames(spark)
        // So must the key-mapping indexes (record-level + secondary): unlike
        // the per-file sidecars (colstats/bloom, whose entries die with the
        // files and follow the stale-absent rule), these reconcile staleness
        // through the commit→files delta — every file this rewrite replaces
        // lands on the marker's removed side, so the carried-over entries
        // are subtracted and the rewritten files settle in via the delta.
        // Dropping them here would instead force full-table rebuilds after
        // every compaction.
        val carried = (new Path(rliDir) +: {
          if (!f.exists(root)) Seq.empty
          else f.listStatus(root).toSeq.map(_.getPath)
            .filter(_.getName.startsWith("_graft_si_"))
        }).filter(f.exists)
        carried.foreach { p =>
          if (!f.rename(p, new Path(tmp, p.getName)))
            throw new java.io.IOException(s"could not carry $p into $tmp")
        }
        synced
      }
      writeSyncedNames(spark, synced)
      Landed(Some(df.schema))
    }

  /** INSERT write operation (the second value the reference's
    * `hoodie.datasource.write.operation` key accepts, glue_job_script.py:53):
    * append without the key-index lookup/merge — rows land even when the
    * key already exists. Schema still evolves additively and meta columns
    * are stamped. The fast path when the producer guarantees key
    * uniqueness; a later upsert collapses any duplicates (latest wins).
    */
  def insert(spark: SparkSession, batch: DataFrame, commitTime: String = defaultCommitTime()): Unit = {
    if (isEvolved(spark)) {
      evolvedAppend(spark, batch, commitTime, "insert", dedup = false)
      return
    }
    val incoming = SchemaEvolution.dropSystemColumns(batch)
    currentUserSchema(spark) match {
      case None => // bootstrap: the table is empty
        commit(spark, commitTime, "insert", WholeTable)(_ =>
          writeOut(withMeta(incoming, commitTime), SaveMode.Overwrite))
      case Some(current) if !driftNeedsRewrite(current, incoming.schema) =>
        val rows = withMeta(SchemaEvolution.align(incoming, current), commitTime)
        // A pure append only creates files under the batch's partition
        // dirs — the commit record comes from the staging tree itself
        // ([[appendViaStaging]]): no batch-scan partition-tuple collect,
        // no scoped listings (this is the streaming-ingest hot path:
        // one commit per micro-batch).
        if (spec.partitionCols.isEmpty) // unpartitioned: root IS the scope
          commit(spark, commitTime, "insert", WholeTable)(_ =>
            writeOut(rows, SaveMode.Append))
        else
          commit(spark, commitTime, "insert", WriterRecord)(_ =>
            appendViaStaging(spark, rows))
      case Some(current) =>
        // Non-widen-readable drift (e.g. a column falling back to the
        // string choice type): existing files can't be read under the new
        // schema, so this commit rewrites the whole table once — existing
        // rows keep their original commit times. The rewrite goes through
        // a temp directory + rename (like [[compact]]): a plain static
        // overwrite would delete the very files the plan lazily reads.
        val aligned = SchemaEvolution.align(incoming, current)
        val alignedC = aligned.withColumn(CommitTimeCol, lit(commitTime))
        val existing = SchemaEvolution.align(
          readRaw(spark).drop(RecordKeyCol, PartitionPathCol), alignedC.schema)
        rewriteViaTmp(spark, "insert", commitTime)(_ => withMeta(
          existing.unionByName(alignedC, allowMissingColumns = true), commitTime))
    }
  }

  /** BULK_INSERT write operation: raw first-load append — no schema
    * alignment, no merge; cheapest possible path for initial loads where
    * the input already matches the table contract. That contract is
    * enforced, not assumed: a batch whose drift would leave existing files
    * unreadable under the widened sidecar schema (e.g. int→string) is
    * rejected loudly — route it through [[insert]]/[[upsert]], which
    * rewrite — rather than silently corrupting the table's readability.
    */
  def bulkInsert(spark: SparkSession, batch: DataFrame, commitTime: String = defaultCommitTime()): Unit = {
    if (isEvolved(spark)) {
      evolvedAppend(spark, batch, commitTime, "bulkinsert", dedup = false)
      return
    }
    val incoming = SchemaEvolution.dropSystemColumns(batch)
    currentUserSchema(spark).foreach { current =>
      require(
        !driftNeedsRewrite(current, incoming.schema),
        "bulk_insert batch type-drifts in a non-widen-readable way against " +
          "the table schema; use insert/upsert (they rewrite) instead")
    }
    val rows = withMeta(incoming, commitTime)
    val append = exists(spark)
    if (append && spec.partitionCols.nonEmpty)
      // Appends create files only under the batch's partition dirs —
      // exact file record from the staging tree, no batch-scan tuple
      // collect, no listings (see insert / [[appendViaStaging]]).
      commit(spark, commitTime, "bulkinsert", WriterRecord)(_ =>
        appendViaStaging(spark, rows))
    else
      commit(spark, commitTime, "bulkinsert", WholeTable)(_ =>
        writeOut(rows, if (append) SaveMode.Append else SaveMode.Overwrite))
  }

  /** DELETE write operation — the remaining value of Hudi's
    * `hoodie.datasource.write.operation` key (the reference pins `upsert`,
    * glue_job_script.py:53; `delete` is what a keyed table is asked for
    * first in production — GDPR-style record erasure). Rows whose record
    * key appears in `keys` are removed; every other row survives byte-for-
    * byte, keeping its original commit time.
    *
    * Scoping mirrors Hudi's index modes: when `keys` carries the partition
    * columns (and keys are not global), the delete is per-partition — only
    * the named (key, partition) rows die and the scan prunes to exactly
    * those partitions, like the non-global index. When `keys` is key-only
    * (or `globalKeys`), the key dies table-wide: an index-probe semi-join
    * finds the partitions holding a doomed key, and only those are scanned
    * and rewritten (≈ GLOBAL_BLOOM's key lookup).
    *
    * Scale shape: the anti-join shuffles `affected partitions ∪ keys`, not
    * the table; with AQE the (typically small) key side broadcasts. A
    * partition whose rows ALL die is deleted explicitly — dynamic
    * overwrite only rewrites partitions it writes rows into (same
    * stale-partition cleaning as global-key relocation in [[upsert]]).
    * Idempotent by construction: re-deleting absent keys rewrites the
    * scanned partitions to identical content (key-only form scans nothing
    * at all — the index probe finds no partitions).
    */
  def delete(spark: SparkSession, keys: DataFrame): Unit =
    deleteAs(spark, keys, defaultCommitTime())

  /** [[delete]] committed under `commitTime`. */
  private def deleteAs(spark: SparkSession, keys: DataFrame, commitTime: String): Unit = {
    notEvolvedGuard(spark, "delete") // the rewrite must visit every generation
    if (!exists(spark)) return
    val provided = SchemaEvolution.dropSystemColumns(keys)
    val scoped = !spec.globalKeys && spec.partitionCols.nonEmpty &&
      spec.partitionCols.forall(provided.columns.contains)
    val joinCols = if (scoped) spec.keyCols ++ spec.partitionCols else spec.keyCols
    require(
      spec.keyCols.forall(provided.columns.contains),
      s"delete keys frame must carry the key columns ${spec.keyCols.mkString(", ")}")
    val delKeys = provided.select(joinCols.map(col): _*).distinct()
    val existing = readRaw(spark)
    if (spec.partitionCols.isEmpty) {
      rewriteViaTmp(spark, "delete", commitTime)(_ =>
        existing.join(delKeys, joinCols, "left_anti"))
      return
    }
    val affected =
      if (scoped) affectedPartitionsFilter(delKeys).fold(existing)(existing.filter)
      else keyProbe(existing, delKeys) // table-wide: partitions holding a doomed key
    // `affected` is the expensive frame (table scan + doomed-key probe
    // join); persist IT so the scanned-partition collect, the survivor
    // collect and the write reuse one pass instead of re-running the
    // probe per consumer.
    affected.persist()
    try {
      val scanned = collectPartitionTuples(affected)
      // Only the scanned partitions can change — scoped commit record,
      // no table listing.
      commit(spark, commitTime, "delete",
        PartitionDirs(scanned.map(partitionDirOf).toSet))(_ =>
        overwritePartitions(spark, affected.join(delKeys, joinCols, "left_anti"),
          Some(scanned)))
    } finally affected.unpersist()
  }

  /** Metadata-only PARTITION drop — Hudi's `delete_partition` operation:
    * remove whole hive partitions by deleting their directories and
    * recording the commit, with NO data read or rewrite anywhere. At
    * 100 TB this is how a day's partition retires: O(partition files)
    * filesystem metadata operations, zero bytes moved — the retention
    * shape [[delete]] (row anti-join) and [[deleteIndexed]] (file
    * rewrite) are deliberately not. `parts` carries the partition
    * columns (extra columns ignored); on a `retainHistory` table EVERY
    * stored version under the partition goes — a partition drop erases
    * history by definition, like the row-delete paths. The scoped
    * commit record (removed = the partitions' files) keeps incremental
    * readers and the record-level index's freshness delta sound; the
    * value-stats and bloom sidecars go stale-absent as on every file-set
    * change. Unknown partition values are no-ops (nothing to remove).
    */
  def dropPartitions(
      spark: SparkSession, parts: DataFrame,
      commitTime: String = defaultCommitTime()): Unit = {
    notEvolvedGuard(spark, "partition drop") // dirs are root-layout
    require(spec.partitionCols.nonEmpty,
      "partition drop needs a partitioned table")
    val provided = SchemaEvolution.dropSystemColumns(parts)
    require(
      spec.partitionCols.forall(provided.columns.contains),
      s"partition-drop frame must carry ${spec.partitionCols.mkString(", ")}")
    if (!exists(spark)) return
    val f = fs(spark)
    val dirs = collectPartitionTuples(provided).map(partitionDirOf).toSet
    val pre = relDataFilesUnder(spark, dirs).keys.toSeq
    if (pre.isEmpty) return // nothing stored under these partitions
    commit(spark, commitTime, "delete", WriterRecord) { _ =>
      retireFileSidecars(f)
      dirs.foreach(d => f.delete(new Path(s"${spec.path}/$d"), true))
      Landed(None, (Nil, pre))
    }
  }

  /** File-granular DELETE through the index family: rewrite ONLY the
    * files that can hold a doomed key — `lookupCandidateFiles` on the
    * key set, anti-join the candidates' rows, append the survivors,
    * drop the originals. At 100 TB a k-key delete touches O(k)
    * candidate files instead of every partition holding a doomed key
    * (the [[delete]] path's granularity); rows keep their original
    * commit times — a delete erases, it doesn't re-version.
    *
    * Candidate soundness: the candidate set must hold EVERY stored row
    * of a doomed key, or surviving versions would leak. On a plain COW
    * table both the record-level index (one row per stored version) and
    * the bloom sidecar (all-version may-contain) qualify; on a
    * `retainHistory` table the RLI holds only winner versions, so ONLY
    * the bloom qualifies. No qualifying index → falls back to
    * [[delete]], same result at partition granularity. Commit record is
    * (appended, replaced) straight from the writer — no table listing —
    * and the crash window between the survivor append and the original
    * drop has the same single-writer contract as the file-granular
    * bloom upsert it mirrors.
    */
  def deleteIndexed(
      spark: SparkSession, keys: DataFrame,
      commitTime: String = defaultCommitTime()): Unit = {
    notEvolvedGuard(spark, "indexed delete") // candidates are root-layout
    if (!exists(spark)) return
    val provided = SchemaEvolution.dropSystemColumns(keys)
    require(
      spec.keyCols.forall(provided.columns.contains),
      s"delete keys frame must carry the key columns ${spec.keyCols.mkString(", ")}")
    val delKeys = provided.select(spec.keyCols.map(col): _*).distinct()
    val candsOpt =
      if (spec.retainHistory) bloomRelCandidateFiles(spark, delKeys)
      else lookupCandidateFiles(spark, delKeys)
    candsOpt match {
      case None => deleteAs(spark, keys, commitTime) // no qualifying index
      case Some(rel) if rel.isEmpty => () // no file holds a doomed key
      case Some(rel) =>
        // File set changes: the RLI tolerates this commit's record
        // through the commit→files delta.
        val order = (spec.partitionCols :+ RecordKeyCol).map(col)
        commit(spark, commitTime, "delete", WriterRecord)(_ =>
          replaceFiles(spark, rel, readFilesRaw(spark, rel)
            .join(broadcast(delKeys), spec.keyCols, "left_anti")
            .repartitionByRange(math.max(1, rel.size), order: _*)))
    }
  }

  /** Upsert `batch` (MERGE semantics): per record key, present → merge
    * (the row with the greater precombine value wins — existing or
    * incoming — matching Hudi's precombine-aware merge payload; on an
    * exact precombine+tiebreak tie the incoming row wins, the reference's
    * latest-write behavior), absent → insert. Bootstrap (first batch, no
    * table — glue_job_script.py:92-94) writes the batch as-is. Schema
    * evolves additively per [[SchemaEvolution]].
    *
    * Precombine-aware merging makes upserting batches in any split/order
    * converge to "global latest row per key" — the property the DuckDB
    * oracle checks, and what makes retries/replays idempotent at scale.
    *
    * One shuffle total: affected-partition rows ∪ batch are deduped in a
    * single window pass (no separate in-batch dedup + anti-join — each of
    * those is its own shuffle).
    */
  def upsert(spark: SparkSession, batch: DataFrame, commitTime: String = defaultCommitTime()): Unit = {
    if (isEvolved(spark)) {
      evolvedAppend(spark, batch, commitTime, "upsert", dedup = true)
      return
    }
    val incoming = SchemaEvolution.dropSystemColumns(batch)
    if (spec.retainHistory) {
      // Merge-on-read: precombine within the batch, then a pure append of
      // the new versions — no index probe, no partition rewrite; the merge
      // happens at read time ([[read]]/[[readAsOf]]). insert() supplies
      // bootstrap, schema evolution, and the drift-rewrite path (which
      // preserves every version and its commit time).
      insert(spark, dedupLatest(incoming), commitTime)
      return
    }
    currentUserSchema(spark) match {
      case None => // bootstrap: the table is empty
        commit(spark, commitTime, "upsert", WholeTable)(_ =>
          writeOut(withMeta(dedupLatest(incoming), commitTime), SaveMode.Overwrite))

      case Some(current) =>
        val aligned = SchemaEvolution.align(incoming, current)
        // Both merge sides carry a commit-time column: incoming rows get
        // THIS commit, existing rows keep the commit that last changed
        // them — whichever row wins the precombine keeps its time.
        val alignedC = aligned.withColumn(CommitTimeCol, lit(commitTime))
        def alignExisting(raw: DataFrame) = SchemaEvolution.align(
          raw.drop(RecordKeyCol, PartitionPathCol), alignedC.schema)
        lazy val existing = alignExisting(readRaw(spark))

        // Non-global keys: only partitions present in the batch can change.
        // Global keys: additionally rewrite partitions holding an old copy
        // of a batch key (the row relocates), found via the key probe
        // (≈ Hudi's index probe). Non-widen-readable type drift forces a
        // one-off full-table rewrite (all partitions scanned, cast, and
        // rewritten) so old files never linger under a schema the parquet
        // reader can't widen them into.
        val fullRewrite = driftNeedsRewrite(current, incoming.schema)
        val relocating = spec.globalKeys && spec.partitionCols.nonEmpty
        // One tuple collect serves the scan's partition pruning AND —
        // on the non-global path, where only batch partitions can change
        // — the commit record's scoped listing and a scan of exactly the
        // batch's partition dirs: the common write path never lists the
        // table.
        val batchTuples =
          if (fullRewrite || spec.partitionCols.isEmpty) None
          else Some(collectPartitionTuples(aligned))
        val scopeDirs: Option[Set[String]] =
          if (!spec.globalKeys) batchTuples.map(_.map(partitionDirOf).toSet)
          else None
        commit(spark, commitTime, "upsert",
          scopeDirs.fold[CommitScope](WholeTable)(PartitionDirs)) { before =>
          // The scoped listing doubles as the scan's file list; without a
          // sidecar the root scan's schema merge stands in.
          val scoped = scopeDirs.flatMap(_ => sidecarSchema(spark).map(s =>
              if (before.isEmpty) SchemaEvolution.emptyOf(spark, s)
              else readFilesRaw(spark, before.keys.toSeq.sorted)))
            .map(alignExisting)
            .getOrElse(batchTuples.map(tuplesFilter).fold(existing)(existing.filter))
          val toScan =
            if (fullRewrite || !relocating) scoped
            else keyProbe(existing, aligned.select(spec.keyCols.map(col): _*).distinct(),
              Some(aligned.select(spec.partitionCols.map(col): _*).distinct()))
          val combined = toScan.withColumn(SrcCol, lit(0))
            .unionByName(alignedC.withColumn(SrcCol, lit(1)), allowMissingColumns = true)
          val merged = dedupLatest(combined, extraOrder = Seq(col(SrcCol).desc))
            .drop(SrcCol)
          // Global-key relocation can leave a scanned partition with ZERO
          // surviving rows.
          if (relocating) merged.persist()
          try overwritePartitions(spark, withMeta(merged, commitTime),
            if (relocating) Some(collectPartitionTuples(toScan)) else None)
          finally merged.unpersist()
        }
    }
  }
}

object KeyedTable {
  // Layout generations per (session identity, table path) — see
  // KeyedTable.layoutGens for the caching contract.
  private[table] val layoutCache =
    scala.collection.concurrent.TrieMap
      .empty[(Int, String), Seq[(Int, Seq[String])]]

  /** Row cap of an in-memory sidecar snapshot (see colStatsSnapshot) and
    * of a micro-batch the pipeline keeps on the driver.
    */
  private[graft] val MaxSnapshotRows = 65536

  /** Runs a METADATA-sized query (sidecar probes, candidate-file
    * selection, stats folds) under a conf scope that matches its shape:
    * AQE off (its stage re-planning adds 2–4 scheduler round-trips per
    * collect and has nothing to coalesce at KB scale) and 8 shuffle
    * partitions (probe-sized joins/distincts don't amortize 32 empty
    * tasks). Plan-time index probes run 2–4× fewer Spark jobs under
    * this scope — on the bench that is the difference between a cheap
    * DPP-style subquery and a visible plan-time stall. The previous
    * values restore in `finally`; the set/restore is session-global, so
    * a CONCURRENT query planned in another thread inside the window
    * would plan with these values — perf-only, never correctness, the
    * same class of risk Spark's own `withSQLConf` test helper accepts.
    * MEASURED ALTERNATIVE (round 14): scoping the overrides in a
    * thread-local cloned conf (`SQLConf.withExistingConf`) leaks the
    * AQE override — `InsertAdaptiveSparkPlan` consults the SESSION's
    * conf, not `SQLConf.get` — costing 2 extra scheduler jobs per probe
    * (8 vs 6 on a warm point serve). With tens of probe-serving queries
    * ×3 bench passes that is seconds of regression against a
    * multi-threaded-planning nicety this single-session engine never
    * exercises, so the set/restore stays.
    */
  private[graft] def withMetaConf[A](spark: SparkSession)(f: => A): A = {
    val conf = spark.conf
    val aqe = conf.get("spark.sql.adaptive.enabled", "true")
    val sp = conf.get("spark.sql.shuffle.partitions", "200")
    conf.set("spark.sql.adaptive.enabled", "false")
    conf.set("spark.sql.shuffle.partitions", "8")
    try f finally {
      conf.set("spark.sql.adaptive.enabled", aqe)
      conf.set("spark.sql.shuffle.partitions", sp)
    }
  }

  val CommitTimeCol = "_graft_commit_time"
  val RecordKeyCol = "_graft_record_key"
  val PartitionPathCol = "_graft_partition_path"

  /** Where [[KeyedTable.commit]] takes a commit's file record from. */
  private[table] sealed trait CommitScope
  /** A diff of whole-table listings taken before and after the write —
    * honest where the write itself is O(table): bootstrap, full
    * rewrites, unpartitioned and global-key writes.
    */
  private[table] case object WholeTable extends CommitScope
  /** A diff of listings of these table-relative partition dirs only:
    * O(their files), never O(table files). Sound when the write creates
    * and removes data files under `dirs` alone — untouched dirs add
    * nothing to either side, so the scoped diff equals the full one.
    */
  private[table] final case class PartitionDirs(dirs: Set[String]) extends CommitScope
  /** The writer's own record ([[Landed.record]]): it knows exactly which
    * files it added and removed, so nothing is listed.
    */
  private[table] case object WriterRecord extends CommitScope
  /** No record: a legacy marker, on which consumers fall back to the
    * full scan (evolved-layout appends).
    */
  private[table] case object Unrecorded extends CommitScope

  /** What a commit's write landed: the schema of the rows it wrote (None
    * when it wrote none) and, under [[WriterRecord]], its file record —
    * the table-relative data files it (added, removed).
    */
  private[table] final case class Landed(
      schema: Option[StructType], record: (Seq[String], Seq[String]) = (Nil, Nil))

  /** Count of FULL-table recursive listings — observable so a spec can
    * pin that the partition-scoped write paths (upsert/insert/delete on
    * a partitioned non-global table, the bloom file path) never perform
    * one: at production file counts an O(table-files) driver listing
    * per commit is the write-side scaling hazard Hudi's metadata table
    * exists to avoid.
    */
  private[graft] val fullListings = new java.util.concurrent.atomic.AtomicLong

  /** The table layer's one DATA-file listing: the `*.parquet` files under
    * `dirs` (relative to `root`; "" is `root`), recursively, as
    * (root-relative path, status). A path segment under `root` starting
    * with '_' or '.' is metadata (Spark's own rule; the _graft_colstats /
    * _graft_bloom sidecars keep parquet of their own). The root is
    * qualified so the prefix strip matches listFiles' qualified paths — a
    * relative root would classify data under an ancestor like ".work" as
    * metadata. A missing sub-dir contributes nothing; `root` must exist.
    */
  private[graft] def dataFilesUnder(
      fs: FileSystem, root: Path,
      dirs: Iterable[String] = Seq("")): Seq[(String, FileStatus)] = {
    val qroot = fs.makeQualified(root)
    val prefix = qroot.toUri.getPath + "/"
    dirs.toSeq.flatMap { d =>
      val p = if (d.isEmpty) qroot else new Path(qroot, d)
      if (d.nonEmpty && !fs.exists(p)) Nil
      else {
        val it = fs.listFiles(p, true)
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
          .map(st => st.getPath.toUri.getPath.stripPrefix(prefix) -> st)
          .filter { case (rel, st) => st.getPath.getName.endsWith(".parquet") &&
            !rel.split('/').exists(seg => seg.startsWith("_") || seg.startsWith(".")) }
          .toSeq
      }
    }
  }

  /** Qualified table path → spec, registered by [[KeyedTable.read]] — the
    * point-lookup rewrite rule consults ONLY this in-memory map (zero
    * filesystem work per plan node; an empty registry short-circuits the
    * rule), and any plan the rule could serve was necessarily built
    * through `read`, which warms the entry first. Last registration
    * wins, like the MV registry.
    */
  private[graft] val specRegistry =
    new java.util.concurrent.ConcurrentHashMap[String, KeyedTableSpec]()
  /** TBLPROPERTIES key holding the last commit [[KeyedTable.syncCatalog]]
    * registered partitions for (Hudi's `last_commit_time_sync`).
    */
  private val LastSyncProperty = "graft.last_commit_time_sync"
  private val RowNumCol = "_graft_rn"
  private val SrcCol = "_graft_src"
  private val OverwriteModeKey = "spark.sql.sources.partitionOverwriteMode"

  def apply(spec: KeyedTableSpec): KeyedTable = new KeyedTable(spec)

  /** Types whose min/max ordering is well-defined and parquet-storable —
    * the column-stats family's admission set (the same set Iceberg/Hudi
    * record column bounds for). Shared by [[KeyedTable.recordColumnStats]]
    * and the planner rules so the advisor can never recommend a stats
    * build the rules later decline.
    */
  private[graft] def statsOrderedType(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case FloatType | DoubleType => true
    case DateType | TimestampType | TimestampNTZType => true
    case StringType => true
    case _: DecimalType => true
    case _ => false
  }

  /** String bounds stored in the stats sidecar are truncated to this many
    * code points (the Iceberg convention): per-file metadata must stay
    * metadata-sized even when someone records stats on a document-body
    * column.
    */
  private[graft] val StatsStringPrefix = 64

  /** Sound LOWER bound for every string in a file given its true min: the
    * first [[StatsStringPrefix]] code points (a prefix precedes the full
    * string in UTF-8 byte order, the order Spark compares strings in).
    */
  private[table] def truncLower(s: String): String =
    if (s == null) null
    else if (s.codePointCount(0, s.length) <= StatsStringPrefix) s
    else s.substring(0, s.offsetByCodePoints(0, StatsStringPrefix))

  /** Sound UPPER bound given the true max: the prefix with its last
    * incrementable code point incremented and the tail dropped — every
    * string starting with the original prefix precedes it (UTF-8 is
    * prefix-free and order-preserving, so byte order = code-point
    * order). Increments skip the surrogate gap (D800–DFFF holds no code
    * points); a prefix of all-U+10FFFF cannot be incremented, so the
    * FULL max is stored (exact, just long — correctness over the size
    * optimization in that pathological corner).
    */
  private[table] def truncUpper(s: String): String = {
    if (s == null) return null
    if (s.codePointCount(0, s.length) <= StatsStringPrefix) return s
    val cps = s.codePoints().limit(StatsStringPrefix.toLong).toArray
    var i = cps.length - 1
    while (i >= 0) {
      val cp = cps(i)
      if (cp < 0x10FFFF) {
        val next = if (cp == 0xD7FF) 0xE000 else cp + 1
        val sb = new java.lang.StringBuilder
        var j = 0
        while (j < i) { sb.appendCodePoint(cps(j)); j += 1 }
        sb.appendCodePoint(next)
        return sb.toString
      }
      i -= 1
    }
    s
  }

  private[table] val truncLowerUdf =
    udf((s: String) => truncLower(s))
  private[table] val truncUpperUdf =
    udf((s: String) => truncUpper(s))

  /** Current listed length of a stats row's file (−1 when unlisted —
    * unreachable for rows just scanned), keyed by table-relative path.
    * A companion-object factory so the closure captures only the two
    * serializable locals, never the table instance.
    */
  private[table] def relLenUdf(
      lenByRel: Map[String, Long], rootPrefix: String) =
    udf((abs: String) => lenByRel.getOrElse(
      new Path(abs).toUri.getPath.stripPrefix(rootPrefix), -1L))

  /** `input_file_name()`-style URI string → table-relative path. Applied
    * to file-count-sized frames only (post-groupBy sidecar rows).
    */
  private[table] def relPathUdf(rootPrefix: String) =
    udf((abs: String) =>
      new Path(new java.net.URI(abs)).toUri.getPath.stripPrefix(rootPrefix))

  /** NOT-IN over a file-count-sized exclusion set as a set-closure UDF:
    * `isin(removed: _*)` builds a literal expression tree that at
    * 100 TB scale is 10^5–10^6 entries — past codegen method limits and
    * quadratic in the planner — while the broadcast hash set is O(1)
    * per row (the incremental stats carry's keep filter avoids IN lists
    * the same way). Index `file` entries are non-null by construction,
    * but the guard keeps NOT-IN's null semantics anyway (a null file
    * drops, as `isin` would drop it) and documents the invariant.
    */
  private[table] def notInSetUdf(removed: Seq[String]) = {
    val s = removed.toSet
    udf((f: String) => f != null && !s.contains(f))
  }

  private val commitTimeLock = new Object
  private var lastIssuedCommitTime = ""

  /** Millisecond timestamp id, STRICTLY MONOTONIC per JVM: two mutators
    * landing in the same millisecond would otherwise mint the same id,
    * and a duplicated commit id conflates two commits everywhere a
    * consumer groups or bounds by `CommitTimeCol`. Spins to the next
    * millisecond (bounded sub-ms wait) rather than suffixing — every
    * consumer treats the id as an opaque sortable string, and a suffix
    * would break the fixed-width format's sort.
    */
  def defaultCommitTime(): String = commitTimeLock.synchronized {
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyyMMddHHmmssSSS")
      .withZone(java.time.ZoneOffset.UTC)
    var c = fmt.format(java.time.Instant.now())
    while (c <= lastIssuedCommitTime) {
      Thread.sleep(0, 200000) // 0.2 ms — at most ~5 spins
      c = fmt.format(java.time.Instant.now())
    }
    lastIssuedCommitTime = c
    c
  }

  // ---- commit timeline (Hudi's `.hoodie` timeline, reduced to what the
  // engine's consumers need) ---------------------------------------------
  //
  // Every mutator drops one empty marker file `<seq>.<commitTime>.<action>`
  // in a SIBLING directory `_graft_timeline.<table>` — sibling like the FS
  // lock, so it survives both static-overwrite writes (which delete the
  // table directory) and via-tmp rewrites (delete + rename). The marker
  // NAME is the whole record; the zero-padded sequence prefix makes the
  // lexicographic sort of file names the commit ORDER regardless of what
  // commit-id format callers use (callers mix `yyyyMMddHHmmssSSS`
  // defaults with explicit ids like "c0" — names alone would interleave
  // those wrongly). "What changed since X" is a single listStatus — the
  // O(1)-ish change signal [[MaterializedView]] staleness checks and
  // commit-class-aware refresh consult (directory mtimes can't see inside
  // hive partitions).
  //
  // The ACTION word classifies the commit for downstream maintenance:
  //   - data     (insert/bulkinsert/upsert): logical rows changed; a MoR
  //     table can hand the exact change set to [[readStateDelta]].
  //   - layout   (compact/cluster/zorder/evolve/fold): bytes moved, the
  //     logical row set is unchanged — derived state needs no refresh.
  //   - rebuild  (delete/vacuum/restore, and anything unrecognized):
  //     history or preimages were destroyed; derived state must rebuild.

  /** Sibling timeline directory for a table path. */
  def timelineDir(path: String): Path = {
    val p = new Path(path)
    val parent = Option(p.getParent).getOrElse(
      throw new IllegalArgumentException(
        s"table path $path has no parent directory for a timeline sibling"))
    new Path(parent, s"_graft_timeline.${p.getName}")
  }

  /** Record one commit marker. Consecutive duplicate (commitTime, action)
    * pairs collapse (a delegating write path records once); an exclusive
    * create settles a concurrent sequence-number race — the loser retries
    * with the next number.
    *
    * `files` is the commit's FILE RECORD — the table-relative data files
    * this commit added and removed (Hudi keeps the same inventory in each
    * instant's commit metadata). With every marker after a boundary
    * carrying a record, "which files hold rows committed after X" is
    * answered from marker CONTENT alone: incremental readers scan
    * O(delta files) with no table listing, and the MV rewrite's hybrid
    * serve extends to keyed bases. `None` (a legacy or evolved-layout
    * commit) simply makes consumers fall back to the full scan — a file
    * record is an optimization contract, never a correctness gate.
    */
  def recordTimeline(
      spark: SparkSession, path: String,
      commitTime: String, action: String,
      files: Option[(Seq[String], Seq[String])] = None): Unit = {
    require(!action.contains('.') && action.nonEmpty,
      s"timeline action must be a bare word, got '$action'")
    val dir = timelineDir(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    var attempts = 0
    var done = false
    while (!done && attempts < 32) {
      attempts += 1
      val existing = fs.listStatus(dir).map(_.getPath.getName).sorted
      if (existing.exists(n => parseMarker(n) == (commitTime, action))) {
        done = true // delegated path already recorded this commit
      } else if (existing.exists(n => parseMarker(n)._1 == commitTime)) {
        // The id is already on the timeline under a different commit:
        // consumers group and bound by the commit-time COLUMN, so a
        // duplicated id would conflate two commits in every incremental
        // read. Default ids are monotonic per JVM; explicit ids must be
        // fresh per commit.
        throw new IllegalArgumentException(
          s"commit id '$commitTime' is already on the timeline at " +
            s"$dir under a different action; every commit needs a " +
            "distinct id")
      } else {
        val seq = existing.lastOption
          .map(_.takeWhile(_.isDigit).toLong + 1).getOrElse(1L)
        val marker = new Path(dir, f"$seq%09d.$commitTime.$action")
        try {
          val out = fs.create(marker, false)
          try files.foreach { case (added, removed) =>
            val body = (FilesHeader +: added.sorted) ++
              (if (removed.nonEmpty) RemovedHeader +: removed.sorted else Nil)
            out.write(body.mkString("\n").getBytes("UTF-8"))
          } finally out.close()
          done = true
        }
        catch { case _: java.io.IOException => () /* seq taken: retry */ }
      }
    }
    if (!done) throw new java.io.IOException(
      s"could not record timeline marker for $commitTime.$action under $dir")
  }

  private val FilesHeader = "#files"
  private val RemovedHeader = "#removed"

  /** The (added, removed) file record of one marker, or None for a
    * legacy/evolved marker without one. Empty marker bytes = no record;
    * a record with zero files still carries the header line.
    */
  def commitFileRecord(
      spark: SparkSession, path: String,
      markerName: String): Option[(Seq[String], Seq[String])] = {
    val p = new Path(timelineDir(path), markerName)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val raw =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val lines = raw.split('\n').toSeq.filter(_.nonEmpty)
    if (!lines.headOption.contains(FilesHeader)) None
    else {
      val (added, rest) = lines.tail.span(_ != RemovedHeader)
      Some((added, rest.drop(1)))
    }
  }

  /** Table-relative data files holding every row whose commit ranks
    * STRICTLY AFTER `sinceCommit` on the timeline — from marker content
    * alone, no table listing. `None` when the boundary is not on the
    * timeline or any later marker lacks a file record (callers fall back
    * to the full scan).
    *
    * Soundness: every mutator records the files its commit added; a row
    * committed at c physically lives in a file added at c or by a later
    * rewrite (compaction, drift rewrite, delete survivor rewrite) — in
    * either case a commit ranking ≥ c, so the union of post-boundary
    * additions covers every post-boundary row. Files a later recorded
    * commit removed are subtracted (their surviving rows were re-added
    * under that commit), so the candidate set references only live files.
    */
  def addedFilesSince(
      spark: SparkSession, path: String,
      sinceCommit: String): Option[Seq[String]] =
    fileDeltaSince(spark, path, sinceCommit).map(_._1)

  /** Both directions of the file delta after `sinceCommit`: (live files
    * added by post-boundary commits — additions a later recorded commit
    * removed are subtracted; every file ANY post-boundary commit
    * removed). The removed side lets an index built at the boundary
    * discard entries pointing at files that no longer exist (their
    * surviving rows were re-added under a later commit, so the added
    * side covers them). Same `None` contract as [[addedFilesSince]].
    */
  def fileDeltaSince(
      spark: SparkSession, path: String,
      sinceCommit: String): Option[(Seq[String], Seq[String])] =
    fileDeltaAfter(spark, path, timelineMarkers(spark, path), sinceCommit)

  /** [[fileDeltaSince]] over an already-listed timeline (`markers`). */
  private[graft] def fileDeltaAfter(
      spark: SparkSession, path: String, markers: Seq[String],
      sinceCommit: String): Option[(Seq[String], Seq[String])] = {
    val i = markers.lastIndexWhere(m => markerCommit(m) == sinceCommit)
    if (i < 0) None
    else {
      val after = markers.drop(i + 1)
      val records = after.map(commitFileRecord(spark, path, _))
      if (records.exists(_.isEmpty)) None
      else {
        val added = scala.collection.mutable.LinkedHashSet.empty[String]
        val removed = scala.collection.mutable.LinkedHashSet.empty[String]
        records.flatten.foreach { case (a, r) =>
          added ++= a; added --= r; removed ++= r
        }
        Some((added.toSeq, removed.toSeq))
      }
    }
  }

  private def parseMarker(n: String): (String, String) = {
    val body = n.substring(n.indexOf('.') + 1)
    val i = body.lastIndexOf('.')
    (body.substring(0, i), body.substring(i + 1))
  }

  /** The action word of a marker name. */
  def markerAction(n: String): String = parseMarker(n)._2

  /** The commit id of a marker name. */
  def markerCommit(n: String): String = parseMarker(n)._1

  /** The timeline as (commitTime, action) pairs, chronological. */
  def timelineEntries(spark: SparkSession, path: String): Seq[(String, String)] =
    timelineMarkers(spark, path).map(parseMarker)

  /** Listings of a timeline directory — observable so a spec can pin how
    * often a refresh or a planning pays them.
    */
  private[graft] val timelineReads = new java.util.concurrent.atomic.AtomicLong

  /** Raw marker names, sorted (chronological). */
  def timelineMarkers(spark: SparkSession, path: String): Seq[String] = {
    timelineReads.incrementAndGet()
    val dir = timelineDir(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).map(_.getPath.getName).toSeq.sorted
  }

  /** The commit an index built or refreshed over the listing `markers` is
    * current as of — its `built_at` boundary ("" before any commit).
    */
  private[table] def boundaryOf(markers: Seq[String]): String =
    markers.lastOption.map(markerCommit).getOrElse("")

  /** Latest marker name, or "" for a table with no recorded commits —
    * the value derived-state staleness guards compare.
    */
  def latestTimelineMarker(spark: SparkSession, path: String): String =
    timelineMarkers(spark, path).lastOption.getOrElse("")

  /** Commit-class sets for maintenance decisions (see the header above). */
  val DataActions: Set[String] = Set("insert", "bulkinsert", "upsert")
  /** The data actions that only append rows: nothing they commit
    * supersedes a stored row on a copy-on-write table.
    */
  val InsertActions: Set[String] = Set("insert", "bulkinsert")
  val LayoutActions: Set[String] = Set("compact", "cluster", "zorder", "evolve", "fold")
}
