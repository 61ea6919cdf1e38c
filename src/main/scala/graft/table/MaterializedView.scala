package graft.table

import java.nio.file.Files

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Expression}
import org.apache.spark.sql.functions._

import graft.Scratch
import graft.schema.SchemaEvolution

/** Aggregate materialized views with automatic query rewrite — the
  * "summary table" half of a lakehouse serving layer. `create` computes
  * and persists a grouped rollup of a parquet base table; the optimizer
  * rule [[graft.plans.MvAggregateRewrite]] (installed by
  * `GraftExtensions`) then rewrites any matching aggregate over the BASE
  * table onto the rollup. At 100 TB the rewrite is the difference between
  * scanning the fact table and scanning a few thousand summary rows —
  * the same contract as Hive/BigQuery/Materialize MV rewrite, expressed
  * as a Catalyst `Rule[LogicalPlan]`.
  *
  * Rewrite safety model:
  *   - DERIVABILITY — a query aggregate is rewritten only when its exact
  *     input expression is registered: `sum(e)` → `sum(sum_e)` (re-sum of
  *     partial sums), `count(*)`/`count(1)` → `coalesce(sum(cnt), 0)`,
  *     `min(e)`/`max(e)` → `min(min_e)`/`max(max_e)`. Matching is by the
  *     NORMALIZED SQL rendering of the resolved input expression, so
  *     `sum(CAST(l_quantity AS DECIMAL(18,4)))` matches only an MV that
  *     stored that very cast. Grouping and filter columns must be a
  *     subset of the MV's dimension columns (group-subset rollup is what
  *     partial re-aggregation makes legal). Anything else declines.
  *   - STALENESS — the registry remembers the base directory's
  *     modification time at build; the rule re-reads it (ONE file-status
  *     call, the same guard discipline as `GraftCatalog.replayIfStale`)
  *     and declines when the base has changed since. A stale MV is never
  *     consulted silently.
  *   - Registration is process-scoped (a `TrieMap` keyed by the base
  *     path), mirroring a session catalog's MV metadata; `drop` removes.
  */
object MaterializedView {

  /** Identity signature of one base data file: length + modification
    * time. Both must match for a file to count as "unchanged" — size
    * alone is blind to an in-place rewrite that happens to land on the
    * same byte count (same blind spot a dir mtime has for child-content
    * changes).
    */
  final case class FileSig(len: Long, mtime: Long)

  /** One dimension side of a star-join MV: `fact.factCol = dim.dimCol`
    * (inner). `qualifiedDim` is precomputed like MvDef.qualifiedBase so
    * the rewrite rule's source matching is string compares.
    */
  final case class JoinLink(
      dimPath: String,
      factCol: String,
      dimCol: String,
      qualifiedDim: String = "",
      dimMtime: Long = 0L,
      dimFiles: Map[String, FileSig] = Map.empty)

  final case class MvDef(
      name: String,
      basePath: String,
      mvPath: String,
      groupCols: Seq[String],
      sums: Map[String, String],   // normalized input sql → mv column
      mins: Map[String, String],
      maxs: Map[String, String],
      countCol: Option[String],
      baseMtime: Long,
      // Data-file inventory (name → length+mtime) of the base at build/
      // refresh — what [[refresh]] diffs to find appended files. Sums/
      // counts/mins/maxs are all append-mergeable, so "recorded ⊆
      // current, signatures equal" is exactly the condition under which
      // an incremental merge is sound; anything else (delete, rewrite —
      // including a same-size in-place rewrite, which the mtime half
      // catches) falls back to rebuild.
      files: Map[String, FileSig] = Map.empty,
      // Filesystem-qualified rendering of basePath, computed ONCE at
      // registration so the rewrite rule's per-Aggregate path match is a
      // string compare — no Hadoop conf/FileSystem allocation per plan
      // node.
      qualifiedBase: String = "",
      // COUNT(expr) measures (non-null counts): normalized input sql →
      // mv column. Derives `count(col)` and — paired with the matching
      // sum — `avg(col)`. Keyed MVs auto-register one per sum measure:
      // the signed-delta refresh needs the non-null count to tell "sum
      // cancelled to 0" from "no non-null inputs left" (NULL).
      counts: Map[String, String] = Map.empty,
      // Keyed-base MVs: the base table's spec (refresh reconstructs the
      // KeyedTable from it) and the timeline marker current at build/
      // refresh — the staleness signal replacing directory mtime, which
      // cannot see inside hive partition directories.
      keyedSpec: Option[KeyedTableSpec] = None,
      baseCommit: String = "",
      // Star-join MVs: the rollup aggregates `fact ⋈ dim1 ⋈ … ⋈ dimN`
      // (inner equi-joins); basePath is the FACT side, each link one
      // dimension table with its join columns and its own change
      // signature (mtime + file inventory — a dim edit invalidates the
      // whole rollup, a pure fact append refreshes incrementally).
      links: Seq[JoinLink] = Nil,
      // Total bytes of the rollup's data files at build/refresh — the
      // COST of serving a query from this MV. When several MVs over the
      // same base can serve an aggregate, the rewrite rule scans the
      // smallest one (classic MV selection, on a statistic one listStatus
      // pays for). −1 = unknown (pre-upgrade sidecar); sorts last.
      rollupBytes: Long = -1L,
      // EXPRESSION dimensions (normalized input sql → mv column): derived
      // grouping columns like `month(o_orderdate)` — the BI time-
      // hierarchy shape. Stored computed in the rollup; the rewrite
      // matches a query's grouping/filter SUBTREES against these by the
      // same normalized-SQL discipline as measures.
      exprDims: Map[String, String] = Map.empty,
      // base column (lowercase) → derived-dim rollup column that is NULL
      // iff that column is. Decided at CREATE time from the RESOLVED
      // expression tree (typed datetime casts + the extract family —
      // a string→date cast NULLs unparseable non-null input and is
      // excluded), so the rewrite can serve optimizer-inferred
      // `isnotnull(col)` conjuncts soundly.
      nullMirrors: Map[String, String] = Map.empty,
      // Hive partition columns of the ROLLUP's own storage (leading
      // dims): a served scan with a filter on them partition-prunes —
      // at 100 TB a rollup can itself hold billions of groups, and the
      // dashboard slice (one region, one day) should read one directory
      // of it, not all of them. Empty = flat (the default).
      partCols: Seq[String] = Nil) {
    /** All rollup dimension column names, plain then derived. */
    def dimCols: Seq[String] = groupCols ++ exprDims.values.toSeq
  }

  // A base table can carry SEVERAL rollups at once (a per-day MV and a
  // per-month MV over the same fact table is the normal serving-layer
  // shape), so the registry keys on (base path, MV name).
  /** Most distinct touched-group tuples the min/max group-scoped refresh
    * will collect for its literal pruning predicate; beyond this a full
    * rebuild is cheaper than a kilobyte-scale filter expression.
    */
  private val GroupRebuildCap = 1000

  private val registry = TrieMap.empty[(String, String), MvDef]

  def isEmpty: Boolean = registry.isEmpty
  def all: Iterable[MvDef] = registry.values
  def lookup(basePath: String): Option[MvDef] =
    registry.collectFirst { case ((b, _), d) if b == basePath => d }
  def lookupAll(basePath: String): Seq[MvDef] =
    registry.collect { case ((b, _), d) if b == basePath => d }.toSeq
  /** Unregister every MV over `basePath` (rollup files stay on disk —
    * re-`attach`able; this drops the serving registration only).
    */
  def drop(basePath: String): Unit =
    registry.keys.filter(_._1 == basePath).foreach(registry.remove)
  def drop(basePath: String, name: String): Unit = {
    registry.remove((basePath, name)); ()
  }
  private def register(d: MvDef): Unit =
    registry.put((d.basePath, d.name), d)

  /** Normalized rendering of a resolved expression: attribute references
    * collapse to their bare lowercase name, and IDENTITY casts (target
    * type = input type) are elided — the optimizer's SimplifyCasts
    * removes them on the plan side, so a registration rendered with the
    * redundant cast would never match. Plan-side and registration-side
    * renderings then compare equal regardless of exprIds, qualifiers,
    * or redundant casts.
    */
  def normalize(e: Expression): String = e.transform {
    // The optimizer constant-folds and cast-simplifies plan-side
    // expressions; registration-side (analyzed, unoptimized) renderings
    // must canonicalize the same way or `CAST(100 AS BIGINT)` never
    // matches the plan's `100L`.
    case f if f.foldable && !f.isInstanceOf[
      org.apache.spark.sql.catalyst.expressions.Literal] =>
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        f.eval(), f.dataType)
    case c: org.apache.spark.sql.catalyst.expressions.Cast
      if c.child.dataType == c.dataType => c.child
    case a: Attribute =>
      AttributeReference(a.name.toLowerCase(java.util.Locale.ROOT), a.dataType,
        a.nullable)()
  }.sql

  /** Filesystem-qualified rendering of a path (scheme + authority). */
  def qualify(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf())
      .makeQualified(p).toString
  }

  /** Resolve a measure input Column against the base and return its
    * normalized-SQL registry key — validating at CREATE time that the
    * rendering survives the round trip the lifecycle depends on:
    * [[refresh]] reconstructs the measure via `expr(normalizedSql)` from
    * the sidecar, so an expression whose `.sql` does not parse back (or
    * resolves to something else) must fail HERE with a clear message, not
    * at first refresh.
    */
  private def measureKey(base: DataFrame, c: Column): String = {
    def resolvedSql(col: Column): String = {
      val analyzed = base.select(col).queryExecution.analyzed
      normalize(analyzed.expressions.head match {
        case a: Alias => a.child
        case e => e
      })
    }
    val sql = resolvedSql(c)
    val back =
      try resolvedSql(expr(sql))
      catch {
        case e: Exception =>
          throw new IllegalArgumentException(
            s"MV measure input renders as `$sql`, which does not parse/" +
              "resolve back against the base — refresh could never " +
              "reconstruct it. Use an expression with a stable SQL " +
              s"rendering. (${e.getMessage})", e)
      }
    require(back == sql,
      s"MV measure input is not round-trip stable: `$sql` re-resolves as " +
        s"`$back`; refresh would compute a different measure than create")
    sql
  }

  /** Directory modification time of the base — bumped by any file
    * create/delete on local and HDFS schemes; one status call.
    */
  def baseMtime(spark: SparkSession, path: String): Long = {
    val p = new Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf())
      .getFileStatus(p).getModificationTime
  }

  /** Data-file inventory of the base (name → length); `_`/`.`-prefixed
    * entries (sidecars, _SUCCESS, staging) excluded. A single-file base
    * (the fixture layout) inventories itself.
    */
  private[graft] def listDataFiles(
      spark: SparkSession, path: String): Map[String, FileSig] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val st = fs.getFileStatus(p)
    if (st.isFile) Map(p.getName -> FileSig(st.getLen, st.getModificationTime))
    else {
      val entries = fs.listStatus(p).toSeq
        .filterNot(s => s.getPath.getName.startsWith("_") ||
          s.getPath.getName.startsWith("."))
      // FLAT bases only (what the fixtures ship and what create() itself
      // writes): a hive-partitioned base hides subdirectory changes from
      // both the root-mtime staleness guard and this inventory, which
      // would make the rewrite serve stale answers SILENTLY. Refusing at
      // registration turns the blind spot into an explicit unsupported
      // case (partitioned bases want KeyedTable's commit timeline as the
      // change signal, not directory stats).
      val dirs = entries.filter(_.isDirectory)
      require(dirs.isEmpty,
        s"MaterializedView supports flat parquet bases only; $path has " +
          s"subdirectories ${dirs.map(_.getPath.getName).take(3).mkString(",")}")
      entries.filter(_.isFile)
        .map(s => s.getPath.getName -> FileSig(s.getLen, s.getModificationTime))
        .toMap
    }
  }

  /** Compute, persist, and register the rollup over a FLAT parquet base.
    * `sums`/`mins`/`maxs`/`counts` map MV column name → input Column over
    * the base (`counts` stores non-null `count(expr)`); `countCol` stores
    * `count(1)`.
    */
  def create(
      spark: SparkSession,
      name: String,
      basePath: String,
      mvPath: String,
      groupCols: Seq[String],
      sums: Seq[(String, Column)] = Nil,
      mins: Seq[(String, Column)] = Nil,
      maxs: Seq[(String, Column)] = Nil,
      countCol: Option[String] = None,
      counts: Seq[(String, Column)] = Nil,
      exprDims: Seq[(String, Column)] = Nil,
      partitionBy: Seq[String] = Nil): MvDef = {
    require(partitionBy.forall(groupCols.contains),
      s"rollup partition columns must be leading plain dims; got " +
        s"$partitionBy over $groupCols")
    val base = spark.read.parquet(basePath)
    val d0 = defOf(spark, base, name, basePath, mvPath, groupCols,
      sums, mins, maxs, countCol, counts, exprDims)
    val d = d0.copy(
      baseMtime = baseMtime(spark, basePath),
      files = listDataFiles(spark, basePath),
      partCols = partitionBy)
    val rollup = buildRollup(base, d)
    writeRollup(rollup, d, mvPath)
    // Hive partition-value round-trip check: partition DIRECTORY NAMES
    // re-infer their types on read ("01" comes back as int 1), and a
    // drifted dim type would silently corrupt every merge and serve.
    // Refuse loudly at create; the operator partitions on a stable dim.
    if (partitionBy.nonEmpty) {
      def refuse(msg: String): Nothing = {
        new Path(mvPath).getFileSystem(spark.sessionState.newHadoopConf())
          .delete(new Path(mvPath), true)
        throw new IllegalArgumentException(msg)
      }
      val want = rollup.schema.fields.map(f => f.name -> f.dataType).toMap
      val got = spark.read.parquet(mvPath).schema
      val drift = got.fields.filter(f => want.get(f.name).exists(_ != f.dataType))
      if (drift.nonEmpty)
        refuse("rollup partitioning does not round-trip: " +
          drift.map(f => s"${f.name} reads back as ${f.dataType}")
            .mkString(", ") + " — partition on a type-stable dim")
      // Directory names also normalize VALUES, which the type check
      // cannot see: an empty-string dim is written as
      // __HIVE_DEFAULT_PARTITION__ and reads back NULL, silently merging
      // the empty-string group into the null group on every later merge
      // and serve. Compare the distinct partition tuples themselves —
      // both sides are partition-count-bounded (one tuple per hive dir).
      def tupleSet(df: DataFrame): Set[Seq[String]] =
        df.select(partitionBy.map(col): _*).distinct().collect()
          .map(r => partitionBy.indices.map(i =>
            if (r.isNullAt(i)) null else r.get(i).toString): Seq[String])
          .toSet
      val wrote = tupleSet(rollup)
      val read = tupleSet(spark.read.parquet(mvPath))
      if (wrote != read)
        refuse("rollup partition VALUES do not round-trip (e.g. an " +
          "empty-string dim reads back as null) — partition on a " +
          s"value-stable dim; lost ${(wrote -- read).take(3)}, " +
          s"gained ${(read -- wrote).take(3)}")
    }
    val d1 = d.copy(rollupBytes = dataBytes(spark, mvPath))
    writeSidecar(spark, d1)
    register(d1)
    d1
  }

  /** Write a rollup frame under the definition's storage layout. */
  private def writeRollup(df: DataFrame, d: MvDef, path: String): Unit = {
    val w = df.write.mode("overwrite")
    (if (d.partCols.nonEmpty) w.partitionBy(d.partCols: _*) else w)
      .parquet(path)
  }

  /** The star shape a joined MV aggregates: fact inner-equi-joined with
    * each dimension. Shared by create, refresh, and rebuild so the
    * measured relation cannot drift between them.
    */
  private def joinedBase(
      spark: SparkSession,
      factPath: String,
      links: Seq[JoinLink]): DataFrame =
    links.foldLeft(spark.read.parquet(factPath)) { (acc, l) =>
      acc.join(spark.read.parquet(l.dimPath),
        col(l.factCol) === col(l.dimCol), "inner")
    }

  /** Compute, persist, and register a rollup over `fact ⋈ dim1 ⋈ … ⋈
    * dimN` (inner equi-joins) — the star-schema serving shape: the
    * query-side join + aggregate collapses to a scan of a few thousand
    * summary rows. `joins` lists `(dimPath, factCol, dimCol)` per
    * dimension; dims (groupCols) and filter columns may come from ANY
    * side. Measures live on the joined relation, so a fact row that
    * joins K dim rows counts K times — exactly what the equivalent
    * query computes. Refresh is fact-append incremental: appended fact
    * files join the UNCHANGED dims and merge; any dim change rebuilds
    * (a dim edit can rewrite history for every group).
    */
  def createJoined(
      spark: SparkSession,
      name: String,
      factPath: String,
      mvPath: String,
      joins: Seq[(String, String, String)],
      groupCols: Seq[String],
      sums: Seq[(String, Column)] = Nil,
      mins: Seq[(String, Column)] = Nil,
      maxs: Seq[(String, Column)] = Nil,
      countCol: Option[String] = None,
      counts: Seq[(String, Column)] = Nil,
      exprDims: Seq[(String, Column)] = Nil): MvDef = {
    require(joins.nonEmpty, "a joined MV needs at least one dimension link")
    val links = joins.map { case (dimPath, fc, dc) =>
      JoinLink(dimPath, fc, dc,
        qualifiedDim = qualify(spark, dimPath),
        dimMtime = baseMtime(spark, dimPath),
        dimFiles = listDataFiles(spark, dimPath))
    }
    // Global name uniqueness FIRST (schema-only check): dims and
    // measures resolve by bare column name across the whole star; a
    // fact/dim name collision would let a query's fact-side column
    // silently match a dim-side rollup column.
    val factCols = spark.read.parquet(factPath).columns.toSeq
    val dimCols = links.map(l => spark.read.parquet(l.dimPath).columns.toSeq)
    val allCols = (factCols ++ dimCols.flatten)
      .map(_.toLowerCase(java.util.Locale.ROOT))
    val dup = allCols.groupBy(identity).collect { case (c, xs) if xs.length > 1 => c }
    require(dup.isEmpty,
      s"star MV requires globally unique column names; duplicated: " +
        dup.toSeq.sorted.mkString(", "))
    // Side ownership: factCol must live on the accumulated left side and
    // dimCol on its dimension — the rewrite matches pairs BY owning
    // path, so a reversed registration would never fire (and could
    // never be told apart from the opposite wiring).
    links.zip(dimCols).foldLeft(factCols) { case (accCols, (l, dc)) =>
      def has(cs: Seq[String], c: String) = cs.exists(_.equalsIgnoreCase(c))
      require(has(accCols, l.factCol) && has(dc, l.dimCol),
        s"join link (${l.dimPath}, ${l.factCol}, ${l.dimCol}): factCol " +
          "must be a fact-side column and dimCol a column of that " +
          "dimension (swap them if reversed)")
      accCols ++ dc
    }
    val base = joinedBase(spark, factPath, links)
    val d0 = defOf(spark, base, name, factPath, mvPath, groupCols,
      sums, mins, maxs, countCol, counts, exprDims)
    val d = d0.copy(
      baseMtime = baseMtime(spark, factPath),
      files = listDataFiles(spark, factPath),
      links = links)
    buildRollup(base, d).write.mode("overwrite").parquet(mvPath)
    val d1 = d.copy(rollupBytes = dataBytes(spark, mvPath))
    writeSidecar(spark, d1)
    register(d1)
    d1
  }

  /** Compute, persist, and register a rollup over a [[KeyedTable]] base —
    * the production shape: the base is hive-partitioned and mutated
    * through commits, so staleness rides the COMMIT TIMELINE
    * ([[KeyedTable.latestTimelineMarker]], one listStatus) instead of
    * directory mtimes, and [[refresh]] is commit-class aware: layout
    * commits (compact/cluster/zorder) re-arm without touching data, data
    * commits on a history table merge the exact [[KeyedTable.readStateDelta]]
    * change set (cost O(view + delta), never O(base)), insert-only
    * commits on a COW table merge the appended rows, and anything
    * destructive (delete/vacuum/restore) rebuilds.
    *
    * The rollup aggregates the RESOLVED state (`table.read`), and the
    * rewrite rule serves aggregates whose plan IS a resolved read — for a
    * history table that means the latest-per-key window must be present
    * and match the table's resolve spec exactly.
    *
    * Requirements: `countCol` (the signed-delta refresh detects group
    * death by the merged row count reaching zero) and a non-evolved base
    * (partition evolution changes the read shape under the MV; fold
    * generations first). A non-null count measure is auto-registered per
    * sum (`_nn_<sumCol>`) — the piece that keeps "sum cancelled to 0"
    * distinct from "no non-null inputs" (NULL) under retractions, and
    * what makes `count(col)`/`avg(col)` derivable.
    */
  def createKeyed(
      spark: SparkSession,
      name: String,
      table: KeyedTable,
      mvPath: String,
      groupCols: Seq[String],
      sums: Seq[(String, Column)] = Nil,
      mins: Seq[(String, Column)] = Nil,
      maxs: Seq[(String, Column)] = Nil,
      countCol: Option[String] = None,
      counts: Seq[(String, Column)] = Nil,
      exprDims: Seq[(String, Column)] = Nil): MvDef = {
    require(countCol.isDefined,
      "a keyed MV must store a row count (countCol): incremental refresh " +
        "detects group death by the merged count reaching zero")
    require(!table.isEvolved(spark),
      "a keyed MV requires a non-evolved base: partition evolution " +
        "changes the table's read shape — fold generations first")
    val basePath = table.spec.path
    // Capture the timeline marker BEFORE scanning: a commit landing
    // mid-build then reads as "newer than the MV" — the safe direction.
    val commit = KeyedTable.latestTimelineMarker(spark, basePath)
    require(commit.nonEmpty,
      s"no commit timeline at ${KeyedTable.timelineDir(basePath)}: keyed " +
        "MVs need the timeline as their change signal (write through the " +
        "KeyedTable mutators)")
    val base = table.read(spark)
    val autoNn = sums
      .map { case (n, c) => s"_nn_$n" -> c }
      .filterNot { case (n, _) => counts.exists(_._1 == n) }
    val d = defOf(spark, base, name, basePath, mvPath, groupCols,
      sums, mins, maxs, countCol, counts ++ autoNn, exprDims)
      .copy(keyedSpec = Some(table.spec), baseCommit = commit)
    buildRollup(base, d).write.mode("overwrite").parquet(mvPath)
    val d1 = d.copy(rollupBytes = dataBytes(spark, mvPath))
    writeSidecar(spark, d1)
    register(d1)
    d1
  }

  /** Resolve + round-trip-validate every measure key (BEFORE any write,
    * so an unsupported measure expression fails eagerly and leaves
    * nothing behind) and assemble the definition.
    */
  private def defOf(
      spark: SparkSession,
      base: DataFrame,
      name: String,
      basePath: String,
      mvPath: String,
      groupCols: Seq[String],
      sums: Seq[(String, Column)],
      mins: Seq[(String, Column)],
      maxs: Seq[(String, Column)],
      countCol: Option[String],
      counts: Seq[(String, Column)],
      exprDims: Seq[(String, Column)]): MvDef = {
    require(
      sums.nonEmpty || mins.nonEmpty || maxs.nonEmpty ||
        countCol.nonEmpty || counts.nonEmpty,
      "an MV needs at least one measure")
    require(name.nonEmpty && (groupCols.nonEmpty || exprDims.nonEmpty),
      "an MV needs a name and at least one dimension column " +
        "(the sidecar format has no empty-field encoding)")
    MvDef(
      name, basePath, mvPath, groupCols,
      sums.map { case (n, c) => measureKey(base, c) -> n }.toMap,
      mins.map { case (n, c) => measureKey(base, c) -> n }.toMap,
      maxs.map { case (n, c) => measureKey(base, c) -> n }.toMap,
      countCol,
      0L, Map.empty,
      qualify(spark, basePath),
      counts.map { case (n, c) => measureKey(base, c) -> n }.toMap,
      exprDims = exprDims
        .map { case (n, c) => measureKey(base, c) -> n }.toMap,
      nullMirrors = exprDims.flatMap { case (n, c) =>
        nullChainAttr(resolvedExpr(base, c)).map(_ -> n)
      }.toMap)
  }

  /** The resolved expression of a Column over the base (Alias peeled). */
  private def resolvedExpr(base: DataFrame, c: Column): Expression =
    base.select(c).queryExecution.analyzed.expressions.head match {
      case a: Alias => a.child
      case e => e
    }

  /** The single underlying attribute (lowercase) of a RESOLVED derived-
    * dim tree when every step is NULL-iff-argument-NULL: the datetime
    * extract family, date truncation, and casts whose INPUT is already a
    * datetime type (total). A string→date/timestamp cast is excluded —
    * it NULLs unparseable non-null input.
    */
  private def nullChainAttr(e: Expression): Option[String] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast => CCast, Literal}
    import org.apache.spark.sql.catalyst.expressions.{DayOfMonth, DayOfWeek, DayOfYear, Hour, Minute, Month, Quarter, Second, TruncDate, TruncTimestamp, WeekOfYear, Year}
    import org.apache.spark.sql.types.{DateType, StringType, TimestampNTZType, TimestampType}
    // Trunc* is NULL-iff-argument-NULL only for a RECOGNIZED level: an
    // invalid/unsupported format returns NULL for non-null input, so
    // admitting it would register an unsound null mirror. Only foldable
    // string literals can be checked at create time; anything else
    // declines (no mirror — a wider decline, never a wrong serve).
    def truncLevelOk(fmt: Expression, dateOnly: Boolean): Boolean = fmt match {
      case Literal(v, StringType) if v != null =>
        val lvl = v.toString.toLowerCase(java.util.Locale.ROOT)
        val dateLevels = Set("year", "yyyy", "yy", "quarter", "month",
          "mon", "mm", "week")
        val tsLevels = dateLevels ++ Set("day", "dd", "hour", "minute",
          "second", "millisecond", "microsecond")
        (if (dateOnly) dateLevels else tsLevels).contains(lvl)
      case _ => false
    }
    e match {
      case a: AttributeReference =>
        Some(a.name.toLowerCase(java.util.Locale.ROOT))
      case c: CCast if Seq(DateType, TimestampType, TimestampNTZType)
        .contains(c.child.dataType) => nullChainAttr(c.child)
      case Year(x) => nullChainAttr(x)
      case Month(x) => nullChainAttr(x)
      case DayOfMonth(x) => nullChainAttr(x)
      case DayOfWeek(x) => nullChainAttr(x)
      case DayOfYear(x) => nullChainAttr(x)
      case Hour(x, _) => nullChainAttr(x)
      case Minute(x, _) => nullChainAttr(x)
      case Second(x, _) => nullChainAttr(x)
      case Quarter(x) => nullChainAttr(x)
      case WeekOfYear(x) => nullChainAttr(x)
      case TruncDate(x, fmt) if truncLevelOk(fmt, dateOnly = true) =>
        nullChainAttr(x)
      case TruncTimestamp(fmt, x, _) if truncLevelOk(fmt, dateOnly = false) =>
        nullChainAttr(x)
      case _ => None
    }
  }

  /** The rollup aggregate for a definition, built from the STORED
    * normalized measure/dimension SQL — create and every refresh path
    * compute the measures from the same strings, so they cannot drift.
    */
  private[graft] def buildRollup(base: DataFrame, d: MvDef): DataFrame = {
    val aggCols =
      d.sums.map { case (sql, c) => sum(expr(sql)).as(c) }.toSeq ++
      d.mins.map { case (sql, c) => min(expr(sql)).as(c) }.toSeq ++
      d.maxs.map { case (sql, c) => max(expr(sql)).as(c) }.toSeq ++
      d.counts.map { case (sql, c) => count(expr(sql)).as(c) }.toSeq ++
      d.countCol.map(c => count(lit(1)).as(c)).toSeq
    base.groupBy(groupingCols(d): _*).agg(aggCols.head, aggCols.tail: _*)
  }

  /** Grouping columns computed from the BASE side: plain dims by name,
    * derived dims from their stored SQL, aliased to the rollup column.
    */
  private def groupingCols(d: MvDef): Seq[Column] =
    d.groupCols.map(col) ++
      d.exprDims.map { case (sql, c) => expr(sql).as(c) }.toSeq

  /** Bring a stale rollup current; returns (new def, incremental?) where
    * `incremental = false` means a full rebuild was needed.
    *
    * Flat base: append-only change (every recorded file still present
    * with its recorded length+mtime) → aggregate ONLY the appended files
    * and merge — per-group cost scales with the DELTA, not the base. Any
    * other change → rebuild.
    *
    * Keyed base: decided by the COMMIT CLASSES on the timeline since the
    * recorded marker — layout commits re-arm with no data work; data
    * commits on a history table merge the [[KeyedTable.readStateDelta]]
    * change set (signed: preimages retract, postimages/inserts add, a
    * group whose count reaches zero is dropped — with min/max measures a
    * retraction can remove a group extreme, so touched GROUPS are
    * recomputed from the base, partition-pruned when the dims are
    * partition columns);
    * insert-only commits on a COW table merge the appended rows;
    * delete/vacuum/restore (preimages or history destroyed) rebuild;
    * partition evolution refuses (drop and recreate over the folded
    * table). Either way the sidecar and registry re-arm, so
    * [[graft.plans.MvAggregateRewrite]] serves again.
    */
  def refresh(spark: SparkSession, mvPath: String): (MvDef, Boolean) = {
    val d = attach(spark, mvPath) // sidecar is the source of truth
    if (d.keyedSpec.isDefined) refreshKeyed(spark, d)
    else if (d.links.nonEmpty) refreshJoined(spark, d)
    else refreshFlat(spark, d)
  }

  /** Bring a COARSE rollup current by re-aggregating a FINER one over the
    * same base instead of the base itself — the rollup-hierarchy refresh
    * (a per-month MV refreshing from the per-day MV): cost O(finer
    * rollup), never O(base). Sound when
    *   - the finer MV is CURRENT against the base (same freshness check
    *     its own serving uses: file signatures for a flat base, the
    *     timeline marker for a keyed one),
    *   - every coarse dim is stored by the finer MV (plain dims by name;
    *     derived dims by stored SQL, or recomputable from finer plain
    *     dims — `month(o_orderdate)` over a finer that stores
    *     `o_orderdate`), and
    *   - every coarse measure derives from a finer measure of the SAME
    *     input SQL (sum of partial sums, min of partial mins, …).
    * Re-aggregated measures are cast to the coarse rollup's existing
    * column types, so the stored schema never drifts across refresh
    * paths. The coarse definition INHERITS the finer's recorded base
    * signature — it is now exactly as current as the finer was.
    * Anything underivable throws with the reason; the plain
    * [[refresh]] against the base always remains available.
    */
  def refreshFromFiner(
      spark: SparkSession,
      coarseMvPath: String,
      finerMvPath: String): (MvDef, Boolean) = {
    val c = attach(spark, coarseMvPath)
    val f = attach(spark, finerMvPath)
    require(c.basePath == f.basePath,
      s"coarse (${c.basePath}) and finer (${f.basePath}) bases differ")
    require(c.links.isEmpty && f.links.isEmpty,
      "rollup-hierarchy refresh covers flat and keyed bases (no star links)")
    require(c.keyedSpec == f.keyedSpec,
      "coarse and finer must read the base the same way (keyed spec)")
    // Finer freshness — exactly the check its own serving would make.
    val fresh = f.keyedSpec match {
      case Some(_) =>
        KeyedTable.latestTimelineMarker(spark, f.basePath) == f.baseCommit
      case None =>
        val current = listDataFiles(spark, f.basePath)
        f.files.nonEmpty && current == f.files
    }
    require(fresh,
      s"finer MV '${f.name}' is itself stale against ${f.basePath}; " +
        "refresh it first (the coarse rollup must not inherit staleness)")
    def lc(s: String): String = s.toLowerCase(java.util.Locale.ROOT)
    val finer = spark.read.parquet(finerMvPath)
    val finerDims = f.groupCols.map(lc).toSet
    c.groupCols.foreach(g => require(finerDims.contains(lc(g)),
      s"coarse dim '$g' is not a finer dim (${f.groupCols.mkString(", ")})"))
    // Derived dims: the finer's stored column for the same SQL, else
    // recompute from finer plain dims (the SQL references only them).
    val dimCols: Seq[Column] =
      c.groupCols.map(col) ++
        c.exprDims.map { case (sql, cName) =>
          f.exprDims.get(sql) match {
            case Some(fc) => col(fc).as(cName)
            case None =>
              val e = expr(sql)
              val refs = finer.select(e).queryExecution.analyzed
                .expressions.head.references.map(a => lc(a.name)).toSet
              require(refs.subsetOf(finerDims),
                s"coarse derived dim `$sql` needs non-dim finer columns")
              e.as(cName)
          }
        }.toSeq
    def need(
        kind: String, coarse: Map[String, String],
        finerM: Map[String, String]): Seq[(String, String)] =
      coarse.toSeq.map { case (sql, cName) =>
        finerM.get(sql) match {
          case Some(fc) => cName -> fc
          case None => throw new IllegalArgumentException(
            s"coarse $kind measure `$sql` has no finer counterpart")
        }
      }
    val sumPairs = need("sum", c.sums, f.sums)
    val cntPairs = need("count", c.counts, f.counts)
    val minPairs = need("min", c.mins, f.mins)
    val maxPairs = need("max", c.maxs, f.maxs)
    val ccPair = c.countCol.map { cc =>
      cc -> f.countCol.getOrElse(throw new IllegalArgumentException(
        "coarse stores a row count but the finer MV does not"))
    }
    val aggCols =
      sumPairs.map { case (cName, fc) => sum(col(fc)).as(cName) } ++
      minPairs.map { case (cName, fc) => min(col(fc)).as(cName) } ++
      maxPairs.map { case (cName, fc) => max(col(fc)).as(cName) } ++
      cntPairs.map { case (cName, fc) => sum(col(fc)).as(cName) } ++
      ccPair.map { case (cName, fc) => sum(col(fc)).as(cName) }.toSeq
    val oldTypes = spark.read.parquet(coarseMvPath).schema.fields
      .map(fd => fd.name -> fd.dataType).toMap
    val rebuilt = finer
      .groupBy(dimCols: _*).agg(aggCols.head, aggCols.tail: _*)
      .select(oldTypes.keys.toSeq.sorted
        .map(cn => col(cn).cast(oldTypes(cn)).as(cn)): _*)
    // Inherit the finer's base signature: the coarse rollup is now
    // exactly as current as the finer was at its last refresh.
    val c2 = c.copy(
      baseMtime = f.baseMtime, files = f.files, baseCommit = f.baseCommit)
    publish(spark, c2, Some(rebuilt))
    (c2, true)
  }

  /** Star-join refresh: dims unchanged + fact append-only → aggregate
    * ONLY the appended fact files joined with the dims and merge (per-
    * refresh cost scales with the fact DELTA — the nightly-load shape);
    * any dim change, fact rewrite, or delete → rebuild (a dim edit can
    * retroactively change every group).
    */
  private def refreshJoined(
      spark: SparkSession, d: MvDef): (MvDef, Boolean) = {
    val curFact = listDataFiles(spark, d.basePath)
    val curLinks = d.links.map(l => l.copy(
      dimMtime = baseMtime(spark, l.dimPath),
      dimFiles = listDataFiles(spark, l.dimPath)))
    val dimsUnchanged = d.links.zip(curLinks).forall { case (old, cur) =>
      old.dimFiles == cur.dimFiles
    }
    val factAppendOnly = d.files.nonEmpty &&
      d.files.forall { case (n, sig) => curFact.get(n).contains(sig) }
    val delta = curFact.keySet -- d.files.keySet
    val merged =
      if (dimsUnchanged && factAppendOnly && delta.isEmpty) None // re-arm
      else if (dimsUnchanged && factAppendOnly) {
        val factDelta = spark.read.parquet(
          delta.toSeq.map(n => s"${d.basePath}/$n"): _*)
        val joined = d.links.foldLeft(factDelta) { (acc, l) =>
          acc.join(spark.read.parquet(l.dimPath),
            col(l.factCol) === col(l.dimCol), "inner")
        }
        Some(mergeRollup(spark.read.parquet(d.mvPath),
          buildRollup(joined, d), d))
      } else Some(buildRollup(joinedBase(spark, d.basePath, d.links), d))
    val d2 = d.copy(
      baseMtime = baseMtime(spark, d.basePath),
      files = curFact,
      links = curLinks)
    publish(spark, d2, merged)
    (d2, dimsUnchanged && factAppendOnly)
  }

  private def refreshFlat(
      spark: SparkSession, d: MvDef): (MvDef, Boolean) = {
    val mvPath = d.mvPath
    val current = listDataFiles(spark, d.basePath)
    val appendOnly = d.files.nonEmpty &&
      d.files.forall { case (n, sig) => current.get(n).contains(sig) }
    val delta = current.keySet -- d.files.keySet
    val merged =
      if (appendOnly && delta.isEmpty) None // mtime-only change: re-arm
      else if (appendOnly) {
        val deltaAgg = buildRollup(spark.read.parquet(
          delta.toSeq.map(n => s"${d.basePath}/$n"): _*), d)
        Some(mergeRollup(spark.read.parquet(mvPath), deltaAgg, d))
      } else Some(buildRollup(spark.read.parquet(d.basePath), d))
    val d2 = d.copy(
      baseMtime = baseMtime(spark, d.basePath),
      files = current)
    publish(spark, d2, merged)
    (d2, appendOnly)
  }

  private def refreshKeyed(
      spark: SparkSession, d: MvDef): (MvDef, Boolean) = {
    val spec = d.keyedSpec.get
    val table = KeyedTable(spec)
    // Capture BEFORE any scan: a commit landing mid-refresh reads as
    // newer than the refreshed MV — the safe direction (declines until
    // the next refresh).
    val markers = KeyedTable.timelineMarkers(spark, d.basePath)
    val newLatest = markers.lastOption.getOrElse("")
    val since = markers.filter(_ > d.baseCommit)
    val actions = since.map(KeyedTable.markerAction).toSet
    require(!actions.contains("evolve"),
      s"base ${d.basePath} evolved its partitioning since the MV was " +
        "built; partition evolution changes the read shape — drop the MV " +
        "and recreate it over the folded table")
    val sinceCommit =
      if (d.baseCommit.isEmpty) ""
      else KeyedTable.markerCommit(d.baseCommit)
    val d2 = d.copy(baseCommit = newLatest)

    def rebuild(): (MvDef, Boolean) = {
      publish(spark, d2, Some(buildRollup(table.read(spark), d)))
      (d2, false)
    }

    if (since.isEmpty) { register(d); (d, true) }
    else if (actions.subsetOf(KeyedTable.LayoutActions)) {
      // Bytes moved, logical rows unchanged: re-arm with zero data work.
      publish(spark, d2, None)
      (d2, true)
    } else if (!actions.subsetOf(KeyedTable.DataActions ++ KeyedTable.LayoutActions)
      || sinceCommit.isEmpty) {
      rebuild() // delete/vacuum/restore/unknown: preimages or history gone
    } else if (spec.retainHistory) {
      // MoR: the state-delta feed is the exact change set.
      val delta = table.readStateDelta(spark, sinceCommit).persist()
      try {
        def insertsOnlyMerge(): (MvDef, Boolean) = {
          publish(spark, d2,
            Some(mergeRollup(spark.read.parquet(d.mvPath),
              buildRollup(delta, d), d)))
          (d2, true)
        }
        if (d.mins.nonEmpty || d.maxs.nonEmpty) {
          // An update can retract a group's stored extreme; min/max are
          // not retraction-derivable from the rollup alone. But the
          // damage is confined to the groups the delta TOUCHED, so
          // recompute only those: ONE bounded per-group aggregate both
          // collects the touched dimension tuples AND counts each
          // group's preimages — deciding inserts-vs-updates without the
          // separate whole-delta isEmpty probe this path used to pay
          // (two actions over the same persisted delta → one; the
          // per-action fixed cost is what dominates a metadata-sized
          // refresh). Over the cap the probe re-runs standalone (the
          // tuple set is truncated, so inserts-only is undecidable from
          // it) — the same collect discipline as KeyedTable's partition
          // tuples. Updates then scan the resolved base filtered by a
          // LITERAL predicate over the touched tuples (when the MV dims
          // are table partition columns — the natural rollup shape —
          // the filter pushes through the resolve window and
          // partition-prunes the scan), and stitch recomputed groups
          // over untouched rollup rows. Cost O(view + touched groups'
          // rows), not O(base).
          val dims = d.dimCols
          // Base-side rendering of each dim (derived dims recompute from
          // their stored SQL) vs rollup-side rendering (stored columns).
          val baseDim: Map[String, Column] =
            d.groupCols.map(c => c -> col(c)).toMap ++
              d.exprDims.map { case (sql, c) => c -> expr(sql) }
          val dimTypes = delta.select(
            dims.map(c => baseDim(c).as(c)): _*).schema
          val touched = delta
            .groupBy(dims.map(c => baseDim(c).as(c)): _*)
            .agg(sum(when(col("op") === "update_preimage", 1L)
              .otherwise(0L)).as("_graft_pre"))
            .limit(GroupRebuildCap + 1).collect()
          if (touched.length <= GroupRebuildCap &&
            touched.forall(r => r.getLong(dims.length) == 0L)) {
            insertsOnlyMerge()
          } else if (touched.length > GroupRebuildCap) {
            if (delta.filter(col("op") === "update_preimage").isEmpty)
              insertsOnlyMerge()
            else rebuild()
          } else {
            def predOver(dimOf: String => Column): Column =
              touched.map { row =>
                dims.zipWithIndex.map { case (c, i) =>
                  dimOf(c) <=> lit(row.get(i)).cast(dimTypes(i).dataType)
                }.reduce(_ && _)
              }.reduce(_ || _)
            val old = spark.read.parquet(d.mvPath)
            val oldTypes =
              old.schema.fields.map(f => f.name -> f.dataType).toMap
            val recomputed = buildRollup(
              table.read(spark).filter(predOver(baseDim)), d)
              .select(old.columns.toSeq
                .map(c => col(c).cast(oldTypes(c)).as(c)): _*)
            publish(spark, d2,
              Some(old.filter(!predOver(col)).unionByName(recomputed)))
            (d2, true)
          }
        } else if (d.countCol.nonEmpty) {
          // Sums/counts with a registered row count: the signed
          // aggregate handles inserts and updates alike (an inserts-only
          // delta carries sign +1 everywhere, where it IS buildRollup
          // for these measure kinds — sums, non-null counts and the row
          // count add; mergeRollup then casts to the stored types either
          // way), so the whole-delta preimage probe is not needed at
          // all: the refresh's only action is the publish itself.
          val merged = mergeRollup(
            spark.read.parquet(d.mvPath), signedDeltaAgg(delta, d), d)
            // Group death: every row retracted ⇒ the direct aggregate
            // has no row for the group.
            .filter(col(d.countCol.get) > 0)
          publish(spark, d2, Some(merged))
          (d2, true)
        } else {
          // No registered row count: group death is undetectable from
          // the rollup alone, so only an inserts-only delta can merge —
          // the probe stays (rare shape; create() registers a count for
          // the natural rollups).
          if (delta.filter(col("op") === "update_preimage").isEmpty)
            insertsOnlyMerge()
          else rebuild()
        }
      } finally { delta.unpersist(); () }
    } else if ((actions -- KeyedTable.LayoutActions)
      .subsetOf(KeyedTable.InsertActions)) {
      // COW inserts are pure row appends; rows keep their commit times,
      // so the delta is exactly the rows of the NEW insert commits —
      // selected by id MEMBERSHIP (the timeline names them), never by
      // string range, which mixed id formats would corrupt. The scan
      // prunes to the commit→files index's candidate set when every
      // window marker carries a file record — refresh cost then reads
      // O(delta files), not the base.
      val newDataIds = since
        .filter(m => !KeyedTable.LayoutActions.contains(KeyedTable.markerAction(m)))
        .map(KeyedTable.markerCommit).distinct
      val rawDelta = KeyedTable.fileDeltaAfter(
          spark, d.basePath, markers, sinceCommit).map(_._1) match {
        case Some(files) if files.nonEmpty => table.readFilesRaw(spark, files)
        case Some(_) => table.readRaw(spark).filter(lit(false))
        case None => table.readRaw(spark)
      }
      val delta = SchemaEvolution.dropSystemColumns(
        rawDelta.filter(col(KeyedTable.CommitTimeCol).isin(newDataIds: _*)))
      publish(spark, d2,
        Some(mergeRollup(spark.read.parquet(d.mvPath),
          buildRollup(delta, d), d)))
      (d2, true)
    } else rebuild() // COW upsert folded old versions into files: no delta

  }

  /** Merge a per-group delta aggregate into the old rollup: full-outer
    * on dims — groups new to the delta appear, untouched groups pass
    * through, shared groups merge measure-wise (sums/counts add,
    * mins/maxs take least/greatest). `coalesce(a+b, a, b)` keeps a
    * one-sided group intact and an all-NULL-input sum NULL; when the
    * sum has a registered non-null count, the merged count decides
    * NULL-vs-0 exactly even under retractions. Casts pin decimal
    * precision across refreshes.
    */
  private def mergeRollup(
      old: DataFrame, deltaAgg: DataFrame, d: MvDef): DataFrame = {
    val dims = d.dimCols // both sides carry derived dims as plain columns
    val on = dims.map(c => old(c) <=> deltaAgg(c)).reduce(_ && _)
    val dimCols = dims.map(c => coalesce(old(c), deltaAgg(c)).as(c))
    val oldTypes = old.schema.fields.map(f => f.name -> f.dataType).toMap
    // sum column → its non-null-count column (same input sql).
    val nnOf: Map[String, String] = d.sums.flatMap { case (sql, sc) =>
      d.counts.get(sql).map(sc -> _)
    }
    def add(c: String): Column =
      coalesce(old(c) + deltaAgg(c), old(c), deltaAgg(c))
    val measureCols =
      d.sums.values.toSeq.map { c =>
        val raw = add(c).cast(oldTypes(c))
        nnOf.get(c) match {
          case Some(nc) =>
            val nn = coalesce(old(nc), lit(0L)) + coalesce(deltaAgg(nc), lit(0L))
            when(nn === 0L, lit(null).cast(oldTypes(c)))
              .otherwise(coalesce(raw, lit(0).cast(oldTypes(c)))).as(c)
          case None => raw.as(c)
        }
      } ++
      d.mins.values.toSeq.map(c =>
        coalesce(least(old(c), deltaAgg(c)), old(c), deltaAgg(c)).as(c)) ++
      d.maxs.values.toSeq.map(c =>
        coalesce(greatest(old(c), deltaAgg(c)), old(c), deltaAgg(c)).as(c)) ++
      d.counts.values.toSeq.map(c => add(c).as(c)) ++
      d.countCol.toSeq.map(c => add(c).as(c))
    old.join(deltaAgg, on, "full_outer")
      .select(dimCols ++ measureCols: _*)
  }

  /** Per-group SIGNED aggregate of a state-delta feed: preimages retract
    * (−), postimages/inserts add (+). Sums go through `value × sign`;
    * non-null counts and the row count sum the sign directly. min/max
    * deliberately absent — the caller rebuilds instead.
    */
  private def signedDeltaAgg(delta: DataFrame, d: MvDef): DataFrame = {
    val sign = when(col("op") === "update_preimage", lit(-1)).otherwise(lit(1))
    val aggCols =
      d.sums.map { case (sql, c) => sum(expr(sql) * sign).as(c) }.toSeq ++
      d.counts.map { case (sql, c) =>
        sum(when(expr(sql).isNotNull, sign).otherwise(lit(0)))
          .cast("long").as(c)
      }.toSeq ++
      d.countCol.map(c => sum(sign).cast("long").as(c)).toSeq
    delta.groupBy(groupingCols(d): _*).agg(aggCols.head, aggCols.tail: _*)
  }

  /** Land a refreshed rollup (or just the re-armed sidecar): stage the
    * new rollup WITH its sidecar, then swap ([[Staging.replaceDir]]). A
    * crash after the delete leaves a complete staged copy one rename
    * away; a crash after the rename leaves a complete rollup + sidecar
    * (no window where the data exists but attach() cannot read it).
    * Single-writer dev flow; multi-writer would ride KeyedTable's FS lock.
    */
  private def publish(
      spark: SparkSession, d2: MvDef, merged: Option[DataFrame]): Unit = {
    val mvPath = d2.mvPath
    val d3 = merged match {
      case Some(m) =>
        val p = new Path(mvPath)
        val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
        Staging.replaceDir(fs, p, p, "refresh") { stage =>
          writeRollup(m, d2, stage.toString)
          val dOut = d2.copy(rollupBytes = dataBytes(spark, stage.toString))
          writeSidecar(spark, dOut.copy(mvPath = stage.toString))
          dOut
        }
      case None =>
        writeSidecar(spark, d2) // metadata-only re-arm
        d2
    }
    register(d3)
  }

  /** Total data-file bytes under a rollup dir (sidecars excluded;
    * recursive, so hive-partitioned rollups count too) — the
    * serving-cost statistic MV selection sorts on.
    */
  private def dataBytes(spark: SparkSession, path: String): Long = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    KeyedTable.dataFilesUnder(fs, p).map(_._2.getLen).sum
  }

  // -------------------------------------------------------------------
  // Persistence: the definition travels WITH the rollup as a `_graft_mv`
  // sidecar (underscore-prefixed → invisible to parquet listing), the
  // same travels-with-the-data discipline as KeyedTable's `_graft_*`
  // sidecars and GraftCatalog's registry. A fresh session `attach`es the
  // rollup path and gets rewrites without re-running create — the
  // metadata half a metastore would hold.
  // -------------------------------------------------------------------

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  private def sidecarPath(mvPath: String) = new Path(mvPath, "_graft_mv")

  private def writeSidecar(spark: SparkSession, d: MvDef): Unit = {
    val lines = Seq(
      s"name\t${enc(d.name)}",
      s"base\t${enc(d.basePath)}",
      s"mtime\t${d.baseMtime}",
      s"dims\t${d.groupCols.map(enc).mkString(",")}") ++
      d.exprDims.map { case (sql, c) => s"edim\t${enc(c)}\t${enc(sql)}" } ++
      d.nullMirrors.map { case (a, c) => s"nmir\t${enc(a)}\t${enc(c)}" } ++
      d.sums.map { case (sql, c) => s"sum\t${enc(c)}\t${enc(sql)}" } ++
      d.mins.map { case (sql, c) => s"min\t${enc(c)}\t${enc(sql)}" } ++
      d.maxs.map { case (sql, c) => s"max\t${enc(c)}\t${enc(sql)}" } ++
      d.counts.map { case (sql, c) => s"cnt\t${enc(c)}\t${enc(sql)}" } ++
      d.countCol.map(c => s"count\t${enc(c)}").toSeq ++
      d.keyedSpec.toSeq.map { sp =>
        Seq("keyedspec",
          sp.keyCols.map(enc).mkString(","),
          enc(sp.precombineCol),
          sp.tiebreakCols.map(enc).mkString(","),
          sp.partitionCols.map(enc).mkString(","),
          sp.globalKeys.toString,
          sp.retainHistory.toString).mkString("\t")
      } ++
      (if (d.baseCommit.nonEmpty) Seq(s"commit\t${enc(d.baseCommit)}") else Nil) ++
      (if (d.rollupBytes >= 0) Seq(s"bytes\t${d.rollupBytes}") else Nil) ++
      (if (d.partCols.nonEmpty)
        Seq(s"pcols\t${d.partCols.map(enc).mkString(",")}") else Nil) ++
      d.files.toSeq.sortBy(_._1)
        .map { case (n, sig) => s"file\t${enc(n)}\t${sig.len}\t${sig.mtime}" } ++
      d.links.zipWithIndex.flatMap { case (l, i) =>
        s"join\t${enc(l.dimPath)}\t${enc(l.factCol)}\t${enc(l.dimCol)}\t${l.dimMtime}" +:
          l.dimFiles.toSeq.sortBy(_._1).map { case (n, sig) =>
            s"jfile\t$i\t${enc(n)}\t${sig.len}\t${sig.mtime}"
          }
      }
    val p = sidecarPath(d.mvPath)
    // Never create-over-existing: a staged clone hard-links this sidecar.
    Staging.replaceFile(p.getFileSystem(spark.sessionState.newHadoopConf()), p,
      lines.mkString("\n") + "\n")
  }

  /** Re-home a template MV definition onto a byte-identical CLONE of
    * the directory tree holding its base table and rollup — the
    * restore-from-snapshot shape (and the staged-clone bench
    * discipline): every stored path under `fromRoot` rewrites to
    * `toRoot`, the clone's sidecar is overwritten with the re-homed
    * paths, and the result registers for serving/refresh. Measures,
    * commit markers, and file signatures travel as bytes — only the
    * paths change, so a keyed clone refreshes incrementally exactly
    * where the original would.
    */
  def rebase(
      spark: SparkSession, d: MvDef,
      fromRoot: String, toRoot: String): MvDef = {
    def re(p: String): String =
      if (p.startsWith(fromRoot)) toRoot + p.stripPrefix(fromRoot) else p
    val d1 = d.copy(
      basePath = re(d.basePath),
      mvPath = re(d.mvPath),
      qualifiedBase = qualify(spark, re(d.basePath)),
      keyedSpec = d.keyedSpec.map(ks => ks.copy(path = re(ks.path))),
      links = d.links.map(l => l.copy(
        dimPath = re(l.dimPath),
        qualifiedDim = qualify(spark, re(l.dimPath)))))
    writeSidecar(spark, d1)
    register(d1)
    d1
  }

  /** Register the rollup at `mvPath` from its sidecar (fresh-session
    * discovery). The recorded base mtime rides along, so a base modified
    * since the build still declines rewrites.
    */
  def attach(spark: SparkSession, mvPath: String): MvDef = {
    val p = sidecarPath(mvPath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val in = fs.open(p)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    var name = ""; var base = ""; var mtime = 0L; var commit = ""
    var bytes = -1L
    var pcols = Seq.empty[String]
    val links = scala.collection.mutable.Buffer.empty[JoinLink]
    val jfiles = scala.collection.mutable.Map
      .empty[Int, scala.collection.mutable.Map[String, FileSig]]
    var dims = Seq.empty[String]; var countCol: Option[String] = None
    var keyedSpec: Option[KeyedTableSpec] = None
    val sums = Map.newBuilder[String, String]
    val mins = Map.newBuilder[String, String]
    val maxs = Map.newBuilder[String, String]
    val cnts = Map.newBuilder[String, String]
    val edims = Map.newBuilder[String, String]
    val nmirs = Map.newBuilder[String, String]
    val files = Map.newBuilder[String, FileSig]
    def list(v: String): Seq[String] =
      v.split(',').toSeq.filter(_.nonEmpty).map(dec)
    text.split('\n').filter(_.nonEmpty).foreach { line =>
      line.split('\t') match {
        case Array("name", v) => name = dec(v)
        case Array("base", v) => base = dec(v)
        case Array("mtime", v) => mtime = v.toLong
        case Array("commit", v) => commit = dec(v)
        case Array("bytes", v) => bytes = v.toLong
        case Array("pcols", v) => pcols = list(v)
        case Array("dims", v) => dims = v.split(',').toSeq.filter(_.nonEmpty).map(dec)
        case Array("dims") => dims = Seq.empty // expression-dims-only MV
        case Array("edim", c, sql) => edims += dec(sql) -> dec(c)
        case Array("nmir", a, c) => nmirs += dec(a) -> dec(c)
        case Array("sum", c, sql) => sums += dec(sql) -> dec(c)
        case Array("min", c, sql) => mins += dec(sql) -> dec(c)
        case Array("max", c, sql) => maxs += dec(sql) -> dec(c)
        case Array("cnt", c, sql) => cnts += dec(sql) -> dec(c)
        case Array("count", c) => countCol = Some(dec(c))
        case Array("keyedspec", keys, pre, ties, parts, global, history) =>
          keyedSpec = Some(KeyedTableSpec(
            path = "", // basePath fills in below
            keyCols = list(keys),
            precombineCol = dec(pre),
            tiebreakCols = list(ties),
            partitionCols = list(parts),
            globalKeys = global.toBoolean,
            retainHistory = history.toBoolean))
        case Array("file", n, len, mt) =>
          files += dec(n) -> FileSig(len.toLong, mt.toLong)
        case Array("join", p2, fc, dc, mt) =>
          links += JoinLink(dec(p2), dec(fc), dec(dc),
            qualifiedDim = qualify(spark, dec(p2)), dimMtime = mt.toLong)
        case Array("jfile", i, n, len, mt) =>
          jfiles.getOrElseUpdate(i.toInt,
            scala.collection.mutable.Map.empty) +=
            dec(n) -> FileSig(len.toLong, mt.toLong)
        case Array("file", n, len) =>
          // Pre-mtime sidecar: an impossible signature, so the first
          // refresh classifies the change as non-append and rebuilds —
          // the safe direction for a format upgrade.
          files += dec(n) -> FileSig(len.toLong, -1L)
        case other => throw new IllegalArgumentException(
          s"malformed _graft_mv line: ${other.mkString("\\t")}")
      }
    }
    val edimsMap = edims.result()
    require(base.nonEmpty && (dims.nonEmpty || edimsMap.nonEmpty),
      s"incomplete _graft_mv at $p")
    val d = MvDef(name, base, mvPath, dims,
      sums.result(), mins.result(), maxs.result(), countCol, mtime,
      files.result(), qualify(spark, base),
      cnts.result(), keyedSpec.map(_.copy(path = base)), commit,
      links.zipWithIndex.map { case (l, i) =>
        l.copy(dimFiles = jfiles.get(i).map(_.toMap).getOrElse(Map.empty))
      }.toSeq, bytes, edimsMap, nmirs.result(), pcols)
    register(d)
    d
  }

  // ---------------------------------------------------------------------
  // q128: build a rollup over lineitem, then run a plain aggregate on the
  // BASE table — the rewrite rule must serve it from the rollup (the plan
  // assertion lives in MvRewriteSpec; the oracle computes the same
  // aggregate straight from lineitem, so correctness holds whichever
  // path planned).
  // ---------------------------------------------------------------------

  // A runner's scratch rollup dir: an empty-template clone per runner,
  // so the previous invocation's dir is retired at the next call and a
  // bench loop holds at most one live temp dir per query.
  private def freshWork(key: String): java.nio.file.Path =
    java.nio.file.Paths.get(Scratch.clone("mvWork", key)(_ => ())._3)

  /** Optimize `q` with the registry armed (the rewrite fires), PIN the
    * rewritten plan, and drop the registration — so a process running
    * many queries never has this MV capture a later plan.
    */
  private def pinAndDrop(
      spark: SparkSession, basePath: String, q: DataFrame): DataFrame =
    try org.apache.spark.sql.GraftSqlBridge.ofRows(
      spark, q.queryExecution.optimizedPlan)
    finally drop(basePath)

  /** Open-order revenue by priority, served through a
    * (o_orderstatus, o_orderpriority) rollup of orders. The query groups
    * by a strict SUBSET of the dimensions with a dimension-only filter —
    * the rollup-then-re-aggregate shape MV rewrite exists for.
    *
    * Registry hygiene: the rewrite is PINNED — the plan is optimized once
    * while the MV is registered, the registration is dropped, and the
    * already-rewritten plan is re-wrapped. A process running many queries
    * (the bench main, the verify main) never has this MV capture a LATER
    * derivable aggregate over the same orders base, so other queries'
    * measured plans stay exactly what they'd be standalone.
    */
  def mvRewriteRevenue(spark: SparkSession, dir: String): DataFrame = {
    val base = s"$dir/orders.parquet"
    val work = freshWork("revenue")
    create(
      spark, "orders_by_status_priority", base, s"$work/mv",
      groupCols = Seq("o_orderstatus", "o_orderpriority"),
      sums = Seq("sum_price_d" -> expr("CAST(o_totalprice AS DECIMAL(18,4))")),
      countCol = Some("cnt"))
    pinAndDrop(spark, base,
      spark.read.parquet(base)
        .filter(col("o_orderstatus") === "O")
        .groupBy(col("o_orderpriority"))
        .agg(
          sum(expr("CAST(o_totalprice AS DECIMAL(18,4))")).cast("double")
            .as("sum_price"),
          count(lit(1)).as("n_orders")))
  }

  // ---------------------------------------------------------------------
  // q132: AVG derivability — the rollup stores (sum, non-null count) per
  // measure; a query's avg(col) is served as re-sum ÷ re-count, the only
  // correct way to re-aggregate averages across rollup groups (averaging
  // averages is wrong whenever group sizes differ). The query groups by a
  // strict SUBSET of the rollup dims, so the re-aggregation actually
  // exercises that. count(col) (non-null) derives from the same stored
  // count.
  // ---------------------------------------------------------------------

  /** Average/total/count of document lengths by language, served through
    * a (lang, source) rollup of documents.
    */
  def mvAvgDocLen(spark: SparkSession, dir: String): DataFrame = {
    val base = s"$dir/documents.parquet"
    val work = freshWork("avgdoclen")
    create(
      spark, "docs_by_lang_source", base, s"$work/mv",
      groupCols = Seq("lang", "source"),
      sums = Seq("sum_chars" -> col("n_chars")),
      counts = Seq("cnt_chars" -> col("n_chars")),
      countCol = Some("cnt"))
    pinAndDrop(spark, base,
      spark.read.parquet(base)
        .groupBy(col("lang"))
        .agg(
          avg(col("n_chars")).as("avg_chars"),
          sum(col("n_chars")).as("sum_chars"),
          count(col("n_chars")).as("n_with_len"),
          count(lit(1)).as("n_docs")))
  }

  // ---------------------------------------------------------------------
  // q131: MV over a KEYED (merge-on-read) table, refreshed incrementally
  // from the commit timeline + state-delta feed. Build the rollup as of
  // commit c0, upsert a second batch (updates AND inserts against c0's
  // keys), refresh — the signed delta merge must reproduce, bit-exactly,
  // what a from-scratch aggregate over the post-upsert table computes
  // (the oracle). Cost shape at 100 TB: refresh reads O(view + changed
  // keys), never the base.
  // ---------------------------------------------------------------------

  /** Per-event-type row count + exact-decimal value sum over the LATEST
    * state of a two-commit MoR events table, maintained incrementally.
    */
  def mvKeyedRefresh(spark: SparkSession, dir: String): DataFrame = {
    // The base-as-of-c0 + built rollup stage as a cloned template
    // (re-homed via [[rebase]]); the measured subject is the c1 upsert
    // and the incremental signed-delta refresh it triggers.
    val ev = graft.sources.Tables.eventsUs(spark, dir)
    val (tplRoot, tplDef, root) =
      Scratch.clone(dir, "mvKeyedC0") { r =>
        val t = KeyedTable(KeyedTableSpec(
          path = s"$r/events_keyed",
          keyCols = Seq("user_id"),
          precombineCol = "ts_us",
          tiebreakCols = Seq("event_id"),
          partitionCols = Seq("event_type"),
          retainHistory = true))
        t.upsert(spark, ev.filter(col("event_id") % 2 === 0),
          commitTime = "c0")
        val d = createKeyed(spark, "events_by_type", t, s"$r/mv",
          groupCols = Seq("event_type"),
          sums = Seq("sum_value" -> expr("CAST(value AS DECIMAL(18,4))")),
          countCol = Some("n_rows"))
        drop(t.spec.path) // the template is never served; clones register
        d
      }
    val d = rebase(spark, tplDef, tplRoot, root)
    val table = KeyedTable(d.keyedSpec.get)
    try {
      table.upsert(spark, ev.filter(col("event_id") % 2 === 1), commitTime = "c1")
      val (_, incremental) = refresh(spark, d.mvPath)
      require(incremental, "a MoR upsert delta must refresh incrementally")
      spark.read.parquet(d.mvPath)
        .select(col("event_type"), col("n_rows"),
          col("sum_value").cast("double").as("sum_value"))
    } finally drop(table.spec.path)
  }

  // ---------------------------------------------------------------------
  // q134: MULTI-MV SELECTION — a base table carries several rollups at
  // once (per-day and per-month summaries over one fact table is the
  // normal serving-layer shape); the rewrite rule must pick the CHEAPEST
  // rollup that can serve. Register a fine (3-dim) and a coarse (2-dim)
  // rollup over lineitem; a 1-dim aggregate is derivable from both, and
  // the plan must land on the coarse one (fewer rollup bytes — the
  // assertion lives in MvRewriteSpec; the oracle checks the answer).
  // ---------------------------------------------------------------------

  /** Quantity totals by return flag, served from the smaller of two
    * registered lineitem rollups.
    */
  def mvSelectCheapest(spark: SparkSession, dir: String): DataFrame = {
    val base = s"$dir/lineitem.parquet"
    val work = freshWork("select")
    create(spark, "li_fine", base, s"$work/mv_fine",
      groupCols = Seq("l_returnflag", "l_linestatus", "l_shipdate"),
      sums = Seq("sum_qty" -> expr("CAST(l_quantity AS DECIMAL(18,4))")),
      countCol = Some("cnt"))
    create(spark, "li_coarse", base, s"$work/mv_coarse",
      groupCols = Seq("l_returnflag", "l_linestatus"),
      sums = Seq("sum_qty" -> expr("CAST(l_quantity AS DECIMAL(18,4))")),
      countCol = Some("cnt"))
    pinAndDrop(spark, base,
      spark.read.parquet(base)
        .groupBy(col("l_returnflag"))
        .agg(
          sum(expr("CAST(l_quantity AS DECIMAL(18,4))")).cast("double")
            .as("sum_qty"),
          count(lit(1)).as("n_rows")))
  }

  // ---------------------------------------------------------------------
  // q135: min/max measures maintained through a MoR upsert that UPDATES
  // existing keys — the retraction case sums cannot cover. The refresh
  // recomputes only the delta-touched groups from the resolved base
  // (partition-pruned: the MV dim is the table's partition column) and
  // stitches them over untouched rollup rows. Oracle: min/max/count over
  // the final latest-per-key state, bit-exact.
  // ---------------------------------------------------------------------

  /** Per-event-type count + exact-decimal min/max over the LATEST state
    * of a two-commit MoR events table, maintained by group-scoped
    * incremental refresh.
    */
  def mvKeyedMinMax(spark: SparkSession, dir: String): DataFrame = {
    // Same staged-clone shape as [[mvKeyedRefresh]]: the measured
    // subject is the update-delta upsert + group-scoped refresh.
    val ev = graft.sources.Tables.eventsUs(spark, dir)
    val (tplRoot, tplDef, root) =
      Scratch.clone(dir, "mvMinMaxC0") { r =>
        val t = KeyedTable(KeyedTableSpec(
          path = s"$r/events_keyed",
          keyCols = Seq("user_id"),
          precombineCol = "ts_us",
          tiebreakCols = Seq("event_id"),
          partitionCols = Seq("event_type"),
          retainHistory = true))
        t.upsert(spark, ev.filter(col("event_id") % 2 === 0),
          commitTime = "c0")
        val d = createKeyed(spark, "events_minmax", t, s"$r/mv",
          groupCols = Seq("event_type"),
          mins = Seq("min_value" -> expr("CAST(value AS DECIMAL(18,4))")),
          maxs = Seq("max_value" -> expr("CAST(value AS DECIMAL(18,4))")),
          countCol = Some("n_rows"))
        drop(t.spec.path)
        d
      }
    val d = rebase(spark, tplDef, tplRoot, root)
    val table = KeyedTable(d.keyedSpec.get)
    try {
      table.upsert(spark, ev.filter(col("event_id") % 2 === 1), commitTime = "c1")
      val (_, incremental) = refresh(spark, d.mvPath)
      require(incremental,
        "a MoR update delta against min/max must refresh group-scoped")
      spark.read.parquet(d.mvPath)
        .select(col("event_type"), col("n_rows"),
          col("min_value").cast("double").as("min_value"),
          col("max_value").cast("double").as("max_value"))
    } finally drop(table.spec.path)
  }

  // ---------------------------------------------------------------------
  // q136: MV OVER A STAR JOIN — the rollup aggregates orders ⋈ customer
  // (the denormalized serving shape); a query that writes the same join +
  // aggregate collapses to a scan of the rollup, skipping both the fact
  // scan AND the join shuffle. At 100 TB that shuffle is the expensive
  // part — the rewrite deletes it entirely. The oracle computes the same
  // join + aggregate straight, so correctness holds whichever path
  // planned (the plan assertion lives in JoinedMvSpec).
  // ---------------------------------------------------------------------

  // ---------------------------------------------------------------------
  // q137: EXPRESSION DIMENSIONS — the rollup's grouping columns are
  // derived (`year(o_orderdate)`, `month(o_orderdate)`), the BI time-
  // hierarchy shape. A query grouping/filtering by the same derived
  // expressions (matched as whole subtrees by normalized SQL) collapses
  // to the rollup; grouping by the month SUBSET re-aggregates across the
  // stored years.
  // ---------------------------------------------------------------------

  /** First-half-year revenue by order month, served through a
    * (year, month) rollup of orders.
    */
  def mvMonthlyRevenue(spark: SparkSession, dir: String): DataFrame = {
    val base = s"$dir/orders.parquet"
    val work = freshWork("monthly")
    create(
      spark, "orders_by_year_month", base, s"$work/mv",
      groupCols = Nil,
      sums = Seq("sum_price_d" -> expr("CAST(o_totalprice AS DECIMAL(18,4))")),
      countCol = Some("cnt"),
      exprDims = Seq(
        "od_year" -> year(col("o_orderdate")),
        "od_month" -> month(col("o_orderdate"))))
    pinAndDrop(spark, base,
      spark.read.parquet(base)
        .filter(month(col("o_orderdate")) <= 6)
        .groupBy(month(col("o_orderdate")).as("od_month"))
        .agg(
          sum(expr("CAST(o_totalprice AS DECIMAL(18,4))")).cast("double")
            .as("sum_price"),
          count(lit(1)).as("n_orders")))
  }

  // ---------------------------------------------------------------------
  // q138: MV ADVISOR — given the three aggregate queries a user actually
  // runs over orders (revenue by status, average price by priority,
  // order counts by month ≤ 6), [[graft.plans.MvAdvisor]] recommends the
  // ONE rollup covering all of them (dims ∪ derived dims ∪ measures);
  // materializing it makes every workload query serve from the rollup.
  // The returned frame is the first workload query; the oracle computes
  // it straight (the three-way serving assertion lives in MvAdvisorSpec).
  // ---------------------------------------------------------------------

  /** Revenue by order status, served from the advisor-recommended rollup
    * that also covers the avg-by-priority and monthly-count queries.
    */
  def mvAdvisorRevenue(spark: SparkSession, dir: String): DataFrame = {
    val base = s"$dir/orders.parquet"
    val work = freshWork("advisor")
    def qStatus = spark.read.parquet(base)
      .groupBy(col("o_orderstatus"))
      .agg(
        sum(expr("CAST(o_totalprice AS DECIMAL(18,4))")).cast("double")
          .as("sum_price"),
        count(lit(1)).as("n_orders"))
    def qAvg = spark.read.parquet(base)
      .groupBy(col("o_orderpriority"))
      .agg(avg(expr("CAST(o_totalprice AS DECIMAL(18,4))")).as("avg_price"))
    def qMonth = spark.read.parquet(base)
      .filter(month(col("o_orderdate")) <= 6)
      .groupBy(month(col("o_orderdate")).as("od_month"))
      .agg(count(lit(1)).as("n_orders"))
    val advice = graft.plans.MvAdvisor.analyze(Seq(qStatus, qAvg, qMonth))
    require(advice.skipped.isEmpty && advice.recommendations.length == 1,
      s"expected one full-coverage recommendation, got $advice")
    graft.plans.MvAdvisor.createRecommended(
      spark, advice.recommendations.head, "advised_orders", s"$work/mv")
    pinAndDrop(spark, advice.recommendations.head.basePath, qStatus)
  }

  // ---------------------------------------------------------------------
  // q139: HYBRID SERVING — between refreshes, an append-stale MV serves
  // `rollup ∪ partial-rollup(appended files)` at plan time: correct
  // answers at O(rollup + delta) cost with NO refresh run. The private
  // base is the fixture orders file plus an appended copy of itself, so
  // the oracle is the straight aggregate with every measure doubled.
  // ---------------------------------------------------------------------

  /** Open-order revenue by priority over a base that gained an appended
    * file AFTER the rollup was built — served hybrid, never refreshed.
    */
  def mvHybridServe(spark: SparkSession, dir: String): DataFrame = {
    val work = freshWork("hybrid")
    val base = Files.createDirectories(work.resolve("orders.parquet"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(dir, "orders.parquet"),
      base.resolve("part-00000.snappy.parquet"))
    create(
      spark, "orders_hybrid", base.toString, s"$work/mv",
      groupCols = Seq("o_orderstatus", "o_orderpriority"),
      sums = Seq("sum_price_d" -> expr("CAST(o_totalprice AS DECIMAL(18,4))")),
      countCol = Some("cnt"))
    java.nio.file.Files.copy(
      base.resolve("part-00000.snappy.parquet"),
      base.resolve("part-00001.snappy.parquet"))
    // Local filesystems can have coarse mtimes; pin the staleness signal
    // deterministically rather than sleeping for it.
    java.nio.file.Files.setLastModifiedTime(base,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() + 2000))
    pinAndDrop(spark, base.toString,
      spark.read.parquet(base.toString)
        .filter(col("o_orderstatus") === "O")
        .groupBy(col("o_orderpriority"))
        .agg(
          sum(expr("CAST(o_totalprice AS DECIMAL(18,4))")).cast("double")
            .as("sum_price"),
          count(lit(1)).as("n_orders")))
  }

  // ---------------------------------------------------------------------
  // q140: GROUPING SETS over an MV — the two-phase rollup shape
  // (pre-aggregate to the finest grain, ROLLUP over the partials; the
  // scale-correct plan, see q14's notes) composes with MV serving for
  // free: the INNER aggregate is a plain groupBy the rule rewrites onto
  // the rollup, and the grouping-sets phase re-sums the served partials.
  // No Expand-node rewrite machinery needed — the shape users should
  // write at 100 TB is exactly the shape the rule already serves.
  // ---------------------------------------------------------------------

  /** ROLLUP(returnflag, linestatus) quantity totals whose base-grain
    * pre-aggregation is served from a lineitem rollup MV.
    */
  def mvRollupServe(spark: SparkSession, dir: String): DataFrame = {
    val base = s"$dir/lineitem.parquet"
    val work = freshWork("gsets")
    create(
      spark, "li_rf_ls", base, s"$work/mv",
      groupCols = Seq("l_returnflag", "l_linestatus"),
      sums = Seq("sum_qty_d" -> expr("CAST(l_quantity AS DECIMAL(18,4))")),
      countCol = Some("cnt"))
    pinAndDrop(spark, base,
      spark.read.parquet(base)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("n0"),
          sum(expr("CAST(l_quantity AS DECIMAL(18,4))")).as("q0"))
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("n0")).as("n"),
          sum(col("q0")).cast("double").as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("n"), col("sum_qty")))
  }

  // ---------------------------------------------------------------------
  // q142: KEYED HYBRID SERVING — a copy-on-write keyed table gains
  // insert-class commits AFTER the rollup is built; between refreshes the
  // rewrite serves `rollup ∪ partial-rollup(delta)` where the delta scan
  // is driven by the COMMIT→FILES INDEX: exactly the files the new
  // insert commits recorded in their timeline markers, row-filtered to
  // their commit ids — no table listing, no refresh run, O(new files)
  // cost. Oracle: the straight aggregate over the post-insert state
  // (event_id is unique, so the final state is simply all events).
  // ---------------------------------------------------------------------

  // q142's fixture: (table spec, registration) staged once per fixture
  // dir — the measured subject is the hybrid SERVE, not the build; the
  // state (rollup + unrefreshed insert commit) is immutable, and the
  // registration is re-pinned per invocation so the pin-and-drop
  // hygiene is unchanged.
  /** Per-event-type count + value sum over a keyed COW events table whose
    * second half arrived as an UNREFRESHED insert commit — served hybrid
    * from the rollup plus the index'd delta files.
    */
  def mvKeyedHybridServe(spark: SparkSession, dir: String): DataFrame = {
    val (spec, d) = Scratch.once("mvKeyedHybrid", dir) { tmp =>
      val table = KeyedTable(KeyedTableSpec(
        path = s"$tmp/events_cow",
        keyCols = Seq("event_id"),
        precombineCol = "ts_us",
        partitionCols = Seq("event_type")))
      val ev = graft.sources.Tables.eventsUs(spark, dir)
      table.upsert(spark, ev.filter(col("event_id") % 2 === 0),
        commitTime = "c0")
      val mvPath = s"$tmp/mv"
      val mvDef = createKeyed(spark, "events_hybrid", table, mvPath,
        groupCols = Seq("event_type"),
        sums = Seq("sum_value" -> expr("CAST(value AS DECIMAL(18,4))")),
        countCol = Some("n_rows"))
      // The second half lands as an insert-class commit; NO refresh
      // runs — freshness comes from the hybrid serve alone.
      table.insert(spark, ev.filter(col("event_id") % 2 === 1),
        commitTime = "c1")
      drop(table.spec.path) // registered per serve below
      (table.spec, mvDef)
    }
    register(d)
    val table = KeyedTable(spec)
    pinAndDrop(spark, spec.path,
      table.read(spark)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(expr("CAST(value AS DECIMAL(18,4))")).cast("double")
            .as("sum_value")))
  }

  // ---------------------------------------------------------------------
  // q144: ROLLUP HIERARCHY — the coarse (priority) MV refreshes FROM the
  // finer (status, priority) MV instead of the base: after an append the
  // finer merges its delta, then the coarse re-aggregates the finer's
  // partials at O(finer rollup) cost — the base is scanned once per
  // refresh cycle no matter how many coarser summaries hang off it. The
  // finer rollup is stored hive-partitioned by its leading dim, so
  // dim-sliced serves partition-prune even inside the serving layer.
  // Oracle: the straight aggregate, measures doubled (the base is orders
  // plus an appended copy of itself).
  // ---------------------------------------------------------------------

  /** Revenue by priority served from a coarse rollup that was refreshed
    * from the finer (status, priority) rollup — never from the base —
    * after the base gained an appended copy of itself.
    */
  def mvCoarseFromFiner(spark: SparkSession, dir: String): DataFrame = {
    // The base copy + BOTH rollup builds are pre-mutation scaffolding,
    // staged once as a cloned template (the mvKeyedRefresh discipline);
    // the measured subject is the base append, the fine rollup's
    // append-merge refresh, and the coarse-from-finer hierarchy
    // refresh — the rollup-from-rollup path this query exists to price.
    val (tplRoot, tplDefs, root) =
      Scratch.clone(dir, "mvCoarseC0") { r =>
        val base = Files.createDirectories(
          java.nio.file.Paths.get(r, "orders.parquet"))
        java.nio.file.Files.copy(
          java.nio.file.Paths.get(dir, "orders.parquet"),
          base.resolve("part-00000.snappy.parquet"))
        val fine = create(
          spark, "orders_fine", base.toString, s"$r/mv_fine",
          groupCols = Seq("o_orderstatus", "o_orderpriority"),
          sums = Seq("sum_price_d" -> expr("CAST(o_totalprice AS DECIMAL(18,4))")),
          countCol = Some("cnt"),
          partitionBy = Seq("o_orderstatus"))
        val coarse = create(
          spark, "orders_coarse", base.toString, s"$r/mv_coarse",
          groupCols = Seq("o_orderpriority"),
          sums = Seq("sum_price_d" -> expr("CAST(o_totalprice AS DECIMAL(18,4))")),
          countCol = Some("cnt"))
        drop(base.toString) // the template is never served; clones register
        Seq(fine, coarse)
      }
    tplDefs.foreach(d => rebase(spark, d, tplRoot, root))
    val base = java.nio.file.Paths.get(root, "orders.parquet")
    java.nio.file.Files.copy(
      base.resolve("part-00000.snappy.parquet"),
      base.resolve("part-00001.snappy.parquet"))
    refresh(spark, s"$root/mv_fine") // append-merge against the base
    refreshFromFiner(spark, s"$root/mv_coarse", s"$root/mv_fine")
    pinAndDrop(spark, base.toString,
      spark.read.parquet(base.toString)
        .groupBy(col("o_orderpriority"))
        .agg(
          sum(expr("CAST(o_totalprice AS DECIMAL(18,4))")).cast("double")
            .as("sum_price"),
          count(lit(1)).as("n_orders")))
  }

  // ---------------------------------------------------------------------
  // q143: SINGLE-PHASE GROUPING SETS over an MV — the shape a BI tool
  // actually emits (`GROUP BY ROLLUP(a, b)` = one Aggregate over Expand,
  // no user-side pre-aggregation). The rewrite swaps the Expand onto the
  // rollup: each expanded group re-aggregates the matching rollup rows'
  // PARTIALS instead of the base rows — q140's two-phase discipline,
  // applied automatically to the one-phase plan. Oracle: the straight
  // ROLLUP aggregate.
  // ---------------------------------------------------------------------

  /** ROLLUP(returnflag, linestatus) totals written as a plain one-phase
    * `.rollup(...)` — served by the Expand rewrite from a lineitem MV.
    */
  def mvRollupSinglePhase(spark: SparkSession, dir: String): DataFrame = {
    val base = s"$dir/lineitem.parquet"
    val work = freshWork("gs1p")
    create(
      spark, "li_rf_ls_1p", base, s"$work/mv",
      groupCols = Seq("l_returnflag", "l_linestatus"),
      sums = Seq("sum_qty_d" -> expr("CAST(l_quantity AS DECIMAL(18,4))")),
      countCol = Some("cnt"))
    pinAndDrop(spark, base,
      spark.read.parquet(base)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("n"),
          sum(expr("CAST(l_quantity AS DECIMAL(18,4))")).cast("double")
            .as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("n"), col("sum_qty")))
  }

  /** Single-phase `GROUP BY ROLLUP` over the WHOLE STAR (q148): the BI
    * tool's one-shot rollup across orders ⋈ customer collapses to
    * grouping sets over the joined rollup — fact scan AND join both
    * elided in one rewrite (the Expand swap of q143 composed with the
    * star matching of q136). At 100 TB this is the standing BI
    * dashboard query shape served at rollup cost.
    */
  def mvStarSinglePhase(spark: SparkSession, dir: String): DataFrame = {
    val fact = s"$dir/orders.parquet"
    val dim = s"$dir/customer.parquet"
    val work = freshWork("gs1pstar")
    createJoined(
      spark, "ord_cust_1p", fact, s"$work/mv",
      joins = Seq((dim, "o_custkey", "c_custkey")),
      groupCols = Seq("c_mktsegment", "o_orderstatus"),
      sums = Seq("sum_price_d" -> expr("CAST(o_totalprice AS DECIMAL(18,4))")),
      countCol = Some("cnt"))
    pinAndDrop(spark, fact,
      spark.read.parquet(fact)
        .join(spark.read.parquet(dim),
          col("o_custkey") === col("c_custkey"), "inner")
        .rollup(col("c_mktsegment"), col("o_orderstatus"))
        .agg(
          count(lit(1)).as("n"),
          sum(expr("CAST(o_totalprice AS DECIMAL(18,4))")).cast("double")
            .as("sum_price"))
        .select(
          coalesce(col("c_mktsegment"), lit("ALL")).as("seg"),
          coalesce(col("o_orderstatus"), lit("ALL")).as("st"),
          col("n"), col("sum_price")))
  }

  // ---------------------------------------------------------------------
  // q141: ADVISOR OVER A STAR WORKLOAD — two orders ⋈ customer join
  // aggregates analyze into ONE joined-rollup recommendation (same join
  // structure → same recommendation); materializing it serves both with
  // the join elided. The returned frame is the first workload query;
  // the oracle computes it straight.
  // ---------------------------------------------------------------------

  /** Revenue by market segment, served from the advisor-recommended
    * star rollup that also covers the per-(segment, status) count query.
    */
  def mvAdvisorStar(spark: SparkSession, dir: String): DataFrame = {
    val fact = s"$dir/orders.parquet"
    val dim = s"$dir/customer.parquet"
    val work = freshWork("advstar")
    def joined = spark.read.parquet(fact)
      .join(spark.read.parquet(dim),
        col("o_custkey") === col("c_custkey"), "inner")
    def qSeg = joined
      .groupBy(col("c_mktsegment"))
      .agg(
        sum(expr("CAST(o_totalprice AS DECIMAL(18,4))")).cast("double")
          .as("sum_price"),
        count(lit(1)).as("n_orders"))
    def qSegStatus = joined
      .groupBy(col("c_mktsegment"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"))
    val advice = graft.plans.MvAdvisor.analyze(Seq(qSeg, qSegStatus))
    require(advice.skipped.isEmpty && advice.recommendations.length == 1 &&
      advice.recommendations.head.joins.nonEmpty,
      s"expected one star recommendation, got $advice")
    graft.plans.MvAdvisor.createRecommended(
      spark, advice.recommendations.head, "advised_star", s"$work/mv")
    pinAndDrop(spark, advice.recommendations.head.basePath, qSeg)
  }

  /** Open-order revenue by market segment, served through a
    * (c_mktsegment, o_orderstatus) rollup of orders ⋈ customer.
    */
  def mvJoinRevenue(spark: SparkSession, dir: String): DataFrame = {
    val fact = s"$dir/orders.parquet"
    val dim = s"$dir/customer.parquet"
    val work = freshWork("joinrev")
    createJoined(
      spark, "orders_by_segment", fact, s"$work/mv",
      joins = Seq((dim, "o_custkey", "c_custkey")),
      groupCols = Seq("c_mktsegment", "o_orderstatus"),
      sums = Seq("sum_price_d" -> expr("CAST(o_totalprice AS DECIMAL(18,4))")),
      countCol = Some("cnt"))
    pinAndDrop(spark, fact,
      spark.read.parquet(fact)
        .join(spark.read.parquet(dim),
          col("o_custkey") === col("c_custkey"), "inner")
        .filter(col("o_orderstatus") === "O")
        .groupBy(col("c_mktsegment"))
        .agg(
          sum(expr("CAST(o_totalprice AS DECIMAL(18,4))")).cast("double")
            .as("sum_price"),
          count(lit(1)).as("n_orders")))
  }
}
