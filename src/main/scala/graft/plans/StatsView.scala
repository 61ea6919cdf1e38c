package graft.plans

import org.apache.spark.internal.Logging
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.functions.{coalesce, col, count, lit, udf}

import graft.table.{ColumnRange, KeyedTable, TableMetaCache}

/** The column-stats sidecar as a view of the files that hold a table's
  * CURRENT rows — the one place the stats serves ([[StatsAggregateRewrite]],
  * [[TopKPruneRewrite]], [[GroupTopKRewrite]]) learn the table kind. It
  * answers the two questions on which a copy-on-write serve and a
  * resolved (`retainHistory`) serve differ; everything else — the
  * FULL/CANDIDATE classification ([[ColumnRange.fileClasses]]), the
  * folds, the walks — is one code path over [[files]].
  *
  *  - Which files fold or walk ([[pure]]) and which may be opened
  *    ([[live]]). Copy-on-write: every file, both ways. Resolved: the
  *    record-level index's delta-reconciled winner entries count each
  *    file's live winners (`wcnt`); a file is pure when every stored row
  *    is a winner (`wcnt = cnt > 0`) and live when it holds one.
  *  - How the kept files' rows get back into the plan ([[rowsBack]]).
  *    Copy-on-write: the scan is swapped onto them under the original
  *    subtree, filters intact. Resolved: the subtree is replaced
  *    wholesale by the kept files' winner rows (the full resolve-identity
  *    semi-join, [[KeyedTable.winnerRowsOf]]) with every conjunct
  *    re-applied, re-aliased to the subtree's own output.
  *
  * Soundness on a resolved read: stored rows are versions, so a file's
  * stats cover superseded rows too. A PURE file's stats describe exactly
  * its winners, so it folds, and its `nn` counts winner rows toward a
  * walk's bound. A MIXED file's all-version bounds are OUTER bounds of
  * its winners (winners ⊆ stored rows), so they stay a sound
  * may-contain test and a sound "cannot reach the bound" exclusion, and
  * its winner rows scan. A DEAD file holds no winner — exactly where a
  * superseded extremum or distinct value hides — and never opens.
  * Partition conjuncts select whole files and whole winners (a winner
  * row of partition p is stored in a file of p), so they narrow the
  * sidecar rows before any of this.
  */
private[plans] final class StatsView private (
    spark: SparkSession, ks: KeyedScan, sc: RangeConjuncts.StatsConjuncts,
    /** The whole sidecar, one row per stored file. */
    val st: DataFrame,
    /** The sidecar rows the partition conjuncts select, each with its
      * table-relative file name `_rfile`.
      */
    val files: DataFrame,
    /** May hold a row satisfying every range / IS NOT NULL / IN conjunct. */
    val candidate: Column,
    /** Every stored row satisfies every such conjunct. */
    val full: Column,
    winners: Option[StatsView.Winners]) extends Logging {

  /** Every file is pure: nothing needs classifying before a fold. */
  def allPure: Boolean = winners.isEmpty

  /** Files whose every stored row is current. */
  val pure: Column = winners.fold(lit(true))(_ =>
    col("wcnt").isNotNull && col("wcnt") === col("cnt") && col("cnt") > 0)

  /** Files holding at least one current row. */
  val live: Column = winners.fold(lit(true))(_ =>
    col("wcnt").isNotNull && col("wcnt") > 0)

  /** The sidecar column `<prefix>_<c>`, resolved case-insensitively. */
  def statCol(prefix: String, c: String): Option[String] =
    st.columns.find(_.equalsIgnoreCase(s"${prefix}_$c"))

  /** (min, max, nn) of column `c`, or None when they are not recorded. */
  def bounds(c: String): Option[(Column, Column, Column)] =
    for (mn <- statCol("min", c); mx <- statCol("max", c); nn <- statCol("nn", c))
      yield (col(mn), col(mx), col(nn))

  /** The group key columns of a file for `groups` (column, is a
    * partition column) — its partition tuple (`p_`) for a partition
    * column, its one stored value (`min_`) for a data column — and
    * whether the file is SINGLE-VALUED in every data column (nn = cnt > 0
    * and min = max), i.e. all its rows fall in one group. Equal stored
    * bounds pin the exact value even under string truncation (stored
    * lower ≤ real ≤ stored upper). None when a column's stats are
    * missing.
    */
  def groupKeys(groups: Seq[(String, Boolean)]): Option[(Seq[String], Column)] = {
    val keyCols = groups.map { case (c, isPart) =>
      statCol(if (isPart) "p" else "min", c).getOrElse(return None)
    }
    val single = groups.collect { case (c, false) =>
      val (mn, mx, nn) = bounds(c).getOrElse(return None)
      nn === col("cnt") && mn === mx && col("cnt") > 0
    }
    Some((keyCols, single.reduceOption(_ && _).getOrElse(lit(true))))
  }

  /** The table-relative file names of `sel`'s rows — one plan-time
    * action.
    */
  def names(sel: DataFrame): Seq[String] = KeyedTable.withMetaConf(spark)(
    sel.select("_rfile").collect().map(_.getString(0)).toSeq)

  /** The stored file count a walk's kept set must undercut. */
  lazy val total: Int = winners.fold(
    KeyedTable.withMetaConf(spark)(st.count().toInt))(_.maps.cntByFile.size)

  /** The files a union serve scans: live candidates that `fold` leaves
    * out. When no conjunct narrows the selection and every pure file
    * folds, a resolved read's boundary is exactly its mixed files, read
    * from the cached winner maps without a job.
    */
  def boundary(fold: Column, everyPureFileFolds: Boolean): Seq[String] =
    winners match {
      case Some(w) if everyPureFileFolds && sc.partFilters.isEmpty && !sc.classifies =>
        w.maps.cntByFile.collect {
          case (f, c) if w.maps.wcByFile.get(f).exists(n => n > 0 && n < c) => f
        }.toSeq.sorted
      case _ => names(files.filter(live && coalesce(candidate, lit(false)) && !fold))
    }

  /** `in` with the rows of its subtree `sub` replaced by the current rows
    * of the `kept` files (see the class doc). An empty `kept` on a
    * resolved read is an empty relation.
    */
  def rowsBack(in: LogicalPlan, sub: LogicalPlan, kept: Seq[String]): Option[LogicalPlan] =
    winners match {
      case None => ks.swap(spark, in, kept)
      case Some(w) =>
        val rows =
          if (kept.isEmpty) Some(LocalRelation(sub.output, Nil))
          else StatsView.asOutput(
            RangeConjuncts.rowFilters(sc.partFilters, sc.ranges, sc.notNull, sc.inLists)
              .foldLeft(KeyedTable(ks.spec).winnerRowsOf(spark, kept, w.settled))(_.filter(_)),
            sub.output, ks.subst)
        rows.map(r => in.transformUp { case p if p eq sub => r })
    }

  /** [[rowsBack]] when `kept` prunes below [[total]], else None — a kept
    * set that prunes nothing is a decline. `how` names the serve in the
    * log line.
    */
  def prune(in: LogicalPlan, sub: LogicalPlan, kept: Seq[String])(
      how: => String): Option[LogicalPlan] =
    if (kept.length >= total) None
    else {
      logInfo(s"${ks.root} served from ${kept.length} of $total files — $how")
      rowsBack(in, sub, kept)
    }
}

private[plans] object StatsView {

  private[plans] final case class Winners(
      settled: DataFrame, maps: MorWinnerMaps.WinnerMaps)

  /** The view of `ks`'s table under `sc`, or None when the sidecar is
    * absent, lacks a constrained column's stats or the per-file `cnt`,
    * or — on a resolved read — the record-level index cannot prove the
    * winners current.
    */
  def of(spark: SparkSession, ks: KeyedScan, sc: RangeConjuncts.StatsConjuncts)
      : Option[StatsView] = {
    val table = KeyedTable(ks.spec)
    val st = table.colStatsFrame(spark).getOrElse(return None)
    if (!st.columns.contains("cnt")) return None
    val (candidate, full) = ColumnRange
      .fileClasses(st, sc.ranges, sc.notNull.map((_, false)), sc.inLists)
      .getOrElse(return None)
    val partSel = PartitionConjuncts.statCols(st, sc.partFilters).getOrElse(return None)
    val stRel = st.withColumn("_rfile", table.relFileName(spark, col("file")))
    if (!ks.spec.retainHistory)
      Some(new StatsView(spark, ks, sc, st, PartitionConjuncts.select(stRel, partSel),
        candidate, full, None))
    else {
      val settled = table.settledWinnerEntries(spark).getOrElse(return None)
      val maps = MorWinnerMaps.of(spark, table, settled, stRel).getOrElse(return None)
      Some(new StatsView(spark, ks, sc, st,
        PartitionConjuncts.select(stRel, partSel).withColumn("wcnt", maps.wcU(col("_rfile"))),
        candidate, full, Some(Winners(settled, maps))))
    }
  }

  /** `rows` re-aliased to `output`'s names and exprIds, so it can replace
    * the subtree that produced `output` with everything above untouched.
    * Each output attribute takes the column its definition (through the
    * fragment's renames, `subst`) names; None when an output is computed,
    * or a column is missing or of another type.
    */
  private def asOutput(
      rows: DataFrame, output: Seq[Attribute],
      subst: Expression => Expression): Option[LogicalPlan] = {
    val bplan = rows.queryExecution.analyzed
    val byName = bplan.output.map(at => KeyedScan.lower(at.name) -> at).toMap
    val aliases = output.map { at =>
      (subst(at) match {
        case src: Attribute => byName.get(KeyedScan.lower(src.name))
        case _ => None
      }).filter(_.dataType == at.dataType)
        .map(src => Alias(src, at.name)(exprId = at.exprId))
        .getOrElse(return None)
    }
    Some(Project(aliases, bplan))
  }
}

/** Per-file winner/stored-count maps of a history table, the input of
  * [[StatsView]]'s resolved classification: winner count and stored row
  * count per table-relative file. Both maps are file-count-sized — the
  * same class as a Hudi timeline. Cached per table version
  * ([[TableMetaCache]]), which keeps a serve to ONE index-sized fold job
  * per version instead of re-aggregating the index per query.
  */
private[plans] object MorWinnerMaps {

  /** The per-version winner artifacts: the in-memory maps (plan-time
    * walks, prune accounting) plus the winner-count lookup UDF, which
    * closes over a BROADCAST handle rather than the map itself — the
    * per-task closure stays O(1) at 10⁶-file scale, the map ships once
    * per executor via torrent instead of once per task. Closing it
    * destroys the broadcast: the cache does so when a racing planner's
    * copy loses the install or the table's version supersedes it
    * (non-blocking; a query racing the table change that superseded it
    * was already in undefined territory), so stale winner maps never
    * accumulate for the JVM lifetime.
    */
  private[plans] final case class WinnerMaps(
      wcByFile: Map[String, Long], cntByFile: Map[String, Long],
      wcU: org.apache.spark.sql.expressions.UserDefinedFunction,
      bc: org.apache.spark.broadcast.Broadcast[Map[String, Long]])
      extends AutoCloseable {
    def close(): Unit = bc.destroy()
  }

  /** The maps + lookup UDF, cached per table version, with the
    * soundness cross-check applied: every winner entry's file must be
    * covered by the stats sidecar (exists ⇒ current guarantees it; a
    * violation means a racing write — `None`: decline, don't drop
    * winners).
    */
  def of(
      spark: SparkSession, table: KeyedTable,
      settled: DataFrame, stRel: DataFrame): Option[WinnerMaps] = {
    val m = TableMetaCache.get(spark, table.spec.path, "winnerMaps") {
      val w0 = settled.groupBy(col("file"))
        .agg(count(lit(1)).as("wcnt")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val c0 = KeyedTable.withMetaConf(spark)(
        stRel.select(col("_rfile"), col("cnt")).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap)
      val bc = spark.sparkContext.broadcast(w0)
      WinnerMaps(w0, c0, udf((f: String) => bc.value.get(f)), bc)
    }
    if (!m.wcByFile.keySet.subsetOf(m.cntByFile.keySet)) None else Some(m)
  }
}
