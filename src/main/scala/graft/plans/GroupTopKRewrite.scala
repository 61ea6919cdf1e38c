package graft.plans

import java.util.Locale

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Window}
import org.apache.spark.sql.catalyst.rules.Rule

import graft.table.{KeyedTable, TableMetaCache}

/** Serves GROUPED top-k — `row_number()/rank() OVER (PARTITION BY cat
  * ORDER BY col DESC) ≤ N` over a keyed table's declarative read —
  * through the column-stats sidecar: the leaderboard / "latest N per
  * category" query every 100 TB event table serves. The global rule
  * ([[TopKPruneRewrite]]) covers `ORDER BY … LIMIT k`; this one covers
  * the per-group twin, which Spark executes as a Window (+ the
  * optimizer's WindowGroupLimit pushdown) over the FULL scan.
  *
  * Soundness rests on each walked file belonging to exactly ONE group:
  * trivially true for TABLE PARTITION group keys (the hive directory),
  * and per-file provable for CLUSTERED DATA group keys via the
  * single-valued test (min = max ∧ nn = cnt — q180's classification; a
  * leaderboard `PARTITION BY lang` over the lang-clustered corpus then
  * walks each language's run). Files spanning groups — or holding the
  * NULL group — are always kept and excluded from the walk, which only
  * UNDER-counts the cumulative sums: bounds weaken, keeping more
  * files, never fewer. The sidecar's per-file group key (partition
  * tuple / stored single value) groups the walked set exactly and the
  * standard stats top-k argument applies PER GROUP — walk a group's
  * files by recorded min descending (asc mirrors), accumulate non-null
  * counts until ≥ N: those rows all rank ahead of anything below the
  * last walked file's min `L_g`, so a file with max < L_g cannot hold
  * a rank-≤-N row of that group. Dropped
  * rows sort STRICTLY below every kept tie, so the residual Window over
  * the kept rows assigns ranks 1..N exactly as the full scan would
  * (ties at the bound are kept by the non-strict comparison; a total
  * ordering — unique tiebreak — makes the output deterministic, same
  * contract as the global rule). A group with fewer than N non-null
  * rows proves no bound and keeps ALL its files. Nulls sorting toward
  * the head keep every null-carrying file of the group. RANK rides the
  * same bound (rank ≤ N implies at most N−1 rows strictly ahead, hence
  * value ≥ the group's Nth row value); DENSE_RANK does not (unbounded
  * rows per rank) and declines.
  *
  * Matches `Filter` whose one below-plan window is a single
  * row_number/rank over (a subset of the table's partition columns)
  * ordered first by a stats-covered column, whose rank conjunct is
  * `rk ≤ N` / `rk < N+1` / `rk = N` at depth 0. Partition point/IN
  * conjuncts compose below the window (the query's own
  * filter-before-rank), and above the window only when the partition
  * column is one of the window's GROUP columns (whole groups drop —
  * surviving groups' ranks are unchanged); an above-window partition
  * conjunct on a non-group column is filter-after-rank and stays
  * residual, never pruning. Any OTHER
  * conjunct BELOW the window declines (it would filter rows before
  * ranking and break the count bound), while non-rank conjuncts above
  * the window stay residual (they only filter ranked output). Same
  * registry gate, decline memo, and natural idempotency as the rest of
  * the pushdown family; `retainHistory` declines (a pruned resolve
  * could resurrect superseded versions — and the resolve window itself
  * is [[PointLookupRewrite]]/[[RangePruneRewrite]]'s subject, not a
  * leaderboard).
  */
class GroupTopKRewrite(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (KeyedTable.specRegistry.isEmpty) return plan
    TableMetaCache.pinVersions(plan.transformUp {
      case f: Filter =>
        try tryRewrite(f).orElse(tryMorRewrite(f)).getOrElse(f)
        catch { case scala.util.control.NonFatal(_) => f }
    })
  }

  private[plans] final case class GroupTopKMatch(
      f: Filter, scan: KeyedScan, groupCols: Seq[String],
      groupIsPart: Seq[Boolean],
      sortCol: String, n: Int, desc: Boolean, nullsFirst: Boolean,
      partFilters: Seq[PartitionConjuncts.PartFilter],
      ranges: Seq[graft.table.ColumnRange],
      notNull: Seq[String], inLists: Seq[(String, Seq[Any])]) {
    /** Grouping columns that are DATA columns — classified per file by
      * the single-valued test, the layout property clustering decides
      * (so the advisor must not blanket-recommend these shapes).
      */
    def dataGroupCols: Seq[String] =
      groupCols.zip(groupIsPart).collect { case (c, false) => c }
    def spec: graft.table.KeyedTableSpec = scan.spec
    /** Every column whose stats the serve consults. */
    def statCols: Seq[String] =
      (sortCol +: (ranges.map(_.column) ++ notNull ++ inLists.map(_._1)))
        .distinct
  }

  /** Every grouped-top-k shape in `plan` this rule would serve if
    * column stats existed (no sidecar IO) — shared with
    * [[IndexAdvisor]], the one-matcher discipline.
    */
  private[plans] def groupTopKShapes(plan: LogicalPlan): Seq[GroupTopKMatch] =
    if (KeyedTable.specRegistry.isEmpty) Nil
    else plan.collect { case f: Filter =>
      try matchShape(f) catch { case scala.util.control.NonFatal(_) => None }
    }.flatten

  private def tryRewrite(f: Filter): Option[LogicalPlan] =
    matchShape(f).flatMap { m =>
      TableMetaCache.declineGated(spark, this, m.scan.root)((m.scan.root, m.groupCols,
        m.sortCol, m.n, m.desc, m.nullsFirst,
        m.partFilters.toVector, m.ranges.toVector, m.notNull.toVector,
        m.inLists.map { case (c, vs) => (c, vs.toVector) }.toVector)) {
        serve(m)
      }
    }

  /** The window's single rank expression over table-partition keys or
    * stats-ordered DATA columns, ordered first by `col`, or None.
    */
  private def rankOf(w: Window, ks: KeyedScan)
      : Option[(Attribute, Seq[(String, Boolean)], Attribute, Boolean, Boolean)] =
    w.windowExpressions match {
      case Seq(a @ Alias(
          WindowExpression(fn, WindowSpecDefinition(ps, os, _)), _))
          if fn.isInstanceOf[RowNumber] || fn.isInstanceOf[Rank] =>
        val groups: Seq[(String, Boolean)] = ps.map(e => ks.relAttrOf(e) match {
          case Some(at) if ks.isPartitionCol(at.name) => (at.name, true)
          // A DATA group column rides the single-valued classification
          // at serve time (q180's layout test); it needs recorded
          // min/max/nn, hence a stats-ordered type.
          case Some(at) if KeyedTable.statsOrderedType(at.dataType) =>
            (at.name, false)
          case _ => return None
        })
        os.headOption.flatMap {
          case SortOrder(child, dir, no, _) =>
            ks.relAttrOf(child)
              .filter(at => KeyedTable.statsOrderedType(at.dataType))
              .map(at => (a.toAttribute, groups, at,
                dir == Descending, no == NullsFirst))
          case _ => None
        }
      case _ => None
    }

  /** The rank bound N of `rk ≤ N` / `rk < N+1` / `rk = N` conjuncts
    * above the rank window (depth 0) — the tightest, if positive.
    */
  private def rankBound(conds: Seq[(Expression, Int)], rk: Attribute): Option[Int] = {
    def boundOf(e: Expression): Option[Int] = e match {
      case LessThanOrEqual(a: Attribute, IntegerLiteral(n))
        if a.exprId == rk.exprId => Some(n)
      case LessThan(a: Attribute, IntegerLiteral(n))
        if a.exprId == rk.exprId => Some(n - 1)
      case EqualTo(a: Attribute, IntegerLiteral(n))
        if a.exprId == rk.exprId => Some(n)
      case GreaterThanOrEqual(IntegerLiteral(n), a: Attribute)
        if a.exprId == rk.exprId => Some(n)
      case _ => None
    }
    val bounds = conds.collect { case (c, 0) if boundOf(c).isDefined =>
      boundOf(c).get
    }
    if (bounds.isEmpty) None else Some(bounds.min).filter(_ > 0)
  }

  /** The partition conjuncts that prune without shifting ranks: every
    * one below the rank window (depth ≠ 0), and one above it only when
    * its column is a GROUP column (see [[matchShape]]).
    */
  private def rankSafePartFilters(
      ks: KeyedScan, conds: Seq[(Expression, Int)], groupCols: Seq[String])
      : Seq[PartitionConjuncts.PartFilter] = {
    val groupColsL = groupCols.map(_.toLowerCase(Locale.ROOT)).toSet
    conds.flatMap { case (c, d) =>
      ks.partFilterOf(c).filter(pf =>
        d != 0 || groupColsL.contains(pf.column.toLowerCase(Locale.ROOT)))
    }
  }

  private def matchShape(f: Filter): Option[GroupTopKMatch] = {
    val ks = KeyedScan.of(f).getOrElse(return None)
    val w = ks.windows match {
      case Seq(one) => one
      case _ => return None
    }
    if (ks.spec.retainHistory || !ks.deterministic) return None
    val (rk, groupPairs, sortAttr, desc, nullsFirst) =
      rankOf(w, ks).getOrElse(return None)
    val (groupCols, groupIsPart) = groupPairs.unzip
    val n = rankBound(ks.conjuncts, rk).getOrElse(return None)
    // Partition conjuncts compose only where pruning preserves ranks:
    // BELOW the window they are the query's own filter-before-rank
    // (dropping a partition's files drops exactly the rows the query
    // drops before ranking); at depth 0 — ABOVE the window — only when
    // the partition column is one of the window's GROUP columns, where
    // whole groups drop and surviving groups' ranks are unchanged. An
    // above-window partition conjunct on a NON-group column is
    // filter-AFTER-rank: the window ranks across partitions, so pruning
    // other partitions' files before ranking would shift surviving
    // rows' ranks. Such a conjunct stays residual (the original Filter
    // survives the surgery) and never feeds pruning or classification.
    // Below-window NON-partition conjuncts — the "eligibility filter"
    // of a filtered leaderboard, applied BEFORE ranking — compose when
    // every one classifies as a literal range / IS NOT NULL / IN on a
    // stats-covered column: only files FULL under every conjunct count
    // toward a group's bound, and files that cannot hold a matching row
    // drop entirely (their rows never rank). Anything else below the
    // window declines; non-rank conjuncts ABOVE the window only filter
    // ranked output and stay residual (they must NOT feed the
    // classification — dropping files by an above-window predicate
    // would change surviving rows' ranks).
    val partFilters = rankSafePartFilters(ks, ks.conjuncts, groupCols)
    val belowConds = ks.conjuncts.collect {
      case (c, d) if d != 0 && ks.partFilterOf(c).isEmpty => c
    }
    val sc = RangeConjuncts.statsConjuncts(ks, belowConds).getOrElse(return None)
    Some(GroupTopKMatch(f, ks,
      groupCols, groupIsPart, sortAttr.name, n, desc, nullsFirst,
      partFilters, sc.ranges, sc.notNull, sc.inLists))
  }

  /** A file's group key columns in the sidecar and its classifiability. */
  private final case class GroupKeys(
      statCols: Seq[String], classifiable: org.apache.spark.sql.Column,
      hasDataGroups: Boolean)

  /** A file's group key: its partition tuple for hive columns, its ONE
    * stored value (min = max) for clustered data columns. CLASSIFIABLE:
    * single-valued (and null-free) in every data group column — such a
    * file belongs to exactly one group, so the per-group count walk may
    * use its rows (min = max under string truncation still forces the
    * exact value: stored lower ≤ real ≤ stored upper, and truncation
    * makes lower < upper strictly). Every OTHER file spans groups (or
    * holds the NULL group): it is ALWAYS KEPT, and its rows are excluded
    * from the walk — the cumulative counts only UNDER-count, so bounds
    * weaken and keep more files, never fewer. Pure partition groupings
    * classify every file. None when a group column lacks stats.
    */
  private def groupKeys(
      st: org.apache.spark.sql.DataFrame, groupCols: Seq[String],
      groupIsPart: Seq[Boolean]): Option[GroupKeys] = {
    import org.apache.spark.sql.functions.{col, lit}
    def statCol(prefix: String, c: String): Option[String] =
      st.columns.find(_.equalsIgnoreCase(s"${prefix}_$c"))
    val keyCols = groupCols.zip(groupIsPart).map {
      case (c, true)  => statCol("p", c)
      case (c, false) => statCol("min", c)
    }
    if (keyCols.exists(_.isEmpty)) return None
    val dataClassPreds = groupCols.zip(groupIsPart).collect {
      case (c, false) =>
        (statCol("min", c), statCol("max", c), statCol("nn", c)) match {
          case (Some(gmn), Some(gmx), Some(gnn)) =>
            col(gnn) === col("cnt") && col(gmn) === col(gmx) && col("cnt") > 0
          case _ => return None
        }
    }
    Some(GroupKeys(keyCols.map(_.get),
      dataClassPreds.reduceOption(_ && _).getOrElse(lit(true)),
      dataClassPreds.nonEmpty))
  }

  /** The IO half: one metadata-sized sidecar job computes every group's
    * bound and the kept file set at once.
    */
  private[plans] def serve(m: GroupTopKMatch): Option[LogicalPlan] = {
    import org.apache.spark.sql.expressions.{Window => W}
    import org.apache.spark.sql.functions.{coalesce, col, lit, max => fmax, sum}
    val table = KeyedTable(m.spec)
    table.colStatsFrame(spark).flatMap { st =>
      def statCol(prefix: String, c: String): Option[String] =
        st.columns.find(_.equalsIgnoreCase(s"${prefix}_$c"))
      if (!st.columns.contains("cnt")) return None
      val (mnS, mxS, nnS) = (statCol("min", m.sortCol),
        statCol("max", m.sortCol), statCol("nn", m.sortCol))
      if (mnS.isEmpty || mxS.isEmpty || nnS.isEmpty) return None
      val GroupKeys(groupStatCols, classifiable, hasDataGroups) =
        groupKeys(st, m.groupCols, m.groupIsPart).getOrElse(return None)
      val partSel =
        PartitionConjuncts.statCols(st, m.partFilters).getOrElse(return None)
      // The global walk's FULL/CANDIDATE split, applied per file: FULL
      // files have every row eligible (their nn counts toward the
      // group's bound); CANDIDATE files may hold an eligible row and
      // stay prunable by the bound; everything else cannot hold a
      // row that survives the below-window filter and drops entirely.
      val (candidate, full) = RangeConjuncts
        .fileClasses(st, m.ranges, m.notNull, m.inLists).getOrElse(return None)

      val stSel = PartitionConjuncts.select(st, partSel)
      val (mn, mx, nn) = (col(mnS.get), col(mxS.get), col(nnS.get))
      val gCols = groupStatCols.map(col)
      val walkKey = if (m.desc) mn else mx
      val w = W.partitionBy(gCols: _*).orderBy(
        if (m.desc) walkKey.desc_nulls_last else walkKey.asc_nulls_last)
      KeyedTable.withMetaConf(spark) {
        try {
          val total = st.count().toInt
          // Per-group bound: the FIRST file crossing N in the walk
          // order carries the group's bound value — in desc order that
          // is the LARGEST walk key among crossing files (asc: the
          // smallest). Only group-classifiable files FULL under every
          // eligibility conjunct walk (their rows all rank).
          val stClass = stSel
            .filter(classifiable && coalesce(full, lit(false)))
          val crossed = stClass
            .withColumn("_graft_cum", sum(nn).over(
              w.rowsBetween(W.unboundedPreceding, W.currentRow)))
            .filter(col("_graft_cum") >= m.n && nn > 0)
          val boundAgg =
            if (m.desc) fmax(walkKey)
            else org.apache.spark.sql.functions.min(walkKey)
          val bounds = crossed
            .groupBy(gCols: _*).agg(boundAgg.as("_graft_bound"))
          // Keep (CANDIDATE files only — a file that cannot hold an
          // eligible row never ranks): files whose range can reach the
          // group bound, every file of an UNBOUNDED group (< N provable
          // eligible rows), null-carrying files when nulls rank first,
          // and every UNCLASSIFIABLE file (spans groups / holds the
          // NULL group).
          val joined = stSel
            .filter(classifiable && coalesce(candidate, lit(false)))
            .join(bounds, groupStatCols, "left")
          val reach =
            if (m.desc) mx >= col("_graft_bound")
            else mn <= col("_graft_bound")
          val keepPred = col("_graft_bound").isNull || reach ||
            (if (m.nullsFirst) col("cnt") > nn else lit(false))
          val unclassified =
            if (!hasDataGroups) Array.empty[String]
            else stSel.filter((!classifiable || classifiable.isNull) &&
                coalesce(candidate, lit(false)))
              .select("file").collect().map(_.getString(0))
          val files = (joined.filter(keepPred).select("file")
            .collect().map(_.getString(0)) ++ unclassified).toSeq
          val paths = files.map(abs =>
            new org.apache.hadoop.fs.Path(new java.net.URI(abs)))
          m.scan.prune(spark, m.f, paths, total = total)(
            s"group top-k for rank ≤ ${m.n} per " +
              s"(${m.groupCols.mkString(", ")}) by ${m.sortCol} " +
              (if (m.desc) "DESC" else "ASC"))
        } catch { case scala.util.control.NonFatal(_) => None }
      }
    }
  }

  /** GROUPED top-k over a history table's RESOLVED read — the per-group
    * stats walk composed with the winner-file classification
    * ([[TopKPruneRewrite]]'s MoR arm, per group): the per-category
    * leaderboard over a MUTABLE table ("longest N live docs per
    * language"), which otherwise falls to the full resolve scan.
    *
    * Soundness is the COW rule's per-group argument with "row" replaced
    * by "winner row" throughout:
    *  - a file single-valued in every data group column (and any file
    *    for partition group columns) belongs to exactly ONE group, and
    *    so do its WINNERS (winner values ⊆ stored values; a winner row
    *    of partition p is stored in a file of p);
    *  - a PURE file (every stored row a live winner) that is also
    *    group-classifiable contributes exactly its `nn` winner rows to
    *    its group — walking a group's pure files by min descending
    *    until Σnn ≥ N proves that group's Nth resolved value reaches
    *    the walk bound L_g;
    *  - the kept set is every file holding ≥ 1 winner that could hold
    *    a rank-≤-N row: classifiable files whose all-version bounds
    *    (OUTER bounds of their winners) reach their group's L_g, every
    *    file of an unbounded group, null-carrying files when nulls
    *    rank first (zero stored nulls ⇒ zero null winners), and every
    *    group-spanning file — while DEAD files (zero winners), exactly
    *    where a superseded group extremum hides, never open.
    * The plan replaces the rank window's child wholesale with the
    * winner rows of the kept files (the full resolve-identity
    * semi-join, [[KeyedTable.winnerRowsOf]]), re-aliased to the child's
    * own attribute ids, so the residual rank Window + Filter assign
    * ranks 1..N exactly as the full resolve would.
    *
    * Match: Filter(rank-bound) over ONE rank window over the exact
    * shared resolve shape (rn = 1 the only conjunct below the rank
    * window) on a registered `retainHistory` table. Partition point/IN
    * conjuncts compose above the resolve (they drop whole groups and
    * whole winners); anything else — in particular any conjunct BELOW
    * the resolve window, which would change the winners — declines.
    */
  private[plans] final case class MorGroupTopKMatch(
      f: Filter, rankW: Window, spec: graft.table.KeyedTableSpec,
      groupCols: Seq[String], groupIsPart: Seq[Boolean],
      sortCol: String, n: Int, desc: Boolean, nullsFirst: Boolean,
      partFilters: Seq[PartitionConjuncts.PartFilter],
      ranges: Seq[graft.table.ColumnRange],
      notNull: Seq[String], inLists: Seq[(String, Seq[Any])]) {
    def dataGroupCols: Seq[String] =
      groupCols.zip(groupIsPart).collect { case (c, false) => c }
    /** Every column whose stats the serve consults. */
    def statCols: Seq[String] =
      (sortCol +: (ranges.map(_.column) ++ notNull ++ inLists.map(_._1)))
        .distinct
  }

  /** Every resolved grouped-top-k shape in `plan` the MoR arm would
    * serve if the record-level index and sort-column stats existed —
    * the advisor's hook (advice ≡ serveability, the shared-matcher
    * discipline).
    */
  private[plans] def morGroupTopKShapes(
      plan: LogicalPlan): Seq[MorGroupTopKMatch] =
    if (KeyedTable.specRegistry.isEmpty) Nil
    else plan.collect { case f: Filter =>
      try matchMorShape(f)
      catch { case scala.util.control.NonFatal(_) => None }
    }.flatten

  private def tryMorRewrite(f: Filter): Option[LogicalPlan] =
    matchMorShape(f).flatMap { m =>
      TableMetaCache.declineGated(spark, this, m.spec.path)(("mor",
        m.spec.path, m.groupCols, m.sortCol, m.n, m.desc,
        m.nullsFirst, m.partFilters.toVector, m.ranges.toVector,
        m.notNull.toVector,
        m.inLists.map { case (c, vs) => (c, vs.toVector) }.toVector)) {
        serveMor(m)
      }
    }

  private def matchMorShape(f: Filter): Option[MorGroupTopKMatch] = {
    val ks = KeyedScan.of(f).getOrElse(return None)
    if (!ks.spec.retainHistory || !ks.deterministic) return None
    // Exactly two windows, top-down: the rank window ABOVE the table's
    // resolve window (and not itself a resolve — a second resolve shape
    // is not a leaderboard).
    val (rankW, resolveW) = ks.windows match {
      case Seq(w0, w1) => (w0, w1)
      case _ => return None
    }
    // rn = 1 sits exactly below the rank window (depth 1) and nowhere
    // else; rank bounds at depth 0; partition conjuncts above the
    // resolve (depth ≤ 1); the eligibility filter — literal ranges /
    // IS NOT NULL / IN on stats-covered columns BETWEEN the rank window
    // and the resolve (depth 1: applied to resolved rows before
    // ranking) — classifies like the COW arm. Any other conjunct —
    // including anything BELOW the resolve window, which would change
    // the winners — declines.
    val rest = ks.resolveSplit(resolveW, 1).getOrElse(return None)
    if (MvPlanShape.resolveRnOf(rankW, ks.spec).isDefined) return None
    val (rk, groupPairs, sortAttr, desc, nullsFirst) =
      rankOf(rankW, ks).getOrElse(return None)
    if (ks.isPartitionCol(sortAttr.name)) return None
    val (groupCols, groupIsPart) = groupPairs.unzip
    val n = rankBound(rest, rk).getOrElse(return None)
    // Same rank-preservation rule as the COW arm: a depth-1 partition
    // conjunct sits between the rank window and the resolve —
    // filter-before-rank, prunes; a depth-0 (above-rank-window)
    // partition conjunct prunes only when its column is a GROUP column
    // (whole groups and their winners drop); on a non-group column it
    // is filter-after-rank and stays residual, never pruning.
    val partFilters = rankSafePartFilters(ks, rest, groupCols)
    val rangeConds = rest.collect {
      case (c, 1) if ks.partFilterOf(c).isEmpty => c
    }
    val sc = RangeConjuncts.statsConjuncts(ks, rangeConds).getOrElse(return None)
    // Depth-0 non-bound conjuncts (e.g. the `rk > m` of a paginated
    // leaderboard) only filter RANKED output: everything above the rank
    // window survives the surgery verbatim, so they stay residual —
    // same contract as the COW arm. They never feed the classification.
    if (rest.exists { case (_, d) => d > 1 }) return None
    Some(MorGroupTopKMatch(f, rankW, ks.spec, groupCols, groupIsPart,
      sortAttr.name, n, desc, nullsFirst, partFilters,
      sc.ranges, sc.notNull, sc.inLists))
  }

  /** The IO half of the MoR arm: one metadata-sized walk computes every
    * group's winner-count bound and the kept file set; the plan swaps
    * the rank window's child for the kept files' winner rows.
    */
  private[plans] def serveMor(m: MorGroupTopKMatch): Option[LogicalPlan] = {
    import org.apache.spark.sql.expressions.{Window => W}
    import org.apache.spark.sql.functions.{coalesce, col, lit, max => fmax, sum}
    val table = KeyedTable(m.spec)
    table.colStatsFrame(spark).flatMap { st =>
      def statCol(prefix: String, c: String): Option[String] =
        st.columns.find(_.equalsIgnoreCase(s"${prefix}_$c"))
      if (!st.columns.contains("cnt")) return None
      val (mnS, mxS, nnS) = (statCol("min", m.sortCol),
        statCol("max", m.sortCol), statCol("nn", m.sortCol))
      if (mnS.isEmpty || mxS.isEmpty || nnS.isEmpty) return None
      val GroupKeys(groupStatCols, classifiable, hasDataGroups) =
        groupKeys(st, m.groupCols, m.groupIsPart).getOrElse(return None)
      val partSel =
        PartitionConjuncts.statCols(st, m.partFilters).getOrElse(return None)
      // The FULL/CANDIDATE split mirrors the COW arm's (on a MoR file the
      // stats are outer bounds of its winners — FULL still proves every
      // stored row, hence every winner, eligible; CANDIDATE is a sound
      // may-contain test).
      val (candidate, full) = RangeConjuncts
        .fileClasses(st, m.ranges, m.notNull, m.inLists).getOrElse(return None)
      val settled = table.settledWinnerEntries(spark).getOrElse(return None)
      val stRel = st.withColumn(
        "_rfile", table.relOfFileCol(spark, col("file")))
      val MorWinnerMaps.WinnerMaps(_, cntByFile, wcU, _) =
        MorWinnerMaps.of(spark, table, settled, stRel)
          .getOrElse(return None)
      val joined = PartitionConjuncts.select(stRel, partSel)
        .withColumn("wcnt", wcU(col("_rfile")))
      val live = col("wcnt").isNotNull && col("wcnt") > 0
      val pure = col("wcnt").isNotNull && col("wcnt") === col("cnt") &&
        col("cnt") > 0
      val (mn, mx, nn) = (col(mnS.get), col(mxS.get), col(nnS.get))
      val gCols = groupStatCols.map(col)
      val walkKey = if (m.desc) mn else mx
      val w = W.partitionBy(gCols: _*).orderBy(
        if (m.desc) walkKey.desc_nulls_last else walkKey.asc_nulls_last)
      KeyedTable.withMetaConf(spark) {
        try {
          // Per-group bound over files that are BOTH pure and
          // group-classifiable — only their nn provably counts winner
          // rows of one group. Everything else under-counts: bounds
          // weaken, keeping more files, never fewer.
          val stClass = joined
            .filter(coalesce(classifiable, lit(false)) && pure &&
              coalesce(full, lit(false)))
          val crossed = stClass
            .withColumn("_graft_cum", sum(nn).over(
              w.rowsBetween(W.unboundedPreceding, W.currentRow)))
            .filter(col("_graft_cum") >= m.n && nn > 0)
          val boundAgg =
            if (m.desc) fmax(walkKey)
            else org.apache.spark.sql.functions.min(walkKey)
          val bounds = crossed
            .groupBy(gCols: _*).agg(boundAgg.as("_graft_bound"))
          // Keep (all from files holding ≥ 1 winner): classifiable
          // files that reach their group's bound / have no bound / may
          // hold a head-ranking null winner; group-spanning files
          // unconditionally. Dead files never open.
          val classed = joined
            .filter(coalesce(classifiable, lit(false)) && live &&
              coalesce(candidate, lit(false)))
            .join(bounds, groupStatCols, "left")
          val reach =
            if (m.desc) mx >= col("_graft_bound")
            else mn <= col("_graft_bound")
          val keepPred = col("_graft_bound").isNull || reach ||
            (if (m.nullsFirst) col("cnt") > nn else lit(false))
          val unclassified =
            if (!hasDataGroups) Array.empty[String]
            else joined
              .filter(live && (!classifiable || classifiable.isNull) &&
                coalesce(candidate, lit(false)))
              .select(col("_rfile")).collect().map(_.getString(0))
          val kept = (classed.filter(keepPred).select(col("_rfile"))
            .collect().map(_.getString(0)) ++ unclassified).toSeq.distinct
          if (kept.length >= cntByFile.size) return None // nothing pruned
          // Residual: every conjunct re-applied on the winner rows —
          // the below-rank eligibility Filter lives in the REPLACED
          // subtree, so ranges/not-null/IN must re-apply here or
          // ineligible winner rows would rank (partition conjuncts are
          // defensive — they selected whole files and whole winners).
          val residual = RangeConjuncts.rowFilters(
            m.partFilters, m.ranges, m.notNull, m.inLists)
          val winners = residual.foldLeft(
            table.winnerRowsOf(spark, kept, settled))(_.filter(_))
          val newChild =
            MorWinnerMaps.asOutput(winners, m.rankW.child.output).getOrElse(return None)
          logInfo(s"group-top-k rewrite: ${m.spec.path} RESOLVED scan " +
            s"replaced by winner rows of ${kept.length} of " +
            s"${cntByFile.size} files for rank ≤ ${m.n} per " +
            s"(${m.groupCols.mkString(", ")}) by ${m.sortCol} " +
            (if (m.desc) "DESC" else "ASC"))
          Some(m.f.transformUp {
            case wNode: Window if wNode eq m.rankW =>
              wNode.copy(child = newChild)
          })
        } catch { case scala.util.control.NonFatal(_) => None }
      }
    }
  }
}
