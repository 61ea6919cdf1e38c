package graft.plans

import java.util.Locale

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex, LogicalRelation}

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


  private def pfColumn(pf: PartitionConjuncts.PartFilter): String = pf match {
    case PartitionConjuncts.PartIn(c, _, _) => c
    case PartitionConjuncts.PartNotNull(c)  => c
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (KeyedTable.specRegistry.isEmpty) return plan
    TableMetaCache.pinVersions(plan.transformUp {
      case f: Filter =>
        try tryRewrite(f).orElse(tryMorRewrite(f)).getOrElse(f)
        catch { case scala.util.control.NonFatal(_) => f }
    })
  }

  private[plans] final case class GroupTopKMatch(
      f: Filter, lr: LogicalRelation, fsRel: HadoopFsRelation, root: String,
      spec: graft.table.KeyedTableSpec, groupCols: Seq[String],
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
      TableMetaCache.declineGated(spark, this, m.root)((m.root, m.groupCols,
        m.sortCol, m.n, m.desc, m.nullsFirst,
        m.partFilters.toVector, m.ranges.toVector, m.notNull.toVector,
        m.inLists.map { case (c, vs) => (c, vs.toVector) }.toVector)) {
        serve(m)
      }
    }

  /** The window's single rank expression over table-partition keys or
    * stats-ordered DATA columns, ordered first by `col`, or None.
    */
  private def rankOf(
      w: Window, spec: graft.table.KeyedTableSpec,
      relAttrOf: Expression => Option[Attribute])
      : Option[(Attribute, Seq[(String, Boolean)], Attribute, Boolean, Boolean)] =
    w.windowExpressions match {
      case Seq(a @ Alias(
          WindowExpression(fn, WindowSpecDefinition(ps, os, _)), _))
          if fn.isInstanceOf[RowNumber] || fn.isInstanceOf[Rank] =>
        val partColsL =
          spec.partitionCols.map(_.toLowerCase(Locale.ROOT)).toSet
        val groups: Seq[(String, Boolean)] = ps.map(e => relAttrOf(e) match {
          case Some(at) if partColsL.contains(
            at.name.toLowerCase(Locale.ROOT)) => (at.name, true)
          // A DATA group column rides the single-valued classification
          // at serve time (q180's layout test); it needs recorded
          // min/max/nn, hence a stats-ordered type.
          case Some(at) if KeyedTable.statsOrderedType(at.dataType) =>
            (at.name, false)
          case _ => return None
        })
        os.headOption.flatMap {
          case SortOrder(child, dir, no, _) =>
            relAttrOf(child)
              .filter(at => KeyedTable.statsOrderedType(at.dataType))
              .map(at => (a.toAttribute, groups, at,
                dir == Descending, no == NullsFirst))
          case _ => None
        }
      case _ => None
    }

  private def matchShape(f: Filter): Option[GroupTopKMatch] = {
    val conds = mutable.Buffer.empty[(Expression, Int)]
    val windows = mutable.Buffer.empty[Window]
    val renames = mutable.Map.empty[ExprId, Expression]
    val rels = mutable.Buffer.empty[LogicalRelation]
    val pairs = mutable.Buffer.empty[(Attribute, Attribute)]
    if (!MvPlanShape.strip(f, conds, windows, renames, rels, pairs))
      return None
    if (pairs.nonEmpty || rels.length != 1) return None
    val w = windows.toSeq match {
      case Seq(one) => one
      case _ => return None
    }
    val lr = rels.head
    val fsRel = lr.relation match {
      case h: HadoopFsRelation => h
      case _ => return None
    }
    val root = fsRel.location.rootPaths match {
      case Seq(one) => one.toString
      case _ => return None
    }
    val spec = Option(KeyedTable.specRegistry.get(root)).getOrElse(return None)
    if (spec.retainHistory) return None

    val subst = MvPlanShape.substFn(renames)
    val relIds = lr.output.map(_.exprId).toSet
    def relAttrOf(e: Expression): Option[Attribute] = subst(e) match {
      case a: Attribute if relIds.contains(a.exprId) &&
        !a.name.startsWith("_graft_") => Some(a)
      case _ => None
    }
    val (rk, groupPairs, sortAttr, desc, nullsFirst) =
      rankOf(w, spec, relAttrOf).getOrElse(return None)
    val (groupCols, groupIsPart) = groupPairs.unzip

    // The rank bound: rk ≤ N / rk < N+1 / rk = N, above the window.
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
    val splitD = conds.toSeq.flatMap { case (c, d) =>
      MvPlanShape.splitConjunction(c).map((_, d))
    }
    if (splitD.exists(!_._1.deterministic)) return None
    val partColsL = spec.partitionCols.map(_.toLowerCase(Locale.ROOT)).toSet
    def partFilterOf(e: Expression) = PartitionConjuncts.of(
      e,
      x => relAttrOf(x)
        .filter(at => partColsL.contains(at.name.toLowerCase(Locale.ROOT))))
    val bounds = splitD.collect { case (c, 0) if boundOf(c).isDefined =>
      boundOf(c).get
    }
    if (bounds.isEmpty) return None
    val n = bounds.min
    if (n <= 0) return None
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
    val groupColsL = groupCols.map(_.toLowerCase(Locale.ROOT)).toSet
    val partFilters = splitD.flatMap { case (c, d) =>
      partFilterOf(c).filter(pf =>
        d != 0 || groupColsL.contains(pfColumn(pf).toLowerCase(Locale.ROOT)))
    }
    val belowConds = splitD.collect {
      case (c, d) if d != 0 && partFilterOf(c).isEmpty => c
    }
    val ex = RangeConjuncts.extract(
      belowConds,
      e => relAttrOf(e).filter(at => KeyedTable.statsOrderedType(at.dataType)))
    if (ex.other.nonEmpty || ex.nullPreds.exists(_._2)) return None
    Some(GroupTopKMatch(f, lr, fsRel, root, spec,
      groupCols, groupIsPart, sortAttr.name, n, desc, nullsFirst,
      partFilters, ex.ranges, ex.nullPreds.map(_._1), ex.inLists))
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
      // A file's group key: its partition tuple for hive columns, its
      // ONE stored value (min = max) for clustered data columns.
      val groupStatCols = m.groupCols.zip(m.groupIsPart).map {
        case (c, true)  => statCol("p", c)
        case (c, false) => statCol("min", c)
      }
      if (groupStatCols.exists(_.isEmpty)) return None
      // CLASSIFIABLE: single-valued (and null-free) in every data group
      // column — such a file belongs to exactly one group, so the
      // per-group count walk may use its rows (min = max under string
      // truncation still forces the exact value: stored lower ≤ real ≤
      // stored upper, and truncation makes lower < upper strictly).
      // Every OTHER file spans groups (or holds the NULL group): it is
      // ALWAYS KEPT, and its rows are excluded from the walk — the
      // cumulative counts only UNDER-count, so bounds weaken and keep
      // more files, never fewer. Pure partition groupings classify
      // every file (the original rule, unchanged).
      val dataClassPreds = m.groupCols.zip(m.groupIsPart).collect {
        case (c, false) =>
          (statCol("min", c), statCol("max", c), statCol("nn", c)) match {
            case (Some(gmn), Some(gmx), Some(gnn)) =>
              col(gnn) === col("cnt") && col(gmn) === col(gmx) &&
                col("cnt") > 0
            case _ => return None
          }
      }
      val classifiable = dataClassPreds.reduceOption(_ && _).getOrElse(lit(true))
      val filterStatCols = m.partFilters.map {
        case PartitionConjuncts.PartIn(c, _, _) => statCol("p", c)
        case PartitionConjuncts.PartNotNull(c)  => statCol("p", c)
      }
      if (filterStatCols.exists(_.isEmpty)) return None
      // Eligibility-filter classification columns must be covered.
      val classFCols =
        (m.ranges.map(_.column) ++ m.notNull ++ m.inLists.map(_._1)).distinct
      val nnOfF = classFCols.map(c => c -> statCol("nn", c)).toMap
      if (nnOfF.values.exists(_.isEmpty)) return None
      val mmOfF = (m.ranges.map(_.column) ++ m.inLists.map(_._1)).distinct
        .map(c => c -> ((statCol("min", c), statCol("max", c)))).toMap
      if (mmOfF.values.exists(p => p._1.isEmpty || p._2.isEmpty)) return None
      // The global walk's FULL/CANDIDATE split, applied per file: FULL
      // files have every row eligible (their nn counts toward the
      // group's bound); CANDIDATE files may hold an eligible row and
      // stay prunable by the bound; everything else cannot hold a
      // row that survives the below-window filter and drops entirely.
      val candidate = (m.ranges.map { r =>
        val (mnC, mxC) = (mmOfF(r.column)._1.get, mmOfF(r.column)._2.get)
        val loP = r.lo.map(v =>
          if (r.loInclusive) col(mxC) >= lit(v) else col(mxC) > lit(v))
        val hiP = r.hi.map(v =>
          if (r.hiInclusive) col(mnC) <= lit(v) else col(mnC) < lit(v))
        (loP.toSeq ++ hiP.toSeq).reduceOption(_ && _).getOrElse(lit(true))
      } ++ m.notNull.map(c => col(nnOfF(c).get) > lit(0L))
        ++ m.inLists.map { case (c, vs) =>
          val (mnC, mxC) = (mmOfF(c)._1.get, mmOfF(c)._2.get)
          vs.map(v => col(mnC) <= lit(v) && col(mxC) >= lit(v))
            .reduce(_ || _)
        })
        .reduceOption(_ && _).getOrElse(lit(true))
      val full = (m.ranges.map { r =>
        val (mnC, mxC) = (mmOfF(r.column)._1.get, mmOfF(r.column)._2.get)
        val loP = r.lo.map(v =>
          if (r.loInclusive) col(mnC) >= lit(v) else col(mnC) > lit(v))
        val hiP = r.hi.map(v =>
          if (r.hiInclusive) col(mxC) <= lit(v) else col(mxC) < lit(v))
        (Seq(col(nnOfF(r.column).get) === col("cnt")) ++ loP.toSeq ++
          hiP.toSeq).reduce(_ && _)
      } ++ m.notNull.map(c => col(nnOfF(c).get) === col("cnt"))
        ++ m.inLists.map { case (c, vs) =>
          val (mnC, mxC) = (mmOfF(c)._1.get, mmOfF(c)._2.get)
          col(nnOfF(c).get) === col("cnt") && col(mnC) === col(mxC) &&
            vs.map(v => col(mnC) === lit(v)).reduce(_ || _)
        })
        .reduceOption(_ && _).getOrElse(lit(true))

      val stSel = PartitionConjuncts.select(
        st, m.partFilters.zip(filterStatCols.map(_.get)))
      val (mn, mx, nn) = (col(mnS.get), col(mxS.get), col(nnS.get))
      val gCols = groupStatCols.map(c => col(c.get))
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
            .join(bounds, groupStatCols.map(_.get), "left")
          val reach =
            if (m.desc) mx >= col("_graft_bound")
            else mn <= col("_graft_bound")
          val keepPred = col("_graft_bound").isNull || reach ||
            (if (m.nullsFirst) col("cnt") > nn else lit(false))
          val unclassified =
            if (dataClassPreds.isEmpty) Array.empty[String]
            else stSel.filter((!classifiable || classifiable.isNull) &&
                coalesce(candidate, lit(false)))
              .select("file").collect().map(_.getString(0))
          val files = (joined.filter(keepPred).select("file")
            .collect().map(_.getString(0)) ++ unclassified).toSeq
          if (files.length >= total) None
          else {
            val paths = files.map(abs =>
              new org.apache.hadoop.fs.Path(new java.net.URI(abs)))
            val partSchema =
              Option(m.fsRel.partitionSchema).filter(_.nonEmpty)
            val pruned = new InMemoryFileIndex(
              spark, paths, Map("basePath" -> m.root), partSchema)
            logInfo(s"group-top-k rewrite: ${m.root} scan pruned to " +
              s"${files.length} of $total files for rank ≤ ${m.n} per " +
              s"(${m.groupCols.mkString(", ")}) by ${m.sortCol} " +
              (if (m.desc) "DESC" else "ASC"))
            Some(m.f.transformUp {
              case l: LogicalRelation if l eq m.lr =>
                l.copy(relation = m.fsRel.copy(location = pruned)(spark))
            })
          }
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
    val conds = mutable.Buffer.empty[(Expression, Int)]
    val windows = mutable.Buffer.empty[Window]
    val renames = mutable.Map.empty[ExprId, Expression]
    val rels = mutable.Buffer.empty[LogicalRelation]
    val pairs = mutable.Buffer.empty[(Attribute, Attribute)]
    if (!MvPlanShape.strip(f, conds, windows, renames, rels, pairs))
      return None
    if (pairs.nonEmpty || rels.length != 1) return None
    val lr = rels.head
    val fsRel = lr.relation match {
      case h: HadoopFsRelation => h
      case _ => return None
    }
    val root = fsRel.location.rootPaths match {
      case Seq(one) => one.toString
      case _ => return None
    }
    val spec = Option(KeyedTable.specRegistry.get(root)).getOrElse(return None)
    if (!spec.retainHistory) return None
    val subst = MvPlanShape.substFn(renames)
    val relIds = lr.output.map(_.exprId).toSet
    def relAttrOf(e: Expression): Option[Attribute] = subst(e) match {
      case a: Attribute if relIds.contains(a.exprId) &&
        !a.name.startsWith("_graft_") => Some(a)
      case _ => None
    }
    // Exactly two windows, top-down: the rank window ABOVE the table's
    // resolve window (and not itself a resolve — a second resolve shape
    // is not a leaderboard).
    val (rankW, resolveW) = windows.toSeq match {
      case Seq(w0, w1) => (w0, w1)
      case _ => return None
    }
    val rn = MvPlanShape.resolveRnOf(resolveW, spec).getOrElse(return None)
    if (MvPlanShape.resolveRnOf(rankW, spec).isDefined) return None
    val (rk, groupPairs, sortAttr, desc, nullsFirst) =
      rankOf(rankW, spec, relAttrOf).getOrElse(return None)
    if (spec.partitionCols.exists(_.equalsIgnoreCase(sortAttr.name)))
      return None
    val (groupCols, groupIsPart) = groupPairs.unzip

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
    val splitD = conds.toSeq.flatMap { case (c, d) =>
      MvPlanShape.splitConjunction(c).map((_, d))
    }
    if (splitD.exists(!_._1.deterministic)) return None
    val partColsL = spec.partitionCols.map(_.toLowerCase(Locale.ROOT)).toSet
    def partFilterOf(e: Expression) = PartitionConjuncts.of(
      e,
      x => relAttrOf(x)
        .filter(at => partColsL.contains(at.name.toLowerCase(Locale.ROOT))))
    // rn = 1 sits exactly below the rank window (depth 1) and nowhere
    // else; rank bounds at depth 0; partition conjuncts above the
    // resolve (depth ≤ 1); the eligibility filter — literal ranges /
    // IS NOT NULL / IN on stats-covered columns BETWEEN the rank window
    // and the resolve (depth 1: applied to resolved rows before
    // ranking) — classifies like the COW arm. Any other conjunct —
    // including anything BELOW the resolve window, which would change
    // the winners — declines.
    val (rnConds, rest) =
      splitD.partition(p => MvPlanShape.isRnEqOne(p._1, rn))
    if (rnConds.map(_._2) != Seq(1)) return None
    val bounds = rest.collect { case (c, 0) if boundOf(c).isDefined =>
      boundOf(c).get
    }
    if (bounds.isEmpty) return None
    val n = bounds.min
    if (n <= 0) return None
    // Same rank-preservation rule as the COW arm: a depth-1 partition
    // conjunct sits between the rank window and the resolve —
    // filter-before-rank, prunes; a depth-0 (above-rank-window)
    // partition conjunct prunes only when its column is a GROUP column
    // (whole groups and their winners drop); on a non-group column it
    // is filter-after-rank and stays residual, never pruning.
    val groupColsL = groupCols.map(_.toLowerCase(Locale.ROOT)).toSet
    val partFilters = rest.flatMap { case (c, d) =>
      partFilterOf(c).filter(pf =>
        d != 0 || groupColsL.contains(pfColumn(pf).toLowerCase(Locale.ROOT)))
    }
    val rangeConds = rest.collect {
      case (c, 1) if partFilterOf(c).isEmpty => c
    }
    val ex = RangeConjuncts.extract(
      rangeConds,
      e => relAttrOf(e).filter(at => KeyedTable.statsOrderedType(at.dataType)))
    if (ex.other.nonEmpty || ex.nullPreds.exists(_._2)) return None
    // Depth-0 non-bound conjuncts (e.g. the `rk > m` of a paginated
    // leaderboard) only filter RANKED output: everything above the rank
    // window survives the surgery verbatim, so they stay residual —
    // same contract as the COW arm. They never feed the classification.
    if (rest.exists { case (_, d) => d > 1 }) return None
    Some(MorGroupTopKMatch(f, rankW, spec, groupCols, groupIsPart,
      sortAttr.name, n, desc, nullsFirst, partFilters,
      ex.ranges, ex.nullPreds.map(_._1), ex.inLists))
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
      val groupStatCols = m.groupCols.zip(m.groupIsPart).map {
        case (c, true)  => statCol("p", c)
        case (c, false) => statCol("min", c)
      }
      if (groupStatCols.exists(_.isEmpty)) return None
      val dataClassPreds = m.groupCols.zip(m.groupIsPart).collect {
        case (c, false) =>
          (statCol("min", c), statCol("max", c), statCol("nn", c)) match {
            case (Some(gmn), Some(gmx), Some(gnn)) =>
              col(gnn) === col("cnt") && col(gmn) === col(gmx) &&
                col("cnt") > 0
            case _ => return None
          }
      }
      val classifiable =
        dataClassPreds.reduceOption(_ && _).getOrElse(lit(true))
      val filterStatCols = m.partFilters.map {
        case PartitionConjuncts.PartIn(c, _, _) => statCol("p", c)
        case PartitionConjuncts.PartNotNull(c)  => statCol("p", c)
      }
      if (filterStatCols.exists(_.isEmpty)) return None
      // Eligibility-filter classification columns must be covered; the
      // FULL/CANDIDATE split mirrors the COW arm's (on a MoR file the
      // stats are outer bounds of its winners — FULL still proves every
      // stored row, hence every winner, eligible; CANDIDATE is a sound
      // may-contain test).
      val classFCols =
        (m.ranges.map(_.column) ++ m.notNull ++ m.inLists.map(_._1)).distinct
      val nnOfF = classFCols.map(c => c -> statCol("nn", c)).toMap
      if (nnOfF.values.exists(_.isEmpty)) return None
      val mmOfF = (m.ranges.map(_.column) ++ m.inLists.map(_._1)).distinct
        .map(c => c -> ((statCol("min", c), statCol("max", c)))).toMap
      if (mmOfF.values.exists(p => p._1.isEmpty || p._2.isEmpty)) return None
      val candidate = (m.ranges.map { r =>
        val (mnC, mxC) = (mmOfF(r.column)._1.get, mmOfF(r.column)._2.get)
        val loP = r.lo.map(v =>
          if (r.loInclusive) col(mxC) >= lit(v) else col(mxC) > lit(v))
        val hiP = r.hi.map(v =>
          if (r.hiInclusive) col(mnC) <= lit(v) else col(mnC) < lit(v))
        (loP.toSeq ++ hiP.toSeq).reduceOption(_ && _).getOrElse(lit(true))
      } ++ m.notNull.map(c => col(nnOfF(c).get) > lit(0L))
        ++ m.inLists.map { case (c, vs) =>
          val (mnC, mxC) = (mmOfF(c)._1.get, mmOfF(c)._2.get)
          vs.map(v => col(mnC) <= lit(v) && col(mxC) >= lit(v))
            .reduce(_ || _)
        })
        .reduceOption(_ && _).getOrElse(lit(true))
      val full = (m.ranges.map { r =>
        val (mnC, mxC) = (mmOfF(r.column)._1.get, mmOfF(r.column)._2.get)
        val loP = r.lo.map(v =>
          if (r.loInclusive) col(mnC) >= lit(v) else col(mnC) > lit(v))
        val hiP = r.hi.map(v =>
          if (r.hiInclusive) col(mxC) <= lit(v) else col(mxC) < lit(v))
        (Seq(col(nnOfF(r.column).get) === col("cnt")) ++ loP.toSeq ++
          hiP.toSeq).reduce(_ && _)
      } ++ m.notNull.map(c => col(nnOfF(c).get) === col("cnt"))
        ++ m.inLists.map { case (c, vs) =>
          val (mnC, mxC) = (mmOfF(c)._1.get, mmOfF(c)._2.get)
          col(nnOfF(c).get) === col("cnt") && col(mnC) === col(mxC) &&
            vs.map(v => col(mnC) === lit(v)).reduce(_ || _)
        })
        .reduceOption(_ && _).getOrElse(lit(true))
      val settled = table.settledWinnerEntries(spark).getOrElse(return None)
      val stRel = st.withColumn(
        "_rfile", table.relOfFileCol(spark, col("file")))
      val MorWinnerMaps.WinnerMaps(_, cntByFile, wcU, _) =
        MorWinnerMaps.of(spark, table, settled, stRel)
          .getOrElse(return None)
      val joined = PartitionConjuncts.select(
          stRel, m.partFilters.zip(filterStatCols.map(_.get)))
        .withColumn("wcnt", wcU(col("_rfile")))
      val live = col("wcnt").isNotNull && col("wcnt") > 0
      val pure = col("wcnt").isNotNull && col("wcnt") === col("cnt") &&
        col("cnt") > 0
      val (mn, mx, nn) = (col(mnS.get), col(mxS.get), col(nnS.get))
      val gCols = groupStatCols.map(c => col(c.get))
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
            .join(bounds, groupStatCols.map(_.get), "left")
          val reach =
            if (m.desc) mx >= col("_graft_bound")
            else mn <= col("_graft_bound")
          val keepPred = col("_graft_bound").isNull || reach ||
            (if (m.nullsFirst) col("cnt") > nn else lit(false))
          val unclassified =
            if (dataClassPreds.isEmpty) Array.empty[String]
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
          val residual: Seq[org.apache.spark.sql.Column] =
            m.partFilters.map {
              case PartitionConjuncts.PartIn(c, t, vs) =>
                val toScala = org.apache.spark.sql.catalyst
                  .CatalystTypeConverters.createToScalaConverter(t)
                col(c).isin(vs.map(toScala): _*)
              case PartitionConjuncts.PartNotNull(c) => col(c).isNotNull
            } ++ m.ranges.map { r =>
              val loP = r.lo.map(v =>
                if (r.loInclusive) col(r.column) >= lit(v)
                else col(r.column) > lit(v))
              val hiP = r.hi.map(v =>
                if (r.hiInclusive) col(r.column) <= lit(v)
                else col(r.column) < lit(v))
              (loP.toSeq ++ hiP.toSeq).reduceOption(_ && _)
                .getOrElse(lit(true))
            } ++ m.notNull.map(c => col(c).isNotNull) ++
              m.inLists.map { case (c, vs) => col(c).isin(vs: _*) }
          val winners = residual.foldLeft(
            table.winnerRowsOf(spark, kept, settled))(_.filter(_))
          val bplan = winners.queryExecution.analyzed
          val byName = bplan.output
            .map(at => at.name.toLowerCase(Locale.ROOT) -> at).toMap
          val aliases: Seq[NamedExpression] =
            m.rankW.child.output.map { at =>
              val src = byName.getOrElse(
                at.name.toLowerCase(Locale.ROOT), return None)
              if (src.dataType != at.dataType) return None
              Alias(src, at.name)(exprId = at.exprId)
            }
          val newChild = Project(aliases, bplan)
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
