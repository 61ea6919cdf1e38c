package graft.plans

import java.util.Locale

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Window}

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
  * UNDER-counts: bounds weaken, keeping more files, never fewer. The
  * sidecar's per-file group key (partition tuple / stored single value)
  * groups the walked set exactly, and the stats top-k walk
  * ([[TopKPruneRewrite.walk]]) runs PER GROUP. Dropped rows sort
  * STRICTLY below every kept tie, so the residual Window over the kept
  * rows assigns ranks 1..N exactly as the full scan would (a total
  * ordering — unique tiebreak — makes the output deterministic, same
  * contract as the global rule). RANK rides the same bound (rank ≤ N
  * implies at most N−1 rows strictly ahead, hence value ≥ the group's
  * Nth row value); DENSE_RANK does not (unbounded rows per rank) and
  * declines.
  *
  * Matches `Filter` whose one window over the table's current rows
  * ([[KeyedScan.current]]: a `retainHistory` table's resolve window and
  * its `rn = 1` are stripped, and nothing may filter below the resolve)
  * is a single row_number/rank over table-partition or stats-ordered
  * data columns, ordered first by a stats-covered column, whose rank
  * conjunct is `rk ≤ N` / `rk < N+1` / `rk = N` at depth 0. Partition
  * point/IN conjuncts compose below the window (the query's own
  * filter-before-rank), and above the window only when the partition
  * column is one of the window's GROUP columns (whole groups drop —
  * surviving groups' ranks are unchanged); an above-window partition
  * conjunct on a non-group column is filter-after-rank and stays
  * residual, never pruning. Any OTHER conjunct BELOW the window
  * declines unless it classifies against the stats (the eligibility
  * filter, see [[matchShape]]), while non-rank conjuncts above the
  * window stay residual (they only filter ranked output). On a resolved
  * read the walk runs over the winner-file view ([[StatsView]]): only
  * pure files count toward a group's bound, dead files never open, and
  * the rank window's child is replaced by the kept files' winner rows,
  * so the residual Window + Filter rank exactly as over the full
  * resolve. Same registry gate, decline memo, and natural idempotency
  * as the rest of the pushdown family: a family of [[KeyedServe]].
  */
private[plans] final class GroupTopKRewrite(spark: SparkSession)
    extends KeyedServe.Family {

  private[plans] final case class GroupTopKMatch(
      f: Filter, rankW: Window, scan: KeyedScan, groupCols: Seq[String],
      groupIsPart: Seq[Boolean],
      sortCol: String, n: Int, desc: Boolean, nullsFirst: Boolean,
      sc: RangeConjuncts.StatsConjuncts) {
    /** Grouping columns that are DATA columns — classified per file by
      * the single-valued test, the layout property clustering decides
      * (so the advisor must not blanket-recommend these shapes).
      */
    def dataGroupCols: Seq[String] =
      groupCols.zip(groupIsPart).collect { case (c, false) => c }
    def spec: graft.table.KeyedTableSpec = scan.spec
    /** Every column whose stats the serve consults. */
    def statCols: Seq[String] = (sortCol +: sc.columns).distinct
  }

  def rewrite(node: LogicalPlan): Option[LogicalPlan] =
    matchShape(node).flatMap { m =>
      TableMetaCache.declineGated(spark, declines, m.scan.root)((m.scan.root, m.groupCols,
        m.sortCol, m.n, m.desc, m.nullsFirst, m.sc)) {
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

  /** The grouped-top-k shape of `node` this rule would serve if column
    * stats (and, on a resolved read, the record-level index) existed —
    * no sidecar IO; shared with [[IndexAdvisor]], the one-matcher
    * discipline.
    */
  def matchShape(node: LogicalPlan): Option[GroupTopKMatch] = {
    val f = node match { case f: Filter => f; case _ => return None }
    val ks = KeyedScan.of(f).getOrElse(return None)
    val (w, conds) = ks.current.collect { case (Seq(one), cs) => (one, cs) }
      .getOrElse(return None)
    if (!ks.deterministic) return None
    val (rk, groupPairs, sortAttr, desc, nullsFirst) =
      rankOf(w, ks).getOrElse(return None)
    val (groupCols, groupIsPart) = groupPairs.unzip
    val n = rankBound(conds, rk).getOrElse(return None)
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
    val partFilters = rankSafePartFilters(ks, conds, groupCols)
    val belowConds = conds.collect {
      case (c, d) if d != 0 && ks.partFilterOf(c).isEmpty => c
    }
    val sc = RangeConjuncts.statsConjuncts(ks, belowConds).getOrElse(return None)
    Some(GroupTopKMatch(f, w, ks,
      groupCols, groupIsPart, sortAttr.name, n, desc, nullsFirst,
      sc.copy(partFilters = partFilters)))
  }

  /** The IO half: one metadata-sized sidecar walk computes every group's
    * bound and the kept file set at once.
    */
  private[plans] def serve(m: GroupTopKMatch): Option[LogicalPlan] =
    StatsView.of(spark, m.scan, m.sc).flatMap { view =>
      try TopKPruneRewrite.walk(spark, view, m.sortCol, m.n, m.desc,
          m.nullsFirst, m.groupCols.zip(m.groupIsPart)).flatMap { kept =>
        view.prune(m.f, m.rankW.child, kept)(
          s"group top-k for rank ≤ ${m.n} per " +
            s"(${m.groupCols.mkString(", ")}) by ${m.sortCol} " +
            (if (m.desc) "DESC" else "ASC"))
      } catch { case scala.util.control.NonFatal(_) => None }
    }
}
