package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._

import graft.table.{KeyedTable, TableMetaCache}

/** Serves `ORDER BY col [ASC|DESC] LIMIT k` over a keyed table's
  * declarative read through the column-stats sidecar — the third member
  * of the stats-serving family ([[PointLookupRewrite]] points,
  * [[RangePruneRewrite]] ranges, this rule sorted limits): the "latest
  * N" query every time-series table serves (`ORDER BY ts DESC LIMIT
  * 100`) opens only the files that can hold a top-k row instead of
  * feeding a full scan into the cluster-wide TakeOrdered. The bound is
  * the standard stats top-k argument ([[TopKPruneRewrite.walk]]):
  * walking files by min descending until the accumulated non-null count
  * reaches k proves the kth value is at least that walk's last min, so
  * files whose max falls below it cannot contribute. On a table
  * clustered by the sort column the kept set is O(k / rows-per-file)
  * files; unclustered, the stats still answer, they just skip less.
  *
  * Matches `GlobalLimit(k, LocalLimit(k, Sort(...)))` — optionally with
  * a deterministic `Project` between limit and sort — whose sort child
  * strips to a single parquet relation rooted at a REGISTERED keyed
  * table ([[KeyedTable.specRegistry]]) with no window over its current
  * rows ([[KeyedScan.current]]: a `retainHistory` table's resolve is
  * stripped); the LEADING sort key must be a stats-covered ordered
  * column. Trailing tiebreak keys ride untouched: only the kept files'
  * rows reach the residual Sort + Limit, so boundary ties resolve exactly
  * as they would unpruned. On a resolved read the walk runs over the
  * winner-file view ([[StatsView]]): pure files accumulate, files with
  * winners are kept, dead files never open.
  *
  * FILTERS below the sort compose when every conjunct classifies
  * against the sidecar — "latest N of a kind", the most common real
  * shape of this query:
  *  - PARTITION point/IN conjuncts ([[PartitionConjuncts]]) select
  *    whole sidecar rows first, exactly (a file's partition tuple is a
  *    constant), and the walk runs over the selected subset unchanged.
  *  - Literal RANGE / IS NOT NULL / IN conjuncts on stats-covered
  *    columns ([[RangeConjuncts]]) split files into FULL (every row
  *    satisfies) and CANDIDATE (may hold a satisfying row). The count
  *    accumulation walks FULL files only — their rows all survive the
  *    filter, so "Σnn ≥ k rows ≥ L" still proves the filtered kth value
  *    is ≥ L — while the kept set is every CANDIDATE file whose max
  *    reaches L (boundary files' partially-matching rows are the
  *    residual filter's job). Truncated string bounds only widen the
  *    kept set and only shrink the walked FULL set — sound both ways.
  *
  * Declines: any conjunct that classifies neither way (IS NULL,
  * non-literal predicates, uncovered columns — a leftover predicate
  * would break the accumulation bound), windows/joins below the sort,
  * non-global sorts, k ≤ 0, and walks whose guaranteed-matching
  * non-null counts never reach k (a selective filter with no full files
  * cannot bound the kth value — that shape is [[RangePruneRewrite]]'s).
  * Same registry-gated plan-time cost and natural idempotency as the
  * range rule (a served scan no longer roots at the registered path).
  * A family of [[KeyedServe]].
  */
private[plans] final class TopKPruneRewrite(spark: SparkSession)
    extends KeyedServe.Family {

  private def projOk(pl: Seq[NamedExpression]): Boolean = pl.forall {
    case _: AttributeReference => true
    case Alias(e, _) => e.deterministic
    case _ => false
  }

  /** The shape half of the match, sidecar-IO-free — shared with
    * [[IndexAdvisor]], so the advisor recommends exactly the stats
    * builds this rule can later serve (the one-matcher discipline the
    * point/range/aggregate families follow).
    */
  private[plans] final case class TopKMatch(
      lim: GlobalLimit, sort: Sort, scan: KeyedScan,
      sortCol: String, k: Int, desc: Boolean, nullsFirst: Boolean,
      sc: RangeConjuncts.StatsConjuncts) {
    def spec: graft.table.KeyedTableSpec = scan.spec
    /** Every column whose stats the serve consults. */
    def statCols: Seq[String] = (sortCol +: sc.columns).distinct
  }

  def rewrite(node: LogicalPlan): Option[LogicalPlan] =
    matchTopK(node).flatMap { m =>
      TableMetaCache.declineGated(spark, declines, m.scan.root)(
          (m.scan.root, m.sortCol, m.k, m.desc, m.nullsFirst, m.sc)) {
        serveTopK(m)
      }
    }

  /** Paginated form: LIMIT k OFFSET m canonicalizes to
    * GlobalLimit(k, Offset(m, LocalLimit(k+m, Sort))) — the walk runs
    * at the COMBINED bound k+m (files that can hold any of the first
    * k+m rows), and the residual Sort + limits + Offset slice the page
    * exactly. Plain form: the shared Limit extractor.
    */
  private def limitSort(lim: GlobalLimit): Option[(Int, Sort)] = {
    val ks = lim match {
      case Limit(IntegerLiteral(n), s: Sort) => Some((n, s))
      case Limit(IntegerLiteral(n), Project(pl, s: Sort)) if projOk(pl) =>
        Some((n, s))
      case GlobalLimit(IntegerLiteral(n),
          Offset(IntegerLiteral(m), LocalLimit(IntegerLiteral(nm), rest)))
          if n > 0 && m >= 0 && nm == n + m =>
        rest match {
          case s: Sort => Some((nm, s))
          case Project(pl, s: Sort) if projOk(pl) => Some((nm, s))
          case _ => None
        }
      case _ => None
    }
    ks.filter { case (k, sort) =>
      k > 0 && sort.global && sort.order.nonEmpty
    }
  }

  /** The top-k shape of `node` this rule would serve if column stats
    * (and, on a resolved read, the record-level index) existed — no
    * sidecar IO, no filesystem work beyond the registry. On an
    * already-served plan the sort child no longer roots at the
    * registered path, so served shapes naturally drop out.
    */
  def matchTopK(node: LogicalPlan): Option[TopKMatch] = {
    val lim = node match { case l: GlobalLimit => l; case _ => return None }
    val (k, sort) = limitSort(lim).getOrElse(return None)
    val ks = KeyedScan.of(sort.child).getOrElse(return None)
    val conds = ks.current.collect { case (Seq(), cs) => cs }.getOrElse(return None)

    // Classify every filter conjunct below the sort: partition
    // point/IN conjuncts select whole sidecar rows, range / IS NOT
    // NULL / IN conjuncts on stats-covered ordered columns drive the
    // FULL / CANDIDATE split. Anything else declines — a leftover
    // predicate would break the count-accumulation bound.
    val sc = RangeConjuncts.statsConjuncts(ks, conds.map(_._1))
      .getOrElse(return None)
    val attr = ks.relAttrOf(sort.order.head.child)
      .filter(at => KeyedTable.statsOrderedType(at.dataType))
      .getOrElse(return None)
    val head = sort.order.head
    Some(TopKMatch(
      lim, sort, ks, attr.name, k,
      head.direction == Descending, head.nullOrdering == NullsFirst, sc))
  }

  /** The IO half: walk the sidecar, keep the files that can hold a row. */
  private def serveTopK(m: TopKMatch): Option[LogicalPlan] =
    StatsView.of(spark, m.scan, m.sc).flatMap { view =>
      try TopKPruneRewrite.walk(spark, view, m.sortCol, m.k, m.desc,
          m.nullsFirst, Nil).flatMap { kept =>
        view.prune(m.lim, m.sort.child, kept)(s"top-k for ORDER BY ${m.sortCol} " +
          (if (m.desc) "DESC" else "ASC") + s" LIMIT ${m.k}")
      } catch { case scala.util.control.NonFatal(_) => None }
    }
}

private[plans] object TopKPruneRewrite {

  /** The stats top-k walk, per group — global top-k is the case with no
    * group columns. `groups` are (column, is a partition column); a
    * file's group key and single-group test come from
    * [[StatsView.groupKeys]]. Within each group, walk the files that are
    * single-group, PURE and FULL under every conjunct (all their rows
    * rank) by recorded min descending (max ascending for ASC), and
    * accumulate non-null counts until ≥ `n`: those rows all rank at or
    * ahead of the last walked min L, so a file whose max < L cannot hold
    * a rank-≤-n row (non-strict: boundary ties stay). Files outside the
    * walk only under-count, which weakens bounds — more files kept,
    * never fewer. Kept: every live CANDIDATE file that reaches its
    * group's bound, every file of a group that proves no bound, files
    * that may hold a null when nulls rank first (null rows are invisible
    * to min/max), and every live candidate spanning groups. A global
    * walk that proves no bound declines instead (the filter alone is
    * [[RangePruneRewrite]]'s shape). All comparisons run in Spark over
    * the metadata-sized sidecar, in the ordering the residual Sort uses.
    */
  def walk(spark: SparkSession, view: StatsView, sortCol: String, n: Int,
      desc: Boolean, nullsFirst: Boolean,
      groups: Seq[(String, Boolean)]): Option[Seq[String]] = {
    import org.apache.spark.sql.expressions.{Window => W}
    import org.apache.spark.sql.functions.{coalesce, col, lit, max, min, sum}
    val (mn, mx, nn) = view.bounds(sortCol).getOrElse(return None)
    val (groupCols, single) = view.groupKeys(groups).getOrElse(return None)
    val inGroup = coalesce(single, lit(false))
    val walkKey = if (desc) mn else mx
    val w = W.partitionBy(groupCols.map(col): _*).orderBy(
      if (desc) walkKey.desc_nulls_last else walkKey.asc_nulls_last)
    val crossed = view.files
      .filter(inGroup && view.pure && coalesce(view.full, lit(false)))
      .withColumn("_graft_cum", sum(nn).over(
        w.rowsBetween(W.unboundedPreceding, W.currentRow)))
      .filter(col("_graft_cum") >= n && nn > 0)
    // The first file crossing n in walk order carries its group's bound:
    // the largest walk key among crossing files (asc: the smallest).
    val bound = if (desc) max(walkKey) else min(walkKey)
    def reaches(b: Column): Column =
      (if (desc) mx >= b else mn <= b) ||
        (if (nullsFirst) col("cnt") > nn else lit(false))
    val keepable = view.files.filter(
      inGroup && view.live && coalesce(view.candidate, lit(false)))
    val kept =
      if (groupCols.isEmpty) {
        val b = KeyedTable.withMetaConf(spark)(crossed.agg(bound).collect())(0)
        if (b.isNullAt(0)) return None // < n provable rows
        view.names(keepable.filter(coalesce(reaches(lit(b.get(0))), lit(false))))
      } else view.names(keepable
        .join(crossed.groupBy(groupCols.map(col): _*).agg(bound.as("_graft_bound")),
          groupCols, "left")
        .filter(col("_graft_bound").isNull || reaches(col("_graft_bound"))))
    val spanning =
      if (groups.forall(_._2)) Nil
      else view.names(view.files.filter(
        view.live && !inGroup && coalesce(view.candidate, lit(false))))
    Some((kept ++ spanning).distinct)
  }
}
