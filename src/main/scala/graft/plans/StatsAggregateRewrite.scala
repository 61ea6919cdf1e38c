package graft.plans

import scala.collection.mutable

import org.apache.spark.internal.Logging
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction, Average, Complete, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan, Project, Union}
import org.apache.spark.sql.functions.{coalesce, col, count, countDistinct, lit, max, min, sum, when}
import org.apache.spark.sql.types._

import graft.table.{KeyedTable, TableMetaCache}

/** Answers `min`/`max`/`count` aggregates from the column-stats sidecar
  * alone — aggregate pushdown to table metadata, the move Iceberg/Hudi
  * make when `SELECT min(ts), max(ts), count(*)` lands on a 100 TB
  * table: the answer is a fold over per-file stats (one metadata-sized
  * read), not a full scan. The matched `Aggregate` is replaced by a
  * [[LocalRelation]] carrying the aggregate's own output attributes, so
  * nothing above changes. Grouping is admitted when every grouping
  * expression is a PARTITION column: each data file lives in exactly
  * one partition directory, so the sidecar's recorded per-file
  * partition tuple (`p_<col>`) folds per group exactly — the BI
  * dashboard's per-partition rollup served from metadata.
  *
  * Matches an `Aggregate` whose stripped child is a single parquet
  * relation rooted at a REGISTERED keyed-table path
  * ([[KeyedTable.specRegistry]]) — no joins, no window over the table's
  * current rows ([[KeyedScan.current]]: a `retainHistory` table's
  * resolve is stripped, and nothing may filter below it), and filters
  * only when every conjunct classifies as (a) a literal point predicate
  * (or inferred isnotnull) on a PARTITION column — partition conjuncts
  * select whole files exactly, so the fold over the selected sidecar
  * rows IS the aggregate over the filtered table, nothing residual — or
  * (b) a literal RANGE / IS NOT NULL / IN-list conjunct on an ordered
  * stats column (the shared [[RangeConjuncts]] extraction), which
  * selects the UNION serve ([[serveUnion]]): fully-contained files
  * fold from the sidecar, boundary files scan with the filter residual.
  * An IN conjunct classifies a file FULL when the file is
  * single-valued in the column and that value is in the list
  * (min = max ∈ values ∧ nn = cnt) — on a column the table is
  * clustered by, the low-cardinality categorical filter every curation
  * pipeline runs (`lang IN ('en','de')`) folds everything but the runs'
  * boundary files; multi-valued files conservatively scan. Any
  * unclassified conjunct declines the node. Every aggregate
  * must be one of `min(col)` / `max(col)` (any ORDERED
  * stats type — integers, floats, dates, timestamps, decimals, strings;
  * [[KeyedTable.statsOrderedType]], matching what
  * [[KeyedTable.recordColumnStats]] records; string bounds must
  * additionally be stored untruncated — see the serve-time guard),
  * `sum(col)` (integral or decimal — the exactly-summable types, folded
  * from the exact widened partials), `count(*)`/`count(1)` (served from
  * per-file `cnt`), `count(col)` (served from `nn_<col>`), or
  * `avg(col)` (integral/decimal; sum + count folds with the final
  * division evaluated through the plan's own Average expression — on
  * the union it rides as a sum + count slice per side;
  * value-dependent exactness guards, see [[avgValue]]/[[avgBind]]).
  * DISTINCT admits exactly `count(DISTINCT part_col)`
  * (each file carries one partition tuple, so the sidecar's distinct
  * p_ values ARE the answer — metadata-only); every other DISTINCT and
  * all FILTER clauses decline. Any other
  * aggregate declines the whole node — partial serving would still
  * scan. Group counts beyond [[StatsAggregateRewrite.MaxGroups]]
  * decline (a LocalRelation is driver-resident; a group explosion
  * belongs in a real scan).
  *
  * Grouping admits PARTITION columns (whole files per group, any type)
  * and ordered-stats DATA columns (per-file single-valued test — forces
  * the union serve: interior files of a clustered run fold, boundary
  * files scan; `GROUP BY lang` over a lang-clustered corpus). A
  * no-aggregate node — `SELECT DISTINCT day` — serves too: over
  * partition columns it is a pure metadata read of the sidecar's
  * partition tuples, over clustered data columns the union.
  *
  * On a `retainHistory` table stored rows are versions, so file stats
  * over-count superseded ones: a resolved read serves through the union
  * alone, over [[StatsView]]'s winner-file classification (pure files
  * fold, mixed files scan their winner rows, dead files never open);
  * its bare and partition-grouped counts serve from the record-level
  * index instead ([[serveMorCount]]). Freshness is the sidecar's exists ⇒
  * current invariant (every data write deletes it before the write
  * lands): a present sidecar covers exactly the current data files. The
  * per-file fold is exact, not approximate — `min` over file minima
  * equals `min` over rows (`min`/`max` ignore nulls on both levels, an
  * all-null file contributes a null minimum which the fold ignores),
  * counts add, and partition-grouped folds partition the file set.
  * Bounds are stored in each column's own type; pre-typed sidecars
  * stored integral bounds as longs, which narrow back losslessly on
  * serve.
  *
  * Plan-time cost is one metadata-sized sidecar read, gated behind the
  * registry hit and the all-servable aggregate list; idempotent because
  * the produced LocalRelation contains no relation to re-match. A family
  * of [[KeyedServe]].
  */
private[plans] final class StatsAggregateRewrite(spark: SparkSession)
    extends KeyedServe.Family with Logging {
  import StatsAggregateRewrite.MaxGroups

  private def integral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  private def longOf(x: Any): Option[Long] = x match {
    case b: java.lang.Byte    => Some(b.longValue())
    case s: java.lang.Short   => Some(s.longValue())
    case i: java.lang.Integer => Some(i.longValue())
    case l: java.lang.Long    => Some(l.longValue())
    case _ => None
  }

  /** What one output expression needs from the sidecar fold. */
  private sealed trait Need
  private case class GroupOf(column: String, t: DataType, gi: Int) extends Need
  private case class MinOf(column: String, t: DataType) extends Need
  private case class MaxOf(column: String, t: DataType) extends Need
  private case class SumOf(column: String, t: DataType) extends Need
  private case class AvgOf(column: String, t: DataType) extends Need
  private case object CountAll extends Need
  private case class CountCol(column: String) extends Need
  private case class DistinctPartOf(column: String) extends Need

  /** The shape half of the match, sidecar-IO-free. A classifying
    * conjunct (`sc.classifies`), a DATA grouping column or a resolved
    * read selects the UNION serve ([[serveUnion]]); everything else is
    * the metadata-only fold ([[serveWhole]]).
    */
  private final case class AggMatch(
      a: Aggregate, scan: KeyedScan, needs: Seq[Need],
      groupAttrs: Seq[Attribute], groupIsPart: Seq[Boolean],
      sc: RangeConjuncts.StatsConjuncts,
      casts: Map[Int, Cast] = Map.empty) {
    def spec: graft.table.KeyedTableSpec = scan.spec
    /** Grouping columns that are DATA columns (classified per file by
      * the single-valued test), not partition columns (whole files by
      * layout). Their presence forces the union serve.
      */
    def dataGroupCols: Seq[String] =
      groupAttrs.zip(groupIsPart).collect { case (at, false) => at.name }
    /** The data columns whose stats the folds and classification read. */
    def statCols: Seq[String] = (needs.collect {
      case MinOf(c, _) => c
      case MaxOf(c, _) => c
      case SumOf(c, _) => c
      case CountCol(c) => c
    } ++ sc.columns).distinct
  }

  /** Every servable-aggregate shape in `plan`, as (table spec, the data
    * columns needing recorded stats) — shared with [[IndexAdvisor]], so
    * the advisor recommends exactly the stats builds this rule can
    * later serve (the one-matcher discipline). A count(*)-only shape
    * reports no columns; any build records the `cnt` it needs. Served
    * plans drop out naturally: the produced LocalRelation holds no
    * relation to re-match.
    */
  private[plans] def aggShapes(
      plan: LogicalPlan): Seq[(graft.table.KeyedTableSpec, Seq[String])] =
    KeyedServe.shapes(plan)(matchAgg)
      // Data-column-grouped and avg shapes are deliberately NOT
      // advisor wants: a stats build serves a data grouping only when
      // files are single-valued in the group column (a LAYOUT
      // property clustering decides) and serves an avg only when the
      // totals pass the value-dependent exactness guards — in either
      // case the static shape cannot promise the build will serve, so
      // a recommendation could never settle (the build lands, the
      // serve still declines).
      .filter(m => m.dataGroupCols.isEmpty && !m.needs.exists(_.isInstanceOf[AvgOf]))
      .map(m => (m.spec, m.statCols))

  /** Data-column-grouped aggregate shapes for the advisor's
    * rollup-layout arm: (table spec, the single data group column, the
    * stats columns the aggregates/classifiers additionally need).
    * Deliberately disjoint from [[aggShapes]]: serving a data grouping
    * needs the LAYOUT to make files single-valued, so the advisor
    * measures cardinality and run length before recommending
    * cluster + stats. Multi-column data groupings (a Z-order decision
    * this arm doesn't model), avg-carrying shapes (the union declines
    * avg guards it cannot prove) and resolved reads (whose folds also
    * need purity, which the layout measure does not see) are skipped.
    */
  private[plans] def dataGroupShapes(
      plan: LogicalPlan): Seq[(graft.table.KeyedTableSpec, String, Seq[String])] =
    KeyedServe.shapes(plan)(matchAgg)
      .filter(m => m.dataGroupCols.length == 1 && !m.spec.retainHistory &&
        !m.needs.exists(_.isInstanceOf[AvgOf]))
      .map(m => (m.spec, m.dataGroupCols.head, m.statCols))

  def rewrite(node: LogicalPlan): Option[LogicalPlan] = node match {
    case a: Aggregate =>
      matchAgg(a).flatMap { m =>
        // Needs carry data types and column names; PartFilters carry
        // literal values — together with the path they pin the semantic
        // probe, so node churn across fixpoint iterations still hits.
        val key = (m.spec.path, m.needs.toVector,
          m.groupAttrs.map(_.name).toVector, m.sc,
          // Cast-wrapped and cast-free twins must gate independently: a
          // declined cast shape memoized under the bare key would rob
          // the cast-free twin of its union serve for the session.
          m.casts.toVector.map { case (i, c) => (i, c.dataType) }.sortBy(_._1))
        TableMetaCache.declineGated(spark, declines, m.spec.path)(key) {
          StatsView.of(spark, m.scan, m.sc).flatMap(serveAgg(m, _))
        }
      }.orElse(serveMorCount(a)).orElse(serveDistinct(a))
    case _ => None
  }

  /** `count(DISTINCT c)` — or the no-aggregate `SELECT DISTINCT c`
    * canonical form — over a CLUSTERED data column, served as a VALUES
    * union: PURE files FULL under every conjunct and single-valued in
    * `c` (min = max ∧ nn = cnt — sound under string truncation by the
    * bound sandwich) contribute their one stored value straight from the
    * sidecar; every other live candidate file scans ([[StatsView.rowsBack]])
    * projected to `c`; a count-distinct (or grouping) over the union
    * de-duplicates across both sides. On a lang-clustered corpus "how
    * many languages" opens only the run-boundary files, and on a resolved
    * read a superseded distinct value hides in a dead file that never
    * opens. The shape: a single output over a registered table with no
    * window over its current rows, `c` an ordered-stats DATA column
    * (partition columns are the metadata-only [[DistinctPartOf]] arm's,
    * or on a resolved read the index's); nulls drop on the fold side
    * (nn = cnt) and ride the scan. FILTERS compose through the union's
    * classification: partition point conjuncts select whole sidecar
    * rows; literal ranges / IS NOT NULL / IN-lists fold a file's value
    * only when it is FULL ("how many languages shipped documents this
    * week" stays a boundary-sized read). Zero folded values decline —
    * nothing would fold.
    */
  private def serveDistinct(a: Aggregate): Option[LogicalPlan] = {
    if (a.aggregateExpressions.length != 1) return None
    val (childAttr, orig, isCount) =
      if (a.groupingExpressions.isEmpty)
        a.aggregateExpressions.head match {
          case al @ Alias(ae: AggregateExpression, _)
              if ae.isDistinct && ae.filter.isEmpty =>
            ae.aggregateFunction match {
              case Count(Seq(x: Attribute)) => (x, al, true)
              case _ => return None
            }
          case _ => return None
        }
      else (a.groupingExpressions, a.aggregateExpressions.head) match {
        case (Seq(g), at: Attribute) if g == at => (at, at, false)
        case _ => return None
      }
    val ks = KeyedScan.of(a.child).getOrElse(return None)
    val conds = ks.current.collect { case (Seq(), cs) => cs }.getOrElse(return None)
    val relAttr = ks.relAttrOf(childAttr)
      .filter(at => KeyedTable.statsOrderedType(at.dataType) &&
        !ks.isPartitionCol(at.name))
      .getOrElse(return None)
    val sc = RangeConjuncts.statsConjuncts(ks, conds.map(_._1)).getOrElse(return None)
    TableMetaCache.declineGated(spark, declines, ks.spec.path)(
        ("distinctValues", ks.spec.path, relAttr.name, isCount, sc)) {
      StatsView.of(spark, ks, sc).flatMap { view =>
        val (mn, _, _) = view.bounds(relAttr.name).getOrElse(return None)
        val (_, single) =
          view.groupKeys(Seq((relAttr.name, false))).getOrElse(return None)
        val fold = view.pure && coalesce(single && view.full, lit(false))
        val fullValues = KeyedTable.withMetaConf(spark)(
          view.files.filter(fold).select(mn).distinct()
            .limit(MaxGroups + 1).collect())
        if (fullValues.isEmpty || fullValues.length > MaxGroups) return None
        val scanned = view.boundary(fold, everyPureFileFolds = false)
        val conv =
          CatalystTypeConverters.createToCatalystConverter(relAttr.dataType)
        val uVal = AttributeReference("u", relAttr.dataType)()
        val local = LocalRelation(
          Seq(uVal),
          fullValues.toIndexedSeq.map(r =>
            InternalRow(conv(if (r.isNullAt(0)) null else r.get(0)))),
          false)
        val rest = view.rowsBack(a.child, a.child, scanned).getOrElse(return None)
        val values = Union(Seq(local, Project(Seq(Alias(childAttr, "u")()), rest)))
        logInfo(s"stats-aggregate rewrite: ${ks.spec.path} " +
          (if (isCount) "count(distinct " else "DISTINCT ") +
          s"${relAttr.name}) over ${fullValues.length} folded values + " +
          s"${scanned.length} scanned files")
        Some(
          if (isCount) Aggregate(Nil,
            Seq(Alias(AggregateExpression(Count(Seq(uVal)), Complete, isDistinct = true),
              orig.name)(exprId = orig.exprId)),
            values)
          else Aggregate(Seq(uVal),
            Seq(Alias(uVal, orig.name)(exprId = orig.exprId)), values))
      }
    }
  }

  /** `count(*)` over a history table's RESOLVED read — bare or
    * `GROUP BY` partition columns — served from the record-level index:
    * the index stores one entry per live resolve scope, so the live
    * count is the (delta-reconciled) index count
    * ([[KeyedTable.resolvedCount]]) and the per-partition counts come
    * from the index's TYPED `pv_` partition values
    * ([[KeyedTable.resolvedGroupCounts]]; pre-pv indexes decline). On a
    * 100 TB merge-on-read table "how many live rows [per day]"
    * otherwise costs a full scan PLUS the per-key resolve window;
    * through the index it reads key/file entries only. The match
    * requires the exact shared resolve shape ([[MvPlanShape.resolveRnOf]]
    * + the rn = 1 conjunct ABOVE the window, nothing else below or
    * beside it) on a registered `retainHistory` table, grouping only by
    * partition-column attributes, and every non-group output to be an
    * undistinct, unfiltered `count(*)`/`count(1)`.
    */
  private def serveMorCount(a: Aggregate): Option[LogicalPlan] = {
    if (a.aggregateExpressions.isEmpty) return None
    val ks = KeyedScan.of(a.child).getOrElse(return None)
    if (!ks.spec.retainHistory) return None
    val spec = ks.spec
    val groupAttrs: Seq[Attribute] = a.groupingExpressions.map { e =>
      ks.relAttrOf(e).filter(at => ks.isPartitionCol(at.name))
        .getOrElse(return None)
    }
    val groupIdx: Map[ExprId, Int] =
      groupAttrs.zipWithIndex.map { case (at, i) => at.exprId -> i }.toMap
    // Each output: Left(slot among groupAttrs) or Right(count(*)).
    val outputs: Seq[Either[Int, Unit]] = a.aggregateExpressions.map {
      case at: Attribute =>
        scala.Left(ks.relAttrOf(at).flatMap(x => groupIdx.get(x.exprId))
          .getOrElse(return None))
      case Alias(ae: AggregateExpression, _)
          if !ae.isDistinct && ae.filter.isEmpty =>
        ae.aggregateFunction match {
          case Count(Seq(Literal(v, _))) if v != null => scala.Right(())
          case _ => return None
        }
      case Alias(e, _) =>
        scala.Left(ks.relAttrOf(e).flatMap(x => groupIdx.get(x.exprId))
          .getOrElse(return None))
      case _ => return None
    }
    if (!outputs.exists(_.isRight)) return None // a pure DISTINCT is
    // the stats rule's shape; this arm only serves counts
    // The rn = 1 conjunct must sit ABOVE the window (depth 0) and be
    // the ONLY predicate anywhere: any other conjunct filters the
    // resolved state (or worse, versions below the resolve) and the
    // index count would over-count.
    if (!ks.resolved.exists(_.isEmpty)) return None
    val table = KeyedTable(spec)
    if (groupAttrs.isEmpty) {
      TableMetaCache.declineGated(spark, declines, spec.path)(
          ("morCount", spec.path)) {
        table.resolvedCount(spark).map { n =>
          logInfo(s"stats-aggregate rewrite: ${spec.path} resolved count " +
            s"served from the record-level index ($n live rows, no scan)")
          LocalRelation(
            a.output,
            IndexedSeq(InternalRow.fromSeq(outputs.map(_ => n))),
            false)
        }
      }
    } else {
      val key = ("morGroupCount", spec.path, groupAttrs.map(_.name).toVector)
      TableMetaCache.declineGated(spark, declines, spec.path)(key) {
        table.resolvedGroupCounts(spark).flatMap { tuples =>
          // Combine the full partition tuples down to the requested
          // grouping projection (a subset groups coarser; counts add).
          val pcIdx: Seq[Int] = groupAttrs.map(at =>
            spec.partitionCols.indexWhere(_.equalsIgnoreCase(at.name)))
          val byKey: Map[Seq[Any], Long] = tuples
            .groupBy { case (vals, _) => pcIdx.map(vals): Seq[Any] }
            .map { case (k, vs) => k -> vs.map(_._2).sum }
          if (byKey.size > MaxGroups) None
          else {
            val conv = groupAttrs.map(at =>
              CatalystTypeConverters.createToCatalystConverter(at.dataType))
            val data = byKey.toIndexedSeq.map { case (k, n) =>
              InternalRow.fromSeq(outputs.map {
                case scala.Left(gi) => conv(gi)(k(gi))
                case scala.Right(_) => n
              })
            }
            logInfo(s"stats-aggregate rewrite: ${spec.path} grouped " +
              s"resolved count served from the record-level index " +
              s"(${data.length} groups, no scan)")
            Some(LocalRelation(a.output, data, false))
          }
        }
      }
    }
  }

  /** The sidecar fold one non-distinct, unfiltered aggregate function
    * needs, or None when it does not fold exactly.
    */
  private def valueNeedOf(ks: KeyedScan, fn: AggregateFunction): Option[Need] =
    fn match {
      // Min/Max fold exactly for every ORDERED stats type: min over
      // per-file minima equals min over rows (same interpreted
      // ordering at both levels, nulls ignored at both levels).
      // Strings additionally require the stored bounds untruncated —
      // checked at serve time via the sidecar's `trunc_<col>` flags.
      case Min(e) =>
        ks.relAttrOf(e)
          .filter(at => KeyedTable.statsOrderedType(at.dataType))
          .map(at => MinOf(at.name, at.dataType))
      case Max(e) =>
        ks.relAttrOf(e)
          .filter(at => KeyedTable.statsOrderedType(at.dataType))
          .map(at => MaxOf(at.name, at.dataType))
      // Sum(integral) ONLY folds exactly: the sidecar stores exact
      // DECIMAL(38,0) per-file partials (associative, no overflow),
      // narrowed back to Sum's LongType at serve time — totals
      // outside long range decline to the scan, where Spark's own
      // ANSI Sum raises. FP sums are order-sensitive and
      // native-decimal sums change precision per fold level — a sum
      // over any non-integral column declines the whole node.
      case s: Sum =>
        ks.relAttrOf(s.child).filter(at => integral(at.dataType) ||
            at.dataType.isInstanceOf[DecimalType])
          .map(at => SumOf(at.name, at.dataType))
      // Average serves from the SAME exact partials as Sum plus the
      // per-file counts, with the final division evaluated through
      // Spark's own Average.evaluateExpression (bound to the folded
      // totals) so result type and rounding match the scan
      // bit-for-bit. Exactness guards live at serve time: decimal
      // totals must fit Average's own sum-buffer type, integral
      // totals must be same-sign and < 2^53 so Spark's
      // order-sensitive DOUBLE accumulation was provably exact
      // (every partial is a subset sum bounded by the total — for
      // the union the guard is proven from the WHOLE table's
      // stats, covering whatever subset the boundary scan sums).
      // Through the union avg owns a sum + count slice per
      // side and the combine re-binds Average's evaluate expression.
      case av: Average =>
        ks.relAttrOf(av.child).filter(at => integral(at.dataType) ||
            at.dataType.isInstanceOf[DecimalType])
          .map(at => AvgOf(at.name, at.dataType))
      case Count(Seq(Literal(v, _))) if v != null => Some(CountAll)
      case Count(Seq(e)) =>
        ks.relAttrOf(e).map(at => CountCol(at.name))
      case _ => None
    }

  private def matchAgg(node: LogicalPlan): Option[AggMatch] = {
    val a = node match { case a: Aggregate => a; case _ => return None }
    if (a.aggregateExpressions.isEmpty) return None
    val ks = KeyedScan.of(a.child).getOrElse(return None)
    val conds = ks.current.collect { case (Seq(), cs) => cs }.getOrElse(return None)

    // Grouping: every expression must be an attribute that is either a
    // PARTITION column (whole files carry one tuple — the sidecar's
    // per-file constant groups exactly, any type) or an ordered-stats
    // DATA column (a file single-valued in it — min = max ∧ nn = cnt —
    // belongs wholly to that group; multi-valued and null-carrying
    // files scan as boundaries, which forces the union serve). The
    // clustered-rollup shape: `GROUP BY lang` over a lang-clustered
    // corpus folds every interior run file from metadata.
    val groupAttrs: Seq[Attribute] = a.groupingExpressions.map { e =>
      ks.relAttrOf(e).filter(at => ks.isPartitionCol(at.name) ||
          KeyedTable.statsOrderedType(at.dataType))
        .getOrElse(return None)
    }
    val groupIsPart: Seq[Boolean] = groupAttrs.map(at => ks.isPartitionCol(at.name))

    // Filters: partition point conjuncts (or the optimizer's inferred
    // isnotnull) select whole files exactly (the sidecar's per-file
    // partition tuple is a constant), so the fold over the selected
    // sidecar rows IS the aggregate over the filtered table (the
    // original metadata-only path). Everything else goes through the
    // SHARED range extraction ([[RangeConjuncts]]): literal ranges and
    // IS NOT NULL on ordered stats columns select the UNION serve —
    // FULLY-contained files fold from the sidecar, boundary files scan
    // with the filter residual. Any conjunct neither classifies
    // declines: a leftover predicate would falsify the full-file fold.
    // IS NULL declines too (a fold over all-null files would need the
    // complement matrix; the audit shape belongs in
    // [[RangePruneRewrite]]'s pruned scan).
    val sc = RangeConjuncts.statsConjuncts(ks, conds.map(_._1))
      .getOrElse(return None)
    // Grouped union rides the same machinery: partition groups fold by
    // the sidecar's per-file partition tuple, data-column groups by the
    // file's single value (FULL ⇒ min = max), and the boundary
    // Aggregate keeps the original grouping — no extra admission check.
    val groupIdx: Map[ExprId, Int] =
      groupAttrs.zipWithIndex.map { case (at, i) => at.exprId -> i }.toMap

    def groupNeedOf(e: Expression): Option[GroupOf] = ks.subst(e) match {
      case at: Attribute => groupIdx.get(at.exprId)
        .map(i => GroupOf(at.name, at.dataType, i))
      case _ => None
    }
    // A deterministic CAST wrapped around an aggregate — the shape
    // CollapseProject produces from `SELECT cast(sum(x) AS double)`,
    // which every BI tool and oracle-compare projection emits — unwraps
    // here: the inner need folds as usual and the WHOLE-table serve
    // re-applies the plan's OWN Cast node to the folded value
    // driver-side (same instance, same eval mode and zone — identical
    // semantics to the scan, a plan-time ANSI overflow declines through
    // the rule's catch exactly where the scan would throw). The union
    // serve declines cast shapes (its combine rebuilds the plan's
    // aggregate expressions).
    val castAt = mutable.Map.empty[Int, Cast]
    val normExprs: Seq[NamedExpression] =
      a.aggregateExpressions.zipWithIndex.map {
        case (al @ Alias(c @ Cast(ae: AggregateExpression, _, _, _), _), i)
            if !ae.isDistinct && ae.filter.isEmpty =>
          castAt(i) = c
          Alias(ae, al.name)(al.exprId)
        case (e, _) => e
      }
    val needs: Seq[Need] = normExprs.map {
      case at: Attribute => groupNeedOf(at).getOrElse(return None)
      // count(DISTINCT p) over a PARTITION column: each file carries one
      // whole partition tuple, so the distinct count over the sidecar's
      // per-file p_ values (zero-row files excluded) IS the distinct
      // count over rows — count(distinct day), the partition-cardinality
      // sanity query, as a metadata read. Any other DISTINCT declines.
      case Alias(ae: AggregateExpression, _)
          if ae.isDistinct && ae.filter.isEmpty =>
        ae.aggregateFunction match {
          case Count(Seq(e)) =>
            ks.relAttrOf(e).filter(at => ks.isPartitionCol(at.name))
              .map(at => DistinctPartOf(at.name)).getOrElse(return None)
          case _ => return None
        }
      case Alias(ae: AggregateExpression, _)
          if !ae.isDistinct && ae.filter.isEmpty =>
        valueNeedOf(ks, ae.aggregateFunction).getOrElse(return None)
      case Alias(e, _) => groupNeedOf(e).getOrElse(return None)
      case _ => return None
    }
    // The whole/union combines group by the PROJECTED GroupOf slices,
    // so a grouping column absent from the SELECT list would collapse
    // its groups. Decline.
    val projectedGis = needs.collect { case GroupOf(_, _, gi) => gi }.toSet
    if (!groupAttrs.indices.forall(projectedGis.contains)) return None
    // A resolved read serves through the union alone, which neither
    // re-applies a cast nor folds a partition's distinct count; and a
    // count-only or DISTINCT-only shape there belongs to the record-level
    // index ([[serveMorCount]]) or the values union ([[serveDistinct]]).
    if (ks.spec.retainHistory && (castAt.nonEmpty ||
        needs.exists(_.isInstanceOf[DistinctPartOf]) ||
        needs.forall(n => n == CountAll || n.isInstanceOf[GroupOf])))
      return None
    Some(AggMatch(a, ks, needs, groupAttrs, groupIsPart, sc, castAt.toMap))
  }

  private def serveAgg(m: AggMatch, view: StatsView): Option[LogicalPlan] =
    if (view.allPure && !m.sc.classifies && m.dataGroupCols.isEmpty)
      serveWhole(m, view)
    else if (m.casts.nonEmpty) None // cast support is the whole serve's
    else serveUnion(m, view)

  /** The metadata-ONLY serve: one sidecar read + the LocalRelation fold
    * (whole table, or partition-filtered — every selected file
    * contributes all its rows).
    */
  private def serveWhole(m: AggMatch, view: StatsView): Option[LogicalPlan] = {
    val AggMatch(a, _, needs, groupAttrs, _, _, _) = m
    val groupStatCols = groupAttrs.map(at => view.statCol("p", at.name))
    // Per-need fold columns; arity varies (avg folds FOUR: the exact
    // sum, the non-null count, and the min/max its integral-exactness
    // guard reads), so each need owns a SLICE of the fold row.
    val folds: Seq[Option[Seq[org.apache.spark.sql.Column]]] = needs.map {
      case _: GroupOf  => Some(Seq.empty)
      case MinOf(c, _) => view.statCol("min", c).map(s => Seq(min(col(s))))
      case MaxOf(c, _) => view.statCol("max", c).map(s => Seq(max(col(s))))
      // Decimal fold: exact for both sidecar generations (new decimal
      // partials directly; old long partials widen losslessly), and
      // never overflows where an ANSI Sum would throw — the narrowing
      // back to the aggregate's own result type declines instead
      // (sumToLong / sumToDecimal).
      case SumOf(c, t) =>
        view.statCol("sum", c).map(s => Seq(sum(col(s).cast(partialDecimal(t)))))
      case AvgOf(c, t) =>
        for {
          s <- view.statCol("sum", c); n <- view.statCol("nn", c)
          mn <- view.statCol("min", c); mx <- view.statCol("max", c)
        } yield Seq(sum(col(s).cast(partialDecimal(t))), sum(col(n)),
          min(col(mn)), max(col(mx)))
      case CountAll => Some(Seq(sum(col("cnt"))))
      case CountCol(c) => view.statCol("nn", c).map(s => Seq(sum(col(s))))
      // cnt > 0 inside the fold (not a frame filter): a zero-row
      // straggler file must not mint a partition value; nulls drop on
      // both levels (countDistinct and the row-level count(distinct)).
      case DistinctPartOf(c) =>
        view.statCol("p", c).map(s => Seq(countDistinct(when(col("cnt") > 0, col(s)))))
    }
    // String min/max: any selected truncated file declines the whole
    // node to a scan. One guard fold per string column, appended after
    // the value folds.
    val guardCols = truncGuardCols(view, needs).getOrElse(return None)
    if (folds.exists(_.isEmpty) || groupStatCols.exists(_.isEmpty)) return None
    val slices = folds.map(_.get)
    // Need i's fold slice starts at nGroups + offsets(i).
    val offsets = slices.scanLeft(0)(_ + _.length)
    val valueExprs = slices.flatten.zipWithIndex
      .map { case (c, i) => c.as(s"v$i") }
    val guardExprs = guardCols.zipWithIndex
      .map { case (g, i) => max(col(g)).as(s"g$i") }
    val exprs = valueExprs ++ guardExprs
    val stSel = view.files
    val folded =
      // Pure DISTINCT over partition columns (no aggregate functions at
      // all): the sidecar's per-file partition tuples ARE the answer —
      // `SELECT DISTINCT day FROM t` is a metadata read, the relational
      // SHOW PARTITIONS. The cnt > 0 guard keeps a zero-row straggler
      // file from minting a partition value no row carries.
      if (exprs.isEmpty)
        stSel.filter(col("cnt") > 0)
          .select(groupStatCols.flatten.map(col): _*).distinct()
      else if (groupStatCols.isEmpty) stSel.agg(exprs.head, exprs.tail: _*)
      // Same zero-row straggler guard as the DISTINCT arms: a cnt = 0
      // sidecar row (none is written today, but the guard is the
      // contract) must not mint a phantom group. The groupless fold
      // above stays unfiltered — an aggregate over an empty selection
      // still answers (count 0, min null).
      else stSel.filter(col("cnt") > 0)
        .groupBy(groupStatCols.flatten.map(col): _*)
        .agg(exprs.head, exprs.tail: _*)
    val rows = KeyedTable.withMetaConf(spark)(
      folded.limit(MaxGroups + 1).collect())
    if (rows.length > MaxGroups) return None
    if (truncated(rows, guardExprs.length, trailing = 0)) return None
    val nGroups = groupStatCols.length
    val toCatalyst = groupAttrs.map(at =>
      CatalystTypeConverters.createToCatalystConverter(at.dataType))
    // The plan's own Average instance for need i — its
    // evaluateExpression carries the exact result type, rounding
    // and eval-mode semantics the unserved scan would use.
    def avgAt(i: Int): Average = a.aggregateExpressions(i) match {
      case Alias(ae: AggregateExpression, _) =>
        ae.aggregateFunction.asInstanceOf[Average]
      case Alias(Cast(ae: AggregateExpression, _, _, _), _) =>
        ae.aggregateFunction.asInstanceOf[Average]
      case other => throw new IllegalStateException(
        s"AvgOf need without an Average expression: $other")
    }
    val data = rows.toIndexedSeq.map { row =>
      val values: Seq[Any] = needs.zipWithIndex.map {
        case (GroupOf(_, _, gi), _) => toCatalyst(gi)(row.get(gi))
        case (n, i) =>
          def at(o: Int): Int = nGroups + offsets(i) + o
          def v(o: Int): Any =
            if (row.isNullAt(at(o))) null else row.get(at(o))
          val inner: Any = n match {
            case MinOf(_, t) => toCatalystStat(v(0), t)
            case MaxOf(_, t) => toCatalystStat(v(0), t)
            // sum over no rows is null, like Spark; a total outside
            // the result type declines the serve (the scan
            // reproduces Spark's own overflow behavior)
            case SumOf(_, dt: DecimalType) =>
              sumToDecimal(v(0), dt).getOrElse(return None)
            case SumOf(_, _) => sumToLong(v(0)).getOrElse(return None)
            case AvgOf(_, t) =>
              avgValue(avgAt(i), t, v(0), v(1), v(2), v(3))
                .getOrElse(return None)
            // count over zero files is 0, never null
            case _ => if (v(0) == null) 0L else v(0)
          }
          // An unwrapped Cast re-applies on the folded value via
          // the PLAN'S OWN node (same eval mode / zone) — the
          // LocalRelation row must carry the aggregate expression's
          // final (cast) type.
          m.casts.get(i) match {
            case Some(c) => c
              .withNewChildren(Seq(Literal(inner, c.child.dataType)))
              .eval(InternalRow.empty)
            case None => inner
          }
      }
      InternalRow.fromSeq(values)
    }
    logInfo(s"stats-aggregate rewrite: ${m.spec.path} answered from the " +
      s"column-stats sidecar (${rows.length} group rows, no scan)")
    Some(LocalRelation(a.output, data, false))
  }

  /** The UNION serve: fold the files whose every row is a current row
    * satisfying every conjunct from the sidecar, scan the rest — on a
    * time-clustered 100 TB table `SELECT count(*), sum(x) WHERE ts
    * BETWEEN …` opens the two files straddling the range edges instead
    * of every file in the range, and on a resolved read the daily
    * dashboard folds the stable archive's pure files and scans only the
    * churned ones. A file FOLDS when it is pure ([[StatsView.pure]]),
    * FULL under every conjunct (bounds inside the range and zero nulls
    * in every constrained column — truncated string bounds stay sound
    * for the classification, though min/max VALUES over truncated files
    * still decline) and, for a DATA grouping, single-valued in the group
    * column (min = max ∧ nn = cnt: every row in one group; group-spanning
    * and null-carrying files scan, where the residual grouping places
    * their rows exactly). Every other live candidate file scans
    * ([[StatsView.boundary]], [[StatsView.rowsBack]]). Pure files fold
    * into their hive partition's group (the sidecar's per-file p_ tuple)
    * or their single recorded value.
    *
    * The produced plan is `Aggregate(combine, Union(LocalRelation(fold),
    * Aggregate(original functions, scanned rows)))` — counts/sums
    * re-add, min/max re-fold, avg rides as a sum + count slice per side
    * and re-binds Average's own evaluate expression; the final aliases
    * keep the original exprIds so nothing above changes. Sums fold
    * exactly from the sidecar's DECIMAL(38,0) partials and narrow back
    * through the same narrow-or-decline contract as the metadata-only
    * serve. Zero folded files decline (the scan alone is
    * [[RangePruneRewrite]]'s shape, or the plain resolve's); the scanned
    * Aggregate over ZERO files still yields its neutral single row.
    */
  private def serveUnion(m: AggMatch, view: StatsView): Option[LogicalPlan] = {
    val AggMatch(a, _, needs, groupAttrs, groupIsPart, _, _) = m
    val (groupStatCols, single) =
      view.groupKeys(groupAttrs.map(_.name).zip(groupIsPart)).getOrElse(return None)
    val (slices, guardCols) = unionFolds(view, needs).getOrElse(return None)
    // Need i's fold slice starts at nGroups + offsets(i).
    val offsets = slices.scanLeft(0)(_ + _.length)
    if (!avgIntExact(view, needs)) return None
    val valueExprs = slices.flatten.zipWithIndex
      .map { case (c, i) => c.as(s"v$i") }
    val guardExprs = guardCols.zipWithIndex
      .map { case (g, i) => max(col(g)).as(s"g$i") }
    val exprs = (valueExprs ++ guardExprs) :+ count(lit(1)).as("nfull")
    // cnt > 0: a zero-row sidecar row passes a notNull-only FULL test
    // (0 = 0) and would mint a phantom group in the grouped fold.
    val fold = view.pure && coalesce(view.full && single, lit(false)) &&
      col("cnt") > 0
    val foldSel = view.files.filter(fold)
    val folded =
      if (groupStatCols.isEmpty) foldSel.agg(exprs.head, exprs.tail: _*)
      else foldSel.groupBy(groupStatCols.map(col): _*)
        .agg(exprs.head, exprs.tail: _*)
    val rows = KeyedTable.withMetaConf(spark)(
      folded.limit(MaxGroups + 1).collect())
    if (rows.length > MaxGroups) return None
    val nGroups = groupStatCols.length
    // Zero folded files anywhere: nothing folds. (A groupless fold
    // always yields one row; its nfull decides.)
    val nFolded = rows.map(r => r.getLong(r.length - 1)).sum
    if (nFolded == 0L) return None
    if (truncated(rows, guardExprs.length, trailing = 1)) return None

    val scanned = view.boundary(fold, everyPureFileFolds = m.dataGroupCols.isEmpty)

    // Both Union sides share this row shape, in needs order (group
    // outputs included, in their original positions); avg needs own a
    // TWO-column slice (exact decimal sum + non-null count).
    val uSlices: Seq[Seq[AttributeReference]] = needs.zipWithIndex.map {
      case (GroupOf(_, t, _), i) => Seq(AttributeReference(s"u$i", t)())
      case (MinOf(_, t), i) => Seq(AttributeReference(s"u$i", t)())
      case (MaxOf(_, t), i) => Seq(AttributeReference(s"u$i", t)())
      case (SumOf(_, dt: DecimalType), i) =>
        Seq(AttributeReference(s"u$i", sumResultType(dt))())
      case (SumOf(_, _), i) => Seq(AttributeReference(s"u$i", LongType)())
      case (AvgOf(_, t), i) => Seq(
        AttributeReference(s"u${i}s", partialDecimal(t))(),
        AttributeReference(s"u${i}c", LongType, nullable = false)())
      case (_, i) =>
        Seq(AttributeReference(s"u$i", LongType, nullable = false)())
    }
    val toCatalystGroup = groupAttrs.map(at =>
      CatalystTypeConverters.createToCatalystConverter(at.dataType))
    val localRows = rows.toIndexedSeq.map { row =>
      val vals: Seq[Any] = needs.zipWithIndex.flatMap {
        case (GroupOf(_, _, gi), _) => Seq(toCatalystGroup(gi)(row.get(gi)))
        case (n, i) =>
          def v(o: Int): Any = {
            val p = nGroups + offsets(i) + o
            if (row.isNullAt(p)) null else row.get(p)
          }
          n match {
            case MinOf(_, t) => Seq(toCatalystStat(v(0), t))
            case MaxOf(_, t) => Seq(toCatalystStat(v(0), t))
            // sum over no folded rows is null, like Spark; a total
            // outside the result type declines (overflow belongs to
            // the real scan)
            case SumOf(_, dt: DecimalType) =>
              Seq(sumToDecimal(v(0), dt).getOrElse(return None))
            case SumOf(_, _) => Seq(sumToLong(v(0)).getOrElse(return None))
            // avg partials: the exact decimal sum (null when every
            // folded file is all-null) and the non-null count
            case AvgOf(_, t) =>
              val dec = v(0) match {
                case null => null
                case bd: java.math.BigDecimal =>
                  CatalystTypeConverters
                    .createToCatalystConverter(partialDecimal(t))(bd)
                case _ => return None
              }
              val cnt = v(1) match {
                case null => 0L
                case l: java.lang.Long => l.longValue()
                case _ => return None
              }
              Seq(dec, cnt)
            case _ => Seq(if (v(0) == null) 0L else v(0))
          }
      }
      InternalRow.fromSeq(vals)
    }
    val local = LocalRelation(uSlices.flatten, localRows, false)

    // Scanned side: the kept files' current rows in place of the child
    // subtree, aggregated with the ORIGINAL functions.
    val rest = view.rowsBack(a.child, a.child, scanned).getOrElse(return None)
    // The Average instance of output i (admission guarantees shape).
    def avgOfOutput(i: Int): Average = a.aggregateExpressions(i) match {
      case Alias(ae: AggregateExpression, _) =>
        ae.aggregateFunction.asInstanceOf[Average]
      case other => throw new IllegalStateException(
        s"AvgOf need without an Average expression: $other")
    }
    val partialAliases: Seq[NamedExpression] =
      a.aggregateExpressions.zipWithIndex.flatMap { case (e, i) =>
        needs(i) match {
          // avg's scanned partials: the exact widened-decimal sum
          // (same arithmetic as the sidecar partials) and the
          // non-null count over the ORIGINAL child expression.
          case AvgOf(_, t) =>
            val child = avgOfOutput(i).child
            Seq(
              Alias(Sum(Cast(child, partialDecimal(t)))
                .toAggregateExpression(), s"u${i}s")(),
              Alias(Count(child).toAggregateExpression(), s"u${i}c")())
          case _ => e match {
            case Alias(x, _) => Seq(Alias(x, s"u$i")())
            case x           => Seq(Alias(x, s"u$i")()) // bare group attr
          }
        }
      }
    val partial = Aggregate(a.groupingExpressions, partialAliases, rest)

    // Final combine: group values flow through the grouping, counts
    // and sums re-add, min/max re-fold, avg re-binds Average's own
    // evaluate expression over the re-added sum + count (its sum
    // lands back in Average's sum-buffer type, so result type and
    // rounding are Spark's own); aliases keep the original names AND
    // exprIds so nothing above changes. Coalesce pins the count
    // combine non-null (every group has at least one input row by
    // construction, but the static type must stay non-nullable like
    // Count's).
    val finalGroups: Seq[Expression] = needs.zipWithIndex.collect {
      case (_: GroupOf, i) => uSlices(i).head
    }
    val finalExprs: Seq[NamedExpression] = needs.zipWithIndex.map {
      case (n, i) =>
        def u = uSlices(i).head
        val orig = a.aggregateExpressions(i).asInstanceOf[NamedExpression]
        val combined: Expression = n match {
          case _: GroupOf  => u
          case MinOf(_, _) => Min(u).toAggregateExpression()
          case MaxOf(_, _) => Max(u).toAggregateExpression()
          case SumOf(_, dt: DecimalType) =>
            Cast(Sum(u).toAggregateExpression(), sumResultType(dt))
          case SumOf(_, _) => Sum(u).toAggregateExpression()
          case _: AvgOf =>
            val av = avgOfOutput(i)
            avgBind(
              av,
              Cast(Sum(uSlices(i)(0)).toAggregateExpression(),
                av.sumDataType),
              Coalesce(Seq(
                Sum(uSlices(i)(1)).toAggregateExpression(), Literal(0L))))
              .getOrElse(return None)
          case _ => Coalesce(Seq(
            Sum(u).toAggregateExpression(), Literal(0L)))
        }
        Alias(combined, orig.name)(exprId = orig.exprId)
    }
    logInfo(s"stats-aggregate union: ${m.spec.path} folded $nFolded files " +
      s"from the sidecar (${rows.length} group rows), scanning " +
      s"${scanned.length} files")
    Some(Aggregate(finalGroups, finalExprs, Union(Seq(local, partial))))
  }

  /** Whether a fold row's string-truncation guard is set: the `nGuards`
    * guard columns sit before the last `trailing` columns of each row.
    */
  private def truncated(
      rows: Seq[org.apache.spark.sql.Row], nGuards: Int, trailing: Int): Boolean =
    rows.exists { row =>
      (0 until nGuards).exists { gi =>
        val at = row.length - trailing - nGuards + gi
        !row.isNullAt(at) && row.getBoolean(at)
      }
    }

  /** The string-truncation guard columns of `needs`: string min/max
    * serve only from EXACT stored bounds — a file whose bounds were
    * truncated (`trunc_<col>`, the Iceberg prefix convention) holds a
    * bound, not the answer. None when a flag column is missing (the
    * sidecar predates the convention).
    */
  private def truncGuardCols(view: StatsView, needs: Seq[Need]): Option[Seq[String]] = {
    val cols = needs.collect {
      case MinOf(c, StringType) => c
      case MaxOf(c, StringType) => c
    }.distinct.map(view.statCol("trunc", _))
    if (cols.exists(_.isEmpty)) None else Some(cols.map(_.get))
  }

  /** The per-need partial folds of the union serve plus their
    * truncation guard columns. Arity varies per need: avg rides the
    * union as SUM + COUNT partials (a final value cannot combine), so it
    * owns a two-column slice on the fold, the union row and the partial.
    * None when a stats column is missing.
    */
  private def unionFolds(view: StatsView, needs: Seq[Need])
      : Option[(Seq[Seq[org.apache.spark.sql.Column]], Seq[String])] = {
    val folds: Seq[Option[Seq[org.apache.spark.sql.Column]]] = needs.map {
      case _: GroupOf  => Some(Seq.empty)
      case MinOf(c, _) => view.statCol("min", c).map(s => Seq(min(col(s))))
      case MaxOf(c, _) => view.statCol("max", c).map(s => Seq(max(col(s))))
      case SumOf(c, t) =>
        view.statCol("sum", c).map(s => Seq(sum(col(s).cast(partialDecimal(t)))))
      case AvgOf(c, t) =>
        for { s <- view.statCol("sum", c); n <- view.statCol("nn", c) }
          yield Seq(sum(col(s).cast(partialDecimal(t))), sum(col(n)))
      case CountAll    => Some(Seq(sum(col("cnt"))))
      case CountCol(c) => view.statCol("nn", c).map(s => Seq(sum(col(s))))
      case _: DistinctPartOf => None // the metadata-only serve's need
    }
    if (folds.exists(_.isEmpty)) None
    else truncGuardCols(view, needs).map(g => (folds.map(_.get), g))
  }

  /** INTEGRAL avg exactness for whatever subset a union serve sums in
    * DOUBLE — provable only from the WHOLE stats frame: all values
    * same sign and the all-rows exact total < 2^53 bound every subset's
    * partial sums (each is a subset sum ≤ the total, exactly
    * representable). On a history table the whole-VERSION stats bound
    * every winner subset the same way. An all-null column is trivially
    * exact. Decimal avg needs no guard — partials are exact and the
    * combine narrows through Average's own sum-buffer type. False
    * declines to the plain scan.
    */
  private def avgIntExact(view: StatsView, needs: Seq[Need]): Boolean = {
    val avgIntCols = needs.collect {
      case AvgOf(c, t) if !t.isInstanceOf[DecimalType] => c
    }.distinct
    if (avgIntCols.isEmpty) return true
    val gAggs = avgIntCols.flatMap { c =>
      (view.statCol("min", c), view.statCol("max", c), view.statCol("sum", c)) match {
        case (Some(mn), Some(mx), Some(s)) =>
          Seq(min(col(mn)), max(col(mx)), sum(col(s).cast(DecimalType(38, 0))))
        case _ => return false
      }
    }
    val g = KeyedTable.withMetaConf(spark)(
      view.st.agg(gAggs.head, gAggs.tail: _*).collect())(0)
    avgIntCols.indices.forall { k =>
      val mnV = if (g.isNullAt(3 * k)) null else g.get(3 * k)
      val mxV = if (g.isNullAt(3 * k + 1)) null else g.get(3 * k + 1)
      val sv = if (g.isNullAt(3 * k + 2)) null else g.get(3 * k + 2)
      val sameSign = longOf(mnV).exists(_ >= 0L) ||
        longOf(mxV).exists(_ <= 0L)
      val fits = sv == null || sv.asInstanceOf[java.math.BigDecimal]
        .toBigInteger.abs.bitLength <= 53
      mnV == null || (sameSign && fits)
    }
  }

  /** Final `avg` value for one fold row, or `None` to decline. The
    * division is NOT re-implemented: the plan's own
    * [[Average.evaluateExpression]] is bound to the folded totals (its
    * `sum`/`count` buffer attributes replaced by literals) and
    * interpreted-evaluated, so result type, decimal rounding and
    * eval-mode semantics are Spark's own, bit-for-bit.
    *
    * Exactness guards: a DECIMAL total must fit Average's sum-buffer
    * type (precision+10 — where Spark's own buffer would have
    * overflowed, the serve declines and the scan reproduces that
    * behavior); an INTEGRAL total feeds a DOUBLE buffer Spark fills in
    * partition order, so the serve must prove that order-sensitive
    * accumulation was exact — all values same sign (per the folded
    * column min/max: every intermediate partial is then a subset sum
    * bounded by the total) and |total| < 2^53 (every bounded integer
    * is exactly representable, so each addition is exact). Mixed-sign
    * or larger totals decline to the scan.
    */
  private def avgValue(
      av: Average, t: DataType, sumV: Any, nnV: Any,
      mnV: Any, mxV: Any): Option[Any] = {
    val nn: Long = nnV match {
      case null => 0L
      case l: java.lang.Long => l.longValue()
      case other => return None // unexpected fold type
    }
    val sumLit: Literal = t match {
      case _: DecimalType =>
        val sd = av.sumDataType.asInstanceOf[DecimalType]
        sumV match {
          case null => Literal.create(null, sd)
          case bd: java.math.BigDecimal =>
            val dec = Decimal(bd)
            if (!dec.changePrecision(sd.precision, sd.scale)) return None
            Literal(dec, sd)
          case _ => return None
        }
      case _ =>
        if (nn == 0L) Literal(0.0d) // divide-by-zero nulls, like Spark
        else sumV match {
          case bd: java.math.BigDecimal =>
            val bi = bd.toBigInteger
            val sameSign = longOf(mnV).exists(_ >= 0L) ||
              longOf(mxV).exists(_ <= 0L)
            if (!sameSign || bi.abs.bitLength > 53) return None
            Literal(bi.doubleValue())
          case _ => return None
        }
    }
    avgBind(av, sumLit, Literal(nn)).map(_.eval(InternalRow.empty))
  }

  /** [[Average.evaluateExpression]] with its sum/count buffer attributes
    * replaced — by literals for the metadata-only serve, by aggregate
    * expressions over the union columns for the union combine.
    */
  private def avgBind(
      av: Average, sumE: Expression, cntE: Expression): Option[Expression] =
    Some(av.evaluateExpression.transform {
      case ar: AttributeReference if ar.exprId == av.sum.exprId   => sumE
      case ar: AttributeReference if ar.exprId == av.count.exprId => cntE
    })

  /** Decimal sum fold → long, or `None` when the exact total does not
    * fit — the serve declines there so ANSI overflow semantics stay
    * with Spark's own Sum over the real scan. Old sidecars folded from
    * long partials arrive as decimals too (the fold casts), so one
    * narrowing covers both generations.
    */
  private def sumToLong(v: Any): Option[Any] = v match {
    case null => Some(null)
    case d: java.math.BigDecimal =>
      val bi = d.toBigInteger
      if (bi.bitLength() <= 63) Some(bi.longValueExact()) else None
    case l: java.lang.Long => Some(l.longValue())
    case other => Some(other)
  }

  /** The widened exact partial type [[KeyedTable.recordColumnStats]]
    * stores for a summable column: scale 0 for integrals, the column's
    * own scale for decimals.
    */
  private def partialDecimal(t: DataType): DecimalType = t match {
    case d: DecimalType => DecimalType(38, d.scale)
    case _ => DecimalType(38, 0)
  }

  /** Spark's Sum result type over a decimal column (Sum.resultType:
    * precision + 10, bounded at the decimal maximum).
    */
  private def sumResultType(t: DecimalType): DecimalType =
    DecimalType(
      math.min(t.precision + 10, DecimalType.MAX_PRECISION),
      math.min(t.scale, DecimalType.MAX_SCALE))

  /** Decimal sum fold → the aggregate's own decimal result type, or
    * `None` when the exact total does not fit — the serve declines
    * there so overflow semantics (ANSI throw / legacy null) stay with
    * Spark's own Sum over the real scan.
    */
  private def sumToDecimal(v: Any, colType: DecimalType): Option[Any] =
    v match {
      case null => Some(null)
      case d: java.math.BigDecimal =>
        val rt = sumResultType(colType)
        val dec = org.apache.spark.sql.types.Decimal(d)
        if (dec.changePrecision(rt.precision, rt.scale)) Some(dec) else None
      case _ => None
    }

  /** Scala-side fold value → Catalyst value in the column's own type.
    * New sidecars store min/max NATIVELY (the fold value converts
    * directly); pre-typed sidecars stored integral bounds as longs, so a
    * boxed Long narrows back to the column's integral type.
    */
  private def toCatalystStat(v: Any, t: DataType): Any = v match {
    case null => null
    case l: java.lang.Long => t match {
      case ByteType    => l.byteValue
      case ShortType   => l.shortValue
      case IntegerType => l.intValue
      case LongType    => l.longValue
      case _ => CatalystTypeConverters.createToCatalystConverter(t)(l)
    }
    case other => CatalystTypeConverters.createToCatalystConverter(t)(other)
  }
}

object StatsAggregateRewrite {
  /** Grouped serves are driver-resident LocalRelations — beyond this
    * many groups the answer belongs in a real scan, not the plan.
    */
  val MaxGroups = 4096
}
