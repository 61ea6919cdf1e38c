package graft.plans

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction, Average, Complete, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan, Project, Union}
import org.apache.spark.sql.catalyst.rules.Rule
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
  * ([[KeyedTable.specRegistry]]) — no windows or joins, and filters
  * only when every conjunct classifies as (a) a literal point predicate
  * (or inferred isnotnull) on a PARTITION column — partition conjuncts
  * select whole files exactly, so the fold over the selected sidecar
  * rows IS the aggregate over the filtered table, nothing residual — or
  * (b) a literal RANGE / IS NOT NULL / IN-list conjunct on an ordered
  * stats column (the shared [[RangeConjuncts]] extraction), which
  * selects the HYBRID serve ([[serveHybrid]]): fully-contained files
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
  * the hybrid it rides the union as a sum + count slice per side;
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
  * the hybrid serve: interior files of a clustered run fold, boundary
  * files scan; `GROUP BY lang` over a lang-clustered corpus). A
  * no-aggregate node — `SELECT DISTINCT day` — serves too: over
  * partition columns it is a pure metadata read of the sidecar's
  * partition tuples, over clustered data columns the hybrid distinct.
  *
  * Soundness: non-resolving (plain copy-on-write) tables only — on a
  * `retainHistory` table stored rows are versions, so file stats
  * over-count superseded versions. Freshness is the sidecar's exists ⇒
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
  * the produced LocalRelation contains no relation to re-match.
  */
class StatsAggregateRewrite(spark: SparkSession) extends Rule[LogicalPlan] {
  import StatsAggregateRewrite.MaxGroups

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (KeyedTable.specRegistry.isEmpty) return plan
    TableMetaCache.pinVersions(plan.transformUp {
      case a: Aggregate =>
        try serve(a).getOrElse(a)
        catch {
          case scala.util.control.NonFatal(e) =>
            logInfo(s"stats-aggregate rewrite declined on error: $e")
            a
        }
    })
  }

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

  import PartitionConjuncts.{PartFilter, PartIn, PartNotNull}

  /** The shape half of the match, sidecar-IO-free. `ranges`/`notNull`
    * nonempty selects the HYBRID serve: full files fold from the
    * sidecar, boundary files scan.
    */
  private final case class AggMatch(
      a: Aggregate, scan: KeyedScan, needs: Seq[Need],
      groupAttrs: Seq[Attribute], groupIsPart: Seq[Boolean],
      partFilters: Seq[PartFilter],
      ranges: Seq[graft.table.ColumnRange], notNull: Seq[String],
      inLists: Seq[(String, Seq[Any])],
      casts: Map[Int, Cast] = Map.empty) {
    def spec: graft.table.KeyedTableSpec = scan.spec
    /** Grouping columns that are DATA columns (classified per file by
      * the single-valued test), not partition columns (whole files by
      * layout). Their presence forces the hybrid serve.
      */
    def dataGroupCols: Seq[String] =
      groupAttrs.zip(groupIsPart).collect { case (at, false) => at.name }
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
    if (KeyedTable.specRegistry.isEmpty) Nil
    else plan.collect { case ag: Aggregate =>
      (try matchAgg(ag) catch { case scala.util.control.NonFatal(_) => None })
        // Data-column-grouped and avg shapes are deliberately NOT
        // advisor wants: a stats build serves a data grouping only when
        // files are single-valued in the group column (a LAYOUT
        // property clustering decides) and serves an avg only when the
        // totals pass the value-dependent exactness guards — in either
        // case the static shape cannot promise the build will serve, so
        // a recommendation could never settle (the build lands, the
        // serve still declines).
        .filter(m => m.dataGroupCols.isEmpty &&
          !m.needs.exists(_.isInstanceOf[AvgOf]))
        .map { m =>
          (m.spec, (m.needs.collect {
            case MinOf(c, _) => c
            case MaxOf(c, _) => c
            case SumOf(c, _) => c
            case CountCol(c) => c
          } ++ m.ranges.map(_.column) ++ m.notNull ++
            m.inLists.map(_._1)).distinct)
        }
    }.flatten

  /** Data-column-grouped aggregate shapes for the advisor's
    * rollup-layout arm: (table spec, the single data group column, the
    * stats columns the aggregates/classifiers additionally need).
    * Deliberately disjoint from [[aggShapes]]: serving a data grouping
    * needs the LAYOUT to make files single-valued, so the advisor
    * measures cardinality and run length before recommending
    * cluster + stats. Multi-column data groupings (a Z-order decision
    * this arm doesn't model) and avg-carrying shapes (the hybrid
    * declines avg) are skipped.
    */
  private[plans] def dataGroupShapes(
      plan: LogicalPlan): Seq[(graft.table.KeyedTableSpec, String, Seq[String])] =
    if (KeyedTable.specRegistry.isEmpty) Nil
    else plan.collect { case ag: Aggregate =>
      (try matchAgg(ag) catch { case scala.util.control.NonFatal(_) => None })
        .filter(m => m.dataGroupCols.length == 1 &&
          !m.needs.exists(_.isInstanceOf[AvgOf]))
        .map { m =>
          (m.spec, m.dataGroupCols.head, (m.needs.collect {
            case MinOf(c, _) => c
            case MaxOf(c, _) => c
            case SumOf(c, _) => c
            case CountCol(c) => c
          } ++ m.ranges.map(_.column) ++ m.notNull ++
            m.inLists.map(_._1)).distinct)
        }
    }.flatten

  private def serve(a: Aggregate): Option[LogicalPlan] =
    matchAgg(a).flatMap { m =>
      // Needs carry data types and column names; PartFilters carry
      // literal values — together with the path they pin the semantic
      // probe, so node churn across fixpoint iterations still hits.
      val key = (m.spec.path, m.needs.toVector,
        m.groupAttrs.map(_.name).toVector,
        m.partFilters.toVector, m.ranges.toVector, m.notNull.toVector,
        m.inLists.map { case (c, vs) => (c, vs.toVector) }.toVector,
        // Cast-wrapped and cast-free twins must gate independently: a
        // declined cast shape memoized under the bare key would rob
        // the cast-free twin of its hybrid serve for the session.
        m.casts.toVector.map { case (i, c) => (i, c.dataType) }.sortBy(_._1))
      TableMetaCache.declineGated(spark, this, m.spec.path)(key)(serveAgg(m))
    }.orElse(serveMorCount(a)).orElse(serveMorStats(a))
      .orElse(serveDistinctValues(a)).orElse(serveMorDistinct(a))

  /** `count(DISTINCT c)` over a CLUSTERED data column, served as a
    * VALUES union: files single-valued in `c` (min = max ∧ nn = cnt —
    * sound under string truncation by the bound sandwich) contribute
    * their one stored value straight from the sidecar, every other
    * file scans projected to `c`, and a count-distinct over the union
    * de-duplicates across both sides. On a lang-clustered corpus
    * "how many languages" opens only the run-boundary files. The
    * shape: a bare single-output `count(DISTINCT attr)` (no grouping)
    * over a registered non-resolving table; nulls drop on both sides
    * (count-distinct ignores them). FILTERS compose through the
    * hybrid's classification: partition point conjuncts select whole
    * sidecar rows, and literal ranges / IS NOT NULL / IN-lists split
    * files into FULL (every row satisfies — its single value folds
    * only then), candidate (scans with the original filter residual
    * intact), and excluded ("how many languages shipped documents this
    * week" stays a boundary-sized read). Zero folded values decline —
    * nothing would fold. Partition columns never reach here (the
    * metadata-only [[DistinctPartOf]] arm matches first).
    */
  private def serveDistinctValues(a: Aggregate): Option[LogicalPlan] = {
    if (a.groupingExpressions.nonEmpty || a.aggregateExpressions.length != 1)
      return None
    val (child0, orig) = a.aggregateExpressions.head match {
      case al @ Alias(ae: AggregateExpression, _)
          if ae.isDistinct && ae.filter.isEmpty =>
        ae.aggregateFunction match {
          case Count(Seq(x)) => (x, al)
          case _ => return None
        }
      case _ => return None
    }
    val ks = KeyedScan.of(a.child).getOrElse(return None)
    if (ks.windows.nonEmpty || ks.spec.retainHistory) return None
    val spec = ks.spec
    // The counted expression must be an attribute of the child's OWN
    // output (the boundary Project re-aliases exactly it) that resolves
    // to an ordered-stats DATA column of the relation.
    val childAttr = child0 match {
      case at: Attribute => at
      case _ => return None
    }
    val relAttr = ks.relAttrOf(childAttr)
      .filter(at => KeyedTable.statsOrderedType(at.dataType))
      .getOrElse(return None)
    if (ks.isPartitionCol(relAttr.name))
      return None // the metadata-only arm's shape
    // Conjuncts below the count: partition point filters select whole
    // sidecar rows; literal ranges / IS NOT NULL / IN-lists classify
    // per file through the hybrid's candidate/full predicates — a file
    // FULL under every conjunct AND single-valued in the counted
    // column contributes its one value; any other candidate file
    // scans WITH the original filter residual intact; non-candidates
    // drop. Anything else declines.
    val RangeConjuncts.StatsConjuncts(partFilters, ranges, notNull, inLists) =
      RangeConjuncts.statsConjuncts(ks, ks.conjuncts.map(_._1))
        .getOrElse(return None)
    val memoKey = ("distinctValues", spec.path, relAttr.name,
      partFilters.toVector, ranges.toVector, notNull.toVector,
      inLists.map { case (c, vs) => (c, vs.toVector) }.toVector)
    TableMetaCache.declineGated(spark, this, spec.path)(memoKey) {
      val table = KeyedTable(spec)
      table.colStatsFrame(spark).flatMap { st =>
        def statCol(prefix: String): Option[String] =
          st.columns.find(_.equalsIgnoreCase(s"${prefix}_${relAttr.name}"))
        val (mnC, mxC, nnC) =
          (statCol("min"), statCol("max"), statCol("nn")) match {
            case (Some(a1), Some(b), Some(c)) => (a1, b, c)
            case _ => return None
          }
        if (!st.columns.contains("cnt")) return None
        // The hybrid's classification (RangeConjuncts.fileClasses):
        // candidate = may hold a satisfying row; fullRange = every row
        // satisfies every conjunct.
        val (candidate, fullRange) = RangeConjuncts
          .fileClasses(st, ranges, notNull, inLists).getOrElse(return None)
        val stSel = PartitionConjuncts.select(
          st, PartitionConjuncts.statCols(st, partFilters).getOrElse(return None))
        val singleValued = col(nnC) === col("cnt") && col(mnC) === col(mxC) &&
          col("cnt") > 0
        val fold = fullRange && singleValued
        val fullValues = KeyedTable.withMetaConf(spark)(
          stSel.filter(fold).select(col(mnC)).distinct()
            .limit(MaxGroups + 1).collect())
        if (fullValues.isEmpty || fullValues.length > MaxGroups) return None
        val boundaryFiles = KeyedTable.withMetaConf(spark)(
          stSel.filter(candidate && (!fold || fold.isNull)).select("file")
            .collect().map(_.getString(0)).toSeq)
        val conv =
          CatalystTypeConverters.createToCatalystConverter(relAttr.dataType)
        val uVal = AttributeReference("u", relAttr.dataType)()
        val local = LocalRelation(
          Seq(uVal),
          fullValues.toIndexedSeq.map(r =>
            InternalRow(conv(if (r.isNullAt(0)) null else r.get(0)))),
          false)
        val newChild = ks.swap(spark, a.child, boundaryFiles.map(abs =>
          new org.apache.hadoop.fs.Path(new java.net.URI(abs))))
        val proj = Project(Seq(Alias(childAttr, "u")()), newChild)
        val cd = AggregateExpression(
          Count(Seq(uVal)), Complete, isDistinct = true)
        logInfo(s"stats-aggregate rewrite: ${spec.path} count(distinct " +
          s"${relAttr.name}) over ${fullValues.length} folded values + " +
          s"${boundaryFiles.length} boundary files")
        Some(Aggregate(
          Nil,
          Seq(Alias(cd, orig.name)(exprId = orig.exprId)),
          Union(Seq(local, proj))))
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
      TableMetaCache.declineGated(spark, this, spec.path)(
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
      TableMetaCache.declineGated(spark, this, spec.path)(key) {
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

  /** min/max/sum/count/avg over a history table's RESOLVED read, served
    * by WINNER-FILE classification — [[serveMorCount]]'s soundness
    * argument extended to value aggregates. Naively folding file stats
    * is unsound on merge-on-read (stats cover every stored VERSION; a
    * superseded extremum would surface), but the record-level index
    * knows exactly which rows are live: joining its delta-reconciled
    * winner entries against the stats sidecar classifies each file as
    * PURE (every stored row is a live winner — its stats row aggregates
    * exactly its winners, fold it), BOUNDARY (some rows live, some
    * superseded — scan it, keeping only rows whose full resolve
    * identity matches a winner entry), or DEAD (no winners — skip
    * entirely). On the 100 TB daily-dashboard shape (yesterday's
    * partitions churn, the archive is stable) the archive's files are
    * pure and fold from metadata; only the churned files scan. Match:
    * the exact shared resolve shape (rn = 1 plus, optionally,
    * partition POINT conjuncts above the window — whole-file,
    * whole-winner selections), bare or grouped by PARTITION columns (a
    * pure file lives in exactly one hive directory, so its stats row
    * folds into exactly one group) or by clustered DATA columns (a file
    * folds only when pure AND single-valued in the group column —
    * min = max ∧ nn = cnt — at once; group-spanning files scan;
    * boundary winner rows carry their group values into the
    * grouped residual), every output a servable min/max/sum/count/avg
    * over a stats-covered column — same per-aggregate admission and
    * exactness guards as the COW serves (string truncation, decimal
    * narrowing, integral-avg order proof; the whole-VERSION stats
    * bound every winner subset, so the guards transfer).
    */
  private final case class MorStatsMatch(
      spec: graft.table.KeyedTableSpec, needs: Seq[Need],
      groupAttrs: Seq[Attribute], groupIsPart: Seq[Boolean],
      partFilters: Seq[PartFilter],
      ranges: Seq[graft.table.ColumnRange], notNull: Seq[String],
      inLists: Seq[(String, Seq[Any])]) {
    /** Grouping columns that are DATA columns (not hive partitions):
      * a file folds into such a group only when PURE and SINGLE-VALUED
      * in the column at once — the q192 composition over a resolved
      * read.
      */
    def dataGroupCols: Seq[String] =
      groupAttrs.zip(groupIsPart).collect { case (at, false) => at.name }
  }

  /** Every winner-file-servable resolved-aggregate shape in `plan`, as
    * (table spec, the data columns needing recorded stats) — the
    * advisor's one-matcher hook for the MoR arm. Shapes carrying an
    * avg are excluded for the same could-never-settle reason as
    * [[aggShapes]] (value-dependent exactness guards).
    */
  private[plans] def morStatsShapes(
      plan: LogicalPlan): Seq[(graft.table.KeyedTableSpec, Seq[String])] =
    if (KeyedTable.specRegistry.isEmpty) Nil
    else plan.collect { case ag: Aggregate =>
      (try matchMorStats(ag)
       catch { case scala.util.control.NonFatal(_) => None })
        .filter(m => !m.needs.exists(_.isInstanceOf[AvgOf]) &&
          // Data-column groups are layout-dependent serves (the fold
          // set depends on clustering) — the advisor deliberately
          // excludes them, like the q192 grouped top-k shape.
          m.groupIsPart.forall(identity))
        .map { m =>
          (m.spec, (m.needs.collect {
            case MinOf(c, _) => c
            case MaxOf(c, _) => c
            case SumOf(c, _) => c
            case CountCol(c) => c
          } ++ m.ranges.map(_.column) ++ m.notNull ++
            m.inLists.map(_._1)).distinct)
        }
    }.flatten

  private def serveMorStats(a: Aggregate): Option[LogicalPlan] =
    matchMorStats(a).flatMap { m =>
      val table = KeyedTable(m.spec)
      val key = ("morStats", m.spec.path, m.needs.toVector,
        m.groupAttrs.map(_.name).toVector, m.partFilters.toVector,
        m.ranges.toVector, m.notNull.toVector,
        m.inLists.map { case (c, vs) => (c, vs.toVector) }.toVector)
      TableMetaCache.declineGated(spark, this, m.spec.path)(key) {
        serveMorStatsImpl(a, table, m)
      }
    }

  private def matchMorStats(a: Aggregate): Option[MorStatsMatch] = {
    if (a.aggregateExpressions.isEmpty) return None
    val ks = KeyedScan.of(a.child).getOrElse(return None)
    if (!ks.spec.retainHistory) return None
    val spec = ks.spec
    val rest = ks.resolved.getOrElse(return None)
    // Beside rn = 1, conjuncts ABOVE the window (on the RESOLVED state)
    // compose two ways. Partition POINT conjuncts select whole files
    // and whole winners (a winner row of partition p lives in a file
    // of p — true even under globalKeys, where the winner
    // determination is global and unaffected by the later selection).
    // Literal RANGES / IS NOT NULL / IN-lists on stats-covered columns
    // classify per file at serve time: a PURE file's stats describe
    // exactly its winners (fold when fully contained), a MIXED file's
    // all-version stats are outer bounds of its winners (sound as a
    // may-contain test), and the scan side re-applies the conjuncts as
    // the residual. Anything else — or anything BELOW the window —
    // filters rows the winner counts assumed present, so it declines.
    if (rest.exists(_._2 != 0)) return None
    val RangeConjuncts.StatsConjuncts(partFilters, ranges, notNull, inLists) =
      RangeConjuncts.statsConjuncts(ks, rest.map(_._1)).getOrElse(return None)
    // Grouping: PARTITION columns (a pure file lives in one hive
    // directory — its stats row folds into exactly one group) or
    // ordered-stats DATA columns (the q192 composition: a file folds
    // only when PURE and SINGLE-VALUED in the group column at once;
    // everything else with winners scans, carrying its group values
    // into the residual).
    val groupAttrs: Seq[Attribute] = a.groupingExpressions.map { e =>
      ks.relAttrOf(e).filter(at => ks.isPartitionCol(at.name) ||
          KeyedTable.statsOrderedType(at.dataType))
        .getOrElse(return None)
    }
    val groupIsPart: Seq[Boolean] = groupAttrs.map(at => ks.isPartitionCol(at.name))
    val groupIdx: Map[ExprId, Int] =
      groupAttrs.zipWithIndex.map { case (at, i) => at.exprId -> i }.toMap
    def groupNeedOf(e: Expression): Option[GroupOf] = ks.subst(e) match {
      case at: Attribute => groupIdx.get(at.exprId)
        .map(i => GroupOf(at.name, at.dataType, i))
      case _ => None
    }
    val needs: Seq[Need] = a.aggregateExpressions.map {
      case at: Attribute => groupNeedOf(at).getOrElse(return None)
      case Alias(ae: AggregateExpression, _)
          if !ae.isDistinct && ae.filter.isEmpty =>
        valueNeedOf(ks, ae.aggregateFunction).getOrElse(return None)
      case Alias(e, _) => groupNeedOf(e).getOrElse(return None)
      case _ => return None
    }
    // A pure-count shape is serveMorCount's (index-only, no sidecar
    // needed); this arm exists for the value aggregates.
    if (needs.forall(n => n == CountAll || n.isInstanceOf[GroupOf]))
      return None
    // Every grouping column must also be PROJECTED: the final combine
    // groups only by the GroupOf slices present in `needs`, so an
    // unprojected grouping column (SELECT min(x) ... GROUP BY p with p
    // absent from the SELECT list) would collapse its groups into one
    // row. Decline to the scan.
    val projectedGis = needs.collect { case GroupOf(_, _, gi) => gi }.toSet
    if (!groupAttrs.indices.forall(projectedGis.contains)) return None
    Some(MorStatsMatch(
      spec, needs, groupAttrs, groupIsPart, partFilters, ranges,
      notNull, inLists))
  }


  private def serveMorStatsImpl(
      a: Aggregate, table: KeyedTable,
      m: MorStatsMatch): Option[LogicalPlan] = {
    val MorStatsMatch(
      _, needs, groupAttrs, groupIsPart, partFilters, ranges, notNull,
      inLists) = m
    val dataGroups = m.dataGroupCols
    table.colStatsFrame(spark).flatMap { st =>
      def statCol(prefix: String, c: String): Option[String] =
        st.columns.find(_.equalsIgnoreCase(s"${prefix}_$c"))
      if (!st.columns.contains("cnt")) return None
      val settled = table.settledWinnerEntries(spark).getOrElse(return None)
      val stRel = st.withColumn(
        "_rfile", table.relOfFileCol(spark, col("file")))
      val MorWinnerMaps.WinnerMaps(wcByFile, cntByFile, wcU, _) =
        MorWinnerMaps.of(spark, table, settled, stRel).getOrElse(return None)
      // Partition point conjuncts select whole sidecar rows BEFORE the
      // classification — both the fold and the scan sides then see
      // only the matching partitions' files (the winner counts stay
      // global: purity of a file is partition-independent).
      val partSel =
        PartitionConjuncts.statCols(st, partFilters).getOrElse(return None)
      // Winner purity × range containment (the hybrid's predicates; on
      // a PURE file the stats describe exactly its winners, on a MIXED
      // file they are outer bounds — sound as a may-contain test).
      val (candidate, fullRange) = RangeConjuncts
        .fileClasses(st, ranges, notNull, inLists).getOrElse(return None)
      // A file folds into a DATA group only when SINGLE-VALUED in the
      // column (min = max ∧ nn = cnt — sound under string truncation:
      // stored-lower ≤ real-min ≤ real-max ≤ stored-upper forces the
      // exact value when the stored bounds coincide). Group-spanning or
      // null-carrying files fail the conjunct and scan as boundaries
      // (winner rows carry their group values into the residual).
      val dataSingle = dataGroups.map { c =>
        (statCol("nn", c), statCol("min", c), statCol("max", c)) match {
          case (Some(nnC), Some(mnC), Some(mxC)) =>
            col(nnC) === col("cnt") && col(mnC) === col(mxC)
          case _ => return None
        }
      }.reduceOption(_ && _).getOrElse(lit(true))
      val joined = PartitionConjuncts.select(stRel, partSel)
        .withColumn("wcnt", wcU(col("_rfile")))
      val allWinners = col("wcnt").isNotNull && col("wcnt") === col("cnt") &&
        col("cnt") > 0
      // FOLD: every stored row is a live winner AND every row satisfies
      // every conjunct AND (for data groups) the file is single-valued.
      // SCAN: the file holds ≥1 winner and may hold a satisfying row,
      // and it is not folded (mixed, pure-partial under the range, or
      // group-spanning) — the winner semi-join plus the re-applied
      // conjuncts make its contribution exact. Data groups restrict
      // nothing on the candidate side: every file can hold rows of some
      // group.
      val pure = allWinners &&
        coalesce(fullRange && dataSingle, lit(false))
      val boundaryPred = col("wcnt").isNotNull && col("wcnt") > 0 &&
        coalesce(candidate, lit(false)) && !pure
      // Pure-file folds — the hybrid's fold set; pure files fold into
      // their hive partition's group (the sidecar's per-file p_ tuple)
      // or, for a data group, their single recorded value (min = max).
      val groupStatCols = groupAttrs.zip(groupIsPart).map {
        case (at, true)  => statCol("p", at.name)
        case (at, false) => statCol("min", at.name)
      }
      if (groupStatCols.exists(_.isEmpty)) return None
      val (slices, guardCols) = unionFolds(st, needs).getOrElse(return None)
      // Integral-avg exactness: proven from the WHOLE-VERSION stats —
      // the winner rows are a subset of all versions, so same-sign and
      // the |total| < 2^53 bound cover every partial sum the boundary
      // scan or combine performs.
      if (!avgIntExact(st, needs)) return None
      val offsets = slices.scanLeft(0)(_ + _.length)
      val nGroups = groupAttrs.length
      val valueExprs = slices.flatten.zipWithIndex
        .map { case (c, i) => c.as(s"v$i") }
      val guardExprs = guardCols.zipWithIndex
        .map { case (g, i) => max(col(g)).as(s"g$i") }
      val exprs = (valueExprs ++ guardExprs) :+ count(lit(1)).as("nfull")
      val pureSel = joined.filter(pure)
      val folded =
        if (nGroups == 0) pureSel.agg(exprs.head, exprs.tail: _*)
        else pureSel.groupBy(groupStatCols.flatten.map(col): _*)
          .agg(exprs.head, exprs.tail: _*)
      val rows = KeyedTable.withMetaConf(spark)(
        folded.limit(MaxGroups + 1).collect())
      if (rows.length > MaxGroups) return None
      // Zero pure files anywhere: nothing folds — the plain resolve
      // scan is the better plan. (A groupless fold always yields one
      // row; its nfull decides.)
      if (rows.map(r => r.getLong(r.length - 1)).sum == 0L) return None
      val nGuards = guardExprs.length
      val truncated = rows.exists { row =>
        (0 until nGuards).exists { gi =>
          val at = row.length - 1 - nGuards + gi
          !row.isNullAt(at) && row.getBoolean(at)
        }
      }
      if (truncated) return None
      // Boundary files from the cached maps when no conjunct narrows
      // the file set (no job); the sidecar-classified select otherwise
      // (partition/range correctness must ride the p_/bounds columns,
      // and a data group's single-valued test rides the sidecar too).
      val boundaryRel: Seq[String] =
        if (partFilters.isEmpty && ranges.isEmpty && notNull.isEmpty &&
            inLists.isEmpty && dataGroups.isEmpty)
          cntByFile.collect {
            case (f, c) if wcByFile.get(f).exists(w => w > 0 && w < c) => f
          }.toSeq.sorted
        else KeyedTable.withMetaConf(spark)(
          joined.filter(boundaryPred).select(col("_rfile"))
            .collect().map(_.getString(0)).toSeq)

      // Union row shape, needs order — the hybrid's uSlices.
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
              case SumOf(_, dt: DecimalType) =>
                Seq(sumToDecimal(v(0), dt).getOrElse(return None))
              case SumOf(_, _) => Seq(sumToLong(v(0)).getOrElse(return None))
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

      // Boundary side: winner rows of the mixed files (semi-join on the
      // full resolve identity), partially aggregated under the original
      // grouping (partition values ride the rows) — or an EMPTY
      // relation of the same shape when no file is mixed.
      val partialPlan: LogicalPlan =
        if (boundaryRel.isEmpty)
          LocalRelation(
            uSlices.flatten.map(at =>
              AttributeReference(at.name, at.dataType, at.nullable)()),
            IndexedSeq.empty, false)
        else {
          // The winner rows of the scan side, with the range/IS NOT
          // NULL/IN conjuncts RE-APPLIED as the residual (the original
          // child is replaced wholesale, so the filter must ride here).
          val residual = RangeConjuncts.rowFilters(Nil, ranges, notNull, inLists)
          val bdf0 = table.winnerRowsOf(spark, boundaryRel, settled)
          val bdf = residual.foldLeft(bdf0)(_.filter(_))
          val aggCols: Seq[org.apache.spark.sql.Column] =
            needs.zipWithIndex.flatMap {
              case (_: GroupOf, _)  => Seq.empty
              case (MinOf(c, _), i) => Seq(min(col(c)).as(s"u$i"))
              case (MaxOf(c, _), i) => Seq(max(col(c)).as(s"u$i"))
              case (SumOf(c, _), i) => Seq(sum(col(c)).as(s"u$i"))
              case (AvgOf(c, t), i) => Seq(
                sum(col(c).cast(partialDecimal(t))).as(s"u${i}s"),
                count(col(c)).as(s"u${i}c"))
              case (CountAll, i)    => Seq(count(lit(1)).as(s"u$i"))
              case (CountCol(c), i) => Seq(count(col(c)).as(s"u$i"))
              case _ => return None
            }
          val grouped =
            if (nGroups == 0) bdf.agg(aggCols.head, aggCols.tail: _*)
            else bdf.groupBy(groupAttrs.map(at => col(at.name)): _*)
              .agg(aggCols.head, aggCols.tail: _*)
          // Re-project to the union's positional order (group outputs
          // sit at their needs positions, aliased u$i like the rest).
          val sel: Seq[org.apache.spark.sql.Column] =
            needs.zipWithIndex.flatMap {
              case (GroupOf(c, _, _), i) => Seq(col(c).as(s"u$i"))
              case (AvgOf(_, _), i) => Seq(col(s"u${i}s"), col(s"u${i}c"))
              case (_, i) => Seq(col(s"u$i"))
            }
          grouped.select(sel: _*).queryExecution.analyzed
        }

      def avgOfOutput(i: Int): Average = a.aggregateExpressions(i) match {
        case Alias(ae: AggregateExpression, _) =>
          ae.aggregateFunction.asInstanceOf[Average]
        case other => throw new IllegalStateException(
          s"AvgOf need without an Average expression: $other")
      }
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
      logInfo(s"stats-aggregate rewrite: ${table.spec.path} resolved " +
        s"aggregate served by winner-file classification " +
        s"(${rows.map(r => r.getLong(r.length - 1)).sum} pure files " +
        s"folded over ${rows.length} group rows, " +
        s"${boundaryRel.length} mixed files scanned)")
      Some(Aggregate(finalGroups, finalExprs, Union(Seq(local, partialPlan))))
    }
  }

  /** `count(DISTINCT col)` over a history table's RESOLVED read — the
    * winner-file classification composed with the values-union serve:
    * a PURE file (every stored row a live winner) that is also
    * SINGLE-VALUED in the column contributes its one stored value
    * straight from the sidecar (min = max pins the exact value even
    * under string truncation, by the bound sandwich; nn = cnt excludes
    * nulls), every other file holding ≥ 1 winner scans its winner rows
    * (the full resolve-identity semi-join) projected to the column, and
    * DEAD files — exactly where a superseded distinct value hides —
    * never open. A count-distinct over the union de-duplicates the two
    * sides. Match: a single-output `count(DISTINCT attr)` — or the
    * no-aggregate `SELECT DISTINCT attr` canonical form, which serves
    * the VALUE SET through the same union (nulls ride the scan side:
    * an all-null pure file fails nn = cnt and scans, so the NULL group
    * appears exactly when a live null exists) — over the
    * exact shared resolve shape (rn = 1 above the window) on a
    * registered `retainHistory` table, attr an ordered-stats DATA
    * column (partition columns are [[serveMorCount]]'s index-side
    * family). FILTERS compose like the COW values union (q194) ×
    * winner purity: partition point conjuncts select whole files and
    * whole winners before the classification; literal ranges /
    * IS NOT NULL / IN-lists on stats-covered columns classify per file
    * — a file folds its value only when PURE, single-valued, and FULL
    * under every conjunct; candidate files with winners scan winner
    * rows with the residual re-applied; excluded and DEAD files never
    * open. Zero folded values decline — nothing would fold and the
    * plain resolve is the better plan.
    */
  private def serveMorDistinct(a: Aggregate): Option[LogicalPlan] = {
    if (a.aggregateExpressions.length != 1) return None
    // Two admitted heads: `count(DISTINCT x)` (bare, no grouping) and
    // the no-aggregate `SELECT DISTINCT x` canonical form
    // (Aggregate(x, x, child)) — the same values union serves both; the
    // final node differs only in whether it counts or groups.
    val (child0, orig, isCount) =
      if (a.groupingExpressions.isEmpty)
        a.aggregateExpressions.head match {
          case al @ Alias(ae: AggregateExpression, _)
              if ae.isDistinct && ae.filter.isEmpty =>
            ae.aggregateFunction match {
              case Count(Seq(x)) => (x, al, true)
              case _ => return None
            }
          case _ => return None
        }
      else (a.groupingExpressions, a.aggregateExpressions.head) match {
        case (Seq(g), at: Attribute) if g == at =>
          (at: Expression, at: NamedExpression, false)
        case _ => return None
      }
    val ks = KeyedScan.of(a.child).getOrElse(return None)
    if (!ks.spec.retainHistory) return None
    val spec = ks.spec
    val rest = ks.resolved.getOrElse(return None)
    if (rest.exists(_._2 != 0)) return None // conjuncts above the window only
    val relAttr = ks.relAttrOf(child0)
      .filter(at => KeyedTable.statsOrderedType(at.dataType) &&
        !ks.isPartitionCol(at.name))
      .getOrElse(return None)
    // Conjunct classification — the q194 split, verbatim.
    val RangeConjuncts.StatsConjuncts(partFilters, ranges, notNull, inLists) =
      RangeConjuncts.statsConjuncts(ks, rest.map(_._1)).getOrElse(return None)
    val table = KeyedTable(spec)
    TableMetaCache.declineGated(spark, this, spec.path)((
        "morDistinct", spec.path, relAttr.name,
      partFilters.toVector, ranges.toVector, notNull.toVector,
      inLists.map { case (c, vs) => (c, vs.toVector) }.toVector)) {
      table.colStatsFrame(spark).flatMap { st =>
        def statCol(prefix: String): Option[String] =
          st.columns.find(_.equalsIgnoreCase(s"${prefix}_${relAttr.name}"))
        if (!st.columns.contains("cnt")) return None
        val (mnC, mxC, nnC) =
          (statCol("min"), statCol("max"), statCol("nn")) match {
            case (Some(a1), Some(b), Some(c)) => (a1, b, c)
            case _ => return None
          }
        // The hybrid's candidate/full classification (see serveHybrid's
        // soundness notes) composed with winner purity.
        val (candidate, fullRange) = RangeConjuncts
          .fileClasses(st, ranges, notNull, inLists).getOrElse(return None)
        val partSel =
          PartitionConjuncts.statCols(st, partFilters).getOrElse(return None)
        val settled = table.settledWinnerEntries(spark).getOrElse(return None)
        val stRel = st.withColumn(
          "_rfile", table.relOfFileCol(spark, col("file")))
        val wcU = MorWinnerMaps.of(spark, table, settled, stRel)
          .getOrElse(return None).wcU
        val joined = PartitionConjuncts.select(stRel, partSel)
          .withColumn("wcnt", wcU(col("_rfile")))
        val allWinners = col("wcnt").isNotNull &&
          col("wcnt") === col("cnt") && col("cnt") > 0
        val singleValued = col(nnC) === col("cnt") && col(mnC) === col(mxC)
        val fold = allWinners &&
          coalesce(singleValued && fullRange, lit(false))
        val fullValues = KeyedTable.withMetaConf(spark)(
          joined.filter(fold).select(col(mnC)).distinct()
            .limit(MaxGroups + 1).collect())
        if (fullValues.isEmpty || fullValues.length > MaxGroups) return None
        val scanRel = KeyedTable.withMetaConf(spark)(
          joined.filter(col("wcnt").isNotNull && col("wcnt") > 0 &&
              coalesce(candidate, lit(false)) && !fold)
            .select(col("_rfile")).collect().map(_.getString(0)).toSeq)
        val conv =
          CatalystTypeConverters.createToCatalystConverter(relAttr.dataType)
        val uVal = AttributeReference("u", relAttr.dataType)()
        val local = LocalRelation(
          Seq(uVal),
          fullValues.toIndexedSeq.map(r =>
            InternalRow(conv(if (r.isNullAt(0)) null else r.get(0)))),
          false)
        val scanPlan: LogicalPlan =
          if (scanRel.isEmpty)
            LocalRelation(
              Seq(AttributeReference("u", relAttr.dataType)()),
              IndexedSeq.empty, false)
          else {
            // Residual: the range/IS NOT NULL/IN conjuncts re-applied on
            // the winner rows (the original child is replaced wholesale).
            val residual = RangeConjuncts.rowFilters(Nil, ranges, notNull, inLists)
            val bdf = residual
              .foldLeft(table.winnerRowsOf(spark, scanRel, settled))(
                _.filter(_))
            val bplan = bdf.select(col(relAttr.name)).queryExecution.analyzed
            Project(Seq(Alias(bplan.output.head, "u")()), bplan)
          }
        logInfo(s"stats-aggregate rewrite: ${spec.path} resolved " +
          (if (isCount) "count(distinct " else "DISTINCT ") +
          s"${relAttr.name}) served by winner-file " +
          s"classification (${fullValues.length} folded values, " +
          s"${scanRel.length} files scanned)")
        if (isCount) {
          val cd = AggregateExpression(
            Count(Seq(uVal)), Complete, isDistinct = true)
          Some(Aggregate(
            Nil,
            Seq(Alias(cd, orig.name)(exprId = orig.exprId)),
            Union(Seq(local, scanPlan))))
        } else Some(Aggregate(
          Seq(uVal),
          Seq(Alias(uVal, orig.name)(exprId = orig.exprId)),
          Union(Seq(local, scanPlan))))
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
      // the hybrid the guard is proven from the WHOLE table's
      // stats, covering whatever subset the boundary scan sums).
      // Through the hybrid union avg owns a sum + count slice per
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

  private def matchAgg(a: Aggregate): Option[AggMatch] = {
    if (a.aggregateExpressions.isEmpty) return None
    val ks = KeyedScan.of(a.child).getOrElse(return None)
    if (ks.windows.nonEmpty || ks.spec.retainHistory) return None
    val spec = ks.spec

    // Grouping: every expression must be an attribute that is either a
    // PARTITION column (whole files carry one tuple — the sidecar's
    // per-file constant groups exactly, any type) or an ordered-stats
    // DATA column (a file single-valued in it — min = max ∧ nn = cnt —
    // belongs wholly to that group; multi-valued and null-carrying
    // files scan as boundaries, which forces the hybrid serve). The
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
    // IS NOT NULL on ordered stats columns select the HYBRID serve —
    // FULLY-contained files fold from the sidecar, boundary files scan
    // with the filter residual. Any conjunct neither classifies
    // declines: a leftover predicate would falsify the full-file fold.
    // IS NULL declines too (a fold over all-null files would need the
    // complement matrix; the audit shape belongs in
    // [[RangePruneRewrite]]'s pruned scan).
    val RangeConjuncts.StatsConjuncts(partFilters, ranges, notNull, inLists) =
      RangeConjuncts.statsConjuncts(ks, ks.conjuncts.map(_._1))
        .getOrElse(return None)
    // Grouped hybrid rides the same machinery: partition groups fold by
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
    // the rule's catch exactly where the scan would throw). The hybrid
    // and MoR arms decline cast shapes (their combines rebuild the
    // plan's aggregate expressions).
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
    // Same projection guard as the MoR arm: the whole/hybrid combines
    // group by the PROJECTED GroupOf slices, so a grouping column absent
    // from the SELECT list would collapse its groups. Decline.
    val projectedGis = needs.collect { case GroupOf(_, _, gi) => gi }.toSet
    if (!groupAttrs.indices.forall(projectedGis.contains)) return None
    Some(AggMatch(
      a, ks, needs, groupAttrs, groupIsPart, partFilters, ranges,
      notNull, inLists, castAt.toMap))
  }

  private def serveAgg(m: AggMatch): Option[LogicalPlan] =
    if (m.ranges.isEmpty && m.notNull.isEmpty && m.inLists.isEmpty &&
        m.dataGroupCols.isEmpty)
      serveWhole(m)
    else if (m.casts.nonEmpty) None // cast support is the whole arm's
    else serveHybrid(m)

  /** The metadata-ONLY serve: one sidecar read + the LocalRelation fold
    * (whole table, or partition-filtered — every selected file
    * contributes all its rows).
    */
  private def serveWhole(m: AggMatch): Option[LogicalPlan] = {
    val AggMatch(a, _, needs, groupAttrs, _, partFilters, _, _, _, _) = m
    val spec = m.spec
    if (m.dataGroupCols.nonEmpty) return None // hybrid's shape (routing)
    val table = KeyedTable(spec)
    table.colStatsFrame(spark).flatMap { st =>
      // Sidecar columns are named with the column string passed to
      // recordColumnStats / the spec's partition cols; resolve
      // case-insensitively like the analyzer.
      def statCol(prefix: String, c: String): Option[String] =
        st.columns.find(_.equalsIgnoreCase(s"${prefix}_$c"))
      val groupStatCols = groupAttrs.map(at => statCol("p", at.name))
      // Partition filters select sidecar rows (whole files) exactly.
      val stSel = PartitionConjuncts.select(
        st, PartitionConjuncts.statCols(st, partFilters).getOrElse(return None))
      // Per-need fold columns; arity varies (avg folds FOUR: the exact
      // sum, the non-null count, and the min/max its integral-exactness
      // guard reads), so each need owns a SLICE of the fold row.
      val folds: Seq[Option[Seq[org.apache.spark.sql.Column]]] = needs.map {
        case _: GroupOf  => Some(Seq.empty)
        case MinOf(c, _) => statCol("min", c).map(s => Seq(min(col(s))))
        case MaxOf(c, _) => statCol("max", c).map(s => Seq(max(col(s))))
        // Decimal fold: exact for both sidecar generations (new decimal
        // partials directly; old long partials widen losslessly), and
        // never overflows where an ANSI Sum would throw — the narrowing
        // back to the aggregate's own result type declines instead
        // (sumToLong / sumToDecimal).
        case SumOf(c, t) =>
          statCol("sum", c).map(s => Seq(sum(col(s).cast(partialDecimal(t)))))
        case AvgOf(c, t) =>
          for {
            s <- statCol("sum", c); n <- statCol("nn", c)
            mn <- statCol("min", c); mx <- statCol("max", c)
          } yield Seq(sum(col(s).cast(partialDecimal(t))), sum(col(n)),
            min(col(mn)), max(col(mx)))
        case CountAll =>
          if (st.columns.contains("cnt")) Some(Seq(sum(col("cnt")))) else None
        case CountCol(c) => statCol("nn", c).map(s => Seq(sum(col(s))))
        // cnt > 0 inside the fold (not a frame filter): a zero-row
        // straggler file must not mint a partition value; nulls drop on
        // both levels (countDistinct and the row-level count(distinct)).
        case DistinctPartOf(c) =>
          if (!st.columns.contains("cnt")) None
          else statCol("p", c).map(s =>
            Seq(countDistinct(when(col("cnt") > 0, col(s)))))
      }
      // String min/max: any selected truncated file declines the whole
      // node to a scan. One guard fold per string column, appended after
      // the value folds.
      val guardCols = truncGuardCols(st, needs).getOrElse(return None)
      if (folds.exists(_.isEmpty) || groupStatCols.exists(_.isEmpty)) None
      else {
        val slices = folds.map(_.get)
        // Need i's fold slice starts at nGroups + offsets(i).
        val offsets = slices.scanLeft(0)(_ + _.length)
        val valueExprs = slices.flatten.zipWithIndex
          .map { case (c, i) => c.as(s"v$i") }
        val guardExprs = guardCols.zipWithIndex
          .map { case (g, i) => max(col(g)).as(s"g$i") }
        val exprs = valueExprs ++ guardExprs
        val folded =
          if (exprs.isEmpty) {
            // Pure DISTINCT over partition columns (no aggregate
            // functions at all): the sidecar's per-file partition
            // tuples ARE the answer — `SELECT DISTINCT day FROM t` is
            // a metadata read, the relational SHOW PARTITIONS. The
            // cnt > 0 guard keeps a zero-row straggler file from
            // minting a partition value no row carries.
            if (!st.columns.contains("cnt")) return None
            stSel.filter(col("cnt") > 0)
              .select(groupStatCols.flatten.map(col): _*).distinct()
          }
          else if (groupStatCols.isEmpty) stSel.agg(exprs.head, exprs.tail: _*)
          else {
            // Same zero-row straggler guard as the DISTINCT arms: a
            // cnt = 0 sidecar row (none is written today, but the guard
            // is the contract) must not mint a phantom group. The
            // groupless fold above stays unfiltered — an aggregate over
            // an empty selection still answers (count 0, min null).
            if (!st.columns.contains("cnt")) return None
            stSel.filter(col("cnt") > 0)
              .groupBy(groupStatCols.flatten.map(col): _*)
              .agg(exprs.head, exprs.tail: _*)
          }
        val rows = KeyedTable.withMetaConf(spark)(
          folded.limit(MaxGroups + 1).collect())
        if (rows.length > MaxGroups) return None
        val nGuards = guardExprs.length
        val truncated = rows.exists { row =>
          (0 until nGuards).exists { gi =>
            val at = row.length - nGuards + gi
            !row.isNullAt(at) && row.getBoolean(at)
          }
        }
        if (truncated) return None
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
        logInfo(s"stats-aggregate rewrite: ${spec.path} answered from the " +
          s"column-stats sidecar (${rows.length} group rows, no scan)")
        Some(LocalRelation(a.output, data, false))
      }
    }
  }

  /** The HYBRID serve: a range-filtered aggregate answered by folding
    * the FULLY-contained files from the sidecar and scanning only the
    * BOUNDARY files — on a time-clustered 100 TB table,
    * `SELECT count(*), sum(x) WHERE ts BETWEEN …` opens the two files
    * straddling the range edges instead of every file in the range. A
    * file is FULL when every row satisfies every conjunct (bounds
    * inside the range and zero nulls in every constrained column — the
    * per-file `nn`/`cnt` counts decide); truncated string bounds stay
    * sound for the classification (stored lower ≤ real min, stored
    * upper ≥ real max, so stored-in implies real-in) though min/max
    * VALUES over truncated full files still decline. The produced plan
    * is `Aggregate(combine, Union(LocalRelation(full-file fold),
    * Aggregate(original functions, Filter(original predicate,
    * boundary-file scan))))` — counts/sums re-add, min/max re-fold, and
    * the final aliases keep the original exprIds so nothing above
    * changes. min/max/count are decomposable exactly; sum folds exactly
    * because the sidecar stores exact DECIMAL(38,0) per-file partials,
    * and the fold's final value joins the boundary side's long sum via
    * the same narrow-or-decline contract as the metadata-only serve (a
    * total outside long range declines to the scan, where Spark's own
    * ANSI Sum raises).
    * Zero full files declines (that shape is [[RangePruneRewrite]]'s);
    * the boundary Aggregate over ZERO files still yields its neutral
    * single row, so an exactly-aligned range serves with no data IO
    * beyond an empty scan.
    */
  private def serveHybrid(m: AggMatch): Option[LogicalPlan] = {
    val AggMatch(a, ks, needs, groupAttrs, groupIsPart, partFilters,
      ranges, notNull, inLists, _) = m
    val spec = ks.spec
    val dataGroups = m.dataGroupCols
    // A distinct count would need VALUES as partials through the union
    // — metadata-only serve. (avg DOES ride the hybrid: it owns a
    // sum + count slice on both union sides, see below.)
    if (needs.exists(_.isInstanceOf[DistinctPartOf])) return None
    val table = KeyedTable(spec)
    table.colStatsFrame(spark).flatMap { st =>
      def statCol(prefix: String, c: String): Option[String] =
        st.columns.find(_.equalsIgnoreCase(s"${prefix}_$c"))
      if (!st.columns.contains("cnt")) return None
      // Candidate: the file can hold a satisfying row; full: every row
      // satisfies every conjunct ([[RangeConjuncts.fileClasses]], with
      // the soundness notes on truncation and IN-lists). An all-null
      // stats row nulls both predicates — filtered out on both sides,
      // rightly: no row of such a file satisfies a range conjunct. DATA
      // grouping restricts nothing on the candidate side: every file can
      // hold rows of some group, so with no other conjunct every
      // non-full file is a boundary (routing guarantees at least one
      // classifying dimension exists whenever hybrid runs).
      val (candidate, fullFilter) = RangeConjuncts
        .fileClasses(st, ranges, notNull, inLists).getOrElse(return None)
      // A file folds into a DATA group only when SINGLE-VALUED in the
      // column (min = max ∧ nn = cnt — every row carries exactly that
      // value; sound under string truncation, because stored-lower ≤
      // real-min ≤ real-max ≤ stored-upper forces the exact value
      // when the stored bounds coincide). Multi-valued files span
      // groups and null-carrying files hold rows of the NULL group —
      // both fail the conjunct (nn = cnt is false once any null
      // exists) and scan as boundaries, where the residual Aggregate
      // groups them exactly. A zero-row file nulls min = max, which
      // excludes it from BOTH sides — rightly, it holds no rows.
      val full = dataGroups.foldLeft(fullFilter) { (acc, c) =>
        (statCol("nn", c), statCol("min", c), statCol("max", c)) match {
          case (Some(nnC), Some(mnC), Some(mxC)) =>
            acc && col(nnC) === col("cnt") && col(mnC) === col(mxC)
          case _ => return None
        }
      }

      // Partition conjuncts select whole sidecar rows first, exactly as
      // the metadata-only serve does.
      val stSel = PartitionConjuncts.select(
        st, PartitionConjuncts.statCols(st, partFilters).getOrElse(return None))

      // Value folds over the FULL subset — same folds as the
      // metadata-only serve — plus the string-truncation guards and the
      // full-file count.
      val (slices, guardCols) = unionFolds(st, needs).getOrElse(return None)
      // Need i's fold slice starts at nGroups + offsets(i).
      val offsets = slices.scanLeft(0)(_ + _.length)
      if (!avgIntExact(st, needs)) return None
      // Grouped serve: partition groups fold by the sidecar's per-file
      // partition tuple (each file lives in exactly one partition dir);
      // data groups fold by the file's single value — its recorded min
      // (= max on every FULL file by the classification above).
      val groupStatCols = groupAttrs.zip(groupIsPart).map {
        case (at, true)  => statCol("p", at.name)
        case (at, false) => statCol("min", at.name)
      }
      if (groupStatCols.exists(_.isEmpty)) return None
      val valueExprs = slices.flatten.zipWithIndex
        .map { case (c, i) => c.as(s"v$i") }
      val guardExprs = guardCols.zipWithIndex
        .map { case (g, i) => max(col(g)).as(s"g$i") }
      val exprs = (valueExprs ++ guardExprs) :+ count(lit(1)).as("nfull")
      // cnt > 0 beside the classification: a zero-row sidecar row passes
      // the notNull-only `full` conjunct (0 = 0) and would mint a
      // phantom group in the grouped fold — same straggler guard as the
      // DISTINCT arms.
      val fullSel = stSel.filter(full && col("cnt") > 0)
      val folded =
        if (groupStatCols.isEmpty) fullSel.agg(exprs.head, exprs.tail: _*)
        else fullSel.groupBy(groupStatCols.flatten.map(col): _*)
          .agg(exprs.head, exprs.tail: _*)
      val rows = KeyedTable.withMetaConf(spark)(
        folded.limit(MaxGroups + 1).collect())
      if (rows.length > MaxGroups) return None
      val nGroups = groupStatCols.length
      // Zero full files anywhere: nothing folds — RangePrune's shape.
      // (A groupless fold always yields one row; its nfull decides.)
      if (rows.map(r => r.getLong(r.length - 1)).sum == 0L) return None
      val nGuards = guardExprs.length
      val truncated = rows.exists { row =>
        (0 until nGuards).exists { gi =>
          val at = row.length - 1 - nGuards + gi
          !row.isNullAt(at) && row.getBoolean(at)
        }
      }
      if (truncated) return None

      val partialFiles = KeyedTable.withMetaConf(spark)(
        stSel.filter(candidate && !full)
          .select("file").collect().map(_.getString(0)).toSeq)

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
              // sum over no full rows is null, like Spark; a total
              // outside the result type declines (overflow belongs to
              // the real scan)
              case SumOf(_, dt: DecimalType) =>
                Seq(sumToDecimal(v(0), dt).getOrElse(return None))
              case SumOf(_, _) => Seq(sumToLong(v(0)).getOrElse(return None))
              // avg partials: the exact decimal sum (null when every
              // full file is all-null) and the non-null count
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

      // Boundary side: the original child subtree (filters, projects,
      // renames intact) with the scan swapped onto the partial files,
      // aggregated with the ORIGINAL functions.
      val newChild = ks.swap(spark, a.child, partialFiles.map(abs =>
        new org.apache.hadoop.fs.Path(new java.net.URI(abs))))
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
            // avg's boundary partials: the exact widened-decimal sum
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
      val partial = Aggregate(a.groupingExpressions, partialAliases, newChild)

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
      logInfo(s"stats-aggregate hybrid: ${spec.path} folded " +
        s"${rows.map(r => r.getLong(r.length - 1)).sum} full files from " +
        s"the sidecar (${rows.length} group rows), scanning " +
        s"${partialFiles.length} boundary files")
      Some(Aggregate(finalGroups, finalExprs, Union(Seq(local, partial))))
    }
  }

  /** The string-truncation guard columns of `needs`: string min/max
    * serve only from EXACT stored bounds — a file whose bounds were
    * truncated (`trunc_<col>`, the Iceberg prefix convention) holds a
    * bound, not the answer. None when a flag column is missing (the
    * sidecar predates the convention).
    */
  private def truncGuardCols(
      st: org.apache.spark.sql.DataFrame, needs: Seq[Need]): Option[Seq[String]] = {
    val cols = needs.collect {
      case MinOf(c, StringType) => c
      case MaxOf(c, StringType) => c
    }.distinct.map(c => st.columns.find(_.equalsIgnoreCase(s"trunc_$c")))
    if (cols.exists(_.isEmpty)) None else Some(cols.map(_.get))
  }

  /** The per-need partial folds of the UNION serves (hybrid and
    * winner-file) plus their truncation guard columns. Arity varies per
    * need: avg rides the union as SUM + COUNT partials (a final value
    * cannot combine), so it owns a two-column slice on the fold, the
    * union row and the partial. None when a stats column is missing.
    */
  private def unionFolds(st: org.apache.spark.sql.DataFrame, needs: Seq[Need])
      : Option[(Seq[Seq[org.apache.spark.sql.Column]], Seq[String])] = {
    def statCol(prefix: String, c: String): Option[String] =
      st.columns.find(_.equalsIgnoreCase(s"${prefix}_$c"))
    val folds: Seq[Option[Seq[org.apache.spark.sql.Column]]] = needs.map {
      case _: GroupOf  => Some(Seq.empty)
      case MinOf(c, _) => statCol("min", c).map(s => Seq(min(col(s))))
      case MaxOf(c, _) => statCol("max", c).map(s => Seq(max(col(s))))
      case SumOf(c, t) =>
        statCol("sum", c).map(s => Seq(sum(col(s).cast(partialDecimal(t)))))
      case AvgOf(c, t) =>
        for { s <- statCol("sum", c); n <- statCol("nn", c) }
          yield Seq(sum(col(s).cast(partialDecimal(t))), sum(col(n)))
      case CountAll    => Some(Seq(sum(col("cnt"))))
      case CountCol(c) => statCol("nn", c).map(s => Seq(sum(col(s))))
      case _: DistinctPartOf => None // the metadata-only serve's need
    }
    if (folds.exists(_.isEmpty)) None
    else truncGuardCols(st, needs).map(g => (folds.map(_.get), g))
  }

  /** INTEGRAL avg exactness for whatever subset a union serve sums in
    * DOUBLE — provable only from the WHOLE stats frame `st`: all values
    * same sign and the all-rows exact total < 2^53 bound every subset's
    * partial sums (each is a subset sum ≤ the total, exactly
    * representable). On a history table the whole-VERSION stats bound
    * every winner subset the same way. An all-null column is trivially
    * exact. Decimal avg needs no guard — partials are exact and the
    * combine narrows through Average's own sum-buffer type. False
    * declines to the plain scan.
    */
  private def avgIntExact(
      st: org.apache.spark.sql.DataFrame, needs: Seq[Need]): Boolean = {
    def statCol(prefix: String, c: String): Option[String] =
      st.columns.find(_.equalsIgnoreCase(s"${prefix}_$c"))
    val avgIntCols = needs.collect {
      case AvgOf(c, t) if !t.isInstanceOf[DecimalType] => c
    }.distinct
    if (avgIntCols.isEmpty) return true
    if (avgIntCols.exists(c => statCol("min", c).isEmpty ||
        statCol("max", c).isEmpty || statCol("sum", c).isEmpty))
      return false
    val gAggs = avgIntCols.flatMap(c => Seq(
      min(col(statCol("min", c).get)),
      max(col(statCol("max", c).get)),
      sum(col(statCol("sum", c).get).cast(DecimalType(38, 0)))))
    val g = KeyedTable.withMetaConf(spark)(
      st.agg(gAggs.head, gAggs.tail: _*).collect())(0)
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
    * expressions over the union columns for the hybrid combine.
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

/** Per-file winner/stored-count maps for a history table's resolved
  * serves — shared by every rule composing the winner-file
  * classification ([[StatsAggregateRewrite]]'s value/distinct arms,
  * [[TopKPruneRewrite]]'s resolved walk): winner count per
  * table-relative file, stored row count per table-relative file. Both
  * maps are file-count-sized — the same class as a Hudi timeline.
  * Cached per table version ([[TableMetaCache]]), which keeps the
  * per-invocation serve to ONE index-sized fold job instead of
  * re-aggregating the index per query.
  */
private[plans] object MorWinnerMaps {

  /** `winners` re-aliased to `output`'s names and exprIds, so it can
    * replace the subtree that produced `output` with everything above
    * untouched; None when a column is missing or its type differs.
    */
  def asOutput(
      winners: org.apache.spark.sql.DataFrame,
      output: Seq[Attribute]): Option[LogicalPlan] = {
    val bplan = winners.queryExecution.analyzed
    val byName = bplan.output.map(at => KeyedScan.lower(at.name) -> at).toMap
    val aliases = output.map { at =>
      byName.get(KeyedScan.lower(at.name)).filter(_.dataType == at.dataType)
        .map(src => Alias(src, at.name)(exprId = at.exprId))
        .getOrElse(return None)
    }
    Some(Project(aliases, bplan))
  }

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
      settled: org.apache.spark.sql.DataFrame,
      stRel: org.apache.spark.sql.DataFrame): Option[WinnerMaps] = {
    import org.apache.spark.sql.functions.{col, count, lit, udf}
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
