package graft.plans

import java.util.Locale

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Expand, Filter, Join, LogicalPlan, Project, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{DataType, DecimalType, LongType, NumericType}

import graft.table.{KeyedTable, KeyedTableSpec, MaterializedView}
import graft.table.MaterializedView.MvDef

/** Rewrites aggregates over a base table onto a registered materialized
  * rollup ([[MaterializedView]]) when every piece is derivable — the
  * query-rewrite half of MV support, as a logical optimizer rule.
  *
  * Matches `Aggregate` whose child is Project/Filter links over a single
  * parquet `LogicalRelation` of a registered base path — or over the
  * registered star join (inner equi-joins of a fact with dimension
  * relations, either equality order) — with every grouping and filter
  * expression COMPUTABLE from the MV's stored dimensions (bare dim
  * attributes; whole subtrees matching a registered derived dim like
  * `month(o_orderdate)` by normalized SQL; any deterministic expression
  * over those) and every aggregate call derivable from stored measures
  * (see [[MaterializedView]]'s safety model: exact-expression matching,
  * re-sum/re-min/re-max/count-as-sum, sum÷count for avg, staleness
  * guard). The rewritten plan keeps the ORIGINAL output attribute ids
  * (grouping outputs and aliases are re-issued under their old exprIds),
  * so parent operators resolve untouched.
  *
  * Keyed bases: a history (merge-on-read) table's resolved read carries a
  * latest-per-key `row_number` window; the rule admits EXACTLY that shape
  * — one window whose partition spec equals the table's merge-key scope
  * and whose order equals (precombine, tiebreaks, commit time) descending
  * nulls-last, filtered to rank 1 — because the rollup stores aggregates
  * of the RESOLVED state. An aggregate over the raw file scan (superseded
  * versions visible) has no such window and declines. Staleness for keyed
  * bases compares the commit-timeline marker (one listStatus of the
  * sibling timeline dir), not directory mtime, which cannot see inside
  * hive partitions.
  *
  * Runs inside the operator-optimization fixed point: after one rewrite
  * the aggregate reads the MV path, which is not a registered base, so
  * the rule no-ops on re-entry. Declines are always safe — the query
  * just runs against the base table.
  */
class MvAggregateRewrite(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (MaterializedView.isEmpty) plan
    else plan.transformUp {
      case agg: Aggregate => tryRewrite(agg).getOrElse(agg)
    }

  private def lower(s: String): String = s.toLowerCase(Locale.ROOT)

  /** Plan-shape stripping delegated to [[MvPlanShape]] (shared with
    * the advisor so analysis and serving match identically).
    */
  private def stripSources(
      p: LogicalPlan,
      conds: mutable.Buffer[(Expression, Int)],
      windows: mutable.Buffer[Window],
      renames: mutable.Map[ExprId, Expression],
      rels: mutable.Buffer[LogicalRelation],
      pairs: mutable.Buffer[(Attribute, Attribute)]): Boolean =
    MvPlanShape.strip(p, conds, windows, renames, rels, pairs)

  /** All MVs registered over this base, in ascending serving cost
    * (rollup data bytes, recorded at build/refresh; unknown sorts last,
    * ties break on dimension count) — the first candidate that derives
    * every piece of the aggregate wins. Classic cost-ordered MV
    * selection, on a statistic one registration-time listStatus paid
    * for. String compare against the path qualified ONCE at
    * registration — no Hadoop conf/FileSystem work per Aggregate node.
    */
  private def findMvs(root: Path): Seq[MvDef] = {
    val r = root.toString
    MaterializedView.all.filter(_.qualifiedBase == r).toSeq
      .sortBy(d =>
        (if (d.rollupBytes >= 0) d.rollupBytes else Long.MaxValue,
          d.dimCols.length))
  }

  // Resolve-window recognition lives in MvPlanShape (shared with the
  // point-lookup rewrite).
  private def resolveRnOf(w: Window, spec: KeyedTableSpec): Option[Attribute] =
    MvPlanShape.resolveRnOf(w, spec)

  private def isRnEqOne(cond: Expression, rn: Attribute): Boolean =
    MvPlanShape.isRnEqOne(cond, rn)

  /** Checks the stripped plan shape is admissible for this MV's base kind
    * and returns the USER filter conditions (the resolve's `rn = 1`
    * removed for a history base). None declines.
    *
    *   - flat or copy-on-write keyed base: no window — the file scan IS
    *     the logical state;
    *   - history (MoR) keyed base: exactly the resolve window + its rank
    *     filter — anything else (raw scan with versions visible, a
    *     different window) is not the resolved state the rollup stores.
    */
  private def admissibleConds(
      mv: MvDef,
      windows: Seq[Window],
      conds: Seq[(Expression, Int)]): Option[Seq[Expression]] = {
    // A filter BELOW the resolve window changes which row is latest per
    // key — only above-window filters (depth 0) are the user predicates
    // the rollup's resolved state can answer. (Flat/star paths require
    // no windows at all, where every filter is depth 0 by construction.)
    if (conds.exists(_._2 != 0)) return None
    val exprs = conds.map(_._1)
    mv.keyedSpec match {
      case None =>
        if (windows.isEmpty) Some(exprs) else None
      case Some(spec) if !spec.retainHistory =>
        if (windows.isEmpty) Some(exprs) else None
      case Some(spec) =>
        windows match {
          case Seq(w) =>
            resolveRnOf(w, spec).flatMap { rn =>
              val (rnConds, rest) = exprs.partition(isRnEqOne(_, rn))
              if (rnConds.length == 1) Some(rest) else None
            }
          case _ => None
        }
    }
  }

  /** The hybrid serve's delta: the base files holding the appended rows,
    * plus — for a keyed base — the commit ids of the new insert-class
    * commits, so the delta read can row-filter out older rows a drift
    * rewrite folded into the same files.
    */
  private case class DeltaServe(files: Seq[String], insertIds: Seq[String])

  /** Serving state under staleness — `None` declines; `Some(None)` means
    * the rollup is current; `Some(Some(delta))` is the HYBRID serve:
    * the base has only APPENDED rows since the rollup was built,
    * so the query is served from `rollup ∪ partial-rollup(appended
    * rows)` — sound because every derivation the rule emits re-
    * aggregates PARTIALS (re-sum/re-min/re-max/count-as-sum), and a
    * union of stored partials with freshly-computed delta partials is
    * just more partials. This is the lambda-architecture move with the
    * merge at plan time: correct answers between refreshes at
    * O(rollup + delta) cost instead of declining to an O(base) scan.
    *
    * Cost discipline: the fresh path stays ONE status call per source;
    * the file LISTING only happens after an mtime mismatch. A
    * non-append change (rewrite/delete, caught by the per-file
    * length+mtime signatures), any dim change on a star MV, and keyed
    * commits that are not insert-class all decline — those deltas are
    * not append-shaped.
    *
    * Keyed bases serve from the COMMIT→FILES INDEX, no listing at all:
    * when every commit since the MV's marker is insert-class on a
    * copy-on-write base (pure row appends — rows keep their commit
    * times, nothing is superseded), the delta is the files those
    * commits recorded, row-filtered to their commit ids. A history
    * (MoR) base declines — an appended version can supersede a row the
    * rollup already counted, which is a retraction, not an append.
    */
  private def servableDelta(mv: MvDef): Option[Option[DeltaServe]] =
    try {
      mv.keyedSpec match {
        case Some(ks) =>
          val markers = KeyedTable.timelineMarkers(spark, mv.basePath)
          if (markers.lastOption.getOrElse("") == mv.baseCommit) Some(None)
          else if (ks.retainHistory) None
          else {
            val i = markers.lastIndexWhere(_ == mv.baseCommit)
            val since = markers.drop(i + 1)
            val insertClass = i >= 0 && since.forall(m =>
              KeyedTable.InsertActions.contains(KeyedTable.markerAction(m)))
            if (!insertClass) None
            // None from the fold: a legacy marker without a file record.
            else KeyedTable.fileDeltaAfter(spark, mv.basePath, markers,
              KeyedTable.markerCommit(mv.baseCommit)).map { case (files, _) =>
              if (files.isEmpty) None
              else Some(DeltaServe(files, since.map(KeyedTable.markerCommit)))
            }
          }
        case None =>
          // Freshness compares per-file SIGNATURES (length + mtime) on
          // EVERY source — an in-place file rewrite keeps the parent dir
          // mtime while changing every group, so a dir-mtime fast path
          // would serve stale rollup answers silently. An MV base is a
          // FLAT directory by contract, so this is one listStatus per
          // source per candidate Aggregate — the same cost class as the
          // status call it replaces (an object-store deployment would put
          // a short-TTL cache in front, not bring the blind spot back).
          val dimsFresh = mv.links.forall(l =>
            MaterializedView.listDataFiles(spark, l.dimPath) == l.dimFiles)
          if (!dimsFresh) None // a dim edit can rewrite every group
          else {
            val current = MaterializedView.listDataFiles(spark, mv.basePath)
            val appendOnly = mv.files.nonEmpty &&
              mv.files.forall { case (n, sig) => current.get(n).contains(sig) }
            if (!appendOnly) None
            else {
              val delta = (current.keySet -- mv.files.keySet).toSeq.sorted
              if (delta.isEmpty) Some(None) // unchanged (or mtime-only)
              else Some(Some(DeltaServe(delta, Nil)))
            }
          }
      }
    } catch {
      // A concurrent refresh/writer racing the listing, a permission
      // hiccup — never fail the user's query over a serving shortcut:
      // decline and let it run against the base.
      case scala.util.control.NonFatal(_) => None
    }

  private def tryRewrite(agg: Aggregate): Option[LogicalPlan] = agg.child match {
    // Single-phase grouping sets (BI-emitted `GROUP BY ROLLUP/CUBE`):
    // one Aggregate over Expand — served by swapping the Expand's child
    // (and its projections' dim slots) onto the rollup.
    case ex: Expand => tryRewriteExpand(agg, ex)
    case _ => tryRewritePlain(agg)
  }

  private def tryRewritePlain(agg: Aggregate): Option[LogicalPlan] = {
    val conds = mutable.Buffer.empty[(Expression, Int)]
    val windows = mutable.Buffer.empty[Window]
    val renames = mutable.Map.empty[ExprId, Expression]
    // Inline every recorded alias definition (chains terminate — a
    // definition can only reference attributes from BELOW its project),
    // so downstream matching sees base-side expressions.
    def subst(e: Expression): Expression = e.transformUp {
      case a: Attribute if renames.contains(a.exprId) => subst(renames(a.exprId))
    }
    def substAttr(a: Attribute): Option[Attribute] = subst(a) match {
      case ar: Attribute => Some(ar)
      case _ => None
    }
    val rels = mutable.Buffer.empty[LogicalRelation]
    val pairs = mutable.Buffer.empty[(Attribute, Attribute)]
    if (!stripSources(agg.child, conds, windows, renames, rels, pairs))
      return None
    // Root path of each stripped relation (all must be single-root
    // parquet scans).
    val rootsOpt: Option[Seq[String]] = {
      val each = rels.toSeq.map { lr =>
        lr.relation match {
          case f: HadoopFsRelation => f.location.rootPaths match {
            case Seq(one) => Some(one.toString)
            case _ => None
          }
          case _ => None
        }
      }
      if (each.forall(_.isDefined)) Some(each.map(_.get)) else None
    }

    def derivesAgg(mv: MvDef, userConds: Seq[Expression]): Option[LogicalPlan] = {
      // Shape admissibility (which groupings/filters are computable from
      // the rollup's stored dims) is decided structurally inside
      // rewriteOnto's expression rewrite; here only the global guards.
      val ok =
        agg.groupingExpressions.forall(_.deterministic) &&
        userConds.forall(_.deterministic) &&
        agg.aggregateExpressions.forall(_.deterministic)
      if (!ok) None
      else servableDelta(mv).flatMap { delta =>
        // Never fail the query over a serving shortcut: a delta file
        // vanishing under a concurrent refresh or an appended file with
        // a drifted schema declines to the base scan.
        try rewriteOnto(agg, userConds, mv, subst, delta)
        catch { case scala.util.control.NonFatal(_) => None }
      }
    }

    rootsOpt.flatMap {
      case Seq(root) if pairs.isEmpty =>
        // Single-relation shape: flat or keyed candidates.
        findMvs(new Path(root)).iterator
          .filter(_.links.isEmpty)
          .map { mv =>
            admissibleConds(mv, windows.toSeq, conds.toSeq)
              .flatMap(derivesAgg(mv, _))
          }.collectFirst { case Some(p) => p }
      case roots if roots.length >= 2 && pairs.nonEmpty && windows.isEmpty =>
        starCandidatesFor(rels.toSeq, roots, pairs.toSeq, substAttr).iterator
          .map(mv => derivesAgg(mv, conds.toSeq.map(_._1)))
          .collectFirst { case Some(p) => p }
      case _ => None
    }
  }

  /** Star-shape candidate discovery, shared by the plain and Expand
    * arms: registered joined MVs whose source multiset {fact} ∪ {dims}
    * and join-pair multiset equal the query's — with each pair side
    * BOUND to the path of the relation that owns the attribute (names
    * alone would let `fact.cust_id = products.id AND fact.prod_id =
    * customers.id` match the MV of the opposite wiring when every dim
    * keys its id column the same way). Sides stay unordered within a
    * pair.
    */
  private def starCandidatesFor(
      rels: Seq[LogicalRelation],
      roots: Seq[String],
      pairs: Seq[(Attribute, Attribute)],
      substAttr: Attribute => Option[Attribute]): Seq[MvDef] = {
    val rootSet = roots.groupBy(identity).view.mapValues(_.length).toMap
    val ownerRoot: Map[ExprId, String] =
      rels.zip(roots).flatMap { case (lr, r) =>
        lr.output.map(_.exprId -> r)
      }.toMap
    val pairKeys = pairs.map { case (a, b) =>
      for {
        x <- substAttr(a); y <- substAttr(b)
        rx <- ownerRoot.get(x.exprId); ry <- ownerRoot.get(y.exprId)
      } yield {
        val sx = (rx, lower(x.name)); val sy = (ry, lower(y.name))
        if (sx.toString <= sy.toString) (sx, sy) else (sy, sx)
      }
    }
    if (pairKeys.exists(_.isEmpty)) Nil
    else candidateJoined(rootSet,
      pairKeys.flatten.groupBy(identity).view.mapValues(_.length).toMap)
  }

  /** Joined MVs whose {fact, dims} source multiset and (path, column)
    * join-pair multiset equal the query's, in ascending serving cost.
    */
  private def candidateJoined(
      rootSet: Map[String, Int],
      pairSet: Map[((String, String), (String, String)), Int]): Seq[MvDef] =
    MaterializedView.all.toSeq
      .filter { mv =>
        mv.links.nonEmpty && {
          val mvRoots = (mv.qualifiedBase +: mv.links.map(_.qualifiedDim))
            .groupBy(identity).view.mapValues(_.length).toMap
          val mvPairs = mv.links
            .map { l =>
              val sx = (mv.qualifiedBase, lower(l.factCol))
              val sy = (l.qualifiedDim, lower(l.dimCol))
              if (sx.toString <= sy.toString) (sx, sy) else (sy, sx)
            }
            .groupBy(identity).view.mapValues(_.length).toMap
          mvRoots == rootSet && mvPairs == pairSet
        }
      }
      .sortBy(d =>
        (if (d.rollupBytes >= 0) d.rollupBytes else Long.MaxValue,
          d.dimCols.length))

  /** Measure/dimension derivation layer over one MV candidate — shared
    * by the plain-aggregate rewrite and the grouping-sets (Expand)
    * rewrite so the two serving shapes can never diverge on what
    * derives. Everything is LAZY: a decline on the measure lookups (the
    * common near-miss) pays no rollup analysis and no delta parquet
    * footer reads.
    */
  private final class Deriver(
      mv: MvDef,
      subst: Expression => Expression,
      delta: Option[DeltaServe]) {
    // Fresh analyzed scan of the rollup — unioned with the delta files'
    // partial rollup under the hybrid serve (columns aligned by name,
    // delta measures cast to the stored types so the union resolves).
    // Column pruning still runs (we are inside the operator-
    // optimization fixed point).
    lazy val mvPlan = {
      import org.apache.spark.sql.functions.col
      val mvDf = spark.read.parquet(mv.mvPath)
      val served = delta match {
        case None => mvDf
        case Some(ds) =>
          val deltaDf = mv.keyedSpec match {
            case Some(ks) =>
              // Keyed delta: the index's files read table-style (sidecar
              // schema, hive partition recovery), row-filtered to the new
              // commits' ids — a drift-rewrite insert folds OLD rows into
              // its files, and those are already in the rollup.
              graft.schema.SchemaEvolution.dropSystemColumns(
                KeyedTable(ks).readFilesRaw(spark, ds.files)
                  .filter(col(KeyedTable.CommitTimeCol)
                    .isin(ds.insertIds: _*)))
            case None =>
              spark.read.parquet(ds.files.map(n => s"${mv.basePath}/$n"): _*)
          }
          val joined = mv.links.foldLeft(deltaDf) { (acc, l) =>
            acc.join(spark.read.parquet(l.dimPath),
              col(l.factCol) === col(l.dimCol), "inner")
          }
          val dr = MaterializedView.buildRollup(joined, mv)
          val types = mvDf.schema.fields.map(f => f.name -> f.dataType).toMap
          mvDf.unionByName(dr.select(
            mvDf.columns.toSeq.map(c => col(c).cast(types(c)).as(c)): _*))
      }
      served.queryExecution.analyzed
    }
    lazy val mvAttr: Map[String, Attribute] =
      mvPlan.output.map(a => lower(a.name) -> a).toMap

    private def norm(e: Expression): String =
      MaterializedView.normalize(subst(e))

    // Plain dims: base attribute name → rollup attribute. Derived dims:
    // normalized base-side SQL → rollup attribute (whole-subtree match,
    // the same discipline as measures).
    lazy val dimAttr: Map[String, Attribute] =
      mv.groupCols.map(lower).flatMap(c => mvAttr.get(c).map(c -> _)).toMap
    lazy val exprDimAttr: Map[String, Attribute] =
      mv.exprDims.flatMap { case (sql, c) => mvAttr.get(lower(c)).map(sql -> _) }

    // base attribute name → a rollup derived-dim column that is NULL iff
    // the base attribute is. Eligibility was decided at CREATE time from
    // the RESOLVED tree (typed datetime casts + the extract family —
    // string→date casts excluded, they NULL unparseable non-null input)
    // and travels in the definition. Serves the `IsNotNull(col)`
    // conjuncts the optimizer infers from derived-dim filters.
    lazy val nullMirror: Map[String, Attribute] =
      mv.nullMirrors.flatMap { case (an, c) =>
        mvAttr.get(lower(c)).map(an -> _)
      }

    // avg(e) = re-sum(sum_e) / re-sum(cnt_e), replicating Average's own
    // evaluate shape per input type so the derived value is bit-identical
    // to the direct aggregate: decimal divides through the same
    // (p+10, s) sum and decimal(20,0) count Average uses internally
    // before casting to its (p+4, s+4) result; everything else divides
    // the exact re-sums as the double result type.
    def deriveAvg(
        inner: Expression, ae: AggregateExpression,
        sumA: Attribute, cntA: Attribute): Expression = {
      val reSum = Sum(sumA).toAggregateExpression()
      val reCnt = Cast(Sum(cntA).toAggregateExpression(), LongType)
      inner.dataType match {
        case dt: DecimalType =>
          // Average's internal sum type: precision + 10, bounded at 38
          // (DecimalType.bounded is private[sql]; the cap is the rule).
          val sumType = DecimalType(
            math.min(dt.precision + 10, DecimalType.MAX_PRECISION), dt.scale)
          Cast(
            Divide(Cast(reSum, sumType), Cast(reCnt, DecimalType(20, 0))),
            ae.dataType)
        case _ =>
          Divide(Cast(reSum, ae.dataType), Cast(reCnt, ae.dataType))
      }
    }

    // The rollup-side rendering of a DIM input expression, when the
    // input is computable from stored dims: a bare dim attribute, a
    // registered derived-dim subtree, or an expression over those. The
    // set of DISTINCT VALUES of such an expression over the rollup rows
    // equals its distinct set over the base (each base dim combination
    // appears exactly once), so distinct-insensitive aggregates over it
    // — min, max, count(distinct) — derive with NO stored measure.
    def dimExpr(inner: Expression): Option[Expression] = {
      def over(e: Expression): Option[Expression] = e match {
        case a: Attribute =>
          subst(a) match {
            case ar: Attribute => dimAttr.get(lower(ar.name))
            case defn => over(defn)
          }
        case leaf if leaf.children.isEmpty => Some(leaf)
        case other =>
          exprDimAttr.get(norm(other)).orElse {
            val kids = other.children.map(over)
            if (kids.forall(_.isDefined))
              Some(other.withNewChildren(kids.map(_.get)))
            else None
          }
      }
      over(inner)
    }

    def deriveAgg(ae: AggregateExpression): Option[Expression] = {
      if (ae.filter.isDefined) return None
      if (ae.isDistinct) {
        // DISTINCT aggregates over DIM expressions see the same distinct
        // set on the rollup as on the base; anything else declines.
        return ae.aggregateFunction match {
          case Count(Seq(inner)) if !inner.foldable =>
            dimExpr(inner).map(e =>
              AggregateExpression(Count(Seq(e)), ae.mode, isDistinct = true))
          case Sum(inner, mode) =>
            dimExpr(inner).map { e =>
              val re = AggregateExpression(
                Sum(e, mode), ae.mode, isDistinct = true)
              if (re.dataType == ae.dataType) re else Cast(re, ae.dataType)
            }
          case _ => None
        }
      }
      def resum(measureCol: Option[String], mk: Attribute => AggregateFunction) =
        measureCol.flatMap(mvAttr.get).map { a =>
          val re = mk(a).toAggregateExpression()
          if (re.dataType == ae.dataType) re else Cast(re, ae.dataType)
        }
      // count(...) over stored partial counts: re-SUM, zero-coalesced to
      // keep count's non-null contract on empty input.
      def recount(measureCol: Option[String]) =
        measureCol.flatMap(mvAttr.get).map { a =>
          Coalesce(Seq(
            Cast(Sum(a).toAggregateExpression(), LongType), Literal(0L)))
        }
      ae.aggregateFunction match {
        case Sum(inner, _) =>
          resum(mv.sums.get(norm(inner)), Sum(_))
        case Min(inner) =>
          // Stored measure, or — min is distinct-insensitive — any dim
          // expression directly over the rollup rows.
          resum(mv.mins.get(norm(inner)), Min(_)).orElse(
            dimExpr(inner).map(e => Min(e).toAggregateExpression()))
        case Max(inner) =>
          resum(mv.maxs.get(norm(inner)), Max(_)).orElse(
            dimExpr(inner).map(e => Max(e).toAggregateExpression()))
        case c: Count if c.children.forall(e => e.foldable && e.eval() != null) =>
          // count(*) / count(1): the per-group row count is the SUM of the
          // stored partial counts. The non-null fold guard matters:
          // COUNT(NULL) is 0 by definition, not the row count.
          recount(mv.countCol)
        case Count(Seq(inner)) if !inner.foldable =>
          // count(e): non-null count — served by a stored count(e).
          recount(mv.counts.get(norm(inner)))
        case Average(inner, _) if inner.dataType.isInstanceOf[NumericType] =>
          val key = norm(inner)
          for {
            sc <- mv.sums.get(key); cc <- mv.counts.get(key)
            sa <- mvAttr.get(sc); ca <- mvAttr.get(cc)
          } yield deriveAvg(inner, ae, sa, ca)
        case _ => None
      }
    }

    def rewriteExpr(e: Expression): Option[Expression] = e match {
      case ae: AggregateExpression => deriveAgg(ae)
      case a: AttributeReference =>
        subst(a) match {
          case ar: Attribute => dimAttr.get(lower(ar.name))
          case defn => rewriteExpr(defn) // pulled-out grouping expression
        }
      case leaf if leaf.children.isEmpty => Some(leaf)
      case IsNotNull(a: Attribute) =>
        // Dim attributes rewrite directly; a non-dim column can still be
        // null-tested through the null mirror (a derived dim that is
        // NULL iff the column is).
        (subst(a) match {
          case ar: Attribute =>
            dimAttr.get(lower(ar.name)).orElse(nullMirror.get(lower(ar.name)))
              .map(x => x: Expression)
          case defn => rewriteExpr(defn)
        }).map(IsNotNull(_))
      case other =>
        // Whole-subtree derived-dim match first (`month(o_orderdate)` →
        // the stored column), then structural recursion.
        exprDimAttr.get(norm(other)).orElse {
          val kids = other.children.map(rewriteExpr)
          if (kids.forall(_.isDefined))
            Some(other.withNewChildren(kids.map(_.get)))
          else None
        }
    }

  }

  private def rewriteOnto(
      agg: Aggregate,
      conds: Seq[Expression],
      mv: MvDef,
      subst: Expression => Expression,
      delta: Option[DeltaServe]): Option[LogicalPlan] = {
    val dv = new Deriver(mv, subst, delta)
    // Keep original output attribute ids: grouping outputs and aliases are
    // re-issued under their existing exprIds over the MV-side expressions.
    val newAeOpt = agg.aggregateExpressions.map {
      case a: AttributeReference =>
        dv.rewriteExpr(a).map(m => Alias(m, a.name)(exprId = a.exprId))
      case al: Alias =>
        dv.rewriteExpr(al.child).map(c =>
          Alias(c, al.name)(
            exprId = al.exprId, qualifier = al.qualifier,
            explicitMetadata = al.explicitMetadata))
      case _ => None
    }
    if (newAeOpt.exists(_.isEmpty)) return None

    val newGeOpt = agg.groupingExpressions.map(dv.rewriteExpr)
    if (newGeOpt.exists(_.isEmpty)) return None
    val newCondsOpt = conds.map(dv.rewriteExpr)
    if (newCondsOpt.exists(_.isEmpty)) return None

    val newChild = newCondsOpt.map(_.get)
      .reduceOption(And)
      .map(Filter(_, dv.mvPlan)).getOrElse(dv.mvPlan)
    logInfo(s"MV rewrite: aggregate over ${mv.basePath} served from " +
      s"rollup '${mv.name}' (${mv.mvPath})")
    Some(Aggregate(newGeOpt.map(_.get), newAeOpt.map(_.get), newChild))
  }

  /** Single-phase grouping sets: `Aggregate` over `Expand` — the shape
    * the analyzer emits for `GROUP BY ROLLUP/CUBE/GROUPING SETS` — over
    * a registered base. Served by swapping the Expand's CHILD onto the
    * rollup and its projections' dim slots onto the rollup's dimension
    * attributes, keeping every Expand-output exprId, so the top
    * Aggregate (grouping attrs, `grouping_id()` arithmetic over the gid
    * slot) resolves untouched and only its aggregate CALLS are re-
    * derived (re-sum of partials, exactly like the plain rewrite). Each
    * expanded group then aggregates the matching rollup rows instead of
    * the matching base rows — partials of partials, the identity the
    * whole MV design rests on. At 100 TB a BI tool's one-shot ROLLUP
    * stops scanning the fact table.
    */
  private def tryRewriteExpand(
      agg: Aggregate, ex: Expand): Option[LogicalPlan] = {
    val conds = mutable.Buffer.empty[(Expression, Int)]
    val windows = mutable.Buffer.empty[Window]
    val renames = mutable.Map.empty[ExprId, Expression]
    def subst(e: Expression): Expression = e.transformUp {
      case a: Attribute if renames.contains(a.exprId) => subst(renames(a.exprId))
    }
    val rels = mutable.Buffer.empty[LogicalRelation]
    val pairs = mutable.Buffer.empty[(Attribute, Attribute)]
    if (!stripSources(ex.child, conds, windows, renames, rels, pairs))
      return None
    val detOk =
      agg.groupingExpressions.forall(_.deterministic) &&
      agg.aggregateExpressions.forall(_.deterministic)
    if (!detOk) return None
    def serveOn(mv: MvDef, userConds: Seq[Expression]): Option[LogicalPlan] =
      if (!userConds.forall(_.deterministic)) None
      else servableDelta(mv).flatMap { delta =>
        try rewriteExpandOnto(agg, ex, userConds, mv, subst, delta)
        catch { case scala.util.control.NonFatal(_) => None }
      }
    val rootsOpt: Option[Seq[String]] = {
      val each = rels.toSeq.map { lr =>
        lr.relation match {
          case f: HadoopFsRelation => f.location.rootPaths match {
            case Seq(one) => Some(one.toString)
            case _ => None
          }
          case _ => None
        }
      }
      if (each.forall(_.isDefined)) Some(each.map(_.get)) else None
    }
    rootsOpt.flatMap {
      case Seq(root) if pairs.isEmpty =>
        // Single-relation shape: flat or keyed candidates.
        findMvs(new Path(root)).iterator
          .filter(_.links.isEmpty)
          .map(mv => admissibleConds(mv, windows.toSeq, conds.toSeq)
            .flatMap(serveOn(mv, _)))
          .collectFirst { case Some(p) => p }
      case roots if roots.length >= 2 && pairs.nonEmpty && windows.isEmpty =>
        // Star shape: the BI tool's one-shot ROLLUP/CUBE over the whole
        // star collapses to grouping sets over the joined rollup — the
        // same candidate matching as the plain star arm, the same
        // Expand-swap as the flat arm.
        def substAttr(a: Attribute): Option[Attribute] = subst(a) match {
          case ar: Attribute => Some(ar)
          case _ => None
        }
        starCandidatesFor(rels.toSeq, roots, pairs.toSeq, substAttr).iterator
          .map(mv => serveOn(mv, conds.toSeq.map(_._1)))
          .collectFirst { case Some(p) => p }
      case _ => None
    }
  }

  private def rewriteExpandOnto(
      agg: Aggregate,
      ex: Expand,
      conds: Seq[Expression],
      mv: MvDef,
      subst: Expression => Expression,
      delta: Option[DeltaServe]): Option[LogicalPlan] = {
    val dv = new Deriver(mv, subst, delta)
    val nProj = ex.projections.length
    if (nProj == 0) return None

    // Classify each Expand output slot by its per-projection values:
    //   - PASSTHROUGH: the same attribute in every projection (a measure
    //     input flowing through) — dropped from the new Expand; the
    //     aggregate calls re-derive against the rollup's measure attrs,
    //     which flow through instead.
    //   - LITERAL: a literal in every projection (the grouping-id slot) —
    //     kept verbatim under the same output attribute.
    //   - DIM: one base-side expression, nulled out in the subtotal
    //     projections — remapped to the rollup's dimension attribute
    //     (typed null where the original was null), same output attr.
    sealed trait Slot
    case object Passthrough extends Slot
    final case class Keep(entries: Seq[Expression]) extends Slot
    val slots: Seq[(Attribute, Slot)] =
      ex.output.zipWithIndex.map { case (out, i) =>
        val vals = ex.projections.map(_(i))
        val slot: Slot =
          // Literal slot (the grouping-id; also an always-null dim):
          // kept verbatim — the values were valid here in the original.
          if (vals.forall(_.isInstanceOf[Literal])) Keep(vals)
          else vals.head match {
            case h: Attribute if vals.forall {
              case a: Attribute => a.exprId == h.exprId
              case _ => false
            } => Passthrough
            case _ =>
              // Dim slot: every entry is either a null literal or the
              // SAME expression, and that expression must compute from
              // rollup dims at the SAME type (the grouping output's
              // value identity).
              val nonNull = vals.filter {
                case Literal(null, _) => false
                case _ => true
              }.distinct
              val mapped: Option[Expression] = nonNull match {
                case Seq(one) => dv.dimExpr(one).filter(_.dataType == out.dataType)
                case _ => None
              }
              mapped match {
                case Some(mvE) => Keep(vals.map {
                  case Literal(null, _) => Literal.create(null, out.dataType)
                  case _ => mvE
                })
                case None => return None
              }
          }
        out -> slot
      }

    // New Expand: every rollup attribute passes through unchanged (so
    // re-derived aggregate calls and dim-expression fallbacks resolve;
    // column pruning trims the unused ones), plus the kept dim/literal
    // slots under their ORIGINAL output attributes.
    val kept = slots.collect { case (out, Keep(entries)) => (out, entries) }
    val newOutput = dv.mvPlan.output ++ kept.map(_._1)
    val newProjections = (0 until nProj).map { j =>
      dv.mvPlan.output.map(a => a: Expression) ++ kept.map(_._2(j))
    }

    // The top aggregate: grouping/gid references resolve against the
    // kept slots; aggregate calls re-derive against the rollup measure
    // attrs now flowing through. Any reference to a dropped passthrough
    // slot outside an aggregate call declines.
    val keptIds = newOutput.map(_.exprId).toSet
    def rewriteTop(e: Expression): Option[Expression] = e match {
      case ae: AggregateExpression => dv.deriveAgg(ae)
      case a: Attribute =>
        if (keptIds.contains(a.exprId)) Some(a) else None
      case leaf if leaf.children.isEmpty => Some(leaf)
      case other =>
        val kids = other.children.map(rewriteTop)
        if (kids.forall(_.isDefined))
          Some(other.withNewChildren(kids.map(_.get)))
        else None
    }
    val newAeOpt = agg.aggregateExpressions.map {
      case a: AttributeReference =>
        rewriteTop(a).map {
          case same: Attribute if same.exprId == a.exprId => a: NamedExpression
          case m => Alias(m, a.name)(exprId = a.exprId)
        }
      case al: Alias =>
        rewriteTop(al.child).map(c =>
          Alias(c, al.name)(
            exprId = al.exprId, qualifier = al.qualifier,
            explicitMetadata = al.explicitMetadata))
      case _ => None
    }
    if (newAeOpt.exists(_.isEmpty)) return None
    val newGeOpt = agg.groupingExpressions.map(rewriteTop)
    if (newGeOpt.exists(_.isEmpty)) return None
    // Base-side filters below the Expand rewrite onto rollup dims and
    // sit below the new Expand (filtering rollup rows ≡ filtering base
    // rows before expansion).
    val newCondsOpt = conds.map(dv.rewriteExpr)
    if (newCondsOpt.exists(_.isEmpty)) return None
    val mvChild = newCondsOpt.map(_.get)
      .reduceOption(And)
      .map(Filter(_, dv.mvPlan)).getOrElse(dv.mvPlan)
    logInfo(s"MV rewrite: grouping-sets aggregate over ${mv.basePath} " +
      s"served from rollup '${mv.name}' (${mv.mvPath})")
    Some(Aggregate(
      newGeOpt.map(_.get), newAeOpt.map(_.get),
      Expand(newProjections, newOutput, mvChild)))
  }
}
