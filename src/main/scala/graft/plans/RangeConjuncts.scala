package graft.plans

import scala.collection.mutable

import org.apache.spark.sql.catalyst.expressions._

import graft.table.ColumnRange

/** Shared extraction of literal RANGE conjuncts from a split filter —
  * the one matcher behind every consumer of the column-stats sidecar's
  * [min, max] pairs ([[RangePruneRewrite]] swaps scans,
  * [[StatsAggregateRewrite]] folds full files), so "what counts as a
  * servable range" cannot drift between them.
  *
  * Each conjunct is classified exactly once: a literal bound
  * (`>=`/`>`/`<=`/`<`/`=`, either orientation, literal in the COLUMN'S
  * OWN type — analysis guarantees a cast-free comparison has equal
  * types; a Cast around the attribute fails `relAttrOf` and lands in
  * `other`), a null predicate (`IS NULL` / `IS NOT NULL`), or `other`
  * (not consumed — the caller decides whether leftovers are residual or
  * disqualifying). Bounds on the same column intersect: highest lo /
  * lowest hi wins, exclusive beating inclusive at a tie, compared with
  * the type's own interpreted ordering — the same ordering the residual
  * filter evaluates with.
  */
private[plans] object RangeConjuncts {

  final case class Extracted(
      /** One intersected range per column, in first-seen order. */
      ranges: Seq[ColumnRange],
      /** The range columns' relation attributes, by column name. */
      rangeAttrs: Map[String, Attribute],
      /** (column, isNull) per null-predicate conjunct, deduplicated. */
      nullPreds: Seq[(String, Boolean)],
      /** One (column, SCALA-side values) per IN/InSet conjunct on an
        * admitted column — a disjunction of point ranges, servable from
        * min/max stats as OR-of-containment. Values capped at
        * [[KeyedScan.MaxPointKeys]]; larger lists land in `other`.
        */
      inLists: Seq[(String, Seq[Any])],
      /** Conjuncts consumed by no classification. */
      other: Seq[Expression])

  def extract(
      split: Seq[Expression],
      relAttrOf: Expression => Option[Attribute]): Extracted = {
    final case class Bound(
        a: Attribute, lo: Option[(Literal, Boolean)],
        hi: Option[(Literal, Boolean)])
    def ok(a: Expression, l: Literal): Option[(Attribute, Literal)] =
      relAttrOf(a).filter(at => l.value != null && l.dataType == at.dataType)
        .map((_, l))
    def boundOf(e: Expression): Option[Bound] = e match {
      case GreaterThanOrEqual(a, l: Literal) =>
        ok(a, l).map { case (at, v) => Bound(at, Some((v, true)), None) }
      case GreaterThanOrEqual(l: Literal, a) =>
        ok(a, l).map { case (at, v) => Bound(at, None, Some((v, true))) }
      case LessThanOrEqual(a, l: Literal) =>
        ok(a, l).map { case (at, v) => Bound(at, None, Some((v, true))) }
      case LessThanOrEqual(l: Literal, a) =>
        ok(a, l).map { case (at, v) => Bound(at, Some((v, true)), None) }
      case GreaterThan(a, l: Literal) =>
        ok(a, l).map { case (at, v) => Bound(at, Some((v, false)), None) }
      case GreaterThan(l: Literal, a) =>
        ok(a, l).map { case (at, v) => Bound(at, None, Some((v, false))) }
      case LessThan(a, l: Literal) =>
        ok(a, l).map { case (at, v) => Bound(at, None, Some((v, false))) }
      case LessThan(l: Literal, a) =>
        ok(a, l).map { case (at, v) => Bound(at, Some((v, false)), None) }
      case EqualTo(a, l: Literal) =>
        ok(a, l).map { case (at, v) => Bound(at, Some((v, true)), Some((v, true))) }
      case EqualTo(l: Literal, a) =>
        ok(a, l).map { case (at, v) => Bound(at, Some((v, true)), Some((v, true))) }
      case _ => None
    }

    // IN/InSet with all-literal, non-null, column-typed values — the
    // multi-point disjunction. Catalyst converts long IN lists to InSet
    // (values already Catalyst-typed); both convert to SCALA values
    // here so serving code can `lit()` them directly.
    def inListOf(e: Expression): Option[(Attribute, Seq[Any])] = e match {
      case In(x, vs) if vs.nonEmpty && vs.length <= KeyedScan.MaxPointKeys &&
        vs.forall { case Literal(v, _) => v != null; case _ => false } =>
        // Mirror ok()'s literal-type check: a type-mismatched literal
        // (possible in hand-built plans) must not reach the
        // attribute-typed converter below.
        relAttrOf(x).filter(a =>
          vs.forall(_.asInstanceOf[Literal].dataType == a.dataType)).map { a =>
          val toScala = org.apache.spark.sql.catalyst.CatalystTypeConverters
            .createToScalaConverter(a.dataType)
          (a, vs.map(l => toScala(l.asInstanceOf[Literal].value)))
        }
      case InSet(x, hset) if hset.nonEmpty && hset.size <= KeyedScan.MaxPointKeys &&
        !hset.contains(null) =>
        relAttrOf(x).map { a =>
          val toScala = org.apache.spark.sql.catalyst.CatalystTypeConverters
            .createToScalaConverter(a.dataType)
          (a, hset.toSeq.map(toScala))
        }
      case _ => None
    }

    val acc = mutable.LinkedHashMap.empty[
      String, (Attribute, Option[(Literal, Boolean)], Option[(Literal, Boolean)])]
    val nullPreds = mutable.Buffer.empty[(String, Boolean)]
    val inLists = mutable.Buffer.empty[(String, Seq[Any])]
    val other = mutable.Buffer.empty[Expression]
    split.foreach { c =>
      boundOf(c) match {
        case Some(Bound(a, lo, hi)) =>
          val ord = org.apache.spark.sql.catalyst.util.TypeUtils
            .getInterpretedOrdering(a.dataType)
          def tighterLo(x: (Literal, Boolean), y: (Literal, Boolean)) = {
            val cmp = ord.compare(x._1.value, y._1.value)
            if (cmp > 0) x else if (cmp < 0) y
            else if (!x._2) x else y // equal values: exclusive is tighter
          }
          def tighterHi(x: (Literal, Boolean), y: (Literal, Boolean)) = {
            val cmp = ord.compare(x._1.value, y._1.value)
            if (cmp < 0) x else if (cmp > 0) y
            else if (!x._2) x else y
          }
          val (_, l0, h0) = acc.getOrElse(a.name, (a, None, None))
          acc(a.name) = (a,
            (l0.toSeq ++ lo.toSeq).reduceOption(tighterLo),
            (h0.toSeq ++ hi.toSeq).reduceOption(tighterHi))
        case None => c match {
          case IsNull(e) => relAttrOf(e) match {
            case Some(a) => nullPreds += ((a.name, true))
            case None => other += c
          }
          case IsNotNull(e) => relAttrOf(e) match {
            case Some(a) => nullPreds += ((a.name, false))
            case None => other += c
          }
          case _ => inListOf(c) match {
            case Some((a, vs)) => inLists += ((a.name, vs))
            case None => other += c
          }
        }
      }
    }
    val ranges = acc.toSeq.map { case (c, (a, lo, hi)) =>
      val toScala = org.apache.spark.sql.catalyst.CatalystTypeConverters
        .createToScalaConverter(a.dataType)
      ColumnRange(
        c,
        lo.map(b => toScala(b._1.value)), lo.forall(_._2),
        hi.map(b => toScala(b._1.value)), hi.forall(_._2))
    }
    Extracted(
      ranges,
      acc.toSeq.map { case (c, (a, _, _)) => c -> a }.toMap,
      nullPreds.distinct.toSeq,
      inLists.toSeq,
      other.toSeq)
  }

  /** A conjunct set the column-stats sidecar classifies completely:
    * partition point/IN conjuncts select whole sidecar rows; literal
    * ranges, IS NOT NULL and IN-lists on ordered-stats columns split the
    * files into FULL (every row satisfies) and CANDIDATE (may hold a
    * satisfying row).
    */
  final case class StatsConjuncts(
      partFilters: Seq[PartitionConjuncts.PartFilter],
      ranges: Seq[ColumnRange], notNull: Seq[String],
      inLists: Seq[(String, Seq[Any])]) {
    /** Some conjunct splits files into FULL and CANDIDATE. */
    def classifies: Boolean = ranges.nonEmpty || notNull.nonEmpty || inLists.nonEmpty
    /** The columns whose stats the classification reads. */
    def columns: Seq[String] =
      (ranges.map(_.column) ++ notNull ++ inLists.map(_._1)).distinct
  }

  /** `conds` over `ks`'s relation as [[StatsConjuncts]], or None when
    * any conjunct is nondeterministic, an IS NULL, or classifies neither
    * way — a leftover predicate would falsify a full-file fold or a
    * count-accumulation bound.
    */
  def statsConjuncts(ks: KeyedScan, conds: Seq[Expression])
      : Option[StatsConjuncts] = {
    if (conds.exists(!_.deterministic)) return None
    val (partConds, rest) = conds.partition(c => ks.partFilterOf(c).isDefined)
    val ex = extract(rest, e => ks.relAttrOf(e)
      .filter(at => graft.table.KeyedTable.statsOrderedType(at.dataType)))
    if (ex.other.nonEmpty || ex.nullPreds.exists(_._2)) None
    else Some(StatsConjuncts(partConds.flatMap(ks.partFilterOf), ex.ranges,
      ex.nullPreds.map(_._1), ex.inLists))
  }

  /** The conjuncts as row predicates over the table's own column names
    * — the residual a serve re-applies when it replaces the filtered
    * subtree wholesale.
    */
  def rowFilters(
      partFilters: Seq[PartitionConjuncts.PartFilter], ranges: Seq[ColumnRange],
      notNull: Seq[String], inLists: Seq[(String, Seq[Any])])
      : Seq[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.col
    partFilters.map {
      case PartitionConjuncts.PartIn(c, t, vs) =>
        val toScala = org.apache.spark.sql.catalyst.CatalystTypeConverters
          .createToScalaConverter(t)
        col(c).isin(vs.map(toScala): _*)
      case PartitionConjuncts.PartNotNull(c) => col(c).isNotNull
    } ++ ranges.map(r => r.within(col(r.column), col(r.column))) ++
      notNull.map(c => col(c).isNotNull) ++
      inLists.map { case (c, vs) => col(c).isin(vs: _*) }
  }
}

/** Shared extraction of literal PARTITION-column conjuncts — point
  * equality, IN/InSet, and the optimizer's inferred `IS NOT NULL` —
  * the one matcher behind every consumer that selects whole sidecar
  * rows by partition tuple ([[StatsAggregateRewrite]] folds them,
  * [[TopKPruneRewrite]] walks them). Partition conjuncts are EXACT file
  * selectors: a file's partition tuple is a constant, so a selected
  * file's every row satisfies the conjunct and a dropped file's none
  * does — which is what lets both the fold and the top-k count
  * accumulation stay exact under the filter.
  */
private[plans] object PartitionConjuncts {

  sealed trait PartFilter { def column: String }
  final case class PartIn(
      column: String,
      t: org.apache.spark.sql.types.DataType,
      values: Seq[Any]) extends PartFilter
  final case class PartNotNull(column: String) extends PartFilter

  /** Classifies one conjunct; `attrOf` must resolve only attributes of
    * the table's PARTITION columns (the caller composes the partition
    * check into its relAttrOf).
    */
  def of(e: Expression, attrOf: Expression => Option[Attribute])
      : Option[PartFilter] = e match {
    case EqualTo(x, l: Literal) if l.value != null =>
      attrOf(x).map(at => PartIn(at.name, at.dataType, Seq(l.value)))
    case EqualTo(l: Literal, x) if l.value != null =>
      attrOf(x).map(at => PartIn(at.name, at.dataType, Seq(l.value)))
    case In(x, vs) if vs.forall {
      case Literal(v, _) => v != null
      case _ => false
    } => attrOf(x).map(at =>
      PartIn(at.name, at.dataType, vs.map(_.asInstanceOf[Literal].value)))
    case InSet(x, hset) if !hset.contains(null) =>
      attrOf(x).map(at => PartIn(at.name, at.dataType, hset.toSeq))
    case IsNotNull(x) => attrOf(x).map(at => PartNotNull(at.name))
    case _ => None
  }

  /** `filters` paired with their `p_<col>` partition-tuple columns in
    * the sidecar frame `st` (resolved case-insensitively) — what
    * [[select]] takes; None when one is missing.
    */
  def statCols(st: org.apache.spark.sql.DataFrame, filters: Seq[PartFilter])
      : Option[Seq[(PartFilter, String)]] = {
    val cols = filters.map(f => st.columns.find(_.equalsIgnoreCase(s"p_${f.column}")))
    if (cols.exists(_.isEmpty)) None else Some(filters.zip(cols.map(_.get)))
  }

  /** The sidecar row selection for a classified conjunct set: filters
    * the stats frame by its `p_<col>` partition-tuple columns (resolved
    * by the caller, case-insensitively).
    */
  def select(
      st: org.apache.spark.sql.DataFrame,
      filters: Seq[(PartFilter, String)]): org.apache.spark.sql.DataFrame =
    filters.foldLeft(st) {
      case (df, (PartIn(_, t, vs), pc)) =>
        val toScala = org.apache.spark.sql.catalyst.CatalystTypeConverters
          .createToScalaConverter(t)
        df.filter(org.apache.spark.sql.functions.col(pc)
          .isin(vs.map(toScala): _*))
      case (df, (PartNotNull(_), pc)) =>
        df.filter(org.apache.spark.sql.functions.col(pc).isNotNull)
    }
}
