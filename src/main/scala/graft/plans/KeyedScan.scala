package graft.plans

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Window}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex, LogicalRelation}

import graft.table.{KeyedTable, KeyedTableSpec}

/** A plan fragment that strips ([[MvPlanShape.strip]]) to ONE parquet
  * relation rooted at a REGISTERED keyed-table path
  * ([[KeyedTable.specRegistry]]) — the subject every pruning rule serves
  * from the table's sidecars. The one place that answers the two
  * questions each rule used to answer for itself: is this fragment a
  * registered keyed-table scan ([[KeyedScan.of]]), and how does its file
  * set get replaced ([[swap]] / [[prune]]). The rules keep only their own
  * shape checks (window count, `retainHistory`, aggregate or sort shape).
  *
  * Matching is sidecar- and filesystem-IO-free (the registry is an
  * in-memory map), so the advisors' shape collectors can run it on every
  * plan; [[listedFiles]] is the only member that touches the relation's
  * file listing, and only the serve path calls it. A swap keeps the
  * relation and its output attributes — only the `FileIndex` changes —
  * so nothing above needs exprId surgery, and re-application is
  * naturally idempotent: the swapped relation no longer roots at the
  * registered path.
  */
private[plans] final case class KeyedScan(
    lr: LogicalRelation, fsRel: HadoopFsRelation, root: String,
    spec: KeyedTableSpec,
    /** Every filter conjunct of the fragment, split, each tagged with
      * the number of windows above it (a filter below a window is not
      * interchangeable with one above it).
      */
    conjuncts: Seq[(Expression, Int)],
    /** The fragment's windows, top-down. */
    windows: Seq[Window],
    /** Inlines the fragment's renames down to base-side expressions. */
    subst: Expression => Expression) extends Logging {
  import KeyedScan.lower

  private val relIds = lr.output.map(_.exprId).toSet
  private val partColsL = spec.partitionCols.map(lower).toSet

  /** `e` (through the renames) as an attribute of THIS relation; the
    * engine's own `_graft_*` columns never count. Callers add their own
    * type filters (e.g. [[KeyedTable.statsOrderedType]]).
    */
  def relAttrOf(e: Expression): Option[Attribute] = subst(e) match {
    case a: Attribute if relIds.contains(a.exprId) &&
      !a.name.startsWith("_graft_") => Some(a)
    case _ => None
  }

  def isPartitionCol(name: String): Boolean = partColsL.contains(lower(name))

  /** A literal point/IN/IS NOT NULL conjunct on one of the table's
    * PARTITION columns ([[PartitionConjuncts]]).
    */
  def partFilterOf(e: Expression): Option[PartitionConjuncts.PartFilter] =
    PartitionConjuncts.of(e, x => relAttrOf(x).filter(at => isPartitionCol(at.name)))

  def deterministic: Boolean = conjuncts.forall(_._1.deterministic)

  /** The MoR resolve split: when `w` is the table's latest-per-key
    * resolve window ([[MvPlanShape.resolveRnOf]]) and its `rn = 1`
    * conjunct appears exactly once, at window depth `rnDepth`, every
    * OTHER conjunct with its depth; otherwise None.
    */
  def resolveSplit(w: Window, rnDepth: Int): Option[Seq[(Expression, Int)]] =
    MvPlanShape.resolveRnOf(w, spec).flatMap { rn =>
      val (rnConds, rest) =
        conjuncts.partition(c => MvPlanShape.isRnEqOne(c._1, rn))
      if (rnConds.map(_._2) == Seq(rnDepth)) Some(rest) else None
    }

  /** [[resolveSplit]] of a plain resolved read: the fragment's ONE
    * window is the resolve, with `rn = 1` directly above it.
    */
  def resolved: Option[Seq[(Expression, Int)]] = windows match {
    case Seq(w) => resolveSplit(w, 0)
    case _ => None
  }

  /** The windows and conjuncts over the table's CURRENT rows. On a
    * copy-on-write table that is the fragment as it stands. On a
    * `retainHistory` table the BOTTOM window must be the table's resolve
    * with its `rn = 1` directly above it; both are stripped, and the
    * rest keep their depths. None when the resolve shape is absent, a
    * conjunct sits below the resolve (it would filter versions before
    * the winner is chosen), or another window is itself a resolve.
    */
  def current: Option[(Seq[Window], Seq[(Expression, Int)])] =
    if (!spec.retainHistory) Some((windows, conjuncts))
    else windows.lastOption.flatMap { resolve =>
      val above = windows.init
      if (above.exists(MvPlanShape.resolveRnOf(_, spec).isDefined)) None
      else resolveSplit(resolve, above.length)
        .filter(_.forall(_._2 <= above.length)).map((above, _))
    }

  /** The relation's key attributes in spec key order, by name. */
  def keyAttrs: Option[Seq[Attribute]] = {
    val found = spec.keyCols.flatMap(kc =>
      lr.output.find(a => lower(a.name) == lower(kc)))
    if (found.length == spec.keyCols.length) Some(found) else None
  }

  /** Table-relative file names as paths under the table root. */
  private def relPaths(rel: Seq[String]): Seq[Path] =
    rel.map(r => new Path(new Path(spec.path), r))

  /** The scan's own file count — lists the relation's files, so only
    * the serve path calls it, never the matcher.
    */
  def listedFiles: Int = fsRel.location.inputFiles.length

  /** `in` with this scan's file set replaced by the table-relative
    * `files` and, when given, `guard` as a Filter directly above the
    * swapped scan; None when the new index lists fewer files than it was
    * given. Spark drops a missing root path with only a warning, so a
    * name that is not on disk (a file moved outside the engine, a
    * sidecar written under another naming) would otherwise serve as
    * silently missing rows. The index lists its files when it is built,
    * so the count costs no filesystem call.
    */
  def swap(spark: SparkSession, in: LogicalPlan, files: Seq[String],
      guard: Option[Expression] = None): Option[LogicalPlan] = {
    val paths = relPaths(files.distinct)
    val partSchema = Option(fsRel.partitionSchema).filter(_.nonEmpty)
    val pruned = new InMemoryFileIndex(
      spark, paths, Map("basePath" -> root), partSchema)
    val listed = pruned.allFiles().length
    if (listed < paths.length) {
      logWarning(s"$root: $listed of ${paths.length} candidate files listed; " +
        "the scan stays whole")
      None
    } else Some(in.transformUp {
      case l: LogicalRelation if l eq lr =>
        val swapped = l.copy(relation = fsRel.copy(location = pruned)(spark))
        guard.fold(swapped: LogicalPlan)(Filter(_, swapped))
    })
  }

  /** [[swap]] when `files` is smaller than `total` (by default the
    * scan's own listing), else None — a candidate set that prunes
    * nothing is a decline. `how` names the serve in the log line.
    */
  def prune(spark: SparkSession, in: LogicalPlan, files: Seq[String],
      guard: Option[Expression] = None, total: Int = listedFiles)(
      how: => String): Option[LogicalPlan] =
    if (files.length >= total) None
    else swap(spark, in, files, guard).map { p =>
      logInfo(s"$root scan pruned to ${files.length} of $total files — $how")
      p
    }
}

private[plans] object KeyedScan {

  private[plans] def lower(s: String): String = s.toLowerCase(java.util.Locale.ROOT)

  /** The registered single root of a file relation, with its spec. */
  def registered(lr: LogicalRelation)
      : Option[(HadoopFsRelation, String, KeyedTableSpec)] =
    lr.relation match {
      case h: HadoopFsRelation => h.location.rootPaths match {
        case Seq(one) =>
          Option(KeyedTable.specRegistry.get(one.toString))
            .map(spec => (h, one.toString, spec))
        case _ => None
      }
      case _ => None
    }

  /** `plan` as a registered keyed-table scan: it strips to exactly one
    * relation with no join pairs, and that relation is a registered
    * single-root file relation. No sidecar or filesystem IO.
    */
  def of(plan: LogicalPlan): Option[KeyedScan] = {
    val conds = mutable.Buffer.empty[(Expression, Int)]
    val windows = mutable.Buffer.empty[Window]
    val renames = mutable.Map.empty[ExprId, Expression]
    val rels = mutable.Buffer.empty[LogicalRelation]
    val pairs = mutable.Buffer.empty[(Attribute, Attribute)]
    if (!MvPlanShape.strip(plan, conds, windows, renames, rels, pairs) ||
        pairs.nonEmpty || rels.length != 1) return None
    registered(rels.head).map { case (fsRel, root, spec) =>
      KeyedScan(rels.head, fsRel, root, spec,
        conds.toSeq.flatMap { case (c, d) =>
          MvPlanShape.splitConjunction(c).map((_, d))
        },
        windows.toSeq, MvPlanShape.substFn(renames))
    }
  }

  /** The one "point-sized" cap: a probe of more values or keys than this
    * is not point-shaped — the literal key guard would bloat the plan and
    * a per-key index probe stops paying; the query belongs in a scan.
    */
  val MaxPointKeys = 128

  /** `df`'s rows when there are at most [[MaxPointKeys]] of them, else
    * None. One bounded plan-time job under the metadata conf.
    */
  def pointSized(spark: SparkSession, df: DataFrame): Option[Array[Row]] = {
    val rows = KeyedTable.withMetaConf(spark)(df.limit(MaxPointKeys + 1).collect())
    if (rows.length > MaxPointKeys) None else Some(rows)
  }

  /** The exact key-set guard over `rows` (key values in `keyAttrs`
    * order): IN for a single key; OR-of-AND over the tuples for a
    * composite key — a per-column IN would admit non-probe tuples whose
    * superseded versions could leak through a resolve.
    */
  def keyGuard(keyAttrs: Seq[Attribute], rows: Seq[Row]): Expression =
    if (keyAttrs.length == 1)
      In(keyAttrs.head,
        rows.map(r => Literal.create(r.get(0), keyAttrs.head.dataType)))
    else rows.map { r =>
      keyAttrs.zipWithIndex.map { case (at, i) =>
        EqualTo(at, Literal.create(r.get(i), at.dataType)): Expression
      }.reduce(And(_, _))
    }.reduce(Or(_, _))
}
