package graft.plans

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Inner, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.types.{StructField, StructType}

import graft.table.{KeyedTable, TableMetaCache}

/** Prunes the FACT side of a star join through the index family — the
  * logical-plan analogue of a runtime filter / dynamic "file" pruning:
  * in `fact JOIN dim ON fact.fk = dim.k WHERE dim.attr IN (…)` the dim
  * probe bounds which join keys can match, so the fact scan only needs
  * the files that can hold those keys. At 100 TB this is the BI
  * dashboard's selective star query ("orders of these three customers")
  * opening O(dim-probe + delta) fact files instead of scanning the fact
  * table into a shuffled or broadcast join.
  *
  * Matches an `Inner` (either orientation) or `LeftSemi` (fact left)
  * join with at least one literal-free equi conjunct whose two
  * attributes land on the two sides, where:
  *
  *   - the DIM side carries a point probe [[PointLookupRewrite]] could
  *     serve (the shared `matchProbe` matcher — one matcher, like the
  *     MV pair), strips to that single registered relation, and every
  *     joined dim attribute is one of the dim table's KEY columns; the
  *     matching dim join keys are then derivable WITHOUT executing the
  *     dim subplan: the probe tuples themselves for a key probe (the
  *     requested keys are a superset of the matching ones), or
  *     value→keys through the secondary-index sidecar for a non-key
  *     probe ([[KeyedTable.siProbeKeys]] — existence-gated via
  *     [[KeyedTable.hasPointIndexes]], so an absent index degrades to
  *     "don't prune", never to a plan-time dim scan);
  *   - OR the DIM side carries a RANGE probe [[RangePruneRewrite]]
  *     could serve (the shared `matchRange` matcher) on a plain-COW
  *     dim — the equally common star shape, a dim date/measure window
  *     (`dim.event_date BETWEEN …`). Range probes cannot come from a
  *     sidecar alone, so the join keys derive from a BOUNDED plan-time
  *     dim scan: the column-stats sidecar selects the candidate dim
  *     files (required to actually prune — an unclustered dim would
  *     make the derivation a full plan-time dim scan, so it declines),
  *     those files read column-pruned to the joined columns with the
  *     range residual applied, and the distinct values cap at
  *     [[KeyedScan.MaxPointKeys]] like every probe. The scanned
  *     values are a superset of the dim rows surviving the dim side's
  *     full filter (only classified conjuncts apply), and on this arm
  *     the joined dim attributes need not be key columns — the scan
  *     reads real rows;
  *   - the FACT side strips to a single registered relation: plain
  *     copy-on-write with no window below the join (file pruning under
  *     a foreign window would change its frames — declines), or a
  *     HISTORY table read through its exact resolve shape, which serves
  *     with a key guard above the swapped scan (see `swapFactScan` —
  *     without it a non-derived key sharing a candidate file could
  *     resolve to a superseded version and leak a dead row). Residual
  *     fact filters are sound: a dropped file only loses rows whose
  *     join key cannot match any dim row.
  *
  * The fact candidate set comes from the same lookup-candidate chain
  * the point rule serves: joined columns covering the fact KEY go
  * keys→files directly ([[KeyedTable.lookupCandidateFiles]] — RLI
  * first, bloom second); a single joined NON-key column goes
  * value→keys→files through its secondary sidecar. On plain COW the
  * chain covers EVERY stored row of the probed values, and the join
  * equality discards everything else a candidate file carries, so no
  * guard predicate is needed. Dim-side staleness is already settled
  * inside the sidecar probes; a superset of dim keys only costs
  * pruning, never rows.
  *
  * Plan-time cost is one small index probe per side (like a DPP
  * subquery), gated behind the registry, the probe shape, the
  * [[KeyedScan.MaxPointKeys]] cap on derived join keys, and
  * sidecar existence; idempotent because the swapped fact relation no
  * longer roots at the registered path. [[KeyedServe]] runs this family
  * BEFORE [[PointLookupRewrite]] so the dim probe is still recognizable
  * (once the point family serves the dim filter, its scan no longer
  * roots at the registered path and this family simply declines —
  * correctness never depends on the ordering).
  */
private[plans] final class JoinPruneRewrite(
    spark: SparkSession, point: PointLookupRewrite, range: RangePruneRewrite)
    extends KeyedServe.Family {
  import org.apache.spark.sql.functions.col

  def rewrite(node: LogicalPlan): Option[LogicalPlan] =
    matchJoin(node).view.flatMap { m =>
      val pairs = m.joined.map { case (fa, dc) => (fa.name, lower(dc)) }
      val key = m.probe match {
        case scala.Left(p) => (pairs, p.viaKey, p.probes.map(x => (x._1.name, x._2.toVector)))
        case scala.Right(rm) => (pairs, rm.ranges.toVector, rm.nullPreds.toVector,
          rm.inLists.map { case (c, vs) => (c, vs.toVector) }.toVector)
      }
      TableMetaCache.declineGated(spark, declines, m.fact.root, m.dim.root)(
          (m.fact.root, m.dim.root, key)) {
        m.probe.fold(serveOrientation(m, _), serveRangeOrientation(m, _))
      }
    }.headOption

  private def lower(s: String): String = s.toLowerCase(java.util.Locale.ROOT)

  /** One admissible orientation of a star join, shape only: the fact and
    * dim scans, the dim's probe — a point probe the point family could
    * serve, else a range the range family could — and the usable equi
    * pairs as (fact attribute, dim column). On the point arm only pairs
    * on a dim KEY column count (the keys derive from metadata alone); on
    * the range arm every pair does (the plan-time dim scan reads real
    * rows).
    */
  private[plans] final case class JoinMatch(
      j: Join, fact: KeyedScan, dim: KeyedScan,
      probe: Either[PointLookupRewrite#ProbeMatch, RangePruneRewrite#RangeMatch],
      joined: Seq[(Attribute, String)]) {
    /** The joined fact columns are exactly the fact key: keys→files
      * directly. Otherwise only ONE joined non-key column serves, through
      * its secondary sidecar.
      */
    def coversFactKey: Boolean =
      joined.map(p => lower(p._1.name)).toSet == fact.spec.keyCols.map(lower).toSet
  }

  /** Every admissible orientation of `node`, in the order the serve tries
    * them — no index IO, no filesystem work beyond the registry. Shared
    * with [[IndexAdvisor]], which feeds ANALYZED plans here (an optimized
    * plan hides the join once either side's probe index-serves); on an
    * optimized already-served plan the swapped fact relation drops the
    * shape.
    */
  def matchJoin(node: LogicalPlan): Seq[JoinMatch] = {
    val j = node match { case j: Join => j; case _ => return Nil }
    val cond = j.condition.getOrElse(return Nil)
    // (factPlan, dimPlan) orientations this join type admits: pruning
    // removes fact rows that cannot satisfy the equi conjunct, which is
    // sound for the streamed/output side of Inner (both ways) and the
    // OUTPUT side of LeftSemi (the semi side only tests existence).
    val orientations: Seq[(LogicalPlan, LogicalPlan)] = j.joinType match {
      case Inner    => Seq((j.left, j.right), (j.right, j.left))
      case LeftSemi => Seq((j.left, j.right))
      case _        => return Nil
    }
    val equiPairs: Seq[(Attribute, Attribute)] =
      MvPlanShape.splitConjunction(cond).collect {
        case EqualTo(a: Attribute, b: Attribute) => (a, b)
      }
    if (equiPairs.isEmpty) return Nil
    orientations.flatMap { case (factPlan, dimPlan) =>
      matchOrientation(j, factPlan, dimPlan, equiPairs)
    }
  }

  private def matchOrientation(
      j: Join, factPlan: LogicalPlan, dimPlan: LogicalPlan,
      equiPairs: Seq[(Attribute, Attribute)]): Option[JoinMatch] = {
    // FACT: a single registered rel — plain COW with no window below the
    // join, OR a history table read through its exact resolve shape
    // (served with a key guard, see swapFactScan).
    val fact = KeyedScan.of(factPlan).filter(factOk).getOrElse(return None)
    // DIM: the single relation this side strips to.
    val dim = KeyedScan.of(dimPlan).getOrElse(return None)
    // A self-join sharing the one relation OBJECT would swap both sides
    // at once (transformUp rewrites by identity) — pruning the dim side
    // to the fact candidates is unsound, so decline. (Analyzed
    // DataFrame self-joins deduplicate into distinct instances, so this
    // only guards hand-built plans.)
    if (dim.lr eq fact.lr) return None
    val joinedAll = joinedPairs(fact, dim, factPlan, dimPlan, equiPairs)
      .map { case (fa, da) => (fa, da.name) }
    val dimKeyColsL = dim.spec.keyCols.map(lower)
    val (probe, joined) =
      KeyedServe.shapes(dimPlan)(point.matchProbe).find(_.scan.lr eq dim.lr) match {
        case Some(p) =>
          // Point arm: keys derive from metadata alone, so every joined
          // dim attribute must be a KEY column.
          (scala.Left(p), joinedAll.filter(jp => dimKeyColsL.contains(lower(jp._2))))
        case None =>
          // Range arm: keys derive from a bounded stats-pruned dim scan,
          // so any dim attribute joins — but the dim must be plain COW
          // (raw candidate-file rows of a resolving dim are versions; a
          // superset is still sound, but the resolve shape never reaches
          // here unstripped anyway).
          if (dim.spec.retainHistory || dim.windows.nonEmpty) return None
          (scala.Right(KeyedServe.shapes(dimPlan)(range.matchRange)
            .find(_.scan.lr eq dim.lr).getOrElse(return None)), joinedAll)
      }
    if (joined.isEmpty) None else Some(JoinMatch(j, fact, dim, probe, joined))
  }

  /** Usable equi pairs for one orientation: fact attr on the fact
    * relation, dim attr on the dim relation, equal types (the equality
    * compared them, but a Cast around either side fails the relation
    * resolution and is skipped).
    */
  private def joinedPairs(
      fact: KeyedScan, dim: KeyedScan, factPlan: LogicalPlan,
      dimPlan: LogicalPlan,
      equiPairs: Seq[(Attribute, Attribute)]): Seq[(Attribute, Attribute)] = {
    val factOut = factPlan.outputSet
    val dimOut = dimPlan.outputSet
    equiPairs.flatMap { case (x, y) =>
      val oriented =
        if (factOut.contains(x) && dimOut.contains(y)) Some((x, y))
        else if (factOut.contains(y) && dimOut.contains(x)) Some((y, x))
        else None
      oriented.flatMap { case (fa0, da0) =>
        for {
          fa <- fact.relAttrOf(fa0)
          da <- dim.relAttrOf(da0)
          if da.dataType == fa.dataType
        } yield (fa, da)
      }
    }.distinct
  }

  /** The fact side is admissible when it is plain copy-on-write with
    * no window below the join, or a history table read through EXACTLY
    * its resolve (the shared [[MvPlanShape.resolveRnOf]] shape, `rn = 1`
    * the only below-window conjunct) — the same admission as
    * [[PointLookupRewrite]]'s MoR arm. Conjuncts above the resolve
    * window stay residual over the resolved rows and are sound;
    * anything below would filter versions before the per-key resolve
    * and declines.
    */
  private def factOk(fact: KeyedScan): Boolean =
    if (!fact.spec.retainHistory) fact.windows.isEmpty
    else fact.deterministic && fact.resolved.exists(_.forall(_._2 == 0))

  /** `frame`'s distinct non-null tuples over `cols`, when point-sized.
    * Nulls drop BEFORE the cap: a null never joins, and a null counted
    * against the cap would let a truncated key set through.
    */
  private def joinKeys(frame: DataFrame, cols: Seq[String]): Option[Array[Row]] = {
    val cs = cols.map(col)
    KeyedScan.pointSized(spark,
      frame.filter(cs.map(_.isNotNull).reduce(_ && _)).select(cs: _*).distinct())
  }

  /** The IO half: derive the dim join keys, route them through the fact
    * index chain, swap the fact scan. Every decline lands in the memo
    * via the caller's gate.
    */
  private def serveOrientation(
      m: JoinMatch, probe: PointLookupRewrite#ProbeMatch): Option[LogicalPlan] = {
    // The dim join-key frame, WITHOUT executing the dim subplan: probe
    // tuples for a key probe; value→keys through the secondary sidecar
    // for a non-key probe. Both are supersets of the dim rows that
    // survive the dim side's full filter — supersets only cost pruning.
    val dimTable = KeyedTable(m.dim.spec)
    val keysFrame: DataFrame =
      if (probe.viaKey) probe.keyFrame(spark)
      else {
        val (pAttr, values) = probe.probes.head
        if (!dimTable.hasPointIndexes(spark, Some(pAttr.name))) return None
        val toScala = CatalystTypeConverters.createToScalaConverter(pAttr.dataType)
        dimTable.siProbeKeys(spark, pAttr.name, values.map(toScala))
          .getOrElse(return None)
      }
    val dimCols = m.joined.map(p => lower(p._2))
    val selected = keysFrame.columns
      .filter(c => dimCols.contains(lower(c))).toSeq
    if (selected.map(lower).sorted != dimCols.sorted) return None
    val ordered = dimCols.map(dc => selected.find(c => lower(c) == dc).get)
    swapFactScan(m, joinKeys(keysFrame, ordered).getOrElse(return None))
  }

  /** The RANGE-arm IO half: stats-pruned candidate dim files →
    * column-pruned residual-filtered scan → distinct joined values
    * (capped) → the shared fact chain. The plan-time dim read is the
    * DPP-subquery-shaped cost; the stats prune is the gate that keeps
    * it bounded.
    */
  private def serveRangeOrientation(
      m: JoinMatch, rm: RangePruneRewrite#RangeMatch): Option[LogicalPlan] = {
    val dimTable = KeyedTable(m.dim.spec)
    val (sel, total) = dimTable
      .statsCandidates(spark, rm.ranges, rm.nullPreds, rm.inLists)
      .getOrElse(return None)
    // The stats must actually bound the derivation: deriving keys from
    // an unclustered dim would be a plan-time full dim scan.
    if (sel.length >= total) return None
    // No dim file intersects the probe: the join output is empty — the
    // fact scan swaps to zero files.
    if (sel.isEmpty) return swapFactScan(m, Array.empty[Row])

    val residual = (RangeConjuncts.rowFilters(Nil, rm.ranges, Nil, rm.inLists) ++
      rm.nullPreds.map { case (c, isNull) =>
        if (isNull) col(c).isNull else col(c).isNotNull
      }).reduce(_ && _)
    val collected = joinKeys(
      dimTable.readFilesRaw(spark, sel).filter(residual),
      m.joined.map(_._2))
    swapFactScan(m, collected.getOrElse(return None))
  }

  /** The shared fact half: route the derived dim values through the
    * fact's index chain and swap the fact scan onto the candidates.
    * `collected` rows carry the joined dim values in `m.joined` order.
    *
    * On a HISTORY fact the swap additionally installs a KEY GUARD
    * directly above the scan, bounding the resolve to the derived fact
    * keys (the [[PointLookupRewrite]] MoR argument): candidates hold
    * each derived key's winning version, but a NON-derived key sharing
    * a candidate file could resolve to a superseded version whose join
    * column matches and leak a dead row. The guard commutes with the
    * per-key resolve (whole key partitions drop), the derived keys are
    * a superset of every key whose WINNER can join (the sidecars cover
    * all versions and staleness settles inside the probes), and
    * guarded non-matching winners are discarded by the join equality —
    * so the guarded pruned resolve is exact.
    */
  private def swapFactScan(m: JoinMatch, collected: Array[Row]): Option[LogicalPlan] = {
    val JoinMatch(j, fact, dim, _, joined) = m
    // Fact candidates through the same chain the point rule serves.
    val factTable = KeyedTable(fact.spec)
    val resolving = fact.spec.retainHistory
    // The guard over the fact scan's own key attributes.
    def guardOf(keyRows: Seq[Row]): Option[Expression] =
      fact.keyAttrs.map(KeyedScan.keyGuard(_, keyRows))
    val (files, guard): (Seq[String], Option[Expression]) =
      if (collected.isEmpty) {
        // No dim value can match: the join is empty — zero fact files
        // (nothing scans, so no guard is needed).
        (Nil, None)
      } else if (m.coversFactKey) {
        // Joined columns cover the fact KEY: keys→files directly.
        val keyToDim: Map[String, Int] = joined.zipWithIndex.map {
          case ((fa, _), i) => lower(fa.name) -> i
        }.toMap
        val schema = StructType(fact.spec.keyCols.map { kc =>
          StructField(kc, joined(keyToDim(lower(kc)))._1.dataType)
        })
        val keyRows = collected.toSeq.map { r =>
          Row(fact.spec.keyCols.map(kc => r.get(keyToDim(lower(kc)))): _*)
        }
        val rows = new java.util.ArrayList[Row](keyRows.length)
        keyRows.foreach(rows.add)
        val probeDf = spark.createDataFrame(rows, schema)
        val g = if (resolving) Some(guardOf(keyRows).getOrElse(return None))
          else None
        (factTable.lookupCandidateFiles(spark, probeDf).getOrElse(return None), g)
      } else if (joined.length == 1) {
        // One joined NON-key fact column: value→keys→files through its
        // secondary sidecar. A resolving fact bounds the guard to the
        // derived keys, so the key set must be point-sized too.
        val fc = joined.head._1.name
        if (!factTable.hasPointIndexes(spark, Some(fc))) return None
        val values = collected.map(_.get(0)).toSeq
        val keys = factTable.siProbeKeys(spark, fc, values)
          .getOrElse(return None)
        val g = if (resolving) {
          val keyRows = KeyedScan.pointSized(spark,
            keys.select(fact.spec.keyCols.map(col): _*)).getOrElse(return None).toSeq
          if (keyRows.isEmpty) None
          else Some(guardOf(keyRows).getOrElse(return None))
        } else None
        (factTable.lookupCandidateFiles(spark, keys).getOrElse(return None), g)
      } else return None

    // Only the file set changes (plus the key guard directly above the
    // scan on a resolving fact), so the join condition and everything
    // above keep their exprIds.
    fact.prune(spark, j, files, guard)(
      s"join prune via ${collected.length} dim join keys from ${dim.root}" +
        (if (resolving) " (resolved, key-guarded)" else ""))
  }
}
