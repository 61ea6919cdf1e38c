package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Inner, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
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
  *     serve (the shared `probeShapes` matcher — one matcher, like the
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
  *     could serve (the shared `rangeShapes` matcher) on a plain-COW
  *     dim — the equally common star shape, a dim date/measure window
  *     (`dim.event_date BETWEEN …`). Range probes cannot come from a
  *     sidecar alone, so the join keys derive from a BOUNDED plan-time
  *     dim scan: the column-stats sidecar selects the candidate dim
  *     files (required to actually prune — an unclustered dim would
  *     make the derivation a full plan-time dim scan, so it declines),
  *     those files read column-pruned to the joined columns with the
  *     range residual applied, and the distinct values cap at
  *     [[JoinPruneRewrite.MaxJoinProbe]] like every probe. The scanned
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
  * [[JoinPruneRewrite.MaxJoinProbe]] cap on derived join keys, and
  * sidecar existence; idempotent because the swapped fact relation no
  * longer roots at the registered path. Injected BEFORE
  * [[PointLookupRewrite]] so the dim probe is still recognizable (once
  * the point rule serves the dim filter, its scan no longer roots at
  * the registered path and this rule simply declines — correctness
  * never depends on the ordering).
  */
class JoinPruneRewrite(spark: SparkSession) extends Rule[LogicalPlan] {
  import JoinPruneRewrite.MaxJoinProbe

  private val pointRule = new PointLookupRewrite(spark)
  private val rangeRule = new RangePruneRewrite(spark)

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (KeyedTable.specRegistry.isEmpty) return plan
    TableMetaCache.pinVersions(plan.transformUp {
      case j: Join =>
        try tryRewrite(j).getOrElse(j)
        catch { case scala.util.control.NonFatal(_) => j }
    })
  }

  private def tryRewrite(j: Join): Option[LogicalPlan] = {
    val cond = j.condition.getOrElse(return None)
    // (factPlan, dimPlan) orientations this join type admits: pruning
    // removes fact rows that cannot satisfy the equi conjunct, which is
    // sound for the streamed/output side of Inner (both ways) and the
    // OUTPUT side of LeftSemi (the semi side only tests existence).
    val orientations: Seq[(LogicalPlan, LogicalPlan)] = j.joinType match {
      case Inner    => Seq((j.left, j.right), (j.right, j.left))
      case LeftSemi => Seq((j.left, j.right))
      case _        => return None
    }
    val equiPairs: Seq[(Attribute, Attribute)] =
      MvPlanShape.splitConjunction(cond).collect {
        case EqualTo(a: Attribute, b: Attribute) => (a, b)
      }
    if (equiPairs.isEmpty) return None
    orientations.view.flatMap { case (factPlan, dimPlan) =>
      tryOrientation(j, factPlan, dimPlan, equiPairs)
    }.headOption
  }

  private def lower(s: String): String = s.toLowerCase(java.util.Locale.ROOT)

  /** Usable equi pairs for one orientation: fact attr on the fact
    * relation, dim attr on the dim relation, equal types (the equality
    * compared them, but a Cast around either side fails the relation
    * resolution and is skipped). Shared by the serve and the advisor's
    * shape matcher.
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

  /** The fact side of a star-join shape this rule would serve if the
    * fact chain existed — the ADVISOR's hook (advice ≡ serveability,
    * the shared-matcher discipline the point/range/top-k families
    * follow). `coversFactKey` tells the advisor whether the join rides
    * keys→files directly (record-level index alone) or needs the
    * secondary sidecar on the one joined non-key column first. The dim
    * side's own probe needs are already collected by the point/range
    * shape matchers running over the same plan.
    */
  private[plans] final case class JoinShape(
      factSpec: graft.table.KeyedTableSpec,
      factJoinCols: Seq[String], coversFactKey: Boolean)

  private[plans] def joinShapes(plan: LogicalPlan): Seq[JoinShape] =
    if (KeyedTable.specRegistry.isEmpty) Nil
    else plan.collect { case jn: Join =>
      try shapeOf(jn)
      catch { case scala.util.control.NonFatal(_) => Nil }
    }.flatten

  /** Shape-only (no index IO, no filesystem work beyond the registry)
    * mirror of [[tryOrientation]]'s admission. The advisor feeds
    * ANALYZED plans here (an optimized plan hides the join once either
    * side's probe index-serves); settling comes from the advisor's
    * existing-sidecar filter, and on an optimized already-served plan
    * the swapped fact relation additionally drops the shape.
    */
  private def shapeOf(j: Join): Seq[JoinShape] = {
    val cond = j.condition.getOrElse(return Nil)
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
      (for {
        fact <- KeyedScan.of(factPlan)
        if factOk(fact)
        dim <- KeyedScan.of(dimPlan)
        if !(dim.lr eq fact.lr)
      } yield {
        val joinedAll = joinedPairs(fact, dim, factPlan, dimPlan, equiPairs)
        val dimKeyColsL = dim.spec.keyCols.map(lower)
        val isPoint = pointRule.probeShapes(dimPlan).exists(_.scan.lr eq dim.lr)
        val isRange = !isPoint && !dim.spec.retainHistory &&
          dim.windows.isEmpty &&
          rangeRule.rangeShapes(dimPlan).exists(_.scan.lr eq dim.lr)
        val joined: Seq[Attribute] =
          if (isPoint)
            joinedAll.collect {
              case (fa, da) if dimKeyColsL.contains(lower(da.name)) => fa
            }
          else if (isRange) joinedAll.map(_._1)
          else Nil
        if (joined.isEmpty) Nil
        else {
          val covers = joined.map(a => lower(a.name)).toSet ==
            fact.spec.keyCols.map(lower).toSet
          if (covers || joined.length == 1)
            Seq(JoinShape(fact.spec, joined.map(_.name), covers))
          else Nil
        }
      }).getOrElse(Nil)
    }
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

  private def tryOrientation(
      j: Join, factPlan: LogicalPlan, dimPlan: LogicalPlan,
      equiPairs: Seq[(Attribute, Attribute)]): Option[LogicalPlan] = {
    // FACT: a single registered rel — plain COW with no window below the
    // join, OR a history table read through its exact resolve shape
    // (served with a key guard, see swapFactScan).
    val fact = KeyedScan.of(factPlan).filter(factOk).getOrElse(return None)

    // DIM: a probe shape the point rule could serve — or, failing that,
    // a range shape the range rule could — on the same single relation
    // this side strips to.
    val dim = KeyedScan.of(dimPlan).getOrElse(return None)
    // A self-join sharing the one relation OBJECT would swap both sides
    // at once (transformUp rewrites by identity) — pruning the dim side
    // to the fact candidates is unsound, so decline. (Analyzed
    // DataFrame self-joins deduplicate into distinct instances, so this
    // only guards hand-built plans.)
    if (dim.lr eq fact.lr) return None
    val dimKeyColsL = dim.spec.keyCols.map(lower)

    val joinedAll = joinedPairs(fact, dim, factPlan, dimPlan, equiPairs)

    pointRule.probeShapes(dimPlan).find(_.scan.lr eq dim.lr) match {
      case Some(probe) =>
        // Point arm: keys derive from metadata alone, so every joined
        // dim attribute must be a KEY column.
        val joined = joinedAll.collect {
          case (fa, da) if dimKeyColsL.contains(lower(da.name)) =>
            (fa, lower(da.name))
        }
        if (joined.isEmpty) return None
        val key = (fact.root, dim.root,
          joined.map { case (fa, dc) => (fa.name, dc) },
          probe.viaKey, probe.probes.map(p => (p._1.name, p._2.toVector)))
        TableMetaCache.declineGated(spark, this, fact.root, dim.root)(key)(
          serveOrientation(j, fact, dim, probe, joined))
      case None =>
        // Range arm: keys derive from a bounded stats-pruned dim scan,
        // so any dim attribute joins — but the dim must be plain COW
        // (raw candidate-file rows of a resolving dim are versions; a
        // superset is still sound, but the resolve shape never reaches
        // here unstripped anyway).
        if (dim.spec.retainHistory || dim.windows.nonEmpty) return None
        val rm = rangeRule.rangeShapes(dimPlan)
          .find(_.scan.lr eq dim.lr).getOrElse(return None)
        val joined = joinedAll.map { case (fa, da) => (fa, da.name) }
        if (joined.isEmpty) return None
        val key = (fact.root, dim.root,
          joined.map { case (fa, dc) => (fa.name, lower(dc)) },
          rm.ranges.toVector, rm.nullPreds.toVector,
          rm.inLists.map { case (c, vs) => (c, vs.toVector) }.toVector)
        TableMetaCache.declineGated(spark, this, fact.root, dim.root)(key)(
          serveRangeOrientation(j, fact, dim, rm, joined))
    }
  }

  /** The IO half: derive the dim join keys, route them through the fact
    * index chain, swap the fact scan. Every decline lands in the memo
    * via the caller's gate.
    */
  private def serveOrientation(
      j: Join, fact: KeyedScan, dim: KeyedScan,
      probe: PointLookupRewrite#ProbeMatch,
      joined: Seq[(Attribute, String)]): Option[LogicalPlan] = {
    // The dim join-key frame, WITHOUT executing the dim subplan: probe
    // tuples for a key probe; value→keys through the secondary sidecar
    // for a non-key probe. Both are supersets of the dim rows that
    // survive the dim side's full filter — supersets only cost pruning.
    val dimTable = KeyedTable(dim.spec)
    val keysFrame: org.apache.spark.sql.DataFrame =
      if (probe.viaKey) probe.keyFrame(spark)
      else {
        val (pAttr, values) = probe.probes.head
        if (!dimTable.hasPointIndexes(spark, Some(pAttr.name))) return None
        val toScala = CatalystTypeConverters.createToScalaConverter(pAttr.dataType)
        dimTable.siProbeKeys(spark, pAttr.name, values.map(toScala))
          .getOrElse(return None)
      }
    val dimCols = joined.map(_._2)
    val selected = keysFrame.columns
      .filter(c => dimCols.contains(lower(c))).toSeq
    if (selected.map(lower).sorted != dimCols.sorted) return None
    val ordered = dimCols.map(dc => selected.find(c => lower(c) == dc).get)
    val collected = KeyedTable.withMetaConf(spark)(
      keysFrame
        .select(ordered.map(org.apache.spark.sql.functions.col): _*)
        .distinct().limit(MaxJoinProbe + 1).collect())
      .filterNot(r => (0 until r.length).exists(r.isNullAt))
    if (collected.length > MaxJoinProbe) return None
    swapFactScan(j, fact, dim.root, joined, collected)
  }

  /** The RANGE-arm IO half: stats-pruned candidate dim files →
    * column-pruned residual-filtered scan → distinct joined values
    * (capped) → the shared fact chain. The plan-time dim read is the
    * DPP-subquery-shaped cost; the stats prune is the gate that keeps
    * it bounded.
    */
  private def serveRangeOrientation(
      j: Join, fact: KeyedScan, dim: KeyedScan,
      rm: RangePruneRewrite#RangeMatch,
      joined: Seq[(Attribute, String)]): Option[LogicalPlan] = {
    import org.apache.spark.sql.functions.{col, lit}
    val dimTable = KeyedTable(dim.spec)
    val (sel, total) = dimTable
      .rangeCandidateFilesTyped(spark, rm.ranges, rm.nullPreds, rm.inLists)
      .getOrElse(return None)
    // The stats must actually bound the derivation: deriving keys from
    // an unclustered dim would be a plan-time full dim scan.
    if (sel.length >= total) return None
    // No dim file intersects the probe: the join output is empty — the
    // fact scan swaps to zero files.
    if (sel.isEmpty) return swapFactScan(j, fact, dim.root, joined,
      Array.empty[Row])

    val residual = (rm.ranges.map { r =>
      val loP = r.lo.map(v =>
        if (r.loInclusive) col(r.column) >= lit(v) else col(r.column) > lit(v))
      val hiP = r.hi.map(v =>
        if (r.hiInclusive) col(r.column) <= lit(v) else col(r.column) < lit(v))
      (loP.toSeq ++ hiP.toSeq).reduceOption(_ && _).getOrElse(lit(true))
    } ++ rm.nullPreds.map { case (c, isNull) =>
      if (isNull) col(c).isNull else col(c).isNotNull
    } ++ rm.inLists.map { case (c, vs) => col(c).isin(vs: _*) })
      .reduce(_ && _)
    val rootPath = new Path(dim.spec.path)
    val fsys = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootPrefix = fsys.makeQualified(rootPath).toUri.getPath + "/"
    val rel = sel.map(p => p.toUri.getPath.stripPrefix(rootPrefix))
    val collected = KeyedTable.withMetaConf(spark)(
      dimTable.readFilesRaw(spark, rel)
        .filter(residual)
        .select(joined.map(p => col(p._2)): _*)
        .distinct().limit(MaxJoinProbe + 1).collect())
      .filterNot(r => (0 until r.length).exists(r.isNullAt))
    if (collected.length > MaxJoinProbe) return None
    swapFactScan(j, fact, dim.root, joined, collected)
  }

  /** The shared fact half: route the derived dim values through the
    * fact's index chain and swap the fact scan onto the candidates.
    * `collected` rows carry the joined dim values in `joined` order.
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
  private def swapFactScan(
      j: Join, fact: KeyedScan, dimRoot: String,
      joined: Seq[(Attribute, String)],
      collected: Array[Row]): Option[LogicalPlan] = {
    // Fact candidates through the same chain the point rule serves.
    val factTable = KeyedTable(fact.spec)
    val resolving = fact.spec.retainHistory
    val factKeyColsL = fact.spec.keyCols.map(lower)
    val factColOf: Map[String, Attribute] =
      joined.map { case (fa, dc) => dc -> fa }.toMap
    // The guard over the fact scan's own key attributes.
    def guardOf(keyRows: Seq[Row]): Option[Expression] =
      fact.keyAttrs.map(KeyedScan.keyGuard(_, keyRows))
    val (files, guard): (Seq[String], Option[Expression]) =
      if (collected.isEmpty) {
        // No dim value can match: the join is empty — zero fact files
        // (nothing scans, so no guard is needed).
        (Nil, None)
      } else if (joined.map(p => lower(p._1.name)).toSet == factKeyColsL.toSet) {
        // Joined columns cover the fact KEY: keys→files directly.
        val keyToDim: Map[String, Int] = joined.zipWithIndex.map {
          case ((fa, _), i) => lower(fa.name) -> i
        }.toMap
        val schema = StructType(fact.spec.keyCols.map { kc =>
          StructField(kc, factColOf(joined(keyToDim(lower(kc)))._2).dataType)
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
          val keyRows = KeyedTable.withMetaConf(spark)(keys
            .select(fact.spec.keyCols
              .map(org.apache.spark.sql.functions.col): _*)
            .limit(MaxJoinProbe + 1).collect()).toSeq
          if (keyRows.length > MaxJoinProbe) return None
          if (keyRows.isEmpty) None
          else Some(guardOf(keyRows).getOrElse(return None))
        } else None
        (factTable.lookupCandidateFiles(spark, keys).getOrElse(return None), g)
      } else return None

    // Only the file set changes (plus the key guard directly above the
    // scan on a resolving fact), so the join condition and everything
    // above keep their exprIds.
    fact.prune(spark, j, fact.relPaths(files), guard)(
      s"join prune via ${collected.length} dim join keys from $dimRoot" +
        (if (resolving) " (resolved, key-guarded)" else ""))
  }
}

object JoinPruneRewrite {
  /** Beyond this many derived dim join keys the fact probe is not
    * point-shaped and the index lookup is not worth plan-time work —
    * the same contract as [[PointLookupRewrite]]'s probe cap.
    */
  val MaxJoinProbe = 128
}
