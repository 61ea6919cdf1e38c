package graft.plans

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex, LogicalRelation}
import org.apache.spark.sql.types.{StructField, StructType}

import graft.table.{KeyedTable, TableMetaCache}

/** Serves point lookups on a keyed table's DECLARATIVE read plan through
  * the record-level index — the planner-side half of [[KeyedTable.lookupKeys]]:
  * a user writing `table.read(spark).filter($"k".isin(...))` gets the
  * same O(probe + delta)-file scan the lookup API performs, with no
  * special API. This is the Spark-native analogue of Hudi/Delta
  * data-skipping through a metadata index, done where Spark does file
  * skipping: the logical scan's `FileIndex` is swapped for one holding
  * only the candidate files (the filter stays as the residual, exactly
  * like partition pruning leaves its predicate).
  *
  * Matches `Filter` whose stripped child is a single parquet relation
  * rooted at a REGISTERED keyed-table path ([[KeyedTable.specRegistry]],
  * warmed by `read` — zero filesystem work on unrelated plans) with a
  * small all-literal point probe (`=`, `IN`, optimizer-converted
  * `InSet`) among its conjuncts — on the KEY column (direct), or on any
  * other column with a secondary-index sidecar (value→keys through
  * [[KeyedTable.siProbeKeys]], then keys→files as below: the
  * declarative twin of `lookupByColumn`). Soundness by table kind:
  *
  *   - plain COW (non-resolving): the index covers EVERY stored row, so
  *     candidates ∪ delta hold all probe-key rows — any surrounding
  *     shape is sound, the key conjunct alone bounds what survives;
  *   - merge-on-read: candidates hold only each probe key's WINNING
  *     version, so the plan between filter and scan must be exactly the
  *     resolve (the shared [[MvPlanShape.resolveRnOf]] shape): below the
  *     window only the key conjunct may filter (it commutes — whole key
  *     partitions drop), every other predicate must sit above. A raw
  *     scan, a foreign window, or a version-filtering predicate below
  *     the resolve declines. A secondary probe additionally bounds the
  *     swapped scan to its probe KEYS (a guard filter above the scan —
  *     it commutes like any key conjunct): without it, a non-probe key
  *     sharing a candidate file could resolve to a superseded version
  *     whose value matches and leak a wrong row.
  *
  * The candidate computation itself ([[KeyedTable.rliCandidateFiles]])
  * proves freshness through the commit→files delta and declines to the
  * full scan when unprovable — a stale index is never wrong here either.
  * Plan-time cost is one small index probe (like dynamic partition
  * pruning's subquery), gated behind the registry hit and the literal
  * probe; re-application is naturally idempotent because the swapped
  * relation no longer roots at the registered path.
  */
class PointLookupRewrite(spark: SparkSession)
    extends Rule[LogicalPlan] {

  /** Point-lookup contract: beyond this many probe values the scan is
    * not point-shaped and the index probe is not worth plan-time work.
    */
  private val MaxProbeValues = 128

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (KeyedTable.specRegistry.isEmpty) return plan
    TableMetaCache.pinVersions(plan.transformUp {
      case f: Filter =>
        try tryRewrite(f).getOrElse(f)
        catch { case scala.util.control.NonFatal(_) => f }
    })
  }

  private def tryRewrite(f: Filter): Option[LogicalPlan] =
    matchProbe(f).flatMap { m =>
      val key = (m.root, m.viaKey,
        m.probes.map(p => (p._1.name, p._2.toVector)))
      TableMetaCache.declineGated(spark, this, m.root)(key)(serveProbe(m))
    }

  /** The shape half of the match, index-IO-free — shared with
    * [[IndexAdvisor]], so the advisor recommends exactly the probes this
    * rule can later serve (one matcher, like MvPlanShape for the MV
    * pair). `probes` holds one (attribute, values) per KEY column in
    * spec order for a key probe (composite keys probe as the cartesian
    * tuple set); a single entry for a secondary-column probe.
    */
  private[plans] final case class ProbeMatch(
      f: Filter, lr: LogicalRelation, fsRel: HadoopFsRelation, root: String,
      spec: graft.table.KeyedTableSpec,
      probes: Seq[(Attribute, Seq[Any])], viaKey: Boolean) {
    def probeAttr: Attribute = probes.head._1
  }

  /** Every point-probe shape in `plan` this rule would serve if the
    * needed indexes existed (no index IO, no filesystem work beyond the
    * registry). On an already-index-served plan the Filter no longer
    * roots at the registered path, so served probes naturally drop out.
    */
  private[plans] def probeShapes(plan: LogicalPlan): Seq[ProbeMatch] =
    if (KeyedTable.specRegistry.isEmpty) Nil
    else plan.collect { case f: Filter =>
      try matchProbe(f) catch { case scala.util.control.NonFatal(_) => None }
    }.flatten

  private def matchProbe(f: Filter): Option[ProbeMatch] = {
    val conds = mutable.Buffer.empty[(Expression, Int)]
    val windows = mutable.Buffer.empty[Window]
    val renames = mutable.Map.empty[ExprId, Expression]
    val rels = mutable.Buffer.empty[LogicalRelation]
    val pairs = mutable.Buffer.empty[(Attribute, Attribute)]
    if (!MvPlanShape.strip(f, conds, windows, renames, rels, pairs)) return None
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
    val keyColsL = spec.keyCols.map(_.toLowerCase(java.util.Locale.ROOT))
    val subst = MvPlanShape.substFn(renames)
    val relIds = lr.output.map(_.exprId).toSet

    // Split every filter into conjuncts, keeping its window depth, and
    // classify: the key probe (literal =/IN/InSet on the key columns of
    // THIS relation), the resolve's rn = 1, everything else.
    val split = conds.toSeq.flatMap { case (c, d) =>
      MvPlanShape.splitConjunction(c).map((_, d))
    }
    if (split.exists(!_._1.deterministic)) return None

    // (attr of THIS relation, probe values in catalyst form) for a
    // literal point conjunct on any column.
    def relAttrOf(e: Expression): Option[Attribute] = subst(e) match {
      case a: Attribute if relIds.contains(a.exprId) => Some(a)
      case _ => None
    }
    def probeOf(e: Expression): Option[(Attribute, Seq[Any])] = e match {
      case EqualTo(a: Attribute, l: Literal) if l.value != null =>
        relAttrOf(a).map((_, Seq(l.value)))
      case EqualTo(l: Literal, a: Attribute) if l.value != null =>
        relAttrOf(a).map((_, Seq(l.value)))
      case In(a: Attribute, vs) if vs.forall {
        case Literal(v, _) => v != null
        case _ => false
      } => relAttrOf(a).map((_, vs.map(_.asInstanceOf[Literal].value)))
      case InSet(a: Attribute, hset) if !hset.contains(null) =>
        relAttrOf(a).map((_, hset.toSeq))
      case _ => None
    }
    def nameOf(a: Attribute) = a.name.toLowerCase(java.util.Locale.ROOT)

    val probes = split.flatMap { case (c, d) => probeOf(c).map((_, d)) }
      .filter { case ((a, vs), _) =>
        vs.nonEmpty && vs.length <= MaxProbeValues &&
          !a.name.startsWith("_graft_")
      }
    if (probes.isEmpty) return None

    // Key probe: EVERY key column carries a literal point conjunct — a
    // composite key probes as the cartesian tuple set (capped like any
    // probe; repeated conjuncts on one column intersect). Otherwise the
    // first non-key probe tries the secondary index.
    val keyProbeByCol: Map[String, Seq[((Attribute, Seq[Any]), Int)]] =
      probes.filter(p => keyColsL.contains(nameOf(p._1._1)))
        .groupBy(p => nameOf(p._1._1))
    val viaKey = keyColsL.forall(keyProbeByCol.contains)

    val (chosenProbes, chosenConds): (Seq[(Attribute, Seq[Any])], Seq[((Attribute, Seq[Any]), Int)]) =
      if (viaKey) {
        val perCol = keyColsL.map { kc =>
          val entries = keyProbeByCol(kc)
          val attr = entries.head._1._1
          val vals = entries.map(_._1._2.toSet).reduce(_ intersect _).toSeq
          (attr, vals)
        }
        if (perCol.exists(_._2.isEmpty)) return None // unsatisfiable: scan
        val tuples = perCol.map(_._2.length.toLong).product
        if (tuples > MaxProbeValues) return None
        (perCol, keyColsL.flatMap(keyProbeByCol))
      } else {
        val first = probes.head
        (Seq(first._1), Seq(first))
      }

    // Shape admissibility (soundness argument in the class doc). `rest`
    // is every conjunct that is NOT a chosen probe conjunct: other point
    // probes included — a literal equality BELOW the resolve window
    // filters versions before the per-key resolve and must not commute.
    val chosenSet = chosenConds.toSet
    val nonProbe = split.filterNot { case (c, d) =>
      probeOf(c).exists(p => chosenSet.contains(((p, d))))
    }
    val resolving = spec.retainHistory
    if (resolving) {
      windows.toSeq match {
        case Seq(w: Window) =>
          val rn = MvPlanShape.resolveRnOf(w, spec).getOrElse(return None)
          val (rnConds, rest) =
            nonProbe.partition(p => MvPlanShape.isRnEqOne(p._1, rn))
          if (rnConds.map(_._2) != Seq(0)) return None
          if (rest.exists(_._2 != 0)) return None
          // A key conjunct commutes with the per-key resolve at any
          // depth; a secondary-column conjunct only filters the RESOLVED
          // state — it must sit above the window.
          if (!viaKey && chosenConds.exists(_._2 != 0)) return None
        case _ => return None
      }
    } else if (windows.nonEmpty) return None
    // (An evolved table's scan roots at generation dirs, never at the
    // registered path, so the non-resolving arm can't misfire there.)
    Some(ProbeMatch(f, lr, fsRel, root, spec, chosenProbes, viaKey))
  }

  /** The serving half: index IO + the scan swap. */
  private def serveProbe(m: ProbeMatch): Option[LogicalPlan] = {
    val ProbeMatch(f, lr, fsRel, root, spec, probes, viaKey) = m
    val resolving = spec.retainHistory
    val table = KeyedTable(spec)

    // The probe-KEY frame: direct for a key probe (the cartesian tuple
    // set over the per-column value sets for a composite key);
    // value→keys through the secondary-index sidecar for a non-key
    // probe. Each is one small plan-time job, like a DPP subquery.
    val keysAndGuard: Option[(org.apache.spark.sql.DataFrame, Option[Expression])] =
      if (viaKey) {
        val converters = probes.map(p =>
          CatalystTypeConverters.createToScalaConverter(p._1.dataType))
        val probeSchema = StructType(spec.keyCols.zip(probes).map {
          case (kc, (attr, _)) => StructField(kc, attr.dataType)
        })
        val tuples = probes.map(_._2).foldLeft(Seq(Seq.empty[Any])) {
          (acc, vals) => acc.flatMap(t => vals.map(v => t :+ v))
        }
        val probeRows: java.util.List[Row] = {
          val l = new java.util.ArrayList[Row](tuples.length)
          tuples.foreach { t =>
            l.add(Row(t.zipWithIndex.map { case (v, i) => converters(i)(v) }: _*))
          }
          l
        }
        Some((spark.createDataFrame(probeRows, probeSchema), None))
      } else {
        val (probeAttr, values) = probes.head
        val toScala =
          CatalystTypeConverters.createToScalaConverter(probeAttr.dataType)
        table.siProbeKeys(spark, probeAttr.name, values.map(toScala)).flatMap { keys =>
          if (!resolving) Some((keys, None))
          else {
            // MoR: candidates hold only probe keys' winning versions —
            // a NON-probe key sharing a candidate file could resolve to
            // a superseded version whose value matches. Bound the scan
            // to the probe keys (sound: every true result row's key is
            // in the probe by the sidecar's coverage guarantee). Needs
            // the key literals, so the key set must be point-sized too.
            // Single key guards with IN; a composite key needs the
            // EXACT tuple set (a per-column IN would admit non-probe
            // tuples whose superseded versions could leak), so it
            // guards with OR-of-AND over the collected tuples.
            val keyAttrs = spec.keyCols.map { kc =>
              val kcL = kc.toLowerCase(java.util.Locale.ROOT)
              lr.output
                .find(_.name.toLowerCase(java.util.Locale.ROOT) == kcL)
                .getOrElse(return None)
            }
            val collected = KeyedTable.withMetaConf(spark)(keys
              .select(spec.keyCols.map(org.apache.spark.sql.functions.col): _*)
              .limit(MaxProbeValues + 1).collect())
            if (collected.length > MaxProbeValues || collected.isEmpty) None
            else if (keyAttrs.length == 1) {
              val lits = collected.toSeq
                .map(r => Literal.create(r.get(0), keyAttrs.head.dataType))
              Some((keys, Some(In(keyAttrs.head, lits))))
            } else {
              val guard = collected.toSeq.map { r =>
                keyAttrs.zipWithIndex.map { case (at, i) =>
                  EqualTo(at, Literal.create(r.get(i), at.dataType)): Expression
                }.reduce(And(_, _))
              }.reduce(Or(_, _))
              Some((keys, Some(guard)))
            }
          }
        }
      }

    keysAndGuard.flatMap { case (keys, guard) =>
      // The index-family chain: exact RLI first, bloom may-contain
      // second (all-version files, so MoR resolution stays sound).
      table.lookupCandidateFiles(spark, keys).flatMap { rel0 =>
        val total = fsRel.location.inputFiles.length
        if (rel0.length >= total) None
        else {
          val files = rel0.map(r => new Path(new Path(spec.path), r))
          val partSchema = Option(fsRel.partitionSchema).filter(_.nonEmpty)
          val pruned = new InMemoryFileIndex(
            spark, files, Map("basePath" -> root), partSchema)
          logInfo(s"point-lookup rewrite: $root scan pruned to " +
            s"${rel0.length} of $total files via the " +
            (if (viaKey) "record-level index"
             else s"secondary index on ${probes.head._1.name}"))
          // Same relation, same output attributes — only the file set
          // changes (plus the key guard directly above the scan where
          // the secondary path needs it), so nothing above needs exprId
          // surgery.
          Some(f.transformUp {
            case l: LogicalRelation if l eq lr =>
              val swapped =
                l.copy(relation = fsRel.copy(location = pruned)(spark))
              guard.fold(swapped: LogicalPlan)(Filter(_, swapped))
          })
        }
      }
    }
  }
}
