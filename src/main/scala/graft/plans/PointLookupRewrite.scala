package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
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
  * probe of at most [[KeyedScan.MaxPointKeys]] values; re-application is
  * naturally idempotent because the swapped relation no longer roots at
  * the registered path. A family of [[KeyedServe]].
  */
private[plans] final class PointLookupRewrite(spark: SparkSession)
    extends KeyedServe.Family {
  import KeyedScan.MaxPointKeys

  def rewrite(node: LogicalPlan): Option[LogicalPlan] =
    matchProbe(node).flatMap { m =>
      val key = (m.scan.root, m.viaKey,
        m.probes.map(p => (p._1.name, p._2.toVector)))
      TableMetaCache.declineGated(spark, declines, m.scan.root)(key)(serveProbe(m))
    }

  /** The shape half of the match, index-IO-free — shared with
    * [[IndexAdvisor]], so the advisor recommends exactly the probes this
    * rule can later serve (one matcher, like MvPlanShape for the MV
    * pair). `probes` holds one (attribute, values) per KEY column in
    * spec order for a key probe (composite keys probe as the cartesian
    * tuple set); a single entry for a secondary-column probe.
    */
  private[plans] final case class ProbeMatch(
      f: Filter, scan: KeyedScan,
      probes: Seq[(Attribute, Seq[Any])], viaKey: Boolean) {
    def spec: graft.table.KeyedTableSpec = scan.spec
    def probeAttr: Attribute = probes.head._1

    /** The key probe as a one-row-per-tuple frame: the cartesian tuple
      * set over the per-column value sets, columns named as the spec's
      * key columns.
      */
    def keyFrame(spark: SparkSession): org.apache.spark.sql.DataFrame = {
      val converters = probes.map(p =>
        CatalystTypeConverters.createToScalaConverter(p._1.dataType))
      val schema = StructType(spec.keyCols.zip(probes).map {
        case (kc, (attr, _)) => StructField(kc, attr.dataType)
      })
      val tuples = probes.map(_._2).foldLeft(Seq(Seq.empty[Any])) {
        (acc, vals) => acc.flatMap(t => vals.map(v => t :+ v))
      }
      val rows = new java.util.ArrayList[Row](tuples.length)
      tuples.foreach { t =>
        rows.add(Row(t.zipWithIndex.map { case (v, i) => converters(i)(v) }: _*))
      }
      spark.createDataFrame(rows, schema)
    }
  }

  /** The point-probe shape of `node` this rule would serve if the needed
    * indexes existed (no index IO, no filesystem work beyond the
    * registry). On an already-index-served plan the Filter no longer
    * roots at the registered path, so served probes naturally drop out.
    */
  def matchProbe(node: LogicalPlan): Option[ProbeMatch] = {
    val f = node match { case f: Filter => f; case _ => return None }
    val ks = KeyedScan.of(f).getOrElse(return None)
    val spec = ks.spec
    val keyColsL = spec.keyCols.map(_.toLowerCase(java.util.Locale.ROOT))

    // Every filter conjunct, with its window depth, classifies as: the
    // key probe (literal =/IN/InSet on the key columns of THIS
    // relation), the resolve's rn = 1, everything else.
    val split = ks.conjuncts
    if (!ks.deterministic) return None

    // (attr of THIS relation, probe values in catalyst form) for a
    // literal point conjunct on any column.
    def probeOf(e: Expression): Option[(Attribute, Seq[Any])] = e match {
      case EqualTo(a: Attribute, l: Literal) if l.value != null =>
        ks.relAttrOf(a).map((_, Seq(l.value)))
      case EqualTo(l: Literal, a: Attribute) if l.value != null =>
        ks.relAttrOf(a).map((_, Seq(l.value)))
      case In(a: Attribute, vs) if vs.forall {
        case Literal(v, _) => v != null
        case _ => false
      } => ks.relAttrOf(a).map((_, vs.map(_.asInstanceOf[Literal].value)))
      case InSet(a: Attribute, hset) if !hset.contains(null) =>
        ks.relAttrOf(a).map((_, hset.toSeq))
      case _ => None
    }
    def nameOf(a: Attribute) = a.name.toLowerCase(java.util.Locale.ROOT)

    val probes = split.flatMap { case (c, d) => probeOf(c).map((_, d)) }
      .filter { case ((_, vs), _) => vs.nonEmpty && vs.length <= MaxPointKeys }
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
        if (tuples > MaxPointKeys) return None
        (perCol, keyColsL.flatMap(keyProbeByCol))
      } else {
        val first = probes.head
        (Seq(first._1), Seq(first))
      }

    // Shape admissibility (soundness argument in the class doc). `rest`
    // is every conjunct that is NOT a chosen probe conjunct: other point
    // probes included — a literal equality BELOW the resolve window
    // filters versions before the per-key resolve and must not commute.
    // (The rn = 1 conjunct is a window output, never a probe.)
    val chosenSet = chosenConds.toSet
    def chosen(c: (Expression, Int)): Boolean =
      probeOf(c._1).exists(p => chosenSet.contains((p, c._2)))
    if (spec.retainHistory) {
      val rest = ks.resolved.getOrElse(return None).filterNot(chosen)
      if (rest.exists(_._2 != 0)) return None
      // A key conjunct commutes with the per-key resolve at any
      // depth; a secondary-column conjunct only filters the RESOLVED
      // state — it must sit above the window.
      if (!viaKey && chosenConds.exists(_._2 != 0)) return None
    } else if (ks.windows.nonEmpty) return None
    // (An evolved table's scan roots at generation dirs, never at the
    // registered path, so the non-resolving arm can't misfire there.)
    Some(ProbeMatch(f, ks, chosenProbes, viaKey))
  }

  /** The serving half: index IO + the scan swap. */
  private def serveProbe(m: ProbeMatch): Option[LogicalPlan] = {
    val ProbeMatch(f, ks, probes, viaKey) = m
    val spec = ks.spec
    val table = KeyedTable(spec)

    // The probe-KEY frame: direct for a key probe (the cartesian tuple
    // set over the per-column value sets for a composite key);
    // value→keys through the secondary-index sidecar for a non-key
    // probe. Each is one small plan-time job, like a DPP subquery.
    val keysAndGuard: Option[(org.apache.spark.sql.DataFrame, Option[Expression])] =
      if (viaKey) Some((m.keyFrame(spark), None))
      else {
        val (probeAttr, values) = probes.head
        val toScala =
          CatalystTypeConverters.createToScalaConverter(probeAttr.dataType)
        table.siProbeKeys(spark, probeAttr.name, values.map(toScala)).flatMap { keys =>
          if (!spec.retainHistory) Some((keys, None))
          else {
            // MoR: candidates hold only probe keys' winning versions —
            // a NON-probe key sharing a candidate file could resolve to
            // a superseded version whose value matches. Bound the scan
            // to the probe keys (sound: every true result row's key is
            // in the probe by the sidecar's coverage guarantee). Needs
            // the key literals, so the key set must be point-sized too.
            val keyAttrs = ks.keyAttrs.getOrElse(return None)
            KeyedScan.pointSized(spark, keys
              .select(spec.keyCols.map(org.apache.spark.sql.functions.col): _*))
              .filter(_.nonEmpty)
              .map(collected => (keys, Some(KeyedScan.keyGuard(keyAttrs, collected.toSeq))))
          }
        }
      }

    keysAndGuard.flatMap { case (keys, guard) =>
      // The index-family chain: exact RLI first, bloom second (bloom
      // may-contain is all-version files, so MoR resolution stays
      // sound). The key guard, where the secondary path needs it, sits
      // directly above the swapped scan.
      table.lookupCandidateFiles(spark, keys).flatMap { rel0 =>
        ks.prune(spark, f, rel0, guard)(
          "point lookup via the " +
            (if (viaKey) "record-level index"
             else s"secondary index on ${probes.head._1.name}"))
      }
    }
  }
}
