package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}

import graft.table.{KeyedTable, TableMetaCache}

/** Serves RANGE predicates on a keyed table's declarative read plan
  * through the column-stats sidecar — the planner-side half of
  * [[KeyedTable.readPruned]], completing the pushdown family
  * ([[PointLookupRewrite]] serves point probes, this rule serves
  * ranges): a user writing `table.read(spark).filter($"ts" between
  * (lo, hi))` gets the file-skipping scan the explicit API performs,
  * with no special API. This is Hudi/Iceberg column-stats data skipping
  * done where Spark does file skipping — the logical scan's `FileIndex`
  * is swapped for one holding only the files whose recorded [min, max]
  * intersects EVERY range conjunct; the filter stays as the residual
  * (stats admit false positives, never false negatives), exactly like
  * partition pruning leaves its predicate.
  *
  * Matches `Filter` whose stripped child is a single parquet relation
  * rooted at a REGISTERED keyed-table path ([[KeyedTable.specRegistry]],
  * warmed by `read` — zero filesystem work on unrelated plans) with at
  * least one literal range conjunct (`>=`, `>`, `<=`, `<`, `=`, either
  * orientation) on an ORDERED column — integers, floats, dates,
  * timestamps, decimals, strings ([[KeyedTable.statsOrderedType]], the
  * same set Iceberg/Hudi record column bounds for; a `WHERE ts BETWEEN`
  * over a clustered time-series table is the canonical customer of this
  * rule). Conjuncts on the same column
  * intersect; conjuncts over several columns prune conjunctively — over
  * a Z-ordered layout ([[KeyedTable.clusterZOrder]]) each file is a
  * rectangle in the clustered key space, so a 2-D probe multiplies the
  * per-dimension skip rates. Non-range conjuncts simply stay residual:
  * serving on a SUBSET of the conjunction is sound because a dropped
  * file holds no row satisfying that subset, hence none satisfying the
  * whole filter.
  *
  * Soundness bounds (the same ones [[KeyedTable.readPruned]] enforces):
  * on a plain copy-on-write table any matching shape serves — rows are
  * independent, so dropping files that hold no in-range row changes
  * nothing else. No window functions below the filter (removing files
  * under an arbitrary window would change its frames). An evolved
  * table's scan roots at generation dirs, never at the registered path,
  * so it cannot match. Freshness needs no timeline proof: the sidecar
  * follows exists ⇒ current (every data write deletes it before the
  * write lands), so a present sidecar covers every data file.
  *
  * MERGE-ON-READ (`retainHistory`) tables serve through the key-level
  * composition [[KeyedTable.readPrunedResolving]] proves — a naive
  * prune would resurrect versions superseded by rows OUTSIDE the range,
  * so the declarative arm requires the plan between filter and scan to
  * be exactly the resolve (the shared [[MvPlanShape.resolveRnOf]]
  * shape, same admissibility as [[PointLookupRewrite]]'s MoR arm) and
  * serves in three steps: (a) the all-version stats select the
  * candidate range files; (b) the DISTINCT KEYS of their in-range rows
  * — the only keys whose winner can be in range, a winner being itself
  * a version — are collected at plan time (≤ [[KeyedScan.MaxPointKeys]], else
  * decline: a range matching half the table belongs in a full
  * resolve); (c) the scan swaps onto those keys' record-level-index
  * candidate files (winner + delta — resolving over them yields
  * exactly each key's latest state) with a literal key guard above the
  * scan, exactly the point rule's: without it a non-probe key sharing
  * a candidate file could resolve to a superseded version. The
  * original resolve and range residual stay above, so a key whose
  * winner moved out of range is discarded, never resurrected.
  *
  * Plan-time cost is one metadata-sized sidecar read (plus, on the MoR
  * arm, one candidate-file key scan — the DPP-subquery-shaped cost the
  * point rule also pays), gated behind the registry hit and a literal
  * range conjunct; re-application is naturally idempotent because the
  * swapped relation no longer roots at the registered path. A family of
  * [[KeyedServe]].
  */
private[plans] final class RangePruneRewrite(spark: SparkSession)
    extends KeyedServe.Family {

  /** The shape half of the match, sidecar-IO-free — shared with
    * [[IndexAdvisor]], so the advisor recommends exactly the stats
    * builds this rule can later serve (one matcher, like
    * [[PointLookupRewrite.matchProbe]] for the point family).
    */
  private[plans] final case class RangeMatch(
      f: Filter, scan: KeyedScan, ranges: Seq[graft.table.ColumnRange],
      nullPreds: Seq[(String, Boolean)], inLists: Seq[(String, Seq[Any])],
      /** The relation's key attributes when the MoR resolve arm matched
        * (the key guard needs them); `None` selects the COW arm.
        */
      morKeyAttrs: Option[Seq[Attribute]] = None,
      /** MoR-arm partition conjuncts: they select whole sidecar rows by
        * the recorded per-file partition tuple (`p_<col>`), narrowing
        * both the candidate files and the derived key set — "latest
        * corrections in THIS partition within the window". COW plans
        * don't need them (Spark's own directory pruning serves a
        * partition conjunct on the swapped index too).
        */
      partFilters: Seq[PartitionConjuncts.PartFilter] = Nil) {
    def spec: graft.table.KeyedTableSpec = scan.spec
  }

  def rewrite(node: LogicalPlan): Option[LogicalPlan] =
    matchRange(node).flatMap { m =>
      val key = (m.scan.root, m.ranges.toVector, m.nullPreds.toVector,
        m.inLists.map { case (c, vs) => (c, vs.toVector) }.toVector,
        m.morKeyAttrs.isDefined, m.partFilters.toVector)
      TableMetaCache.declineGated(spark, declines, m.scan.root)(key)(serveRange(m))
    }

  /** The range shape of `node` this rule would serve if column stats
    * existed (no sidecar IO, no filesystem work beyond the registry).
    * On an already-served plan the Filter no longer roots at the
    * registered path, so served ranges naturally drop out.
    */
  def matchRange(node: LogicalPlan): Option[RangeMatch] = {
    val f = node match { case f: Filter => f; case _ => return None }
    val ks = KeyedScan.of(f).getOrElse(return None)
    if (!ks.deterministic) return None

    // Resolve-shape admissibility (MoR arm): the one window must be
    // the table's own latest-per-key resolve, its rn = 1 conjunct the
    // only thing it filters, and every other conjunct must sit ABOVE
    // it (depth 0) — below the resolve a predicate would filter
    // VERSIONS before the per-key winner is chosen. Same bounds as
    // [[PointLookupRewrite]]'s resolving arm.
    val (split, morKeyAttrs, partFilters) =
      if (!ks.spec.retainHistory) {
        if (ks.windows.nonEmpty) return None
        (ks.conjuncts.map(_._1), None, Seq.empty[PartitionConjuncts.PartFilter])
      } else {
        val rest = ks.resolved.getOrElse(return None)
        if (rest.exists(_._2 != 0)) return None
        val keyAttrs = ks.keyAttrs.getOrElse(return None)
        // The rn conjunct is the resolve's own, never a range; partition
        // point/IN conjuncts select sidecar rows exactly (a file's
        // partition tuple is constant) and narrow both candidates and
        // the derived key set.
        val (partConds, others) =
          rest.map(_._1).partition(c => ks.partFilterOf(c).isDefined)
        (others, Some(keyAttrs), partConds.flatMap(ks.partFilterOf))
      }
    // Literal bounds and null predicates through the SHARED extraction
    // ([[RangeConjuncts]] — one matcher for every column-stats
    // consumer): bounds in the column's own type with per-side
    // strictness flags, same-column conjuncts intersected with the
    // type's own interpreted ordering. Null predicates prune through
    // the per-file null counts (cnt vs nn_<col>): `IS NULL` drops files
    // with no null in the column, `IS NOT NULL` drops all-null files —
    // per-row facts on a copy-on-write table, so the
    // subset-of-conjunction argument covers them too; Catalyst's
    // inferred `isnotnull` guards around every range ride for free.
    // Unconsumed conjuncts simply stay residual (subset serving).
    // IN/InSet conjuncts serve as multi-point containment over the same
    // stats (OR of per-value [min <= v <= max]) -- the declarative
    // low-cardinality filter (`lang IN ('en','de')`) when no index
    // sidecar exists; PointLookupRewrite runs first and takes the probe
    // whenever the exact index family can serve it.
    val ex = RangeConjuncts.extract(
      split, e => ks.relAttrOf(e).filter(a => KeyedTable.statsOrderedType(a.dataType)))
    if (morKeyAttrs.isDefined) {
      // MoR serves RANGES only; null/IN conjuncts stay residual above
      // the resolve (sound — nothing below the window changes), they
      // just don't contribute file selection.
      if (ex.ranges.isEmpty) return None
      Some(RangeMatch(f, ks, ex.ranges, Nil, Nil, morKeyAttrs, partFilters))
    } else {
      if (ex.ranges.isEmpty && ex.nullPreds.isEmpty && ex.inLists.isEmpty)
        return None
      Some(RangeMatch(f, ks, ex.ranges, ex.nullPreds, ex.inLists))
    }
  }

  /** The serving half: one sidecar read + the scan swap. */
  private def serveRange(m: RangeMatch): Option[LogicalPlan] =
    if (m.morKeyAttrs.isDefined) serveMorRange(m)
    else serveCowRange(m)

  private def serveCowRange(m: RangeMatch): Option[LogicalPlan] = {
    val table = KeyedTable(m.spec)
    table.statsCandidates(spark, m.ranges, m.nullPreds, m.inLists)
      .flatMap { case (files, _) =>
        m.scan.prune(spark, m.f, files)("range prune via column stats on " +
          (m.ranges.map(_.column) ++ m.inLists.map(_._1)).mkString(", "))
      }
  }

  /** The MoR serving half — the declarative twin of
    * [[KeyedTable.readPrunedResolving]] (soundness in the class doc):
    * all-version stats → in-range candidate files → their in-range
    * rows' DISTINCT KEYS (capped) → those keys' RLI candidate files +
    * literal key guard; resolve and range residual stay above.
    */
  private def serveMorRange(m: RangeMatch): Option[LogicalPlan] = {
    import org.apache.spark.sql.functions.col
    val table = KeyedTable(m.spec)
    val keyAttrs = m.morKeyAttrs.get
    // The files whose recorded bounds intersect the ranges, over the
    // partition-narrowed sidecar rows.
    val (sel, _) = table.statsCandidates(spark, m.ranges, narrow = st =>
      PartitionConjuncts.statCols(st, m.partFilters).map(PartitionConjuncts.select(st, _)))
      .getOrElse(return None)
    val total = m.scan.listedFiles
    def swap(files: Seq[String], guard: Option[Expression],
        how: String): Option[LogicalPlan] =
      m.scan.prune(spark, m.f, files, guard, total)(s"resolved range prune: $how")

    // No version intersects the range ⇒ no winner can (a winner is a
    // version): the resolve over an empty scan is correctly empty.
    if (sel.isEmpty) return swap(Nil, None, "no version in range")

    // In-range rows' distinct keys — the only keys whose winner can be
    // in range. One bounded plan-time job, like a DPP subquery.
    val residual = RangeConjuncts.rowFilters(Nil, m.ranges, Nil, Nil).reduce(_ && _)
    val keysDf = table.readFilesRaw(spark, sel)
      .filter(residual)
      .select(m.spec.keyCols.map(col): _*)
      .distinct()
    val collected = KeyedScan.pointSized(spark, keysDf).getOrElse(return None)
    if (collected.isEmpty) return swap(Nil, None, "no in-range version row")

    // keys → candidate files (winner + delta; freshness proven through
    // the commit→files delta or the chain declines) + the literal key
    // guard the point rule's MoR arm uses: without it a non-probe key
    // sharing a candidate file could resolve to a superseded version.
    val probe = spark.createDataFrame(
      java.util.Arrays.asList(collected: _*), keysDf.schema)
    table.lookupCandidateFiles(spark, probe).flatMap { rel0 =>
      swap(rel0, Some(KeyedScan.keyGuard(keyAttrs, collected.toSeq)),
        s"${collected.length} in-range keys via the record-level index")
    }
  }
}
