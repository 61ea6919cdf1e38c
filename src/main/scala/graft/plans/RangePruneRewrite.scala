package graft.plans

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex, LogicalRelation}
import org.apache.spark.sql.types._

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
  * a version — are collected at plan time (≤ [[MaxResolveKeys]], else
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
  * swapped relation no longer roots at the registered path.
  */
class RangePruneRewrite(spark: SparkSession) extends Rule[LogicalPlan] {

  /** MoR-arm contract: beyond this many in-range keys the probe is not
    * point-sized — the literal key guard would bloat the plan and the
    * per-key index probe stops paying; the query belongs in a full
    * resolve. Same cap as [[PointLookupRewrite]]'s probe.
    */
  private val MaxResolveKeys = 128

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (KeyedTable.specRegistry.isEmpty) return plan
    TableMetaCache.pinVersions(plan.transformUp {
      case f: Filter =>
        try tryRewrite(f).getOrElse(f)
        catch { case scala.util.control.NonFatal(_) => f }
    })
  }

  /** The shape half of the match, sidecar-IO-free — shared with
    * [[IndexAdvisor]], so the advisor recommends exactly the stats
    * builds this rule can later serve (one matcher, like
    * [[PointLookupRewrite.probeShapes]] for the point family).
    */
  private[plans] final case class RangeMatch(
      f: Filter, lr: LogicalRelation, fsRel: HadoopFsRelation, root: String,
      spec: graft.table.KeyedTableSpec, ranges: Seq[graft.table.ColumnRange],
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
      partFilters: Seq[PartitionConjuncts.PartFilter] = Nil)

  /** Every range shape in `plan` this rule would serve if column stats
    * existed (no sidecar IO, no filesystem work beyond the registry).
    * On an already-served plan the Filter no longer roots at the
    * registered path, so served ranges naturally drop out.
    */
  private[plans] def rangeShapes(plan: LogicalPlan): Seq[RangeMatch] =
    if (KeyedTable.specRegistry.isEmpty) Nil
    else plan.collect { case f: Filter =>
      try matchRange(f) catch { case scala.util.control.NonFatal(_) => None }
    }.flatten

  private def tryRewrite(f: Filter): Option[LogicalPlan] =
    matchRange(f).flatMap { m =>
      val key = (m.root, m.ranges.toVector, m.nullPreds.toVector,
        m.inLists.map { case (c, vs) => (c, vs.toVector) }.toVector,
        m.morKeyAttrs.isDefined, m.partFilters.toVector)
      TableMetaCache.declineGated(spark, this, m.root)(key)(serveRange(m))
    }

  private def matchRange(f: Filter): Option[RangeMatch] = {
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
    val subst = MvPlanShape.substFn(renames)
    val relIds = lr.output.map(_.exprId).toSet

    val splitD = conds.toSeq.flatMap { case (c, d) =>
      MvPlanShape.splitConjunction(c).map((_, d))
    }
    if (splitD.exists(!_._1.deterministic)) return None

    def relAttrOf(e: Expression): Option[Attribute] = subst(e) match {
      case a: Attribute if relIds.contains(a.exprId) &&
        graft.table.KeyedTable.statsOrderedType(a.dataType) &&
        !a.name.startsWith("_graft_") => Some(a)
      case _ => None
    }

    // Resolve-shape admissibility (MoR arm): the one window must be
    // the table's own latest-per-key resolve, its rn = 1 conjunct the
    // only thing it filters, and every other conjunct must sit ABOVE
    // it (depth 0) — below the resolve a predicate would filter
    // VERSIONS before the per-key winner is chosen. Same bounds as
    // [[PointLookupRewrite]]'s resolving arm.
    val morKeyAttrs: Option[Seq[Attribute]] =
      if (!spec.retainHistory) {
        if (windows.nonEmpty) return None
        None
      } else windows.toSeq match {
        case Seq(w: Window) =>
          val rn = MvPlanShape.resolveRnOf(w, spec).getOrElse(return None)
          val rnConds = splitD.filter(p => MvPlanShape.isRnEqOne(p._1, rn))
          if (rnConds.map(_._2) != Seq(0)) return None
          if (splitD.exists(p => p._2 != 0 &&
            !MvPlanShape.isRnEqOne(p._1, rn))) return None
          val keyAttrs = spec.keyCols.map { kc =>
            val kcL = kc.toLowerCase(java.util.Locale.ROOT)
            lr.output
              .find(_.name.toLowerCase(java.util.Locale.ROOT) == kcL)
              .getOrElse(return None)
          }
          Some(keyAttrs)
        case _ => return None
      }
    val partColsL =
      spec.partitionCols.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    def partFilterOf(e: Expression) = PartitionConjuncts.of(
      e,
      x => (subst(x) match {
        case a: Attribute if relIds.contains(a.exprId) &&
          !a.name.startsWith("_graft_") => Some(a)
        case _ => None
      }).filter(at =>
        partColsL.contains(at.name.toLowerCase(java.util.Locale.ROOT))))
    val (split, partFilters) = morKeyAttrs match {
      case None => (splitD.map(_._1), Seq.empty[PartitionConjuncts.PartFilter])
      case Some(_) =>
        // The rn conjunct is the resolve's own, never a range; partition
        // point/IN conjuncts select sidecar rows exactly (a file's
        // partition tuple is constant) and narrow both candidates and
        // the derived key set.
        val rn = windows.headOption.flatMap(w =>
          MvPlanShape.resolveRnOf(w, spec))
        val nonRn = splitD.collect {
          case (c, 0) if !rn.exists(r => MvPlanShape.isRnEqOne(c, r)) => c
        }
        val (partConds, rest) = nonRn.partition(c => partFilterOf(c).isDefined)
        (rest, partConds.flatMap(partFilterOf))
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
    val ex = RangeConjuncts.extract(split, relAttrOf)
    if (morKeyAttrs.isDefined) {
      // MoR serves RANGES only; null/IN conjuncts stay residual above
      // the resolve (sound — nothing below the window changes), they
      // just don't contribute file selection.
      if (ex.ranges.isEmpty) return None
      Some(RangeMatch(f, lr, fsRel, root, spec, ex.ranges, Nil, Nil,
        morKeyAttrs, partFilters))
    } else {
      if (ex.ranges.isEmpty && ex.nullPreds.isEmpty && ex.inLists.isEmpty)
        return None
      Some(RangeMatch(
        f, lr, fsRel, root, spec, ex.ranges, ex.nullPreds, ex.inLists))
    }
  }

  /** The serving half: one sidecar read + the scan swap. */
  private def serveRange(m: RangeMatch): Option[LogicalPlan] =
    if (m.morKeyAttrs.isDefined) serveMorRange(m)
    else serveCowRange(m)

  private def serveCowRange(m: RangeMatch): Option[LogicalPlan] = {
    val table = KeyedTable(m.spec)
    table.rangeCandidateFilesTyped(spark, m.ranges, m.nullPreds, m.inLists)
      .flatMap { case (files, _) =>
      val total = m.fsRel.location.inputFiles.length
      if (files.length >= total) None
      else {
        val partSchema = Option(m.fsRel.partitionSchema).filter(_.nonEmpty)
        val pruned = new InMemoryFileIndex(
          spark, files, Map("basePath" -> m.root), partSchema)
        logInfo(s"range-prune rewrite: ${m.root} scan pruned to " +
          s"${files.length} of $total files via column stats on " +
          (m.ranges.map(_.column) ++ m.inLists.map(_._1)).mkString(", "))
        // Same relation, same output attributes — only the file set
        // changes, so nothing above needs exprId surgery.
        Some(m.f.transformUp {
          case l: LogicalRelation if l eq m.lr =>
            l.copy(relation = m.fsRel.copy(location = pruned)(spark))
        })
      }
    }
  }

  /** The MoR serving half — the declarative twin of
    * [[KeyedTable.readPrunedResolving]] (soundness in the class doc):
    * all-version stats → in-range candidate files → their in-range
    * rows' DISTINCT KEYS (capped) → those keys' RLI candidate files +
    * literal key guard; resolve and range residual stay above.
    */
  private def serveMorRange(m: RangeMatch): Option[LogicalPlan] = {
    import org.apache.spark.sql.functions.{col, lit}
    val table = KeyedTable(m.spec)
    val keyAttrs = m.morKeyAttrs.get
    val st = table.colStatsFrame(spark).getOrElse(return None)
    def statCol(prefix: String, c: String): Option[String] =
      st.columns.find(_.equalsIgnoreCase(s"${prefix}_$c"))
    if (!m.ranges.forall(r => statCol("min", r.column).isDefined &&
      statCol("max", r.column).isDefined)) return None
    val filterStatCols = m.partFilters.map {
      case PartitionConjuncts.PartIn(c, _, _) => statCol("p", c)
      case PartitionConjuncts.PartNotNull(c)  => statCol("p", c)
    }
    if (filterStatCols.exists(_.isEmpty)) return None
    val stSel = PartitionConjuncts.select(
      st, m.partFilters.zip(filterStatCols.map(_.get)))
    // Intersection predicate over the recorded bounds — the same
    // selection statsSelectedFilesTyped computes, over the
    // partition-narrowed sidecar rows.
    val candPred = m.ranges.map { r =>
      val (mnC, mxC) =
        (statCol("min", r.column).get, statCol("max", r.column).get)
      val loP = r.lo.map(v =>
        if (r.loInclusive) org.apache.spark.sql.functions.col(mxC) >=
          org.apache.spark.sql.functions.lit(v)
        else org.apache.spark.sql.functions.col(mxC) >
          org.apache.spark.sql.functions.lit(v))
      val hiP = r.hi.map(v =>
        if (r.hiInclusive) org.apache.spark.sql.functions.col(mnC) <=
          org.apache.spark.sql.functions.lit(v)
        else org.apache.spark.sql.functions.col(mnC) <
          org.apache.spark.sql.functions.lit(v))
      (loP.toSeq ++ hiP.toSeq)
        .reduceOption(_ && _)
        .getOrElse(org.apache.spark.sql.functions.lit(true))
    }.reduce(_ && _)
    val sel =
      try KeyedTable.withMetaConf(spark)(
        stSel.filter(candPred).select("file")
          .collect().map(_.getString(0)).toSeq
          .map(abs => new Path(new java.net.URI(abs))))
      catch { case scala.util.control.NonFatal(_) => return None }
    val total = m.fsRel.location.inputFiles.length

    def swap(files: Seq[Path], guard: Option[Expression],
        how: String): Option[LogicalPlan] = {
      if (files.length >= total) return None
      val partSchema = Option(m.fsRel.partitionSchema).filter(_.nonEmpty)
      val pruned = new InMemoryFileIndex(
        spark, files, Map("basePath" -> m.root), partSchema)
      logInfo(s"range-prune rewrite (resolving): ${m.root} scan pruned " +
        s"to ${files.length} of $total files — $how")
      Some(m.f.transformUp {
        case l: LogicalRelation if l eq m.lr =>
          val swapped =
            l.copy(relation = m.fsRel.copy(location = pruned)(spark))
          guard.fold(swapped: LogicalPlan)(Filter(_, swapped))
      })
    }

    // No version intersects the range ⇒ no winner can (a winner is a
    // version): the resolve over an empty scan is correctly empty.
    if (sel.isEmpty) return swap(Nil, None, "no version in range")

    // In-range rows' distinct keys — the only keys whose winner can be
    // in range. One bounded plan-time job, like a DPP subquery.
    val residual = m.ranges.map { r =>
      val loP = r.lo.map(v =>
        if (r.loInclusive) col(r.column) >= lit(v) else col(r.column) > lit(v))
      val hiP = r.hi.map(v =>
        if (r.hiInclusive) col(r.column) <= lit(v) else col(r.column) < lit(v))
      (loP.toSeq ++ hiP.toSeq).reduceOption(_ && _).getOrElse(lit(true))
    }.reduce(_ && _)
    val rootPath = new Path(m.spec.path)
    val fsys = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootPrefix = fsys.makeQualified(rootPath).toUri.getPath + "/"
    val rel = sel.map(p => p.toUri.getPath.stripPrefix(rootPrefix))
    val keysDf = table.readFilesRaw(spark, rel)
      .filter(residual)
      .select(m.spec.keyCols.map(col): _*)
      .distinct()
    val collected = KeyedTable.withMetaConf(spark)(
      keysDf.limit(MaxResolveKeys + 1).collect())
    if (collected.length > MaxResolveKeys) return None
    if (collected.isEmpty) return swap(Nil, None, "no in-range version row")

    // keys → candidate files (winner + delta; freshness proven through
    // the commit→files delta or the chain declines) + the literal key
    // guard the point rule's MoR arm uses: without it a non-probe key
    // sharing a candidate file could resolve to a superseded version.
    val probe = spark.createDataFrame(
      java.util.Arrays.asList(collected: _*), keysDf.schema)
    table.lookupCandidateFiles(spark, probe).flatMap { rel0 =>
      val files = rel0.map(r => new Path(rootPath, r))
      val guard: Expression =
        if (keyAttrs.length == 1) {
          val lits = collected.toSeq.map(r =>
            Literal.create(r.get(0), keyAttrs.head.dataType))
          In(keyAttrs.head, lits)
        } else collected.toSeq.map { r =>
          keyAttrs.zipWithIndex.map { case (at, i) =>
            EqualTo(at, Literal.create(r.get(i), at.dataType)): Expression
          }.reduce(And(_, _))
        }.reduce(Or(_, _))
      swap(files, Some(guard),
        s"${collected.length} in-range keys via the record-level index")
    }
  }
}
