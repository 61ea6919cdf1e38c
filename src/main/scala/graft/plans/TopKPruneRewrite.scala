package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

import graft.table.{KeyedTable, TableMetaCache}

/** Serves `ORDER BY col [ASC|DESC] LIMIT k` over a keyed table's
  * declarative read through the column-stats sidecar — the third member
  * of the stats-serving family ([[PointLookupRewrite]] points,
  * [[RangePruneRewrite]] ranges, this rule sorted limits): the "latest
  * N" query every time-series table serves (`ORDER BY ts DESC LIMIT
  * 100`) opens only the files that can hold a top-k row instead of
  * feeding a full scan into the cluster-wide TakeOrdered. The bound is
  * the standard stats top-k argument
  * ([[KeyedTable.topKCandidateFiles]]): walking files by min descending
  * until the accumulated non-null count reaches k proves the kth value
  * is at least that walk's last min, so files whose max falls below it
  * cannot contribute. On a table clustered by the sort column the kept
  * set is O(k / rows-per-file) files; unclustered, the stats still
  * answer, they just skip less.
  *
  * Matches `GlobalLimit(k, LocalLimit(k, Sort(...)))` — optionally with
  * a deterministic `Project` between limit and sort — whose sort child
  * strips to a single parquet relation rooted at a REGISTERED keyed
  * table ([[KeyedTable.specRegistry]]); the LEADING sort key must be a
  * stats-covered ordered column. Trailing tiebreak keys ride untouched:
  * only the scan's file set changes, the full Sort + Limit stay as the
  * residual, so boundary ties resolve exactly as they would unpruned.
  *
  * FILTERS below the sort compose when every conjunct classifies
  * against the sidecar — "latest N of a kind", the most common real
  * shape of this query:
  *  - PARTITION point/IN conjuncts ([[PartitionConjuncts]]) select
  *    whole sidecar rows first, exactly (a file's partition tuple is a
  *    constant), and the walk runs over the selected subset unchanged.
  *  - Literal RANGE / IS NOT NULL / IN conjuncts on stats-covered
  *    columns ([[RangeConjuncts]]) split files into FULL (every row
  *    satisfies — bounds inside the range, zero nulls in each
  *    constrained column; for IN, single-valued with the value in the
  *    list) and CANDIDATE (may hold a satisfying row). The count accumulation
  *    walks FULL files only — their rows all survive the filter, so
  *    "Σnn ≥ k rows ≥ L" still proves the filtered kth value is ≥ L —
  *    while the kept set is every CANDIDATE file whose max reaches L
  *    (boundary files' partially-matching rows are the residual
  *    filter's job). Truncated string bounds only widen the kept set
  *    and only shrink the walked FULL set — sound both ways.
  *
  * Declines: `retainHistory` tables (a pruned resolve could resurrect
  * superseded versions), any conjunct that classifies neither way
  * (IS NULL, non-literal predicates, uncovered
  * columns — a leftover predicate would break the accumulation bound),
  * windows/joins below the sort, non-global sorts, k ≤ 0, and walks
  * whose guaranteed-matching non-null counts never reach k (a selective
  * filter with no full files cannot bound the kth value — that shape is
  * [[RangePruneRewrite]]'s). Same registry-gated plan-time cost and
  * natural idempotency as the range rule (a swapped scan no longer
  * roots at the registered path).
  */
class TopKPruneRewrite(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (KeyedTable.specRegistry.isEmpty) return plan
    TableMetaCache.pinVersions(plan.transformUp {
      case lim: GlobalLimit =>
        try tryRewrite(lim).orElse(tryMorRewrite(lim)).getOrElse(lim)
        catch { case scala.util.control.NonFatal(_) => lim }
    })
  }

  private def projOk(pl: Seq[NamedExpression]): Boolean = pl.forall {
    case _: AttributeReference => true
    case Alias(e, _) => e.deterministic
    case _ => false
  }

  /** The shape half of the match, sidecar-IO-free — shared with
    * [[IndexAdvisor]], so the advisor recommends exactly the stats
    * builds this rule can later serve (the one-matcher discipline the
    * point/range/aggregate families follow).
    */
  private[plans] final case class TopKMatch(
      lim: GlobalLimit, scan: KeyedScan,
      sortCol: String, k: Int, desc: Boolean, nullsFirst: Boolean,
      partFilters: Seq[PartitionConjuncts.PartFilter],
      ranges: Seq[graft.table.ColumnRange],
      notNull: Seq[String], inLists: Seq[(String, Seq[Any])]) {
    def spec: graft.table.KeyedTableSpec = scan.spec
    /** Every column whose stats the serve consults. */
    def statCols: Seq[String] =
      (sortCol +: (ranges.map(_.column) ++ notNull ++ inLists.map(_._1)))
        .distinct
  }

  /** Every top-k shape in `plan` this rule would serve if column stats
    * existed (no sidecar IO, no filesystem work beyond the registry).
    * On an already-served plan the sort child no longer roots at the
    * registered path, so served shapes naturally drop out.
    */
  private[plans] def topKShapes(plan: LogicalPlan): Seq[TopKMatch] =
    if (KeyedTable.specRegistry.isEmpty) Nil
    else plan.collect { case lim: GlobalLimit =>
      try matchTopK(lim) catch { case scala.util.control.NonFatal(_) => None }
    }.flatten

  private def tryRewrite(lim: GlobalLimit): Option[LogicalPlan] =
    matchTopK(lim).flatMap { m =>
      TableMetaCache.declineGated(spark, this, m.scan.root)((m.scan.root, m.sortCol,
        m.k, m.desc, m.nullsFirst,
        m.partFilters.toVector, m.ranges.toVector, m.notNull.toVector,
        m.inLists.map { case (c, vs) => (c, vs.toVector) }.toVector)) {
        serveTopK(m)
      }
    }

  /** Paginated form: LIMIT k OFFSET m canonicalizes to
    * GlobalLimit(k, Offset(m, LocalLimit(k+m, Sort))) — the walk runs
    * at the COMBINED bound k+m (files that can hold any of the first
    * k+m rows), and the residual Sort + limits + Offset slice the page
    * exactly. Plain form: the shared Limit extractor.
    */
  private def limitSort(lim: GlobalLimit): Option[(Int, Sort)] = {
    val ks = lim match {
      case Limit(IntegerLiteral(n), s: Sort) => Some((n, s))
      case Limit(IntegerLiteral(n), Project(pl, s: Sort)) if projOk(pl) =>
        Some((n, s))
      case GlobalLimit(IntegerLiteral(n),
          Offset(IntegerLiteral(m), LocalLimit(IntegerLiteral(nm), rest)))
          if n > 0 && m >= 0 && nm == n + m =>
        rest match {
          case s: Sort => Some((nm, s))
          case Project(pl, s: Sort) if projOk(pl) => Some((nm, s))
          case _ => None
        }
      case _ => None
    }
    ks.filter { case (k, sort) =>
      k > 0 && sort.global && sort.order.nonEmpty
    }
  }

  private def matchTopK(lim: GlobalLimit): Option[TopKMatch] = {
    val (k, sort) = limitSort(lim).getOrElse(return None)
    val ks = KeyedScan.of(sort.child).getOrElse(return None)
    if (ks.windows.nonEmpty || ks.spec.retainHistory) return None

    // Classify every filter conjunct below the sort: partition
    // point/IN conjuncts select whole sidecar rows, range / IS NOT
    // NULL / IN conjuncts on stats-covered ordered columns drive the
    // FULL / CANDIDATE split. Anything else declines — a leftover
    // predicate would break the count-accumulation bound.
    val sc = RangeConjuncts.statsConjuncts(ks, ks.conjuncts.map(_._1))
      .getOrElse(return None)
    val attr = sortAttr(ks, sort).getOrElse(return None)
    val head = sort.order.head
    Some(TopKMatch(
      lim, ks, attr.name, k,
      head.direction == Descending, head.nullOrdering == NullsFirst,
      sc.partFilters, sc.ranges, sc.notNull, sc.inLists))
  }

  /** The leading sort key as an ordered-stats column of the relation. */
  private def sortAttr(ks: KeyedScan, sort: Sort): Option[Attribute] =
    ks.relAttrOf(sort.order.head.child)
      .filter(at => KeyedTable.statsOrderedType(at.dataType))

  /** The IO half: walk the sidecar, swap the scan. */
  private def serveTopK(m: TopKMatch): Option[LogicalPlan] = {
    val table = KeyedTable(m.spec)
    val nConds = m.partFilters.length + m.ranges.length + m.notNull.length +
      m.inLists.length
    val cand =
      if (nConds == 0)
        table.topKCandidateFiles(
          spark, m.sortCol, m.k.toLong, m.desc, m.nullsFirst)
      else filteredCandidates(
        table, m.sortCol, m.k.toLong, m.desc, m.nullsFirst,
        m.partFilters, m.ranges, m.notNull, m.inLists)
    cand.flatMap { case (files, _) =>
      m.scan.prune(spark, m.lim, files)(s"top-k for ORDER BY ${m.sortCol} " +
        (if (m.desc) "DESC" else "ASC") + s" LIMIT ${m.k}" +
        (if (nConds > 0) s" under $nConds filter conjunct(s)" else ""))
    }
  }

  /** The FILTERED top-k walk (see the class doc's soundness argument):
    * partition conjuncts select sidecar rows exactly; range/not-null
    * conjuncts split the selection into FULL files (count-accumulated
    * to fix the boundary bound) and CANDIDATE files (kept when their
    * max reaches it). Mirrors [[KeyedTable.topKCandidateFiles]]'s
    * unfiltered walk and [[StatsAggregateRewrite]]'s hybrid
    * classification — all comparisons run IN Spark over the
    * metadata-sized sidecar, in the exact ordering the residual
    * Filter + Sort evaluate with.
    */
  private def filteredCandidates(
      table: KeyedTable,
      column: String,
      k: Long,
      desc: Boolean,
      nullsFirst: Boolean,
      partFilters: Seq[PartitionConjuncts.PartFilter],
      ranges: Seq[graft.table.ColumnRange],
      notNull: Seq[String],
      inLists: Seq[(String, Seq[Any])])
      : Option[(Seq[org.apache.hadoop.fs.Path], Int)] =
    table.colStatsFrame(spark).flatMap { st =>
      import org.apache.spark.sql.expressions.{Window => W}
      import org.apache.spark.sql.functions.{col, lit, sum}
      def statCol(prefix: String, c: String): Option[String] =
        st.columns.find(_.equalsIgnoreCase(s"${prefix}_$c"))
      if (!st.columns.contains("cnt")) return None
      val (mnS, mxS, nnS) =
        (statCol("min", column), statCol("max", column), statCol("nn", column))
      if (mnS.isEmpty || mxS.isEmpty || nnS.isEmpty) return None
      val partSel =
        PartitionConjuncts.statCols(st, partFilters).getOrElse(return None)
      // Same candidate/full split as the hybrid aggregate serve.
      val (candidate, full) = RangeConjuncts
        .fileClasses(st, ranges, notNull, inLists).getOrElse(return None)
      val stSel = PartitionConjuncts.select(st, partSel)

      val (mn, mx, nn) = (col(mnS.get), col(mxS.get), col(nnS.get))
      KeyedTable.withMetaConf(spark) {
        try {
          val total = st.count().toInt
          val walkKey = if (desc) mn else mx
          val w = W.orderBy(if (desc) walkKey.desc_nulls_last
            else walkKey.asc_nulls_last)
          val crossing = stSel.filter(full)
            .withColumn("_graft_cum", sum(nn).over(
              w.rowsBetween(W.unboundedPreceding, W.currentRow)))
            .filter(col("_graft_cum") >= k && nn > 0)
            .orderBy(if (desc) walkKey.desc else walkKey.asc)
            .limit(1)
            .select(walkKey)
            .collect()
          if (crossing.isEmpty) None // < k guaranteed-matching rows
          else {
            val bound = crossing(0).get(0)
            val valuePred =
              if (desc) mx >= lit(bound) else mn <= lit(bound)
            val pred =
              if (nullsFirst) valuePred || (col("cnt") > nn) else valuePred
            val sel = stSel.filter(candidate && pred)
              .select("file").collect().map(_.getString(0)).toSeq
            Some((sel.map(abs =>
              new org.apache.hadoop.fs.Path(new java.net.URI(abs))), total))
          }
        } catch { case scala.util.control.NonFatal(_) => None }
      }
    }

  /** `ORDER BY col LIMIT k` over a history table's RESOLVED read — the
    * stats top-k walk composed with the winner-file classification
    * ([[StatsAggregateRewrite]]'s MoR arm): PURE files (every stored
    * row a live winner) drive the count accumulation exactly as COW
    * files do — a pure file's `nn` counts its non-null WINNER values,
    * so walking pure files by min (DESC; max ASC) until Σnn ≥ k proves
    * the kth resolved value reaches the walk bound L. The kept set is
    * every file holding ≥ 1 winner whose bounds reach L: a MIXED
    * file's all-version bounds are OUTER bounds of its winners
    * (winners ⊆ stored rows), so "max < L" (DESC) soundly excludes it,
    * and DEAD files — exactly where the superseded extremum hides —
    * never open. The plan then replaces the resolve window wholesale
    * with the winner rows of the kept files (the full resolve-identity
    * semi-join), re-aliased to the sort child's own attribute ids so
    * the residual Sort + Limit stay untouched and boundary ties
    * resolve exactly as the full resolve would. Match: the exact
    * shared resolve shape (rn = 1 the only conjunct anywhere) on a
    * registered `retainHistory` table, leading sort key an
    * ordered-stats DATA column; other filters decline (composing them
    * with winner purity is future surface). NULLS: with nulls last the
    * walk's ≥ k non-null winners outrank every null; nulls-first keeps
    * any file that may hold a null winner (cnt > nn).
    */
  /** The shape half of the MoR arm: the resolve window, the rn = 1
    * conjunct, the ordered-stats leading sort key, and OPTIONALLY
    * partition POINT conjuncts ABOVE the window — a partition filter on
    * the resolved state selects whole files and whole winners (a winner
    * row of partition p is stored in a file of p, true even under
    * globalKeys — the winner determination is global but the winning
    * VERSION lives where it was written), so the walk and the kept set
    * simply run over the selected sidecar rows, and the residual
    * re-applies on the winner rows defensively. Any other conjunct
    * declines. Shared with the advisor via [[morTopKShapes]].
    */
  private[plans] final case class MorTopKMatch(
      lim: GlobalLimit, sort: Sort, spec: graft.table.KeyedTableSpec,
      sortCol: String, k: Int, desc: Boolean, nullsFirst: Boolean,
      partFilters: Seq[PartitionConjuncts.PartFilter],
      ranges: Seq[graft.table.ColumnRange],
      notNull: Seq[String], inLists: Seq[(String, Seq[Any])]) {
    /** Every column whose stats the MoR walk consults. */
    def statCols: Seq[String] =
      (sortCol +: (ranges.map(_.column) ++ notNull ++ inLists.map(_._1)))
        .distinct
  }

  private def matchMorTopK(lim: GlobalLimit): Option[MorTopKMatch] = {
    val (k, sort) = limitSort(lim).getOrElse(return None)
    val ks = KeyedScan.of(sort.child).getOrElse(return None)
    if (!ks.spec.retainHistory) return None
    val rest = ks.resolved.getOrElse(return None)
    // Beside rn = 1: conjuncts ABOVE the window only. Partition point
    // conjuncts select whole files; literal ranges / IS NOT NULL /
    // IN-lists on stats-covered columns ride the COW walk's
    // full/candidate classification composed with winner purity (see
    // serveMorTopK); anything else declines. A partition column never
    // leads the sort.
    if (rest.exists(_._2 != 0)) return None
    val sc = RangeConjuncts.statsConjuncts(ks, rest.map(_._1))
      .getOrElse(return None)
    val attr = sortAttr(ks, sort).filterNot(at => ks.isPartitionCol(at.name))
      .getOrElse(return None)
    val head = sort.order.head
    Some(MorTopKMatch(
      lim, sort, ks.spec, attr.name, k,
      head.direction == Descending, head.nullOrdering == NullsFirst,
      sc.partFilters, sc.ranges, sc.notNull, sc.inLists))
  }

  /** Every resolved top-k shape in `plan` the MoR arm would serve if
    * the record-level index and sort-column stats existed — the
    * advisor's hook (advice ≡ serveability, the one-matcher
    * discipline).
    */
  private[plans] def morTopKShapes(plan: LogicalPlan): Seq[MorTopKMatch] =
    if (KeyedTable.specRegistry.isEmpty) Nil
    else plan.collect { case lim: GlobalLimit =>
      try matchMorTopK(lim)
      catch { case scala.util.control.NonFatal(_) => None }
    }.flatten

  private def tryMorRewrite(lim: GlobalLimit): Option[LogicalPlan] =
    matchMorTopK(lim).flatMap { m =>
      TableMetaCache.declineGated(spark, this, m.spec.path)(("mor",
        m.spec.path, m.sortCol, m.k, m.desc,
        m.nullsFirst, m.partFilters.toVector, m.ranges.toVector,
        m.notNull.toVector,
        m.inLists.map { case (c, vs) => (c, vs.toVector) }.toVector)) {
        serveMorTopK(m, KeyedTable(m.spec))
      }
    }

  private def serveMorTopK(
      m: MorTopKMatch, table: KeyedTable): Option[LogicalPlan] = {
    val MorTopKMatch(lim, sort, _, column, k, desc, nullsFirst,
      partFilters, ranges, notNull, inLists) = m
    table.colStatsFrame(spark).flatMap { st =>
      import org.apache.spark.sql.expressions.{Window => W}
      import org.apache.spark.sql.functions.{coalesce, col, lit, sum}
      def statCol(prefix: String, c: String): Option[String] =
        st.columns.find(_.equalsIgnoreCase(s"${prefix}_$c"))
      if (!st.columns.contains("cnt")) return None
      val (mnS, mxS, nnS) =
        (statCol("min", column), statCol("max", column),
          statCol("nn", column))
      if (mnS.isEmpty || mxS.isEmpty || nnS.isEmpty) return None
      // Partition point conjuncts select whole sidecar rows (and whole
      // winners) BEFORE the walk — both the accumulation and the kept
      // set then see only the matching partitions' files.
      val partSel =
        PartitionConjuncts.statCols(st, partFilters).getOrElse(return None)
      // The COW walk's full/candidate classification composed with
      // winner purity: a PURE file FULL under every conjunct has all
      // its (winner) rows matching, so its nn drives the accumulation;
      // any file with winners that MAY hold a matching row is kept when
      // its bounds reach the walk bound (all-version bounds are outer
      // bounds of winners).
      val (candidate, full) = RangeConjuncts
        .fileClasses(st, ranges, notNull, inLists).getOrElse(return None)
      val settled = table.settledWinnerEntries(spark).getOrElse(return None)
      val stRel = st.withColumn(
        "_rfile", table.relOfFileCol(spark, col("file")))
      val MorWinnerMaps.WinnerMaps(_, cntByFile, wcU, _) =
        MorWinnerMaps.of(spark, table, settled, stRel)
          .getOrElse(return None)
      val joined = PartitionConjuncts.select(stRel, partSel)
        .withColumn("wcnt", wcU(col("_rfile")))
      val (mn, mx, nn) = (col(mnS.get), col(mxS.get), col(nnS.get))
      val pure = col("wcnt").isNotNull && col("wcnt") === col("cnt") &&
        col("cnt") > 0
      KeyedTable.withMetaConf(spark) {
        try {
          val walkKey = if (desc) mn else mx
          val w = W.orderBy(if (desc) walkKey.desc_nulls_last
            else walkKey.asc_nulls_last)
          val crossing = joined
            .filter(pure && coalesce(full, lit(false)) && nn > 0)
            .withColumn("_graft_cum", sum(nn).over(
              w.rowsBetween(W.unboundedPreceding, W.currentRow)))
            .filter(col("_graft_cum") >= k && nn > 0)
            .orderBy(if (desc) walkKey.desc else walkKey.asc)
            .limit(1)
            .select(walkKey)
            .collect()
          if (crossing.isEmpty) return None // < k provable winner rows
          val bound = crossing(0).get(0)
          val valuePred =
            if (desc) mx >= lit(bound) else mn <= lit(bound)
          val pred =
            if (nullsFirst) valuePred || (col("cnt") > nn) else valuePred
          val kept = joined
            .filter(col("wcnt").isNotNull && col("wcnt") > 0 &&
              coalesce(candidate, lit(false)) &&
              coalesce(pred, lit(false)))
            .select(col("_rfile")).collect().map(_.getString(0)).toSeq
          if (kept.length >= cntByFile.size) return None // nothing pruned
          // Residual: every conjunct re-applied on the winner rows (the
          // original child is replaced wholesale; for partition filters
          // this is defensive — they selected whole files).
          val residual =
            RangeConjuncts.rowFilters(partFilters, ranges, notNull, inLists)
          val winners = residual.foldLeft(
            table.winnerRowsOf(spark, kept, settled))(_.filter(_))
          val newChild =
            MorWinnerMaps.asOutput(winners, sort.child.output).getOrElse(return None)
          logInfo(s"top-k rewrite: ${table.spec.path} RESOLVED scan " +
            s"replaced by winner rows of ${kept.length} of " +
            s"${cntByFile.size} files for ORDER BY $column " +
            (if (desc) "DESC" else "ASC") + s" LIMIT $k")
          Some(lim.transformUp {
            case s: Sort if s eq sort => s.copy(child = newChild)
          })
        } catch { case scala.util.control.NonFatal(_) => None }
      }
    }
  }
}
