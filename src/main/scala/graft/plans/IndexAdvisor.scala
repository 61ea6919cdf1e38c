package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.table.{KeyedTable, TableMetaCache}

/** Workload-driven INDEX advisor — the index-family twin of [[MvAdvisor]]:
  * analyze a set of query frames, find the literal point probes over
  * registered keyed tables that [[PointLookupRewrite]] would serve if the
  * needed index sidecars existed, and recommend exactly those builds.
  * One matcher ([[PointLookupRewrite.probeShapes]]) is shared with the
  * serving rule, so the advisor can never recommend a shape the rule
  * later declines — the same one-matcher discipline the MV advisor keeps
  * with the MV rewrite.
  *
  * A probe the rule ALREADY serves drops out naturally: the served
  * plan's scan no longer roots at the registered path. Existing sidecars
  * are checked per recommendation (one driver `exists` each — advisor
  * context, not per-query planning).
  */
object IndexAdvisor {

  /** One index build: `kind` ∈ {"record_key", "secondary",
    * "column_stats"}; `column` is the probed column for a secondary or
    * column-stats recommendation, the key column otherwise. `hits`
    * counts workload probes this build serves.
    */
  final case class IndexRec(
      tablePath: String, kind: String, column: String, hits: Int)

  final case class IndexAdvice(
      recommendations: Seq[IndexRec], skipped: Seq[String])

  /** Per-file sizes from one recursive listing, cached per table
    * version ([[TableMetaCache]]): shared across the advisor's arms
    * (rollup bytes gate, compaction sizing) and across consecutive
    * analyze() calls on an unchanged table.
    */
  private def memoizedFileSizes(
      spark: org.apache.spark.sql.SparkSession,
      t: KeyedTable): Seq[Long] =
    TableMetaCache.get(spark, t.spec.path, "fileSizes")(t.dataFileSizes(spark))

  /** The grouped-rollup arm's KMV cardinality probe, cached per table
    * version: one column-pruned scan per (table, column) per table
    * state, O(1) on re-analysis of an unchanged workload.
    */
  private def memoizedCardinality(
      spark: org.apache.spark.sql.SparkSession,
      t: KeyedTable, gcol: String): Long =
    TableMetaCache.get(spark, t.spec.path,
        ("kmv", gcol.toLowerCase(java.util.Locale.ROOT))) {
      val meas = t.read(spark).agg(
        graft.functions.KmvDistinct.kmvDistinct(
          org.apache.spark.sql.functions.xxhash64(
            org.apache.spark.sql.functions.col(gcol)), 1024).as("card"))
        .collect()(0)
      if (meas.isNullAt(0)) 0L else meas.getLong(0)
    }

  def analyze(spark: SparkSession, queries: Seq[DataFrame]): IndexAdvice = {
    val rule = new PointLookupRewrite(spark)
    val rangeRule = new RangePruneRewrite(spark)
    val aggRule = new StatsAggregateRewrite(spark)
    val skipped = Seq.newBuilder[String]
    val plans = queries.zipWithIndex.flatMap { case (q, i) =>
      // A poison frame (analysis exception on .optimizedPlan) lands in
      // skipped; it must never abort the whole analysis.
      try Seq(q.queryExecution.optimizedPlan)
      catch {
        case scala.util.control.NonFatal(e) =>
          skipped += s"query #$i: ${e.getClass.getSimpleName}"; Nil
      }
    }
    // The star-join matcher reads ANALYZED plans: in the OPTIMIZED plan
    // a dim whose own probe already index-serves has its scan swapped,
    // which hides the join shape and would silently starve the FACT of
    // its chain recs (dim indexed, fact not). Pre-optimizer plans keep
    // both sides recognizable; settling still holds because recs for
    // already-built sidecars are filtered by existence below.
    val analyzedPlans = queries.flatMap { q =>
      try Seq(q.queryExecution.analyzed)
      catch { case scala.util.control.NonFatal(_) => Nil }
    }
    // Probes on PARTITION columns recommend nothing: Spark's own
    // partition pruning already serves any predicate on a hive
    // partition column from directory metadata — an index build there
    // is a pure waste (at 100 TB, a full-table build for a query that
    // was already metadata-only).
    def isPartitionCol(spec: graft.table.KeyedTableSpec, c: String): Boolean =
      spec.partitionCols.exists(_.equalsIgnoreCase(c))
    val shapes = plans.flatMap(rule.probeShapes)
      .filterNot(m => !m.viaKey && isPartitionCol(m.spec, m.probeAttr.name))
    // Genuine ranges only (an open side or lo < hi): an equality probe
    // belongs to the point family above — recommending column stats for
    // it would shadow the exact index with a weaker one. Partition
    // columns drop for the same reason as point probes: directory
    // pruning already serves them.
    val rangeMatches = plans.flatMap(rangeRule.rangeShapes)
      .map(m => (m, m.ranges.filterNot(r =>
        r.isPoint || isPartitionCol(m.spec, r.column))))
      .filter(_._2.nonEmpty)
    val rangeShapes = rangeMatches.flatMap { case (m, rs) =>
      rs.map(r => (m.spec.path, "column_stats", r.column)) ++
        // The MoR resolve arm additionally routes its in-range keys
        // through the record-level index (keys → winner+delta files);
        // recommend it alongside the stats so the serve has its chain.
        (if (m.morKeyAttrs.isDefined)
          Seq((m.spec.path, "record_key", m.spec.keyCols.head))
         else Nil)
    }
    // Sorted limits ("latest N [of a kind]"): the top-k walk consults
    // stats on the SORT column and on every classifiable filter column
    // (shared TopKMatch matcher — advice ≡ serveability). Partition
    // columns drop as everywhere: their conjuncts select sidecar rows
    // without needing min/max, and directory pruning already serves
    // them on the scan.
    val topKRule = new TopKPruneRewrite(spark)
    val topKWants = plans.flatMap(topKRule.topKShapes).flatMap { m =>
      m.statCols.filterNot(isPartitionCol(m.spec, _))
        .map(c => (m.spec.path, "column_stats", c))
    }
    // RESOLVED top-k over a history table (the MoR walk): the serve
    // needs the record-level index (winner classification) AND stats on
    // the sort column — recommend the chain together so one advisor
    // round makes the shape serveable (same shared-matcher discipline).
    val morTopKWants = plans.flatMap(topKRule.morTopKShapes).flatMap { m =>
      Seq(
        (m.spec.path, "record_key", m.spec.keyCols.head),
        (m.spec.path, "column_stats", m.sortCol))
    }
    // Grouped top-k (rank ≤ N per partition group): the per-group walk
    // consults stats on the window's sort column only (the group keys
    // are partition columns by admission — the sidecar's p_ tuples
    // carry them for free).
    val groupTopKRule = new GroupTopKRewrite(spark)
    // Data-column-grouped top-k shapes are excluded for the same reason
    // as the rollup arm: they serve only under a clustered layout a
    // static shape can't promise, so a blanket stats rec never settles.
    val groupTopKWants = plans.flatMap(groupTopKRule.groupTopKShapes)
      .filter(_.dataGroupCols.isEmpty)
      .flatMap(m => m.statCols.filterNot(isPartitionCol(m.spec, _))
        .map(c => (m.spec.path, "column_stats", c)))
    // STAR-JOIN fact chains: the join-prune rule's shape matcher
    // reports the fact table and its joined columns; recommend the
    // fact-side chain — the record-level index always (keys→files),
    // plus the secondary sidecar when the join rides one non-key fact
    // column (value→keys first). Fact PARTITION join columns recommend
    // nothing: Spark's own dynamic partition pruning already serves a
    // partitioned fact join from directory metadata. The dim side's
    // probe needs are collected by the point/range matchers over the
    // same plan — one analyze round recommends the whole star chain.
    val joinRule = new JoinPruneRewrite(spark)
    val joinWants = analyzedPlans.flatMap(joinRule.joinShapes).flatMap { s =>
      val rli = (s.factSpec.path, "record_key", s.factSpec.keyCols.head)
      if (s.coversFactKey) Seq(rli)
      else s.factJoinCols.headOption.toSeq
        .filterNot(c => isPartitionCol(s.factSpec, c))
        .flatMap(c => Seq(rli, (s.factSpec.path, "secondary", c)))
    }
    // RESOLVED grouped top-k (the MoR arm): the per-group walk needs
    // the record-level index (winner classification) plus stats on the
    // window's sort column — the same chain as the global MoR walk.
    // Data-column group keys are excluded like the COW arm's: they
    // serve only under a clustered layout a static shape can't promise.
    val morGroupTopKWants = plans.flatMap(groupTopKRule.morGroupTopKShapes)
      .filter(_.dataGroupCols.isEmpty)
      .flatMap(m =>
        (m.spec.path, "record_key", m.spec.keyCols.head) +:
          m.statCols.filterNot(isPartitionCol(m.spec, _))
            .map(c => (m.spec.path, "column_stats", c)))
    // LAYOUT advice: stats that exist but barely skip mean the files
    // overlap the probed column — the index can't help until a sort
    // rewrite makes per-file ranges tight. Measured against the
    // workload's OWN ranges (the advisor context affords the sidecar
    // read); a table without stats first gets the column_stats rec
    // above, and the next analyze round measures.
    val clusterRecs = rangeMatches.flatMap { case (m, rs) =>
      try {
        val t = KeyedTable(m.spec)
        val statCols = t.colStatsFrame(spark).map(_.columns.toSeq).getOrElse(Nil)
        // Only stats-COVERED columns can be measured (uncovered ones got
        // the column_stats rec above; the next analyze round measures).
        val covered = rs.filter(r =>
          statCols.exists(_.equalsIgnoreCase(s"min_${r.column}")))
        if (covered.isEmpty) Nil
        else t.rangeCandidateFilesTyped(spark, covered) match {
          case Some((sel, total)) if total > 1 &&
              sel.length.toDouble / total > 0.8 =>
            covered.map(r => (m.spec.path, "cluster", r.column))
          case _ => Nil
        }
      } catch { case scala.util.control.NonFatal(_) => Nil }
    }
    val fs = new Path("/").getFileSystem(spark.sessionState.newHadoopConf())
    def exists(dir: String): Boolean =
      try fs.exists(new Path(dir)) catch { case _: Exception => false }
    // Column stats need a COLUMN-level coverage check: the sidecar dir
    // existing with other columns' stats can't serve this range.
    def statsCover(path: String, c: String): Boolean =
      exists(s"$path/_graft_colstats") &&
        (c.isEmpty || // the count(*)-only marker: any sidecar carries cnt
          (try spark.read.parquet(s"$path/_graft_colstats")
            .columns.exists(_.equalsIgnoreCase(s"min_$c"))
          catch { case _: Exception => false }))
    // Every point probe needs the record-level index (the candidate
    // chain's exact member); a non-key probe additionally needs the
    // secondary sidecar on its column; a range probe needs column
    // stats. Recommend only what's absent.
    // Servable whole-table/grouped aggregates want stats on their data
    // columns; a count(*)-only shape wants any build (the empty-column
    // marker — every build records `cnt`).
    val aggWants = plans.flatMap(aggRule.aggShapes).flatMap {
      case (spec, cols) =>
        if (cols.isEmpty) Seq((spec.path, "column_stats", ""))
        else cols.map(c => (spec.path, "column_stats", c))
    }
    // GROUPED-ROLLUP layout advice: `GROUP BY c` over a DATA column
    // hybrid-serves only when files are single-valued in c — a LAYOUT
    // property, so the advisor must measure before it recommends (the
    // shared matcher alone can't promise the build will serve, which
    // is why aggShapes excludes these). Two measured gates: the
    // cardinality must fit the serve's group cap, and each value's run
    // must span files (bytes-per-value ≥ 2× the cluster file target) —
    // otherwise clustering cannot mint single-valued interiors and the
    // rec would never settle. With stats present, the sidecar measures
    // the CURRENT layout (fraction of single-valued files): an
    // overlapping layout draws the cluster rec, a run-shaped one only
    // the stats coverage below. The cardinality probe is one
    // column-pruned KMV scan per shape — advisor context, the same
    // affordance [[MvAdvisor]]'s cost gate uses.
    val rollupTarget = spark.conf
      .getOption("spark.graft.cluster.target.bytes")
      .flatMap(v => scala.util.Try(v.toLong).toOption).getOrElse(128L << 20)
    val rollupRecs = plans.flatMap(aggRule.dataGroupShapes).flatMap {
      case (spec, gcol, needCols) =>
        try {
          val t = KeyedTable(spec)
          // Gate order: the metadata-sized listing FIRST — a table too
          // small to pass the bytes-per-value bound at ANY cardinality
          // (card ≥ 1 ⇒ bytes/card ≤ bytes) never pays the data-scan
          // probe. The KMV probe itself is cached per (table, column)
          // and table version: re-analyzing an unchanged workload
          // costs O(listing), not O(table data) per call.
          val bytes = IndexAdvisor.memoizedFileSizes(spark, t).sum
          if (bytes < 2 * rollupTarget) Nil
          else {
          val card = IndexAdvisor.memoizedCardinality(spark, t, gcol)
          if (card <= 0 || card > StatsAggregateRewrite.MaxGroups ||
              bytes / card < 2 * rollupTarget) Nil
          else {
            val statsWants = (gcol +: needCols).distinct
              .map(c => (spec.path, "column_stats", c))
            val clusterRec = t.colStatsFrame(spark) match {
              case None => Nil // stats first; the next round measures
              case Some(side) =>
                import org.apache.spark.sql.functions.{col => cc, count => ccount, lit => clit, sum => csum, when => cwhen}
                val mnC = side.columns.find(_.equalsIgnoreCase(s"min_$gcol"))
                val mxC = side.columns.find(_.equalsIgnoreCase(s"max_$gcol"))
                val nnC = side.columns.find(_.equalsIgnoreCase(s"nn_$gcol"))
                if (mnC.isEmpty || mxC.isEmpty || nnC.isEmpty ||
                    !side.columns.contains("cnt")) Nil
                else {
                  val r = side.filter(cc("cnt") > 0).agg(
                    ccount(clit(1)).as("total"),
                    csum(cwhen(cc(mnC.get) === cc(mxC.get) &&
                      cc(nnC.get) === cc("cnt"), 1L).otherwise(0L)).as("sv"))
                    .collect()(0)
                  // No minimum file count: even a single multi-valued
                  // file profits — the bytes-per-value gate above
                  // already proves the cluster rewrite will split it
                  // into ≥ 2 files per value, so the rec settles.
                  val total = r.getLong(0)
                  val sv = if (r.isNullAt(1)) 0L else r.getLong(1)
                  if (total > 0 && sv.toDouble / total < 0.5)
                    Seq((spec.path, "cluster", gcol))
                  else Nil
                }
            }
            statsWants ++ clusterRec
          }
          }
        } catch { case scala.util.control.NonFatal(_) => Nil }
    }
    // FILE-SIZING advice (the fourth leg of the DBA loop: observe →
    // index → layout → size): a workload scanning a table whose data
    // files are numerous AND small pays per-file open/schedule cost on
    // every query — at 100 TB file counts, small files are the classic
    // silent killer. Measured against the LIVE listing (advisor
    // context). OPT-IN: fires only when
    // `spark.graft.compact.small.bytes` (mean-size threshold) is set —
    // "small" is deployment-specific (object-store request cost,
    // executor count), and any default would flag every development
    // table; `spark.graft.compact.min.files` (default 8) gates the
    // count. A cluster rec on the same table subsumes it: the sort
    // rewrite re-sizes files too.
    val scannedTables: Seq[String] = plans.flatMap(_.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths match {
              case Seq(one)
                if KeyedTable.specRegistry.get(one.toString) != null =>
                Seq(one.toString)
              case _ => Nil
            }
          case _ => Nil
        }
    }.flatten)
    val clusterTables = clusterRecs.map(_._1).toSet
    // Malformed threshold confs skip the compaction arm instead of
    // aborting the whole analysis — consistent with the advisor's
    // NonFatal-tolerant posture everywhere else.
    val minFiles = spark.conf
      .getOption("spark.graft.compact.min.files")
      .flatMap(v => scala.util.Try(v.toInt).toOption).getOrElse(8)
    val smallBytes = spark.conf
      .getOption("spark.graft.compact.small.bytes")
      .flatMap(v => scala.util.Try(v.toLong).toOption)
    val compactRecs = smallBytes.toSeq.flatMap { threshold =>
      scannedTables.groupBy(identity).toSeq
        .filterNot { case (path, _) => clusterTables.contains(path) }
        .flatMap { case (path, occ) =>
          Option(KeyedTable.specRegistry.get(path)).toSeq.flatMap { spec =>
            try {
              val sizes =
                IndexAdvisor.memoizedFileSizes(spark, KeyedTable(spec))
              if (sizes.length >= minFiles &&
                  sizes.sum / sizes.length < threshold)
                Seq(IndexRec(path, "compact", "", occ.length))
              else Nil
            } catch { case scala.util.control.NonFatal(_) => Nil }
          }
        }
    }
    // RETENTION advice (the FIFTH leg of the DBA loop: observe → index →
    // layout → size → retain): a workload scanning a HISTORY table whose
    // stored versions are mostly superseded pays the resolve over dead
    // rows on every read — at 100 TB correction traffic, the partitions
    // where corrections land bloat silently. Measured per partition from
    // the stats sidecar (all-version totals) against the record-level
    // index (live scopes, admitted only while its commit delta is
    // empty). OPT-IN like compaction: vacuum ERASES travelable history,
    // so the threshold conf (`spark.graft.vacuum.superseded.ratio`) IS
    // the user's retention policy — no default would be safe to assume.
    val vacuumRecs = spark.conf
      .getOption("spark.graft.vacuum.superseded.ratio")
      .flatMap(v => scala.util.Try(v.toDouble).toOption).toSeq
      .flatMap { thr =>
        scannedTables.groupBy(identity).toSeq.flatMap { case (path, occ) =>
          Option(KeyedTable.specRegistry.get(path)).toSeq.flatMap { spec =>
            if (!spec.retainHistory) Nil
            else try {
              KeyedTable(spec).supersededPartitions(spark, thr) match {
                case Some(df) if !df.isEmpty =>
                  Seq(IndexRec(path, "vacuum", "", occ.length))
                case _ => Nil
              }
            } catch { case scala.util.control.NonFatal(_) => Nil }
          }
        }
      }
    // MoR resolved-aggregate shapes (the winner-file serve) want BOTH
    // sidecars: the record-level index for the live-winner
    // classification and column stats on the aggregated columns for
    // the pure-file folds. Whether pure files then exist is
    // layout/value-dependent, but the rec settles either way — the
    // next analyze sees both sidecars present and recommends nothing.
    val morStatsWants = plans.flatMap(aggRule.morStatsShapes).flatMap {
      case (spec, cols) =>
        (spec.path, "record_key", spec.keyCols.head) +:
          cols.map(c => (spec.path, "column_stats", c))
    }
    val wants = shapes.flatMap { m =>
      val rli = (m.spec.path, "record_key", m.spec.keyCols.head)
      if (m.viaKey) Seq(rli)
      else Seq(rli, (m.spec.path, "secondary", m.probeAttr.name))
    } ++ rangeShapes ++ topKWants ++ morTopKWants ++ groupTopKWants ++
      morGroupTopKWants ++ joinWants ++ clusterRecs ++ aggWants ++
      rollupRecs ++ morStatsWants
    val recs = (wants.groupBy(identity).toSeq
      .map { case ((path, kind, col), hs) => IndexRec(path, kind, col, hs.length) }
      ++ compactRecs ++ vacuumRecs)
      .filterNot { r =>
        r.kind match {
          case "column_stats" => statsCover(r.tablePath, r.column)
          // measured against the live layout / version population
          case "cluster" | "compact" | "vacuum" => false
          case _              => exists(kind2dir(r))
        }
      }
      .sortBy(r => (-r.hits, r.tablePath, r.kind, r.column))
    IndexAdvice(recs, skipped.result())
  }

  private def kind2dir(r: IndexRec): String =
    if (r.kind == "record_key") s"${r.tablePath}/_graft_rli"
    else s"${r.tablePath}/_graft_si_${r.column}"

  /** Build every recommended index. The specs come from the registry the
    * workload's own reads warmed — the advisor never invents a table.
    * Returns a description line per build (for logs/tests).
    */
  def createRecommended(
      spark: SparkSession, advice: IndexAdvice): Seq[String] = {
    val (layoutRecs, rest0) = advice.recommendations
      .partition(r =>
        r.kind == "cluster" || r.kind == "compact" || r.kind == "vacuum")
    val (statRecs, rest) = rest0.partition(_.kind == "column_stats")
    val built = rest.flatMap { r =>
      val qualified = graft.table.MaterializedView.qualify(spark, r.tablePath)
      Option(KeyedTable.specRegistry.get(qualified)).map { spec =>
        val t = KeyedTable(spec)
        r.kind match {
          case "record_key" => t.recordKeyIndex(spark)
          case "secondary"  => t.secondaryIndex(spark, r.column)
        }
        s"${r.kind}(${r.column}) on ${r.tablePath} [${r.hits} probes]"
      }
    }
    // Per table: LAYOUT first (the sort rewrite drops the sidecar), then
    // ONE stats sidecar rebuild over existing ∪ recommended columns
    // (recordColumnStats overwrites the whole sidecar, and dropping a
    // covered column would un-serve someone else's range).
    val byTable = (layoutRecs ++ statRecs).groupBy(_.tablePath)
    val rebuilt = byTable.toSeq.sortBy(_._1).flatMap { case (path, rs) =>
      val qualified = graft.table.MaterializedView.qualify(spark, path)
      Option(KeyedTable.specRegistry.get(qualified)).toSeq.flatMap { spec =>
        val t = KeyedTable(spec)
        val existing = t.colStatsFrame(spark)
          .map(_.columns.toSeq.collect {
            case c if c.startsWith("min_") => c.stripPrefix("min_")
          }).getOrElse(Nil)
        val (vc, clCpSt) = rs.partition(_.kind == "vacuum")
        val (cl, cpSt) = clCpSt.partition(_.kind == "cluster")
        val (cp, st0) = cpSt.partition(_.kind == "compact")
        // The count(*)-only marker contributes no column of its own; if
        // nothing else names one, record the key column (any build
        // carries the per-file cnt the shape needs).
        val st = st0.filter(_.column.nonEmpty) match {
          case Nil if st0.nonEmpty =>
            st0.take(1).map(_.copy(column = spec.keyCols.head))
          case named => named
        }
        // Compaction first (analyze never emits it beside a cluster rec,
        // which subsumes it) — a layout rewrite either way, so the stats
        // sidecar rebuild below re-covers existing columns. Partitioned
        // tables compact PARTITION-SELECTIVELY: drip ingestion
        // fragments where the commits land, and a whole-table rewrite
        // to fix a few directories is exactly the 100 TB scale failure
        // the advisor exists to prevent. The same thresholds the
        // analysis measured with decide which partitions qualify.
        // Retention first: vacuum re-measures with the SAME policy
        // threshold the analysis used and reclaims only the qualifying
        // partitions — the version rewrite retires the stats sidecar,
        // so the stats re-record below re-covers existing columns.
        val vacuumLine = if (vc.isEmpty) None else {
          val thr = spark.conf
            .getOption("spark.graft.vacuum.superseded.ratio")
            .flatMap(v => scala.util.Try(v.toDouble).toOption)
          thr.flatMap { ratio =>
            KeyedTable(spec).supersededPartitions(spark, ratio).flatMap { df =>
              val n = df.count()
              if (n == 0) None
              else {
                t.vacuumPartitions(spark, df)
                Some(s"vacuum $n partition(s) on $path " +
                  s"[${vc.map(_.hits).sum} scans]")
              }
            }
          }
        }
        val compactLine = if (cp.isEmpty) None else {
          val line =
            if (spec.partitionCols.isEmpty) { t.compact(spark); "compact" }
            else {
              val minFiles = spark.conf
                .getOption("spark.graft.compact.min.files")
                .flatMap(v => scala.util.Try(v.toInt).toOption).getOrElse(8)
              val smallBytes = spark.conf
                .getOption("spark.graft.compact.small.bytes")
                .flatMap(v => scala.util.Try(v.toLong).toOption)
                .getOrElse(Long.MaxValue)
              val dirs = t.compactSmallPartitions(spark, minFiles, smallBytes)
              s"compact ${dirs.length} partition(s)"
            }
          Some(s"$line on $path [${cp.map(_.hits).sum} scans]")
        }
        val clusterLine = if (cl.isEmpty) None else {
          val sortCols = cl.sortBy(r => (-r.hits, r.column)).map(_.column)
          val target = spark.conf
            .getOption("spark.graft.cluster.target.bytes")
            .map(_.toLong).getOrElse(128L << 20)
          // A genuinely multi-dimensional range workload gets a Z-ORDER
          // layout: a lexicographic (a, b) sort leaves every file
          // spanning all of b, so only a-probes would skip — Morton
          // interleaving makes each file a rectangle and BOTH probes
          // prune (the same argument the repo's own q92/q120 measure).
          val kind = if (sortCols.length >= 2) {
            t.clusterZOrder(spark, sortCols, target); "zorder"
          } else {
            t.cluster(spark, sortCols, target); "cluster"
          }
          Some(s"$kind(${sortCols.mkString(",")}) on $path " +
            s"[${cl.map(_.hits).sum} probes]")
        }
        val cols = (existing ++ st.map(_.column)).distinct
        val statsLine = if (cols.isEmpty) None else {
          t.recordColumnStats(spark, cols)
          if (st.isEmpty) None // a pure re-record after the layout move
          else Some(s"column_stats(${st.map(_.column).sorted.mkString(",")}) " +
            s"on $path [${st.map(_.hits).sum} probes]")
        }
        vacuumLine.toSeq ++ compactLine.toSeq ++ clusterLine.toSeq ++
          statsLine.toSeq
      }
    }
    built ++ rebuilt
  }
}
