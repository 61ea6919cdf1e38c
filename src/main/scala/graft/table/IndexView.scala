package graft.table

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** A record-level or secondary index sidecar as of the current timeline —
  * the one reconciliation every index consumer reads through (the
  * counterpart of [[graft.plans.StatsView]] for the column-stats
  * sidecar). A sidecar is stamped with the `built_at` boundary it is
  * current as of; the commits after it fold in from their file records
  * ([[KeyedTable.fileDeltaAfter]]):
  *
  *  - entries in files a later commit removed drop ([[surviving]]) —
  *    their rows were re-added under that commit, so the added side
  *    covers them;
  *  - the added files' rows join as entries ([[current]]);
  *  - on a resolving table the union settles to one winner per resolve
  *    scope, ordered exactly as the data resolve orders rows.
  *
  * A stale index is therefore never wrong, only less selective. The
  * boundary a refresh stamps ([[boundary]]) and the delta come from ONE
  * timeline listing, so a commit landing mid-refresh is either folded in
  * under its own boundary or left for the next refresh — never folded in
  * under an older one.
  */
private[table] final class IndexView private (
    spark: SparkSession, table: KeyedTable,
    /** Every stored entry, `built_at` dropped. */
    val entries: DataFrame,
    /** Live files added after the sidecar's boundary. */
    val added: Seq[String],
    /** Files removed after the sidecar's boundary. */
    val removed: Seq[String],
    /** The last commit of the listing the delta came from. */
    val boundary: String) {

  /** No commit after the sidecar's boundary added or removed a file. */
  def fresh: Boolean = added.isEmpty && removed.isEmpty

  /** The entries whose file is still live. */
  def surviving: DataFrame =
    if (removed.isEmpty) entries
    else entries.filter(KeyedTable.notInSetUdf(removed)(col("file")))

  /** The added files' stored rows, or None when no file was added. */
  def addedRows: Option[DataFrame] =
    if (added.isEmpty) None else Some(table.readFilesRaw(spark, added))

  /** The index as of the listing: the surviving entries and the added
    * files' entries of `cols` (`resolve` applied to those files' rows
    * first), each narrowed by `narrow`, then settled on a resolving table.
    * `narrow` must keep or drop whole keys (a probe-key join): settling is
    * per key, so narrowing first picks the same winners.
    */
  def current(
      cols: Seq[Column], narrow: DataFrame => DataFrame = identity,
      resolve: DataFrame => DataFrame = identity): DataFrame = {
    val kept = narrow(surviving)
    val merged = addedRows.fold(kept) { rows =>
      kept.unionByName(narrow(
        resolve(rows.withColumn("_graft_rel", table.relFileName(spark))).select(cols: _*)))
    }
    if (table.rliResolves(spark)) table.rliResolveEntries(spark, merged) else merged
  }
}

private[table] object IndexView {

  /** The sidecar `dirName` of `table` as of the current timeline, or None
    * where no consumer may use it: the sidecar is absent, lacks a
    * `required` column, is empty, or its boundary's delta is unprovable
    * (the boundary is off the timeline, or a later marker has no file
    * record).
    */
  def open(
      spark: SparkSession, table: KeyedTable, dirName: String,
      required: Set[String]): Option[IndexView] = {
    val root = table.spec.path
    val dir = new Path(new Path(root), dirName)
    if (!dir.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(dir))
      return None
    val idx = spark.read.parquet(dir.toString)
    if (!required.subsetOf(idx.columns.toSet)) return None
    for {
      builtAt <- builtAtOf(spark, root, dir.toString, idx)
      markers = KeyedTable.timelineMarkers(spark, root)
      (added, removed) <- KeyedTable.fileDeltaAfter(spark, root, markers, builtAt)
    } yield new IndexView(spark, table, idx.drop("built_at"), added, removed,
      KeyedTable.boundaryOf(markers))
  }

  /** The sidecar's build boundary — the `built_at` of its head row.
    * Cached per (dir, table version): one `limit(1)` job instead of one
    * per consumer call, without collecting the (potentially
    * key-count-sized) sidecar itself. `None` = empty sidecar.
    */
  private def builtAtOf(
      spark: SparkSession, root: String, dir: String, idx: DataFrame): Option[String] =
    TableMetaCache.get(spark, root, ("builtAt", dir)) {
      KeyedTable.withMetaConf(spark)(
        idx.select(col("built_at")).limit(1).collect()).headOption.map(_.getString(0))
    }
}
