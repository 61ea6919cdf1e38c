package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.schema.SchemaEvolution
import graft.table.KeyedTable

/** The reference's micro-batch driver loop
  * (glue-streaming-job-script/glue_job_script.py:96-118) as Structured
  * Streaming: every trigger interval the new records become a batch
  * DataFrame, empty batches are skipped (py:98), the batch is
  * schema-aligned against the current table (py:103 → 81-94) and upserted
  * (py:105-109). Progress is checkpointed for exactly-once restart —
  * subsuming both the Spark checkpoint (py:116) and the Glue job bookmark
  * (Template.yaml:278).
  *
  * Scale notes: `foreachBatch` (rather than a direct streaming sink) is the
  * load-bearing choice, exactly as in the reference — it is what allows
  * per-batch schema resolution, which a fixed-schema streaming sink cannot
  * do (SURVEY §7.4). A small batch is read ONCE: when its input fits the
  * session's broadcast-join threshold — the size Spark itself collects to
  * the driver — one single-task collect bounded at
  * [[KeyedTable.MaxSnapshotRows]] + 1 rows replaces the reference's
  * `count() > 0` and doubles as the emptiness test. A batch within both
  * bounds continues as a driver-local relation, so `prep`'s column probe,
  * the upsert's partition-tuple collect and the merge's batch side all
  * read those rows without scanning the source again. A batch past either
  * bound keeps the distributed frame; one over the byte bound (or of
  * unknown size, e.g. a non-file source) is never collected, only probed
  * for a first row. The win therefore needs small batches: on
  * `maxFilesPerTrigger = 1` JSON ingest, every batch of the reference
  * workload qualifies.
  */
object MicroBatchPipeline {

  /** Wire `source` (a streaming DataFrame) into `table` and start the query.
    *
    * @param trigger    micro-batch cadence; the reference's `windowSize`
    *                   default is "10 seconds" (Template.yaml:30-33); tests
    *                   use `Trigger.AvailableNow` for a bounded drain.
    * @param checkpoint offsets + commit log dir (py:116).
    * @param write      the per-batch write operation — defaults to the
    *                   partition-level [[KeyedTable.upsert]]; pass
    *                   `(t, sp, b) => t.upsertBloomIndexed(sp, b)` to run
    *                   the same loop through the file-level bloom path
    *                   (q115), or any other write op the table supports.
    * @param prep       per-batch transform applied BEFORE schema alignment
    *                   — the DynamicFrame-conversion point of the
    *                   reference loop (py:99-103, `fromDF` → evolve).
    *                   Pass [[SchemaEvolution.dropAbsentColumns]] to model
    *                   a schema-on-read transport whose batches carry only
    *                   the fields their records have, so a column that
    *                   first appears MID-STREAM widens the table at that
    *                   batch rather than existing null-filled from
    *                   bootstrap. It sees the batch's columns only: a
    *                   source's hidden `_metadata` fields must be
    *                   projected in the source, as
    *                   [[graft.sources.JsonStreamSource.streamSharded]]
    *                   does for `transport_seq`.
    */
  def start(
      source: DataFrame,
      table: KeyedTable,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
      queryName: String = "graft-upsert-pipeline",
      write: (KeyedTable, org.apache.spark.sql.SparkSession, DataFrame) => Unit =
        (t, sp, b) => t.upsert(sp, b),
      prep: DataFrame => DataFrame = identity): StreamingQuery = {

    val processBatch: (Dataset[Row], Long) => Unit = (batch, _) => {
      val spark = batch.sparkSession
      driverLocal(batch.toDF()).foreach { rows =>
        val aligned =
          SchemaEvolution.align(prep(rows), table.currentUserSchema(spark))
        write(table, spark, aligned)
      }
    }

    source.writeStream
      .queryName(queryName)
      .foreachBatch(processBatch)
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .start()
  }

  /** The batch to write — a local relation when the batch is small (see
    * the scale notes), else `df` itself — or None when it has no rows.
    * The byte size is the plan's input size, known before any job runs;
    * `coalesce(1)` makes the collect one job whatever the file count.
    */
  private def driverLocal(df: DataFrame): Option[DataFrame] = {
    val spark = df.sparkSession
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes >
        spark.sessionState.conf.autoBroadcastJoinThreshold)
      if (df.isEmpty) None else Some(df)
    else {
      val head = df.coalesce(1).limit(KeyedTable.MaxSnapshotRows + 1).collect()
      if (head.length == 0) None
      else if (head.length > KeyedTable.MaxSnapshotRows) Some(df)
      else Some(spark.createDataFrame(java.util.Arrays.asList(head: _*), df.schema))
    }
  }
}
