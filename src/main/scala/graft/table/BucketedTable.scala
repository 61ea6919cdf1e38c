package graft.table

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Scratch
import graft.operators.Exact
import graft.sources.Tables

/** Bucketed table writes — the co-located-join lever for repeated big⋈big
  * joins (SURVEY §7 / builder brief: "bucketing for co-located joins").
  *
  * A shuffle join at 100 TB moves both sides over the network every time
  * the join runs. Writing each side `bucketBy(n, key)` pre-hash-partitions
  * the data ON DISK into `n` files per partition by the same hash Spark's
  * shuffle would use, and `sortBy` orders rows within each bucket — so a
  * sort-merge join between two tables bucketed on the join key with the
  * same bucket count reads matching buckets pairwise with NO exchange (and
  * no per-query sort when each bucket holds one file): the shuffle is paid
  * once at write time and amortized over every subsequent join, the same
  * trade the write-time sketch/cid index in [[SketchedTable]] makes for
  * ANN probes. The bucket metadata lives in the session catalog
  * (`saveAsTable`), which is what lets the planner prove co-location.
  *
  * The spec asserts the plan property directly: joining two bucketed
  * tables on the bucket key produces an executed plan with zero
  * `Exchange` nodes.
  */
object BucketedTable {

  /** Write `df` as a bucketed, per-bucket-sorted parquet table. With
    * `path` the table is external (a fresh session can re-register over a
    * location left by a previous run — a managed CREATE would refuse the
    * existing directory); without, managed in the session warehouse.
    */
  def write(
      df: DataFrame,
      table: String,
      buckets: Int,
      key: String,
      sortCols: Seq[String] = Nil,
      path: Option[String] = None): Unit = {
    val sorts = if (sortCols.isEmpty) Seq(key) else sortCols
    val w = df.write.mode("overwrite")
      .format("parquet")
      .bucketBy(buckets, key)
      .sortBy(sorts.head, sorts.tail: _*)
    path.foreach(w.option("path", _))
    w.saveAsTable(table)
  }

  val Buckets = 8

  /** Bucket the orders/customer pair on the customer key, once per
    * (JVM, source dir) — the ingest-pipeline trade again: the co-location
    * shuffle is paid at write, every subsequent join and custkey-grouped
    * aggregate rides it free — registered in the session catalog.
    */
  def ensureCustomerBucketed(s: SparkSession, dir: String): (String, String) = {
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
    val ot = s"graft_bkt_orders_$key"
    val ct = s"graft_bkt_customer_$key"
    def register(base: String): Unit = {
      write(
        Tables.orders(s, dir).select("o_custkey", "o_orderkey", "o_totalprice"),
        ot, Buckets, "o_custkey", path = Some(s"$base/orders"))
      write(
        Tables.customer(s, dir).select("c_custkey", "c_mktsegment"),
        ct, Buckets, "c_custkey", path = Some(s"$base/customer"))
    }
    val base = Scratch.once("bucketed", dir) { r => register(r); r }
    // The files are per-JVM but registration lives in the session
    // catalog: an independently built SparkSession (own
    // SharedState/metastore) in the same JVM finds the files yet has no
    // such tables. Re-register over the external location when the
    // catalog disagrees.
    if (!s.catalog.tableExists(ot) || !s.catalog.tableExists(ct)) register(base)
    (ot, ct)
  }

  /** Per-customer order statistics over the bucketed pair: the join key
    * AND the grouping key are the bucket key, so with broadcast disabled
    * the whole plan — join and aggregate — runs without a single
    * exchange (the property `BucketedJoinSpec` asserts). Exact-decimal
    * money sum, as everywhere.
    */
  def bucketedOrderStats(s: SparkSession, dir: String): DataFrame = {
    val (ot, ct) = ensureCustomerBucketed(s, dir)
    s.table(ot)
      .join(s.table(ct), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_orders"),
        Exact.dsum(col("o_totalprice")).as("total_spent"))
  }
}
