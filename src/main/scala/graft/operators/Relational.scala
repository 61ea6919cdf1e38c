package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Scratch
import graft.sources.Tables

/** Cross-engine-exact numeric helpers. Double aggregation is
  * order-dependent (parallel sums reassociate), so any double the oracle
  * must hash-match is computed through exact decimal arithmetic and cast to
  * double once at the end: `CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE)`
  * on both engines yields the same rational, hence the same double bits,
  * under any partitioning or row order — which is also what makes these
  * results stable from local[32] to a 1000-executor cluster.
  */
object Exact {
  private val Money = DecimalType(18, 4)
  private val Frac = DecimalType(5, 4)

  def dec(c: Column): Column = c.cast(Money)
  def frac(c: Column): Column = c.cast(Frac)

  /** Exact sum of a money-scale double column, as double. */
  def dsum(c: Column): Column = sum(dec(c)).cast("double")

  /** Exact sum of an already-decimal product column, as double. */
  def dsumRaw(c: Column): Column = sum(c).cast("double")

  /** Exact average (sum/count in double — single deterministic division). */
  def davg(c: Column): Column = sum(dec(c)).cast("double") / count(c)

  /** price * (1 - discount), exact decimal. */
  def discounted(price: Column, discount: Column): Column =
    dec(price) * (lit(1).cast(Frac) - frac(discount))

  /** price * (1 - discount) * (1 + tax), exact decimal. */
  def charged(price: Column, discount: Column, tax: Column): Column =
    dec(price) * ((lit(1).cast(Frac) - frac(discount)) *
      (lit(1).cast(Frac) + frac(tax)))
}

/** The relational operator battery (SURVEY §7.3 step 5): every
  * SQL-expressible operator class — scan, filter/project, equi/broadcast/
  * semi/anti join, hash aggregate, distinct, sort/limit/top-k, set ops,
  * window functions, rollup, scalar functions, subqueries, conditional
  * aggregation, pivot — as thin, named DataFrame programs over the fixture
  * tables, each with a DuckDB oracle in [[graft.SparkEntry.oracleSql]].
  *
  * Scale notes are per-query in the Scaladoc: broadcast hints on dimension
  * joins, aggregate-before-join shapes, and window partition keys chosen so
  * each plan's shuffles stay proportional to its group/partition count.
  */
object Relational {
  import Exact._

  private def ts(s: String): Column = lit(s).cast("timestamp")

  /** Q1-style full-scan hash aggregate over lineitem: partial (map-side)
    * aggregation makes the shuffle proportional to group count (a few
    * flag/status pairs), not row count — the shape that survives 100 TB.
    */
  def aggPricing(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= ts("1998-09-01 00:00:00"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsumRaw(discounted(col("l_extendedprice"), col("l_discount"))).as("sum_disc_price"),
        dsumRaw(charged(col("l_extendedprice"), col("l_discount"), col("l_tax"))).as("sum_charge"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        count(lit(1)).as("count_order"))

  /** Selective filter + narrow projection — both reach the parquet scan
    * (PushedFilters + 4-column ReadSchema in the formatted plan).
    */
  def filterProject(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(
        col("l_shipdate") >= ts("1996-01-01 00:00:00") &&
        col("l_shipdate") < ts("1997-01-01 00:00:00") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")

  /** Q3-style 3-way join + agg + top-k. customer is the small side →
    * broadcast; orders⋈lineitem shuffles on the join key which is also the
    * aggregation key, so the agg reuses the join partitioning (one
    * exchange, not two).
    */
  def joinTopK(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") < ts("1997-03-15 00:00:00"))
    val l = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") > ts("1997-03-15 00:00:00"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderkey"))
      .agg(dsumRaw(discounted(col("l_extendedprice"), col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  /** Star join: fact ⋈ three broadcast dimensions, aggregate by nation.
    * All three dims are broadcast — zero shuffles for the joins; the only
    * exchange is the final small aggregation.
    */
  def broadcastStar(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
    val sup = Tables.supplier(s, dir)
    val n = Tables.nation(s, dir)
    val r = Tables.region(s, dir)
    l.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        dsumRaw(discounted(col("l_extendedprice"), col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_items"))

  }

  /** Left-semi join (EXISTS): orders having at least one high-quantity
    * line. Semi join stops at first match — no fan-out.
    */
  def semiJoin(s: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(s, dir).filter(col("l_quantity") > 45)
      .select(col("l_orderkey"))
    Tables.orders(s, dir)
      .join(big, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .select("o_orderkey", "o_totalprice")
  }

  /** Left-anti join (NOT EXISTS): orders with no near-max-quantity line
    * (guaranteed non-empty at every scale factor).
    */
  def antiJoin(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .join(
        Tables.lineitem(s, dir).filter(col("l_quantity") > 49)
          .select(col("l_orderkey")),
        col("o_orderkey") === col("l_orderkey"),
        "left_anti")
      .select("o_orderkey", "o_custkey")

  /** Distinct (shuffle-dedup) over a 2-column projection. */
  def distinctPairs(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select("l_returnflag", "l_linestatus")
      .distinct()

  /** Global top-k via sort+limit: Spark runs TakeOrderedAndProject — each
    * partition keeps k rows, the driver merges k·p, no global sort.
    */
  def sortLimit(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select("o_orderkey", "o_totalprice", "o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)

  /** Window ranking: top-3 orders per customer (row_number, fully
    * tie-broken so the result set is deterministic).
    */
  def windowRank(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, dir)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rnk")
  }

  /** Running (cumulative) sum per supplier in a pinned total order; the
    * cumulative sum is decimal-exact so every prefix matches the oracle.
    */
  def windowRunning(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.lineitem(s, dir)
      .filter(col("l_suppkey") <= 10)
      .withColumn("running_qty", sum(dec(col("l_quantity"))).over(w).cast("double"))
      .select("l_suppkey", "l_orderkey", "l_linenumber", "running_qty")
  }

  /** RANGE-frame window (the VALUE-bounded frame class, distinct from the
    * ROWS frame of [[windowRunning]]): per user, the rolling sum of event
    * value over the trailing hour of EVENT TIME. A range frame includes
    * every row whose ordering value falls inside the bound, so ties need
    * no secondary sort to be deterministic — the frame content is defined
    * by values, not positions — which is what makes it cross-engine
    * exact. Exact-decimal sum per the [[Exact]] rules.
    */
  def windowRangeHour(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"))
      .rangeBetween(-3600000000L, 0L)
    Tables.events(s, dir)
      .withColumn("ts_us", expr("ts div 1000"))
      .withColumn("rolling_value",
        sum(dec(col("value"))).over(w).cast("double"))
      .select("user_id", "event_id", "ts_us", "rolling_value")
  }

  /** UNION (distinct) of two keysets. */
  def unionKeys(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).select(col("c_nationkey").as("nationkey"))
      .union(Tables.supplier(s, dir).select(col("s_nationkey").as("nationkey")))
      .distinct()

  /** INTERSECT of two keysets. */
  def intersectKeys(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).select(col("c_nationkey").as("nationkey"))
      .intersect(Tables.supplier(s, dir).select(col("s_nationkey").as("nationkey")))

  /** EXCEPT of two derived keysets: orders that have a 45<qty line but no
    * 48<qty line (non-empty at every scale factor).
    */
  def exceptKeys(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
    l.filter(col("l_quantity") > 45).select(col("l_orderkey").as("orderkey"))
      .except(l.filter(col("l_quantity") > 48).select(col("l_orderkey").as("orderkey")))
  }

  /** ROLLUP on (returnflag, linestatus); subtotal rows are labelled 'ALL'
    * (the fixture columns are never null, so the label is unambiguous).
    */
  def rollupCounts(s: SparkSession, dir: String): DataFrame =
    // Two-phase like [[cubeCounts]]: pre-aggregate to the full grain,
    // roll up the decimal partials (associative → bit-identical).
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("n0"),
        sum(dec(col("l_quantity"))).as("q0"))
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("n0")).as("n"),
        sum(col("q0")).cast("double").as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("n"), col("sum_qty"))

  /** CUBE on (returnflag, linestatus): all 2ⁿ grouping sets; subtotal
    * labels as in [[rollupCounts]].
    */
  def cubeCounts(s: SparkSession, dir: String): DataFrame =
    // Two-phase cube: pre-aggregate to the (rf, ls) grain FIRST — a
    // direct cube Expands every scan row once per grouping set (4x the
    // input before any aggregation), while the base grain is ~|rf|x|ls|
    // rows. The cube then re-sums the DECIMAL partials, which is
    // associative, so the final doubles are bit-identical to the
    // single-phase plan. At 100 TB this is the difference between
    // shuffling 4x the table and shuffling a dozen rows.
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("n0"),
        sum(dec(col("l_extendedprice"))).as("p0"))
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("n0")).as("n"),
        sum(col("p0")).cast("double").as("sum_price"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("n"), col("sum_price"))

  /** Gap-based sessionization over the events table (batch form): a new
    * session starts when a user's inter-event gap exceeds `gapUs`. One
    * window pass computes the session index (lag + running sum of
    * session-start flags — all integer arithmetic, oracle-exact), then a
    * hash aggregate per (user, session). The streaming form is
    * flatMapGroupsWithState (see StreamingSpec) — same session contract,
    * incremental state. Scale: both shuffle once on user_id.
    */
  def sessionize(s: SparkSession, dir: String, gapUs: Long = 3600L * 1000 * 1000): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val cum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .withColumn("ts_us", expr("ts div 1000"))
      .withColumn("prev_ts", lag(col("ts_us"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_ts").isNull || col("ts_us") - col("prev_ts") > gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_sess")).over(cum))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts_us")).as("session_start"),
        max(col("ts_us")).as("session_end"))
  }

  /** Scalar date/string/math function surface (SURVEY §2.2's implied
    * vocabulary: to_date/year/month/when/…), row-level, no shuffle.
    */
  def scalarFuncs(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("od_year"),
        month(col("o_orderdate")).as("od_month"),
        dayofmonth(col("o_orderdate")).as("od_day"),
        date_format(col("o_orderdate"), "yyyy-MM").as("od_ym"),
        upper(substring(col("o_orderpriority"), 1, 1)).as("prio_code"),
        length(col("o_orderpriority")).as("prio_len"),
        concat(col("o_orderstatus"), lit("#"), col("o_orderpriority")).as("status_tag"),
        when(col("o_totalprice") > 300000.0, "big")
          .when(col("o_totalprice") > 100000.0, "mid")
          .otherwise("small").as("size_class"))

  /** GROUP BY + HAVING: customers with ≥ 12 orders. */
  def havingCount(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_spent"))
      .filter(col("n_orders") >= 12)

  /** IN-subquery (orders of BUILDING-segment customers) — planned as a
    * broadcast left-semi join.
    */
  def inSubquery(s: SparkSession, dir: String): DataFrame = {
    val building = Tables.customer(s, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    Tables.orders(s, dir)
      .join(broadcast(building), col("o_custkey") === col("c_custkey"), "left_semi")
      .select("o_orderkey", "o_custkey", "o_totalprice")
  }

  /** Scalar subquery: lineitems priced above 1.5× the global average.
    * The average is computed exactly (decimal) then broadcast — one scan
    * for the aggregate, one for the filter.
    */
  def scalarSubquery(s: SparkSession, dir: String): DataFrame = {
    val avgDf = Tables.lineitem(s, dir)
      .agg(davg(col("l_extendedprice")).as("avg_price"))
    Tables.lineitem(s, dir)
      .crossJoin(broadcast(avgDf))
      .filter(col("l_extendedprice") > col("avg_price") * 1.5)
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
  }

  /** Conditional aggregation (CASE inside SUM/COUNT). */
  def conditionalAgg(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("n_finished"),
        dsumRaw(when(col("o_orderstatus") === "O",
          dec(col("o_totalprice"))).otherwise(dec(lit(0)))).as("open_value"))

  /** Pivot events by event_type via conditional aggregation (the
    * oracle-parity form of `groupBy.pivot`): one shuffle by user_id.
    */
  def pivotEvents(s: SparkSession, dir: String): DataFrame = {
    def cnt(t: String) =
      sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"n_$t")
    Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(cnt("click"), cnt("view"), cnt("purchase"), cnt("signup"), cnt("error"),
        dsum(col("value")).as("total_value"))
  }

  /** JSON-ish extraction from the events.props string payload — the
    * engine-side analogue of the reference's JSON record decoding
    * (glue_job_script.py:42); regex keeps the oracle engine-neutral.
    */
  def jsonExtract(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(
        col("event_id"),
        regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("int").as("k_val"))

  /** Event-time tumbling-window aggregation over the events stream table,
    * batch form: hourly buckets per event type. The bucket is integer
    * arithmetic on epoch-micros (`ts div 1000 div 3600e6`) so the oracle
    * (`epoch_us(ts) // 3600000000`) lands on identical keys. The streaming
    * form (window() + watermark) is in [[graft.streaming]] tests — batch
    * and stream share this grouping.
    */
  def eventWindows(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(
        expr("(ts div 1000) div 3600000000").as("hour_bucket"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        dsum(col("value")).as("sum_value"),
        countDistinct(col("user_id")).as("n_users"))

  /** Join + date-dimension aggregation: monthly revenue for 1997 orders. */
  /** Conversion funnel over events at rest: per user, the first view, the
    * first click at-or-after that view, and the first purchase at-or-after
    * that click (nulls where a stage was never reached). Every stage is a
    * keyed aggregate joined back on `user_id`: all shuffles share the one
    * key, so the stages co-partition, and each successive join's right
    * side shrinks as the funnel narrows (broadcast-sized in practice).
    */
  def funnel(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), expr("ts div 1000").as("ts_us"))
    val v = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts_us").as("view_ts"))
    val c = e.filter(col("event_type") === "click")
      .withColumnRenamed("user_id", "c_user")
      .join(v, col("c_user") === col("user_id") && col("ts_us") >= col("view_ts"))
      .groupBy(col("c_user")).agg(min("ts_us").as("click_ts"))
      .withColumnRenamed("c_user", "user_id")
    val p = e.filter(col("event_type") === "purchase")
      .withColumnRenamed("user_id", "p_user")
      .join(c, col("p_user") === col("user_id") && col("ts_us") >= col("click_ts"))
      .groupBy(col("p_user")).agg(min("ts_us").as("purchase_ts"))
      .withColumnRenamed("p_user", "user_id")
    v.join(c, Seq("user_id"), "left")
      .join(p, Seq("user_id"), "left")
  }

  /** Per-user event-type transition matrix: for each (from, to) pair of
    * consecutive events in a user's timeline, the transition count and its
    * share among transitions leaving `from`. One window pass keyed on
    * user (lead), one aggregate, one broadcast-sized share window — the
    * heavy shuffle is the user-keyed sort, shared shape with
    * sessionization. The share divides two exact longs, so the double is
    * bit-stable under any partitioning.
    */
  def eventTransitions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val seq = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts div 1000").as("ts_us"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
    val shareW = Window.partitionBy(col("from_type"))
    seq
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("share",
        col("n").cast("double") / sum(col("n")).over(shareW).cast("double"))
  }

  def monthlyRevenue(s: SparkSession, dir: String): DataFrame = {
    // Written as the natural year() predicate on purpose: the engine's
    // optimizer rule ([[graft.plans.YearPredicateToRange]], injected via
    // GraftExtensions in every session) rewrites it into the half-open
    // date range that reaches the parquet scan's PushedFilters — the
    // query exercises the rule instead of hand-duplicating the rewrite.
    val o = Tables.orders(s, dir)
      .filter(year(col("o_orderdate")) === 1997)
    Tables.lineitem(s, dir)
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(month(col("o_orderdate")).as("od_month"))
      .agg(
        dsumRaw(discounted(col("l_extendedprice"), col("l_discount"))).as("revenue"),
        countDistinct(col("o_orderkey")).as("n_orders"))
  }

  /** Revenue by year over a date-partitioned fact, where the year set
    * comes from a runtime subquery — the dynamic-partition-pruning shape
    * (star-schema "scan only the partitions the dim filter selects"). The
    * fact is `orders` hive-partitioned by `o_year`; the dim is the years
    * that contain an over-threshold order, unknowable at plan time.
    * Catalyst inserts a `DynamicPruningSubquery` on the partition column
    * (asserted by `DppSpec`), so the fact scan lists and reads ONLY the
    * matching year directories — at 100 TB the difference between
    * scanning 7 years of files and 2. The dim is broadcast: DPP reuses
    * the broadcast exchange, so pruning costs one tiny subquery, not a
    * second fact pass. Revenue goes through the exact-decimal sum
    * ([[Exact.dsum]]) so the double is partition-order-independent.
    */
  def partitionPrunedRevenue(
      s: SparkSession, dir: String, threshold: Double = 499000.0): DataFrame = {
    // Hive-partitioned copy of `orders` (by o_year), one write per
    // (session, dir) — scaffolding: a production fact table IS stored
    // partitioned; the fixture isn't, so the layout is materialized once
    // and the MEASURED query is the pruned join. Keyed by session
    // identity like the media fixtures (a dir-keyed path could outlive
    // its creating session's temp space).
    val path = Scratch.once("dppOrders", System.identityHashCode(s), dir) { r =>
      val p = s"$r/orders"
      Tables.orders(s, dir)
        .withColumn("o_year", year(col("o_orderdate")).cast("int"))
        .write.partitionBy("o_year").parquet(p)
      p
    }
    val fact = s.read.parquet(path)
    val dim = Tables.orders(s, dir)
      .filter(col("o_totalprice") > threshold)
      .select(year(col("o_orderdate")).cast("int").as("dim_year"))
      .distinct()
    fact.join(broadcast(dim), col("o_year") === col("dim_year"))
      .groupBy(col("o_year"))
      .agg(
        Exact.dsum(col("o_totalprice")).as("revenue"),
        count(lit(1)).as("n_orders"))
      .select(col("o_year"), col("revenue"), col("n_orders"))
  }
}
