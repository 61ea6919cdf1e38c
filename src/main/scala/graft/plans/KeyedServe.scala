package graft.plans

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

import graft.table.{KeyedTable, TableMetaCache}

/** The one optimizer rule that serves reads of registered keyed tables
  * from their sidecars — the planner-side counterpart of the reference's
  * metadata-table reads. It holds the six pruning families, built with
  * the rule, and runs them in this order, each as one whole-plan
  * `transformUp` pass:
  *
  *   1. [[JoinPruneRewrite]] — star-join fact pruning. First, so the dim
  *      side's probe is still recognizable when the join is examined: the
  *      point family's serve swaps the dim scan off the registered path.
  *   1. [[PointLookupRewrite]] — `=`/`IN` through the record-level and
  *      secondary indexes.
  *   1. [[StatsAggregateRewrite]] — aggregates from the column-stats
  *      sidecar. Before the range family: both match a range filter over
  *      a registered scan, and once the range serve swaps the scan onto
  *      its candidate files the aggregate can no longer recognize the
  *      table — the union serve strictly dominates there (it opens only
  *      the BOUNDARY subset of the range candidates).
  *   1. [[TopKPruneRewrite]] — `ORDER BY … LIMIT k`. Before the range
  *      family for the same reason: a FILTERED top-k matches both, and
  *      the walk opens O(k) of the range's candidate files.
  *   1. [[GroupTopKRewrite]] — rank ≤ N per group, the per-group twin of
  *      top-k, in the same position for the same reason.
  *   1. [[RangePruneRewrite]] — range / null / IN-list file skipping. Last:
  *      when a family above declines a filtered shape, the range family
  *      still serves its filter in the same application.
  *
  * Whole-plan passes, not one per-node dispatch: a per-node dispatch
  * would let the range family take a `Filter` below an `Aggregate` before
  * the stats family saw the aggregate. The ordered passes give each family
  * exactly the plan it would see as a rule of its own.
  *
  * Per application there is one registry gate (no registered table: the
  * plan is returned untouched, no IO) and one [[TableMetaCache.pinVersions]]
  * scope, so every family's decline check and sidecar read agree on one
  * on-disk version per table, read once. A family that throws on a node
  * declines that node, and the error is logged.
  */
final class KeyedServe(spark: SparkSession) extends Rule[LogicalPlan] {

  private[plans] val point = new PointLookupRewrite(spark)
  private[plans] val range = new RangePruneRewrite(spark)
  private[plans] val join = new JoinPruneRewrite(spark, point, range)
  private[plans] val stats = new StatsAggregateRewrite(spark)
  private[plans] val topK = new TopKPruneRewrite(spark)
  private[plans] val groupTopK = new GroupTopKRewrite(spark)

  private val families: Seq[KeyedServe.Family] =
    Seq(join, point, stats, topK, groupTopK, range)

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (KeyedTable.specRegistry.isEmpty) plan
    else TableMetaCache.pinVersions(families.foldLeft(plan) { (p, family) =>
      p.transformUp { case node =>
        try family.rewrite(node).getOrElse(node)
        catch {
          case NonFatal(e) =>
            logInfo(s"${family.getClass.getSimpleName} declined on error: $e")
            node
        }
      }
    })
}

object KeyedServe {

  /** One pruning family: an IO-free matcher plus its serve. Declines are
    * remembered in the family's own memo ([[TableMetaCache.declineGated]]),
    * which lives as long as its [[KeyedServe]] — the session's optimizer
    * builds the injected rule for each optimization it runs.
    */
  private[plans] trait Family {

    /** The serves this instance declined, per probe and table versions. */
    protected val declines: scala.collection.mutable.Set[Any] =
      scala.collection.mutable.HashSet.empty

    /** `node` served from the table's sidecars, or None to leave it. */
    def rewrite(node: LogicalPlan): Option[LogicalPlan]
  }

  /** Every shape `matcher` finds in `plan` — the advisors' collector over a
    * family's IO-free matcher, so advice and serve share one matcher. A
    * matcher that throws on a node contributes nothing for it.
    */
  private[plans] def shapes[M](plan: LogicalPlan)(
      matcher: LogicalPlan => IterableOnce[M]): Seq[M] =
    if (KeyedTable.specRegistry.isEmpty) Nil
    else plan.flatMap(node =>
      try matcher(node) catch { case NonFatal(_) => Nil })
}
