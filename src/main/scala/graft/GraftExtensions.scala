package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions._

/** The engine's SQL surface: every custom Catalyst expression exposed as a
  * SQL function, both per-session ([[registerAll]], temp functions) and as
  * cluster-level wiring via `SparkSessionExtensions` — the deployment path
  * is `spark.sql.extensions=graft.GraftExtensions`, mirroring how the
  * reference enables Hudi's SQL surface through Spark session config
  * (glue-streaming-job-script/glue_job_script.py:19's `.config(...)` style).
  * The same wiring installs three optimizer rules — the year-predicate
  * range, the materialized-rollup rewrite and [[graft.plans.KeyedServe]],
  * the one rule that serves keyed-table reads from their sidecars — and
  * the catalog-registry resolution hook.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.builders.foreach { case (name, builder) =>
      e.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        builder))
    }
    // Optimizer rules: year(col) <cmp> literal → sargable range
    // ([[graft.plans.YearPredicateToRange]]).
    e.injectOptimizerRule(_ => graft.plans.YearPredicateToRange)
    // Aggregate-over-base → registered materialized rollup
    // ([[graft.plans.MvAggregateRewrite]]); no-op while no MV is
    // registered.
    e.injectOptimizerRule(s => new graft.plans.MvAggregateRewrite(s))
    // Reads of registered keyed tables served from their sidecars:
    // point, range, top-k, grouped top-k, join and stats-aggregate
    // pruning as ONE rule ([[graft.plans.KeyedServe]] — the families'
    // order and its reasons live there); no-op while no keyed table has
    // been read in the session.
    e.injectOptimizerRule(s => new graft.plans.KeyedServe(s))
    // Resolution hook: when a query references a table the session
    // catalog doesn't know, consult the persistent registry
    // ([[graft.table.GraftCatalog]]) before resolution fails — discovery
    // at name-resolution time, exactly when a Hive metastore would be
    // consulted. No-op unless spark.graft.catalog.registry is set.
    e.injectResolutionRule(s => new graft.plans.RegistryDiscovery(s))
  }
}

object GraftExtensions {

  /** name → Expression builder, shared by both registration paths. */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_similarity" -> (es => CosineSimilarity(es.head, es(1))),
    "dot_product" -> (es => DotProduct(es.head, es(1))),
    "hamming64" -> (es => HammingDistance64(es.head, es(1))),
    "rolling_hash" -> (es => RollingHash(es.head)),
    "simhash64" -> (es => SimHash64(es.head)),
    "sorted_intersect_count" -> (es => SortedIntersectCount(es.head, es(1))),
    "minhash_signature" -> (es =>
      MinHashSignature(
        es.head,
        es(1).eval().asInstanceOf[Number].intValue()))
  )

  /** Session-scoped registration (temp functions) — `spark.sql` can then
    * call every engine function directly.
    */
  def registerAll(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    builders.foreach { case (name, builder) =>
      registry.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }
}
