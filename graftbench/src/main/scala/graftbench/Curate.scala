package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{TextFunctions, VectorFunctions}
import graft.operators.{Dedup, Similarity, TextAnalysis}

/** curate: a seeded corpus and embedding set with planted duplicates and
  * clusters, run through exact and MinHash dedup, IVF kNN, text quality,
  * vocabulary, and the codegen'd cosine and MinHash functions. One pass
  * over all of them is the job, the workload's operation; passes repeat in
  * a closed loop.
  */
object Curate {
  val SetupReps = 5
  val WarmPasses = 1
  val Docs = 800
  val Vectors = 800
  val Clusters = 12
  val Steps: Seq[String] = Seq("dedup_exact", "dedup_minhash", "ann_ivf", "text_quality",
    "vocabulary", "cosine", "minhash")

  final class Corpus(val dir: String, val docs: Seq[Doc], val exact: Seq[(Long, Long)],
      val near: Seq[(Long, Long)], val vecs: Seq[Vec], val queries: Seq[Long])

  val DocSchema: StructType = StructType.fromDDL(
    "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
  val VecSchema: StructType = StructType.fromDDL(
    "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")

  /** Generate the corpus and stage it as the two parquet tables the
    * operators read.
    */
  def stage(spark: SparkSession, seed: Long, dir: String): Corpus = {
    val gen = new CurateGen(seed, Docs, Vectors, Clusters)
    val (docs, exact, near) = gen.corpus()
    val vecs = gen.embeddings()
    val rng = new Rng(seed ^ 0x5DEECE66DL)
    val first = rng.below(Vectors)
    val queries = Seq(first, (first + 1 + rng.below(Vectors - 1)) % Vectors).map(_.toLong)
    spark.createDataFrame(
      docs.map(d => Row(d.id, d.text, d.lang, d.source, d.text.length.toLong)).asJava, DocSchema)
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    spark.createDataFrame(
      vecs.map(v => Row(v.id, v.v.toSeq, v.label)).asJava, VecSchema)
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    new Corpus(dir, docs, exact, near, vecs, queries)
  }

  object Joins extends AdaptiveSparkPlanHelper {
    /** Output rows of the plan's largest join: for the MinHash plan, the
      * band-bucket collisions (candidate pairs, one per shared band) that
      * verification then filters. The verify predicate can be pushed into
      * the join above, so that join's output is no candidate count.
      */
    def maxJoinRows(plan: SparkPlan): Long =
      collect(plan) { case j: BaseJoinExec => j }
        .flatMap(_.metrics.get("numOutputRows")).map(_.value).maxOption.getOrElse(0L)
  }

  /** Brute-force answers, computed once per run from the generator's rows. */
  final class Expected(c: Corpus) {
    val exactKeep: Set[Long] = CurateModel.exactKeep(c.docs)
    val shingles: Map[Long, Set[String]] =
      c.docs.map(d => d.id -> CurateModel.shingles(d.text, 3)).toMap
    /** Planted pairs similar enough that banding cannot miss them. */
    val mustFind: Set[(Long, Long)] = (c.exact ++ c.near)
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter { case (a, b) => CurateModel.jaccard(shingles(a), shingles(b)) >= 0.85 }.toSet
    val quality: Map[Long, Double] = c.docs.map(d => d.id -> CurateModel.quality(d.text)).toMap
    val vocabulary: Seq[String] =
      CurateModel.vocabulary(c.docs, 50).map { case (w, n, df) => s"$w|$n|$df" }
    val kth: Map[Long, Double] = c.queries.map(q => q -> CurateModel.kthCosine(c.vecs, q, 10)).toMap
    val byId: Map[Long, Array[Float]] = c.vecs.map(v => v.id -> v.v).toMap
    val probe: Array[Float] = c.vecs.head.v
    val cosineSum: Double = c.vecs.map(v => CurateModel.cosine(v.v, probe)).sum
  }

  /** One curate pass: every step is an operation checked against the model. */
  def pass(c: Corpus, want: Expected, ops: Ops, pairs: mutable.ArrayBuffer[(Long, Long)])(
      implicit ctx: Ctx): Unit = {
    val s = ctx.spark
    val tr = ctx.tracer
    ops.run("dedup_exact") {
      val kept = tr.span("operators.dedup_exact")(
        Dedup.exact(s, c.dir).select("doc_id").collect().map(_.getLong(0)).toSet)
      ops.check(kept == want.exactKeep,
        s"exact dedup kept ${kept.size} docs, model ${want.exactKeep.size}")
    }
    ops.run("dedup_minhash") {
      val df = Dedup.minhashLsh(s, c.dir)
      val found = tr.span("operators.dedup_minhash")(df.collect())
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      if (tr.enabled)
        pairs += ((Joins.maxJoinRows(df.queryExecution.executedPlan), found.length.toLong))
      val wrong = found.filter { case (a, b, j) =>
        math.abs(CurateModel.jaccard(want.shingles(a), want.shingles(b)) - j) > 1e-9 || j < 0.5
      }
      val missing = want.mustFind -- found.map(p => (p._1, p._2)).toSet
      ops.check(wrong.isEmpty && missing.isEmpty,
        s"minhash dedup: ${wrong.length} pairs with a wrong jaccard (${wrong.take(2).mkString}), " +
          s"${missing.size} planted pairs missing (${missing.take(2).mkString})")
    }
    c.queries.foreach { q =>
      ops.run("ann_ivf") {
        val ids = tr.span("operators.ann_ivf")(
          Similarity.annIvf(s, c.dir, queryId = q, k = 10).collect().map(_.getLong(0)))
        val qv = want.byId(q)
        val far = ids.filter(i => CurateModel.cosine(want.byId(i), qv) < want.kth(q) - 1e-6)
        ops.check(ids.length == 10 && ids.distinct.length == 10 && !ids.contains(q) && far.isEmpty,
          s"IVF kNN for $q returned ${ids.mkString(",")}; ${far.length} farther than the 10th neighbour")
      }
    }
    ops.run("text_quality") {
      val got = tr.span("operators.text_quality")(
        TextAnalysis.quality(s, c.dir).select("doc_id", "quality").collect())
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val bad = got.count { case (id, v) => math.abs(want.quality(id) - v) > 1e-12 }
      ops.check(got.size == want.quality.size && bad == 0,
        s"text quality: ${got.size} scores, $bad differ from the model")
    }
    ops.run("vocabulary") {
      val got = tr.span("operators.vocabulary")(TextAnalysis.vocabulary(s, c.dir, 50).collect())
        .map(r => s"${r.getString(0)}|${r.getLong(1)}|${r.getLong(2)}").toSeq
      ops.check(got == want.vocabulary,
        s"vocabulary top-50 differs from the model: ${got.take(3)} vs ${want.vocabulary.take(3)}")
    }
    ops.run("cosine") {
      val emb = s.read.parquet(s"${c.dir}/embeddings.parquet")
      val got = tr.span("functions.cosine")(emb
        .select(sum(VectorFunctions.cosineSim(col("embedding"), typedLit(want.probe.toSeq))))
        .head().getDouble(0))
      ops.check(math.abs(got - want.cosineSum) <= 1e-6 * want.byId.size,
        s"cosine similarity sum $got, model ${want.cosineSum}")
    }
    ops.run("minhash") {
      val docs = s.read.parquet(s"${c.dir}/documents.parquet")
      val sigs = tr.span("functions.minhash")(docs
        .select(col("doc_id"), TextFunctions.minhash(col("text"), 3, 64)).collect())
        .map(r => r.getLong(0) -> r.getSeq[Any](1).map(_.toString)).toMap
      val badLen = sigs.values.count(_.size != 64)
      val split = c.exact.count { case (a, b) => sigs(a) != sigs(b) }
      ops.check(sigs.size == c.docs.size && badLen == 0 && split == 0,
        s"minhash signatures: ${sigs.size} docs, $badLen not 64 long, " +
          s"$split identical texts with different signatures")
    }
  }

  def run(implicit ctx: Ctx): Outcome = {
    val setups = mutable.ArrayBuffer.empty[Double]
    var corpus: Corpus = null
    (0 until SetupReps).foreach { r =>
      val t0 = System.nanoTime()
      corpus = stage(ctx.spark, ctx.seed, ctx.dir(s"curate_$r"))
      setups += (System.nanoTime() - t0) / 1e9
    }
    System.err.println(s"[graftbench] set-up runs ${setups.mkString(", ")}")
    val want = new Expected(corpus)
    val ops = new Ops(ctx)
    val pairs = mutable.ArrayBuffer.empty[(Long, Long)]
    val jobs = mutable.ArrayBuffer.empty[Double]
    // The first pass runs cold (code generation, JIT, operator caches);
    // it warms up untimed.
    ops.warmUp(o => (0 until WarmPasses).foreach(_ => pass(corpus, want, o, pairs)))
    val gc0 = Jvm.gcSeconds
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    while (System.nanoTime() < deadline) {
      val t0 = System.nanoTime()
      pass(corpus, want, ops, pairs)
      jobs += (System.nanoTime() - t0) / 1e9
    }
    val gc = Jvm.gcSeconds - gc0
    System.err.println("[graftbench] pass samples: " + jobs.map(x => f"$x%.3f").mkString(" "))
    val input = Listing.bytesUnder(java.nio.file.Paths.get(corpus.dir))
    val rowsIn = (Docs + Vectors).toDouble
    val e2e = Seq(
      Metric("setup_s", Stats.median(setups.toSeq), "s"),
      Metric("op_p50_s", Stats.median(jobs.toSeq), "s"),
      Metric("rows_per_s", rowsIn / Stats.median(jobs.toSeq), "rows/s"),
      Metric("stored_bytes_per_row", input / rowsIn, "B/row"))
    val detail = Seq(Metric("job_s", Stats.median(jobs.toSeq), "s"),
      Metric("jobs", jobs.size.toDouble, "count")) ++ ops.latencyDetail("step", Steps: _*)
    val tr = ctx.tracer
    val layers = if (!ctx.traced) Nil else {
      val candidates = pairs.map(_._1).sum.toDouble
      Seq(
        Metric("operators.dedup_exact_s", tr.medianOf("operators.dedup_exact"), "s"),
        Metric("operators.dedup_minhash_s", tr.medianOf("operators.dedup_minhash"), "s"),
        Metric("operators.ann_ivf_s", tr.medianOf("operators.ann_ivf"), "s"),
        Metric("operators.text_quality_s", tr.medianOf("operators.text_quality"), "s"),
        Metric("operators.vocabulary_s", tr.medianOf("operators.vocabulary"), "s"),
        Metric("operators.candidate_pairs", if (pairs.isEmpty) 0.0 else candidates / pairs.size, "count"),
        Metric("operators.candidate_precision",
          if (candidates == 0) 0.0 else pairs.map(_._2).sum / candidates, "ratio"),
        Metric("functions.cosine_s", tr.medianOf("functions.cosine"), "s"),
        Metric("functions.minhash_s", tr.medianOf("functions.minhash"), "s")) ++
        ops.sparkMetrics(gc) :+ Metric("trace.overhead_ratio", ops.overheadRatio, "ratio")
    }
    Outcome(ops.attempted, ops.failed, e2e, detail, layers)
  }
}
