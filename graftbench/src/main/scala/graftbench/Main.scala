package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** The benchmark's entry point:
  *
  * {{{
  * Main --workload <ingest_small|mixed|curate> --seed <n>
  *      --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * One client thread drives a closed loop against a `local[N]` session.
  * With `--trace 0` the last stdout line holds the end-to-end metrics;
  * with `--trace 1` it holds the per-layer metrics of a traced run. The
  * process exits 1 when any answer disagreed with the model.
  */
object Main {
  val Workloads: Seq[String] = Seq("ingest_small", "mixed", "curate")

  def session(cores: Int, work: String): SparkSession = {
    val builder = graft.Sessions.builder(s"local[$cores]", cores.toString)
    NioPerms.SparkConf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder
      .appName("graftbench")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    require(Workloads.contains(workload),
      s"unknown workload '$workload'; expected one of ${Workloads.mkString(", ")}")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    // At these input sizes two cores run every workload as fast as four,
    // and the spare cores keep the timings steadier on a shared host.
    val cores = math.min(2, Runtime.getRuntime.availableProcessors())
    Files.createDirectories(work)

    val t0 = System.nanoTime()
    def phase(what: String): Unit =
      System.err.println(f"[graftbench] ${(System.nanoTime() - t0) / 1e9}%.1fs $what")
    var spark = session(cores, work.toString)
    phase("session up")
    val tracer = new Tracer(traced)
    def ctxFor(s: SparkSession) =
      new Ctx(s, tracer, SparkCounters.install(s), seed, seconds, traced, work)
    val ctx = ctxFor(spark)
    val out = workload match {
      case "ingest_small" => Ingest.run(ctx)
      case "mixed" => Events.mixed(ctx)
      case "curate" => Curate.run(ctx)
    }
    phase("workload done")
    val heap = Metric("heap_retained_mb", Jvm.heapRetainedMb(), "MB")
    val baseline =
      if (traced && workload == "ingest_small") {
        spark.stop()
        spark = session(1, work.toString)
        Ingest.baseline(ctxFor(spark))
      } else Nil
    spark.stop()
    if (traced) tracer.write(work.resolve(s"trace_${workload}_$seed.jsonl"))
    phase("stopped")

    val metrics =
      if (traced) Layers.complete(out.layers ++ baseline)
      else out.endToEnd :+ heap
    (out.endToEnd :+ heap) ++ out.detail ++
      Seq(Metric("fail_ratio", out.failed.toDouble / out.attempted, "ratio")) foreach { m =>
      println(f"metric ${m.name}%-24s ${m.value}%.6g ${m.unit}")
    }
    val correct = out.failed == 0
    println(ResultJson.render(correct, out.attempted, out.failed, metrics))
    System.out.flush()
    if (!correct) sys.exit(1)
  }
}

/** The per-layer metric set every traced run reports, in a fixed order; a
  * layer a workload does not call reads 0.
  */
object Layers {
  val Names: Seq[(String, String)] = Seq(
    "streaming.latest_offset_s" -> "s", "streaming.get_batch_s" -> "s",
    "streaming.query_planning_s" -> "s", "streaming.add_batch_s" -> "s",
    "streaming.wal_commit_s" -> "s", "sources.infer_schema_s" -> "s",
    "schema.align_s" -> "s", "schema.widenings" -> "count",
    "table.upsert_s" -> "s", "table.files_added" -> "count/commit",
    "table.files_removed" -> "count/commit", "table.partitions_touched" -> "count/commit",
    "table.write_amp" -> "ratio", "table.catalog_sync_s" -> "s",
    "table.stats_refresh_s" -> "s", "table.index_refresh_s" -> "s",
    "table.mv_refresh_s" -> "s", "table.sidecar_bytes" -> "B",
    "plans.plan_s" -> "s", "plans.exec_s" -> "s",
    "plans.files_scanned" -> "count/query", "plans.files_total" -> "count",
    "plans.served_ratio" -> "ratio",
    "operators.dedup_exact_s" -> "s", "operators.dedup_minhash_s" -> "s",
    "operators.ann_ivf_s" -> "s", "operators.text_quality_s" -> "s",
    "operators.vocabulary_s" -> "s", "operators.candidate_pairs" -> "count",
    "operators.candidate_precision" -> "ratio",
    "functions.cosine_s" -> "s", "functions.minhash_s" -> "s",
    "spark.jobs" -> "count/op", "spark.sql_executions" -> "count/op",
    "spark.tasks" -> "count/op", "spark.shuffle_bytes" -> "B/op",
    "spark.job_busy_s" -> "s", "spark.driver_gap_s" -> "s", "spark.gc_s" -> "s",
    "trace.overhead_ratio" -> "ratio",
    "baseline.local1_batch_p50_s" -> "s", "baseline.local1_rows_per_s" -> "rows/s")

  def complete(measured: Seq[Metric]): Seq[Metric] = {
    val got = measured.map(m => m.name -> m).toMap
    val unknown = got.keySet -- Names.map(_._1)
    require(unknown.isEmpty, s"per-layer metrics missing from the declared set: $unknown")
    Names.map { case (n, u) => got.getOrElse(n, Metric(n, 0.0, u)) }
  }
}
