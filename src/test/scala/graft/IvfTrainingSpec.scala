package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.functions.NearestCentroids
import graft.operators.Similarity
import graft.sources.Tables

/** IVF quantizer training has two paths: within the driver bound, one
  * bounded collect and Lloyd on the driver; past it (forced here with a
  * −1 broadcast threshold), the distributed rounds. Both must give the
  * same centroids bit for bit, and so the same ANN answers.
  */
class IvfTrainingSpec extends SparkTestBase {
  import spark.implicits._

  private val sf01 = Paths.get(sf001).resolveSibling("sf0.1").toString
  private val grid = Seq((16, 2), (8, 1), (64, 2), (32, 0), (16, 0), (2, 2), (3, 2), (4, 1), (5, 3))

  private def distributed[T](body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try body finally spark.conf.set(key, prev)
  }

  private def bits(c: Array[Array[Float]]): Seq[Seq[Int]] =
    c.toSeq.map(_.toSeq.map(java.lang.Float.floatToRawIntBits))

  /** `body`'s result and the Spark jobs it ran, under its own job group. */
  private def withJobs[T](body: => T): (T, Int) = {
    val group = s"ivf-${System.nanoTime()}"
    var out: Option[T] = None
    val jobs = jobsInGroup(group) {
      spark.sparkContext.setJobGroup(group, "ivf", interruptOnCancel = false)
      try out = Some(body) finally spark.sparkContext.clearJobGroup()
    }
    (out.get, jobs)
  }

  test("driver-trained centroids are bit-identical to the distributed rounds") {
    for (dir <- Seq(sf0001, sf001, sf01); (nlist, iters) <- grid) {
      val e = Tables.embeddings(spark, dir)
      val (local, localJobs) = withJobs(Similarity.ivfCentroids(e, nlist, iters))
      val (dist, distJobs) = withJobs(distributed(Similarity.ivfCentroids(e, nlist, iters)))
      assert(local.length == nlist)
      assert(bits(local) == bits(dist), s"$dir nlist=$nlist iters=$iters")
      // The driver path is a count and one collect whatever `iters` is.
      assert(localJobs <= 3, s"$dir nlist=$nlist iters=$iters: $localJobs jobs")
      if (iters > 0) assert(distJobs > localJobs, s"$dir nlist=$nlist iters=$iters")
    }
  }

  test("a null embedding row and a null element train the same on both paths") {
    val tmp = Files.createTempDirectory("ivf-nulls").toString
    Tables.embeddings(spark, sf0001)
      .withColumn("embedding",
        when(col("vec_id") === 7L, lit(null))
          .when(col("vec_id") === 11L, transform(col("embedding"),
            (x, i) => when(i === 3, lit(null).cast("float")).otherwise(x)))
          .otherwise(col("embedding")))
      .write.parquet(s"$tmp/embeddings.parquet")
    val e = Tables.embeddings(spark, tmp)
    assert(e.filter(col("embedding").isNull).count() == 1)
    for ((nlist, iters) <- Seq((4, 2), (8, 1), (16, 3))) {
      val local = Similarity.ivfCentroids(e, nlist, iters)
      val dist = distributed(Similarity.ivfCentroids(e, nlist, iters))
      assert(bits(local) == bits(dist), s"nlist=$nlist iters=$iters")
    }
  }

  test("an element past ±1e6 hands the driver path over to the distributed rounds") {
    // Its DECIMAL(28,12) units may not fit the driver's long sums.
    val tmp = Files.createTempDirectory("ivf-wide").toString
    Tables.embeddings(spark, sf0001)
      .withColumn("embedding", when(col("vec_id") === 13L, transform(col("embedding"),
        (x, i) => when(i === 0, lit(3e6f)).otherwise(x))).otherwise(col("embedding")))
      .write.parquet(s"$tmp/embeddings.parquet")
    val e = Tables.embeddings(spark, tmp)
    val (local, localJobs) = withJobs(Similarity.ivfCentroids(e, 4, 2))
    val (dist, distJobs) = withJobs(distributed(Similarity.ivfCentroids(e, 4, 2)))
    assert(bits(local) == bits(dist))
    assert(localJobs == distJobs + 1, "the collect, then the distributed rounds")
  }

  test("ids too sparse for the row bound fall back to the distributed rounds") {
    // Every id a multiple of the stride: the whole table is the sample,
    // past the 2·256·nlist + 1 row bound, so the collect is discarded.
    val tmp = Files.createTempDirectory("ivf-sparse").toString
    Tables.embeddings(spark, sf01).withColumn("vec_id", col("vec_id") * 3L)
      .write.parquet(s"$tmp/embeddings.parquet")
    val e = Tables.embeddings(spark, tmp)
    val (local, localJobs) = withJobs(Similarity.ivfCentroids(e, 2, 2))
    val (dist, distJobs) = withJobs(distributed(Similarity.ivfCentroids(e, 2, 2)))
    assert(bits(local) == bits(dist))
    assert(localJobs == distJobs + 1, "the discarded collect is the one extra job")
  }

  test("annIvf answers the same on both training paths (20 queries, sf0.1)") {
    for (q <- 0L until 2000L by 100L) {
      val local = Similarity.annIvf(spark, sf01, queryId = q).select("vec_id").as[Long].collect().toSeq
      val dist = distributed(
        Similarity.annIvf(spark, sf01, queryId = q).select("vec_id").as[Long].collect().toSeq)
      assert(local.length == 10)
      assert(local == dist, s"query $q")
    }
  }

  test("one annIvf call runs 6 Spark jobs on the driver path, 17 distributed (sf0.1)") {
    // Training on the repartitioned frame with distributed rounds only, a
    // call ran 20 jobs here and on the benchmark's curate corpus: each
    // training action re-ran the repartition shuffle. The driver path is
    // the count, the one bounded collect and the rerank query; the
    // distributed path still trains on the repartitioned frame, but its
    // count reads the raw scan and its rerank broadcasts no query row.
    def jobs(): Int = withJobs(Similarity.annIvf(spark, sf01, queryId = 5L).collect())._2
    jobs() // warm the file listing and codegen caches
    assert(jobs() == 6)
    assert(distributed(jobs()) == 17)
  }

  test("similarNeighbors retrains when the embeddings under its dir are rewritten") {
    val tmp = Files.createTempDirectory("ivf-rewrite").toString
    def write(src: String): Unit = Tables.embeddings(spark, src)
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    // Every centroid matrix the query's plan assigns or probes with.
    def used(): Seq[Seq[Seq[Int]]] =
      Similarity.similarNeighbors(spark, tmp).queryExecution.analyzed
        .flatMap(_.expressions.flatMap(_.collect { case n: NearestCentroids => bits(n.centroids) }))
        .distinct
    def fresh(): Seq[Seq[Int]] = bits(Similarity.ivfCentroids(Tables.embeddings(spark, tmp), 64, 2))

    write(sf0001)
    val before = used()
    assert(before == Seq(fresh()))
    write(sf01)
    val after = used()
    assert(after == Seq(fresh()), "the codebook must follow the rewritten data")
    assert(after != before)
  }
}
