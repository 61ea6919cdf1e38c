package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Multimodal, Similarity}

/** Hash-sketch operators have no SQL oracle (engine-internal hashes); this
  * suite checks them against exact ground truth computed by the
  * oracle-checked operators on sf0.001.
  */
class DedupSimilaritySpec extends SparkTestBase {
  import spark.implicits._

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select($"a_id", $"b_id").as[(Long, Long)].collect().toSet

  /** Exact all-pairs shingle-jaccard ≥ tau — the ground truth both
    * sketch-blocked dedup operators must reproduce completely (mirrors the
    * DuckDB oracle SQL).
    */
  private def exactShingleJaccard(dir: String, tau: Double) = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", array_distinct(
        graft.functions.TextFunctions.shingles($"text", 3)).as("sh"))
    val a = docs.select($"doc_id".as("a_id"), $"sh".as("a_sh"))
    val b = docs.select($"doc_id".as("b_id"), $"sh".as("b_sh"))
    a.join(b, $"a_id" < $"b_id")
      .withColumn("j",
        size(array_intersect($"a_sh", $"b_sh")).cast("double") /
          size(array_union($"a_sh", $"b_sh")).cast("double"))
      .filter($"j" >= tau)
  }

  test("minhash LSH banding == exact shingle-jaccard pair set (recall 1.0)") {
    val truth = pairSet(exactShingleJaccard(sf001, 0.5))
    val found = pairSet(Dedup.minhashLsh(spark, sf001, threshold = 0.5))
    assert(found == truth, s"banding must recall every pair: ${truth.size} true")
    assert(truth.nonEmpty)
  }

  test("minhash LSH hot-band guard: an all-identical corpus completes and stays exact") {
    // Every doc identical → every band bucket holds the WHOLE corpus: the
    // worst case for bucket-keyed pair generation (one task doing n² work
    // without the salted tier). 200 docs with hotBucket=50 forces the
    // salted path; 30 distinct tail docs keep the small-bucket tier live
    // in the same run. Exactness: all C(200,2) identical pairs at j=1.0,
    // nothing else, each exactly once.
    val dupes = (0L until 200L).map(i => (i, "the quick brown fox jumps over the lazy dog again and again"))
    val uniques = (200L until 230L).map(i => (i, s"unique document number $i with its own content entirely"))
    val corpus = (dupes ++ uniques).toDF("doc_id", "text")
    val out = Dedup.minhashLshOver(corpus, hotBucket = 50)
    val pairs = pairSet(out)
    assert(pairs.size == 200 * 199 / 2)
    assert(pairs.forall { case (a, b) => a < 200 && b < 200 && a < b })
    assert(out.agg(min($"jaccard")).as[Double].head() == 1.0)
  }

  test("simhash pigeonhole == exact shingle-jaccard pair set (recall 1.0)") {
    val truth = pairSet(exactShingleJaccard(sf001, 0.7))
    val found = pairSet(Dedup.simhash(spark, sf001))
    assert(found == truth, s"pigeonhole must recall every pair: ${truth.size} true")
    assert(truth.nonEmpty)
  }

  test("PassJoin segment blocking == exact all-pairs levenshtein pair set") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val a = docs.select($"doc_id".as("a_id"), $"lang".as("a_lang"), $"text".as("a_text"))
    val b = docs.select($"doc_id".as("b_id"), $"lang".as("b_lang"), $"text".as("b_text"))
    val truth = a.join(b, $"a_id" < $"b_id" && $"a_lang" === $"b_lang")
      .withColumn("ed", levenshtein($"a_text", $"b_text"))
      .filter($"ed" <= 8)
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
    val found = pairSet(Dedup.editDistanceDedup(spark, sf001))
    assert(found == truth, s"segment blocking must recall every pair: ${truth.size} true")
    assert(truth.nonEmpty)
  }

  test("PassJoin adversarial corpus: boundary edits, ±τ lengths, short docs") {
    // Stress the pigeonhole where it is tightest: τ edits spread one per
    // segment (leaving exactly one untouched), pure-prefix deletes that
    // shift every canonical start by the maximum, a pair at distance τ+1
    // that must NOT appear, and sub-k docs that ride the short tier.
    val base = "the quick brown fox jumps over the lazy dog while seven wizards brew strong black coffee at midnight exactly"
    val corpus = Seq(
      (0L, base), // 109 chars
      (1L, base.drop(8)), // delete 8-char prefix: ed=8, max position shift
      (2L, "XX" + base.substring(2)), // 2 substitutions at the very front
      (3L, { // one substitution inside 8 of the 9 segments (ed=8)
        val sb = base.toCharArray
        (0 until 8).foreach(i => sb(i * (base.length / 9) + 2) = 'Q')
        new String(sb)
      }),
      (4L, base + " plus nine!!"), // 12-char append: ed=12 > τ, excluded
      (5L, "tiny"), (6L, "tiny doc"), // short tier: both < k=9 chars
      (7L, "unrelated content that matches nothing else in this corpus at all"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length($"text"))
      .select("doc_id", "lang", "text", "n_chars")
    val truth = Set((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (5L, 6L))
    val naive = corpus.select($"doc_id".as("a_id"), $"text".as("a_text"))
      .join(corpus.select($"doc_id".as("b_id"), $"text".as("b_text")), $"a_id" < $"b_id")
      .filter(levenshtein($"a_text", $"b_text") <= 8)
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
    val found = pairSet(Dedup.editDistancePairs(corpus, maxDist = 8))
    assert(found == naive, s"expected $naive")
    assert(naive.intersect(truth) == truth) // the designed pairs are all within τ
  }

  test("incremental index probe == full LSH dedup restricted to arriving-doc pairs") {
    val full = pairSet(Dedup.minhashLsh(spark, sf001))
      .filter { case (a, b) => a % 2 == 1 || b % 2 == 1 }
    val incr = pairSet(Dedup.incrementalMinhash(spark, sf001))
    assert(incr == full,
      "the persisted-index probe must find exactly the pairs the full dedup " +
        s"finds for the batch: ${full.size} true")
    assert(full.nonEmpty)
    assert(incr.forall { case (a, b) => a < b })
  }

  test("incremental cluster maintenance == full propagation (bridges and all)") {
    val full = Dedup.nearDupClusters(spark, sf0001)
      .as[(Long, Long)].collect().toSet
    val incr = Dedup.incrementalClusterLabels(spark, sf0001)
      .as[(Long, Long)].collect().toSet
    assert(incr == full,
      "the collapsed-graph merge must reproduce the full labels exactly")
    assert(full.nonEmpty)
  }

  test("collapsed-graph merge: bridge, undercut, isolated, untouched") {
    def labels(tuples: (Long, Long)*) =
      spark.createDataFrame(tuples.toSeq).toDF("doc_id", "cluster_rep")
    def ids(v: Long*) = spark.createDataFrame(v.map(Tuple1(_)))
      .toDF("doc_id")
    def pairs(tuples: (Long, Long)*) =
      spark.createDataFrame(tuples.toSeq).toDF("a_id", "b_id")
    // standing comps: {1,2} rep 1, {4,8} rep 4, {5,6} rep 5, {10,11}
    // rep 10. delta: 9 BRIDGES {1,2} and {5,6} (via non-rep members);
    // 3 UNDERCUTS {4,8}'s minimum; 7 is isolated; {10,11} untouched.
    val standing = labels(1L -> 1L, 2L -> 1L, 4L -> 4L, 8L -> 4L,
      5L -> 5L, 6L -> 5L, 10L -> 10L, 11L -> 10L)
    val out = Dedup.mergeDeltaLabels(
        spark, standing, ids(3L, 7L, 9L),
        pairs(2L -> 9L, 6L -> 9L, 3L -> 8L))
      .as[(Long, Long)].collect().toMap
    assert(out == Map(
      1L -> 1L, 2L -> 1L, 5L -> 1L, 6L -> 1L, 9L -> 1L, // bridged to 1
      3L -> 3L, 4L -> 3L, 8L -> 3L,                     // undercut by 3
      7L -> 7L,                                         // isolated
      10L -> 10L, 11L -> 10L),                          // untouched
      s"got $out")
  }

  test("delta write-back: two consecutive deltas == full propagation, re-apply is a no-op") {
    def labels(tuples: (Long, Long)*) =
      spark.createDataFrame(tuples.toSeq).toDF("doc_id", "cluster_rep")
    def ids(v: Long*) = spark.createDataFrame(v.map(Tuple1(_)))
      .toDF("doc_id")
    def pairs(tuples: (Long, Long)*) =
      spark.createDataFrame(tuples.toSeq).toDF("a_id", "b_id")
    val standingDir = java.nio.file.Files
      .createTempDirectory("graft_spec_standing_").toString + "/labels"
    labels(1L -> 1L, 2L -> 1L, 4L -> 4L, 8L -> 4L, 10L -> 10L, 11L -> 10L)
      .write.parquet(standingDir)
    // Delta 1: 9 joins comp {1,2} via non-rep 2; 3 undercuts comp {4,8}.
    val p1 = Dedup.applyDeltaLabels(
      spark, standingDir, ids(3L, 9L), pairs(9L -> 2L, 3L -> 8L))
    assert(p1 != standingDir, "a merging delta must publish a new version")
    assert(spark.read.parquet(p1).as[(Long, Long)].collect().toMap == Map(
      1L -> 1L, 2L -> 1L, 9L -> 1L,
      3L -> 3L, 4L -> 3L, 8L -> 3L,
      10L -> 10L, 11L -> 10L))
    // Delta 2 probes CURRENT labels: 5 attaches to comp 1 via DELTA-1 doc
    // 9 (only discoverable because delta 1 was written back); 12 joins
    // comp {10,11}.
    val p2 = Dedup.applyDeltaLabels(
      spark, p1, ids(5L, 12L), pairs(5L -> 9L, 12L -> 10L))
    val after2 = spark.read.parquet(p2).as[(Long, Long)].collect().toMap
    val expect = Map(
      1L -> 1L, 2L -> 1L, 9L -> 1L, 5L -> 1L,
      3L -> 3L, 4L -> 3L, 8L -> 3L,
      10L -> 10L, 11L -> 10L, 12L -> 10L)
    assert(after2 == expect,
      "two consecutive deltas must equal one full propagation over the union")
    // Re-applying the SAME delta is a no-op: same path, nothing rewritten.
    val p3 = Dedup.applyDeltaLabels(
      spark, p2, ids(5L, 12L), pairs(5L -> 9L, 12L -> 10L))
    assert(p3 == p2, "idempotent re-apply must return the unchanged sidecar")
  }

  test("PassJoin mixed short-long pair where the short doc has the higher id") {
    // A doc shorter than k = τ+1 chars emits no index-side segments, so a
    // short-long pair exists only as probe(short)×index(long); with the
    // short doc's id GREATER, the main join's a_id < b_id order rejects
    // that direction — the reversed mixed tier must recover it.
    val corpus = Seq(
      (0L, "abcdefghi"), // 9 chars = k: has canonical segments, lower id
      (1L, "abcdefgh")) //  8 chars < k: ed=1 to doc 0, HIGHER id
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length($"text"))
      .select("doc_id", "lang", "text", "n_chars")
    val found = pairSet(Dedup.editDistancePairs(corpus, maxDist = 8))
    assert(found == Set((0L, 1L)))
  }

  test("exact dedup keeps one representative per text") {
    val out = Dedup.exact(spark, sf0001)
    assert(out.select("text").distinct().count() == out.count())
  }

  test("IVF-blocked embedding dedup == exact all-pairs cosine set") {
    val e = spark.read.parquet(s"$sf001/embeddings.parquet")
    val a = e.select($"vec_id".as("a_id"), $"embedding".as("a_emb"))
    val b = e.select($"vec_id".as("b_id"), $"embedding".as("b_emb"))
    val truth = pairSet(
      a.join(b, $"a_id" < $"b_id")
        .filter(graft.functions.VectorFunctions
          .cosineSim($"a_emb", $"b_emb") >= 0.4))
    val found = pairSet(Dedup.embeddingCosine(spark, sf001))
    assert(found == truth, s"IVF blocking must recall every pair: ${truth.size} true")
    assert(truth.nonEmpty)
    assert(found.forall { case (x, y) => x < y })
  }

  test("ANN-LSH == brute force top-10 (calibrated hamming budget)") {
    val brute = Similarity.annBrute(spark, sf001).select("vec_id")
      .as[Long].collect().toSeq
    val lsh = Similarity.annLsh(spark, sf001).select("vec_id")
      .as[Long].collect().toSeq
    assert(lsh == brute, "LSH rerank must return the exact ordered top-10")
  }

  test("ANN-IVF == brute force top-10 (calibrated probe budget)") {
    val brute = Similarity.annBrute(spark, sf001).select("vec_id")
      .as[Long].collect().toSeq
    val ivf = Similarity.annIvf(spark, sf001).select("vec_id")
      .as[Long].collect().toSeq
    assert(ivf == brute, "IVF probes must cover the exact ordered top-10")
  }

  test("indexed ANN (write-time sketch + cid partitions) == brute force top-10") {
    import graft.table.SketchedTable
    val brute = Similarity.annBrute(spark, sf001).select("vec_id")
      .as[Long].collect().toSeq
    val lsh = SketchedTable.annLshIndexed(spark, sf001).select("vec_id")
      .as[Long].collect().toSeq
    assert(lsh == brute, "indexed LSH must return the exact ordered top-10")
    val ivf = SketchedTable.annIvfIndexed(spark, sf001)
    assert(ivf.select("vec_id").as[Long].collect().toSeq == brute,
      "indexed IVF must return the exact ordered top-10")
    // The probe must reach the scan as a partition filter (pruned files),
    // not a post-scan row filter.
    val expl = ivf.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(expl.contains("PartitionFilters") &&
      expl.linesIterator.exists(l => l.contains("PartitionFilters") && l.contains("cid")),
      "cid probe should prune partitions at the file scan")
  }

  test("indexed ANN follows a rewrite of the embeddings under the same dir") {
    import graft.table.SketchedTable
    val dir = java.nio.file.Files.createTempDirectory("graft_ann_rewrite_").toString
    def writeFrom(src: String): Unit =
      spark.read.parquet(s"$src/embeddings.parquet")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("vec_id").as[Long].collect().toSeq
    writeFrom(sf0001)
    ids(SketchedTable.annIvfIndexed(spark, dir)) // builds the index
    writeFrom(sf001)
    val brute = ids(Similarity.annBrute(spark, dir))
    assert(ids(SketchedTable.annIvfIndexed(spark, dir)) == brute,
      "indexed IVF must serve the rewritten embeddings")
    assert(ids(SketchedTable.annLshIndexed(spark, dir)) == brute,
      "indexed LSH must serve the rewritten embeddings")
    assert(ids(SketchedTable.annPqIndexed(spark, dir)) == brute,
      "indexed PQ must serve the rewritten embeddings")
  }

  test("IVF centroids: nlist rows of full dimension, stable across calls") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val c1 = Similarity.ivfCentroids(e, nlist = 8, iters = 1)
    assert(c1.length == 8)
    assert(c1.forall(_.length == 64))
  }

  test("knn join returns exactly k neighbors per vector") {
    val out = Similarity.knnJoin(spark, sf0001, k = 5)
    val counts = out.groupBy("a_id").count().select("count").distinct()
      .as[Long].collect().toSet
    assert(counts == Set(5L))
  }

  test("IVF-bucketed + top-k aggregate knn == window row_number knn") {
    val fast = Similarity.knnJoin(spark, sf0001, k = 5)
      .as[(Long, Long, Int)].collect().toSet
    val ref = Similarity.knnJoinWindow(spark, sf0001, k = 5)
      .as[(Long, Long, Int)].collect().toSet
    assert(fast == ref)
  }

  test("thresholded knn (sublinear nprobe<nlist) == window reference, both fixtures") {
    for (dir <- Seq(sf0001, sf001)) {
      val fast = Similarity.similarNeighbors(spark, dir)
        .as[(Long, Long, Int)].collect().toSet
      val ref = Similarity.similarNeighborsWindow(spark, dir)
        .as[(Long, Long, Int)].collect().toSet
      assert(fast == ref, s"mismatch on $dir")
      assert(fast.nonEmpty, s"fixture $dir should plant at least one pair >= 0.46")
    }
  }

  test("PQ-pruned ANN (ADC + exact rerank) equals brute-force top-k") {
    import graft.table.SketchedTable
    val pq = SketchedTable.annPqIndexed(spark, sf0001)
      .as[(Long, Int)].collect().toSeq
    val brute = Similarity.annBrute(spark, sf0001)
      .as[(Long, Int)].collect().toSeq
    assert(pq == brute && brute.nonEmpty)
  }

  test("salted join equals the unsalted join on a skewed key distribution") {
    import graft.operators.Skew
    // heavily skewed: 90% of fact rows hit one key
    val big = spark.range(0, 5000)
      .selectExpr("IF(id % 10 = 0, id % 7, 99L) AS k", "id AS v")
    val small = spark.range(0, 100).selectExpr("id AS k", "id * 2 AS w")
    val plain = big.join(small, "k").select("k", "v", "w")
      .as[(Long, Long, Long)].collect().toSet
    val salted = Skew.saltedJoin(big, small, Seq("k"), saltBuckets = 8)
      .select("k", "v", "w").as[(Long, Long, Long)].collect().toSet
    assert(salted == plain)
    assert(plain.nonEmpty)
    // The content-derived salt must actually SPREAD the hot key: the 99L
    // key holds ~90% of fact rows; after salting its rows must occupy
    // (nearly) all 8 buckets, and deterministically so across evaluations.
    import org.apache.spark.sql.functions.{col, hash, lit, pmod}
    def hotSalts() = big.filter($"k" === 99L)
      .select(pmod(hash(big.columns.map(col).toIndexedSeq: _*), lit(8)))
      .distinct().as[Int].collect().toSet
    val spread = hotSalts()
    assert(spread.size >= 7, s"hot key only reached salt buckets $spread")
    assert(hotSalts() == spread) // deterministic, unlike a row-id salt
  }

  test("AQE skew join splits the hot partition at runtime, result unchanged") {
    import graft.operators.Skew
    val pairs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      pairs.foreach { case (k, v) => spark.conf.set(k, v) }
      // one key holds ~90% of a payload-heavy frame → its shuffle
      // partition exceeds the (lowered) skew threshold
      val big = spark.range(0, 20000)
        .selectExpr(
          "IF(id % 10 = 0, id % 7, 99L) AS k",
          "repeat('x', 100) AS payload", "id AS v")
      val small = spark.range(0, 100).selectExpr("id AS k", "id * 2 AS w")
      val j = big.join(small, "k").selectExpr("k", "v", "w")
      // collect on THIS Dataset: the adaptive final plan (with the skew
      // split) is only observable on the executed queryExecution
      val aqeRows = j.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val finalPlan = j.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"AQE should have split the hot partition:\n$finalPlan")
      // AQE's split must not change the result — same rows as the
      // explicitly salted join over the same frames
      val salted = Skew.saltedJoin(
        big.select("k", "v"), small, Seq("k"), saltBuckets = 8)
        .select("k", "v", "w").as[(Long, Long, Long)].collect().toSet
      assert(aqeRows == salted && aqeRows.nonEmpty)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("multimodal feature extraction: batch shape, determinism, schema") {
    val media = Multimodal.mediaTable(spark, sf0001)
    val feats = Multimodal.extractFeatures(media, dim = 8)
    val rows = feats.collect()
    assert(rows.length == media.count())
    assert(rows.forall(_.features.length == 8))
    val again = Multimodal.extractFeatures(media, dim = 8).collect()
    assert(rows.map(r => (r.doc_id, r.features.toSeq)).sortBy(_._1).toSeq ==
      again.map(r => (r.doc_id, r.features.toSeq)).sortBy(_._1).toSeq)
  }

  test("frame sampling covers video payloads only") {
    val media = Multimodal.mediaTable(spark, sf0001)
    val frames = Multimodal.sampleFrames(media, n = 4)
    assert(frames.count() == media.filter($"media_type" === "video/mp4").count())
  }

  test("real media codecs round-trip: ImageIO decodes the PNG pixels, AudioSystem the PCM words") {
    // image: encode then decode through the real codec, pixel formulas hold
    val png = Multimodal.pngPayload(42L)
    assert(png.take(8).map(_ & 0xFF).toSeq ==
      Seq(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A), "real PNG magic")
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    assert(img.getWidth == 16 && img.getHeight == 16)
    for (i <- Seq(0, 17, 255)) {
      val p = img.getRGB(i % 16, i / 16)
      assert(((p >> 16) & 0xFF) == ((42 * 7 + i) % 256).toInt)
      assert(((p >> 8) & 0xFF) == ((42 * 13 + i * 3) % 256).toInt)
      assert((p & 0xFF) == ((42 * 5 + i * 11) % 256).toInt)
    }
    // audio: the real WAV parser reads back the exact samples
    val wav = Multimodal.wavPayload(42L)
    val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(wav))
    assert(in.getFormat.getSampleRate == 8000f &&
      in.getFormat.getSampleSizeInBits == 16)
    val bytes = in.readAllBytes()
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    for (i <- 0 until 256)
      assert(bb.getShort == (((42L * 31 + i * 17) % 65536) - 32768).toShort)
  }

  test("animated GIF round-trips: real container, real frame count, exact pixels") {
    for (id <- Seq(0L, 7L, 41L)) {
      val gif = Multimodal.gifPayload(id)
      assert(new String(gif.take(6), "US-ASCII") == "GIF89a" ||
        new String(gif.take(6), "US-ASCII") == "GIF87a", "real GIF magic")
      val reader = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(gif))
      reader.setInput(iis)
      assert(reader.getNumImages(true) == (id % 3 + 2).toInt, "frame count from container")
      for (f <- 0 until reader.getNumImages(true)) {
        val img = reader.read(f)
        assert(img.getWidth == 8 && img.getHeight == 8)
        for (i <- Seq(0, 13, 63))
          assert((img.getRGB(i % 8, i / 8) & 0xFF) ==
            ((id * 7 + f * 11 + i * 3) % 256).toInt, s"doc $id frame $f pixel $i")
      }
      reader.dispose()
      iis.close()
    }
  }

  test("shared runs == driver brute force (window-merge substring dedup)") {
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select("doc_id", "text").as[(Long, String)].collect()
    def wins(text: String): Seq[(Int, String)] = {
      val toks = text.split(" ", -1)
      if (toks.length >= 8)
        (0 to toks.length - 8).map(p => (p, toks.slice(p, p + 8).mkString(" ")))
      else Seq((0, text))
    }
    val winsByDoc = docs.map { case (id, t) => id -> wins(t) }.toMap
    val setByDoc = winsByDoc.map { case (id, ws) => id -> ws.map(_._2).toSet }
    val expect = (for {
      (a, aw) <- winsByDoc.toSeq
      (b, bs) <- setByDoc.toSeq if a != b
      shared = aw.collect { case (p, w) if bs(w) => p }.distinct.sorted
      if shared.nonEmpty
    } yield {
      val runs = shared.foldLeft(List.empty[List[Int]]) {
        case (acc @ (run :: rest), p) if p == run.head + 1 => (p :: run) :: rest
        case (acc, p) => List(p) :: acc
      }
      ((a, b), (runs.length.toLong, runs.map(_.length).max.toLong + 7))
    }).toMap
    val got = Dedup.sharedRuns(spark, sf0001)
      .as[(Long, Long, Long, Long)].collect()
      .map { case (a, b, n, m) => ((a, b), (n, m)) }.toMap
    assert(got == expect)
    assert(got.nonEmpty, "fixture should contain shared spans")
  }

  test("mp4 box walk: real ISO-BMFF boxes, closed-form sizes, v1 containers handled") {
    for (id <- Seq(0L, 7L, 42L, 149L)) {
      val mp4 = Multimodal.mp4Payload(id)
      // real container shape: ftyp box leads with its fourcc at offset 4
      assert(new String(mp4, 4, 4, "US-ASCII") == "ftyp", "ftyp first")
      assert(new String(mp4, 8, 4, "US-ASCII") == "isom", "major brand")
      val (brand, durMs, tracks, topBoxes) = Multimodal.mp4Meta(mp4)
      assert(brand == "isom")
      assert(durMs == (id * 37) % 60000 + 1000, s"duration for doc $id")
      assert(tracks == (id % 3 + 1).toInt, s"track count for doc $id")
      assert(topBoxes == 3, "ftyp + moov + mdat")
      assert(mp4.length == 148 + 100 * tracks + (id % 50).toInt, "fixed v0 layouts")
    }
    // the walker is version-aware: an mvhd v1 container (64-bit times,
    // which the writer never emits) parses too
    def box(tp: String, body: Array[Byte]): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(8 + body.length)
      b.putInt(8 + body.length).put(tp.getBytes("US-ASCII")).put(body)
      b.array()
    }
    val mvhdV1 = box("mvhd", {
      val b = java.nio.ByteBuffer.allocate(112)
      b.putInt(0x01000000) // version 1
        .putLong(0L).putLong(0L) // 64-bit creation, modification
        .putInt(600) // timescale
        .putLong(1800L) // 64-bit duration: 3000 ms at ts=600
      b.array()
    })
    val v1 = box("ftyp", "isomx...".getBytes("US-ASCII").take(8)) ++
      box("moov", mvhdV1 ++ box("trak", Array.emptyByteArray))
    val (b1, d1, t1, n1) = Multimodal.mp4Meta(v1)
    assert(b1 == "isom" && d1 == 3000L && t1 == 1 && n1 == 2)
  }
}
