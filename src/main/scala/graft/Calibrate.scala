package graft

import java.io.PrintWriter

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions, VectorFunctions}
import graft.operators.Similarity
import graft.sources.Tables

/** Dev tool: measures, on the actual fixtures, the sketch-parameter margins
  * that make the approximate operators' outputs equal their exact
  * counterparts (recall = 1.0) — the numbers behind the defaults pinned in
  * [[operators.Similarity]] / [[operators.Dedup]] and asserted by the
  * equivalence specs. The fixture is small (500 docs / 500 vectors at
  * sf0.01), so after collecting the Spark-computed sketch columns the
  * all-pairs ground truth is computed driver-side in exact float64.
  * Run: `runMain graft.Calibrate <sfDir>`; output also lands in
  * /tmp/calibrate_out.txt.
  */
object Calibrate {
  private val sink = new StringBuilder
  private def say(s: String): Unit = { println(s); sink.append(s).append('\n') }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Sessions.builder("local[8]", "8").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    say(s"=== calibrating on $sfDir ===")

    // ── collect embeddings + 48-bit sketches; exact cosines locally ────
    val bits = 48
    val rowsE = Tables.embeddings(spark, sfDir)
      .withColumn("sk", VectorFunctions.hyperplaneSketch(col("embedding"), bits, 64))
      .select("vec_id", "embedding", "sk")
      .collect()
      .sortBy(_.getLong(0))
    val ids = rowsE.map(_.getLong(0))
    val emb = rowsE.map(_.getSeq[Float](1).toArray)
    val sk = rowsE.map(_.getLong(2))
    val n = ids.length
    say(s"embeddings: n=$n dim=${emb.head.length}")

    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      val d = math.sqrt(na) * math.sqrt(nb); if (d == 0) 0 else dot / d
    }
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val cosM = Array.tabulate(n)(i => Array.tabulate(n)(j => if (i == j) 1.0 else cos(emb(i), emb(j))))

    // ── q40 ann_lsh: hamming needed for top-10 recall of query 0 ───────
    val q0 = ids.indexOf(0L)
    val order0 = (0 until n).filter(_ != q0)
      .sortBy(j => (-cosM(q0)(j), ids(j)))
    val top10 = order0.take(10)
    say(s"q40: top-10 hams=${top10.map(j => ham(sk(q0), sk(j))).mkString(",")} " +
      s"needMaxHamming=${top10.map(j => ham(sk(q0), sk(j))).max}")
    for (mh <- Seq(22, 25, 26, 28))
      say(s"q40: candidates at maxHamming=$mh: " +
        s"${(0 until n).count(j => j != q0 && ham(sk(q0), sk(j)) <= mh)} / $n")
    // float32 oracle safety: gap between rank-10 and rank-11 cosine
    say(f"q40: cos rank10=${cosM(q0)(order0(9))}%.6f rank11=${cosM(q0)(order0(10))}%.6f " +
      f"gap=${cosM(q0)(order0(9)) - cosM(q0)(order0(10))}%.2e")

    // ── q41 knn join (k=5): rank-gap safety + bucketing feasibility ────
    val k = 5
    val topK = Array.tabulate(n) { i =>
      (0 until n).filter(_ != i).sortBy(j => (-cosM(i)(j), ids(j))).take(k + 1)
    }
    var minAdj = Double.MaxValue; var minBoundary = Double.MaxValue
    (0 until n).foreach { i =>
      val cs = topK(i).map(cosM(i))
      (0 until k - 1).foreach { r =>
        val g = cs(r) - cs(r + 1); if (g > 0 && g < minAdj) minAdj = g
      }
      val gb = cs(k - 1) - cs(k); if (gb > 0 && gb < minBoundary) minBoundary = gb
    }
    say(f"q41: min adjacent-rank cos gap (ranks1..5)=$minAdj%.2e " +
      f"min rank5-rank6 gap=$minBoundary%.2e (float32 oracle needs >~1e-6)")
    val knnHams = for (i <- 0 until n; j <- topK(i).take(k)) yield ham(sk(i), sk(j))
    say(s"q41: top-5-pair sketch hamming max=${knnHams.max} " +
      s"p99=${knnHams.sorted.apply((knnHams.size * 99) / 100)}")

    // ── IVF probe-rank stats (shared by q44 + candidate q41/q34 path) ──
    val embs = Tables.embeddings(spark, sfDir)
    val cents = Similarity.ivfCentroids(embs, 16, 2)
    val cid = Array.tabulate(n) { i =>
      cents.zipWithIndex.map { case (c, ci) => (1.0 - cos(emb(i), c), ci) }.min._2
    }
    val probeOrder = Array.tabulate(n) { i =>
      cents.indices.sortBy(ci => (1.0 - cos(emb(i), cents(ci)), ci)).toArray
    }
    def probeRank(i: Int, j: Int): Int = probeOrder(i).indexOf(cid(j)) + 1
    say(s"q44: query0 probe ranks of top-10: ${top10.map(j => probeRank(q0, j)).mkString(",")} " +
      s"needNprobe=${top10.map(j => probeRank(q0, j)).max}")
    val knnNprobe = (0 until n).map(i => topK(i).take(k).map(j => probeRank(i, j)).max)
    say(s"q41-ivf: per-a nprobe needed for top-5 recall: max=${knnNprobe.max} " +
      s"p99=${knnNprobe.sorted.apply((n * 99) / 100)} (nlist=16)")

    // ── seed-only (iters=0) centroids: cheap variant for blocking ──────
    val cents0 = Similarity.ivfCentroids(embs, 16, 0)
    val cid0 = Array.tabulate(n) { i =>
      cents0.zipWithIndex.map { case (c, ci) => (1.0 - cos(emb(i), c), ci) }.min._2
    }
    val probeOrder0 = Array.tabulate(n) { i =>
      cents0.indices.sortBy(ci => (1.0 - cos(emb(i), cents0(ci)), ci)).toArray
    }
    def probeRank0(i: Int, j: Int): Int = probeOrder0(i).indexOf(cid0(j)) + 1
    say(s"iters0: cell sizes=${cid0.groupBy(identity).toSeq.sortBy(_._1).map(_._2.length).mkString(",")}")

    // ── q34 embed dedup: threshold margin + blocking feasibility ───────
    val truePairs = for {
      i <- 0 until n; j <- i + 1 until n if cosM(i)(j) >= 0.4
    } yield (i, j)
    val below = (for { i <- 0 until n; j <- i + 1 until n if cosM(i)(j) < 0.4 }
      yield cosM(i)(j)).max
    val above = truePairs.map { case (i, j) => cosM(i)(j) }.min
    say(f"q34: truePairs=${truePairs.size} minAbove=$above%.6f maxBelow=$below%.6f " +
      f"margin=${above - 0.4}%.2e/${0.4 - below}%.2e")
    val pairHams = truePairs.map { case (i, j) => ham(sk(i), sk(j)) }
    say(s"q34: true-pair 48-bit hamming max=${pairHams.max} " +
      s"dist=${pairHams.groupBy(identity).toSeq.sortBy(_._1).map { case (h, v) => s"$h:${v.size}" }.mkString(" ")}")
    val pairProbe = truePairs.map { case (i, j) => math.min(probeRank(i, j), probeRank(j, i)) }
    say(s"q34-ivf: symmetric probe rank needed max=${pairProbe.max} " +
      s"dist=${pairProbe.groupBy(identity).toSeq.sortBy(_._1).map { case (h, v) => s"$h:${v.size}" }.mkString(" ")}")
    for (np <- Seq(2, 4, 6, 8)) {
      var cand = 0L
      for (i <- 0 until n; j <- i + 1 until n)
        if (probeRank(i, j) <= np || probeRank(j, i) <= np) cand += 1
      say(s"q34-ivf: candidate pairs at nprobe=$np: $cand / ${n.toLong * (n - 1) / 2}")
    }
    val pairProbe0 = truePairs.map { case (i, j) => math.min(probeRank0(i, j), probeRank0(j, i)) }
    say(s"q34-ivf0 (iters=0): symmetric probe rank needed max=${pairProbe0.max} " +
      s"dist=${pairProbe0.groupBy(identity).toSeq.sortBy(_._1).map { case (h, v) => s"$h:${v.size}" }.mkString(" ")}")
    for (np <- Seq(6, 8, 10, 12)) {
      var cand = 0L
      for (i <- 0 until n; j <- i + 1 until n)
        if (probeRank0(i, j) <= np || probeRank0(j, i) <= np) cand += 1
      say(s"q34-ivf0: candidate pairs at nprobe=$np: $cand / ${n.toLong * (n - 1) / 2}")
    }

    // ── q98 thresholded knn join: nlist sweep for the sublinear knob ───
    // Global exact top-5 recall saturates nprobe at nlist (measured above:
    // max=16 of 16 — the fixture's unplanted neighbors are noise, and
    // noise doesn't cluster). The THRESHOLDED join (neighbors with
    // cos >= 0.4 — the planted near-dup structure) is the recoverable
    // target: true pairs are near-identical vectors that quantize to
    // nearby cells, so the symmetric probe rank needed stays far below
    // nlist while candidate pairs shrink with nlist.
    for (nl <- Seq(16, 32, 64)) {
      val cN = Similarity.ivfCentroids(embs, nl, 2)
      val cidN = Array.tabulate(n) { i =>
        cN.zipWithIndex.map { case (c, ci) => (1.0 - cos(emb(i), c), ci) }.min._2
      }
      val poN = Array.tabulate(n) { i =>
        cN.indices.sortBy(ci => (1.0 - cos(emb(i), cN(ci)), ci)).toArray
      }
      def prN(i: Int, j: Int): Int = poN(i).indexOf(cidN(j)) + 1
      for (tau <- Seq(0.4, 0.42, 0.44, 0.45, 0.46, 0.48, 0.5, 0.6)) {
        val pairsTau = for {
          i <- 0 until n; j <- i + 1 until n if cosM(i)(j) >= tau
        } yield (i, j)
        val need = pairsTau.map { case (i, j) => math.min(prN(i, j), prN(j, i)) }
        val needMax = if (need.isEmpty) 0 else need.max
        var cand = 0L
        for (i <- 0 until n; j <- i + 1 until n)
          if (prN(i, j) <= needMax + 2 || prN(j, i) <= needMax + 2) cand += 1
        say(s"q98: nlist=$nl tau=$tau pairs=${pairsTau.size} " +
          s"needMax=$needMax candidates@needMax+2=$cand/${n.toLong * (n - 1) / 2}")
        if (tau == 0.46 || tau == 0.6) {
          val nb = (for { i <- 0 until n; j <- i + 1 until n
            if cosM(i)(j) < tau } yield cosM(i)(j)).max
          val na = if (pairsTau.isEmpty) 1.0
            else pairsTau.map { case (i, j) => cosM(i)(j) }.min
          say(f"q98: tau=$tau nearest below=$nb%.6f above=$na%.6f")
        }
      }
    }

    // ── q67 PQ: ADC rank needed to recall the exact top-10 ─────────────
    // Codes and codebooks come from the PRODUCTION index (SketchedTable's
    // stored `pq` column, written by pqCodeExpr) — not a driver-side
    // re-derivation — so the measured margin ranks by exactly the ADC the
    // annPqIndexed query evaluates.
    val annIdx = graft.table.SketchedTable.ensure(spark, sfDir)
    val pqById = spark.read.parquet(annIdx.path).select("vec_id", "pq")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val adcTables = Similarity.pqAdcTables(
      Similarity.normalized(emb(q0)), annIdx.codebooks)
    def adcOf(i: Int): Double = {
      val code = pqById(ids(i))
      adcTables.indices.map(mi =>
        adcTables(mi)(((code >>> (8 * mi)) & 255L).toInt)).sum
    }
    val adcOrder = (0 until n).filter(_ != q0).sortBy(i => (adcOf(i), ids(i)))
    val adcRanks = top10.map(j => adcOrder.indexOf(j) + 1)
    say(s"q67-pq (m=8,k=64): ADC ranks of true top-10: ${adcRanks.mkString(",")} " +
      s"needRerank=${adcRanks.max} (budget 300)")

    // ── q32 minhash: banding recall vs true shingle jaccard ────────────
    val docRows = Tables.documents(spark, sfDir)
      .select(
        col("doc_id"),
        sort_array(array_distinct(TextFunctions.shingles(col("text"), 3))).as("sh"))
      .withColumn("sig", TextFunctions.minhashOfShingles(col("sh"), 64))
      .withColumn("hsig",
        org.apache.spark.sql.GraftSqlBridge.column(
          graft.functions.SimHash64(
            org.apache.spark.sql.GraftSqlBridge.expression(col("sh")))))
      .collect()
      .sortBy(_.getLong(0))
    val dIds = docRows.map(_.getLong(0))
    val dSh = docRows.map(_.getSeq[String](1).toSet)
    val dSig = docRows.map(_.getSeq[Long](2).toArray)
    val dHsig = docRows.map(_.getLong(3))
    val dn = dIds.length
    val jacc = Array.tabulate(dn)(i => Array.tabulate(dn) { j =>
      if (j <= i) 0.0 else {
        val ni = (dSh(i) & dSh(j)).size
        ni.toDouble / (dSh(i).size + dSh(j).size - ni)
      }
    })
    def shareBand(a: Array[Long], b: Array[Long], bands: Int, rows: Int): Boolean =
      (0 until bands).exists(bi =>
        (0 until rows).forall(r => a(bi * rows + r) == b(bi * rows + r)))
    val jPairs = for { i <- 0 until dn; j <- i + 1 until dn if jacc(i)(j) >= 0.2 }
      yield (i, j, jacc(i)(j))
    say(s"q32: shingle-jaccard>=0.2 pairs=${jPairs.size} " +
      s"dist=${jPairs.map(_._3).groupBy(x => (x * 10).toInt / 10.0).toSeq.sortBy(_._1).map { case (b, v) => s"$b:${v.size}" }.mkString(" ")}")
    for ((bands, rows) <- Seq((16, 4), (32, 2), (64, 1)); tau <- Seq(0.4, 0.5, 0.6, 0.7)) {
      val pairs = jPairs.filter(_._3 >= tau)
      val missed = pairs.count(p => !shareBand(dSig(p._1), dSig(p._2), bands, rows))
      say(s"q32: bands=$bands rows=$rows tau=$tau exact=${pairs.size} missed=$missed")
    }
    // threshold margin for each candidate tau (float safety: jaccard is a
    // ratio of small ints — identical in both engines — so any margin works;
    // this just confirms no pair sits exactly at the threshold)
    for (tau <- Seq(0.4, 0.5, 0.6, 0.7)) {
      val nearBelow = jPairs.map(_._3).filter(_ < tau).sorted.lastOption.getOrElse(0.0)
      val nearAbove = jPairs.map(_._3).filter(_ >= tau).sorted.headOption.getOrElse(1.0)
      say(f"q32: tau=$tau nearest below=$nearBelow%.4f above=$nearAbove%.4f")
    }
    for ((bands, rows) <- Seq((16, 4), (32, 2), (64, 1))) {
      var cand = 0L
      for (i <- 0 until dn; j <- i + 1 until dn)
        if (shareBand(dSig(i), dSig(j), bands, rows)) cand += 1
      say(s"q32: bands=$bands rows=$rows candidateRate=$cand/${dn.toLong * (dn - 1) / 2}")
    }

    // ── q33 simhash-over-shingles: pigeonhole recall vs shingle jaccard ─
    for (tau <- Seq(0.4, 0.5, 0.6, 0.7)) {
      val pairs = jPairs.filter(_._3 >= tau)
      val hams = pairs.map(p => ham(dHsig(p._1), dHsig(p._2)))
      say(s"q33: tau=$tau pairs=${pairs.size} " +
        s"maxHam=${if (hams.isEmpty) -1 else hams.max} " +
        s"dist=${hams.groupBy(identity).toSeq.sortBy(_._1).map { case (h, v) => s"$h:${v.size}" }.mkString(" ")}")
    }
    for (maxH <- Seq(7, 9, 12, 15)) {
      val chunks = maxH + 1
      val bitsPer = 64 / chunks
      def chunkShare(a: Long, b: Long): Boolean =
        (0 until chunks).exists { c =>
          val m = if (bitsPer == 64) -1L else (1L << bitsPer) - 1
          ((a >>> (c * bitsPer)) & m) == ((b >>> (c * bitsPer)) & m)
        }
      var cand = 0L
      for (i <- 0 until dn; j <- i + 1 until dn)
        if (chunkShare(dHsig(i), dHsig(j))) cand += 1
      say(s"q33: pigeonhole maxH=$maxH chunks=$chunks candidateRate=$cand/${dn.toLong * (dn - 1) / 2}")
    }

    val pw = new PrintWriter("/tmp/calibrate_out.txt")
    try pw.write(sink.toString) finally pw.close()
    spark.stop()
  }
}
