package graftbench

import org.scalatest.funsuite.AnyFunSuite

/** Each model against a case small enough to check by hand. */
class ModelSpec extends AnyFunSuite {

  private def rec(name: String, date: String, seq: Long, score: Option[Long] = None) =
    IngestRecord(name, s"2024-03-01 $date", 2024, 3, 1, seq, s"p$seq", score)

  test("ingest model keeps the greatest (date, seq) per partition key") {
    val m = new IngestModel
    m.apply(Seq(rec("a", "10:00:00", 1), rec("a", "09:00:00", 2), rec("b", "08:00:00", 3)))
    // A late update loses, a tie on date goes to the larger seq, and a
    // redelivered record changes nothing.
    m.apply(Seq(rec("a", "09:30:00", 4), rec("b", "08:00:00", 5, Some(7)), rec("b", "08:00:00", 5, Some(7))))
    assert(m.latest.values.map(r => r.name -> r.seq).toMap == Map("a" -> 1L, "b" -> 5L))
    assert(m.latest(("b", 2024, 3, 1)).score.contains(7L))
    assert(m.rows == 2)
  }

  private def ev(id: Long, user: Long, t: String, ts: Long, value: Long) =
    EventRow(id, user, t, ts, value, s"x$id")

  test("events model answers every query kind") {
    val m = new EventModel
    m.apply(Seq(ev(1, 10, "view", 100, 5), ev(2, 11, "buy", 200, 7), ev(3, 10, "buy", 300, 1)))
    // id 2 updated to a newer ts; a late update of id 3 loses.
    m.apply(Seq(ev(2, 10, "buy", 400, 9), ev(3, 12, "buy", 250, 100)))
    assert(m.answer(KeyLookup(2)) == Seq("2|10|buy|400|9|x2"))
    assert(m.answer(KeyLookup(9)) == Nil)
    assert(m.answer(UserLookup(10)) == Seq("1|10|view|100|5|x1", "2|10|buy|400|9|x2", "3|10|buy|300|1|x3"))
    assert(m.answer(TsRange(150, 350)) == Seq("3|10|buy|300|1|x3"))
    assert(m.answer(TopK(None, 2)) == Seq("2|10|buy|400|9|x2", "3|10|buy|300|1|x3"))
    assert(m.answer(TopK(Some("view"), 5)) == Seq("1|10|view|100|5|x1"))
    assert(m.answer(TsStats(None)) == Seq("100|400|3"))
    assert(m.answer(TsStats(Some("buy"))) == Seq("300|400|2"))
    assert(m.answer(TsStats(Some("rate"))) == Seq("null|null|0"))
    assert(m.answer(TypeRollup) == Seq("buy|2|10", "view|1|5"))
  }

  test("curate model: exact dedup, shingles, jaccard, quality, vocabulary, kNN") {
    val docs = Seq(
      Doc(0, "the cat sat on the mat", "en", "s"),
      Doc(1, "a dog", "en", "s"),
      Doc(2, "the cat sat on the mat", "en", "s"))
    assert(CurateModel.exactKeep(docs) == Set(0L, 1L))
    assert(CurateModel.shingles("a b c d", 3) == Set("a b c", "b c d"))
    assert(CurateModel.shingles("a b", 3) == Set("a b"))
    assert(CurateModel.jaccard(Set("x", "y", "z"), Set("y", "z", "w")) == 0.5)
    // 6 tokens, 2 stopwords ("the" twice): length 6/20 -> 0.3, ratio 1/3 > 0.1 -> 1.
    assert(CurateModel.quality("the cat sat on the mat") == 0.3 * 0.5 + 1.0 * 0.5)
    // 2 tokens, no stopword.
    assert(CurateModel.quality("a dog") == 0.1 * 0.5)
    assert(CurateModel.vocabulary(docs, 2) == Seq(("the", 4L, 2L), ("cat", 2L, 2L)))
    val vecs = Seq(
      Vec(0, Array(1f, 0f), 0), Vec(1, Array(1f, 1f), 0), Vec(2, Array(0f, 1f), 1), Vec(3, Array(-1f, 0f), 1))
    assert(math.abs(CurateModel.cosine(vecs(0).v, vecs(1).v) - math.sqrt(0.5)) < 1e-12)
    assert(CurateModel.kthCosine(vecs, 0, 1) == CurateModel.cosine(vecs(0).v, vecs(1).v))
    assert(CurateModel.kthCosine(vecs, 0, 2) == 0.0)
  }

  test("planted near duplicates stay above the must-find jaccard") {
    val gen = new CurateGen(11, 400, 10, 2)
    val (docs, exact, near) = gen.corpus()
    val byId = docs.map(d => d.id -> d).toMap
    assert(exact.nonEmpty && near.nonEmpty)
    exact.foreach { case (a, b) => assert(byId(a).text == byId(b).text) }
    val js = near.map { case (a, b) =>
      CurateModel.jaccard(CurateModel.shingles(byId(a).text, 3), CurateModel.shingles(byId(b).text, 3))
    }
    assert(js.count(_ >= 0.85) >= js.size / 2, s"most planted near pairs are close: $js")
  }
}
