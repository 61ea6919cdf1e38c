package graftbench

import org.scalatest.funsuite.AnyFunSuite

/** The generators are functions of the seed alone. */
class GenSpec extends AnyFunSuite {

  /** Every input a workload's generator hands the engine, as bytes. */
  private def inputs(seed: Long): Map[String, Seq[Byte]] = {
    val ingest = new IngestGen(seed)
    val events = new EventGen(seed)
    val load = events.initialLoad()
    val batches = Seq.fill(3)(events.batch(50))
    val curate = new CurateGen(seed, 200, 100, 4)
    val (docs, _, _) = curate.corpus()
    Map(
      "ingest" -> Json.lines(Seq.fill(12)(ingest.next()).flatten.map(_.json)).toSeq,
      "events" -> Json.lines((load ++ batches.flatten).map(_.json)).toSeq,
      "queries" -> events.fixedSet().mkString("\n").getBytes.toSeq,
      "docs" -> Json.lines(docs.map(_.json)).toSeq,
      "vectors" -> Json.lines(curate.embeddings().map(_.json)).toSeq)
  }

  test("one seed produces byte-identical inputs twice") {
    val a = inputs(7)
    val b = inputs(7)
    a.keys.foreach(k => assert(a(k) == b(k), s"$k differs between two runs of seed 7"))
  }

  test("a different seed produces different inputs") {
    val a = inputs(7)
    val b = inputs(8)
    a.keys.foreach(k => assert(a(k) != b(k), s"$k is the same for seeds 7 and 8"))
  }

  test("ingest batches carry late updates, redeliveries and a mid-stream column") {
    val gen = new IngestGen(3)
    val batches = Seq.fill(40)(gen.next())
    val model = new IngestModel
    var lost = 0
    batches.foreach { b =>
      b.foreach { r =>
        model.latest.get(r.partition).foreach(cur =>
          if (Ordering[(String, Long)].gt((cur.date, cur.seq), (r.date, r.seq))) lost += 1)
        model.apply(Seq(r))
      }
    }
    assert(lost > 0, "no late update lost to a stored version")
    val redelivered = batches.sliding(2).exists { case Seq(prev, cur) =>
      cur.exists(r => prev.contains(r))
    }
    assert(redelivered, "no batch redelivers a record of the previous one")
    assert(batches.take(IngestGen.ScoreFrom).flatten.forall(_.score.isEmpty))
    assert(batches.drop(IngestGen.ScoreFrom).head.exists(_.score.isDefined))
  }
}
