package graftbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

/** Deterministic randomness for the generators: the same seed yields the
  * same stream on every JVM (SplitMix64, no platform-dependent state).
  */
final class Rng(seed: Long) {
  private var state = seed * 0x9E3779B97F4A7C15L + 0x632BE59BD9B4E019L

  def nextLong(): Long = {
    state += 0x9E3779B97F4A7C15L
    var z = state
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform in [0, n). */
  def below(n: Int): Int = java.lang.Long.remainderUnsigned(nextLong(), n.toLong).toInt

  /** Uniform in [0, 1). */
  def unit(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))

  def chance(p: Double): Boolean = unit() < p

  def gaussian(): Double = {
    val u1 = math.max(unit(), 1e-12)
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * unit())
  }
}

/** Zipf(s) over ranks 0 until n by inverse-CDF lookup: rank 0 is the
  * hottest. The benchmark's key skew.
  */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = (1 to n).map(k => 1.0 / math.pow(k.toDouble, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }

  def sample(rng: Rng): Int = {
    val u = rng.unit()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

object Json {
  def str(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  def lines(rows: Seq[String]): Array[Byte] =
    rows.map(_ + "\n").mkString.getBytes(UTF_8)
}

// ---------------------------------------------------------------------------
// ingest_small: the reference job's records
// ---------------------------------------------------------------------------

/** One reference-job record: key `name`, precombine `date` (a sortable
  * timestamp string), hive partitions name/year/month/day, a unique `seq`
  * that breaks precombine ties, and `score`, the additive column that
  * appears mid-stream.
  */
final case class IngestRecord(
    name: String, date: String, year: Int, month: Int, day: Int,
    seq: Long, payload: String, score: Option[Long]) {

  def partition: (String, Int, Int, Int) = (name, year, month, day)

  def json: String = {
    val base = s"""{"name":${Json.str(name)},"date":${Json.str(date)},""" +
      s""""year":$year,"month":$month,"day":$day,"seq":$seq,"payload":${Json.str(payload)}"""
    score.fold(base + "}")(s => base + s""","score":$s}""")
  }
}

object IngestGen {
  val Keys = 12
  val Days = 2
  val BatchSize = 20
  /** The first batch (0-based) that carries `score`: the third after the
    * bootstrap batch.
    */
  val ScoreFrom = 3
}

/** Micro-batches of reference records over `Keys` names and `Days` days.
  * Keys are Zipf-skewed; about one record in seven is a late update that
  * must lose to the stored version; about one batch in three redelivers
  * records of the previous batch verbatim (at-least-once transport);
  * batches from `ScoreFrom` on carry the additive `score` column.
  */
final class IngestGen(seed: Long) {
  import IngestGen._
  private val rng = new Rng(seed)
  private val zipf = new Zipf(Keys, 1.1)
  private val clock = mutable.Map.empty[(Int, Int), Int] // (key, day) → latest second
  private var seq = 0L
  private var previous: Seq[IngestRecord] = Nil
  private var produced = 0

  private def record(withScore: Boolean): IngestRecord = {
    val k = zipf.sample(rng)
    val d = rng.below(Days)
    val latest = clock.getOrElse((k, d), -1)
    val late = latest > 0 && rng.chance(0.15)
    val sec =
      if (late) math.max(0, latest - 1 - rng.below(600))
      else if (latest < 0) rng.below(3600)
      else latest + 1 + rng.below(60)
    if (!late) clock((k, d)) = sec
    seq += 1
    val day = d + 1
    IngestRecord(
      name = f"user-$k%03d",
      date = f"2024-03-$day%02d ${sec / 3600}%02d:${sec / 60 % 60}%02d:${sec % 60}%02d",
      year = 2024, month = 3, day = day, seq = seq,
      payload = s"v$seq-${rng.below(1 << 20)}",
      score = if (withScore) Some(rng.below(1000).toLong) else None)
  }

  /** The next batch: fresh records plus any redelivered ones. */
  def next(): Seq[IngestRecord] = {
    val withScore = produced >= ScoreFrom
    val fresh = Seq.fill(BatchSize)(record(withScore))
    val redelivered =
      if (previous.nonEmpty && rng.chance(0.35))
        Seq.fill(1 + rng.below(3))(previous(rng.below(previous.size)))
      else Nil
    produced += 1
    previous = fresh
    fresh ++ redelivered
  }
}

/** Expected table state for ingest_small: per (partition, key) the record
  * with the greatest (date, seq), kept in a plain map.
  */
final class IngestModel {
  val latest = mutable.Map.empty[(String, Int, Int, Int), IngestRecord]

  def apply(batch: Seq[IngestRecord]): Unit = batch.foreach { r =>
    latest.get(r.partition) match {
      case Some(cur) if Ordering[(String, Long)].gt((cur.date, cur.seq), (r.date, r.seq)) =>
      case _ => latest(r.partition) = r
    }
  }

  def rows: Int = latest.size
}

// ---------------------------------------------------------------------------
// mixed: an events table
// ---------------------------------------------------------------------------

final case class EventRow(
    eventId: Long, userId: Long, eventType: String, ts: Long, value: Long,
    payload: String) {
  def json: String =
    s"""{"event_id":$eventId,"user_id":$userId,"event_type":${Json.str(eventType)},""" +
      s""""ts":$ts,"value":$value,"payload":${Json.str(payload)}}"""
}

object EventGen {
  val Types: Seq[String] = Seq("view", "click", "cart", "buy", "share", "rate")
  val Users = 2000
  val BaseTs = 1700000000000000L
  val Initial = 6000
}

/** Events: an initial load of `Initial` rows with ts rising with the id,
  * then batches of new events and updates. Updates carry a newer ts and
  * keep their event type (the partition); one update in ten is late and
  * must lose. Every stored ts is unique, so top-k answers are exact.
  */
final class EventGen(seed: Long) {
  import EventGen._
  private val rng = new Rng(seed)
  private val users = new Zipf(Users, 1.05)
  private val types = new Zipf(Types.size, 0.8)
  private var clock = BaseTs
  private var nextId = 0L
  private val typeOf = mutable.Map.empty[Long, String]
  private val tsOf = mutable.Map.empty[Long, Long]

  private def tick(): Long = { clock += 1000 + rng.below(1000); clock }

  private def fresh(): EventRow = {
    val id = nextId
    nextId += 1
    val t = Types(types.sample(rng))
    typeOf(id) = t
    val ts = tick()
    tsOf(id) = ts
    EventRow(id, users.sample(rng).toLong, t, ts, 1 + rng.below(10000).toLong,
      s"e$id-${rng.below(1 << 16)}")
  }

  def initialLoad(): Seq[EventRow] = Seq.fill(Initial)(fresh())

  /** A batch of `size` rows: 60% new events, the rest updates of existing
    * ids (skewed towards recent ones), a tenth of those late.
    */
  def batch(size: Int): Seq[EventRow] = Seq.fill(size) {
    if (nextId == 0 || rng.chance(0.6)) fresh()
    else {
      val back = math.min(nextId - 1, (math.abs(rng.gaussian()) * nextId / 8).toLong)
      val id = nextId - 1 - back
      val late = rng.chance(0.1)
      val ts = if (late) tsOf(id) - 1 - rng.below(500) else tick()
      if (!late) tsOf(id) = ts
      EventRow(id, users.sample(rng).toLong, typeOf(id), ts,
        1 + rng.below(10000).toLong, s"u$id-${rng.below(1 << 16)}")
    }
  }

  /** mixed's fixed query set after each commit, one query of each kind,
    * placed by rank so every seed does the same amount of work: the newest
    * event, a warm user (Zipf rank 10), the latest 1/400 of the time span,
    * the global top 10, one event type's ts stats, and the rollup.
    */
  def fixedSet(): Seq[EventQuery] = {
    val span = clock - BaseTs
    Seq(KeyLookup(nextId - 1), UserLookup(10), TsRange(clock - span / 400, clock),
      TopK(None, 10), TsStats(Some(Types(3))), TypeRollup)
  }
}

sealed trait EventQuery { def kind: String }
/** Point lookup on the key. */
final case class KeyLookup(id: Long) extends EventQuery { def kind = "lookup" }
/** Point lookup on the secondary-indexed column. */
final case class UserLookup(user: Long) extends EventQuery { def kind = "lookup" }
/** Rows with ts in [lo, hi]. */
final case class TsRange(lo: Long, hi: Long) extends EventQuery { def kind = "scan" }
/** The k latest events, optionally within one event type. */
final case class TopK(eventType: Option[String], k: Int) extends EventQuery { def kind = "scan" }
/** min(ts), max(ts), count over the table or one event type. */
final case class TsStats(eventType: Option[String]) extends EventQuery { def kind = "scan" }
/** count and sum(value) per event type, the keyed MV's shape. */
case object TypeRollup extends EventQuery { def kind = "scan" }

/** Expected events table: the latest version per event id, and a
  * brute-force answer to every query, in plain collections.
  */
final class EventModel {
  val rows = mutable.Map.empty[Long, EventRow]

  def apply(batch: Seq[EventRow]): Unit = batch.foreach { r =>
    rows.get(r.eventId) match {
      case Some(cur) if cur.ts > r.ts =>
      case _ => rows(r.eventId) = r
    }
  }

  /** The canonical answer: sorted lines, one per result row. */
  def answer(q: EventQuery): Seq[String] = q match {
    case KeyLookup(id) => rows.get(id).toSeq.map(Answers.row)
    case UserLookup(u) => rows.values.filter(_.userId == u).map(Answers.row).toSeq.sorted
    case TsRange(lo, hi) =>
      rows.values.filter(r => r.ts >= lo && r.ts <= hi).map(Answers.row).toSeq.sorted
    case TopK(t, k) =>
      rows.values.filter(r => t.forall(_ == r.eventType)).toSeq
        .sortBy(-_.ts).take(k).map(Answers.row)
    case TsStats(t) =>
      val sel = rows.values.filter(r => t.forall(_ == r.eventType))
      if (sel.isEmpty) Seq("null|null|0")
      else Seq(s"${sel.map(_.ts).min}|${sel.map(_.ts).max}|${sel.size}")
    case TypeRollup =>
      rows.values.groupBy(_.eventType).toSeq.map { case (t, rs) =>
        s"$t|${rs.size}|${rs.map(_.value).sum}"
      }.sorted
  }
}

object Answers {
  def row(r: EventRow): String =
    s"${r.eventId}|${r.userId}|${r.eventType}|${r.ts}|${r.value}|${r.payload}"
}

// ---------------------------------------------------------------------------
// curate: a corpus with planted duplicates and clustered embeddings
// ---------------------------------------------------------------------------

final case class Doc(id: Long, text: String, lang: String, source: String) {
  def json: String =
    s"""{"doc_id":$id,"text":${Json.str(text)},"lang":${Json.str(lang)},""" +
      s""""source":${Json.str(source)},"n_chars":${text.length}}"""
}

final case class Vec(id: Long, v: Array[Float], label: Int) {
  def json: String =
    s"""{"vec_id":$id,"embedding":[${v.map(_.toString).mkString(",")}],"label":$label}"""
}

object CurateGen {
  val Stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "of", "and", "to", "in"),
    "fr" -> Seq("le", "la", "les", "des", "et"),
    "es" -> Seq("el", "los", "las", "una", "y"),
    "de" -> Seq("der", "die", "das", "und", "ist"))
  val Langs: Seq[String] = Seq("en", "fr", "es", "de")
  val Dim = 64
}

/** A corpus of `docs` documents: word soup over a Zipf vocabulary with
  * stopwords; every 25th document is a planted exact copy, every 12th
  * otherwise a planted near copy (one token of ~60 replaced), every 20th
  * otherwise short. Fixed positions keep the amount of work the same for
  * every seed. `vectors` embeddings sit in `clusters` tight Gaussian
  * clusters around random unit centres.
  */
final class CurateGen(seed: Long, val docs: Int, val vectors: Int, val clusters: Int) {
  import CurateGen._
  private val rng = new Rng(seed)
  private val vocab = (0 until 3000).map(i => s"w$i")
  private val words = new Zipf(vocab.size, 1.0)

  /** Documents plus the planted (original, copy) pairs, exact and near. */
  def corpus(): (Seq[Doc], Seq[(Long, Long)], Seq[(Long, Long)]) = {
    val out = mutable.ArrayBuffer.empty[Doc]
    val exact = mutable.ArrayBuffer.empty[(Long, Long)]
    val near = mutable.ArrayBuffer.empty[(Long, Long)]
    while (out.size < docs) {
      val id = out.size.toLong
      if (id > 10 && id % 25 == 0) {
        val src = out(rng.below(out.size))
        out += src.copy(id = id)
        exact += ((src.id, id))
      } else if (id > 10 && id % 12 == 0) {
        val src = out(rng.below(out.size))
        val toks = src.text.split(" ")
        val at = rng.below(toks.length)
        toks(at) = s"edit${id}"
        out += src.copy(id = id, text = toks.mkString(" "))
        near += ((src.id, id))
      } else {
        val lang = Langs(rng.below(Langs.size))
        val n = 40 + rng.below(40)
        val toks = Seq.fill(n) {
          if (rng.chance(0.12)) { val sw = Stopwords(lang); sw(rng.below(sw.size)) }
          else vocab(words.sample(rng))
        }
        val text = if (id % 20 == 7) toks.take(3 + rng.below(10)).mkString(" ") else toks.mkString(" ")
        out += Doc(id, text, lang, s"src${rng.below(20)}")
      }
    }
    (out.toSeq, exact.toSeq, near.toSeq)
  }

  def embeddings(): Seq[Vec] = {
    val centres = Array.fill(clusters) {
      val c = Array.fill(Dim)(rng.gaussian())
      val n = math.sqrt(c.map(x => x * x).sum)
      c.map(_ / n)
    }
    (0 until vectors).map { i =>
      val label = rng.below(clusters)
      val v = centres(label).map(x => (x + 0.05 * rng.gaussian() / math.sqrt(Dim)).toFloat)
      Vec(i.toLong, v, label)
    }
  }
}

/** Brute-force answers for the curate job in plain collections. */
object CurateModel {
  import CurateGen._

  def tokens(text: String): Array[String] = text.split(" ", -1)

  /** Exact dedup: the lowest doc id of each distinct text. */
  def exactKeep(docs: Seq[Doc]): Set[Long] =
    docs.groupBy(_.text).values.map(_.map(_.id).min).toSet

  def shingles(text: String, k: Int): Set[String] = {
    val t = tokens(text)
    if (t.length < k) Set(t.mkString(" "))
    else (0 to t.length - k).map(i => t.slice(i, i + k).mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.intersect(b).size
    inter.toDouble / (a.size + b.size - inter)
  }

  /** Composite quality score: half length (saturating at 20 tokens), half
    * stopword ratio (saturating at 10%).
    */
  def quality(text: String): Double = {
    val t = tokens(text)
    val all = Stopwords.values.flatten.toSet
    val n = t.length.toDouble
    val ratio = t.count(all.contains).toDouble / n
    val len = if (n >= 20.0) 1.0 else n / 20.0
    val stop = if (ratio > 0.1) 1.0 else ratio * 10.0
    len * 0.5 + stop * 0.5
  }

  /** Top `k` terms by occurrences (then term), with document frequency. */
  def vocabulary(docs: Seq[Doc], k: Int): Seq[(String, Long, Long)] = {
    val occ = mutable.Map.empty[String, Long]
    val df = mutable.Map.empty[String, Long]
    docs.foreach { d =>
      val t = tokens(d.text)
      t.foreach(w => occ(w) = occ.getOrElse(w, 0L) + 1)
      t.distinct.foreach(w => df(w) = df.getOrElse(w, 0L) + 1)
    }
    occ.toSeq.sortBy { case (w, n) => (-n, w) }.take(k).map { case (w, n) => (w, n, df(w)) }
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    if (na == 0 || nb == 0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Cosine of the `k`-th nearest neighbour of `q` (excluding itself): a
    * returned neighbour is correct when it is at least this close.
    */
  def kthCosine(vecs: Seq[Vec], q: Long, k: Int): Double = {
    val qv = vecs.find(_.id == q).get.v
    vecs.filter(_.id != q).map(v => cosine(qv, v.v)).sorted(Ordering[Double].reverse)(k - 1)
  }
}
