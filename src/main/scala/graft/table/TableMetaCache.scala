package graft.table

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The one cache of metadata derived from a table's on-disk state:
  * sidecar snapshots and head rows, the optimizer rules' declined
  * serves, MoR winner maps, advisor measurements. Entries are grouped by
  * table root and hold only while the root's on-disk version
  * is unchanged:
  *   - the latest timeline marker — every commit records one (Hudi's
  *     `.hoodie` instant, SURVEY §1);
  *   - the (name, modification time) of each `_graft_*` child of the
  *     root, from one listing. Sidecar publishes record no marker but
  *     replace their directory or file, which moves its modification
  *     time — so a rebuilt or out-of-band-rewritten RLI, SI, stats or
  *     bloom sidecar invalidates the entry too.
  *
  * Freshness therefore follows what is on disk: a change made by another
  * table instance, session or process is seen on the next lookup, and a
  * commit to one table leaves every other table's entries alone.
  * Soundness never rests here — a stale entry only skips an optimization,
  * and positive serves re-prove freshness through
  * [[KeyedTable.fileDeltaSince]] every time. (On an object store without
  * directory modification times only the marker half moves; sidecar
  * publishes there would need a marker of their own.)
  */
object TableMetaCache {

  private final case class Version(marker: String, sidecars: Seq[(String, Long)])

  private final class Entry(val version: Version) {
    val values = new ConcurrentHashMap[Any, Any]()
  }

  private val entries = new ConcurrentHashMap[String, Entry]()

  /** Values cached across all tables; past it the cache clears wholesale. */
  private val MaxValues = 4096

  // Versions read inside a [[pinVersions]] scope, per qualified root.
  private val pinned = new ThreadLocal[scala.collection.mutable.Map[String, Version]]

  /** Run `body` reading each root's version at most once: an optimizer
    * rule application wraps itself in this, so its decline check and the
    * snapshots its serve reads all agree on one version per table. Only
    * for read-only work — a mutation inside the scope would go unseen
    * until the scope ends. Nested scopes share the outermost one.
    */
  def pinVersions[A](body: => A): A =
    if (pinned.get != null) body
    else {
      pinned.set(scala.collection.mutable.HashMap.empty)
      try body finally pinned.remove()
    }

  private def qualified(spark: SparkSession, root: String): String = {
    val p = new Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p).toString
  }

  /** The on-disk version of the table at the qualified `root`. */
  private def version(spark: SparkSession, root: String): Version = {
    def read(): Version = {
      val p = new Path(root)
      val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val sidecars =
        try f.listStatus(p).toSeq.collect {
          case s if s.getPath.getName.startsWith("_graft_") =>
            (s.getPath.getName, s.getModificationTime)
        }.sorted
        catch { case _: java.io.FileNotFoundException => Nil }
      Version(KeyedTable.latestTimelineMarker(spark, root), sidecars)
    }
    Option(pinned.get).fold(read())(_.getOrElseUpdate(root, read()))
  }

  /** The entry for `root` at its current version. A superseded entry is
    * replaced and its closeable values (winner-map broadcasts) released.
    */
  private def entryOf(spark: SparkSession, root: String): Entry = {
    val r = qualified(spark, root)
    val v = version(spark, r)
    @annotation.tailrec
    def install(): Entry = {
      val cur = entries.get(r)
      if (cur != null && cur.version == v) cur
      else {
        val fresh = new Entry(v)
        val won =
          if (cur == null) entries.putIfAbsent(r, fresh) == null
          else entries.replace(r, cur, fresh)
        if (!won) install()
        else {
          if (cur != null) cur.values.values.forEach(release)
          fresh
        }
      }
    }
    install()
  }

  private def release(v: Any): Unit = v match {
    case c: AutoCloseable =>
      try c.close() catch { case scala.util.control.NonFatal(_) => () }
    case _ => ()
  }

  private def put(e: Entry, key: Any, value: Any): Any = {
    // Dropped entries' broadcasts are left to Spark's ContextCleaner
    // rather than destroyed: a running query may still hold one.
    if (entries.values.stream.mapToInt(_.values.size).sum > MaxValues)
      entries.clear()
    e.values.putIfAbsent(key, value) match {
      case null => value
      case won => release(value); won
    }
  }

  /** The value cached under `key` for `root`'s current version, computed
    * on a miss. The version is read BEFORE `compute` runs, so a change
    * landing mid-compute can only make the entry look older than it is,
    * never newer. Of two racing computes the first installed wins; the
    * loser's value is released. A value bound to a session (a
    * `DataFrame`) must carry that session in `key`.
    */
  def get[A](spark: SparkSession, root: String, key: Any)(compute: => A): A = {
    val e = entryOf(spark, root)
    e.values.get(key) match {
      case null => put(e, key, compute).asInstanceOf[A]
      case hit => hit.asInstanceOf[A]
    }
  }

  private case object Declined

  /** Gate an optimizer rule's serve (per `owner`, the rule instance): a
    * decline remembered for `key` while every root in `roots` is at its
    * current version short-circuits to `None`, and a fresh decline is
    * remembered. Catalyst's fixpoint batches re-run every rule per
    * iteration and sibling rules rebuild node instances between them, so
    * without this a declined probe re-pays its plan-time sidecar IO many
    * times per optimization; `key` is the SEMANTIC probe (table root plus
    * the normalized values, ranges, aggregate needs the rule derived), so
    * node churn and inferred-filter duplicates all hit one entry. The
    * decline lives in the first root's entry, keyed also on the other
    * roots' versions: a join's decline depends on both sides.
    */
  def declineGated[A](spark: SparkSession, owner: AnyRef, roots: String*)(
      key: Any)(serve: => Option[A]): Option[A] = {
    val e = entryOf(spark, roots.head)
    val k = (owner, key, roots.tail.map(r => version(spark, qualified(spark, r))))
    if (e.values.containsKey(k)) None
    else {
      val r = serve
      if (r.isEmpty) put(e, k, Declined)
      r
    }
  }
}
