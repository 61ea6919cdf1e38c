package graft.table

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The one cache of metadata derived from a table's on-disk state:
  * sidecar snapshots and head rows, MoR winner maps, advisor
  * measurements. Entries are grouped by table root and hold only while
  * the root's on-disk version is unchanged:
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
  * and positive serves re-prove freshness through the commit→files
  * delta ([[IndexView]]) every time. (On an object store without
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

  /** Run `body` reading each root's version at most once. Each
    * [[graft.plans.KeyedServe]] application is one scope, so all six
    * pruning families' decline checks and the snapshots their serves read
    * agree on one version per table, read once per application. Only for
    * read-only work — a mutation inside the scope would go unseen until
    * the scope ends. Nested scopes share the outermost one.
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

  /** Reads of a table's on-disk version (one listing of the root plus its
    * latest timeline marker) — observable so a spec can pin how often
    * planning pays them.
    */
  private[graft] val versionReads = new java.util.concurrent.atomic.AtomicLong

  /** The on-disk version of the table at the qualified `root`. */
  private def version(spark: SparkSession, root: String): Version = {
    def read(): Version = {
      versionReads.incrementAndGet()
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

  /** Values cached across all tables. */
  private[graft] def valueCount: Int =
    entries.values.stream.mapToInt(_.values.size).sum

  private def put(e: Entry, key: Any, value: Any): Any = {
    // Dropped entries' broadcasts are left to Spark's ContextCleaner
    // rather than destroyed: a running query may still hold one.
    if (valueCount > MaxValues) entries.clear()
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

  /** Gate a pruning family's serve on `declines`, the memo the family
    * instance owns: a decline remembered for `key` while every root in
    * `roots` is at its current version short-circuits to `None`, and a
    * fresh decline is remembered. Catalyst's fixpoint batches re-apply the
    * rule per iteration and other rules rebuild node instances between
    * them, so without this a declined probe re-pays its plan-time sidecar
    * IO many times per optimization; `key` is the SEMANTIC probe (table
    * root plus the normalized values, ranges, aggregate needs the rule
    * derived), so node churn and inferred-filter duplicates all hit one
    * entry. The versions of ALL roots join the key: a join's decline
    * depends on both sides. The memo lives and dies with the family —
    * the session's optimizer builds the injected rule afresh for each
    * optimization — so declines never occupy this cache.
    */
  def declineGated[A](
      spark: SparkSession, declines: scala.collection.mutable.Set[Any], roots: String*)(
      key: Any)(serve: => Option[A]): Option[A] = {
    val k = (key, roots.map(r => version(spark, qualified(spark, r))))
    if (declines.contains(k)) None
    else {
      val r = serve
      if (r.isEmpty) declines += k
      r
    }
  }
}
