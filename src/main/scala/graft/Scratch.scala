package graft

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.concurrent.TrieMap

import org.apache.commons.io.FileUtils

/** Scratch space under `java.io.tmpdir` — every temp directory, memoized
  * fixture and staged clone the query catalogue and the demo make goes
  * through here. Three lifetimes:
  *   - [[dir]]: a fresh directory per call, kept until JVM exit;
  *   - [[once]]: built once per key under its own root, kept until JVM
  *     exit;
  *   - [[clone]]: a template built once per key; each call hard-links the
  *     WHOLE template root into a fresh directory and retires the
  *     previous call's clone of that key.
  * Every directory name is drawn by `createTempDirectory`, so JVMs side
  * by side never share one, and ONE shutdown hook removes them all.
  * Failure to clean costs disk, never correctness — no engine state
  * survives a JVM by design.
  */
object Scratch {
  private val roots =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  Runtime.getRuntime.addShutdownHook(new Thread(
    () => roots.forEach(r => FileUtils.deleteQuietly(new File(r))),
    "graft-scratch-cleanup"))

  /** A fresh directory `graft_<tag>_*`, removed at JVM exit. */
  def dir(tag: String): String = {
    val r = Files.createTempDirectory(s"graft_${tag}_").toString
    roots.add(r)
    r
  }

  private val built = TrieMap.empty[Seq[Any], Any]

  /** `build(root)` run once per (kind, key) under a fresh root
    * `graft_<kind>_*`; later calls return the first call's value. The
    * memo is shared by every caller, so the kind keeps theirs apart.
    */
  def once[T](kind: String, key: Any*)(build: String => T): T =
    built.getOrElseUpdate(kind +: key, build(dir(kind))).asInstanceOf[T]

  private val lastClone = TrieMap.empty[Seq[Any], String]

  /** Staged clones for queries that MUTATE their input: `build` makes the
    * pre-mutation state once per key under a template root; each call
    * hard-links the whole root — the table directories with their
    * `_graft_*` sidecars AND the sibling `_graft_timeline.*` dirs — into
    * a fresh directory to mutate. Returns (template root, the build's
    * payload, this call's clone root).
    *
    * Sound because every change signal the engine consults travels as
    * bytes (commit ids and timeline markers are data, stats key on
    * relative path + length, blooms and indexes on file names; nothing
    * reads mtimes), and no engine path opens an existing table file for
    * WRITE — every mutation is delete-then-create — so a linked clone
    * never corrupts its template (StagedCloneSpec pins both).
    *
    * CONSUMPTION CONTRACT: the previous clone of a key is deleted when
    * the key is cloned again, so a caller must materialize a clone's
    * results before the next call with the same key. Retiring at the next
    * call, not at exit, keeps temp disk at one clone per key however many
    * repetitions run.
    */
  def clone[T](key: Any*)(build: String => T): (String, T, String) = {
    val (root, payload) = once("tpl", key: _*)(r => (r, build(r)))
    val dst = dir("clone")
    link(root, dst)
    lastClone.put(key, dst).foreach { prev =>
      FileUtils.deleteQuietly(new File(prev))
      roots.remove(prev)
    }
    (root, payload, dst)
  }

  /** Mirror `from` into `to` as hard links (a real copy where the file
    * system refuses links): O(file count) metadata operations, and
    * byte-identical by construction.
    */
  private def link(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val dst = Paths.get(to)
    // Files.walk holds directory handles until closed.
    val walk = Files.walk(src)
    try walk.forEach { p =>
      val q = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else
        try Files.createLink(q, p)
        catch {
          case _: UnsupportedOperationException | _: java.io.IOException =>
            Files.copy(p, q, StandardCopyOption.REPLACE_EXISTING)
        }
    } finally walk.close()
  }
}
