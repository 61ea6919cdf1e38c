package graft.table

import java.util.UUID

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** Every write-aside in the table layer: how a stage is named, how it is
  * published and which stages are orphans. Each writer stages under a
  * fresh name and publishes with a checked rename, so a reader never sees
  * a half-written file set and two writers never delete each other's
  * staged files. A failed write deletes its own stage and nothing else.
  */
private[graft] object Staging {

  private val StageInfix = "_graft_stage_"

  /** A fresh stage for `owner` (a table or MV root):
    * `<root>_graft_stage_<kind>_<uuid>_tmp`. A SIBLING, never a child, so
    * scans, the metadata cache's `_graft_*` version and listings of the
    * root never see it; built from Path parts, so a trailing slash in the
    * owner path cannot turn it into a child.
    */
  def dir(owner: Path, kind: String): Path =
    new Path(owner.getParent,
      s"${owner.getName}$StageInfix${kind}_${UUID.randomUUID()}_tmp")

  /** Run `body` on `stage`; if it throws, delete that stage (nothing
    * else) and rethrow. On success the stage is the caller's to publish.
    */
  def staged[T](fs: FileSystem, stage: Path)(body: Path => T): T =
    try body(stage)
    catch { case NonFatal(e) => fs.delete(stage, true); throw e }

  /** Replace the directory `target`: `write` fills a fresh stage of
    * `owner`, then `target` is deleted and the stage renamed onto it. A
    * failed final rename keeps the stage and names it in the error:
    * `target` is gone by then, and the stage holds the only copy.
    */
  def replaceDir[T](fs: FileSystem, owner: Path, target: Path, kind: String)(
      write: Path => T): T = {
    val stage = dir(owner, kind)
    val out = staged(fs, stage)(write)
    fs.delete(target, true)
    publish(fs, stage, target)
    out
  }

  /** Replace the small UTF-8 file `target` with `text`, written to a
    * hidden `.<name>.<uuid>.tmp` beside it. Never create-over-existing: an
    * in-place overwrite truncates the existing inode, which writes through
    * a hard-linked staged clone into its template and tears on a crash.
    */
  def replaceFile(fs: FileSystem, target: Path, text: String): Unit = {
    val tmp = writeAside(fs, target, text)
    fs.delete(target, false)
    publish(fs, tmp, target)
  }

  /** [[replaceFile]] onto a name that never pre-exists: no delete. */
  def createFile(fs: FileSystem, target: Path, text: String): Unit =
    publish(fs, writeAside(fs, target, text), target)

  private def writeAside(fs: FileSystem, target: Path, text: String): Path =
    staged(fs,
      new Path(target.getParent, s".${target.getName}.${UUID.randomUUID()}.tmp")) { tmp =>
      val out = fs.create(tmp, true)
      try out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      tmp
    }

  private def publish(fs: FileSystem, stage: Path, target: Path): Unit =
    if (!fs.rename(stage, target))
      throw new java.io.IOException(
        s"could not publish $target: rename from $stage failed (the stage is kept)")

  /** Delete the orphaned write-asides of the table at `root`, whose
    * commit markers live under `timeline`. No read path consults them, but
    * at scale they hold real bytes and inflate every listing. Data files,
    * sidecars, the timeline and the lock are never touched. Orphans are a
    * `<root>_graft_*_tmp` sibling without the `_graft_stage_` infix (an
    * older writer's fixed scratch name, which no writer creates any more),
    * a crashed committer's `_temporary` / `.spark-staging-*` in the root,
    * and a `_graft_stage_*` sibling or hidden `.tmp` file in the root that
    * is older than the latest marker: a later commit has landed since it
    * was staged. The timeline is listed once; writers pay nothing. Limit:
    * an unlocked writer whose stage predates ANOTHER writer's later commit
    * looks like a crashed one and is swept; telling them apart would need
    * a writer heartbeat.
    */
  def sweepOrphans(fs: FileSystem, root: Path, timeline: Path): Unit = {
    val markers =
      if (fs.exists(timeline)) fs.listStatus(timeline) else Array.empty[FileStatus]
    val latest =
      if (markers.isEmpty) Long.MinValue
      else markers.maxBy(_.getPath.getName).getModificationTime
    def landedSince(st: FileStatus) = st.getModificationTime < latest
    def sweep(dir: Path)(orphan: (String, FileStatus) => Boolean): Unit =
      if (fs.exists(dir))
        fs.listStatus(dir).filter(st => orphan(st.getPath.getName, st))
          .foreach(st => fs.delete(st.getPath, true))
    Option(root.getParent).foreach(sweep(_) { (n, st) =>
      n.startsWith(root.getName + "_graft_") && n.endsWith("_tmp") &&
        (!n.startsWith(root.getName + StageInfix) || landedSince(st))
    })
    sweep(root) { (n, st) =>
      n == "_temporary" || n.startsWith(".spark-staging") ||
        (n.startsWith(".") && n.endsWith(".tmp") && landedSince(st))
    }
  }
}
