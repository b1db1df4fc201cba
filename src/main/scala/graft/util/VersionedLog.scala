package graft.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import java.io.{FileNotFoundException, IOException}
import java.nio.charset.StandardCharsets.UTF_8

/** The versioned log that every piece of small shared state commits
  * through: entries `<path>/_graft_log/<version>`, each body the FULL state
  * at that version (the ingest layouts' [[StreamCommit.LogState]], the
  * backup catalog, the offset marks). This is the offset/commit-log
  * discipline of Structured Streaming: a writer reads the newest entry,
  * derives the next state, and creates `version + 1` with
  * `CheckpointFileManager.createAtomic(overwriteIfPossible = false)` —
  * write a temp, rename it to the version's name, refuse if the name
  * exists. Two writers that read the same version race for the same name
  * and exactly one wins. On the local filesystem the temp is published
  * with link(2) (`Files.createLink`), which refuses an existing name in one
  * step. Rename without overwrite is atomic on HDFS; on the `chaos:` and
  * object-store filesystems the manager checks for the target before
  * renaming, and a second writer inside that gap renames over the first.
  * So a commit there reads its entry back and counts a different body as
  * lost; two writers can both count as winners only when one's
  * check-to-rename gap spans the other's whole rename and read-back.
  *
  * Disk cost: at most [[KeptVersions]] full-state entries per log.
  */
object VersionedLog {

  /** Log entries kept after a commit: the newest and the nine below it. */
  val KeptVersions = 10
  private val EntryRe = "([0-9]+)".r
  private val TempRe = "\\.([0-9]+)\\..*\\.tmp".r

  private def names(f: FileSystem, dir: Path): Seq[String] =
    try f.listStatus(dir).toSeq.map(_.getPath.getName)
    catch { case _: FileNotFoundException => Nil }

  private def versions(f: FileSystem, dir: Path): Seq[Long] =
    names(f, dir).collect { case EntryRe(v) => v.toLong }

  /** The newest entry as (version, body), or None when the log at `path`
    * holds no entry yet.
    */
  def latest(conf: Configuration, path: String): Option[(Long, String)] = {
    val dir = new Path(s"$path/_graft_log")
    val f = dir.getFileSystem(conf)
    versions(f, dir).maxOption.map(v => v -> Sidecar.readText(f, new Path(dir, v.toString)))
  }

  /** Create entry `version` with `body`. Returns None when the entry is
    * committed, else why the compare-and-swap was lost; callers turn a
    * loss into a retry (an idempotent merge) or a loud conflict.
    *
    * Afterwards every entry more than [[KeptVersions]]−1 below the newest
    * is deleted, along with the temps of crashed or losing writers for
    * versions already taken. A writer that held its state so long that
    * its target version had already been deleted by that rule would
    * re-create a version below the newest: its entry falls outside the
    * kept window, is deleted by the same pass, and the commit is lost.
    */
  def commit(conf: Configuration, path: String, version: Long,
             body: String): Option[String] = {
    val dir = new Path(s"$path/_graft_log")
    val entry = new Path(dir, version.toString)
    val f = dir.getFileSystem(conf)
    val taken = try {
      if (f.getUri.getScheme == "file") {
        // plain `java.nio`, as `Sidecar.replace` on `file`: no `.crc`, no
        // forked `chmod`/`readlink` helpers
        import java.nio.file.Files
        import org.apache.hadoop.fs.permission.FsPermission.{getDirDefault, getFileDefault}
        val d = Files.createDirectories(java.nio.file.Paths.get(f.makeQualified(dir).toUri),
          Sidecar.localMode(conf, getDirDefault))
        val tmp = d.resolve(s".$version.${java.util.UUID.randomUUID()}.tmp")
        Files.write(Files.createFile(tmp, Sidecar.localMode(conf, getFileDefault)),
          body.getBytes(UTF_8))
        try Files.createLink(d.resolve(entry.getName), tmp) finally Files.deleteIfExists(tmp)
        false
      } else {
        val cfm = CheckpointFileManager.create(dir, conf)
        cfm.mkdirs(dir)
        val out = cfm.createAtomic(entry, overwriteIfPossible = false)
        try out.write(body.getBytes(UTF_8)) catch { case e: Throwable => out.cancel(); throw e }
        out.close()
        // a second writer inside the manager's check-to-rename gap renamed over it
        Sidecar.readText(f, entry) != body
      }
    } catch {
      // a writer that already took this version refused this rename, or
      // swept this temp (see the retention rule below)
      case _: IOException if versions(f, dir).exists(_ >= version) => true
    }
    val newest = versions(f, dir).max
    val floor = newest - (KeptVersions - 1)
    names(f, dir).foreach {
      case n @ EntryRe(v) if v.toLong < floor => f.delete(new Path(dir, n), false)
      case n @ TempRe(v) if v.toLong <= newest => f.delete(new Path(dir, n), false)
      case _ => ()
    }
    if (taken) Some(s"version $version was already committed")
    else if (version < floor) Some(s"version $version is below the kept window [$floor, $newest]")
    else None
  }

  /** Commit the state `next` derives from the newest entry's body (None
    * when the log is empty) as the next version, deriving again after each
    * lost round until a commit lands — for writers whose derivation is an
    * idempotent merge. Each lost round bumps the `lostRounds` counter.
    * Returns the committed state and body.
    */
  @annotation.tailrec
  def advance[S](conf: Configuration, path: String, lostRounds: String)(
      next: Option[String] => (S, String)): (S, String) = {
    val cur = latest(conf, path)
    val (state, body) = next(cur.map(_._2))
    if (commit(conf, path, cur.fold(1L)(_._1 + 1), body).isEmpty) (state, body)
    else {
      graft.metrics.GraftCounters.inc(lostRounds)
      advance(conf, path, lostRounds)(next)
    }
  }
}
