package graft

import org.apache.spark.sql.SparkSession

/** Crash points and older layout forms of the ingest log
  * (`graft.util.StreamCommit`), built on a local layout for the
  * ingest-protocol specs.
  */
object IngestLogFixtures {

  private def entries(path: String): Seq[java.io.File] =
    Option(new java.io.File(path, "_graft_log").listFiles())
      .getOrElse(Array.empty).filter(_.getName.matches("[0-9]+"))
      .sortBy(_.getName.toLong).toSeq

  /** The ingest log's entry versions, oldest first. */
  def logVersions(path: String): Seq[Long] =
    entries(path).map(_.getName.toLong)

  /** Delete the newest log entry: after an apply, the state an apply
    * killed after its promote and before its log commit leaves (its files
    * in the layout, its batch nowhere in the log).
    */
  def dropNewestEntry(path: String): Unit =
    assert(entries(path).last.delete(), s"no log entry to drop at $path")

  /** Run `op`, then put back every file under `globs` that it deleted: the
    * layout a removal or compaction killed after its log commit and before
    * its scrub leaves.
    */
  def killedBeforeScrub[T](spark: SparkSession, globs: Seq[String])(op: => T): T = {
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val saved = globs
      .flatMap(g => Option(fs.globStatus(new org.apache.hadoop.fs.Path(g)))
        .getOrElse(Array.empty))
      .map { st =>
        val f = java.nio.file.Paths.get(st.getPath.toUri)
        f -> java.nio.file.Files.readAllBytes(f)
      }
    assert(saved.nonEmpty, s"fixture: nothing under ${globs.mkString(", ")}")
    val r = op
    saved.foreach { case (f, bytes) =>
      java.nio.file.Files.createDirectories(f.getParent)
      java.nio.file.Files.write(f, bytes)
    }
    r
  }

  /** Rewrite a layout in the form the marker protocol wrote: each pending
    * batch as a `_stream_appends/<tag>` marker file (its counter delta as
    * the JSON body, empty for a dense layout), the newest log entry without
    * `pending`.
    */
  def toMarkerLayout(path: String): Unit = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods.{compact, parse}
    val newest = entries(path).last.toPath
    val j = parse(new String(java.nio.file.Files.readAllBytes(newest), "UTF-8"))
    val markers = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(path, "_stream_appends"))
    for {
      JObject(streams) <- Seq(j \ "pending")
      (sid, JObject(ids)) <- streams
      (id, delta) <- ids
    } java.nio.file.Files.write(
      markers.resolve(graft.util.StreamCommit.tag(sid, id.toLong)),
      (if (delta == JObject(Nil)) "" else compact(delta)).getBytes("UTF-8"))
    java.nio.file.Files.write(newest,
      compact(j.removeField(_._1 == "pending")).getBytes("UTF-8"))
  }

  /** The layout's marker files, by tag. */
  def markerTags(path: String): Set[String] =
    Option(new java.io.File(path, "_stream_appends").list())
      .getOrElse(Array.empty).toSet
}
