package graft.util

import org.apache.spark.sql.SparkSession

/** Shared Hadoop-FS small-file IO: the JSON sidecars of persisted
  * model/index layouts (ANN indexes, LM counts, classifier coefficients)
  * and the backup catalog's `manifest.json` export. The filesystem is
  * resolved FROM THE PATH URI, so `s3a://…`, `hdfs://…`, and local paths
  * all work and every call site agrees on the resolution rule.
  */
object Sidecar {

  /** Schemes whose rename is an atomic metadata operation (local, HDFS,
    * ADLS). Everywhere else (s3a, gs) a rename is delete + server-side
    * copy: a crash between the two leaves NO file, worse than the torn
    * write the rename exists to prevent.
    */
  private val RenameAtomic = Set("file", "hdfs", "viewfs", "abfs", "abfss", "wasb", "wasbs")

  /** Replace the small file `dest` with `body` so that readers see the old
    * body or the new one, never a torn file — the one replace rule for
    * single-file state (model sidecars, the `manifest.json` export). On a
    * rename-atomic scheme: write a dot-temp, then rename it over `dest`.
    * Elsewhere: ONE overwrite-create PUT, committed atomically at close on
    * object stores (and on schemes without a `FileContext` binding, like
    * the `chaos:` test filesystem). Never `create(dest, overwrite = true)`
    * on a rename-atomic scheme: it truncates the only copy before the new
    * bytes land. Versioned state that several writers read-modify-write
    * commits through [[VersionedLog]] instead.
    *
    * On `file` the temp and the rename are plain `java.nio`, as segments
    * are ([[graft.pipelines.SegmentFiles]]): rename(2) replaces `dest` in
    * one step, where Hadoop's local OVERWRITE rename is a delete then a
    * rename, and without native libraries Hadoop's local create and
    * `FileContext.rename` fork `chmod` and `readlink` helpers (one per
    * create, four per rename). Elsewhere `FileContext.rename` OVERWRITE.
    */
  def replace(conf: org.apache.hadoop.conf.Configuration,
              dest: org.apache.hadoop.fs.Path, body: String): Unit = {
    val fs = dest.getFileSystem(conf)
    val scheme = Option(fs.getUri.getScheme).getOrElse("file")
    val bytes = body.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val tmp = if (!RenameAtomic(scheme)) dest else new org.apache.hadoop.fs.Path(dest.getParent,
      s".${dest.getName}.tmp.${java.util.UUID.randomUUID().toString.take(8)}")
    try if (scheme == "file") {
      import java.nio.file.Files
      import org.apache.hadoop.fs.permission.FsPermission.{getDirDefault, getFileDefault}
      val f = java.nio.file.Paths.get(fs.makeQualified(dest).toUri)
      val t = Files.createDirectories(f.getParent, localMode(conf, getDirDefault))
        .resolve(tmp.getName)
      Files.write(Files.createFile(t, localMode(conf, getFileDefault)), bytes)
      // a `.crc` left by an earlier Hadoop write of `dest` would not match
      // the new bytes, and checksummed reads would reject them
      Files.deleteIfExists(f.resolveSibling(s".${f.getFileName}.crc"))
      Files.move(t, f, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } else {
      scala.util.Using.resource(fs.create(tmp, true))(_.write(bytes))
      if (tmp != dest) org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri, conf)
        .rename(tmp, dest, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch {
      // where OVERWRITE is a delete then a rename, a concurrent replace
      // landed in between, and readers see its whole file
      case _: org.apache.hadoop.fs.FileAlreadyExistsException if tmp != dest => fs.delete(tmp, false)
      case e: Throwable =>
        if (tmp != dest) try fs.delete(tmp, false) catch { case _: Throwable => () }
        throw e
    }
  }

  /** The create-time mode of a new local file or directory: Hadoop's
    * default `p` under this conf's `fs.permissions.umask-mode`, so `java.nio`
    * creates match Hadoop's without its forked `chmod`.
    */
  private[graft] def localMode(conf: org.apache.hadoop.conf.Configuration,
                               p: org.apache.hadoop.fs.permission.FsPermission) =
    java.nio.file.attribute.PosixFilePermissions.asFileAttribute(java.nio.file.attribute
      .PosixFilePermissions.fromString(p.applyUMask(
        org.apache.hadoop.fs.permission.FsPermission.getUMask(conf)).toString))

  def write(spark: SparkSession, path: String, name: String, body: String): Unit =
    replace(spark.sparkContext.hadoopConfiguration,
      new org.apache.hadoop.fs.Path(s"$path/$name"), body)

  def read(spark: SparkSession, path: String, name: String): String =
    readText(org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration),
      new org.apache.hadoop.fs.Path(s"$path/$name"))

  def readText(fs: org.apache.hadoop.fs.FileSystem, p: org.apache.hadoop.fs.Path): String = {
    val in = fs.open(p)
    new String(try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in) finally in.close(),
      java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Extract a required long field from a flat JSON sidecar body. */
  def requiredLong(body: String, field: String, where: String): Long =
    (""""""" + field + """"\s*:\s*(\d+)""").r.findFirstMatchIn(body)
      .map(_.group(1).toLong)
      .getOrElse(throw new IllegalArgumentException(s"$where has no $field"))
}
