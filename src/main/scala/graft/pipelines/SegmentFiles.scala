package graft.pipelines

import java.io.{FileNotFoundException, OutputStream}
import java.nio.channels.{Channels, FileChannel}
import java.nio.file.{Files, NoSuchFileException, StandardOpenOption}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import graft.util.Sidecar

/** Segment object I/O under one backup root, the only way the backup
  * writer and the restore scan touch segment bytes. Built inside a task
  * from the job's broadcast Hadoop conf.
  *
  * When the root resolves to the `file` scheme a segment is a plain file,
  * created and read through `java.nio`. Hadoop's checksummed local FS would
  * add a `.crc` sidecar per segment (the KBAK footer already CRCs header and
  * body) and, without native libraries, fork `chmod` per create. New files
  * and directories get Hadoop's mode for this conf (`fs.permissions.umask-mode`
  * applied) as a create-time attribute; a replaced file is truncated in place,
  * as Hadoop's local FS does, and keeps its mode. Any other scheme (`s3a`, `abfss`,
  * `gs`, test schemes) goes through `fs.open` / `fs.create(path, true)`.
  */
private[graft] final class SegmentFiles(root: String, conf: Configuration) {
  private val fs = FileSystem.get(new java.net.URI(root), conf)
  private val local = fs.getUri.getScheme == "file"

  private def path(key: String): Path = new Path(s"$root/$key")
  private def file(key: String): java.nio.file.Path =
    java.nio.file.Paths.get(fs.makeQualified(path(key)).toUri)

  /** Create (or replace) the object at `key` for writing. */
  def create(key: String): OutputStream =
    if (!local) fs.create(path(key), true)
    else {
      val f = file(key)
      Files.createDirectories(f.getParent, Sidecar.localMode(conf, FsPermission.getDirDefault))
      // a sidecar left by an earlier Hadoop write of this key would no longer
      // match, and Hadoop's checksummed reads would reject the new bytes
      Files.deleteIfExists(f.resolveSibling(s".${f.getFileName}.crc"))
      Channels.newOutputStream(FileChannel.open(f, java.util.Set.of(StandardOpenOption.CREATE,
        StandardOpenOption.WRITE, StandardOpenOption.TRUNCATE_EXISTING),
        Sidecar.localMode(conf, FsPermission.getFileDefault)))
    }

  /** Read the whole object at `key`. A missing object raises
    * `FileNotFoundException` naming its path on every scheme. `expected`
    * presizes the Hadoop-side buffer: when the object has exactly that many
    * bytes (every KBAK segment, sized from the manifest) no copy is made;
    * any other size is still read in full.
    */
  def read(key: String, expected: Int): Array[Byte] =
    if (local) {
      try Files.readAllBytes(file(key))
      catch { case e: NoSuchFileException =>
        throw new FileNotFoundException(s"File ${e.getFile} does not exist")
      }
    } else {
      val in = fs.open(path(key))
      try {
        val buf = new Array[Byte](expected)
        var n = 0
        var r = 0
        while (n < expected && r >= 0) { r = in.read(buf, n, expected - n); if (r > 0) n += r }
        val rest = if (r < 0) Array.emptyByteArray else in.readAllBytes()
        if (n == expected && rest.isEmpty) buf else java.util.Arrays.copyOf(buf, n) ++ rest
      } finally in.close()
    }
}
