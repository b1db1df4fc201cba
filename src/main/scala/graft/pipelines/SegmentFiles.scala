package graft.pipelines

import java.io.{FileNotFoundException, OutputStream}
import java.nio.channels.{Channels, FileChannel}
import java.nio.file.{Files, NoSuchFileException, StandardOpenOption}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.util.SerializableConfiguration
import graft.catalog.SegmentMetadata
import graft.codec.{Compression, CompressionCodec, LegacySegment, SegmentCodec}
import graft.util.Sidecar

/** Segment object I/O under one backup root, the only way the backup
  * writer and the restore scan touch segment bytes. Built inside a task,
  * by the backup writer from the job's broadcast Hadoop conf and by a
  * restore scan from its [[SegmentRoot]].
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

  /** The records stored at `s.key`, read whole and unpacked: a KBAK segment
    * is verified ([[SegmentCodec.verify]]) and its body decompressed into
    * exactly `s.uncompressed_size` bytes, a corrupt length failing the
    * read; anything else is a legacy JSON segment, decompressed by its key's
    * extension. The restore scan and deep validation both read through
    * here, by way of [[KbakReader]].
    */
  def body(s: SegmentMetadata): SegmentBody = {
    val expected = math.min(
      s.compressed_size + SegmentCodec.HeaderSize + SegmentCodec.FooterSize,
      Int.MaxValue - 8L).toInt
    val data = read(s.key, expected)
    if (LegacySegment.isBinarySegment(data)) {
      val header = SegmentCodec.verify(data)
      KbakBody(header, Compression.decompress(data, SegmentCodec.HeaderSize,
        SegmentCodec.bodyLength(data), header.codec, s.uncompressed_size))
    } else LegacyBody(Compression.decompress(data, CompressionCodec.fromExtension(s.key)))
  }
}

/** A segment's unpacked contents ([[SegmentFiles.body]]), decoded by
  * [[KbakReader]].
  */
private[graft] sealed trait SegmentBody

/** A verified KBAK segment: its header and its decompressed body. */
private[graft] final case class KbakBody(header: SegmentCodec.SegmentHeader, bytes: Array[Byte])
    extends SegmentBody

/** A legacy segment's decompressed JSON document. */
private[graft] final case class LegacyBody(json: Array[Byte]) extends SegmentBody

/** A backup root as a scan ships it to its tasks, which [[open]] their
  * [[SegmentFiles]] from it. A root on the `file` scheme ships as its
  * qualified path alone: its tasks read plain files and need no Hadoop
  * conf. Any other root ships with the driver's Hadoop conf (spark.hadoop.*
  * credentials, endpoints and registered schemes), broadcast once per scan.
  */
private[graft] final class SegmentRoot private (
    root: String, conf: Option[Broadcast[SerializableConfiguration]]) extends Serializable {
  def open(): SegmentFiles =
    new SegmentFiles(root, conf.fold(new Configuration(false))(_.value.value))
}

private[graft] object SegmentRoot {
  def apply(sc: SparkContext, root: String): SegmentRoot = {
    val fs = FileSystem.get(new java.net.URI(root), sc.hadoopConfiguration)
    if (fs.getUri.getScheme == "file")
      new SegmentRoot(fs.makeQualified(new Path(root)).toString, None)
    else new SegmentRoot(root,
      Some(sc.broadcast(new SerializableConfiguration(sc.hadoopConfiguration))))
  }
}
