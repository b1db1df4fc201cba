package graft.codec

import com.github.luben.zstd.Zstd
import net.jpountz.lz4.LZ4Factory
import java.nio.{ByteBuffer, ByteOrder}

/** Segment-body compression, behavior-compatible with the reference
  * (crates/kafka-backup-core/src/compression.rs:10-93):
  *  - codec byte: 0=none, 1=zstd, 2=lz4 (segment/format.rs:324-343)
  *  - zstd: standard frame, level 1-22, default 3
  *  - lz4: raw LZ4 block with the uncompressed size prepended as u32 LE
  *    (the reference uses lz4_flex::compress_prepend_size)
  *  - file extensions: "" / ".zst" / ".lz4" (compression.rs:37-54)
  */
sealed abstract class CompressionCodec(val id: Byte, val extension: String)
object CompressionCodec {
  case object None extends CompressionCodec(0, "")
  case object Zstd extends CompressionCodec(1, ".zst")
  case object Lz4 extends CompressionCodec(2, ".lz4")

  val DefaultZstdLevel = 3

  def fromId(b: Byte): CompressionCodec = b match {
    case 0 => None
    case 1 => Zstd
    case 2 => Lz4
    case other => throw new IllegalArgumentException(s"Unknown compression type: $other")
  }

  /** Detect codec from storage key extension (compression.rs:46-54). */
  def fromExtension(key: String): CompressionCodec =
    if (key.endsWith(".zst")) Zstd
    else if (key.endsWith(".lz4")) Lz4
    else None

  def fromName(name: String): CompressionCodec = name.toLowerCase match {
    case "none" | "" => None
    case "zstd"      => Zstd
    case "lz4"       => Lz4
    case other       => throw new IllegalArgumentException(s"Unknown compression: $other")
  }
}

object Compression {
  // lz4-java: JNI-backed if available, safe-Java otherwise; thread-safe factory.
  private lazy val lz4 = LZ4Factory.fastestInstance()

  def compress(data: Array[Byte], codec: CompressionCodec,
               zstdLevel: Int = CompressionCodec.DefaultZstdLevel): Array[Byte] = codec match {
    case CompressionCodec.None => data
    case CompressionCodec.Zstd => Zstd.compress(data, zstdLevel)
    case CompressionCodec.Lz4 =>
      val comp = lz4.fastCompressor()
      val max = comp.maxCompressedLength(data.length)
      val out = new Array[Byte](4 + max)
      val n = comp.compress(data, 0, data.length, out, 4, max)
      ByteBuffer.wrap(out, 0, 4).order(ByteOrder.LITTLE_ENDIAN).putInt(data.length)
      java.util.Arrays.copyOf(out, 4 + n)
  }

  /** Compress a range in place-friendly form: returns `(buffer, offset,
    * length)` where the buffer MAY be oversized (zstd's compressBound
    * allocation) or the input itself (codec None — zero copy). The segment
    * writer streams the range straight to the object store, so no
    * exact-sized copy is ever made; callers that need a standalone array
    * use [[compress]].
    */
  def compressRange(data: Array[Byte], off: Int, len: Int, codec: CompressionCodec,
                    zstdLevel: Int = CompressionCodec.DefaultZstdLevel): (Array[Byte], Int, Int) =
    codec match {
      case CompressionCodec.None => (data, off, len)
      case CompressionCodec.Zstd =>
        val bound = Zstd.compressBound(len.toLong).toInt
        val out = new Array[Byte](bound)
        val n = Zstd.compressByteArray(out, 0, bound, data, off, len, zstdLevel).toInt
        (out, 0, n)
      case CompressionCodec.Lz4 =>
        val comp = lz4.fastCompressor()
        val max = comp.maxCompressedLength(len)
        val out = new Array[Byte](4 + max)
        val n = comp.compress(data, off, len, out, 4, max)
        ByteBuffer.wrap(out, 0, 4).order(ByteOrder.LITTLE_ENDIAN).putInt(len)
        (out, 0, 4 + n)
    }

  def decompress(data: Array[Byte], codec: CompressionCodec): Array[Byte] =
    decompress(data, 0, data.length, codec)

  /** Decompress `data[off, off + len)` — the segment decoder hands over the
    * (header, footer)-bounded body range, so no body-sized copy is made
    * before decompressing. Codec None returns the input itself when the
    * range covers it, a copy of the range otherwise.
    */
  def decompress(data: Array[Byte], off: Int, len: Int, codec: CompressionCodec): Array[Byte] =
    codec match {
      case CompressionCodec.None =>
        if (off == 0 && len == data.length) data
        else java.util.Arrays.copyOfRange(data, off, off + len)
      case CompressionCodec.Zstd =>
        val size = Zstd.getFrameContentSize(data, off, len)
        if (size >= 0 && size < Int.MaxValue) {
          val out = new Array[Byte](size.toInt)
          val n = Zstd.decompressByteArray(out, 0, out.length, data, off, len)
          if (Zstd.isError(n)) throw new com.github.luben.zstd.ZstdException(n)
          if (n == out.length) out else java.util.Arrays.copyOf(out, n.toInt)
        } else { // streaming frame without content size — decompress via stream
          val in = new com.github.luben.zstd.ZstdInputStream(
            new java.io.ByteArrayInputStream(data, off, len))
          val out = new java.io.ByteArrayOutputStream()
          val buf = new Array[Byte](1 << 16)
          var n = in.read(buf)
          while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
          in.close(); out.toByteArray
        }
      case CompressionCodec.Lz4 =>
        val size = ByteBuffer.wrap(data, off, 4).order(ByteOrder.LITTLE_ENDIAN).getInt
        val out = new Array[Byte](size)
        lz4.fastDecompressor().decompress(data, off + 4, out, 0, size)
        out
    }
}
