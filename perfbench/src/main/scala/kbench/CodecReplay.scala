package kbench

import graft.codec.{Compression, CompressionCodec, SegmentCodec}
import graft.model.KRecord

/** Single-thread replay of the codec layer on a workload's own records and
  * segments. Each rate is raw (uncompressed, framed) MB per second of the
  * fastest of several repetitions, so a one-off GC pause does not decide it.
  */
object CodecReplay {
  private val MinSeconds = 0.25

  private def rate(rawBytes: Long)(body: => Unit): Double = {
    var best = Double.MaxValue
    var spent = 0.0
    var reps = 0
    while (spent < MinSeconds || reps < 3) {
      val t0 = System.nanoTime()
      body
      val s = (System.nanoTime() - t0) / 1e9
      best = math.min(best, s); spent += s; reps += 1
    }
    rawBytes / 1e6 / best
  }

  /** `segments` are whole KBAK segment files (header, body, CRC footer). */
  def apply(records: Seq[KRecord], segments: Seq[Array[Byte]]): Map[String, Double] = {
    val sink = new SegmentCodec.ByteSink(1 << 20)
    records.foreach(SegmentCodec.writeRecord(sink, _))
    val framed = sink.toArray
    val bodies = segments.map { seg =>
      val h = SegmentCodec.parseHeader(seg)
      (h, java.util.Arrays.copyOfRange(seg, SegmentCodec.HeaderSize,
        seg.length - SegmentCodec.FooterSize))
    }
    val raw = bodies.map { case (h, b) => Compression.decompress(b, h.codec) }
    val rawBytes = raw.map(_.length.toLong).sum
    Map(
      "codec.frame_encode_mb_s" -> rate(framed.length) {
        sink.reset(); records.foreach(SegmentCodec.writeRecord(sink, _))
      },
      "codec.zstd_compress_mb_s" -> rate(framed.length) {
        Compression.compress(framed, CompressionCodec.Zstd, CompressionCodec.DefaultZstdLevel)
      },
      "codec.segment_decode_mb_s" -> rate(rawBytes) {
        segments.foreach(s => SegmentCodec.decode(s).size)
      },
      "codec.zstd_decompress_mb_s" -> rate(rawBytes) {
        bodies.foreach { case (h, b) => Compression.decompress(b, h.codec) }
      },
      "codec.frame_decode_mb_s" -> rate(rawBytes) {
        raw.zip(bodies).foreach { case (r, (h, _)) =>
          SegmentCodec.decodeBody(r, null, -1, h.recordCount).size
        }
      })
  }
}
