package graft

import graft.codec.{Compression, CompressionCodec, SegmentCodec}
import graft.model.{KHeader, KRecord}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets

/** Codec fixtures mirror the reference's unit tiers: encode/decode of
  * null/unicode/binary/large/duplicate-header records
  * (tests/unit_suite/backup.rs:76-345), header round-trip (format.rs:356-374),
  * CRC corruption / truncation rejection (reader.rs:21-52).
  */
class SegmentCodecSpec extends AnyFunSuite {

  private def rec(offset: Long, ts: Long = 1700000000000L,
                  key: Array[Byte] = "k".getBytes,
                  value: Array[Byte] = "v".getBytes,
                  headers: Seq[KHeader] = Nil): KRecord =
    KRecord("t", 0, offset, ts, key, value, headers)

  private def roundTrip(records: Seq[KRecord], codec: CompressionCodec): Seq[KRecord] =
    SegmentCodec.decode(SegmentCodec.encode(records, codec), "t", 0).toSeq

  private def assertSame(a: KRecord, b: KRecord): Unit = {
    assert(a.offset == b.offset && a.timestamp == b.timestamp)
    assert(java.util.Arrays.equals(a.key, b.key), "key mismatch")
    assert(java.util.Arrays.equals(a.value, b.value), "value mismatch")
    assert(a.headers.size == b.headers.size)
    a.headers.zip(b.headers).foreach { case (x, y) =>
      assert(x.key == y.key && java.util.Arrays.equals(x.value, y.value))
    }
  }

  for (codec <- Seq(CompressionCodec.None, CompressionCodec.Zstd, CompressionCodec.Lz4)) {
    test(s"round trip 100 records with $codec") {
      val in = (0L until 100L).map(i => rec(i, 1700000000000L + i,
        s"key-$i".getBytes, s"value-$i".getBytes))
      val out = roundTrip(in, codec)
      assert(out.size == 100)
      in.zip(out).foreach { case (a, b) => assertSame(a, b) }
      assert(out.map(_.offset) == (0L until 100L)) // order preserved
    }
  }

  test("null key, null value, both null, empty-but-present key") {
    val in = Seq(
      rec(0, key = null), rec(1, value = null), rec(2, key = null, value = null),
      rec(3, key = Array.emptyByteArray, value = Array.emptyByteArray))
    val out = roundTrip(in, CompressionCodec.Zstd)
    assert(out(0).key == null && out(0).value != null)
    assert(out(1).value == null)
    assert(out(2).key == null && out(2).value == null)
    assert(out(3).key != null && out(3).key.length == 0, "empty key must stay present (not null)")
    assert(out(3).value != null && out(3).value.length == 0)
  }

  test("unicode and binary payloads") {
    val uni = "héllo wörld — ünïcode ✓ 日本語".getBytes(StandardCharsets.UTF_8)
    val bin = Array.tabulate[Byte](256)(i => i.toByte)
    val out = roundTrip(Seq(rec(0, key = uni, value = bin)), CompressionCodec.Lz4)
    assert(java.util.Arrays.equals(out.head.key, uni))
    assert(java.util.Arrays.equals(out.head.value, bin))
  }

  test("large value ~1MB") {
    val big = Array.fill[Byte](1024 * 1024)(42)
    new scala.util.Random(7).nextBytes(big)
    val out = roundTrip(Seq(rec(0, value = big)), CompressionCodec.Zstd)
    assert(java.util.Arrays.equals(out.head.value, big))
  }

  test("duplicate header keys, null/empty header values") {
    val hs = Seq(
      KHeader("trace", "a".getBytes), KHeader("trace", "b".getBytes), // dupes kept, order kept
      KHeader("nullv", null), KHeader("emptyv", Array.emptyByteArray))
    val out = roundTrip(Seq(rec(0, headers = hs)), CompressionCodec.None)
    val oh = out.head.headers
    assert(oh.map(_.key) == Seq("trace", "trace", "nullv", "emptyv"))
    assert(new String(oh(0).value) == "a" && new String(oh(1).value) == "b")
    assert(oh(2).value == null)
    assert(oh(3).value != null && oh(3).value.length == 0)
  }

  test("timestamp and offset extremes; offset gaps preserved") {
    val in = Seq(rec(0, ts = 0L), rec(5, ts = 1L), rec(Long.MaxValue - 1, ts = 4102444800000L))
    val out = roundTrip(in, CompressionCodec.Zstd)
    assert(out.map(_.offset) == Seq(0L, 5L, Long.MaxValue - 1))
    assert(out.map(_.timestamp) == Seq(0L, 1L, 4102444800000L))
  }

  test("header fields: count, offsets, codec id") {
    val data = SegmentCodec.encode(
      (10L to 19L).map(i => rec(i)), CompressionCodec.Lz4)
    val h = SegmentCodec.parseHeader(data)
    assert(h.version == 1 && h.codec == CompressionCodec.Lz4)
    assert(h.recordCount == 10 && h.startOffset == 10 && h.endOffset == 19)
  }

  test("empty segment encodes and decodes") {
    val out = roundTrip(Nil, CompressionCodec.Zstd)
    assert(out.isEmpty)
    val h = SegmentCodec.parseHeader(SegmentCodec.encode(Nil, CompressionCodec.None))
    assert(h.recordCount == 0 && h.startOffset == -1 && h.endOffset == -1)
  }

  test("CRC corruption rejected") {
    val data = SegmentCodec.encode(Seq(rec(0)), CompressionCodec.None)
    data(SegmentCodec.HeaderSize + 3) = (data(SegmentCodec.HeaderSize + 3) ^ 0xff).toByte
    assertThrows[IllegalArgumentException](SegmentCodec.decode(data).toSeq)
  }

  test("truncation rejected") {
    val data = SegmentCodec.encode(Seq(rec(0)), CompressionCodec.None)
    assertThrows[IllegalArgumentException](
      SegmentCodec.decode(java.util.Arrays.copyOf(data, data.length - 3)).toSeq)
    assertThrows[IllegalArgumentException](
      SegmentCodec.decode(java.util.Arrays.copyOf(data, 10)).toSeq)
  }

  test("bad magic rejected") {
    val data = SegmentCodec.encode(Seq(rec(0)), CompressionCodec.None)
    data(0) = 'X'.toByte
    assertThrows[IllegalArgumentException](SegmentCodec.decode(data).toSeq)
  }

  test("compression round-trips standalone") {
    val payload = ("repetitive " * 1000).getBytes
    for (c <- Seq(CompressionCodec.None, CompressionCodec.Zstd, CompressionCodec.Lz4)) {
      assert(java.util.Arrays.equals(
        Compression.decompress(Compression.compress(payload, c), c), payload))
    }
    // zstd/lz4 actually compress repetitive data
    assert(Compression.compress(payload, CompressionCodec.Zstd).length < payload.length / 3)
    assert(Compression.compress(payload, CompressionCodec.Lz4).length < payload.length / 3)
  }

  test("a body must inflate to the catalog's size, and a wrong size allocates no more than the body") {
    import com.github.luben.zstd.{Zstd, ZstdOutputStream}
    def streamed(raw: Array[Byte]): Array[Byte] = { // as the backup writer frames zstd
      val out = new java.io.ByteArrayOutputStream()
      val z = new ZstdOutputStream(out)
      z.write(raw); z.close()
      out.toByteArray
    }
    def inflate(body: Array[Byte], codec: CompressionCodec, size: Long) =
      Compression.decompress(body, 0, body.length, codec, size)
    def failure(body: Array[Byte], codec: CompressionCodec, size: Long): String =
      intercept[java.io.IOException](inflate(body, codec, size)).getMessage
    val noisy = Array.tabulate[Byte](4096)(i => (i * 7919 % 251).toByte)
    val zeros = new Array[Byte](1 << 20) // far past the trusted ratio
    for (raw <- Seq(noisy, zeros); codec <- Seq(CompressionCodec.None, CompressionCodec.Zstd,
        CompressionCodec.Lz4)) {
      val bodies = if (codec == CompressionCodec.Zstd) Seq(streamed(raw), Zstd.compress(raw))
        else Seq(Compression.compress(raw, codec))
      for (body <- bodies) {
        assert(inflate(body, codec, raw.length).sameElements(raw), s"$codec")
        for (wrong <- Seq(raw.length - 1L, raw.length + 1L)) {
          val msg = failure(body, codec, wrong)
          assert(msg.contains("catalog") && msg.contains(s"$wrong"), s"$codec: $msg")
        }
      }
    }
    assert(Zstd.getFrameContentSize(streamed(noisy), 0, streamed(noisy).length) < 0)
    // a corrupt catalog size near 2 GB: the streamed frame states no content
    // size, so only the ratio bound keeps the reader from allocating it
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    for (body <- Seq(streamed(noisy), Zstd.compress(noisy))) {
      val before = threads.getCurrentThreadAllocatedBytes
      assert(failure(body, CompressionCodec.Zstd, Int.MaxValue - 8L)
        .contains(s"body is ${noisy.length} bytes uncompressed"))
      val allocated = threads.getCurrentThreadAllocatedBytes - before
      assert(allocated < (16L << 20), s"$allocated bytes allocated")
    }
  }

  test("extension mapping") {
    assert(CompressionCodec.Zstd.extension == ".zst")
    assert(CompressionCodec.fromExtension("a/b/segment-0.bin.zst") == CompressionCodec.Zstd)
    assert(CompressionCodec.fromExtension("a/b/segment-0.bin.lz4") == CompressionCodec.Lz4)
    assert(CompressionCodec.fromExtension("a/b/segment-0.bin") == CompressionCodec.None)
  }
}
