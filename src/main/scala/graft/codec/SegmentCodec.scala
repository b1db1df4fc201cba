package graft.codec

import graft.model.{KHeader, KRecord}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.util.zip.CRC32
import org.apache.spark.unsafe.Platform

/** KBAK v1 segment codec — the on-disk interchange contract, bit-layout
  * compatible with the reference (crates/kafka-backup-core/src/segment/format.rs:1-46):
  *
  * {{{
  * header(32B): "KBAK" | version u8=1 | codec u8 (0=none,1=zstd,2=lz4) | reserved u16
  *              | record_count u64 LE | start_offset i64 LE | end_offset i64 LE
  * body:        concat of length-prefixed records, compressed AS A WHOLE with codec
  *   record:    total_len u32 | timestamp i64 | offset i64
  *              | key_len i32 (-1=null) | key | value_len i32 (-1=null) | value
  *              | header_count u16 | (hkey_len u16 | hkey | hval_len i32 (-1=null) | hval)*
  * footer(8B):  crc32(header + compressed body) u32 LE | "BKAE"
  * }}}
  *
  * All integers little-endian. CRC (format.rs:346-350) covers everything before
  * the footer. Topic/partition are NOT stored per record — they live in the
  * storage key path (backup/engine.rs:1156-1162).
  */
object SegmentCodec {
  val Magic: Array[Byte] = "KBAK".getBytes(StandardCharsets.US_ASCII)
  val MagicEnd: Array[Byte] = "BKAE".getBytes(StandardCharsets.US_ASCII)
  val Version: Byte = 1
  val HeaderSize = 32
  val FooterSize = 8

  final case class SegmentHeader(
      version: Byte,
      codec: CompressionCodec,
      recordCount: Long,
      startOffset: Long,
      endOffset: Long)

  /** Growable LE byte sink — one per task, reused across records, so the
    * encode hot path allocates nothing per record (the per-record
    * ByteBuffer.allocate it replaces capped encode at ~190 MB/s).
    */
  final class ByteSink(initial: Int = 1 << 20) {
    private[SegmentCodec] var arr = new Array[Byte](initial)
    var pos = 0
    def size: Int = pos
    def reset(): Unit = pos = 0
    def toArray: Array[Byte] = java.util.Arrays.copyOf(arr, pos)
    /** The backing array (first `size` bytes valid) — lets the segment
      * writer compress straight from the buffer instead of paying a
      * segment-sized defensive copy per seal. Callers must not retain it
      * across an append/reset.
      */
    private[graft] def backing: Array[Byte] = arr
    private def ensure(n: Int): Unit =
      if (pos + n > arr.length)
        arr = java.util.Arrays.copyOf(arr, math.max(arr.length * 2, pos + n))
    def putByte(v: Byte): Unit = { ensure(1); arr(pos) = v; pos += 1 }
    def putShortLE(v: Int): Unit = {
      ensure(2); arr(pos) = v.toByte; arr(pos + 1) = (v >> 8).toByte; pos += 2
    }
    def putIntLE(v: Int): Unit = {
      ensure(4)
      arr(pos) = v.toByte; arr(pos + 1) = (v >> 8).toByte
      arr(pos + 2) = (v >> 16).toByte; arr(pos + 3) = (v >> 24).toByte
      pos += 4
    }
    def putLongLE(v: Long): Unit = { putIntLE(v.toInt); putIntLE((v >> 32).toInt) }
    def putBytes(b: Array[Byte]): Unit = {
      ensure(b.length); System.arraycopy(b, 0, arr, pos, b.length); pos += b.length
    }
    def putBytes(b: Array[Byte], off: Int, len: Int): Unit = {
      ensure(len); System.arraycopy(b, off, arr, pos, len); pos += len
    }
    /** Append `len` bytes read at `address` of `base` (Spark's `Platform`
      * addressing: an on-heap object plus offset, or null plus an off-heap
      * address) — copies a field out of an `UnsafeRow` with no
      * intermediate array.
      */
    def putMemory(base: AnyRef, address: Long, len: Int): Unit = {
      ensure(len)
      Platform.copyMemory(base, address, arr, Platform.BYTE_ARRAY_OFFSET + pos, len)
      pos += len
    }
    /** Overwrite the 4 bytes at `at` (already written) with `v`, LE. */
    def patchIntLE(at: Int, v: Int): Unit = {
      arr(at) = v.toByte; arr(at + 1) = (v >> 8).toByte
      arr(at + 2) = (v >> 16).toByte; arr(at + 3) = (v >> 24).toByte
    }
    /** OutputStream view appending to this sink (close/flush are no-ops) —
      * lets a compressing stream target the sink directly.
      */
    def asOutputStream: java.io.OutputStream = new java.io.OutputStream {
      override def write(b: Int): Unit = putByte(b.toByte)
      override def write(b: Array[Byte], off: Int, len: Int): Unit =
        putBytes(b, off, len)
    }
  }

  // The KBAK record layout, field by field — the one place that defines it.
  // A record is `beginRecord`, key and value (`putBytesField` /
  // `putNullField`), `putHeaderCount`, then per header `putHeaderKey`
  // and its value, then `endRecord`, which fills in the u32 length that
  // `beginRecord` reserved. `writeRecord` (from a `KRecord`) and the backup
  // writer (straight from Spark's rows) both go through these, so the u16
  // guards live here: header counts and header-key lengths ride u16 fields on
  // the wire, and overflow fails loudly instead of truncating into a
  // silently-undecodable (but CRC-valid) segment.

  /** Start a record: reserve its u32 length, then timestamp and offset.
    * Returns the position [[endRecord]] patches.
    */
  def beginRecord(out: ByteSink, timestamp: Long, offset: Long): Int = {
    val start = out.pos
    out.putIntLE(0)
    out.putLongLE(timestamp)
    out.putLongLE(offset)
    start
  }

  /** Finish the record begun at `start`: its length excludes the prefix. */
  def endRecord(out: ByteSink, start: Int): Unit = out.patchIntLE(start, out.pos - start - 4)

  /** A key, value or header value: i32 length (-1 = null), then the bytes. */
  def putBytesField(out: ByteSink, b: Array[Byte]): Unit =
    if (b == null) putNullField(out) else { out.putIntLE(b.length); out.putBytes(b) }

  /** A non-null bytes field copied from memory (see [[ByteSink.putMemory]]). */
  def putBytesField(out: ByteSink, base: AnyRef, address: Long, len: Int): Unit = {
    out.putIntLE(len)
    out.putMemory(base, address, len)
  }

  def putNullField(out: ByteSink): Unit = out.putIntLE(-1)

  /** A bytes field holding an 8-byte little-endian i64. */
  def putLongField(out: ByteSink, v: Long): Unit = { out.putIntLE(8); out.putLongLE(v) }

  def putHeaderCount(out: ByteSink, n: Int, offset: Long): Unit = {
    require(n <= 0xffff, s"record $offset: $n headers exceed the u16 wire limit")
    out.putShortLE(n)
  }

  /** A header key: u16 length, then its UTF-8 bytes read from memory. */
  def putHeaderKey(out: ByteSink, base: AnyRef, address: Long, len: Int, offset: Long): Unit = {
    require(len <= 0xffff,
      s"record $offset: header key of $len bytes exceeds the u16 wire limit")
    out.putShortLE(len)
    out.putMemory(base, address, len)
  }

  def putHeaderKey(out: ByteSink, utf8: Array[Byte], offset: Long): Unit =
    putHeaderKey(out, utf8, Platform.BYTE_ARRAY_OFFSET.toLong, utf8.length, offset)

  /** Append one length-prefixed record to `out`. NULL headers encode as zero
    * headers.
    */
  def writeRecord(out: ByteSink, r: KRecord): Unit = {
    val start = beginRecord(out, r.timestamp, r.offset)
    putBytesField(out, r.key)
    putBytesField(out, r.value)
    val headers = if (r.headers == null) Nil else r.headers
    putHeaderCount(out, headers.size, r.offset)
    headers.foreach { h =>
      putHeaderKey(out, h.key.getBytes(StandardCharsets.UTF_8), r.offset)
      putBytesField(out, h.value)
    }
    endRecord(out, start)
  }

  /** Encode a full segment. Records must already be in offset order; topic and
    * partition are the caller's concern (they go in the storage key).
    */
  def encode(records: Iterable[KRecord], codec: CompressionCodec,
             zstdLevel: Int = CompressionCodec.DefaultZstdLevel): Array[Byte] = {
    val body = new ByteSink(64 * 1024)
    var count = 0L
    var startOffset = -1L
    var endOffset = -1L
    records.foreach { r =>
      if (count == 0L) startOffset = r.offset
      endOffset = r.offset
      writeRecord(body, r)
      count += 1
    }
    val compressed = Compression.compress(body.toArray, codec, zstdLevel)
    val out = new java.io.ByteArrayOutputStream(HeaderSize + compressed.length + FooterSize)
    writeSegment(out, SegmentHeader(Version, codec, count, startOffset, endOffset),
      compressed, 0, compressed.length)
    out.toByteArray
  }

  /** Write a segment to `os`: header, compressed body range, then the
    * CRC32-of-everything footer (CRC built incrementally) — the one place
    * the header and footer are written. The backup writer streams straight
    * to storage through it, with no segment-sized copy.
    */
  def writeSegment(os: java.io.OutputStream, h: SegmentHeader,
                   body: Array[Byte], off: Int, len: Int): Unit = {
    val head = ByteBuffer.allocate(HeaderSize).order(ByteOrder.LITTLE_ENDIAN)
    head.put(Magic)
    head.put(h.version)
    head.put(h.codec.id)
    head.putShort(0) // reserved
    head.putLong(h.recordCount)
    head.putLong(h.startOffset)
    head.putLong(h.endOffset)
    val crc = new CRC32()
    crc.update(head.array(), 0, HeaderSize)
    crc.update(body, off, len)
    val foot = ByteBuffer.allocate(FooterSize).order(ByteOrder.LITTLE_ENDIAN)
    foot.putInt(crc.getValue.toInt)
    foot.put(MagicEnd)
    os.write(head.array(), 0, HeaderSize)
    os.write(body, off, len)
    os.write(foot.array(), 0, FooterSize)
  }

  def parseHeader(data: Array[Byte]): SegmentHeader = {
    require(data.length >= HeaderSize, "Segment header too short")
    val buf = ByteBuffer.wrap(data, 0, HeaderSize).order(ByteOrder.LITTLE_ENDIAN)
    val magic = new Array[Byte](4); buf.get(magic)
    require(java.util.Arrays.equals(magic, Magic), "Invalid segment magic bytes")
    val version = buf.get()
    require(version == Version, s"Unsupported segment version: $version")
    val codec = CompressionCodec.fromId(buf.get())
    buf.getShort() // reserved
    SegmentHeader(version, codec, buf.getLong(), buf.getLong(), buf.getLong())
  }

  /** Decode a full segment: verify footer magic + CRC, decompress, iterate
    * (segment/reader.rs:20-147). `topic`/`partition` are stamped onto the
    * returned records (they come from the storage key, not the bytes). Only
    * records with `windowStartMs <= timestamp <= windowEndMs` are returned
    * (the PITR window, both ends inclusive; see [[decodeBody]]).
    *
    * The standalone decoder, the reference the specs hold restore's
    * row decoder (`graft.pipelines.KbakReader`) to; restore and deep
    * validation read through that reader.
    */
  def decode(data: Array[Byte], topic: String = null, partition: Int = -1,
             windowStartMs: Long = Long.MinValue,
             windowEndMs: Long = Long.MaxValue): Iterator[KRecord] = {
    val header = verify(data)
    val body = Compression.decompress(data, HeaderSize, bodyLength(data), header.codec)
    decodeBody(body, topic, partition, header.recordCount, windowStartMs, windowEndMs)
  }

  /** Check a whole segment (length, header magic and version, footer magic,
    * CRC) and return its header. The compressed body is the
    * [[bodyLength]] bytes at [[HeaderSize]].
    */
  def verify(data: Array[Byte]): SegmentHeader = {
    require(data.length >= HeaderSize + FooterSize, "Segment too short")
    val header = parseHeader(data)
    val fbuf = ByteBuffer.wrap(data, data.length - FooterSize, FooterSize)
      .order(ByteOrder.LITTLE_ENDIAN)
    val storedCrc = fbuf.getInt
    val magicEnd = new Array[Byte](4); fbuf.get(magicEnd)
    require(java.util.Arrays.equals(magicEnd, MagicEnd), "Invalid segment end magic")
    val crc = new CRC32()
    crc.update(data, 0, data.length - FooterSize)
    require(crc.getValue.toInt == storedCrc, "Segment CRC mismatch")
    header
  }

  /** The compressed body's length in a whole segment. */
  def bodyLength(data: Array[Byte]): Int = data.length - HeaderSize - FooterSize

  /** Iterate length-prefixed records from a decompressed body, keeping only
    * those with `windowStartMs <= timestamp <= windowEndMs`. A record outside
    * the window is skipped after its length/timestamp/offset prefix, before
    * its key, value and headers are allocated.
    */
  def decodeBody(body: Array[Byte], segTopic: String, segPartition: Int,
                 expected: Long, windowStartMs: Long = Long.MinValue,
                 windowEndMs: Long = Long.MaxValue): Iterator[KRecord] = new Iterator[KRecord] {
    private val buf = ByteBuffer.wrap(body).order(ByteOrder.LITTLE_ENDIAN)
    private var consumed = 0L
    private var pending: KRecord = null

    // advance to the next in-window record, if any
    private def fill(): Unit =
      while (pending == null && consumed < expected && buf.remaining() >= 4) {
        val totalLen = buf.getInt
        require(totalLen >= 16 && buf.remaining() >= totalLen, "Record data truncated")
        val limit = buf.position() + totalLen
        // every field is bounded by its record, as the `kbak` reader's are: a
        // length that overruns the record fails before anything is allocated
        buf.limit(limit)
        val timestamp = buf.getLong
        val offset = buf.getLong
        if (timestamp >= windowStartMs && timestamp <= windowEndMs) {
          val key = readBytes(int())
          val value = readBytes(int())
          val headerCount = short()
          val headers = new scala.collection.mutable.ArrayBuffer[KHeader](headerCount)
          var i = 0
          while (i < headerCount) {
            val kb = new Array[Byte](need(short())); buf.get(kb)
            val hv = readBytes(int())
            headers += KHeader(new String(kb, StandardCharsets.UTF_8), hv)
            i += 1
          }
          pending = KRecord(segTopic, segPartition, offset, timestamp, key, value,
            headers.toSeq)
        }
        buf.limit(body.length).position(limit)
        consumed += 1
      }

    override def hasNext: Boolean = { fill(); pending != null }
    override def next(): KRecord = {
      fill()
      if (pending == null) throw new NoSuchElementException("segment exhausted")
      val r = pending
      pending = null
      r
    }
    /** `n` more bytes of the current record, or a truncation error. */
    private def need(n: Int): Int = {
      require(n >= 0 && n <= buf.remaining(), "Record data truncated")
      n
    }
    private def int(): Int = { need(4); buf.getInt }
    private def short(): Int = { need(2); buf.getShort & 0xffff }
    private def readBytes(len: Int): Array[Byte] =
      if (len < 0) null else { val a = new Array[Byte](need(len)); buf.get(a); a }
  }
}
