package graft.sources

import java.nio.charset.StandardCharsets

/** Minimal read-only SQLite database file reader, pure JDK.
  *
  * The reference persists incremental-backup resume marks as a SQLite file
  * synced to object storage (offset_store/sqlite.rs:70-99,231). A user
  * migrating from it carries an existing `offsets.db`; no SQLite library is
  * resolvable offline here, so this walks the file format directly — the
  * format is stable, publicly documented (sqlite.org/fileformat2.html), and
  * small: header, table b-trees, record serial types, overflow chains.
  *
  * Scope: rowid table b-trees (leaf 0x0d / interior 0x05), UTF-8 databases,
  * overflow-page payload reassembly. Index b-trees are never read (full-table
  * scans only), WAL side files are not consulted — the reference runs
  * `PRAGMA wal_checkpoint(TRUNCATE)` before every upload, so the main file is
  * complete (sqlite.rs:244-249). INTEGER-PRIMARY-KEY alias columns come back
  * as the row's rowid when they are the table's FIRST column (the common
  * declaration, and the only position distinguishable from a genuine NULL
  * without parsing DDL); an alias declared at a later position surfaces as
  * null.
  *
  * Affinity caveat: SQLite stores integral-valued REALs with INTEGER serial
  * types (fileformat2 §2.1 "Record Format"); mapping them back to Double
  * requires parsing the table's DDL for column affinity, which this reader
  * deliberately does not do — such values surface as java.lang.Long and
  * callers that care coerce. The reference's offsets.db schema has no REAL
  * columns, so the migration path never hits this.
  */
object SqliteFile {

  /** A decoded row: rowid plus column values
    * (null / java.lang.Long / java.lang.Double / String / Array[Byte]).
    */
  final case class Row(rowid: Long, values: IndexedSeq[Any])

  final class Db private[SqliteFile] (val bytes: Array[Byte], val pageSize: Int,
                                      val usableSize: Int) {
    /** name → root page of every ordinary table in sqlite_master. */
    lazy val tables: Map[String, Int] =
      scanTable(1).collect {
        case Row(_, Seq("table", name: String, _, rootpage: java.lang.Long, _)) =>
          name -> rootpage.toInt
      }.toMap

    /** Full scan of a named table in rowid order. */
    def table(name: String): Seq[Row] = {
      val root = tables.getOrElse(name,
        throw new IllegalArgumentException(
          s"table '$name' not found; has ${tables.keys.toSeq.sorted.mkString(", ")}"))
      scanTable(root)
    }

    // ---- b-tree walk ----------------------------------------------------

    private def pageStart(pageNo: Int): Int = (pageNo - 1) * pageSize

    private[SqliteFile] def scanTable(rootPage: Int): Seq[Row] = {
      val out = Vector.newBuilder[Row]
      def walk(pageNo: Int): Unit = {
        val base = pageStart(pageNo)
        // page 1 carries the 100-byte file header before its b-tree header
        val hdr = base + (if (pageNo == 1) 100 else 0)
        val pageType = bytes(hdr) & 0xff
        val cellCount = u16(hdr + 3)
        val headerSize = if (pageType == 0x05 || pageType == 0x02) 12 else 8
        val ptrs = hdr + headerSize
        pageType match {
          case 0x05 => // interior table: 4-byte left-child + rowid varint per cell
            var i = 0
            while (i < cellCount) {
              walk(u32(base + u16(ptrs + 2 * i)).toInt)
              i += 1
            }
            walk(u32(hdr + 8).toInt) // right-most pointer
          case 0x0d => // leaf table
            var i = 0
            while (i < cellCount) {
              out += leafCell(base + u16(ptrs + 2 * i))
              i += 1
            }
          case t => throw new IllegalStateException(
            s"page $pageNo: expected table b-tree page, got type 0x${t.toHexString}")
        }
      }
      walk(rootPage)
      out.result()
    }

    private def leafCell(cellStart: Int): Row = {
      var p = cellStart
      val (payloadLen, p1) = varint(p); p = p1
      val (rowid, p2) = varint(p); p = p2
      val payload = readPayload(p, payloadLen.toInt)
      Row(rowid, decodeRecord(payload, rowid))
    }

    /** Local prefix + overflow chain reassembly (fileformat2 §1.6: X =
      * usable-35 for table leaves; K = M + (P-M) % (usable-4); M =
      * ((usable-12)*32/255) - 23).
      */
    private def readPayload(localStart: Int, payloadLen: Int): Array[Byte] = {
      val maxLocal = usableSize - 35
      if (payloadLen <= maxLocal)
        java.util.Arrays.copyOfRange(bytes, localStart, localStart + payloadLen)
      else {
        val minLocal = (usableSize - 12) * 32 / 255 - 23
        val k = minLocal + (payloadLen - minLocal) % (usableSize - 4)
        val local = if (k <= maxLocal) k else minLocal
        val buf = new Array[Byte](payloadLen)
        System.arraycopy(bytes, localStart, buf, 0, local)
        var filled = local
        var overflowPage = u32(localStart + local).toInt
        while (overflowPage != 0 && filled < payloadLen) {
          val base = pageStart(overflowPage)
          val chunk = math.min(usableSize - 4, payloadLen - filled)
          System.arraycopy(bytes, base + 4, buf, filled, chunk)
          filled += chunk
          overflowPage = u32(base).toInt
        }
        require(filled == payloadLen, s"truncated overflow chain: $filled/$payloadLen bytes")
        buf
      }
    }

    // ---- record format --------------------------------------------------

    private def decodeRecord(payload: Array[Byte], rowid: Long): IndexedSeq[Any] = {
      val (headerLen, afterHl) = varintIn(payload, 0)
      var hp = afterHl
      var dp = headerLen.toInt
      var colIdx = 0
      val vals = Vector.newBuilder[Any]
      while (hp < headerLen) {
        val (serial, nhp) = varintIn(payload, hp); hp = nhp
        val v: Any = serial.toInt match {
          case 0 =>
            // serial 0 on the FIRST column of a rowid table is overwhelmingly
            // an INTEGER PRIMARY KEY alias (SQLite always stores the alias as
            // NULL and the value in the cell's rowid) — substitute the rowid,
            // accepting that a genuinely-NULL non-IPK first column surfaces as
            // the rowid too — note that's a TYPE change as well as a value
            // change (a Long where, say, a TEXT column's consumers expect
            // String or null). DDL affinity parsing is out of scope, see
            // header. Serial 0 on any later column is a genuine NULL.
            if (colIdx == 0) java.lang.Long.valueOf(rowid) else null
          case 1 => val r = java.lang.Long.valueOf(payload(dp).toLong); dp += 1; r
          case 2 => val r = java.lang.Long.valueOf(beInt(payload, dp, 2)); dp += 2; r
          case 3 => val r = java.lang.Long.valueOf(beInt(payload, dp, 3)); dp += 3; r
          case 4 => val r = java.lang.Long.valueOf(beInt(payload, dp, 4)); dp += 4; r
          case 5 => val r = java.lang.Long.valueOf(beInt(payload, dp, 6)); dp += 6; r
          case 6 => val r = java.lang.Long.valueOf(beInt(payload, dp, 8)); dp += 8; r
          case 7 =>
            val r = java.lang.Double.valueOf(
              java.lang.Double.longBitsToDouble(beInt(payload, dp, 8)))
            dp += 8; r
          case 8 => java.lang.Long.valueOf(0L)
          case 9 => java.lang.Long.valueOf(1L)
          case n if n >= 13 && n % 2 == 1 =>
            val len = (n - 13) / 2
            val r = new String(payload, dp, len, StandardCharsets.UTF_8); dp += len; r
          case n if n >= 12 =>
            val len = (n - 12) / 2
            val r = java.util.Arrays.copyOfRange(payload, dp, dp + len); dp += len; r
          case n => throw new IllegalStateException(s"reserved serial type $n")
        }
        vals += v
        colIdx += 1
      }
      vals.result()
    }

    // ---- primitives ------------------------------------------------------

    private def u16(off: Int): Int =
      ((bytes(off) & 0xff) << 8) | (bytes(off + 1) & 0xff)

    private def u32(off: Int): Long =
      ((bytes(off) & 0xffL) << 24) | ((bytes(off + 1) & 0xffL) << 16) |
        ((bytes(off + 2) & 0xffL) << 8) | (bytes(off + 3) & 0xffL)

    private def varint(off: Int): (Long, Int) = varintIn(bytes, off)
  }

  /** Big-endian signed integer of `len` bytes. */
  private def beInt(b: Array[Byte], off: Int, len: Int): Long = {
    var v: Long = b(off).toLong // sign-extends
    var i = 1
    while (i < len) { v = (v << 8) | (b(off + i) & 0xffL); i += 1 }
    v
  }

  /** SQLite varint: 1–9 bytes, 7 bits each; the 9th byte contributes 8. */
  private def varintIn(b: Array[Byte], off: Int): (Long, Int) = {
    var v = 0L
    var i = 0
    while (i < 8) {
      val x = b(off + i)
      if ((x & 0x80) == 0) return (v << 7 | x, off + i + 1)
      v = v << 7 | (x & 0x7f)
      i += 1
    }
    (v << 8 | (b(off + 8) & 0xffL), off + 9)
  }

  def open(bytes: Array[Byte]): Db = {
    val magic = "SQLite format 3\u0000".getBytes(StandardCharsets.ISO_8859_1)
    require(bytes.length > 100 && java.util.Arrays.equals(
      java.util.Arrays.copyOf(bytes, 16), magic), "not a SQLite 3 database file")
    val rawPageSize = ((bytes(16) & 0xff) << 8) | (bytes(17) & 0xff)
    val pageSize = if (rawPageSize == 1) 65536 else rawPageSize
    val reserved = bytes(20) & 0xff
    val encoding = ((bytes(56) & 0xff) << 24) | ((bytes(57) & 0xff) << 16) |
      ((bytes(58) & 0xff) << 8) | (bytes(59) & 0xff)
    require(encoding == 1, s"only UTF-8 databases supported (encoding=$encoding)")
    new Db(bytes, pageSize, pageSize - reserved)
  }

  /** Open via Hadoop FS (local, s3a://, abfss://, gs:// — wherever the
    * reference synced the file). The db is metadata-sized: the reference
    * round-trips the whole file per sync too.
    */
  def open(path: String, conf: org.apache.hadoop.conf.Configuration): Db = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = org.apache.hadoop.fs.FileSystem.get(p.toUri, conf)
    val in = fs.open(p)
    try open(in.readAllBytes()) finally in.close()
  }
}
