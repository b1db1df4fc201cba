package graft

import graft.catalog.BackupManifest
import graft.codec.{Compression, CompressionCodec, SegmentCodec}
import graft.functions.KFunctions
import graft.model.{KHeader, KRecord}
import graft.pipelines.{Backup, BackupConfig}
import graft.sources.{SqliteFile, SqliteWriter}
import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** ScalaCheck fuzzing of the pure-JVM byte-format boundaries — the places a
  * hand-picked fixture can't cover: arbitrary unicode in strings, arbitrary
  * (incl. empty and null) byte payloads, boundary longs. Spark-side
  * semantics stay in the example-based suites; these properties hit the
  * encoders/decoders directly so hundreds of samples run in milliseconds.
  * The one Spark property pins the backup writer, which encodes straight
  * from Spark's rows, to `SegmentCodec.encode` of the same records.
  */
class PropertySpec extends SparkSpec {

  private def check(name: String, prop: Prop, min: Int = 200): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(min), prop)
    assert(res.passed, s"$name: ${res.status}")
  }

  // unicode-heavy but NUL-free strings (Kafka topic/key names and SQLite
  // TEXT never carry NUL)
  private val text: Gen[String] =
    Gen.listOf(Gen.frequency(
      5 -> Gen.alphaNumChar,
      1 -> Gen.oneOf('	', ' ', '-', '.', '_'),
      // any BMP char below the surrogate range (multi-byte UTF-8 coverage)
      1 -> Gen.choose(0x00A1.toChar, 0xD7FF.toChar))).map(_.mkString)

  private val bytesOrNull: Gen[Array[Byte]] = Gen.frequency(
    6 -> Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray),
    1 -> Gen.const(Array.empty[Byte]),
    1 -> Gen.const(null: Array[Byte]))

  private val header: Gen[KHeader] =
    for { k <- text; v <- bytesOrNull } yield KHeader(k, v)

  private def recordAt(offset: Long): Gen[KRecord] = for {
    ts <- Gen.chooseNum(0L, 4102444800000L) // epoch-ms up to year 2100
    key <- bytesOrNull
    value <- bytesOrNull
    hs <- Gen.resize(4, Gen.listOf(header))
  } yield KRecord("t", 0, offset, ts, key, value, hs)

  private val segment: Gen[List[KRecord]] = for {
    n <- Gen.chooseNum(1, 40)
    base <- Gen.chooseNum(0L, Long.MaxValue / 2)
    recs <- Gen.sequence[List[KRecord], KRecord](
      (0 until n).map(i => recordAt(base + i)))
  } yield recs

  test("KBAK segment encode/decode round-trips arbitrary records (all codecs)") {
    val codecs = Seq(CompressionCodec.None, CompressionCodec.Zstd, CompressionCodec.Lz4)
    check("segment round-trip", Prop.forAll(segment) { recs =>
      codecs.forall { codec =>
        val out = SegmentCodec.decode(SegmentCodec.encode(recs, codec)).toList
        out.size == recs.size && out.zip(recs).forall { case (a, b) =>
          a.offset == b.offset && a.timestamp == b.timestamp &&
            java.util.Arrays.equals(a.key, b.key) &&
            java.util.Arrays.equals(a.value, b.value) &&
            a.headers.size == b.headers.size &&
            a.headers.zip(b.headers).forall { case (x, y) =>
              x.key == y.key && java.util.Arrays.equals(x.value, y.value) }
        }
      }
    }, min = 100)
  }

  // one backup input: up to 3 (topic, partition) runs with distinct offsets,
  // covering null/empty key and value, 0 or NULL headers, null header
  // values, non-ASCII header keys, and the i64/i32 extremes
  private val backupInput: Gen[List[KRecord]] = {
    val extremeLong = Gen.frequency(
      1 -> Gen.const(Long.MinValue), 1 -> Gen.const(Long.MaxValue),
      4 -> Gen.chooseNum(Long.MinValue, Long.MaxValue))
    val run = for {
      topic <- Gen.oneOf("a", "b")
      partition <- Gen.oneOf(0, Int.MaxValue)
      offsets <- Gen.resize(12, Gen.nonEmptyListOf(extremeLong)).map(_.distinct.sorted)
      recs <- Gen.sequence[List[KRecord], KRecord](offsets.map(o => for {
        ts <- extremeLong
        key <- bytesOrNull
        value <- bytesOrNull
        hs <- Gen.frequency(4 -> Gen.resize(3, Gen.listOf(header)),
          1 -> Gen.const(null: List[KHeader]))
      } yield KRecord(topic, partition, o, ts, key, value, hs)))
    } yield recs
    Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, run)).map(runs =>
      runs.distinctBy(r => (r.head.topic, r.head.partition)).flatten)
  }

  private def segmentFiles(root: String, m: BackupManifest): Map[(String, Int), Array[Byte]] =
    (for (t <- m.topics; p <- t.partitions) yield {
      assert(p.segments.size == 1, s"one segment per partition: ${p.segments}")
      (t.name, p.partition_id) -> java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$root/${p.segments.head.key}"))
    }).toMap

  /** The writer streams zstd frames as it appends, `encode` compresses
    * one-shot, so zstd frames may differ: compare the header and the
    * decompressed body there, and the whole file for none and lz4.
    */
  private def sameSegment(got: Array[Byte], want: Array[Byte], codec: CompressionCodec): Boolean =
    if (codec != CompressionCodec.Zstd) java.util.Arrays.equals(got, want)
    else {
      val h = SegmentCodec.HeaderSize
      def body(b: Array[Byte]) =
        Compression.decompress(b, h, b.length - h - SegmentCodec.FooterSize, codec)
      SegmentCodec.decode(got) // verifies the footer magic and the CRC
      java.util.Arrays.equals(got.take(h), want.take(h)) &&
        java.util.Arrays.equals(body(got), body(want))
    }

  test("Backup.run segments equal SegmentCodec.encode of the same records") {
    import spark.implicits._
    val codecs = Seq(CompressionCodec.None, CompressionCodec.Zstd, CompressionCodec.Lz4)
    val cluster = "clüster-1"
    var n = 0
    check("backup parity", Prop.forAll(backupInput) { recs =>
      val df = recs.toDS().toDF()
      // enrichment on: the expected headers come from the Catalyst column
      val enriched = df.withColumn("headers", KFunctions.enriched_headers(col("headers"),
        col("offset"), col("timestamp"), cluster, col("partition"))).as[KRecord].collect()
      Seq(true, false).forall { enrich =>
        val expected = (if (enrich) enriched.toSeq else recs)
          .groupBy(r => (r.topic, r.partition)).map { case (k, rs) => k -> rs.sortBy(_.offset) }
        codecs.forall { codec =>
          n += 1
          val root = java.nio.file.Files.createTempDirectory("graft-parity").toString
          val m = Backup.run(spark, df, BackupConfig("p", root, codec, enrichHeaders = enrich,
            sourceCluster = cluster))
          val got = segmentFiles(root, m)
          got.keySet == expected.keySet && expected.forall { case (k, rs) =>
            sameSegment(got(k), SegmentCodec.encode(rs, codec), codec)
          }
        }
      }
    }, min = 10)
    assert(n >= 60)
  }

  test("both u16 wire guards fail the backup, naming the record's offset") {
    import spark.implicits._
    def backup(r: KRecord, enrich: Boolean): Unit = Backup.run(spark, Seq(r).toDS().toDF(),
      BackupConfig("u16", java.nio.file.Files.createTempDirectory("graft-u16").toString,
        CompressionCodec.Lz4, enrichHeaders = enrich))
    def failure(f: => Unit): String = {
      val e = intercept[Exception](f)
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString("\n")
    }
    def rec(headers: Seq[KHeader]) = KRecord("t", 0, 42L, 0L, null, null, headers)
    val small = KHeader("k", Array[Byte](1))
    // 65,531 own + 4 enrichment headers is the u16 maximum; one more fails
    backup(rec(Seq.fill(0xffff - 4)(small)), enrich = true)
    val tooMany = rec(Seq.fill(0xffff - 3)(small))
    val many = failure(backup(tooMany, enrich = true))
    assert(many.contains("record 42: 65536 headers exceed the u16 wire limit"), many)
    backup(tooMany, enrich = false)
    // a header key of 65,535 UTF-8 bytes fits; 65,536 does not
    backup(rec(Seq(KHeader("k" * 0xffff, null))), enrich = false)
    val longKey = rec(Seq(KHeader("é" * 0x8000, null)))
    val key = failure(backup(longKey, enrich = true))
    assert(key.contains("record 42: header key of 65536 bytes exceeds the u16 wire limit"), key)
    // the KRecord path goes through the same field-level writer
    assert(failure(SegmentCodec.encode(Seq(longKey), CompressionCodec.None))
      .contains("record 42: header key of 65536 bytes exceeds the u16 wire limit"))
  }

  // a window [1000, 2000] and timestamps that sit on, just outside and
  // far from its bounds
  private val (windowLo, windowHi) = (1000L, 2000L)
  private val pitrSegment: Gen[List[KRecord]] = for {
    n <- Gen.chooseNum(0, 30)
    base <- Gen.chooseNum(0L, Long.MaxValue / 2)
    recs <- Gen.sequence[List[KRecord], KRecord]((0 until n).map(i => for {
      ts <- Gen.frequency(4 -> Gen.oneOf(windowLo - 1, windowLo, windowHi, windowHi + 1),
        4 -> Gen.chooseNum(0L, 3000L), 1 -> Gen.oneOf(Long.MinValue, Long.MaxValue))
      key <- bytesOrNull
      value <- bytesOrNull
      hs <- Gen.frequency(2 -> Gen.const(Nil), 3 -> Gen.resize(4, Gen.listOf(header)))
    } yield KRecord("t", 0, base + i, ts, key, value, hs)))
  } yield recs

  test("kbak rows equal the KRecord encoder's rows of the decoded records, byte for byte") {
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    import org.apache.spark.sql.catalyst.expressions.UnsafeRow
    import org.apache.spark.sql.connector.catalog.SupportsRead
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    import org.apache.spark.sql.connector.read.SupportsPushDownV2Filters
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import graft.catalog.{Manifest, PartitionBackup, SegmentMetadata, TopicBackup}
    import graft.codec.LegacySegment
    import graft.pipelines.KbakSource
    import scala.jdk.CollectionConverters._
    spark // the scan plans its tasks against the active session
    val toRow = ExpressionEncoder[KRecord]().createSerializer()
    def encoded(rs: Iterator[KRecord]): List[Seq[Byte]] =
      rs.map(r => toRow(r).asInstanceOf[UnsafeRow].getBytes.toSeq).toList
    val codecs = Seq(CompressionCodec.None, CompressionCodec.Zstd, CompressionCodec.Lz4)
    var n = 0
    check("kbak row parity", Prop.forAll(pitrSegment) { recs =>
      n += 1
      val root = java.nio.file.Files.createTempDirectory("graft-rows").toString
      // partitions 0-2: the records as KBAK under each codec; 3: legacy JSON
      val segments = (codecs.map(Some(_)) :+ None).zipWithIndex.map { case (codec, p) =>
        val rs = recs.map(_.copy(partition = p))
        val key = codec.fold(s"rows/topics/t/partition=$p/segment-0.json")(c =>
          Manifest.segmentKey("rows", "t", p, 0L, c.extension))
        val data = codec.fold(LegacySegment.encodeLegacy(rs))(SegmentCodec.encode(rs, _))
        val raw = codec.fold(0L)(c => Compression.decompress(data, SegmentCodec.HeaderSize,
          SegmentCodec.bodyLength(data), c).length.toLong)
        val path = java.nio.file.Paths.get(root, key)
        java.nio.file.Files.createDirectories(path.getParent)
        java.nio.file.Files.write(path, data)
        val ts = rs.map(_.timestamp)
        (p, data, SegmentMetadata(key, recs.headOption.fold(0L)(_.offset),
          recs.lastOption.fold(0L)(_.offset), if (ts.isEmpty) 0L else ts.min,
          if (ts.isEmpty) 0L else ts.max, rs.size.toLong, raw,
          data.length.toLong - SegmentCodec.HeaderSize - SegmentCodec.FooterSize))
      }
      Manifest.save(root, BackupManifest("rows", 0L, None, Nil, "mixed", List(TopicBackup("t",
        Some(4), segments.map { case (p, _, s) => PartitionBackup(p, List(s)) }.toList))))
      // drive the source as Spark does: push the window, plan, read
      val options = new CaseInsensitiveStringMap(
        Map("backupRoot" -> root, "backupId" -> "rows").asJava)
      val table = new KbakSource().getTable(KbakSource.schema, Array.empty, options)
      val builder = table.asInstanceOf[SupportsRead].newScanBuilder(options)
        .asInstanceOf[SupportsPushDownV2Filters]
      def bound(op: String, v: Long) = new Predicate(op,
        Array(Expressions.column("timestamp"), Expressions.literal(Long.box(v))))
      val rest = builder.pushPredicates(Array(bound(">=", windowLo), bound("<=", windowHi)))
      val batch = builder.build().toBatch
      val factory = batch.createReaderFactory()
      val got = batch.planInputPartitions().toList.flatMap { part =>
        val reader = factory.createReader(part)
        Iterator.continually(reader.next()).takeWhile(identity)
          .map(_ => reader.get().asInstanceOf[UnsafeRow].getBytes.toSeq).toList
      }
      val want = segments.flatMap { case (p, data, s) =>
        encoded(LegacySegment.decodeAny(data, s.key, "t", p, windowLo, windowHi))
      }
      rest.isEmpty && got == want
    }, min = 60)
    assert(n >= 60)
  }

  test("offsets.db writer/reader round-trips arbitrary marks") {
    val mark: Gen[(String, String, Int, Long)] = for {
      backup <- Gen.resize(20, text).suchThat(_.nonEmpty)
      topic <- Gen.resize(40, text).suchThat(_.nonEmpty)
      p <- Gen.chooseNum(0, 10000)
      off <- Gen.chooseNum(0L, Long.MaxValue)
    } yield (backup, topic, p, off)
    check("offsets.db round-trip", Prop.forAll(
      Gen.resize(25, Gen.nonEmptyListOf(mark))) { marks =>
      // the writer requires unique PKs (backup_id, topic, partition)
      val uniq = marks.distinctBy(m => (m._1, m._2, m._3))
      val rows = uniq.zipWithIndex.map { case ((b, t, p, o), i) =>
        SqliteWriter.OffsetRow(b, t, p, o, 1700000000000L + i) }
      val db = SqliteFile.open(SqliteWriter.offsetsDb(rows, Nil))
      val back = db.table("offsets").map(_.values).map {
        case Seq(b: String, t: String, p: java.lang.Long,
                 o: java.lang.Long, _) => (b, t, p.toInt, o.toLong)
      }.toSet
      back == uniq.map(m => (m._1, m._2, m._3, m._4)).toSet
    }, min = 100)
  }

  test("segment decode rejects arbitrary corruption loudly, never mis-decodes") {
    val recs = (0L until 10L).map(i =>
      KRecord("t", 0, i, 1700000000000L + i, Array[Byte](1), Array[Byte](2), Nil))
    val good = SegmentCodec.encode(recs, CompressionCodec.Zstd)
    val flip: Gen[(Int, Byte)] = for {
      pos <- Gen.chooseNum(0, good.length - 1)
      b <- Gen.choose(Byte.MinValue, Byte.MaxValue)
    } yield (pos, b)
    check("corruption detection", Prop.forAll(flip) { case (pos, b) =>
      if (good(pos) == b) true // not actually a corruption
      else {
        val bad = good.clone(); bad(pos) = b
        try {
          val out = SegmentCodec.decode(bad).toList
          // a surviving decode must be byte-exact on every field (e.g. the
          // flip landed in dead padding) — silent data changes are the bug
          out.size == recs.size && out.zip(recs).forall { case (a, r) =>
            a.offset == r.offset && a.timestamp == r.timestamp &&
              java.util.Arrays.equals(a.value, r.value) }
        } catch { case _: Exception => true } // loud rejection is correct
      }
    }, min = 300)
  }
}
