package graft.pipelines

import graft.codec.{CompressionCodec, SegmentCodec}
import graft.catalog._
import graft.functions.Enrichment
import graft.model.KRecord
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeArrayData, UnsafeRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.util.SerializableConfiguration

/** Backup pipeline config (subset of the reference's YAML Config,
  * crates/kafka-backup-core/src/config.rs:8). Defaults mirror
  * SegmentWriterConfig::default (segment/writer.rs:28-37).
  */
case class BackupConfig(
    backupId: String,
    backupRoot: String,
    compression: CompressionCodec = CompressionCodec.Zstd,
    zstdLevel: Int = CompressionCodec.DefaultZstdLevel,
    maxSegmentBytes: Long = 128L * 1024 * 1024,
    // event-time analog of the reference's 60 s wall-clock roll
    // (segment/writer.rs:28-37): a batch job replays history, so the
    // wall-clock elapsed check becomes a bound on the event-time span a
    // segment may cover. None = size-only roll (the pre-round-4 behavior).
    maxSegmentIntervalMs: Option[Long] = None,
    sourceCluster: String = "source-cluster",
    enrichHeaders: Boolean = true,
    includeTopics: Seq[String] = Nil,
    excludeTopics: Seq[String] = Nil)

/** The ingest pipeline (reference query lifecycle §3.1): source records →
  * header enrichment (F11) → per-(topic,partition) segment roll (K1/St4) →
  * storage put → manifest assembly (K2).
  *
  * Spark shape: a narrow, shuffle-once plan. One hash repartition co-locates
  * each (topic,partition) on one task; `sortWithinPartitions` restores offset
  * order (the per-partition order invariant O4 — never a global sort). The
  * writer consumes the sort's `UnsafeRow`s directly (`queryExecution.toRdd`):
  * it reads topic, partition, offset and timestamp in place and copies key,
  * value and header bytes straight into the segment buffer — no `KRecord`,
  * `KHeader`, `String` or per-record array is built. Header enrichment is
  * fused into that encoder, so the enrichment headers never cross the
  * shuffle. Records stream through rolling segment buffers, so memory is
  * bounded by `maxSegmentBytes` per task regardless of input size. Segment
  * metadata (one row per ~128 MB) is the only thing collected to the driver.
  *
  * Storage: the driver's Hadoop conf is broadcast once per job. Segments go
  * through [[SegmentFiles]]: plain files on a `file://` root (no `.crc`
  * sidecar; the KBAK footer CRC covers them), Hadoop FS on every other
  * scheme. The catalog commit ([[Manifest.save]]: the `_graft_log/` entry,
  * then the `manifest.json` export) always goes through Hadoop FS.
  */
object Backup {

  /** Run a batch backup of a canonical-record DataFrame. Returns the saved
    * manifest.
    */
  def run(spark: SparkSession, records: DataFrame, config: BackupConfig): BackupManifest = {
    // the in-memory segment buffer is Int-indexed; a >=2 GB segment would
    // never hit the roll check and overflow mid-task with a misleading error
    require(config.maxSegmentBytes > 0 && config.maxSegmentBytes < Int.MaxValue.toLong - (16 << 20),
      s"maxSegmentBytes must be in (0, ~2GB): ${config.maxSegmentBytes}")

    val cfg = config // avoid closing over `this`
    // the driver's Hadoop conf (spark.hadoop.* — object-store credentials,
    // endpoints, registered schemes) ships to the executors once per job; a
    // bare `new Configuration()` in the task would silently drop them
    val hadoopConf = spark.sparkContext.broadcast(
      new SerializableConfiguration(spark.sparkContext.hadoopConfiguration))
    // built once: under AQE `toRdd` runs the shuffle map stage eagerly
    val written: Seq[SegmentRow] = writerInput(spark, records, config).queryExecution.toRdd
      .mapPartitions(it => writeTaskPartition(it, cfg, hadoopConf.value.value))
      .collect().toSeq

    // original_partition_count (manifest.rs:81-89) from the observed max
    // partition id in the written segments — no second scan of the input
    // (an extra groupBy here would double the source read at scale)
    val partCounts = written.groupBy(_.topic)
      .map { case (t, rs) => t -> (rs.map(_.partition).max + 1) }

    val manifest = assembleManifest(written, partCounts, config)
    Manifest.save(config.backupRoot, manifest)
  }

  /** The segment writer's input: the selected topics' records in canonical
    * column order ([[canonical]]), hash-partitioned by (topic, partition)
    * and sorted by (topic, partition, offset) within each task. Enrichment
    * is not in this plan: the writer appends those headers itself.
    */
  private[graft] def writerInput(spark: SparkSession, records: DataFrame,
                                 config: BackupConfig): DataFrame = {
    // topic resolution needs a distinct scan of the source — only pay for it
    // when include/exclude filters are actually configured
    val filtered =
      if (config.includeTopics.isEmpty && config.excludeTopics.isEmpty) records
      else records.filter(col("topic").isin(selectedTopics(spark, records, config): _*))
    // the typed input contract, checked at analysis only: `as[KRecord]`
    // resolves its deserializer eagerly (columns by name, legal upcasts only)
    // and fails here on a missing or ill-typed column; no row is ever
    // deserialized through it. The encoder is the one derived once per JVM
    // (a product encoder derived per call costs a runtime reflection pass)
    filtered.as(KbakSource.encoder)
    canonical(filtered)
      .repartition(col("topic"), col("partition"))
      .sortWithinPartitions("topic", "partition", "offset")
  }

  /** Incremental batch backup (S12 batch leg, offset_store/sqlite.rs:126-154):
    * consult the offset state table, back up only records PAST each
    * partition's recorded high-water mark, then advance the marks. Two
    * consecutive runs over the same source write the new offsets exactly once
    * (manifest merge dedups re-sealed segments as a second line of defense).
    *
    * The state is broadcast-joined against the source — a handful of rows per
    * partition, never a shuffle of the data side.
    */
  def runIncremental(spark: SparkSession, records: DataFrame, config: BackupConfig,
                     stateRoot: Option[String] = None): BackupManifest = {
    val root = stateRoot.getOrElse(config.backupRoot)
    val state = graft.catalog.OffsetStateTable.load(spark, root)
      .filter(col("backup_id") === config.backupId)
      .select(col("topic"), col("partition"), col("last_offset"))
    val manifest = run(spark, incrementalFilter(records, state), config)
    graft.catalog.OffsetStateTable.update(spark, root, manifest)
    manifest
  }

  /** The resume predicate: keep records past each partition's mark. The
    * state side is metadata-sized, so it is always BROADCAST — the data side
    * must not shuffle for this join (asserted in PlanSpec).
    */
  def incrementalFilter(records: DataFrame, state: DataFrame): DataFrame =
    records
      .join(broadcast(state), Seq("topic", "partition"), "left")
      .filter(col("last_offset").isNull || col("offset") > col("last_offset"))
      .drop("last_offset")

  /** Topic resolution F1/F2: glob include/exclude against observed topics. */
  def selectedTopics(spark: SparkSession, records: DataFrame, config: BackupConfig): Seq[String] = {
    import spark.implicits._
    val all = records.select("topic").distinct().as[String].collect().toSeq
    all.filter(t => graft.functions.KHash.topicMatches(t, config.includeTopics,
      config.excludeTopics)).sorted
  }

  private[pipelines] case class SegmentRow(
      topic: String, partition: Int, key: String, start_offset: Long, end_offset: Long,
      start_timestamp: Long, end_timestamp: Long, record_count: Long,
      uncompressed_size: Long, compressed_size: Long)

  /** The canonical columns in `KRecord.schema` order — the writer reads
    * them by ordinal. Columns resolve by name; a column of another (legally
    * upcastable, see `as[KRecord]` in [[writerInput]]) type is cast, and headers
    * whose element struct differs from `struct<key:string,value:binary>` are
    * rebuilt by field name. Extra columns are dropped before the shuffle.
    */
  private def canonical(df: DataFrame): DataFrame = {
    val resolver = df.sparkSession.sessionState.conf.resolver
    def typeOf(name: String): DataType =
      df.schema.fields.find(f => resolver(f.name, name)).get.dataType
    df.select(KRecord.schema.fields.toSeq.map { f =>
      val c = col(f.name)
      val typed = (typeOf(f.name), f.dataType) match {
        case (ArrayType(StructType(got), _), ArrayType(want: StructType, _)) =>
          // the canonical struct passes through whatever its nullability
          if (got.map(g => (g.name, g.dataType)).toSeq == want.map(w => (w.name, w.dataType)).toSeq) c
          else transform(c, h => struct(want.fields.toSeq.map(w =>
            h.getField(w.name).cast(w.dataType).as(w.name)): _*))
        case (got, want) => if (got == want) c else c.cast(want)
      }
      typed.as(f.name)
    }: _*)
  }

  // `KRecord.schema` ordinals of the writer's input rows
  private val TopicCol = 0
  private val PartitionCol = 1
  private val OffsetCol = 2
  private val TimestampCol = 3
  private val KeyCol = 4
  private val ValueCol = 5
  private val HeadersCol = 6

  /** Rolling segment writer for one Spark task. Input is the sort's
    * `UnsafeRow`s in [[canonical]] column order, sorted by (topic,
    * partition, offset); consecutive runs of one (topic, partition)
    * stream through a bounded buffer that seals at `maxSegmentBytes` OR when
    * the segment's event-time span reaches `maxSegmentIntervalMs`
    * (writer.rs:237-251 — `should_rotate` checks size then elapsed time
    * after each append; here elapsed wall-clock maps to event-time span,
    * since a batch job replays history at arbitrary speed. On the streaming
    * path micro-batch boundaries additionally bound wall-clock staleness.)
    * Unlike the reference's post-append check, a record that would stretch
    * the span past the cap seals the current segment first, so the span
    * bound holds strictly for every segment.
    *
    * Each record is encoded from the row in place through `SegmentCodec`'s
    * field-level writer, the one definition of the record layout (so the
    * bytes equal `SegmentCodec.writeRecord` of the same `KRecord`): the
    * fixed-width fields are read where they lie, and key, value and headers
    * are copied from the row's memory into the segment buffer. With
    * `enrichHeaders` the four enrichment headers follow the record's own in
    * wire form; the partition's decimal bytes are encoded once per run.
    */
  private def writeTaskPartition(it: Iterator[InternalRow], cfg: BackupConfig,
                                 hadoopConf: Configuration): Iterator[SegmentRow] = {
    val files = new SegmentFiles(cfg.backupRoot, hadoopConf)
    val out = scala.collection.mutable.ArrayBuffer.empty[SegmentRow]

    var curTopic: String = null
    var curTopicUtf8: Array[Byte] = null
    var curPartition: Int = -1
    val cluster = Enrichment.clusterValue(cfg.sourceCluster)
    var partitionUtf8: Array[Byte] = null
    // Per-task memory contract: zstd segments COMPRESS AS THEY APPEND — each
    // record encodes into a small scratch sink and streams through a zstd
    // stream into `body`, so the live allocation is the COMPRESSED body
    // (typically 3-10x under maxSegmentBytes) plus the codec's ~1 MB window,
    // never the raw segment. That's what lets a 32-task local run (or a
    // tightly-packed executor) write 128 MB segments inside a default heap:
    // the earlier buffer-raw-then-compress shape held raw + compressBound
    // per task ≈ 2x maxSegmentBytes, and 32x that was the measured sf10
    // 16 GB OOM. The header-before-body file format forces buffering ONE of
    // the two forms; compressed is strictly smaller. lz4/none keep the raw
    // buffer (the lz4 block format needs whole-body input; none is 1:1).
    val isZstd = cfg.compression == CompressionCodec.Zstd
    val body = new SegmentCodec.ByteSink(1 << 20)
    val scratch = if (isZstd) new SegmentCodec.ByteSink(64 << 10) else body
    var zOut: java.io.OutputStream = null
    def openStream(): Unit = if (isZstd)
      zOut = new java.io.BufferedOutputStream(
        new com.github.luben.zstd.ZstdOutputStream(body.asOutputStream, cfg.zstdLevel),
        64 << 10)
    openStream()
    var rawLen = 0L
    var count = 0L
    var startOffset = -1L
    var endOffset = -1L
    var startTs = Long.MaxValue
    var endTs = Long.MinValue

    def seal(): Unit = if (count > 0) {
      // stream the segment out — header, compressed body range, CRC footer —
      // with no assemble copy; for zstd the body is ALREADY compressed (the
      // stream's close writes the frame epilogue; the reader handles
      // streamed frames without an up-front content size)
      val (cBuf, cOff, cLen) =
        if (isZstd) { zOut.close(); (body.backing, 0, body.size) }
        else graft.codec.Compression.compressRange(
          body.backing, 0, body.size, cfg.compression, cfg.zstdLevel)
      val key = Manifest.segmentKey(cfg.backupId, curTopic, curPartition, startOffset,
        cfg.compression.extension)
      val os = files.create(key)
      try SegmentCodec.writeSegment(os,
        SegmentCodec.SegmentHeader(SegmentCodec.Version, cfg.compression, count, startOffset,
          endOffset), cBuf, cOff, cLen)
      finally os.close()
      out += SegmentRow(curTopic, curPartition, key, startOffset, endOffset, startTs, endTs,
        count, rawLen, cLen.toLong)
      body.reset()
      openStream()
      rawLen = 0
      count = 0; startOffset = -1; endOffset = -1
      startTs = Long.MaxValue; endTs = Long.MinValue
    }

    // reused views into the current row's headers array and header struct
    val headers = new UnsafeArrayData
    val header = new UnsafeRow(2)
    // a variable-length field's (offset << 32 | size) word, as UnsafeRow and
    // UnsafeArrayData store it
    def addr(row: UnsafeRow, word: Long): Long = row.getBaseOffset + (word >> 32)

    def encode(row: UnsafeRow, to: SegmentCodec.ByteSink, offset: Long, ts: Long): Unit = {
      def bytesField(r: UnsafeRow, ord: Int): Unit =
        if (r.isNullAt(ord)) SegmentCodec.putNullField(to)
        else {
          val w = r.getLong(ord)
          SegmentCodec.putBytesField(to, r.getBaseObject, addr(r, w), w.toInt)
        }
      val start = SegmentCodec.beginRecord(to, ts, offset)
      bytesField(row, KeyCol)
      bytesField(row, ValueCol)
      // NULL headers encode as zero headers, as `coalesce` did for enrichment
      val n = if (row.isNullAt(HeadersCol)) 0 else {
        val w = row.getLong(HeadersCol)
        headers.pointTo(row.getBaseObject, addr(row, w), w.toInt)
        headers.numElements()
      }
      SegmentCodec.putHeaderCount(to, if (cfg.enrichHeaders) n + Enrichment.Count else n, offset)
      var i = 0
      while (i < n) {
        require(!headers.isNullAt(i), s"record $offset: header $i is null")
        val hw = headers.getLong(i)
        header.pointTo(headers.getBaseObject, headers.getBaseOffset + (hw >> 32), hw.toInt)
        require(!header.isNullAt(0), s"record $offset: header $i has a null key")
        val kw = header.getLong(0)
        SegmentCodec.putHeaderKey(to, header.getBaseObject, addr(header, kw), kw.toInt, offset)
        bytesField(header, 1)
        i += 1
      }
      if (cfg.enrichHeaders) Enrichment.writeWire(to, offset, ts, cluster, partitionUtf8)
      SegmentCodec.endRecord(to, start)
    }

    def sameTopic(row: UnsafeRow): Boolean = {
      val w = row.getLong(TopicCol)
      w.toInt == curTopicUtf8.length && ByteArrayMethods.arrayEquals(row.getBaseObject,
        addr(row, w), curTopicUtf8, Platform.BYTE_ARRAY_OFFSET.toLong, curTopicUtf8.length)
    }

    it.foreach { r =>
      // the sort emits UnsafeRows; the cast is the format contract
      val row = r.asInstanceOf[UnsafeRow]
      var c = TopicCol
      while (c <= TimestampCol) {
        require(!row.isNullAt(c), s"backup input column ${KRecord.schema(c).name} is null")
        c += 1
      }
      val partition = row.getInt(PartitionCol)
      val offset = row.getLong(OffsetCol)
      val ts = row.getLong(TimestampCol)
      if (curTopicUtf8 == null || partition != curPartition || !sameTopic(row)) {
        seal()
        val topic = row.getUTF8String(TopicCol)
        curTopicUtf8 = topic.getBytes
        curTopic = topic.toString
        curPartition = partition
        partitionUtf8 = Enrichment.partitionValue(partition)
      }
      // Seal BEFORE appending a record that would stretch the event-time span
      // past the cap, so every sealed segment spans <= maxSegmentIntervalMs
      // regardless of record spacing (not just when spacing divides the cap).
      if (count > 0 && cfg.maxSegmentIntervalMs.exists(iv =>
          math.max(endTs, ts) - math.min(startTs, ts) > iv)) seal()
      if (count == 0) startOffset = offset
      endOffset = offset
      startTs = math.min(startTs, ts)
      endTs = math.max(endTs, ts)
      if (isZstd) {
        encode(row, scratch, offset, ts)
        zOut.write(scratch.backing, 0, scratch.size)
        rawLen += scratch.size
        scratch.reset()
      } else {
        encode(row, body, offset, ts)
        rawLen = body.size.toLong
      }
      count += 1
      if (rawLen >= cfg.maxSegmentBytes ||
        cfg.maxSegmentIntervalMs.exists(iv => endTs - startTs >= iv)) seal()
    }
    seal()
    // the fresh post-seal stream was never fed; close it so the codec's
    // native context is released with the task, not with the GC
    if (isZstd && zOut != null) zOut.close()
    out.iterator
  }

  private def assembleManifest(rows: Seq[SegmentRow], partCounts: Map[String, Int],
                               config: BackupConfig): BackupManifest = {
    val topics = rows.groupBy(_.topic).toList.sortBy(_._1).map { case (topic, trs) =>
      val parts = trs.groupBy(_.partition).toList.sortBy(_._1).map { case (pid, prs) =>
        PartitionBackup(pid, prs.sortBy(_.start_offset).map(r =>
          SegmentMetadata(r.key, r.start_offset, r.end_offset, r.start_timestamp,
            r.end_timestamp, r.record_count, r.uncompressed_size, r.compressed_size)).toList)
      }
      TopicBackup(topic, partCounts.get(topic), parts)
    }
    BackupManifest(config.backupId, System.currentTimeMillis(), None, Nil,
      config.compression match {
        case CompressionCodec.None => "none"
        case CompressionCodec.Zstd => "zstd"
        case CompressionCodec.Lz4 => "lz4"
      }, topics)
  }
}
