package graft.pipelines

import graft.catalog.{BackupManifest, Manifest, SegmentMetadata}
import graft.codec.LegacySegment
import graft.functions.KHash
import graft.model.KRecord
import java.io.IOException
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.codegen.{UnsafeArrayWriter, UnsafeRowWriter}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expression, Literal, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader,
  PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownV2Filters}
import org.apache.spark.sql.graftbridge.RelationBridge
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.json4s.DefaultFormats
import org.json4s.jackson.{JsonMethods, Serialization}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The read-only `kbak` DataSource V2: one backup's segments as Kafka
  * records in [[KbakSource.schema]] (`KRecord`'s encoder schema).
  *
  * The catalog is loaded once, when the table is built. Topic and partition
  * predicates (`=`, `IN`) and timestamp and offset ranges are pushed into
  * the scan and applied exactly, so none is re-evaluated above it: topic and
  * partition prune whole segments (a segment holds one (topic, partition));
  * the two ranges prune segments by their catalog ranges, then records
  * inside decode, before a record's bytes are copied. Topic include/exclude
  * globs and completed-segment keys, which no plain predicate expresses,
  * are read options ([[KbakSelection.options]]). The surviving segments are
  * split into [[Restore.scanTasks]]' size-balanced contiguous runs in
  * manifest order, one input partition each, so per-partition offset order
  * holds within a task and across the concatenated tasks.
  *
  * Each task reads its segments through [[SegmentFiles.body]] and decodes
  * every record straight into one reused `UnsafeRowWriter` ([[KbakReader]]):
  * no `KRecord`, header object or per-field array is built for a KBAK
  * segment. A missing or corrupt segment fails the read with its key in the
  * message.
  *
  * `spark.read.format("kbak").option("backupRoot", ...).option("backupId",
  * ...)` reads through the registered provider; [[KbakSource.read]] builds
  * the same relation from the table directly, with no provider lookup.
  */
class KbakSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "kbak"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = KbakSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    KbakSource.table(new CaseInsensitiveStringMap(properties))
}

object KbakSource {
  /** Derived once: a product encoder is built by runtime reflection, which
    * would cost every restore several milliseconds.
    */
  private[graft] val encoder: ExpressionEncoder[KRecord] = ExpressionEncoder[KRecord]()
  val schema: StructType = encoder.schema

  /** A backup's records under the read `options` (see [[KbakSelection.options]]). */
  def read(spark: SparkSession, options: Map[String, String]): DataFrame = {
    val opts = new CaseInsensitiveStringMap(options.asJava)
    RelationBridge.read(spark, table(opts), opts)
  }

  private def table(options: CaseInsensitiveStringMap): Table = {
    def required(name: String): String =
      Option(options.get(name)).getOrElse(throw new IllegalArgumentException(
        s"the kbak source needs the '$name' option"))
    val root = required(KbakSelection.BackupRoot)
    new KbakTable(root, Manifest.load(root, required(KbakSelection.BackupId)))
  }
}

/** An inclusive range of longs, empty when `lo > hi`. */
private[graft] final case class Bounds(lo: Long, hi: Long) {
  def contains(v: Long): Boolean = v >= lo && v <= hi
  /** Whether `[from, to]` meets this range: a segment's catalog range
    * against a window, both ends inclusive (manifest.rs:169-179).
    */
  def overlaps(from: Long, to: Long): Boolean = to >= lo && from <= hi
  def &(o: Bounds): Bounds = Bounds(math.max(lo, o.lo), math.min(hi, o.hi))
}

private[graft] object Bounds {
  val All: Bounds = Bounds(Long.MinValue, Long.MaxValue)
  val Empty: Bounds = Bounds(0L, -1L)
}

/** What a `kbak` read is restricted to: the segments it opens
  * ([[segments]]) and the records it keeps from them (`timestamps`,
  * `offsets`). The one definition of restore pruning: the scan plans from
  * it, and [[Restore.prunedSegmentKeys]] and the dry runs report from it.
  */
private[graft] final case class KbakSelection(
    includeTopics: Seq[String] = Nil,
    excludeTopics: Seq[String] = Nil,
    completedKeys: Set[String] = Set.empty,
    topics: Option[Set[String]] = None,
    partitions: Option[Set[Int]] = None,
    timestamps: Bounds = Bounds.All,
    offsets: Bounds = Bounds.All) {

  /** The catalog's segments that can hold a selected record, in manifest
    * order, with their (topic, partition).
    */
  def segments(m: BackupManifest): Seq[(String, Int, SegmentMetadata)] =
    for {
      t <- m.topics
      if topics.forall(_.contains(t.name)) &&
        KHash.topicMatches(t.name, includeTopics, excludeTopics)
      p <- t.partitions
      if partitions.forall(_.contains(p.partition_id))
      s <- p.segments
      if timestamps.overlaps(s.start_timestamp, s.end_timestamp) &&
        offsets.overlaps(s.start_offset, s.end_offset) && !completedKeys.contains(s.key)
    } yield (t.name, p.partition_id, s)

  /** This selection narrowed by `p`, one conjunct of a pushed filter, when
    * the scan applies `p` exactly, else None. The four key columns are
    * never null.
    */
  def push(p: Predicate): Option[KbakSelection] = (p.name(), p.children().toSeq) match {
    case ("IS_NOT_NULL", Seq(KbakSelection.Column(c)))
        if Set("topic", "partition", "offset", "timestamp")(c) => Some(this)
    case ("IN", KbakSelection.Column(c) +: values) =>
      val vs = values.collect { case KbakSelection.Value(v) => v }
      if (vs.size == values.size) in(c, vs) else None
    case (op, Seq(KbakSelection.Column(c), KbakSelection.Value(v))) => compare(c, op, v)
    case (op, Seq(KbakSelection.Value(v), KbakSelection.Column(c))) =>
      KbakSelection.Flipped.get(op).flatMap(compare(c, _, v))
    case _ => None
  }

  private def compare(c: String, op: String, v: Any): Option[KbakSelection] = (c, v) match {
    case ("topic" | "partition", _) if op == "=" => in(c, Seq(v))
    case ("timestamp" | "offset", x: java.lang.Long) =>
      val range = op match {
        case "=" => Some(Bounds(x, x))
        case "<" => Some(if (x == Long.MinValue) Bounds.Empty else Bounds(Long.MinValue, x - 1))
        case "<=" => Some(Bounds(Long.MinValue, x))
        case ">" => Some(if (x == Long.MaxValue) Bounds.Empty else Bounds(x + 1, Long.MaxValue))
        case ">=" => Some(Bounds(x, Long.MaxValue))
        case _ => None
      }
      range.map(r =>
        if (c == "timestamp") copy(timestamps = timestamps & r) else copy(offsets = offsets & r))
    case _ => None
  }

  private def in(c: String, vs: Seq[Any]): Option[KbakSelection] = c match {
    case "topic" if vs.forall(_.isInstanceOf[UTF8String]) =>
      val s = vs.map(_.toString).toSet
      Some(copy(topics = Some(topics.fold(s)(_ & s))))
    case "partition" if vs.forall(_.isInstanceOf[Integer]) =>
      val s = vs.map(_.asInstanceOf[Integer].intValue).toSet
      Some(copy(partitions = Some(partitions.fold(s)(_ & s))))
    case _ => None
  }
}

private[graft] object KbakSelection {
  val BackupRoot = "backupRoot"
  val BackupId = "backupId"
  private val IncludeTopics = "includeTopics"
  private val ExcludeTopics = "excludeTopics"
  private val CompletedSegmentKeys = "completedSegmentKeys"

  /** `cfg`'s whole selection: what a restore's read ends up with once its
    * window and partition filters are pushed.
    */
  def of(cfg: RestoreConfig): KbakSelection =
    KbakSelection(cfg.includeTopics, cfg.excludeTopics, cfg.completedSegmentKeys,
      partitions = cfg.sourcePartitions.map(_.toSet),
      timestamps = Bounds(cfg.windowStartMs.getOrElse(Long.MinValue),
        cfg.windowEndMs.getOrElse(Long.MaxValue)))

  /** The read options of `cfg`'s backup: its root and id, and its topic
    * globs and completed-segment keys as JSON arrays.
    */
  def options(cfg: RestoreConfig): Map[String, String] = {
    def list(name: String, values: Iterable[String]) =
      Option.when(values.nonEmpty)(name -> Serialization.write(values.toList)(DefaultFormats))
    Map(BackupRoot -> cfg.backupRoot, BackupId -> cfg.backupId) ++
      list(IncludeTopics, cfg.includeTopics) ++ list(ExcludeTopics, cfg.excludeTopics) ++
      list(CompletedSegmentKeys, cfg.completedSegmentKeys.toSeq.sorted)
  }

  /** The selection a scan starts from, before any predicate is pushed. */
  def fromOptions(options: CaseInsensitiveStringMap): KbakSelection = {
    def list(name: String): List[String] = Option(options.get(name)).fold(List.empty[String])(
      s => JsonMethods.parse(s).extract[List[String]](DefaultFormats, implicitly))
    KbakSelection(list(IncludeTopics), list(ExcludeTopics), list(CompletedSegmentKeys).toSet)
  }

  private val Flipped = Map("=" -> "=", "<" -> ">", "<=" -> ">=", ">" -> "<", ">=" -> "<=")

  private object Column {
    def unapply(e: Expression): Option[String] = e match {
      case r: NamedReference if r.fieldNames().length == 1 => Some(r.fieldNames()(0))
      case _ => None
    }
  }

  private object Value {
    def unapply(e: Expression): Option[Any] = e match {
      case l: Literal[_] if l.value() != null => Some(l.value())
      case _ => None
    }
  }
}

private final class KbakTable(root: String, manifest: BackupManifest)
    extends Table with SupportsRead {
  override def name(): String = "kbak"
  override def schema(): StructType = KbakSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new KbakScanBuilder(root, manifest, KbakSelection.fromOptions(options))
}

private final class KbakScanBuilder(root: String, manifest: BackupManifest, start: KbakSelection)
    extends SupportsPushDownV2Filters {
  private var selection = start
  private var pushed = Vector.empty[Predicate]

  override def pushPredicates(predicates: Array[Predicate]): Array[Predicate] =
    predicates.filter { p =>
      selection.push(p) match {
        case Some(s) => selection = s; pushed :+= p; false
        case None => true
      }
    }

  override def pushedPredicates(): Array[Predicate] = pushed.toArray
  override def build(): Scan = new KbakScan(root, manifest, selection, pushed)
}

private final class KbakScan(root: String, manifest: BackupManifest, selection: KbakSelection,
                             pushed: Seq[Predicate]) extends Scan with Batch {
  private lazy val segments = selection.segments(manifest)

  override def readSchema(): StructType = KbakSource.schema
  override def description(): String =
    s"kbak $root/${manifest.backup_id}, PushedPredicates: ${pushed.mkString("[", ", ", "]")}, " +
      s"Segments: ${segments.size} of ${manifest.totalSegments}"
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] =
    Restore.scanTasks(SparkSession.active, segments).map(KbakPartition(_)).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new KbakReaderFactory(SegmentRoot(SparkSession.active.sparkContext, root),
      selection.timestamps, selection.offsets)
}

/** One scan task: a contiguous run of segments in manifest order. */
private[graft] final case class KbakPartition(segments: Seq[(String, Int, SegmentMetadata)])
    extends InputPartition

private final class KbakReaderFactory(root: SegmentRoot, timestamps: Bounds, offsets: Bounds)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new KbakReader(partition.asInstanceOf[KbakPartition].segments, root.open(), timestamps,
      offsets)
}

/** Decodes a task's segments into `UnsafeRow`s in [[KbakSource.schema]]'s
  * layout, the one decoder of stored records: the restore scan reads
  * through it, and deep validation counts each segment's records with it.
  * A KBAK record is written into one reused `UnsafeRowWriter`, the
  * top-level row cleared per record (`reset` + `zeroOutNullBytes`), each
  * header struct per element (`resetRowWriter`); its fields are copied
  * straight from the decompressed body, header keys as their stored UTF-8
  * bytes. A legacy JSON segment's records are parsed, then serialized by
  * [[KbakSource.encoder]]. A failure is an `IOException` naming the
  * segment's key, the underlying error as its cause.
  */
private[graft] final class KbakReader(segments: Seq[(String, Int, SegmentMetadata)],
                                      files: SegmentFiles, timestamps: Bounds, offsets: Bounds)
    extends PartitionReader[InternalRow] {
  private val row = new UnsafeRowWriter(7)
  private val headers = new UnsafeArrayWriter(row, 8)
  private val header = new UnsafeRowWriter(headers, 2)
  private val todo = segments.iterator
  private var key: String = null
  private var topic: Array[Byte] = null
  private var partition = 0
  // the open KBAK body: records not yet visited, the next one's position,
  // and while one is written, its field cursor and end
  private var bytes: Array[Byte] = Array.emptyByteArray
  private var body: ByteBuffer = ByteBuffer.wrap(bytes)
  private var left = 0L
  private var nextAt = 0
  private var at = 0
  private var end = 0
  // the open legacy segment's records, and their serializer once needed
  private var legacy: Iterator[KRecord] = Iterator.empty
  private lazy val legacyRow = KbakSource.encoder.createSerializer()
  private var current: InternalRow = row.getRow

  override def next(): Boolean =
    try {
      var found = advance()
      while (!found && todo.hasNext) {
        open(todo.next())
        found = advance()
      }
      found
    } catch { case NonFatal(e) =>
      throw new IOException(s"reading segment $key failed: ${e.getMessage}", e)
    }

  override def get(): InternalRow = current
  override def close(): Unit = ()

  private def open(segment: (String, Int, SegmentMetadata)): Unit = {
    val (t, p, s) = segment
    key = s.key
    topic = t.getBytes(StandardCharsets.UTF_8)
    partition = p
    files.body(s) match {
      case KbakBody(h, b) =>
        bytes = b
        body = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
        left = h.recordCount
        nextAt = 0
      case LegacyBody(json) =>
        left = 0
        legacy = LegacySegment.decodeLegacy(json, t, p)
    }
  }

  /** Write the open segment's next selected record, if any. */
  private def advance(): Boolean = {
    // as SegmentCodec.decodeBody: at most the header's record count
    while (left > 0 && bytes.length - nextAt >= 4) {
      left -= 1
      val len = body.getInt(nextAt)
      if (len < 16 || len > bytes.length - nextAt - 4)
        throw new IOException("Record data truncated")
      at = nextAt + 4
      end = at + len
      nextAt = end
      val ts = body.getLong(at)
      val offset = body.getLong(at + 8)
      if (timestamps.contains(ts) && offsets.contains(offset)) {
        at += 16
        writeKbak(ts, offset)
        current = row.getRow
        return true
      }
    }
    while (legacy.hasNext) {
      val r = legacy.next()
      if (timestamps.contains(r.timestamp) && offsets.contains(r.offset)) {
        current = legacyRow(r)
        return true
      }
    }
    false
  }

  /** `n` more bytes of the current record, or a truncation error. */
  private def need(n: Int): Unit =
    if (n < 0 || n > end - at) throw new IOException("Record data truncated")

  /** The i32-length-prefixed field at `at` (-1 = null) into `w`'s `ordinal`. */
  private def bytesField(w: UnsafeRowWriter, ordinal: Int): Unit = {
    need(4)
    val n = body.getInt(at)
    at += 4
    if (n < 0) w.setNullAt(ordinal)
    else { need(n); w.write(ordinal, bytes, at, n); at += n }
  }

  private def writeKbak(ts: Long, offset: Long): Unit = {
    row.reset()
    row.zeroOutNullBytes()
    row.write(0, topic)
    row.write(1, partition)
    row.write(2, offset)
    row.write(3, ts)
    bytesField(row, 4)
    bytesField(row, 5)
    need(2)
    val n = body.getShort(at) & 0xffff
    at += 2
    val array = row.cursor()
    headers.initialize(n)
    var i = 0
    while (i < n) {
      need(2)
      val keyLen = body.getShort(at) & 0xffff
      at += 2
      need(keyLen)
      val element = headers.cursor()
      header.resetRowWriter()
      header.write(0, bytes, at, keyLen)
      at += keyLen
      bytesField(header, 1)
      headers.setOffsetAndSizeFromPreviousCursor(i, element)
      i += 1
    }
    row.setOffsetAndSizeFromPreviousCursor(6, array)
  }
}
