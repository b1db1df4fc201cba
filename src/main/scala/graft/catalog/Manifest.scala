package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.{JsonMethods, Serialization}
import java.nio.charset.StandardCharsets

/** Per-segment statistics — a min/max catalog entry
  * (crates/kafka-backup-core/src/manifest.rs:7-165). Offset and timestamp
  * ranges drive pruning before any storage read.
  */
case class SegmentMetadata(
    key: String,
    start_offset: Long,
    end_offset: Long,
    start_timestamp: Long,
    end_timestamp: Long,
    record_count: Long,
    uncompressed_size: Long,
    compressed_size: Long) {

  /** Time-window overlap (manifest.rs:169-179): None bound = unbounded; both
    * ends inclusive.
    */
  def overlapsTimeWindow(start: Option[Long], end: Option[Long]): Boolean = {
    val afterStart = start.forall(s => end_timestamp >= s)
    val beforeEnd = end.forall(e => start_timestamp <= e)
    afterStart && beforeEnd
  }
}

case class PartitionBackup(partition_id: Int, segments: List[SegmentMetadata]) {
  def lastOffset: Option[Long] =
    if (segments.isEmpty) None else Some(segments.map(_.end_offset).max)
}

case class TopicBackup(
    name: String,
    original_partition_count: Option[Int],
    partitions: List[PartitionBackup]) {

  /** Partition count for restore topic auto-create: recorded count if present,
    * else max seen id + 1 (old-manifest fallback, manifest.rs:81-89).
    */
  def effectivePartitionCount: Int =
    original_partition_count.getOrElse(
      if (partitions.isEmpty) 1 else partitions.map(_.partition_id).max + 1)
}

/** The backup catalog, stored as JSON at `{backup_id}/manifest.json`
  * (backup/engine.rs:1219).
  */
case class BackupManifest(
    backup_id: String,
    created_at: Long,
    source_cluster_id: Option[String],
    source_brokers: List[String],
    compression: String,
    topics: List[TopicBackup]) {

  def totalRecords: Long =
    topics.flatMap(_.partitions).flatMap(_.segments).map(_.record_count).sum
  def totalSegments: Int = topics.flatMap(_.partitions).map(_.segments.size).sum

  /** Merge `other` into this manifest (backup/engine.rs:1240-1301): topics and
    * partitions unioned; segments deduped by key OR start_offset with the
    * EXISTING entry winning; result sorted by start_offset. Idempotent, so
    * crash-retried uploads stay consistent.
    */
  def merge(other: BackupManifest): BackupManifest = {
    val byTopic = topics.map(t => t.name -> t).toMap
    val mergedTopics = (topics.map(_.name) ++
      other.topics.map(_.name).filterNot(byTopic.contains)).map { name =>
      (byTopic.get(name), other.topics.find(_.name == name)) match {
        case (Some(a), None) => a
        case (None, Some(b)) => b
        case (Some(a), Some(b)) =>
          val byPart = a.partitions.map(p => p.partition_id -> p).toMap
          val partIds = (a.partitions.map(_.partition_id) ++
            b.partitions.map(_.partition_id)).distinct.sorted
          val mergedParts = partIds.map { pid =>
            (byPart.get(pid), b.partitions.find(_.partition_id == pid)) match {
              case (Some(pa), None) => pa
              case (None, Some(pb)) => pb
              case (Some(pa), Some(pb)) =>
                val existingKeys = pa.segments.map(_.key).toSet
                val existingStarts = pa.segments.map(_.start_offset).toSet
                val novel = pb.segments.filterNot(s =>
                  existingKeys.contains(s.key) || existingStarts.contains(s.start_offset))
                PartitionBackup(pid, (pa.segments ++ novel).sortBy(_.start_offset))
              case _ => PartitionBackup(pid, Nil)
            }
          }
          // current session (`other`) wins when present: a partition expansion
          // must propagate to restore auto-create (engine.rs merge_manifests)
          TopicBackup(name, b.original_partition_count.orElse(a.original_partition_count),
            mergedParts)
        case _ => TopicBackup(name, None, Nil)
      }
    }
    copy(topics = mergedTopics)
  }
}

object Manifest {
  implicit val formats: Formats = DefaultFormats

  def toJson(m: BackupManifest): String = Serialization.writePretty(m)
  def fromJson(s: String): BackupManifest = JsonMethods.parse(s).extract[BackupManifest]

  def path(backupRoot: String, backupId: String): String = s"$backupRoot/$backupId/manifest.json"

  private def fs(backupRoot: String) = org.apache.hadoop.fs.FileSystem.get(
    new java.net.URI(backupRoot), graft.util.ActiveHadoopConf())

  // serializes read-merge-write within this JVM (the reference's save_lock,
  // backup/engine.rs:40-47); cross-process writers of the SAME backup_id
  // still race — coordinate those at the orchestration layer
  private val saveLock = new Object

  /** Atomic read-modify-write save with merge (K2): union with any manifest
    * already in storage so concurrent/partial runs stay discoverable. Goes
    * through Hadoop FS, so remote roots (s3a://, abfss://, gs://) work the
    * same as local paths.
    */
  def save(backupRoot: String, m: BackupManifest): BackupManifest = saveLock.synchronized {
    val f = fs(backupRoot)
    val p = new org.apache.hadoop.fs.Path(path(backupRoot, m.backup_id))
    val merged = if (f.exists(p)) load(backupRoot, m.backup_id).merge(m) else m
    // Two save strategies, chosen by filesystem semantics:
    //  - file/hdfs/viewfs: write-tmp-then-rename — FileContext.rename(
    //    OVERWRITE) is atomic there, so a crash mid-write can never truncate
    //    the previously valid manifest;
    //  - ADLS (abfs/wasb) renames are atomic metadata ops — rename path too;
    //  - s3/gs object stores: ONE overwrite-create PUT, committed atomically
    //    at close. A rename there is delete+server-side-copy: a crash between
    //    the two leaves the backup with NO manifest — worse than the
    //    torn-write risk the rename exists to prevent (and some schemes have
    //    no FileContext binding at all).
    val atomicRename = Set("file", "hdfs", "viewfs", "abfs", "abfss", "wasb", "wasbs")
      .contains(Option(f.getUri.getScheme).getOrElse("file"))
    if (atomicRename) {
      val tmp = new org.apache.hadoop.fs.Path(
        p.getParent, s".manifest.json.tmp.${java.util.UUID.randomUUID().toString.take(8)}")
      val os = f.create(tmp, true)
      try os.write(toJson(merged).getBytes(StandardCharsets.UTF_8)) finally os.close()
      try {
        val fc = org.apache.hadoop.fs.FileContext.getFileContext(f.getUri, f.getConf)
        fc.rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      } catch { case e: Throwable =>
        // leave no orphaned tmp behind on failure, then surface the error
        try f.delete(tmp, false) catch { case _: Throwable => () }
        throw e
      }
    } else {
      val os = f.create(p, true)
      try os.write(toJson(merged).getBytes(StandardCharsets.UTF_8)) finally os.close()
    }
    merged
  }

  def load(backupRoot: String, backupId: String): BackupManifest = {
    val f = fs(backupRoot)
    val in = f.open(new org.apache.hadoop.fs.Path(path(backupRoot, backupId)))
    try fromJson(new String(
      org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), StandardCharsets.UTF_8))
    finally in.close()
  }

  /** Storage key for a segment
    * (`{backup_id}/topics/{topic}/partition={p}/segment-{start:020}.bin{ext}`,
    * backup/engine.rs:1156-1162). The Hive-style `partition=` path component
    * makes the layout Spark-partition-discoverable; the offset-derived name
    * makes re-uploads idempotent overwrites.
    */
  def segmentKey(backupId: String, topic: String, partition: Int, startOffset: Long,
                 ext: String): String =
    f"$backupId/topics/$topic/partition=$partition/segment-$startOffset%020d.bin$ext"

  /** Exploded DataFrame view — one row per segment; the input to every
    * metadata query and the pruning join.
    */
  def toDF(spark: SparkSession, m: BackupManifest): DataFrame = {
    import spark.implicits._
    val rows = for {
      t <- m.topics
      p <- t.partitions
      s <- p.segments
    } yield (t.name, p.partition_id, s.key, s.start_offset, s.end_offset,
      s.start_timestamp, s.end_timestamp, s.record_count, s.uncompressed_size,
      s.compressed_size)
    rows.toDF("topic", "partition", "segment_key", "start_offset", "end_offset",
      "start_timestamp", "end_timestamp", "record_count", "uncompressed_size",
      "compressed_size")
  }
}
