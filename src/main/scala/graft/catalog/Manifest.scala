package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.{JsonMethods, Serialization}

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

/** The backup catalog: committed as the versioned log
  * `{backup_id}/_graft_log/<v>` and exported as JSON at
  * `{backup_id}/manifest.json` (backup/engine.rs:1219).
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

  /** The catalog a backup without a log entry has: its `manifest.json`
    * read as version 0 (every backup written before the log existed, and
    * the reference's own backups), or none.
    */
  private def exported(conf: org.apache.hadoop.conf.Configuration, backupRoot: String,
                       backupId: String): Option[BackupManifest] = {
    val p = new org.apache.hadoop.fs.Path(path(backupRoot, backupId))
    val f = p.getFileSystem(conf)
    Option.when(f.exists(p))(fromJson(graft.util.Sidecar.readText(f, p)))
  }

  /** Merge `m` into the committed catalog and commit the result as the
    * next version of `{backup_id}/_graft_log/` — the catalog's commit
    * point. Segments are durable before their catalog entry is, and the
    * merge is idempotent, so a lost compare-and-swap (a concurrent save of
    * the same backup id, in this JVM or another) re-reads the newer
    * version and merges again; each lost round bumps
    * `manifest_cas_retry_total`. Goes through Hadoop FS, so remote roots
    * (s3a://, abfss://, gs://) work the same as local paths.
    *
    * `manifest.json` is an export for the reference format, replaced after
    * each commit through [[graft.util.Sidecar.replace]]. graft itself reads
    * only the log: under concurrent writers the export may lag the newest
    * entry (an older writer's export can land last). Every entry holds the
    * full merged catalog, as `manifest.json` does, so a commit writes
    * O(catalog) bytes and the log keeps up to
    * [[graft.util.VersionedLog.KeptVersions]] copies of it.
    */
  def save(backupRoot: String, m: BackupManifest): BackupManifest =
    commitMerged(backupRoot, m, () => ())

  /** [[save]] with a hook run between the catalog read and the commit, so
    * specs can interleave two writers deterministically.
    */
  private[graft] def commitMerged(backupRoot: String, m: BackupManifest,
                                  beforeCommit: () => Unit): BackupManifest = {
    val conf = graft.util.ActiveHadoopConf()
    val (merged, body) = graft.util.VersionedLog.advance(conf,
      s"$backupRoot/${m.backup_id}", "manifest_cas_retry_total") { entry =>
      val merged = entry.map(fromJson).orElse(exported(conf, backupRoot, m.backup_id))
        .fold(m)(_.merge(m))
      beforeCommit()
      (merged, toJson(merged))
    }
    graft.util.Sidecar.replace(conf, new org.apache.hadoop.fs.Path(path(backupRoot, m.backup_id)),
      body)
    merged
  }

  /** The newest committed catalog; `FileNotFoundException` when the backup
    * has neither a log entry nor a `manifest.json`.
    */
  def load(backupRoot: String, backupId: String): BackupManifest = {
    val conf = graft.util.ActiveHadoopConf()
    graft.util.VersionedLog.latest(conf, s"$backupRoot/$backupId").map(e => fromJson(e._2))
      .orElse(exported(conf, backupRoot, backupId))
      .getOrElse(throw new java.io.FileNotFoundException(path(backupRoot, backupId)))
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
