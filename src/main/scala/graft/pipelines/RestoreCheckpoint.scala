package graft.pipelines

import org.json4s._
import org.json4s.jackson.{JsonMethods, Serialization}
import graft.util.Sidecar
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import java.nio.charset.StandardCharsets

/** Resumable-restore checkpoint (K4, manifest.rs:270-338): completed segment
  * keys + progress counters + a config hash so a resumed run with different
  * options starts clean instead of silently mixing semantics.
  */
case class RestoreCheckpoint(
    backup_id: String,
    config_hash: String,
    segments_completed: Set[String],
    records_restored: Long,
    bytes_restored: Long,
    updated_at: Long)

object RestoreCheckpoint {
  implicit private val formats: Formats = DefaultFormats

  def configHash(cfg: RestoreConfig): String = {
    val canonical = Seq(cfg.backupRoot, cfg.backupId, cfg.windowStartMs, cfg.windowEndMs,
      cfg.includeTopics.sorted, cfg.excludeTopics.sorted,
      cfg.sourcePartitions.map(_.sorted), cfg.topicMapping.toSeq.sorted,
      cfg.partitionMapping.toSeq.sorted).mkString("|")
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(canonical.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
  }

  def empty(cfg: RestoreConfig): RestoreCheckpoint =
    RestoreCheckpoint(cfg.backupId, configHash(cfg), Set.empty, 0L, 0L, 0L)

  /** Load if present AND config-compatible; otherwise start fresh
    * (restore/engine.rs checkpoint load: a mismatched config_hash discards
    * the checkpoint). "Otherwise" includes an UNREADABLE file — a truncated
    * or old-schema checkpoint means re-restoring idempotent segments, while
    * throwing would brick resumability until someone hand-deletes the file.
    */
  def loadOrEmpty(path: String, cfg: RestoreConfig): RestoreCheckpoint = {
    val p = new Path(path)
    val fs = p.getFileSystem(new Configuration())
    if (!fs.exists(p)) empty(cfg)
    else {
      val parsed =
        try Some(JsonMethods.parse(Sidecar.readText(fs, p)).extract[RestoreCheckpoint])
        catch { case e: Exception =>
          System.err.println(
            s"[checkpoint] unreadable $path (${e.getClass.getSimpleName}) — starting fresh")
          None
        }
      parsed match {
        case Some(ckpt)
          if ckpt.config_hash == configHash(cfg) && ckpt.backup_id == cfg.backupId => ckpt
        case _ => empty(cfg)
      }
    }
  }

  /** Replace the checkpoint through [[Sidecar.replace]]: a reader sees the
    * previous checkpoint or this one, and concurrent savers never share a
    * temp file.
    */
  def save(path: String, ckpt: RestoreCheckpoint): Unit =
    Sidecar.replace(new Configuration(), new Path(path), Serialization.writePretty(
      ckpt.copy(updated_at = System.currentTimeMillis())))

  /** Mark segments complete and roll the counters. */
  def complete(ckpt: RestoreCheckpoint, segmentKeys: Iterable[String],
               records: Long, bytes: Long): RestoreCheckpoint =
    ckpt.copy(segments_completed = ckpt.segments_completed ++ segmentKeys,
      records_restored = ckpt.records_restored + records,
      bytes_restored = ckpt.bytes_restored + bytes)
}
