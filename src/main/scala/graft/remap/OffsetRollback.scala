package graft.remap

import graft.pipelines.GroupOffsetCommitter
import org.json4s._
import org.json4s.jackson.{JsonMethods, Serialization}
import graft.util.Sidecar
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import java.nio.file.{Files, Paths}

/** Pre-reset safety snapshot (restore/offset_rollback.rs:55-106): captured
  * committed offsets before Phase 3 applies a reset plan, so a bad reset can
  * be rolled back and the rollback verified.
  */
case class OffsetSnapshotEntry(group_id: String, topic: String, partition: Int,
                               offset: Long)
case class OffsetSnapshot(taken_at: Long, reason: String,
                          entries: List[OffsetSnapshotEntry])

object OffsetRollback {
  implicit private val formats: Formats = DefaultFormats

  def snapshot(committed: Seq[(String, String, Int, Long)], reason: String,
               takenAt: Long = System.currentTimeMillis()): OffsetSnapshot =
    OffsetSnapshot(takenAt, reason,
      committed.sorted.map { case (g, t, p, o) => OffsetSnapshotEntry(g, t, p, o) }.toList)

  /** Replace the snapshot file through [[Sidecar.replace]]: a reader sees
    * a whole snapshot, and concurrent savers never share a temp file.
    */
  def save(path: String, s: OffsetSnapshot): Unit =
    Sidecar.replace(new Configuration(), new Path(path), Serialization.writePretty(s))

  def load(path: String): OffsetSnapshot = {
    val p = new Path(path)
    JsonMethods.parse(Sidecar.readText(p.getFileSystem(new Configuration()), p))
      .extract[OffsetSnapshot]
  }

  /** Re-commit every snapshotted offset (the rollback apply). */
  def apply(s: OffsetSnapshot, committer: GroupOffsetCommitter): Int = {
    s.entries.foreach(e => committer.commit(e.group_id, e.topic, e.partition, e.offset))
    s.entries.size
  }

  /** J9 verify: snapshot vs currently-committed — mismatches only
    * (restore/offset_rollback.rs:579-668). Driver-side twin of
    * [[OffsetMappingDF.rollbackVerify]].
    */
  def verify(s: OffsetSnapshot,
             actual: Seq[(String, String, Int, Long)]): Seq[(String, String, Int, Option[Long], Option[Long])] = {
    val exp = s.entries.map(e => (e.group_id, e.topic, e.partition) -> e.offset).toMap
    val act = actual.map { case (g, t, p, o) => (g, t, p) -> o }.toMap
    (exp.keySet ++ act.keySet).toSeq.sorted.flatMap { k =>
      (exp.get(k), act.get(k)) match {
        case (Some(a), Some(b)) if a == b => None
        case (e, a) => Some((k._1, k._2, k._3, e, a))
      }
    }
  }

  /** Id-addressed snapshot directory (the reference CLI's snapshot
    * list/show/verify/delete surface, main.rs:263-345): snapshots live as
    * `{dir}/snapshot-{taken_at}.json`, newest-first listing.
    */
  object Store {
    def id(s: OffsetSnapshot): String = s"snapshot-${s.taken_at}"
    private def path(dir: String, id: String) = Paths.get(dir, s"$id.json")

    def saveTo(dir: String, s: OffsetSnapshot): String = {
      val sid = id(s)
      save(path(dir, sid).toString, s)
      sid
    }

    def list(dir: String): Seq[String] = {
      val d = Paths.get(dir)
      if (!Files.isDirectory(d)) return Nil
      val out = Seq.newBuilder[String]
      val st = Files.list(d)
      try {
        st.forEach { p =>
          val n = p.getFileName.toString
          if (n.startsWith("snapshot-") && n.endsWith(".json"))
            out += n.stripSuffix(".json")
        }
      } finally st.close()
      // newest first, NUMERIC on taken_at — lexicographic id order would
      // misorder timestamps of different digit widths. Reverse ordering
      // rather than negating the key: -Long.MinValue overflows back to
      // MinValue, which would have sorted a malformed id NEWEST
      out.result().sortBy(id =>
        id.stripPrefix("snapshot-").toLongOption.getOrElse(Long.MinValue))(
        Ordering[Long].reverse)
    }

    def show(dir: String, sid: String): OffsetSnapshot = load(path(dir, sid).toString)

    def delete(dir: String, sid: String): Boolean =
      Files.deleteIfExists(path(dir, sid))
  }
}
