package graft.catalog

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.{JsonMethods, Serialization}
import scala.jdk.CollectionConverters._

/** One resume point of the state table. */
private[catalog] case class Mark(backup_id: String, topic: String, partition: Int,
                                 last_offset: Long, checkpoint_ts: Long)

/** S12's batch leg (reference offset_store/sqlite.rs:126-154): a small
  * state table of `(backup_id, topic, partition, last_offset,
  * checkpoint_ts)` consulted by incremental batch backups to resume from
  * `last_offset + 1` without a streaming checkpoint.
  *
  * The table is O(backups × topics × partitions) rows — metadata-sized at any
  * data scale — so its marks are committed as JSON entries of the versioned
  * log `<stateRoot>/_graft_offset_state/_graft_log/<v>` ([[graft.util.VersionedLog]]),
  * each the full table, up to [[graft.util.VersionedLog.KeptVersions]] of
  * them on disk. A state root whose log holds no entry reads the parquet
  * table earlier versions wrote there as version 0; the first commit
  * leaves those files in place (Spark's parquet reader skips the
  * `_`-prefixed log directory).
  */
object OffsetStateTable {
  private implicit val formats: Formats = DefaultFormats

  val schema: StructType = StructType(Seq(
    StructField("backup_id", StringType, nullable = false),
    StructField("topic", StringType, nullable = false),
    StructField("partition", IntegerType, nullable = false),
    StructField("last_offset", LongType, nullable = false),
    StructField("checkpoint_ts", LongType, nullable = false)))

  def path(stateRoot: String): String = s"$stateRoot/_graft_offset_state"

  private def df(spark: SparkSession, marks: Seq[Mark]): DataFrame =
    spark.createDataFrame(marks.map(m => Row(m.backup_id, m.topic, m.partition,
      m.last_offset, m.checkpoint_ts)).asJava, schema)

  /** The marks of the newest log entry's body; with no entry, the parquet
    * table earlier versions wrote (version 0), or none.
    */
  private def marks(spark: SparkSession, stateRoot: String, entry: Option[String]): Seq[Mark] =
    entry match {
      case Some(body) => JsonMethods.parse(body).extract[List[Mark]]
      case None =>
        val p = new org.apache.hadoop.fs.Path(path(stateRoot))
        if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)) Nil
        else spark.read.schema(schema).parquet(p.toString).collect().toSeq.map(r =>
          Mark(r.getString(0), r.getString(1), r.getInt(2), r.getLong(3), r.getLong(4)))
    }

  private def marks(spark: SparkSession, stateRoot: String): Seq[Mark] = marks(spark, stateRoot,
    graft.util.VersionedLog.latest(spark.sparkContext.hadoopConfiguration, path(stateRoot))
      .map(_._2))

  /** Current state as a DataFrame; empty (with schema) when absent. */
  def load(spark: SparkSession, stateRoot: String): DataFrame =
    df(spark, marks(spark, stateRoot))

  /** get_all_offsets for one backup id (sqlite.rs:172-192) as a driver map —
    * bounded by partition count.
    */
  def lastOffsets(spark: SparkSession, stateRoot: String,
                  backupId: String): Map[(String, Int), Long] =
    marks(spark, stateRoot).filter(_.backup_id == backupId)
      .map(m => (m.topic, m.partition) -> m.last_offset).toMap

  /** Merge the manifest's per-partition high-water marks into the state
    * table: `last_offset` only ever advances (a re-run over old data must not
    * move the resume point backwards).
    */
  def update(spark: SparkSession, stateRoot: String, m: BackupManifest,
             nowMs: Long = System.currentTimeMillis()): Unit =
    advance(spark, stateRoot, for {
      t <- m.topics
      p <- t.partitions
      last <- p.lastOffset
    } yield Mark(m.backup_id, t.name, p.partition_id, last, nowMs))

  /** The reference's offsets.db as this state table's schema (S12 interop,
    * offset_store/sqlite.rs:72-79 — identical columns by construction). Reads
    * the SQLite file directly via [[graft.sources.SqliteFile]]; driver-side
    * materialization is fine, the table is O(backups × partitions).
    */
  def fromSqlite(spark: SparkSession, dbPath: String): DataFrame =
    df(spark, sqliteMarks(spark, dbPath))

  private def sqliteMarks(spark: SparkSession, dbPath: String): Seq[Mark] = {
    val db = graft.sources.SqliteFile.open(dbPath, spark.sparkContext.hadoopConfiguration)
    // SQLite columns are dynamically typed: a NULL or TEXT-affinity value in a
    // hand-edited or drifted db must fail with the row/column named, not a
    // bare cast exception mid-import
    def s(r: graft.sources.SqliteFile.Row, i: Int, name: String): String = r.values(i) match {
      case v: String => v
      case other => throw new IllegalArgumentException(
        s"offsets rowid=${r.rowid}: column '$name' is not TEXT (got $other)")
    }
    def l(r: graft.sources.SqliteFile.Row, i: Int, name: String): Long = r.values(i) match {
      case v: java.lang.Long => v.longValue()
      case other => throw new IllegalArgumentException(
        s"offsets rowid=${r.rowid}: column '$name' is not INTEGER (got $other)")
    }
    db.table("offsets").map(r => Mark(s(r, 0, "backup_id"), s(r, 1, "topic"),
      l(r, 2, "partition").toInt, l(r, 3, "last_offset"), l(r, 4, "checkpoint_ts")))
  }

  /** Migrate a reference offsets.db into the state table. Existing
    * marks win when higher — the advance-only rule of [[update]] — so the
    * import is idempotent and can never move a resume point backwards.
    * Returns the number of marks read from the db.
    */
  def importSqlite(spark: SparkSession, dbPath: String, stateRoot: String): Long = {
    val fresh = sqliteMarks(spark, dbPath)
    advance(spark, stateRoot, fresh)
    fresh.size
  }

  /** Write the state table back out as a reference-shaped `offsets.db` —
    * the inverse of [[importSqlite]], closing the one-way-migration
    * asymmetry: a user running both tools side by side can round-trip marks
    * in either direction (reference sync: sqlite.rs:231). `backup_jobs` is
    * synthesized from the distinct backup ids (status 'completed',
    * timestamps from each backup's newest checkpoint) — the state
    * table deliberately doesn't track job lifecycle. Returns the number of
    * marks written.
    */
  def exportSqlite(spark: SparkSession, stateRoot: String, dbPath: String): Int = {
    val offsets = marks(spark, stateRoot).map(m => graft.sources.SqliteWriter.OffsetRow(
      m.backup_id, m.topic, m.partition, m.last_offset, m.checkpoint_ts))
    val jobs = offsets.groupBy(_.backupId).toSeq.map { case (id, rs) =>
      val ts = rs.map(_.checkpointTs).max
      graft.sources.SqliteWriter.JobRow(id, None, "completed", ts, ts, Some(ts))
    }
    graft.sources.SqliteWriter.write(dbPath,
      spark.sparkContext.hadoopConfiguration, offsets, jobs)
    offsets.size
  }

  /** Commit `fresh` merged into the committed marks as the next log
    * version: per (backup_id, topic, partition) the highest `last_offset`
    * wins, with its `checkpoint_ts`. A lost compare-and-swap re-reads and
    * merges again (the merge is idempotent), bumping
    * `offset_state_cas_retry_total`.
    */
  private def advance(spark: SparkSession, stateRoot: String, fresh: Seq[Mark]): Unit =
    if (fresh.nonEmpty)
      graft.util.VersionedLog.advance(spark.sparkContext.hadoopConfiguration, path(stateRoot),
        "offset_state_cas_retry_total") { entry =>
        val merged = (marks(spark, stateRoot, entry) ++ fresh)
          .groupBy(m => (m.backup_id, m.topic, m.partition)).values
          .map(_.maxBy(m => (m.last_offset, m.checkpoint_ts))).toList
          .sortBy(m => (m.backup_id, m.topic, m.partition))
        ((), Serialization.write(merged))
      }
}
