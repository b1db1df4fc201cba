package graft.remap

import graft.catalog.BackupManifest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.{JsonMethods, Serialization}


/** Persistence for [[OffsetMapping]] as `{backup_id}/offset-mapping.json`,
  * plus the reference's fallback chain for the `offset-reset` commands
  * (cli/commands/offset_reset.rs:168-214 `load_offset_mapping`):
  *
  *  1. `offset-mapping.json` saved by a three-phase restore (exact targets,
  *     detailed anchor pairs);
  *  2. derived from `manifest.json` — source ranges and timestamps only, no
  *     target offsets (lookups fall back to interpolation only when a later
  *     produce fills targets; plan rows come out unresolved and the caller
  *     warns).
  *
  * JSON shape mirrors the case classes verbatim (snake_case fields), the
  * same convention as the manifest — a reference-tool user can read it.
  *
  * Scale note: what is persisted is bounded — one range entry per
  * (topic, partition) plus detailed anchor pairs CAPPED per partition
  * ([[fromPairs]]): the produce-side pairs DataFrame never lands on the
  * driver unbounded.
  */
object OffsetMappingStore {
  implicit private val formats: Formats = DefaultFormats

  val FileName = "offset-mapping.json"

  /** Detailed anchors kept per (topic, partition) in the persisted mapping.
    * Enough for nearest-≤ + delta to resolve exactly within any contiguous
    * produced run this long; beyond that, delta extrapolation from the
    * nearest kept anchor still resolves exactly for contiguous produces.
    */
  val MaxPairsPerPartition = 1000

  def toJson(m: OffsetMapping): String = Serialization.writePretty(m)
  def fromJson(s: String): OffsetMapping = JsonMethods.parse(s).extract[OffsetMapping]

  private def fs(root: String) =
    new org.apache.hadoop.fs.Path(root).getFileSystem(graft.util.ActiveHadoopConf())

  def path(root: String, backupId: String) = s"$root/$backupId/$FileName"

  /** Overwrite-save (derived data: last writer wins is correct — the mapping
    * is rebuilt whole by each three-phase run, never merged).
    */
  def save(root: String, backupId: String, m: OffsetMapping): String = {
    val p = new org.apache.hadoop.fs.Path(path(root, backupId))
    graft.util.Sidecar.replace(graft.util.ActiveHadoopConf(), p, toJson(m))
    p.toString
  }

  def load(root: String, backupId: String): Option[OffsetMapping] = {
    val f = fs(root)
    val p = new org.apache.hadoop.fs.Path(path(root, backupId))
    if (!f.exists(p)) None
    else Some(fromJson(graft.util.Sidecar.readText(f, p)))
  }

  /** Build a bounded driver-side mapping from the distributed produce-pairs
    * DataFrame (columns topic, partition, source_offset, target_offset,
    * timestamp): exact per-partition range entries from one small
    * aggregation, plus thinned anchor pairs.
    *
    * Thinning preserves EXACTNESS: `Produce.producePartition` emits an
    * anchor at every source-offset GAP (compacted topics, transactional
    * markers) precisely so nearest-≤ + delta reconstruction stays exact —
    * so every RUN-START anchor (where `target - source` changes vs the
    * previous anchor) is kept unconditionally, and only the redundant
    * within-run anchors are strided down to ~[[MaxPairsPerPartition]].
    * Within a contiguous run every anchor carries the same delta, so
    * dropping interior anchors never changes a lookup result. Run starts
    * are found with a lag window over the SAMPLED pairs (1/pairEvery of
    * records; WindowExec spills to disk if a partition's sample is large).
    */
  def fromPairs(pairs: DataFrame,
                maxPerPartition: Int = MaxPairsPerPartition): OffsetMapping = {
    val ranges = pairs.groupBy("topic", "partition").agg(
      min("source_offset").as("sf"), max("source_offset").as("sl"),
      min_by(col("target_offset"), col("source_offset")).as("tf"),
      max_by(col("target_offset"), col("source_offset")).as("tl"),
      min_by(col("timestamp"), col("source_offset")).as("ft"),
      max_by(col("timestamp"), col("source_offset")).as("lt"),
      count(lit(1)).as("n")).collect()
    val entries = ranges.map { r =>
      s"${r.getString(0)}/${r.getInt(1)}" -> OffsetRangeEntry(
        r.getLong(2), r.getLong(3), Some(r.getLong(4)), Some(r.getLong(5)),
        r.getLong(6), r.getLong(7))
    }.toMap
    // per-partition counts come from the ALREADY-collected ranges rows —
    // no second corpus-scale aggregation over the pairs
    val spark = pairs.sparkSession
    import spark.implicits._
    val counted = ranges.map(r =>
      (r.getString(0), r.getInt(1), r.getLong(8))).toSeq
      .toDF("topic", "partition", "np")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("topic", "partition").orderBy("source_offset")
    val stride = pairs
      .withColumn("__delta", col("target_offset") - col("source_offset"))
      .withColumn("__run_start",
        !(col("__delta") <=> lag("__delta", 1).over(w)))
      .join(broadcast(counted), Seq("topic", "partition"))
      .where(col("__run_start") ||
        pmod(col("source_offset"), greatest(lit(1L),
          ceil(col("np") / maxPerPartition)).cast("bigint")) === 0)
    val detailed = stride.select("topic", "partition", "source_offset",
        "target_offset", "timestamp")
      .collect()
      .groupBy(r => s"${r.getString(0)}/${r.getInt(1)}")
      .map { case (k, rows) =>
        k -> rows.sortBy(_.getLong(2))
          .map(r => OffsetPair(r.getLong(2), r.getLong(3), r.getLong(4))).toVector
      }
    OffsetMapping(entries, detailed)
  }

  /** Last-resort mapping from the manifest: source offset/timestamp ranges
    * per partition, target offsets unknown (offset_reset.rs:190-214).
    */
  def fromManifest(m: BackupManifest): OffsetMapping =
    OffsetMapping(entries = (for {
      t <- m.topics
      p <- t.partitions
      if p.segments.nonEmpty
    } yield {
      val sf = p.segments.map(_.start_offset).min
      val sl = p.segments.map(_.end_offset).max
      val ft = p.segments.map(_.start_timestamp).min
      val lt = p.segments.map(_.end_timestamp).max
      s"${t.name}/${p.partition_id}" -> OffsetRangeEntry(sf, sl, None, None, ft, lt)
    }).toMap)
}
