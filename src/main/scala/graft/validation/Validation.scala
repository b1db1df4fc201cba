package graft.validation

import graft.catalog.Manifest
import graft.pipelines.{KbakSelection, KbakSource, Restore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** Validation checks (reference validation module) as DataFrame joins over the
  * manifest catalog and a cluster-offsets table
  * (topic, partition, earliest_offset, latest_offset) — supplied by an
  * AdminClient in production, by a fixture DF in tests.
  *
  * Outcomes follow validation/mod.rs:121-192: per-check Passed/Warning/Failed
  * rows; overall = any-failed → Failed, else any-warning → Warning, else
  * Passed.
  */
object Validation {

  /** J6 message-count check (validation/message_count.rs:34-133): manifest
    * per-partition record sum vs cluster `latest - earliest`; |diff| >
    * threshold ⇒ Failed row.
    */
  def messageCount(segments: DataFrame, clusterOffsets: DataFrame,
                   threshold: Long = 0): DataFrame = {
    val backed = segments.groupBy("topic", "partition")
      .agg(sum("record_count").as("backed_up"))
    // full outer: a partition present on only one side IS the discrepancy —
    // an inner join would silently pass wholly-missing partitions
    backed.join(clusterOffsets, Seq("topic", "partition"), "full_outer")
      .withColumn("cluster_count", col("latest_offset") - col("earliest_offset"))
      .withColumn("diff", col("cluster_count") - col("backed_up"))
      .withColumn("outcome",
        when(col("backed_up").isNull || col("cluster_count").isNull, "Failed")
          .when(abs(col("diff")) <= threshold, "Passed").otherwise("Failed"))
      .select("topic", "partition", "backed_up", "cluster_count", "diff", "outcome")
  }

  /** J7 offset-watermark check (validation/offset_range.rs:25-130): manifest
    * [min(start), max(end)] inside cluster bounds; rule `latest >= end + 1`
    * (the backup may legitimately stop before the live HWM, never after).
    */
  def offsetRange(segments: DataFrame, clusterOffsets: DataFrame): DataFrame = {
    val ranges = segments.groupBy("topic", "partition")
      .agg(min("start_offset").as("backup_start"), max("end_offset").as("backup_end"))
    ranges.join(clusterOffsets, Seq("topic", "partition"), "full_outer")
      .withColumn("outcome",
        when(col("backup_start").isNull || col("latest_offset").isNull, "Failed")
          .when(col("latest_offset") >= col("backup_end") + 1 &&
            col("backup_start") >= col("earliest_offset"), "Passed")
          .when(col("latest_offset") >= col("backup_end") + 1, "Warning")
          .otherwise("Failed"))
      .select("topic", "partition", "backup_start", "backup_end",
        "earliest_offset", "latest_offset", "outcome")
  }

  /** J8 consumer-group check: restored group offsets must land inside the
    * target topic's restored offset ranges.
    */
  def consumerGroups(groupOffsets: DataFrame, restoredRanges: DataFrame): DataFrame =
    groupOffsets.join(restoredRanges, Seq("topic", "partition"), "left")
      .withColumn("outcome",
        when(col("target_first_offset").isNull, "Warning")
          .when(col("committed_offset").between(
            col("target_first_offset"), col("target_last_offset") + 1), "Passed")
          .otherwise("Failed"))
      .select("group_id", "topic", "partition", "committed_offset", "outcome")

  /** A10 summary rollup + overall verdict. */
  def summary(checks: DataFrame*): (DataFrame, String) = {
    val union = checks.map(_.select(col("outcome"))).reduce(_ unionByName _)
    val counts = union.groupBy("outcome").agg(count(lit(1)).as("n"))
    val byOutcome = counts.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val overall =
      if (byOutcome.getOrElse("Failed", 0L) > 0) "Failed"
      else if (byOutcome.getOrElse("Warning", 0L) > 0) "Warning"
      else "Passed"
    (counts, overall)
  }

  /** A9 evidence digest (validation/message_count.rs:101-104,
    * evidence/report.rs:151-156): SHA-256 over the canonical, deterministically
    * ordered offset summary.
    */
  def evidenceDigest(segments: DataFrame): String = {
    // collect_list does NOT preserve upstream sort order across the
    // aggregation shuffle — sort the collected array itself so the digest is
    // deterministic however partials arrive
    segments
      .select(concat_ws("|", col("topic"), col("partition"), col("start_offset"),
        col("end_offset"), col("record_count")).as("line"))
      .agg(concat_ws("\n", sort_array(collect_list("line"))).as("doc"))
      .select(sha2(col("doc"), 256))
      .head().getString(0)
  }

  /** `validate --deep` (cli/commands/validate.rs:48-233): re-read and decode
    * every segment the manifest names, verify its CRC and its catalog
    * uncompressed size (the read throws on a mismatch), and check its record
    * count and offset range against the manifest entry. The reads go
    * through [[Restore.scan]] (manifest keys, size-balanced tasks) and the
    * restore read's own decoder ([[graft.pipelines.KbakReader]]), so KBAK
    * and legacy JSON segments validate exactly as they restore, in one job.
    * A missing object gives NULL `actual_*` and "object missing"; a read or
    * decode failure gives -1 and its message. Files the manifest does not
    * name are never opened.
    */
  def deep(spark: SparkSession, backupRoot: String, backupId: String): DataFrame = {
    import spark.implicits._
    val segments = KbakSelection().segments(Manifest.load(backupRoot, backupId))
    val offsetAt = KbakSource.schema.fieldIndex("offset")
    Restore.scan(spark, backupRoot, segments) { (topic, partition, s, reader) =>
      val (actualCount, actualStart, actualEnd, error) =
        try {
          var n = 0L
          var lo = Long.MaxValue
          var hi = Long.MinValue
          while (reader.next()) {
            val offset = reader.get().getLong(offsetAt)
            n += 1; lo = math.min(lo, offset); hi = math.max(hi, offset)
          }
          (Some(n), Some(if (n == 0) -1L else lo), Some(if (n == 0) -1L else hi), null: String)
        } catch {
          // Throwable: decoder JNI paths can surface Errors; anything
          // non-fatal must become a Failed row, not a task failure. The
          // reader wraps the failure in an error naming the segment, which
          // the row names already.
          case e: Throwable if NonFatal(e) => Option(e.getCause).getOrElse(e) match {
            case _: java.io.FileNotFoundException => (None, None, None, "object missing")
            case cause => (Some(-1L), Some(-1L), Some(-1L), cause.getMessage)
          }
        }
      Iterator.single((s.key, topic, partition, s.record_count, actualCount, s.start_offset,
        actualStart, s.end_offset, actualEnd, error))
    }.toDF("segment_key", "topic", "partition", "record_count", "actual_count",
        "start_offset", "actual_start", "end_offset", "actual_end", "decode_error")
      .withColumn("outcome",
        when(col("decode_error").isNotNull, "Failed")
          .when(col("actual_count") === col("record_count") &&
            col("actual_start") === col("start_offset") &&
            col("actual_end") === col("end_offset"), "Passed")
          .otherwise("Failed"))
  }
}
