package graft.pipelines

import graft.catalog.{BackupManifest, Manifest, SegmentMetadata}
import graft.codec.{LegacySegment, SegmentCodec}
import graft.model.KRecord
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** Restore/PITR options (reference RestoreConfig, restore/engine.rs):
  * time window bounds are epoch millis, both ends INCLUSIVE
  * (restore/helpers.rs:55-73).
  */
case class RestoreConfig(
    backupRoot: String,
    backupId: String,
    windowStartMs: Option[Long] = None,
    windowEndMs: Option[Long] = None,
    includeTopics: Seq[String] = Nil,
    excludeTopics: Seq[String] = Nil,
    sourcePartitions: Option[Seq[Int]] = None,
    topicMapping: Map[String, String] = Map.empty,
    partitionMapping: Map[Int, Int] = Map.empty,
    completedSegmentKeys: Set[String] = Set.empty)

/** The restore "query" (reference lifecycle §3.2): manifest catalog → segment
  * pruning (F6) → checkpoint anti-join (F9) → manifest-keyed scan + KBAK
  * decode with the record time filter inside (S8/S10, F7) → topic/partition
  * remap (F13/F14).
  *
  * Scale shape: pruning happens on the CATALOG (one row per segment), so at
  * 100 TB a narrow PITR window touches only the overlapping ~128 MB objects.
  * The manifest already names every selected object and its size, so the scan
  * lists no path and runs no job before the action: the selected segments are
  * split into size-balanced tasks on the driver and each task opens its keys
  * directly. Decode is a streaming iterator (no per-task materialization), and
  * the ts window is re-applied per record inside it, because segment stats
  * are ranges, not predicates; a record outside the window is skipped before
  * its key, value and headers are allocated.
  */
object Restore {

  /** The restored record set as a canonical-record Dataset (the produce step
    * K3 is a separate sink; tests and validation consume this directly).
    */
  def records(spark: SparkSession, cfg: RestoreConfig): Dataset[KRecord] = {
    import spark.implicits._
    val segments = selectedSegments(Manifest.load(cfg.backupRoot, cfg.backupId), cfg)
    if (segments.isEmpty) spark.emptyDataset[KRecord]
    else {
      val tasks = scanTasks(spark, segments)
      val root = cfg.backupRoot
      val lo = cfg.windowStartMs.getOrElse(Long.MinValue)
      val hi = cfg.windowEndMs.getOrElse(Long.MaxValue)
      // the driver's Hadoop conf (spark.hadoop.* credentials, endpoints,
      // registered schemes) travels with the tasks, as in Backup
      val hadoopConf = new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
      spark.createDataset(spark.sparkContext.parallelize(tasks, tasks.size)
        .flatMap { task =>
          val fs = FileSystem.get(new java.net.URI(root), hadoopConf.value)
          task.iterator.flatMap { case (topic, partition, s) =>
            readSegment(fs, root, topic, partition, s, lo, hi)
          }
        })
    }
  }

  /** Read one segment object whole and decode it (magic-sniffed: KBAK binary
    * or legacy JSON, S10/S11). A missing or corrupt segment fails the restore
    * with its key in the message; no setting skips it, because a restore
    * must never drop data silently.
    */
  private def readSegment(fs: FileSystem, root: String, topic: String, partition: Int,
                          s: SegmentMetadata, lo: Long, hi: Long): Iterator[KRecord] =
    try {
      val expected = math.min(
        s.compressed_size + SegmentCodec.HeaderSize + SegmentCodec.FooterSize,
        Int.MaxValue - 8L).toInt
      val bytes = readObject(fs, new Path(s"$root/${s.key}"), expected)
      LegacySegment.decodeAny(bytes, s.key, topic, partition, lo, hi)
    } catch { case NonFatal(e) =>
      throw new java.io.IOException(s"restore of segment ${s.key} failed: ${e.getMessage}", e)
    }

  /** Read a whole object into an array presized from the manifest. When the
    * object has exactly `expected` bytes (every KBAK segment) no copy is made;
    * any other size is still read in full.
    */
  private def readObject(fs: FileSystem, path: Path, expected: Int): Array[Byte] = {
    val in = fs.open(path)
    try {
      val buf = new Array[Byte](expected)
      var n = 0
      var r = 0
      while (n < expected && r >= 0) { r = in.read(buf, n, expected - n); if (r > 0) n += r }
      val rest = if (r < 0) Array.emptyByteArray else in.readAllBytes()
      if (n == expected && rest.isEmpty) buf else java.util.Arrays.copyOf(buf, n) ++ rest
    } finally in.close()
  }

  /** The scan tasks for `segments`: contiguous runs in manifest order, so a
    * task reads each (topic, partition)'s segments in offset order and the
    * tasks concatenate to the manifest order. The runs are balanced by
    * `compressed_size + spark.sql.files.openCostInBytes`, and there are
    * `min(#segments, max(defaultParallelism, ⌈total / spark.sql.files.maxPartitionBytes⌉))`
    * of them, sized by the confs Spark's file sources split by.
    */
  private def scanTasks(spark: SparkSession, segments: Seq[(String, Int, SegmentMetadata)])
      : Seq[Seq[(String, Int, SegmentMetadata)]] = {
    def bytesConf(name: String) = JavaUtils.byteStringAsBytes(spark.conf.get(name))
    val openCost = bytesConf("spark.sql.files.openCostInBytes")
    val maxBytes = math.max(1L, bytesConf("spark.sql.files.maxPartitionBytes"))
    val weights = segments.map(_._3.compressed_size + openCost).toIndexedSeq
    val wanted = math.max(spark.sparkContext.defaultParallelism.toLong,
      (weights.sum + maxBytes - 1) / maxBytes)
    val k = math.min(segments.size.toLong, wanted).toInt
    splitContiguous(weights, k).map(r => segments.slice(r.start, r.end))
  }

  /** Split `weights` into exactly `k` (1 ≤ k ≤ weights.size) non-empty
    * contiguous runs whose largest sum is minimal: binary-search the smallest
    * capacity that greedy filling fits into k runs, then fill greedily at
    * that capacity, cutting early once each remaining item must open a run
    * of its own.
    */
  private[graft] def splitContiguous(weights: IndexedSeq[Long], k: Int): Seq[Range] = {
    val n = weights.size
    require(k >= 1 && k <= n, s"cannot split $n items into $k runs")
    def runsAt(cap: Long): Int = {
      var runs = 1
      var cur = 0L
      weights.foreach { w => if (cur + w > cap) { runs += 1; cur = w } else cur += w }
      runs
    }
    var lo = weights.max
    var hi = weights.sum
    while (lo < hi) {
      val mid = lo + (hi - lo) / 2
      if (runsAt(mid) <= k) hi = mid else lo = mid + 1
    }
    val starts = scala.collection.mutable.ArrayBuffer(0)
    var cur = weights(0)
    for (i <- 1 until n) {
      if (cur + weights(i) > lo || n - i == k - starts.size) { starts += i; cur = weights(i) }
      else cur += weights(i)
    }
    (starts :+ n).sliding(2).map(b => b(0) until b(1)).toSeq
  }

  /** Restore with topic rename / explicit partition remap applied (F13/F14). */
  def remapped(spark: SparkSession, cfg: RestoreConfig): DataFrame = {
    val base = records(spark, cfg).toDF()
    val t = if (cfg.topicMapping.isEmpty) base
      else {
        val m = typedLit(cfg.topicMapping)
        base.withColumn("topic", coalesce(element_at(m, col("topic")), col("topic")))
      }
    if (cfg.partitionMapping.isEmpty) t
    else {
      val m = typedLit(cfg.partitionMapping)
      t.withColumn("partition",
        coalesce(element_at(m, col("partition")), col("partition")))
    }
  }

  /** Catalog-side planning: topic include/exclude (F2) → partition filter (F5)
    * → time-window segment pruning (F6) → completed-segment anti set (F9).
    * Driver-side list ops — the manifest is small (1 row per 128 MB object).
    */
  def prunedSegmentKeys(manifest: BackupManifest, cfg: RestoreConfig): Seq[String] =
    selectedSegments(manifest, cfg).map(_._3.key)

  /** [[prunedSegmentKeys]]' segments with their (topic, partition). */
  private def selectedSegments(manifest: BackupManifest,
                               cfg: RestoreConfig): Seq[(String, Int, SegmentMetadata)] =
    for {
      t <- manifest.topics
      if graft.functions.KHash.topicMatches(t.name, cfg.includeTopics, cfg.excludeTopics)
      p <- t.partitions
      if cfg.sourcePartitions.forall(_.contains(p.partition_id))
      s <- p.segments
      if s.overlapsTimeWindow(cfg.windowStartMs, cfg.windowEndMs)
      if !cfg.completedSegmentKeys.contains(s.key)
    } yield (t.name, p.partition_id, s)

  /** A5 restore-report metrics via `Dataset.observe` (restore/engine.rs
    * 346-357): record/byte counters accumulate during the ACTION that
    * consumes the returned DataFrame — no extra pass. Read the observation
    * after the action completes.
    */
  def withMetrics(df: DataFrame): (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation("restore_metrics")
    val observed = df.observe(obs,
      count(lit(1)).as("records_restored"),
      coalesce(sum(coalesce(length(col("value")), lit(0)) +
        coalesce(length(col("key")), lit(0))), lit(0L)).as("bytes_restored"))
    (observed, obs)
  }

  /** validate-restore's report shape (reference manifest.rs:827-856
    * DryRunReport): would the restore succeed, and what would it touch.
    */
  case class DryRunValidation(
      backup_id: String, valid: Boolean, errors: Seq[String], warnings: Seq[String],
      segments_to_process: Long, records_to_restore: Long, bytes_to_restore: Long,
      time_range: Option[(Long, Long)],
      topics: Seq[(String, String, Long, Long)]) { // (source, target, segments, records)
    def toJson: String = {
      import graft.util.Json.{escape => js}
      val ts = topics.map { case (s, t, ns, nr) =>
        s"""{"source_topic":${js(s)},"target_topic":${js(t)},"segments":$ns,"records":$nr}"""
      }.mkString("[", ",", "]")
      s"""{"backup_id":${js(backup_id)},"valid":$valid,""" +
        s""""errors":${errors.map(js).mkString("[", ",", "]")},""" +
        s""""warnings":${warnings.map(js).mkString("[", ",", "]")},""" +
        s""""segments_to_process":$segments_to_process,""" +
        s""""records_to_restore":$records_to_restore,""" +
        s""""bytes_to_restore":$bytes_to_restore,""" +
        s""""time_range":${time_range.map(r => s"[${r._1},${r._2}]").getOrElse("null")},""" +
        s""""topics":$ts}"""
    }
  }

  /** `validate-restore` (cli/commands/validate_restore.rs:1-46 +
    * engine dry_run): a forced dry-run over the catalog — no data read, no
    * produce — reporting whether the configured restore would succeed and
    * exactly what it would touch. Errors: missing/corrupt manifest, inverted
    * time window, filters matching nothing. Warnings: empty partitions,
    * remaps to already-existing source topic names.
    */
  def validateRestore(spark: SparkSession, cfg: RestoreConfig): DryRunValidation = {
    val errors = Seq.newBuilder[String]
    val warnings = Seq.newBuilder[String]
    val manifestOpt =
      try Some(Manifest.load(cfg.backupRoot, cfg.backupId))
      catch { case e: Exception =>
        errors += s"manifest unreadable at ${Manifest.path(cfg.backupRoot, cfg.backupId)}: ${e.getMessage}"
        None
      }
    for (s <- cfg.windowStartMs; e <- cfg.windowEndMs; if s > e)
      errors += s"time window inverted: start $s > end $e"
    manifestOpt match {
      case None =>
        DryRunValidation(cfg.backupId, valid = false, errors.result(),
          warnings.result(), 0, 0, 0, None, Nil)
      case Some(m) =>
        val selected = selectedSegments(m, cfg)
        if (m.totalSegments == 0) warnings += "backup contains no segments"
        else if (selected.isEmpty)
          errors += "no segments match the configured filters/window"
        val targets = m.topics.map(t =>
          t.name -> cfg.topicMapping.getOrElse(t.name, t.name)).toMap
        val collisions = targets.filter { case (s, t) =>
          t != s && m.topics.exists(_.name == t)
        }
        collisions.foreach { case (s, t) =>
          warnings += s"topic remap $s -> $t collides with a backed-up topic name"
        }
        for {
          t <- m.topics
          p <- t.partitions if p.segments.isEmpty
        } warnings += s"${t.name}/partition=${p.partition_id} has no segments"
        val segs = selected.map(_._3)
        DryRunValidation(
          cfg.backupId,
          valid = errors.result().isEmpty,
          errors.result(), warnings.result(),
          segments_to_process = segs.size.toLong,
          records_to_restore = segs.map(_.record_count).sum,
          bytes_to_restore = segs.map(_.uncompressed_size).sum,
          time_range =
            if (segs.isEmpty) None
            else Some((segs.map(_.start_timestamp).min, segs.map(_.end_timestamp).max)),
          topics = selected.groupBy(_._1).toSeq.sortBy(_._1).map { case (t, rows) =>
            (t, targets(t), rows.size.toLong, rows.map(_._3.record_count).sum)
          })
    }
  }

  /** Dry-run rollup (A3, restore/engine.rs:443-518): per (topic, partition)
    * with topic and global subtotals via `rollup` — counts of segments,
    * records, bytes, offset and time ranges — computed purely on the catalog.
    */
  def dryRun(spark: SparkSession, cfg: RestoreConfig): DataFrame = {
    val manifest = Manifest.load(cfg.backupRoot, cfg.backupId)
    val keys = prunedSegmentKeys(manifest, cfg).toSet
    Manifest.toDF(spark, manifest)
      .filter(col("segment_key").isInCollection(keys))
      .rollup("topic", "partition")
      .agg(count(lit(1)).as("n_segments"),
        sum("record_count").as("n_records"),
        sum("uncompressed_size").as("n_bytes"),
        min("start_offset").as("min_offset"),
        max("end_offset").as("max_offset"),
        min("start_timestamp").as("min_ts"),
        max("end_timestamp").as("max_ts"))
  }
}
