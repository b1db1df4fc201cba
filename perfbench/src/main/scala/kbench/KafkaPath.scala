package kbench

import graft.catalog.{BackupManifest, Manifest}
import graft.pipelines.{Backup, BackupConfig, Restore, RestoreConfig}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Helpers shared by the backup and restore workloads. */
object KafkaPath {
  /** Per-(topic, partition) truth of a source: record count, first and last
    * offset.
    */
  case class PartitionTruth(records: Long, firstOffset: Long, lastOffset: Long)

  def truth(src: DataFrame): Map[(String, Int), PartitionTruth] =
    src.groupBy("topic", "partition")
      .agg(count(lit(1)), min("offset"), max("offset")).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> PartitionTruth(r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap

  /** The manifest describes exactly the source: same partitions, record
    * counts and offset ranges, with segments in order and not overlapping.
    */
  def manifestMatches(m: BackupManifest, want: Map[(String, Int), PartitionTruth]): Boolean = {
    val got = for (t <- m.topics; p <- t.partitions) yield {
      val segs = p.segments
      val ordered = segs.zip(segs.drop(1)).forall { case (a, b) => a.end_offset < b.start_offset }
      (t.name, p.partition_id) -> (PartitionTruth(segs.map(_.record_count).sum,
        segs.map(_.start_offset).min, segs.map(_.end_offset).max), ordered)
    }
    got.size == want.size && got.forall { case (k, (pt, ordered)) =>
      ordered && want.get(k).contains(pt)
    }
  }

  /** Order-independent record digest over (topic, partition, offset,
    * timestamp, key, value): the sum of 32-bit hashes, which cannot overflow
    * a long below 2^31 records.
    */
  val recordHash = xxhash64(col("topic"), col("partition"), col("offset"), col("timestamp"),
    col("key"), col("value")).bitwiseAND(lit(0xffffffffL))

  def rawBytes(m: BackupManifest): Long =
    m.topics.flatMap(_.partitions).flatMap(_.segments).map(_.uncompressed_size).sum
  def storedBytes(m: BackupManifest): Long =
    m.topics.flatMap(_.partitions).flatMap(_.segments).map(_.compressed_size).sum

  def deleteTree(path: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))

  def segmentFiles(root: String, m: BackupManifest, n: Int): Seq[Array[Byte]] =
    m.topics.flatMap(_.partitions).flatMap(_.segments).take(n).map(s =>
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$root/${s.key}")))
}

/** `backup`: the write path. Each operation is one `Backup.run` of the whole
  * staged source with the default configuration (header enrichment, zstd
  * level 3, 128 MB segments); its segments are deleted before the next.
  */
object BackupBench {
  val Shape = SourceShape(recordsPerPartition = 5000)

  def run(ctx: Ctx): Outcome = {
    import KafkaPath._
    val spark = ctx.spark
    val src = ctx.path("source")
    val setupS = ctx.setupRepeated { _ =>
      Gen.source(spark, ctx.seed, Shape).write.mode("overwrite")
        .option("compression", "none").parquet(src)
    }
    ctx.log("set up")
    val want = truth(spark.read.parquet(src))
    val root = ctx.path("backups")
    def backup(id: String): (Double, BackupManifest) = {
      val t0 = System.nanoTime()
      val m = Backup.run(spark, spark.read.parquet(src), BackupConfig(id, root))
      ((System.nanoTime() - t0) / 1e9, m)
    }
    // warm-up: JIT and first-use class loading are not what a backup costs;
    // a fresh JVM settles after a few seconds of backups
    val warmUntil = System.nanoTime() + 3000000000L
    var w = 0
    while (w < 2 || System.nanoTime() < warmUntil) {
      backup(s"warm$w")
      deleteTree(s"$root/warm$w")
      w += 1
    }

    val walls = mutable.ArrayBuffer.empty[Double]
    val mbS = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[(OpStats, BackupManifest)]
    var last: Option[(String, BackupManifest)] = None
    val rounds = Main.rounds(ctx, minRounds = if (ctx.trace) 4 else 8) { (i, trace) =>
      val id = s"b$i"
      last.foreach { case (lastId, _) => deleteTree(s"$root/$lastId") }
      if (trace) ctx.tracer.begin(id)
      val startMs = System.currentTimeMillis()
      val (wall, m) = backup(id)
      if (trace) traced += ((ctx.tracer.end(id, startMs, System.currentTimeMillis()), m))
      else { walls += wall; mbS += rawBytes(m) / 1e6 / wall }
      ctx.check(s"backup $id")(manifestMatches(m, want))
      last = Some((id, m))
    }

    val layers =
      if (!ctx.trace) Map.empty[String, Double]
      else {
        val (lastId, lastM) = last.get
        val sample = Gen.partitionRecords(ctx.seed, Shape, 0).take(20000).toSeq
        val codec = CodecReplay(sample, segmentFiles(root, lastM, 4))
        val ops = traced.map(_._1).toSeq
        val ms = traced.map(_._2).toSeq
        def med(f: BackupManifest => Double) = Stats.median(ms.map(f))
        codec ++ OpStats.layer("backup", ops) ++ Map(
          "backup.run_s" -> Stats.median(ops.map(_.wallS)),
          "backup.records" -> med(_.totalRecords.toDouble),
          "backup.segments" -> med(_.totalSegments.toDouble),
          "backup.raw_mb" -> med(rawBytes(_) / 1e6),
          "backup.stored_mb" -> med(storedBytes(_) / 1e6),
          "backup.stored_ratio" -> med(m => storedBytes(m).toDouble / rawBytes(m)),
          "backup.writer_task_skew" -> Stats.median(ops.map(_.lastStageSkew)))
      }
    last.foreach { case (id, _) => deleteTree(s"$root/$id") }
    Outcome(setupS, rounds, walls.toSeq, mbS.toSeq, layers,
      Map("generator_zstd_ratio" -> Gen.zstdRatio(ctx.seed, Shape, 3).toString,
        "source_records" -> Shape.records.toString))
  }
}

/** `restore`: the read path. Set-up writes one zstd backup rolled by event
  * time into 150 segments; each round then restores 25 narrow
  * point-in-time windows (1-5% of the span) and one full range, and every
  * restore is fully materialised and checked against the source.
  */
object RestoreBench {
  val Shape = SourceShape(recordsPerPartition = 2000)
  val SegmentsPerPartition = 15
  val NarrowPerRound = 25
  /** p90 needs ten samples beyond it */
  val MinNarrow = 100

  /** Expected (count, digest, key+value bytes) of any time window, from the
    * staged source: records sorted by timestamp with prefix sums.
    */
  final class Truth(ts: Array[Long], hash: Array[Long], bytes: Array[Long]) {
    private val cumH = hash.scanLeft(0L)(_ + _)
    private val cumB = bytes.scanLeft(0L)(_ + _)
    private def lower(x: Long): Int = {
      val i = java.util.Arrays.binarySearch(ts, x)
      if (i < 0) -i - 1 else { var j = i; while (j > 0 && ts(j - 1) == x) j -= 1; j }
    }
    private def upper(x: Long): Int = {
      val i = java.util.Arrays.binarySearch(ts, x)
      if (i < 0) -i - 1 else { var j = i; while (j < ts.length && ts(j) == x) j += 1; j }
    }
    def window(lo: Long, hi: Long): (Long, Long, Long) = {
      val a = lower(lo)
      val b = upper(hi)
      (b - a.toLong, cumH(b) - cumH(a), cumB(b) - cumB(a))
    }
    def min: Long = ts.head
    def max: Long = ts.last
  }

  def run(ctx: Ctx): Outcome = {
    import KafkaPath._
    val spark = ctx.spark
    val src = ctx.path("source")
    val root = ctx.path("backups")
    val id = "pitr"
    var manifest: BackupManifest = null
    val setupS = ctx.setupRepeated { _ =>
      deleteTree(s"$root/$id")
      Gen.source(spark, ctx.seed, Shape).write.mode("overwrite")
        .option("compression", "none").parquet(src)
      manifest = Backup.run(spark, spark.read.parquet(src), BackupConfig(id, root,
        maxSegmentIntervalMs = Some(Shape.spanMs / SegmentsPerPartition)))
    }
    ctx.log("set up")
    val rows = spark.read.parquet(src)
      .select(col("timestamp"), recordHash,
        coalesce(length(col("key")), lit(0)) + coalesce(length(col("value")), lit(0)))
      .orderBy("timestamp").collect()
    val truth = new Truth(rows.map(_.getLong(0)), rows.map(_.getLong(1)),
      rows.map(_.getInt(2).toLong))
    val totalSegments = manifest.totalSegments
    val rawMb = rawBytes(manifest) / 1e6
    val segsByKey = manifest.topics.flatMap(_.partitions).flatMap(_.segments)
      .map(s => s.key -> s).toMap

    val rnd = new java.util.SplittableRandom(ctx.seed * 31 + 7)
    val span = truth.max - truth.min
    def narrowWindow(): (Long, Long) = {
      val width = (span * (0.01 + 0.04 * rnd.nextDouble())).toLong
      val lo = truth.min + (rnd.nextDouble() * (span - width)).toLong
      (lo, lo + width)
    }

    /** One restore, materialised by an aggregate over every record field. */
    def restore(name: String, w: Option[(Long, Long)], trace: Boolean)
        : (Double, Double, Option[OpStats], Seq[String]) = {
      val cfg = RestoreConfig(root, id, w.map(_._1), w.map(_._2))
      if (trace) ctx.tracer.begin(name)
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val ds = Restore.records(spark, cfg)
      val planS = (System.nanoTime() - t0) / 1e9
      val (observed, obs) = Restore.withMetrics(ds.toDF())
      val got = observed.agg(count(lit(1)), coalesce(sum(recordHash), lit(0L))).collect()(0)
      val wall = (System.nanoTime() - t0) / 1e9
      val stats = if (trace) Some(ctx.tracer.end(name, startMs, System.currentTimeMillis()))
        else None
      val (n, h, b) = w.fold(truth.window(Long.MinValue, Long.MaxValue)) {
        case (lo, hi) => truth.window(lo, hi)
      }
      ctx.check(name) {
        val m = obs.get
        got.getLong(0) == n && got.getLong(1) == h &&
          m("records_restored") == n && m("bytes_restored") == b
      }
      (wall, planS, stats, Restore.prunedSegmentKeys(manifest, cfg))
    }

    ctx.log("truth computed")
    // warm-up, so the first measured windows do not pay for JIT
    (0 until 6).foreach(i => restore(s"warm$i", Some(narrowWindow()), trace = false))
    restore("warm-full", None, trace = false)

    val narrowWalls = mutable.ArrayBuffer.empty[Double]
    val fullMbS = mutable.ArrayBuffer.empty[Double]
    val catalogLoad, catalogPrune, selectedFrac, plan, kept, segsRead =
      mutable.ArrayBuffer.empty[Double]
    // (engine stats, Restore.records call, stored MB read) per traced full restore
    val fullOps = mutable.ArrayBuffer.empty[(OpStats, Double, Double)]
    val minRounds = if (ctx.trace) 4 else MinNarrow / NarrowPerRound
    val rounds = Main.rounds(ctx, minRounds) { (i, trace) =>
      (0 until NarrowPerRound).foreach { j =>
        val w = narrowWindow()
        if (trace) {
          // the catalog calls a restore makes, timed on their own
          val cfg = RestoreConfig(root, id, Some(w._1), Some(w._2))
          val t0 = System.nanoTime()
          val m = Manifest.load(root, id)
          val t1 = System.nanoTime()
          val keys = Restore.prunedSegmentKeys(m, cfg)
          val t2 = System.nanoTime()
          catalogLoad += (t1 - t0) / 1e9
          catalogPrune += (t2 - t1) / 1e9
          selectedFrac += keys.size.toDouble / totalSegments
        }
        val (wall, planS, _, keys) = restore(s"n$i.$j", Some(w), trace)
        if (trace) {
          val decoded = keys.map(segsByKey(_).record_count).sum
          plan += planS
          kept += truth.window(w._1, w._2)._1.toDouble / math.max(1L, decoded)
          segsRead += keys.size
        } else narrowWalls += wall
      }
      val (wall, planS, stats, keys) = restore(s"f$i", None, trace)
      stats match {
        case Some(s) =>
          val inputMb = keys.map(k => segsByKey(k).compressed_size +
            graft.codec.SegmentCodec.HeaderSize + graft.codec.SegmentCodec.FooterSize).sum / 1e6
          fullOps += ((s, planS, inputMb))
        case None => fullMbS += rawMb / wall
      }
    }

    val layers =
      if (!ctx.trace) Map.empty[String, Double]
      else {
        val sample = Gen.partitionRecords(ctx.seed, Shape, 0).take(20000).toSeq
        val ops = fullOps.map(_._1).toSeq
        CodecReplay(sample, segmentFiles(root, manifest, 20)) ++
          OpStats.layer("restore", ops) ++ Map(
          "catalog.manifest_load_s" -> Stats.median(catalogLoad.toSeq),
          "catalog.prune_s" -> Stats.median(catalogPrune.toSeq),
          "catalog.segments_selected_frac" -> Stats.median(selectedFrac.toSeq),
          "restore.plan_s" -> Stats.median(plan.toSeq),
          "restore.kept_frac" -> Stats.median(kept.toSeq),
          "restore.segments_read" -> Stats.median(segsRead.toSeq),
          "restore.full_plan_s" -> Stats.median(fullOps.map(_._2).toSeq),
          "restore.exec_s" -> Stats.median(fullOps.map(f => f._1.wallS - f._2).toSeq),
          "restore.input_mb" -> Stats.median(fullOps.map(_._3).toSeq))
      }
    deleteTree(s"$root/$id")
    Outcome(setupS, rounds, narrowWalls.toSeq, fullMbS.toSeq, layers,
      Map("narrow_windows" -> narrowWalls.size.toString,
        "segments" -> totalSegments.toString,
        "generator_zstd_ratio" -> Gen.zstdRatio(ctx.seed, Shape, 3).toString))
  }
}
