package graft

import graft.catalog.Manifest
import graft.codec.CompressionCodec
import graft.model.KRecord
import graft.pipelines.{Backup, BackupConfig}
import graft.remap.OffsetMappingDF
import graft.streaming.StreamingBackup
import graft.validation.Validation
import org.apache.spark.sql.functions._
import java.nio.file.Files

class ValidationStreamingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val tmp = Files.createTempDirectory("graft-val").toString
  private lazy val manifest = Backup.run(spark, KRecord.fromEvents(spark, sf0001),
    BackupConfig("v1", tmp, CompressionCodec.Lz4, maxSegmentBytes = 16 * 1024))

  private def segments = Manifest.toDF(spark, manifest)

  test("message-count check passes on consistent cluster offsets, fails on gaps (J6)") {
    // consistent cluster: latest - earliest == records backed up (the events
    // fixture's offsets are globally unique, so per-partition spans have gaps
    // — construct latest from the record count, not max(end_offset))
    val cluster = segments.groupBy("topic", "partition")
      .agg(min("start_offset").as("earliest_offset"),
        (min("start_offset") + sum("record_count")).as("latest_offset"))
    val ok = Validation.messageCount(segments, cluster)
    assert(ok.filter(col("outcome") === "Failed").count() == 0)
    // inflate latest by 5 → every partition under-backed by 5
    val gappy = cluster.withColumn("latest_offset", col("latest_offset") + 5)
    val bad = Validation.messageCount(segments, gappy)
    assert(bad.filter(col("outcome") === "Failed").count() == bad.count())
    // threshold absorbs the gap
    val tolerant = Validation.messageCount(segments, gappy, threshold = 5)
    assert(tolerant.filter(col("outcome") === "Failed").count() == 0)
  }

  test("offset-range watermark rule latest >= end+1 (J7)") {
    val cluster = segments.groupBy("topic", "partition")
      .agg(min("start_offset").as("earliest_offset"),
        (max("end_offset") + 1).as("latest_offset"))
    val ok = Validation.offsetRange(segments, cluster)
    assert(ok.filter(col("outcome") === "Failed").count() == 0)
    val truncated = cluster.withColumn("latest_offset", col("latest_offset") - 1)
    val bad = Validation.offsetRange(segments, truncated)
    assert(bad.filter(col("outcome") === "Failed").count() == bad.count())
  }

  test("consumer-group offsets inside restored ranges (J8)") {
    val ranges = Seq(("click", 0, 100L, 200L)).toDF(
      "topic", "partition", "target_first_offset", "target_last_offset")
    val groups = Seq(
      ("g1", "click", 0, 150L),  // inside
      ("g1", "click", 0, 201L),  // == last+1 (fully consumed) → pass
      ("g2", "click", 0, 999L),  // beyond
      ("g3", "view", 1, 5L))     // unrestored topic → warning
      .toDF("group_id", "topic", "partition", "committed_offset")
    val res = Validation.consumerGroups(groups, ranges).collect()
      .map(r => (r.getString(0), r.getLong(3), r.getString(4)))
    assert(res.contains(("g1", 150L, "Passed")))
    assert(res.contains(("g1", 201L, "Passed")))
    assert(res.contains(("g2", 999L, "Failed")))
    assert(res.contains(("g3", 5L, "Warning")))
  }

  test("summary verdict: any Failed wins, else Warning, else Passed (A10)") {
    val p = Seq("Passed", "Passed").toDF("outcome")
    val w = Seq("Warning").toDF("outcome")
    val f = Seq("Failed").toDF("outcome")
    assert(Validation.summary(p)._2 == "Passed")
    assert(Validation.summary(p, w)._2 == "Warning")
    assert(Validation.summary(p, w, f)._2 == "Failed")
  }

  test("evidence digest is deterministic and order-insensitive (A9)") {
    val d1 = Validation.evidenceDigest(segments)
    val d2 = Validation.evidenceDigest(segments.orderBy(rand(42)))
    assert(d1 == d2 && d1.length == 64)
  }

  test("validate --deep: all segments decode and match the manifest") {
    manifest
    val res = Validation.deep(spark, tmp, "v1")
    assert(res.count() == manifest.totalSegments)
    assert(res.filter(col("outcome") =!= "Passed").count() == 0)
  }

  test("validate --deep is one job over manifest keys, no listing or join") {
    val root = Files.createTempDirectory("graft-deep-scan").toString
    val m = Backup.run(spark, KRecord.fromEvents(spark, sf0001),
      BackupConfig("dr1", root, CompressionCodec.None, maxSegmentBytes = 2048))
    // a valid segment under a name the manifest does not hold, dropped into a
    // partition directory: deep validation must never open or report it
    val key = m.topics.head.partitions.head.segments.head.key
    Files.copy(java.nio.file.Paths.get(s"$root/$key"), java.nio.file.Paths.get(
      s"$root/${key.substring(0, key.lastIndexOf('/'))}/segment-stray.bin"))

    val ((res, rows), jobs) = jobsRunBy {
      val df = Validation.deep(spark, root, "dr1")
      (df, df.collect())
    }
    assert(jobs.size == 1, s"jobs: $jobs")
    val plan = res.queryExecution.optimizedPlan
    assert(plan.collect { case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
      .isEmpty, plan.toString)
    // no file-source relation: no binaryFile (or any other) listing scan
    assert(plan.collect { case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
      r }.isEmpty, plan.toString)
    assert(rows.map(_.getAs[String]("segment_key")).toSet ==
      m.topics.flatMap(_.partitions).flatMap(_.segments).map(_.key).toSet)
    assert(rows.forall(_.getAs[String]("outcome") == "Passed"))
  }

  test("validate --deep flags a corrupted segment") {
    manifest
    // corrupt one byte of one segment body — segment reads on a local root
    // are plain file reads that never consult a Hadoop .crc sidecar, so the
    // KBAK CRC is the check that must catch it
    val seg = manifest.topics.head.partitions.head.segments.head
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(tmp), spark.sparkContext.hadoopConfiguration)
    val hp = new org.apache.hadoop.fs.Path(s"$tmp/${seg.key}")
    val bytes = {
      val in = fs.open(hp)
      try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in) finally in.close()
    }
    def write(b: Array[Byte]): Unit = {
      val os = fs.create(hp, true)
      try os.write(b) finally os.close()
    }
    bytes(40) = (bytes(40) ^ 0xff).toByte
    write(bytes)
    try {
      val res = Validation.deep(spark, tmp, "v1")
      val failed = res.filter(col("outcome") === "Failed").collect()
      assert(failed.length == 1)
      assert(failed(0).getAs[String]("segment_key") == seg.key)
      assert(failed(0).getAs[String]("decode_error") != null)
    } finally {
      bytes(40) = (bytes(40) ^ 0xff).toByte // restore
      write(bytes)
    }
  }

  test("bulk as-of lookup matches driver-side semantics (OffsetMappingDF)") {
    val mapping = Seq(
      ("t", 0, 0L, 5000L, 1000L), ("t", 0, 10L, 5010L, 2000L),
      ("t", 1, 0L, 9000L, 1000L))
      .toDF("topic", "partition", "source_offset", "target_offset", "timestamp")
    val probes = Seq(("t", 0, 5L), ("t", 0, 10L), ("t", 0, 25L), ("t", 1, 3L))
      .toDF("topic", "partition", "source_offset")
    val out = OffsetMappingDF.lookupTargets(mapping, probes)
      .collect().map(r => (r.getInt(1), r.getLong(2)) -> r.getLong(3)).toMap
    assert(out((0, 5L)) == 5005L)
    assert(out((0, 10L)) == 5010L)
    assert(out((0, 25L)) == 5025L)
    assert(out((1, 3L)) == 9003L)
    val ranges = OffsetMappingDF.rangeEntries(mapping)
      .filter(col("partition") === 0).head()
    assert(ranges.getAs[Long]("source_first_offset") == 0L)
    assert(ranges.getAs[Long]("target_last_offset") == 5010L)
  }

  test("streaming AvailableNow backup is incremental across runs (St2/St5)") {
    val root = Files.createTempDirectory("graft-stream").toString
    val ckpt = s"$root/ckpt"
    val cfg = BackupConfig("s1", s"$root/backup", CompressionCodec.Zstd,
      maxSegmentBytes = 32 * 1024)
    // file streaming sources take a directory; stage the events table alone
    val srcDir = Files.createTempDirectory("graft-events").toString
    Files.copy(java.nio.file.Paths.get(s"$sf0001/events.parquet"),
      java.nio.file.Paths.get(s"$srcDir/events.parquet"))
    val src = StreamingBackup.eventsFileSource(spark, srcDir)
    val m1 = StreamingBackup.runAvailableNow(spark, src, cfg, ckpt)
    assert(m1.totalRecords == 1000)
    // second run: checkpoint says nothing new → no duplicate segments
    val m2 = StreamingBackup.runAvailableNow(spark, src, cfg, ckpt)
    assert(m2.totalRecords == 1000)
    assert(m2.totalSegments == m1.totalSegments)
  }

  test("cli describe/list/validate run against a real backup") {
    manifest
    Cli.run(spark, Array("describe", tmp, "v1"))
    Cli.run(spark, Array("list", tmp))
    Cli.run(spark, Array("validate", tmp, "v1"))
    Cli.run(spark, Array("show-offset-mapping", tmp, "v1"))
  }
}
