package graft

import graft.catalog.{Manifest, PartitionBackup, SegmentMetadata, TopicBackup}
import graft.codec.{CompressionCodec, LegacySegment, SegmentCodec}
import graft.functions.{KFunctions, KHash}
import graft.model.{KHeader, KRecord}
import graft.pipelines.{Backup, BackupConfig, Restore, RestoreConfig}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** End-to-end slice (SURVEY §7): events fixture → KBAK segments + manifest on
  * local FS → restore with PITR window → boundary-inclusive equality.
  */
class BackupRestoreSpec extends SparkSpec {

  private lazy val tmp = Files.createTempDirectory("graft-backup").toString

  private lazy val manifest = {
    val records = KRecord.fromEvents(spark, sf0001)
    Backup.run(spark, records,
      BackupConfig("b1", tmp, CompressionCodec.Zstd, maxSegmentBytes = 16 * 1024))
  }

  test("backup writes segments and a loadable manifest") {
    assert(manifest.totalRecords == 1000)
    assert(manifest.topics.size == 5) // event types
    val loaded = Manifest.load(tmp, "b1")
    assert(loaded.totalRecords == 1000)
    assert(loaded.totalSegments == manifest.totalSegments && loaded.totalSegments > 0)
    // segment stats are consistent
    loaded.topics.flatMap(_.partitions).foreach { p =>
      val segs = p.segments
      assert(segs == segs.sortBy(_.start_offset))
      segs.foreach { s =>
        assert(s.start_offset <= s.end_offset)
        assert(s.start_timestamp <= s.end_timestamp)
        assert(s.record_count > 0)
      }
    }
  }

  test("restore round-trips every record (no window)") {
    import spark.implicits._
    manifest // force backup
    val restored = Restore.records(spark, RestoreConfig(tmp, "b1"))
    assert(restored.count() == 1000)
    val restoredIds = restored.map(_.offset).collect().sorted
    assert(restoredIds.toSeq == (0L until 1000L))
    // per-partition offset order preserved within each decoded segment scan
    val byPart = restored.collect().groupBy(r => (r.topic, r.partition))
    byPart.foreach { case (_, rs) =>
      val offs = rs.map(_.offset).toSeq
      assert(offs == offs.sorted, "per-partition offset order")
    }
  }

  test("PITR window is boundary-inclusive at ms precision") {
    import spark.implicits._
    manifest
    val all = KRecord.fromEvents(spark, sf0001)
      .select("offset", "timestamp").as[(Long, Long)].collect().toMap
    val ts = all.values.toSeq.sorted
    val (t1, t2) = (ts(200), ts(800))
    val expected = all.filter { case (_, t) => t >= t1 && t <= t2 }.keySet
    val restored = Restore.records(spark, RestoreConfig(tmp, "b1", Some(t1), Some(t2)))
      .map(_.offset).collect().toSet
    assert(restored == expected)
    // boundary records themselves are present
    assert(restored.contains(all.find(_._2 == t1).get._1))
    assert(restored.contains(all.find(_._2 == t2).get._1))
    // empty window
    assert(Restore.records(spark, RestoreConfig(tmp, "b1", Some(t2 + 100000), Some(t2 + 200000)))
      .count() == 0)

    // the window is applied inside decode: records at exactly either bound
    // are kept, 1 ms outside is dropped, and null key/value and 0-header
    // records inside the window survive unchanged
    val t0 = 1700000000000L
    val hs = Seq(KHeader("h", "hv".getBytes), KHeader("n", null))
    val edge = Seq(
      KRecord("edge", 0, 0L, t0 - 1, "k0".getBytes, "v0".getBytes, hs),
      KRecord("edge", 0, 1L, t0, null, null, Nil),
      KRecord("edge", 0, 2L, t0 + 5, "k2".getBytes, null, hs),
      KRecord("edge", 0, 3L, t0 + 10, null, "v3".getBytes, Nil),
      KRecord("edge", 0, 4L, t0 + 11, "k4".getBytes, "v4".getBytes, hs))
    val edgeRoot = Files.createTempDirectory("graft-edge").toString
    Backup.run(spark, edge.toDS().toDF(),
      BackupConfig("e1", edgeRoot, CompressionCodec.Zstd, enrichHeaders = false))
    val kept = Restore.records(spark, RestoreConfig(edgeRoot, "e1", Some(t0), Some(t0 + 10)))
      .collect().sortBy(_.offset).toSeq
    assert(kept.map(_.offset) == Seq(1L, 2L, 3L))
    kept.zip(edge.slice(1, 4)).foreach { case (got, want) => assertSameRecord(got, want) }
  }

  private def assertSameRecord(got: KRecord, want: KRecord): Unit = {
    assert(got.topic == want.topic && got.partition == want.partition)
    assert(got.offset == want.offset && got.timestamp == want.timestamp)
    assert(java.util.Arrays.equals(got.key, want.key), s"key of ${want.offset}")
    assert(java.util.Arrays.equals(got.value, want.value), s"value of ${want.offset}")
    assert(got.headers.map(_.key) == want.headers.map(_.key))
    got.headers.zip(want.headers).foreach { case (g, w) =>
      assert(java.util.Arrays.equals(g.value, w.value), s"header ${w.key} of ${want.offset}")
    }
  }

  private def fsOf(root: String) =
    FileSystem.get(new java.net.URI(root), spark.sparkContext.hadoopConfiguration)

  /** 4 partitions × 100 records rolled at 2 KB: more than 32 segments. */
  private lazy val many = {
    import spark.implicits._
    val t0 = 1700000000000L
    val recs = for (p <- 0 until 4; i <- 0 until 100)
      yield KRecord("many", p, i.toLong, t0 + i * 1000L, s"k$i".getBytes,
        Array.fill(200)((i + p).toByte), Nil)
    val root = Files.createTempDirectory("graft-many").toString
    val m = Backup.run(spark, recs.toDS().toDF(),
      BackupConfig("s1", root, CompressionCodec.Zstd, maxSegmentBytes = 2048,
        enrichHeaders = false))
    (root, m)
  }

  test("restore planning lists no path and runs no Spark job") {
    val (root, m) = many
    assert(m.totalSegments > 32, "enough segments for a parallel listing")
    val descriptions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        descriptions.add(String.valueOf(
          Option(e.properties).map(_.getProperty("spark.job.description")).orNull))
    }
    val sc = spark.sparkContext
    // a marker job flushes the (in-order) listener queue up to that point
    def marker(name: String): Unit = {
      sc.setJobDescription(name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!descriptions.contains(name) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(descriptions.contains(name), s"listener never saw $name")
    }
    sc.addSparkListener(listener)
    try {
      marker("before")
      descriptions.clear()
      val ds = Restore.records(spark, RestoreConfig(root, "s1"))
      marker("after")
      assert(descriptions.toArray.toSeq == Seq("after"), "jobs ran while planning")
      assert(ds.count() == 400)
    } finally sc.removeSparkListener(listener)
  }

  test("scan tasks follow the size-balanced bin formula, capped at the segment count") {
    val (root, m) = many
    val segs = m.topics.flatMap(_.partitions).flatMap(_.segments)
    def expectedTasks: Int = {
      def bytes(k: String) = JavaUtils.byteStringAsBytes(spark.conf.get(k))
      val total = segs.map(_.compressed_size + bytes("spark.sql.files.openCostInBytes")).sum
      val byBytes = math.ceil(total.toDouble / bytes("spark.sql.files.maxPartitionBytes")).toLong
      math.min(segs.size.toLong,
        math.max(spark.sparkContext.defaultParallelism.toLong, byBytes)).toInt
    }
    def check(): Int = {
      val ds = Restore.records(spark, RestoreConfig(root, "s1"))
      val n = ds.rdd.getNumPartitions
      assert(n == expectedTasks && n <= segs.size)
      // the tasks are contiguous runs in manifest order: per-partition
      // offset order survives a collect
      val got = ds.collect().toSeq
      assert(got.size == 400)
      got.groupBy(_.partition).values.foreach { rs =>
        assert(rs.map(_.offset) == (0L until 100L))
      }
      n
    }
    assert(check() == spark.sparkContext.defaultParallelism)
    val confs = Seq("spark.sql.files.openCostInBytes", "spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.openCostInBytes", "0")
      spark.conf.set("spark.sql.files.maxPartitionBytes", "1")
      assert(check() == segs.size, "never more tasks than segments")
      // a split size that asks for about halfway between the two caps
      val halfway = (segs.size + spark.sparkContext.defaultParallelism) / 2
      spark.conf.set("spark.sql.files.maxPartitionBytes",
        (segs.map(_.compressed_size).sum / halfway).toString)
      val n = check()
      assert(n > spark.sparkContext.defaultParallelism && n < segs.size)
    } finally confs.foreach(spark.conf.unset)
  }

  test("contiguous split: exactly k non-empty runs with the minimal largest sum") {
    val rnd = new scala.util.Random(7)
    // brute force: the best largest-run sum over every way to cut into k runs
    def best(w: IndexedSeq[Long], k: Int): Long =
      if (k == 1) w.sum
      else (1 to w.size - k + 1).map(c => math.max(w.take(c).sum, best(w.drop(c), k - 1))).min
    for (_ <- 0 until 200) {
      val w = IndexedSeq.fill(1 + rnd.nextInt(8))(1L + rnd.nextInt(20).toLong)
      val k = 1 + rnd.nextInt(w.size)
      val runs = Restore.splitContiguous(w, k)
      assert(runs.size == k && runs.forall(_.nonEmpty))
      assert(runs.flatten == w.indices, "runs cover every item once, in order")
      assert(runs.map(r => r.map(w).sum).max == best(w, k), s"$w into $k")
    }
  }

  test("an empty selection restores an empty Dataset") {
    val (root, _) = many
    val none = Restore.records(spark, RestoreConfig(root, "s1", includeTopics = Seq("absent")))
    assert(none.count() == 0)
    assert(none.schema == Restore.records(spark, RestoreConfig(root, "s1")).schema)
    assert(Restore.records(spark,
      RestoreConfig(root, "s1", Some(0L), Some(1000L))).count() == 0)
  }

  test("a manifest mixing legacy JSON and KBAK segments restores every record") {
    import spark.implicits._
    val t0 = 1700000000000L
    val kbak = (0 until 20).map(i => KRecord("bin", 0, i.toLong, t0 + i, s"k$i".getBytes,
      s"v$i".getBytes, Nil))
    val root = Files.createTempDirectory("graft-mixed").toString
    val m = Backup.run(spark, kbak.toDS().toDF(),
      BackupConfig("mx", root, CompressionCodec.Zstd, maxSegmentBytes = 256,
        enrichHeaders = false))
    val legacy = Seq(
      KRecord("legacy", 0, 0L, t0, "a".getBytes, "x".getBytes, Seq(KHeader("h", "hv".getBytes))),
      KRecord("legacy", 0, 1L, t0 + 1, null, "y".getBytes, Nil),
      KRecord("legacy", 0, 2L, t0 + 2, "c".getBytes, null, Nil))
    val bytes = LegacySegment.encodeLegacy(legacy, CompressionCodec.Zstd)
    val key = "mx/topics/legacy/partition=0/segment-00000000000000000000.json.zst"
    val os = fsOf(root).create(new Path(s"$root/$key"), true)
    try os.write(bytes) finally os.close()
    Manifest.save(root, m.copy(topics = List(TopicBackup("legacy", Some(1), List(
      PartitionBackup(0, List(SegmentMetadata(key, 0, 2, t0, t0 + 2, 3, 0, bytes.length))))))))
    assert(Manifest.load(root, "mx").totalSegments == m.totalSegments + 1)

    val all = Restore.records(spark, RestoreConfig(root, "mx")).collect().toSeq
    assert(all.size == kbak.size + legacy.size)
    val byTopic = all.groupBy(_.topic).map { case (t, rs) => t -> rs.sortBy(_.offset) }
    byTopic("bin").zip(kbak).foreach { case (g, w) => assertSameRecord(g, w) }
    byTopic("legacy").zip(legacy).foreach { case (g, w) => assertSameRecord(g, w) }
    // the window applies to legacy segments too
    val mid = Restore.records(spark, RestoreConfig(root, "mx", Some(t0 + 1), Some(t0 + 1)))
      .collect().map(r => (r.topic, r.offset)).toSet
    assert(mid == Set(("bin", 1L), ("legacy", 1L)))
  }

  test("restore fails loudly on a deleted or corrupt segment, naming it") {
    val root = Files.createTempDirectory("graft-loud").toString
    val m = Backup.run(spark, KRecord.fromEvents(spark, sf0001),
      BackupConfig("l1", root, CompressionCodec.Zstd, maxSegmentBytes = 16 * 1024))
    val segs = m.topics.flatMap(_.partitions).flatMap(_.segments)
    val fs = fsOf(root)
    def failure(cfg: RestoreConfig): String =
      intercept[Exception](Restore.records(spark, cfg).count()).getMessage

    val gone = segs.head.key
    assert(fs.delete(new Path(s"$root/$gone"), false))
    assert(failure(RestoreConfig(root, "l1")).contains(gone))
    // a restore never drops data silently, whatever the file-source settings
    spark.conf.set("spark.sql.files.ignoreMissingFiles", "true")
    try assert(failure(RestoreConfig(root, "l1")).contains(gone))
    finally spark.conf.unset("spark.sql.files.ignoreMissingFiles")

    // flip one compressed-body byte; rewrite through the Hadoop FS so its
    // checksum sidecar follows and only the KBAK CRC can object
    val victim = segs.last.key
    val vp = new Path(s"$root/$victim")
    val data = {
      val in = fs.open(vp)
      try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in) finally in.close()
    }
    data(SegmentCodec.HeaderSize + 5) = (data(SegmentCodec.HeaderSize + 5) ^ 0x01).toByte
    val os = fs.create(vp, true)
    try os.write(data) finally os.close()
    val msg = failure(RestoreConfig(root, "l1", completedSegmentKeys = Set(gone)))
    assert(msg.contains("Segment CRC mismatch") && msg.contains(victim))
  }

  test("segment pruning reads only overlapping segments") {
    manifest
    val m = Manifest.load(tmp, "b1")
    val allKeys = Restore.prunedSegmentKeys(m, RestoreConfig(tmp, "b1"))
    val ts = KRecord.fromEvents(spark, sf0001)
      .agg(min("timestamp"), max("timestamp")).collect()(0)
    val narrow = Restore.prunedSegmentKeys(m,
      RestoreConfig(tmp, "b1", Some(ts.getLong(0)), Some(ts.getLong(0) + 3600 * 1000)))
    assert(narrow.nonEmpty && narrow.size < allKeys.size, "time pruning must skip segments")
  }

  test("topic include/exclude and partition filter") {
    manifest
    val m = Manifest.load(tmp, "b1")
    val only = Restore.prunedSegmentKeys(m,
      RestoreConfig(tmp, "b1", includeTopics = Seq("purch*")))
    assert(only.nonEmpty && only.forall(_.contains("/topics/purchase/")))
    val excl = Restore.prunedSegmentKeys(m,
      RestoreConfig(tmp, "b1", excludeTopics = Seq("~purch.*")))
    assert(excl.nonEmpty && !excl.exists(_.contains("/topics/purchase/")))
    val p0 = Restore.prunedSegmentKeys(m,
      RestoreConfig(tmp, "b1", sourcePartitions = Some(Seq(0))))
    assert(p0.nonEmpty && p0.forall(_.contains("partition=0/")))
  }

  test("checkpoint anti-join skips completed segments (F9)") {
    manifest
    val m = Manifest.load(tmp, "b1")
    val all = Restore.prunedSegmentKeys(m, RestoreConfig(tmp, "b1"))
    val done = all.take(all.size / 2).toSet
    val remaining = Restore.prunedSegmentKeys(m,
      RestoreConfig(tmp, "b1", completedSegmentKeys = done))
    assert(remaining.toSet == all.toSet -- done)
  }

  test("header enrichment round-trips the original offset (F11/F12)") {
    manifest
    val restored = Restore.records(spark, RestoreConfig(tmp, "b1")).toDF()
    val extracted = restored.select(col("offset"),
      KFunctions.bytes_to_long_le(
        KFunctions.header_value(col("headers"), "x-original-offset")).as("header_offset"),
      KFunctions.bytes_to_long_le(
        KFunctions.header_value(col("headers"), "x-original-timestamp")).as("header_ts"),
      col("timestamp"))
    assert(extracted.filter(col("offset") =!= col("header_offset")).count() == 0)
    assert(extracted.filter(col("timestamp") =!= col("header_ts")).count() == 0)
  }

  /** Every segment file of a backup, by key. */
  private def segmentBytes(root: String, m: graft.catalog.BackupManifest): Map[String, Seq[Byte]] =
    (for (t <- m.topics; p <- t.partitions; s <- p.segments)
      yield s.key -> Files.readAllBytes(java.nio.file.Paths.get(s"$root/${s.key}")).toSeq).toMap

  /** Every message down an exception's cause chain. */
  private def failure(f: => Any): String = {
    val e = intercept[Exception](f)
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString("\n")
  }

  test("NULL headers back up as zero headers, with enrichment on and off") {
    import spark.implicits._
    val t0 = 1700000000000L
    val recs = Seq(
      KRecord("nh", 0, 0L, t0, null, null, null),
      KRecord("nh", 0, 1L, t0 + 1, "k1".getBytes, null, Seq(KHeader("h", null))),
      KRecord("nh", 0, 2L, t0 + 2, null, "v2".getBytes, null),
      KRecord("nh", 3, 7L, t0 + 3, "k7".getBytes, "v7".getBytes, Nil))
    for (enrich <- Seq(false, true)) {
      val root = Files.createTempDirectory("graft-nullhdr").toString
      val m = Backup.run(spark, recs.toDS().toDF(), BackupConfig("nh", root,
        CompressionCodec.Zstd, enrichHeaders = enrich, sourceCluster = "c1"))
      assert(m.totalRecords == 4)
      val got = Restore.records(spark, RestoreConfig(root, "nh")).collect()
        .sortBy(r => (r.partition, r.offset)).toSeq
      val want = recs.map { r =>
        val own = Option(r.headers).getOrElse(Nil)
        r.copy(headers = if (!enrich) own else own ++ Seq(
          KHeader("x-original-offset", KHash.longToBytesLE(r.offset)),
          KHeader("x-original-timestamp", KHash.longToBytesLE(r.timestamp)),
          KHeader("x-source-cluster", "c1".getBytes),
          KHeader("x-source-partition", r.partition.toString.getBytes)))
      }
      assert(got.size == want.size)
      got.zip(want).foreach { case (g, w) => assertSameRecord(g, w) }
    }
  }

  test("backup input rows that break the record contract fail loudly") {
    import spark.implicits._
    val df = Seq(KRecord("bad", 0, 5L, 1L, null, null, Nil)).toDS().toDF()
    def backup(in: org.apache.spark.sql.DataFrame) = Backup.run(spark, in,
      BackupConfig("bad", Files.createTempDirectory("graft-bad").toString))
    assert(failure(backup(df.withColumn("offset", lit(null).cast("long"))))
      .contains("backup input column offset is null"))
    val nullKey = array(struct(lit(null).cast("string").as("key"), lit(Array[Byte](1)).as("value")))
    assert(failure(backup(df.withColumn("headers", nullKey)))
      .contains("record 5: header 0 has a null key"))
  }

  test("backup input contract: columns by name, legal upcasts, checked at analysis") {
    import spark.implicits._
    val t0 = 1700000000000L
    val canonical = (0 until 60).map(i => KRecord(s"ic${i % 2}", i % 3, i.toLong * 7, t0 + i,
      if (i % 5 == 0) null else s"k$i".getBytes, Array.fill(i)(i.toByte),
      if (i % 4 == 0) Nil else Seq(KHeader(s"h$i", s"v$i".getBytes)))).toDS().toDF()
    def backup(in: org.apache.spark.sql.DataFrame, enrich: Boolean): Map[String, Seq[Byte]] = {
      val root = Files.createTempDirectory("graft-contract").toString
      segmentBytes(root, Backup.run(spark, in, BackupConfig("ic", root, CompressionCodec.Zstd,
        maxSegmentBytes = 512, enrichHeaders = enrich)))
    }
    val reordered = canonical.select(
      (lit("extra").as("extra") +: canonical.columns.reverse.toSeq.map(col)): _*)
    val intOffsets = canonical.withColumn("offset", col("offset").cast("int"))
    // header struct fields resolve by name too
    val headerFields = canonical.withColumn("headers", transform(col("headers"), h =>
      struct(h("value").as("value"), lit(1).as("extra"), h("key").as("key"))))
    for (enrich <- Seq(true, false)) {
      val want = backup(canonical, enrich)
      assert(want.size > 6)
      assert(backup(reordered, enrich) == want, s"reordered + extra column, enrich=$enrich")
      assert(backup(intOffsets, enrich) == want, s"int offsets, enrich=$enrich")
      assert(backup(headerFields, enrich) == want, s"reordered header fields, enrich=$enrich")
    }
    val e = intercept[org.apache.spark.sql.AnalysisException](
      backup(canonical.withColumn("partition", col("partition").cast("string")), enrich = true))
    assert(e.getMessage.contains("partition"), e.getMessage)
  }

  test("topic rename and partition remap (F13/F14)") {
    manifest
    val df = Restore.remapped(spark, RestoreConfig(tmp, "b1",
      topicMapping = Map("click" -> "click_v2"), partitionMapping = Map(0 -> 7)))
    assert(df.filter(col("topic") === "click").count() == 0)
    assert(df.filter(col("topic") === "click_v2").count() > 0)
    assert(df.filter(col("partition") === 0).count() == 0)
    assert(df.filter(col("partition") === 7).count() > 0)
  }

  test("manifest merge dedups by key/start_offset, existing wins (J5)") {
    val m = Manifest.load(tmp, "b1")
    val merged = m.merge(m)
    assert(merged.totalSegments == m.totalSegments)
    assert(merged.totalRecords == m.totalRecords)
  }

  test("manifest merge: current session's partition count wins (J5 expansion)") {
    import graft.catalog.{PartitionBackup, SegmentMetadata, TopicBackup}
    def tb(n: Option[Int]) = graft.catalog.BackupManifest("b", 0L, None, Nil, "zstd",
      List(TopicBackup("t", n, List(PartitionBackup(0,
        List(SegmentMetadata("k0", 0, 9, 0, 9, 10, 100, 50)))))))
    // topic expanded 4 → 8 partitions between sessions: the CURRENT (merged-in)
    // count must propagate so restore auto-create provisions 8
    assert(tb(Some(4)).merge(tb(Some(8))).topics.head.original_partition_count
      .contains(8))
    // a current session without the count must not erase the recorded one
    assert(tb(Some(4)).merge(tb(None)).topics.head.original_partition_count
      .contains(4))
  }

  test("dry-run rollup totals match the manifest (A3)") {
    manifest
    val dr = Restore.dryRun(spark, RestoreConfig(tmp, "b1"))
    val global = dr.filter(col("topic").isNull && col("partition").isNull).collect()(0)
    assert(global.getAs[Long]("n_records") == 1000L)
    val perTopic = dr.filter(col("topic").isNotNull && col("partition").isNull)
    assert(perTopic.count() == 5)
  }

  test("kafka repartition column: murmur2 placement + null-key spread (2.10)") {
    manifest
    val df = Restore.records(spark, RestoreConfig(tmp, "b1")).toDF()
      .withColumn("target_partition", KFunctions.kafka_partition(col("key"), 12))
    val placed = df.select("key", "target_partition").collect()
    placed.foreach { row =>
      val expect = KHash.kafkaPartition(row.getAs[Array[Byte]](0), 12)
      assert(row.getInt(1) == expect)
    }
  }

  test("interval roll: a slow trickle splits segments by event-time span (St4)") {
    import spark.implicits._
    // 20 tiny records spaced 30 s apart: with a 60 s interval cap every
    // segment may span at most one minute of event time — size alone would
    // have packed them all into one segment
    val t0 = 1700000000000L
    val recs = (0 until 20).map(i => KRecord("trickle", 0, i.toLong,
      t0 + i * 30000L, null, Array.fill(8)(i.toByte), Seq.empty)).toDS().toDF()
    val root = Files.createTempDirectory("graft-interval").toString
    val m = Backup.run(spark, recs,
      BackupConfig("iv1", root, CompressionCodec.None,
        maxSegmentIntervalMs = Some(60000L), enrichHeaders = false))
    val segs = m.topics.flatMap(_.partitions).flatMap(_.segments)
    assert(segs.size > 1, "interval roll must split the trickle")
    segs.foreach(s => assert(s.end_timestamp - s.start_timestamp <= 60000L,
      s"segment spans ${s.end_timestamp - s.start_timestamp} ms > interval"))
    // manifest stats stay exact: contiguous offsets, all records accounted for
    assert(m.totalRecords == 20)
    val sorted = segs.sortBy(_.start_offset)
    assert(sorted.head.start_offset == 0 && sorted.last.end_offset == 19)
    sorted.sliding(2).foreach {
      case Seq(a, b) => assert(b.start_offset == a.end_offset + 1)
      case _ =>
    }
    // and the data round-trips
    val restored = Restore.records(spark, RestoreConfig(root, "iv1"))
    assert(restored.count() == 20)
  }

  test("interval roll bounds the span even when spacing does not divide the cap (St4)") {
    import spark.implicits._
    // 45 s spacing with a 60 s cap: a seal-after-append writer would emit
    // 90 s segments; sealing before the span-stretching record keeps every
    // segment's event-time span strictly within the cap
    val t0 = 1700000000000L
    val recs = (0 until 12).map(i => KRecord("trickle45", 0, i.toLong,
      t0 + i * 45000L, null, Array.fill(8)(i.toByte), Seq.empty)).toDS().toDF()
    val root = Files.createTempDirectory("graft-interval45").toString
    val m = Backup.run(spark, recs,
      BackupConfig("iv2", root, CompressionCodec.None,
        maxSegmentIntervalMs = Some(60000L), enrichHeaders = false))
    val segs = m.topics.flatMap(_.partitions).flatMap(_.segments)
    assert(segs.size > 1)
    segs.foreach(s => assert(s.end_timestamp - s.start_timestamp <= 60000L,
      s"segment spans ${s.end_timestamp - s.start_timestamp} ms > interval"))
    assert(m.totalRecords == 12)
    val sorted = segs.sortBy(_.start_offset)
    assert(sorted.head.start_offset == 0 && sorted.last.end_offset == 11)
    sorted.sliding(2).foreach {
      case Seq(a, b) => assert(b.start_offset == a.end_offset + 1)
      case _ =>
    }
  }

  test("restore metrics observation counts records and bytes (A5)") {
    manifest
    val (df, obs) = Restore.withMetrics(
      Restore.records(spark, RestoreConfig(tmp, "b1")).toDF())
    df.write.mode("overwrite").format("noop").save()
    val row = obs.get
    assert(row("records_restored") == 1000L)
    assert(row("bytes_restored").asInstanceOf[Long] > 0L)
  }
}
