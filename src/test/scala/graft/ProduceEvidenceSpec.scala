package graft

import graft.model.KRecord
import graft.pipelines.{RestoreCheckpoint, RestoreConfig}
import graft.remap.OffsetMappingDF
import graft.sinks.{CollectingSink, Produce}
import graft.sources.KafkaSourceOptions
import graft.validation.{CircuitBreaker, Evidence, EvidenceReport}

class ProduceEvidenceSpec extends SparkSpec {

  private def rec(offset: Long, ts: Long) =
    KRecord("t", 0, offset, ts, s"k$offset".getBytes, s"v$offset".getBytes, Nil)

  test("timestamp-delta batch split: i32 ms overflow forces sub-batches (K3)") {
    val base = 1700000000000L
    val span = Produce.MaxTimestampDeltaMs
    // 3 records within delta, then one 25 days later, then one more
    val records = Seq(rec(0, base), rec(1, base + 1000), rec(2, base + span),
      rec(3, base + span + 2), rec(4, base + span + 3))
    val batches = Produce.splitByTimestamp(records)
    assert(batches.map(_.map(_.offset)) == Seq(Seq(0L, 1L, 2L), Seq(3L, 4L)))
    // single batch when within bounds; empty input
    assert(Produce.splitByTimestamp(records.take(3)).size == 1)
    assert(Produce.splitByTimestamp(Nil).isEmpty)
  }

  test("producePartition captures per-record target offsets via sub-batch bases") {
    val sink = new CollectingSink(Map(("t", 0) -> 5000L))
    val records = (0L until 10L).map(i => rec(i * 3, 1700000000000L + i)) // offset gaps
    val (res, pairs) = Produce.producePartition("t", 0, records.iterator, sink,
      maxBatchRecords = 4, pairEvery = 1) // per-record capture is opt-in now
    assert(res.baseOffset == 5000L && res.recordCount == 10)
    assert(res.subBatchOffsets == Seq((5000L, 4), (5004L, 4), (5008L, 2)))
    // every source offset maps to its exact produced offset
    assert(pairs.map(p => p.source_offset -> p.target_offset) ==
      (0L until 10L).map(i => (i * 3) -> (5000L + i)))
  }

  /** The J1 target `lookupTargets` resolves for one source offset. */
  private def target(pairs: org.apache.spark.sql.DataFrame, topic: String, partition: Int,
                     sourceOffset: Long): Option[Long] = {
    import spark.implicits._
    val probes = Seq((topic, partition, sourceOffset)).toDF("topic", "partition", "source_offset")
    OffsetMappingDF.lookupTargets(pairs, probes).collect().toSeq
      .flatMap(r => Option(r.getAs[java.lang.Long]("target_offset")).map(_.longValue))
      .headOption
  }

  /** The lowest-offset sampled pair of one (topic, partition): (source, target). */
  private def firstPair(pairs: org.apache.spark.sql.DataFrame, topic: String,
                        partition: Int): (Long, Long) = {
    val r = pairs.filter(s"topic = '$topic' AND partition = $partition")
      .orderBy("source_offset").head()
    (r.getAs[Long]("source_offset"), r.getAs[Long]("target_offset"))
  }

  test("distributed produce returns a mapping usable for J1 lookups") {
    import spark.implicits._
    val records = KRecord.fromEvents(spark, sf0001).as[KRecord]
    val (results, pairs, unpersist) =
      Produce.runDistributed(records, new CollectingSink(), pairEvery = 10)
    try {
      assert(results.map(_.recordCount).sum == 1000)
      // each (topic, partition) got contiguous target offsets from 0
      results.foreach { r =>
        assert(r.subBatchOffsets.head._1 == 0L)
        assert(r.subBatchOffsets.map(_._2).sum.toLong == r.recordCount)
      }
      // as-of lookup resolves for any source offset at or beyond the first pair
      val sample = results.head
      val (source, anchorTarget) = firstPair(pairs, sample.topic, sample.partition)
      assert(target(pairs, sample.topic, sample.partition, source).contains(anchorTarget))
    } finally unpersist()
  }

  test("default produce keeps driver pairs O(partitions) for contiguous sources") {
    import spark.implicits._
    // contiguous per-partition offsets — the normal topic shape the sampled
    // default is designed for
    val records = (0 until 4).flatMap(p => (0L until 250L).map(o =>
      KRecord("t", p, o, 1700000000000L + o, null, s"v$o".getBytes, Nil))).toDS()
    val (results, pairs, unpersist) = Produce.runDistributed(records, new CollectingSink())
    try {
      assert(results.map(_.recordCount).sum == 1000)
      // sampled default: anchors only at sub-batch bases + every DefaultPairEvery
      val heldPairs = pairs.count()
      val subBatches = results.map(_.subBatchOffsets.size).sum
      assert(heldPairs <= subBatches + 1000 / Produce.DefaultPairEvery + results.size,
        s"produce sampled $heldPairs pairs for 1000 records — not sampled")
      // J1 delta rule over the sampled anchors: nearest-≤ anchor target + delta
      val r = results.head
      val (source, anchorTarget) = firstPair(pairs, r.topic, r.partition)
      assert(target(pairs, r.topic, r.partition, source + 7).contains(anchorTarget + 7))
    } finally unpersist()
  }

  test("sampled default stays EXACT across source-offset gaps (contiguity guard)") {
    // compacted-topic shape: offsets 0,3,6,... — targets are contiguous, so
    // plain anchor+delta would mis-map everything past the first gap
    val sink = new CollectingSink(Map(("t", 0) -> 5000L))
    val records = (0L until 10L).map(i => rec(i * 3, 1700000000000L + i))
    val (res, pairs) = Produce.producePartition("t", 0, records.iterator, sink)
    assert(res.recordCount == 10)
    var mapping = graft.remap.OffsetMapping()
    pairs.foreach(p => mapping = mapping.addDetailed("t", 0, p))
    // every EXISTING source offset resolves to its true produced offset
    (0L until 10L).foreach { i =>
      assert(mapping.lookupTargetOffset("t", 0, i * 3).contains(5000L + i),
        s"source ${i * 3} mis-mapped")
    }
  }

  test("runDistributed: summaries O(partitions) on the driver, pairs stay a DataFrame") {
    import spark.implicits._
    val records = (0 until 4).flatMap(p => (0L until 250L).map(o =>
      KRecord("t", p, o, 1700000000000L + o, null, s"v$o".getBytes, Nil))).toDS()
    val (results, pairsDF, unpersist) =
      Produce.runDistributed(records, new CollectingSink(), pairEvery = 100)
    assert(results.map(_.recordCount).sum == 1000)
    // the distributed pairs feed the bulk as-of join: probe 3 past an anchor,
    // expect the J1 delta answer (anchor target + 3)
    val r = results.head
    val anchor = pairsDF.filter(s"topic = '${r.topic}' AND partition = ${r.partition}")
      .orderBy("source_offset").head()
    val probes = Seq((r.topic, r.partition, anchor.getLong(2) + 3L))
      .toDF("topic", "partition", "source_offset")
    val resolved = graft.remap.OffsetMappingDF.lookupTargets(pairsDF, probes).collect()
    assert(resolved.length == 1 && resolved.head.getLong(3) == anchor.getLong(3) + 3L)
    unpersist()
  }

  test("kafka source option builders emit the reference's scan bounds (S1/S5/F8/F10)") {
    val start = Map(("orders", 0) -> 100L, ("orders", 1) -> 50L, ("audit", 0) -> -2L)
    val end = Map(("orders", 0) -> 200L, ("orders", 1) -> 90L, ("audit", 0) -> -1L)
    val opts = KafkaSourceOptions.boundedRead("k:9092", start, end)
    assert(opts("startingOffsets") == """{"audit":{"0":-2},"orders":{"0":100,"1":50}}""")
    assert(opts("endingOffsets") == """{"audit":{"0":-1},"orders":{"0":200,"1":90}}""")
    val snap = KafkaSourceOptions.snapshotRead("k:9092", Map(("t", 0) -> 777L))
    assert(snap("startingOffsets") == """{"t":{"0":-2}}""")
    assert(snap("endingOffsets") == """{"t":{"0":777}}""")
    val ts = KafkaSourceOptions.startByTimestamp("k:9092", Seq("b", "a"), 1700L)
    assert(ts("startingTimestamp") == "1700") // global option; no "-1" wildcard exists
    val tsp = KafkaSourceOptions.startByTimestampPerPartition("k:9092",
      Map(("a", 1) -> 1700L, ("a", 0) -> 1700L, ("b", 0) -> 1800L))
    assert(tsp("startingOffsetsByTimestamp") == """{"a":{"0":1700,"1":1700},"b":{"0":1800}}""")
    // keyset mismatch is filled with sentinels, not emitted broken
    val filled = KafkaSourceOptions.boundedRead("k:9092",
      Map(("t", 0) -> 100L), Map(("t", 0) -> 200L, ("t", 1) -> 50L))
    assert(filled("startingOffsets") == """{"t":{"0":100,"1":-2}}""")
    // subscribePattern is FULL-match in the Kafka consumer: raw `~` regexes
    // get the substring wrap (batch topicMatches uses find), and every
    // alternative is grouped so a top-level `|` can't mis-scope
    val cont = KafkaSourceOptions.continuous("k:9092", Seq("ord*", "~pay.+"))
    assert(cont("subscribePattern") == "(?:^ord.*$)|.*(?:pay.+).*")
    val re = cont("subscribePattern").r
    assert(re.matches("orders") && re.matches("x-payments-v2"),
      "full-match semantics must select the same topics the batch path does")
    assert(!re.matches("xorders"), "glob patterns stay anchored")
  }

  test("evidence report: canonical json, stable hash, Ed25519 sign/verify (K9)") {
    val r = EvidenceReport("b1", 1700000000000L, 1000, 20, "ab" * 32,
      Map("message_count" -> "Passed", "offset_range" -> "Passed"))
    val json = Evidence.canonicalJson(r)
    assert(json.startsWith("""{"backup_id":"b1","checks":{"message_count""""))
    assert(Evidence.contentHash(r) == Evidence.contentHash(r.copy()))
    assert(Evidence.contentHash(r) != Evidence.contentHash(r.copy(total_records = 999)))
    val kp = Evidence.generateKeyPair()
    val sig = Evidence.sign(r, kp)
    assert(Evidence.verify(r, sig, kp.getPublic))
    assert(!Evidence.verify(r.copy(total_records = 999), sig, kp.getPublic))
    assert(!Evidence.verify(r, sig.replace(sig.charAt(3), if (sig.charAt(3) == 'A') 'B' else 'A'),
      kp.getPublic))
  }

  test("evidence compliance mappings: reference control semantics, canonical order, back-compat") {
    import graft.validation.EvidenceStore
    val checks = Map("MessageCountCheck" -> "Passed",
      "OffsetRangeCheck" -> "Passed", "ConsumerGroupCheck" -> "Passed")
    val c = Evidence.buildComplianceMappings(checks.keys.toSeq.sorted,
      retentionDays = 2555, rtoSeconds = Some(42L))
    // SOX/GDPR are satisfied only by the count/range checks; CMMC by all
    assert(c.sox_itgc.get.satisfied_by == Seq("MessageCountCheck", "OffsetRangeCheck"))
    assert(c.sox_itgc.get.evidence_retention_required_years == 7)
    assert(c.cmmc_l2.get.satisfied_by.size == 3)
    assert(c.gdpr_art32.get.rto_demonstrated_seconds.contains(42L))
    val r = EvidenceReport("b1", 1L, 10, 1, "ab" * 32, checks,
      compliance = Some(c))
    val json = Evidence.canonicalJson(r)
    // keys sorted at every level; compliance sits between checks/created_at
    assert(json.contains(""""compliance":{"cmmc_l2":{"control":"RE.3.139""""), json)
    assert(json.indexOf("\"checks\"") < json.indexOf("\"compliance\"") &&
      json.indexOf("\"compliance\"") < json.indexOf("\"created_at\""))
    assert(json.contains(""""rto_demonstrated_seconds":42"""))
    // absent rto omits the key (the reference's skip_serializing_if)
    val noRto = Evidence.canonicalJson(r.copy(compliance =
      Some(Evidence.buildComplianceMappings(checks.keys.toSeq.sorted))))
    assert(!noRto.contains("rto_demonstrated"))
    // back-compat: a report without compliance serializes exactly as before,
    // so historical signatures keep verifying
    assert(!Evidence.canonicalJson(EvidenceReport("b1", 1L, 10, 1, "ab" * 32,
      checks)).contains("compliance"))
    // the block is inside the signed bytes; store round-trips it
    val kp = Evidence.generateKeyPair()
    val sig = Evidence.sign(r, kp)
    assert(Evidence.verify(r, sig, kp.getPublic))
    assert(!Evidence.verify(r.copy(compliance = None), sig, kp.getPublic))
    val root = java.nio.file.Files.createTempDirectory("graft-evc").toString
    val key = EvidenceStore.save(root, "evidence", r, kp, nowMs = 1726000000000L)
    assert(EvidenceStore.load(root, key) == r)
    assert(EvidenceStore.verify(root, key))
    // the PDF renders the three sections (pdf.rs:338-410 layout)
    val pdf = new String(graft.validation.EvidencePdf.render(r), "ISO-8859-1")
    assert(pdf.contains("(Compliance Mappings) Tj"))
    assert(pdf.contains("(SOX ITGC) Tj") && pdf.contains("(CMMC Level 2) Tj"))
    assert(pdf.contains("RTO demonstrated: 42s"))
    assert(pdf.contains("2555 days configured / 7 years required"))
  }

  test("evidence store: save/list/load/verify round-trip; tamper detected") {
    import graft.validation.{Evidence, EvidenceReport, EvidenceStore}
    val root = java.nio.file.Files.createTempDirectory("graft-ev").toString
    val r = EvidenceReport("b9", 1700000000123L, 500, 4, "cd" * 32,
      Map("message_count" -> "Passed"))
    val kp = Evidence.generateKeyPair()
    val key = EvidenceStore.save(root, "evidence", r, kp, nowMs = 1726000000000L)
    assert(key == "evidence/b9-1700000000123/2024/09/b9-1700000000123.json")
    assert(EvidenceStore.list(root, "evidence") == Seq(key))
    assert(EvidenceStore.load(root, key) == r)
    assert(EvidenceStore.verify(root, key))
    // tamper with the stored report → verification fails, no throw
    val f = new java.io.File(s"$root/$key")
    val tampered = new String(java.nio.file.Files.readAllBytes(f.toPath))
      .replace("\"total_records\":500", "\"total_records\":999")
    java.nio.file.Files.write(f.toPath, tampered.getBytes)
    assert(!EvidenceStore.verify(root, key))
    assert(!EvidenceStore.verify(root, "evidence/nope/2024/09/nope.json"))
  }

  test("evidence store resolves its FileSystem through the session's Hadoop conf") {
    import graft.validation.{Evidence, EvidenceReport, EvidenceStore}
    val conf = spark.sparkContext.hadoopConfiguration
    // the scheme exists only in the session's conf; with the FileSystem
    // cache off for it, every lookup resolves it from the conf it is given
    conf.set("fs.graftrt.impl", classOf[RuntimeSchemeFileSystem].getName)
    conf.setBoolean("fs.graftrt.impl.disable.cache", true)
    try {
      val root = "graftrt:" +
        java.nio.file.Files.createTempDirectory("graft-evrt").toString
      val r = EvidenceReport("b7", 1700000000456L, 20, 2, "ef" * 32,
        Map("message_count" -> "Passed"))
      val key = EvidenceStore.save(root, "evidence", r,
        Evidence.generateKeyPair(), nowMs = 1726000000000L)
      assert(EvidenceStore.list(root, "evidence") == Seq(key))
      assert(EvidenceStore.load(root, key) == r)
      assert(EvidenceStore.verify(root, key))
    } finally {
      conf.unset("fs.graftrt.impl")
      conf.unset("fs.graftrt.impl.disable.cache")
    }
  }

  test("evidence PDF: valid single-page document carrying the report content") {
    import graft.validation.{EvidencePdf, EvidenceReport}
    val r = EvidenceReport("b9", 1700000000123L, 500, 4, "cd" * 32,
      Map("message_count" -> "Passed", "offset_range" -> "Failed"))
    val pdf = new String(EvidencePdf.render(r), "ISO-8859-1")
    assert(pdf.startsWith("%PDF-1.4"))
    assert(pdf.endsWith("%%EOF\n"))
    assert(pdf.contains("(Kafka Backup Validation) Tj"))
    assert(pdf.contains("Overall Result: FAILED \\(1/2 checks\\)"))
    assert(pdf.contains("Backup ID: b9"))
    assert(pdf.contains("/BaseFont /Helvetica"))
    // xref offset points at the xref table
    val startxref = pdf.substring(pdf.indexOf("startxref")).split("\n")(1).trim.toInt
    assert(pdf.substring(startxref).startsWith("xref"))
    // every xref entry points at the object it declares
    val entries = pdf.substring(startxref).split("\n").drop(3).take(6)
    entries.zipWithIndex.foreach { case (e, i) =>
      val off = e.split(" ")(0).toInt
      assert(pdf.substring(off).startsWith(s"${i + 1} 0 obj"), s"xref ${i + 1} off")
    }
    // all-passed reports render PASSED
    val ok = new String(EvidencePdf.render(r.copy(checks = Map("c" -> "Passed"))), "ISO-8859-1")
    assert(ok.contains("Overall Result: PASSED \\(1/1 checks\\)"))
  }

  test("snapshot store: create/list/show/verify/delete + cli drive") {
    import graft.remap.{ConsumerGroupSnapshot, GroupOffsets, OffsetRollback}
    val dir = java.nio.file.Files.createTempDirectory("graft-snap").toString
    val s1 = OffsetRollback.snapshot(Seq(("g1", "t", 0, 100L)), "first", takenAt = 1000L)
    val s2 = OffsetRollback.snapshot(Seq(("g1", "t", 0, 200L)), "second", takenAt = 2000L)
    OffsetRollback.Store.saveTo(dir, s1)
    OffsetRollback.Store.saveTo(dir, s2)
    assert(OffsetRollback.Store.list(dir) == Seq("snapshot-2000", "snapshot-1000"))
    assert(OffsetRollback.Store.show(dir, "snapshot-1000").entries.head.offset == 100L)
    assert(OffsetRollback.Store.delete(dir, "snapshot-1000"))
    assert(!OffsetRollback.Store.delete(dir, "snapshot-1000"))
    assert(OffsetRollback.Store.list(dir) == Seq("snapshot-2000"))
    // CLI drive: create from a consumer-groups JSON, list, show, verify ok
    val groupsJson = java.nio.file.Files.createTempFile("groups", ".json")
    java.nio.file.Files.write(groupsJson, ConsumerGroupSnapshot.toJson(
      ConsumerGroupSnapshot(3000L, List(GroupOffsets("g2",
        Map("t" -> Map("0" -> 55L)))))).getBytes)
    Cli.run(spark, Array("snapshot-create", dir, groupsJson.toString, "cli-test"))
    val sid = OffsetRollback.Store.list(dir).head
    Cli.run(spark, Array("snapshot-list", dir))
    Cli.run(spark, Array("snapshot-show", dir, sid))
    Cli.run(spark, Array("snapshot-verify", dir, sid, groupsJson.toString))
    Cli.run(spark, Array("offset-rollback", dir, sid))
  }

  test("circuit breaker opens after threshold, half-opens after reset (St12)") {
    var now = 0L
    val cb = new CircuitBreaker(3, resetAfterMs = 1000, clock = () => now)
    def boom(): Unit = intercept[RuntimeException](cb.call(throw new RuntimeException("x")))
    assert(cb.state == "closed")
    boom(); boom(); boom()
    assert(cb.state == "open")
    intercept[IllegalStateException](cb.call(42))
    now = 1500
    assert(cb.state == "half-open")
    assert(cb.call(42) == 42)
    assert(cb.state == "closed")
  }

  test("restore checkpoint: resume honors config hash; counters roll (K4/F9)") {
    val dir = java.nio.file.Files.createTempDirectory("ckpt").toString
    val path = s"$dir/restore.ckpt"
    val cfg = RestoreConfig("/r", "b1", Some(1L), Some(2L))
    val c0 = RestoreCheckpoint.loadOrEmpty(path, cfg)
    assert(c0.segments_completed.isEmpty)
    val c1 = RestoreCheckpoint.complete(c0, Seq("s1", "s2"), 100, 5000)
    RestoreCheckpoint.save(path, c1)
    val loaded = RestoreCheckpoint.loadOrEmpty(path, cfg)
    assert(loaded.segments_completed == Set("s1", "s2"))
    assert(loaded.records_restored == 100 && loaded.bytes_restored == 5000)
    // different window → different config hash → fresh checkpoint
    val other = RestoreCheckpoint.loadOrEmpty(path, cfg.copy(windowEndMs = Some(3L)))
    assert(other.segments_completed.isEmpty)
  }

  test("checkpoint saves: 8 concurrent savers of a restore checkpoint and an offset snapshot never throw, every load parses, and an unreadable checkpoint still starts fresh") {
    import graft.remap.OffsetRollback
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("ckpt-race").toString
    val ckptPath = s"$dir/restore.ckpt"
    val snapPath = s"$dir/snap/offsets.json"
    val cfg = RestoreConfig("/r", "b1", Some(1L), Some(2L))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val start = new java.util.concurrent.CountDownLatch(1)
    try {
      val savers = (0 until 8).map { t =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = {
            start.await()
            (0 until 25).foreach { i =>
              RestoreCheckpoint.save(ckptPath, RestoreCheckpoint.complete(
                RestoreCheckpoint.empty(cfg), Seq(s"s$t-$i"), i, i))
              OffsetRollback.save(snapPath,
                OffsetRollback.snapshot(Seq(("g", "t", t, i.toLong)), s"saver $t"))
              // a load that fell back to a fresh checkpoint would hold no segment
              assert(RestoreCheckpoint.loadOrEmpty(ckptPath, cfg).segments_completed.size == 1)
              assert(OffsetRollback.load(snapPath).entries.size == 1)
            }
          }
        })
      }
      start.countDown()
      savers.foreach(_.get()) // rethrows a saver's failure
    } finally pool.shutdownNow()
    // every save published its own temp: none is left behind
    assert(new java.io.File(dir).list().toSet == Set("restore.ckpt", "snap"))
    assert(new java.io.File(s"$dir/snap").list().toSeq == Seq("offsets.json"))
    Files.writeString(Paths.get(ckptPath), """{"backup_id": "b1", "config_""")
    assert(RestoreCheckpoint.loadOrEmpty(ckptPath, cfg) == RestoreCheckpoint.empty(cfg))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
