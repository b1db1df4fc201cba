package graft

import graft.catalog._
import graft.codec.CompressionCodec
import graft.model.KRecord
import graft.pipelines.{Backup, BackupConfig, Restore, RestoreConfig}
import graft.validation.Validation
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Chaos-lite failure injection (the reference's chaos_suite/ +
  * scripts/stress-test intent): kill a task mid-backup and assert the retried
  * job converges to an exact manifest; race concurrent manifest merges; break
  * a segment footer and assert deep validation isolates it.
  */
class ChaosSpec extends SparkSpec {

  private def sourceCount: Long = KRecord.fromEvents(spark, sf0001).count()

  test("task death mid-backup: Spark retry converges to an exact, duplicate-free backup") {
    val local = Files.createTempDirectory("graft-chaos").toString
    val root = s"chaos:$local"
    // fail the 3rd segment create on whichever task reaches it first; by then
    // other segments are already on disk, so the retry must overwrite its own
    // partial output idempotently (deterministic keys + overwrite-create)
    ChaosFileSystem.armSegmentCreateFailure(3)
    val m =
      try Backup.run(spark, KRecord.fromEvents(spark, sf0001),
        BackupConfig("ch1", root, CompressionCodec.None, maxSegmentBytes = 4096,
          enrichHeaders = false))
      finally ChaosFileSystem.disarm()
    assert(ChaosFileSystem.failureFired, "the injected create failure must actually fire")
    assert(m.totalRecords == sourceCount)

    // every file on storage is a manifest entry and vice versa — a retried
    // task must not leave orphan or duplicate segments behind
    val onDisk = Files.walk(Paths.get(local)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.startsWith("segment-"))
      .map(p => Paths.get(local).relativize(p).toString)
      .toSet
    val inManifest = m.topics.flatMap(_.partitions).flatMap(_.segments).map(_.key).toSet
    assert(onDisk == inManifest,
      s"disk/manifest divergence: extra=${onDisk -- inManifest} missing=${inManifest -- onDisk}")

    // and the backup is readable end-to-end through the same chaos scheme
    val restored = Restore.records(spark, RestoreConfig(root, "ch1"))
    assert(restored.count() == sourceCount)
  }

  test("task death inside a staged-mining batch: retry converges to the exact one-shot pair set") {
    import spark.implicits._
    // the bounded-spill machinery (batch jobs over (table-group × bucket-
    // hash range), DISK_ONLY checkpoint accumulator, per-batch exact
    // finish) must survive a task death mid-batch like every other
    // multi-job writer in the repo: the retried batch re-mines its exact
    // candidate partition and the union-distinct accumulator ends
    // pair-identical to the undisturbed run
    val rnd = new scala.util.Random(23)
    val baseVecs = (1L to 120L).map(id =>
      (id, Array.tabulate(16)(j => math.sin(id * 7.77 + j * 1.91).toFloat)))
    val clones = (1L to 24L).map(id =>
      (1000L + id, baseVecs(id.toInt - 1)._2.map(x =>
        x + (rnd.nextFloat() - 0.5f) * 0.1f)))
    val chaosDir = Files.createTempDirectory("graft-staged-chaos").toString
    (baseVecs ++ clones).toDF("vec_id", "embedding")
      .write.parquet(s"$chaosDir/vecs")
    // a REAL scan (not a driver-local Seq): with a LocalRelation input,
    // ConvertToLocalRelation evaluates the poison at plan time on the
    // driver — a driver throw, not the task death this test injects
    val df = spark.read.parquet(s"$chaosDir/vecs")
    def pairsOf(input: org.apache.spark.sql.DataFrame) =
      graft.dedup.Dedup.embeddingPairs(input, "vec_id", "embedding",
        dim = 16, bits = 5, threshold = 0.8, tables = 4,
        knownCount = Some(144L),
        stagedTableBatch = 2, stagedBucketRanges = 2)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
        .toMap
    val undisturbed = pairsOf(df)
    assert(undisturbed.nonEmpty, "fixture must yield pairs")
    // poison: the first task to evaluate row 57 dies, exactly once —
    // that evaluation happens inside the first batch job's signature scan
    // (knownCount skips the pre-mining count, so batch jobs are the only
    // consumers of the input)
    StagedChaosPoison.fired.set(false)
    val poison = udf { (id: Long, emb: Seq[Float]) =>
      if (id == 57L &&
          StagedChaosPoison.fired.compareAndSet(false, true))
        throw new RuntimeException("chaos: staged-mining task death")
      emb
    }
    val chaotic = df.select(col("vec_id"),
      poison(col("vec_id"), col("embedding")).as("embedding"))
    try {
      val survived = pairsOf(chaotic)
      assert(StagedChaosPoison.fired.get(), "the injected task death must fire")
      assert(survived == undisturbed,
        s"staged mining drifted after task death; " +
          s"missing=${(undisturbed.keySet -- survived.keySet).take(5)}, " +
          s"extra=${(survived.keySet -- undisturbed.keySet).take(5)}")
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(chaosDir))
  }

  test("task death inside the components loop: reliable checkpoint retries, grouping identical") {
    import spark.implicits._
    // a 48-node path forces multiple large-star/small-star rounds, so the
    // injected failure lands INSIDE the iteration, not at setup;
    // driverMaxEdges = 0 forces the distributed loop at this size
    val pairs = (1L until 48L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val clean = graft.dedup.Clusters
      .connectedComponents(pairs, driverMaxEdges = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val dir = Files.createTempDirectory("graft-cc-chaos").toString
    // reliable checkpoints write rdd-*/part-* files through the chaos
    // scheme; skip the initial checkpoint's writes (loop entry) and kill
    // the first attempt of a WRITE TASK in a later round — executor-loss
    // semantics for the loop's durable state
    ChaosFileSystem.armPathCreateFailure("/rdd-", startAt = 3, times = 1)
    val chaotic =
      try graft.dedup.Clusters.connectedComponents(pairs,
        checkpointDir = Some(s"chaos:$dir"), driverMaxEdges = 0)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      finally ChaosFileSystem.disarm()
    assert(ChaosFileSystem.failureFired, "the injected checkpoint failure must fire")
    assert(chaotic == clean,
      "the loop must converge to the identical grouping after a task retry")
    // the caller's checkpoint dir is restored even on the chaos path
    assert(spark.sparkContext.getCheckpointDir.forall(!_.contains(dir)))
  }

  test("task death inside the BPE merge loop: reliable checkpoint retries, merges identical") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet").limit(200)
    val clean = graft.text.BpeTrainer.train(docs, "text",
      numMerges = 6, minFreq = 1L).merges
    assert(clean.size == 6)

    val dir = Files.createTempDirectory("graft-bpe-chaos").toString
    // kill the first attempt of a reliable-checkpoint write task mid-loop —
    // executor-loss semantics for the trainer's durable per-round state
    ChaosFileSystem.armPathCreateFailure("/rdd-", startAt = 3, times = 1)
    val chaotic =
      try graft.text.BpeTrainer.train(docs, "text", numMerges = 6,
        minFreq = 1L, checkpointDir = Some(s"chaos:$dir")).merges
      finally ChaosFileSystem.disarm()
    assert(ChaosFileSystem.failureFired, "the injected checkpoint failure must fire")
    assert(chaotic == clean,
      "the trainer must learn the identical merge sequence after a task retry")
    // the caller's checkpoint dir is restored even on the chaos path
    assert(spark.sparkContext.getCheckpointDir.forall(!_.contains(dir)))
  }

  test("task death inside a unigram EM round: retried stage trains the identical vocabulary") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet").limit(200)
    val clean = graft.text.UnigramTrainer.train(docs, "text",
      vocabSize = 60, seedSize = 240, maxPieceLen = 4).pieces
    assert(clean.nonEmpty)
    // one-shot task bomb on the corpus scan: the first task attempt that
    // touches a row dies mid-histogram (executor-loss semantics — the
    // trainer's only corpus pass); local[4,2] allows ONE retry, which must
    // recompute the partition and train the bit-identical vocabulary
    ChaosSpec.TaskBomb.armed.set(true)
    ChaosSpec.TaskBomb.fired.set(false)
    val bomb = udf(() => {
      if (ChaosSpec.TaskBomb.armed.compareAndSet(true, false)) {
        ChaosSpec.TaskBomb.fired.set(true)
        throw new RuntimeException("chaos: task bomb (injected)")
      }
      true
    })
    val chaotic =
      try graft.text.UnigramTrainer.train(docs.filter(bomb()), "text",
        vocabSize = 60, seedSize = 240, maxPieceLen = 4).pieces
      finally ChaosSpec.TaskBomb.armed.set(false)
    assert(ChaosSpec.TaskBomb.fired.get, "the injected task death must fire")
    assert(chaotic == clean,
      "a task retry must not change the trained vocabulary")
  }

  test("task death during index compaction: retried bucketed write lands the identical generation") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-cchaos").toString
    val (t1, t2) = ("graft_cchaos_v1", "graft_cchaos_v2")
    val corpus = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"))
    try {
      graft.dedup.Dedup.writeExactIndexBucketed(
        graft.dedup.Dedup.exactIndex(corpus.filter(col("doc_id") % 2 === 0),
          "doc_id", "text"), t1, s"chaos:$dir/v1", buckets = 4)
      // kill one write-task attempt of the compacted generation mid-write;
      // the commit protocol + task retry must land v2 complete and exact
      ChaosFileSystem.armPathCreateFailure("/v2/", startAt = 2, times = 1)
      try graft.dedup.Dedup.compactExactIndex(spark, t1,
        graft.dedup.Dedup.exactIndex(corpus.filter(col("doc_id") % 2 === 1),
          "doc_id", "text"), t2, s"chaos:$dir/v2", buckets = 4)
      finally ChaosFileSystem.disarm()
      assert(ChaosFileSystem.failureFired, "the injected write failure must fire")
      val expect = graft.dedup.Dedup.exactIndex(corpus, "doc_id", "text")
        .filter(col("dup_key").isNotNull)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val got = spark.table(t2)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == expect, "compacted generation must be exact after retry")
      // no partial/duplicate files beyond the bucket layout
      val files = Files.list(java.nio.file.Paths.get(s"$dir/v2"))
        .toArray.map(_.toString).filter(_.endsWith(".parquet"))
      assert(files.length == 4, s"expected 1 file/bucket after retry, got ${files.length}")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $t1")
      spark.sql(s"DROP TABLE IF EXISTS $t2")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("task death during a chunk-index append: retried write lands every chunk exactly once") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-achaos").toString
    val idx = s"chaos:$dir/idx"
    val oldDocs = (0L until 30L).map(i => (i, s"ach w$i rho " * 18))
      .toDF("doc_id", "text")
    val newDocs = (30L until 60L).map(i => (i, s"ach w$i rho " * 18))
      .toDF("doc_id", "text")
    try {
      graft.ann.Retrieval.writeChunkIndex(oldDocs, idx, nLists = 4,
        fitBudget = 48)
      val before = spark.read.parquet(idx).count()
      // kill one write-task attempt of the APPEND job mid-write; the
      // commit protocol + task retry must land the append complete, with
      // no duplicate and no partial chunk rows
      ChaosFileSystem.armPathCreateFailure("/idx/", startAt = 2, times = 1)
      try graft.ann.Retrieval.appendToChunkIndex(newDocs, idx)
      finally ChaosFileSystem.disarm()
      assert(ChaosFileSystem.failureFired, "the injected write failure must fire")
      val after = spark.read.parquet(idx)
      // exactly-once: every (doc, chunk) appears once, old rows untouched
      assert(after.count() == after.select("doc_id", "chunk_idx")
        .distinct().count(), "duplicate chunk rows after retry")
      assert(after.filter(col("doc_id") < 30L).count() == before,
        "pre-append rows must be untouched")
      // the appended index must serve exactly like the exact scorer on the
      // union (full probe)
      val qs = Seq((7L, "ach w7 rho"), (44L, "ach w44 rho"))
        .toDF("query_id", "text")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("query_id", "rank")
          .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
      val served = rows(graft.ann.Retrieval.retrieveFromChunkIndex(spark,
        idx, qs, k = 4, nProbe = 4))
      assert(served == rows(graft.ann.Retrieval.retrieveChunks(
        oldDocs.unionByName(newDocs), qs, k = 4)))
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("task death during an IVF-PQ chunk-index append: retried writes land codes AND vectors exactly once") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-pchaos").toString
    val idx = s"chaos:$dir/idx"
    val oldDocs = (0L until 30L).map(i => (i, s"pch w$i phi " * 18))
      .toDF("doc_id", "text")
    val newDocs = (30L until 60L).map(i => (i, s"pch w$i phi " * 18))
      .toDF("doc_id", "text")
    try {
      graft.ann.Retrieval.writeChunkIndexPq(oldDocs, idx, nLists = 4,
        m = 5, ksub = 8, fitBudget = 48)
      val beforeCodes = spark.read.parquet(idx).count()
      val beforeVecs = spark.read.parquet(s"$idx/_vecs").count()
      // kill one write-task attempt of the APPEND mid-write (the append
      // runs TWO jobs — codes then vectors; the armed failure hits the
      // first write's task and the commit protocol + retry must land both
      // layouts complete and row-aligned)
      ChaosFileSystem.armPathCreateFailure("/idx/", startAt = 2, times = 1)
      try graft.ann.Retrieval.appendToChunkIndexPq(newDocs, idx)
      finally ChaosFileSystem.disarm()
      assert(ChaosFileSystem.failureFired, "the injected write failure must fire")
      val codes = spark.read.parquet(idx)
      val vecs = spark.read.parquet(s"$idx/_vecs")
      // exactly-once in BOTH layouts, pre-append rows untouched
      assert(codes.count() == codes.select("doc_id", "chunk_idx")
        .distinct().count(), "duplicate code rows after retry")
      assert(vecs.count() == vecs.select("doc_id", "chunk_idx")
        .distinct().count(), "duplicate side-table rows after retry")
      assert(codes.count() == vecs.count(),
        "codes and side table must stay row-aligned")
      assert(codes.filter(col("doc_id") < 30L).count() == beforeCodes,
        "pre-append code rows must be untouched")
      assert(vecs.filter(col("doc_id") < 30L).count() == beforeVecs,
        "pre-append side-table rows must be untouched")
      // the appended index serves exactly like the exact scorer on the
      // union (full probe + wide shortlist — the degraded-to-exact mode)
      val qs = Seq((7L, "pch w7 phi"), (44L, "pch w44 phi"))
        .toDF("query_id", "text")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("query_id", "rank")
          .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
      val served = rows(graft.ann.Retrieval.retrieveFromChunkIndexPq(spark,
        idx, qs, k = 4, nProbe = 4, shortlist = 100000))
      assert(served == rows(graft.ann.Retrieval.retrieveChunks(
        oldDocs.unionByName(newDocs), qs, k = 4)))
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("task death during a BM25 index append: retried write lands every posting exactly once") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-bchaos").toString
    val idx = s"chaos:$dir/idx"
    val oldDocs = (0L until 30L).map(i => (i, s"bch w$i tau " * 18))
      .toDF("doc_id", "text")
    val newDocs = (30L until 60L).map(i => (i, s"bch w$i tau " * 18))
      .toDF("doc_id", "text")
    try {
      graft.ann.Bm25.writeIndex(oldDocs, idx, nBuckets = 4)
      val before = spark.read.parquet(idx).count()
      // kill one write-task attempt of the APPEND job mid-write; commit
      // protocol + task retry must land the append complete — no
      // duplicate postings, pre-append rows untouched, stats advanced
      ChaosFileSystem.armPathCreateFailure("/idx/", startAt = 2, times = 1)
      try graft.ann.Bm25.appendToIndex(newDocs, idx)
      finally ChaosFileSystem.disarm()
      assert(ChaosFileSystem.failureFired, "the injected write failure must fire")
      val after = spark.read.parquet(idx)
      assert(after.count() == after.select("doc_id", "term")
        .distinct().count(), "duplicate postings after retry")
      assert(after.filter(col("doc_id") < 30L).count() == before,
        "pre-append rows must be untouched")
      // the survived index serves exactly like the direct scorer on the
      // union — df AND the ingest log's stats must both have landed
      val qs = Seq((7L, "bch w7 tau"), (44L, "bch w44 tau"))
        .toDF("query_id", "text")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("query_id", "rank")
          .select("query_id", "rank", "doc_id", "score_micro")
          .as[(Long, Long, Long, Long)].collect().toSeq
      val served = rows(graft.ann.Bm25.retrieveFromIndex(spark, idx, qs,
        k = 4))
      assert(served == rows(graft.ann.Bm25.topK(
        oldDocs.unionByName(newDocs), qs, k = 4)))
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("compact killed between the stats write and the marker deletes: serves stay exact, the re-run converges") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-cchaos").toString
    // the ingest protocol runs on the plain local path; ONLY the compact
    // under test runs against the chaos: view of the same directory (its
    // promote-time listFiles doesn't support the chaos scheme, and the
    // failure point under test is compact's marker delete anyway)
    val idx = s"$dir/idx"
    val chaosIdx = s"chaos:$dir/idx"
    val seed = (0L until 30L).map(i => (i, s"cch w$i mu " * 18))
      .toDF("doc_id", "text")
    val b0 = (30L until 45L).map(i => (i, s"cch w$i mu " * 18))
      .toDF("doc_id", "text")
    val b1 = (45L until 60L).map(i => (i, s"cch w$i mu " * 18))
      .toDF("doc_id", "text")
    val qs = Seq((7L, "cch w7 mu"), (50L, "cch w50 mu"))
      .toDF("query_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank")
        .select("query_id", "rank", "doc_id", "score_micro")
        .as[(Long, Long, Long, Long)].collect().toSeq
    try {
      graft.ann.Bm25.writeIndex(seed, idx, nBuckets = 4)
      assert(graft.ann.Bm25.applyIngestBatch(b0, idx, batchId = 0L))
      assert(graft.ann.Bm25.applyIngestBatch(b1, idx, batchId = 1L))
      val expected = rows(graft.ann.Bm25.topK(
        seed.unionByName(b0).unionByName(b1), qs, k = 4))
      // every access after the first chaos-side write goes through the
      // chaos view too: the raw (chaos) FS doesn't maintain the local
      // FS's .crc sidecars, so mixing schemes would trip checksum errors
      def serve(committed: Boolean = false) = rows(
        graft.ann.Bm25.retrieveFromIndex(spark, chaosIdx, qs, k = 4,
          committedOnly = committed))
      assert(serve() == expected)
      // kill the compact on its FIRST marker delete: the ingest-log entry
      // — deltas folded, watermark recorded — has already committed, and
      // every folded marker survives the crash
      ChaosFileSystem.armPathDeleteFailure("/_stream_appends/b", times = 1)
      try intercept[java.io.IOException] {
        graft.ann.Bm25.compactStreamStats(spark, chaosIdx)
      } finally ChaosFileSystem.disarm()
      assert(ChaosFileSystem.failureFired, "the injected delete must fire")
      val fs = graft.util.StreamCommit.fs(spark, chaosIdx)
      assert(graft.util.StreamCommit.listMarkers(fs, chaosIdx).nonEmpty,
        "fixture: folded markers must survive the crash")
      // the folded watermark makes the survivors inert for BOTH serve
      // modes — stats identical to the undisturbed path
      assert(serve() == expected,
        "crash between fold and delete must not change served stats")
      assert(serve(committed = true) == expected,
        "committed-only serve must treat folded batches as committed")
      // the re-run compact deletes the survivors and changes nothing else
      graft.ann.Bm25.compactStreamStats(spark, chaosIdx)
      assert(graft.util.StreamCommit.listMarkers(fs, chaosIdx).isEmpty)
      assert(serve() == expected && serve(committed = true) == expected)
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("task death inside a streaming incremental-dedup micro-batch: retry keeps exactly-once survivors") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    def ts(m: Int) = new java.sql.Timestamp(1700000000000L + m * 60000L)
    val index = graft.dedup.Dedup.exactIndex(
      Seq((10L, "history doc one")).toDF("doc_id", "text"), "doc_id", "text")
    def run(ckpt: String, name: String): Set[Long] = {
      val input = MemoryStream[(Long, String, java.sql.Timestamp)]
      val out = graft.streaming.StreamingText.incrementalDedupStream(
        input.toDF().toDF("doc_id", "text", "ts"), "text", "ts",
        "10 minutes", index)
      val q = out.writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append()).start()
      try {
        input.addData(
          (1L, "history DOC one", ts(0)), // indexed → dropped
          (2L, "fresh doc", ts(1)),
          (3L, "fresh DOC", ts(2)),       // in-stream dup of 2
          (4L, null: String, ts(3)))      // null text bypasses both joins
        q.processAllAvailable()
        input.addData((5L, "fresh doc", ts(4)), // cross-batch in-window dup
          (6L, "brand new", ts(5)))
        q.processAllAvailable()
        spark.table(name).collect().map(_.getLong(0)).toSet
      } finally q.stop()
    }
    val clean = run(Files.createTempDirectory("graft-inc-clean").toString,
      "inc_chaos_clean")
    // kill one task attempt on its state-store delta write mid-micro-batch:
    // the retried attempt must re-commit its dedup state without dropping or
    // double-emitting any survivor
    val dir = Files.createTempDirectory("graft-inc-chaos").toString
    ChaosFileSystem.armPathCreateFailure(".delta", startAt = 2, times = 1)
    val chaotic =
      try run(s"chaos:$dir", "inc_chaos_out")
      finally ChaosFileSystem.disarm()
    assert(ChaosFileSystem.failureFired,
      "the injected state-store write failure must fire")
    // the in-stream dup pair's WINNER may legitimately differ between runs
    // (first-seen within the shuffle); everything else must match exactly,
    // and each run keeps exactly one of the pair
    assert(chaotic -- Set(2L, 3L) == clean -- Set(2L, 3L),
      s"survivor drift after task retry: $chaotic vs $clean")
    assert((clean & Set(2L, 3L)).size == 1 && (chaotic & Set(2L, 3L)).size == 1)
    assert(clean.contains(4L) && clean.contains(6L))
    assert(!clean.contains(1L) && !clean.contains(5L))
  }

  test("concurrent manifest saves merge every writer's segments without torn state") {
    val root = Files.createTempDirectory("graft-chaos-manifest").toString
    def seg(i: Int) = SegmentMetadata(
      Manifest.segmentKey("cm1", "t", 0, i * 100L, ""), i * 100L, i * 100L + 99,
      1000L * i, 1000L * i + 999, 100, 1000, 500)
    def manifestFor(i: Int) = BackupManifest("cm1", 1700000000000L + i, None, Nil, "none",
      List(TopicBackup("t", Some(1), List(PartitionBackup(0, List(seg(i)))))))

    val threads = (0 until 8).map { i =>
      new Thread(() => { Manifest.save(root, manifestFor(i)); () })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(30000))

    val merged = Manifest.load(root, "cm1")
    val keys = merged.topics.flatMap(_.partitions).flatMap(_.segments).map(_.key)
    assert(keys.toSet == (0 until 8).map(i => seg(i).key).toSet,
      s"merge lost writers: ${keys.sorted}")
    assert(keys.size == 8, "merge must dedup, not duplicate")
    // segments arrive sorted by start_offset and no tmp litter survives
    val starts = merged.topics.head.partitions.head.segments.map(_.start_offset)
    assert(starts == starts.sorted)
    val litter = Files.list(Paths.get(root, "cm1")).iterator().asScala
      .map(_.getFileName.toString).filter(_.contains(".tmp")).toList
    assert(litter.isEmpty, s"orphaned tmp files: $litter")
  }

  test("streaming backup killed mid-batch recovers exactly from its checkpoint (St5)") {
    import graft.streaming.StreamingBackup
    val local = Files.createTempDirectory("graft-chaos-stream").toString
    val root = s"chaos:$local"
    val ckpt = Files.createTempDirectory("graft-chaos-ckpt").toString
    val cfg = BackupConfig("chs1", root, CompressionCodec.None,
      maxSegmentBytes = 4096, enrichHeaders = false)
    // file streaming sources take a directory; stage the events table alone
    val srcDir = Files.createTempDirectory("graft-chaos-events").toString
    Files.copy(Paths.get(s"$sf0001/events.parquet"), Paths.get(s"$srcDir/events.parquet"))
    val src = StreamingBackup.eventsFileSource(spark, srcDir)
    // fail both task attempts (local[4,2] allows one retry) → the micro-batch
    // and the query die; the restart must replay the batch idempotently
    ChaosFileSystem.armSegmentCreateFailure(3, times = 2)
    val failed =
      try { StreamingBackup.runAvailableNow(spark, src, cfg, ckpt); false }
      catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => true }
      finally ChaosFileSystem.disarm()
    assert(failed, "the injected double-failure must kill the streaming query")
    assert(ChaosFileSystem.failuresFired >= 2)

    val m = StreamingBackup.runAvailableNow(spark, src, cfg, ckpt)
    assert(m.totalRecords == sourceCount,
      "restart must replay the failed batch exactly — no loss")
    // idempotence across the crash: storage holds exactly the manifest's keys
    val onDisk = Files.walk(Paths.get(local)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.startsWith("segment-"))
      .map(p => Paths.get(local).relativize(p).toString)
      .toSet
    val inManifest = m.topics.flatMap(_.partitions).flatMap(_.segments).map(_.key).toSet
    assert(onDisk == inManifest,
      s"crash+restart left divergence: extra=${onDisk -- inManifest} missing=${inManifest -- onDisk}")
    val restored = Restore.records(spark, RestoreConfig(root, "chs1"))
    assert(restored.count() == sourceCount)
  }

  test("corrupted segment footer: deep validation isolates exactly that segment") {
    val root = Files.createTempDirectory("graft-chaos-footer").toString
    val m = Backup.run(spark, KRecord.fromEvents(spark, sf0001),
      BackupConfig("cf1", root, CompressionCodec.None, enrichHeaders = false))
    val victim = m.topics.last.partitions.last.segments.head.key
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    val hp = new org.apache.hadoop.fs.Path(s"$root/$victim")
    val bytes = {
      val in = fs.open(hp)
      try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in) finally in.close()
    }
    // flip one bit inside the 8-byte footer (CRC region) — rewrite through the
    // Hadoop FS so its .crc sidecar follows (gotcha: out-of-band edits trip
    // Hadoop's checksum, not our KBAK CRC)
    bytes(bytes.length - 6) = (bytes(bytes.length - 6) ^ 0x01).toByte
    val os = fs.create(hp, true)
    try os.write(bytes) finally os.close()

    val res = Validation.deep(spark, root, "cf1")
    val failed = res.filter(col("outcome") === "Failed").collect()
    assert(failed.length == 1, s"exactly the broken segment must fail, got ${failed.length}")
    assert(failed(0).getAs[String]("segment_key") == victim)
    assert(failed(0).getAs[String]("decode_error").contains("CRC"))
    assert(res.count() == m.totalSegments)
  }
}

object ChaosSpec {
  /** One-shot task-death injector for lineage-embedded chaos (same-JVM
    * local mode: the executor closure sees this object directly).
    */
  object TaskBomb {
    val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
  }
}

/** JVM-static once-flag for the staged-mining poison UDF (must live outside
  * the suite so the task-side closure doesn't drag the spec in).
  */
object StagedChaosPoison {
  val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
}
