package graft

import org.apache.spark.sql.functions._
import graft.ann.{Bm25, Retrieval}
import graft.util.StreamCommit
import IngestLogFixtures._

/** The ingest-protocol races on the one versioned ingest log
  * (`_graft_log/`) every layout keeps — dense chunk indexes and BM25:
  * compaction inside a rollback must fail the rollback LOUDLY instead of
  * silently stamping a scrubbed batch permanently committed (or folding its
  * stats delta); removals and compactions killed before their scrub
  * converge; concurrent writers whose log round is lost re-derive and all
  * land. Plus the log's retention window, the migration of layouts written
  * with the pre-log sidecars or the per-batch marker files, the
  * serve-vs-rollback reader contract and the one-snapshot-per-serve-call
  * coherence of the committed-only dense serve.
  */
class IngestRaceSpec extends SparkSpec {
  import spark.implicits._

  private def mkDocs(lo: Long, hi: Long, word: String) =
    (lo until hi).map(i => (i, s"$word w$i rho " * 18)).toDF("doc_id", "text")

  private def compactDense(path: String) =
    StreamCommit.compact(spark, path, Retrieval.chunkBatchGlobs(path))
      .watermarks

  private def retries = graft.metrics.GraftCounters
    .get("ingest_log_cas_retry_total")

  test("dense race, compact-inside-removal: the intent-record CAS fails the rollback loudly BEFORE any mutation (the batch stays correctly served, nothing scrubbed)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_race2").toFile
    val path = dir.getAbsolutePath
    try {
      Retrieval.writeChunkIndex(mkDocs(0, 40, "rcb"), path, nLists = 4,
        fitBudget = 48)
      assert(Retrieval.applyChunkIngestBatch(mkDocs(40, 50, "rcb"), path,
        batchId = 0L, streamId = "r2"))
      val qs = Seq((7L, "rcb w7 rho"), (47L, "rcb w47 rho"))
        .toDF("query_id", "text")
      def serveCommitted() = Retrieval.retrieveFromChunkIndex(spark, path,
          qs, k = 4, nProbe = 4, committedOnly = true)
        .orderBy("query_id", "rank")
        .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
      val before = serveCommitted()
      assert(before.exists(_._3 >= 40L), "fixture: batch 0 must be served")
      val tag = StreamCommit.tag("r2", 0L)
      val glob = s"${StreamCommit.escapeGlob(path)}/list=*/$tag-*"
      // the compact lands between the removal's pre-check and its record —
      // the record's round re-checks the fold guard and aborts with NOTHING
      // mutated (record-first: the record is write #1)
      val ex = intercept[IllegalStateException] {
        StreamCommit.removeBatchGuarded(spark, path, "r2", 0L, Seq(glob),
          afterPreCheck =
            () => compactDense(path))
      }
      assert(ex.getMessage.contains("concurrently compacted"))
      assert(StreamCommit.readState(spark, path).removed.isEmpty,
        "the failed removal must not have recorded its intent")
      // nothing scrubbed: the batch's files are intact and the committed
      // serve (now via the watermark) is unchanged
      val fs = StreamCommit.fs(spark, path)
      assert(Option(fs.globStatus(new org.apache.hadoop.fs.Path(glob)))
        .getOrElse(Array.empty).nonEmpty,
        "the aborted rollback must not scrub the batch's files")
      assert(serveCommitted() == before)
      // the batch is permanently committed now — a re-run refuses cleanly
      val ex2 = intercept[IllegalStateException] {
        Retrieval.removeChunkIngestBatch(spark, path, batchId = 0L,
          streamId = "r2")
      }
      assert(ex2.getMessage.contains("watermark"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("dense rollback: re-remove of a recorded-removed batch is an idempotent no-op, even after the watermark folded past it") {
    val dir = java.nio.file.Files.createTempDirectory("graft_race3").toFile
    val path = dir.getAbsolutePath
    try {
      Retrieval.writeChunkIndex(mkDocs(0, 40, "rcc"), path, nLists = 4,
        fitBudget = 48)
      assert(Retrieval.applyChunkIngestBatch(mkDocs(40, 50, "rcc"), path,
        batchId = 0L, streamId = "r3"))
      assert(Retrieval.applyChunkIngestBatch(mkDocs(50, 60, "rcc"), path,
        batchId = 1L, streamId = "r3"))
      assert(Retrieval.removeChunkIngestBatch(spark, path, batchId = 1L,
        streamId = "r3"))
      assert(!Retrieval.removeChunkIngestBatch(spark, path, batchId = 1L,
        streamId = "r3"), "second removal is a recorded no-op")
      assert(compactDense(path) == Map("r3" -> 1L))
      // even below the watermark, a RECORDED removal re-runs as a no-op
      // instead of the permanently-committed refusal
      assert(!Retrieval.removeChunkIngestBatch(spark, path, batchId = 1L,
        streamId = "r3"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("bm25 race, compact-inside-removal: the intent-record CAS aborts the rollback loudly with postings intact and stats consistent") {
    val dir = java.nio.file.Files.createTempDirectory("graft_race4").toFile
    val path = dir.getAbsolutePath
    try {
      val seed = mkDocs(0, 40, "rcd")
      val b0 = mkDocs(40, 50, "rcd")
      Bm25.writeIndex(seed, path, nBuckets = 8)
      assert(Bm25.applyIngestBatch(b0, path, batchId = 0L, streamId = "r4"))
      val qs = Seq((7L, "rcd w7 rho"), (47L, "rcd w47 rho"))
        .toDF("query_id", "text")
      def serve(committed: Boolean) = Bm25.retrieveFromIndex(spark, path,
          qs, k = 5, committedOnly = committed)
        .orderBy("query_id", "rank")
        .as[(Long, Long, Long, Long, Double)].collect().toSeq
      val truth = Bm25.topK(seed.unionByName(b0), qs, k = 5)
        .orderBy("query_id", "rank")
        .as[(Long, Long, Long, Long, Double)].collect().toSeq
      assert(serve(committed = true) == truth)
      val ex = intercept[IllegalStateException] {
        Bm25.removeIngestBatch(spark, path, batchId = 0L, streamId = "r4",
          afterPreCheck = () => Bm25.compactStreamStats(spark, path))
      }
      assert(ex.getMessage.contains("concurrently folded"))
      assert(StreamCommit.readState(spark, path).removed.isEmpty,
        "the failed removal must not have recorded its intent")
      // postings intact, delta folded into base: both serve modes still
      // rank exactly the union corpus
      assert(serve(committed = true) == truth)
      assert(serve(committed = false) == truth)
      // and the batch is now permanently folded — re-removal refuses
      val ex2 = intercept[IllegalStateException] {
        Bm25.removeIngestBatch(spark, path, batchId = 0L, streamId = "r4")
      }
      assert(ex2.getMessage.contains("folded"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("serve-vs-rollback reader contract: a committed serve planned before a rollback fails LOUDLY when executed after it — never a silent partial result") {
    val dir = java.nio.file.Files.createTempDirectory("graft_race6").toFile
    val path = dir.getAbsolutePath
    try {
      Retrieval.writeChunkIndex(mkDocs(0, 40, "rcf"), path, nLists = 4,
        fitBudget = 48)
      assert(Retrieval.applyChunkIngestBatch(mkDocs(40, 50, "rcf"), path,
        batchId = 0L, streamId = "r6"))
      val qs = Seq((7L, "rcf w7 rho"), (47L, "rcf w47 rho"))
        .toDF("query_id", "text")
      // plan (and file-list) the serve BEFORE the rollback
      val planned = Retrieval.retrieveFromChunkIndex(spark, path, qs, k = 4,
        nProbe = 4, committedOnly = true)
      assert(Retrieval.removeChunkIngestBatch(spark, path, batchId = 0L,
        streamId = "r6"))
      val ex = intercept[Throwable] { planned.collect() }
      val chain = Iterator.iterate(ex)(_.getCause).takeWhile(_ != null)
        .take(10).toSeq
      assert(chain.exists(e =>
        e.getClass.getName.contains("FileNotFound") ||
          String.valueOf(e.getMessage).toLowerCase.contains("does not exist") ||
          String.valueOf(e.getMessage).contains("FileNotFound")),
        s"expected a loud missing-file failure, got: $ex")
      // a serve planned AFTER the rollback is correct (pre-batch corpus)
      val fresh = Retrieval.retrieveFromChunkIndex(spark, path, qs, k = 4,
          nProbe = 4, committedOnly = true)
        .select("doc_id").as[Long].collect()
      assert(fresh.nonEmpty && fresh.forall(_ < 40L))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("committed PQ serve takes ONE marker snapshot per logical call: every query shard of an over-gate serve sees the same index view") {
    val dir = java.nio.file.Files.createTempDirectory("graft_race7").toFile
    val path = dir.getAbsolutePath
    try {
      Retrieval.writeChunkIndexPq(mkDocs(0, 40, "rcg"), path, nLists = 4,
        m = 5, ksub = 16, fitBudget = 48)
      assert(Retrieval.applyPqIngestBatch(mkDocs(40, 50, "rcg"), path,
        batchId = 0L, streamId = "r7"))
      val qs = Seq((7L, "rcg w7 rho"), (47L, "rcg w47 rho"),
        (57L, "rcg w57 rho")).toDF("query_id", "text")
      def collect(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("query_id", "rank")
          .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
      // snapshot the index view WITH batch 0 committed...
      val snap0 = StreamCommit.readState(spark, path)
      val view0 = collect(Retrieval.retrieveFromChunkIndexPq(spark, path,
        qs, k = 4, nProbe = 4, shortlist = 100000, committedOnly = true))
      // ...then a second batch commits (files promoted, log committed).
      // Its docs DUPLICATE the base texts under new ids ≥ 50: identical
      // text → identical chunk embeddings → score ties right behind every
      // base hit, so batch-1 visibility changes the top-k DETERMINISTICALLY
      // (hash embeddings carry no semantics to rely on otherwise)
      val dupBatch = (50L until 90L).map(i =>
        (i, s"rcg w${i - 50} rho " * 18)).toDF("doc_id", "text")
      assert(Retrieval.applyPqIngestBatch(dupBatch, path,
        batchId = 1L, streamId = "r7"))
      // an over-gate serve pinned to snap0 recurses through query shards;
      // every shard must serve the snap0 view — batch 1 invisible in all
      // of them even though its commit is in the log at file-listing time
      val sharded = collect(Retrieval.retrievePqWithSnapshot(spark, path,
        qs, k = 4, nProbe = 4, shortlist = 100000, dim = 4, salt = "emb",
        textCol = "text", exactRerank = true, maxQueries = 1L,
        collectGate = 200000L, snapshot = Some(snap0)))
      assert(sharded == view0,
        "shards must share the one per-call snapshot (no batch-1 rows)")
      assert(!sharded.exists(_._3 >= 50L))
      // a FRESH committed serve (new call, new snapshot) does see batch 1
      val fresh = collect(Retrieval.retrieveFromChunkIndexPq(spark, path,
        qs, k = 4, nProbe = 4, shortlist = 100000, committedOnly = true))
      assert(fresh.exists(_._3 >= 50L))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("bm25 crash-then-compact: a removal dying between marker delete and scrub cannot be resurrected — the intent record keeps the orphans uncommitted, the compact folds ACROSS without the delta and finishes the scrub, and the re-run converges") {
    val dir = java.nio.file.Files.createTempDirectory("graft_race9").toFile
    val path = dir.getAbsolutePath
    try {
      val seed = mkDocs(0, 40, "rch")
      val b0 = mkDocs(40, 50, "rch")
      val b1 = mkDocs(50, 60, "rch")
      val b2 = mkDocs(60, 70, "rch")
      Bm25.writeIndex(seed, path, nBuckets = 8)
      assert(Bm25.applyIngestBatch(b0, path, batchId = 0L, streamId = "r9"))
      assert(Bm25.applyIngestBatch(b1, path, batchId = 1L, streamId = "r9"))
      assert(Bm25.applyIngestBatch(b2, path, batchId = 2L, streamId = "r9"))
      val qs = Seq((7L, "rch w7 rho"), (47L, "rch w47 rho"),
        (57L, "rch w57 rho"), (67L, "rch w67 rho")).toDF("query_id", "text")
      def serve(committed: Boolean) = Bm25.retrieveFromIndex(spark, path,
          qs, k = 5, committedOnly = committed)
        .orderBy("query_id", "rank")
        .as[(Long, Long, Long, Long, Double)].collect().toSeq
      val truth = Bm25.topK(seed.unionByName(b0).unionByName(b2), qs, k = 5)
        .orderBy("query_id", "rank")
        .as[(Long, Long, Long, Long, Double)].collect().toSeq
      // the removal of batch 1 is killed between its record and its scrub:
      // batch moved from pending to removed (delta gone with it), posting
      // files orphaned in the layout — the exact pre-r14 poison state
      val orphans = s"$path/bucket=*/r9~b1-*"
      assert(killedBeforeScrub(spark, Seq(orphans)) {
        Bm25.removeIngestBatch(spark, path, batchId = 1L, streamId = "r9")
      })
      val fs = StreamCommit.fs(spark, path)
      val orphanGlob = new org.apache.hadoop.fs.Path(orphans)
      assert(Option(fs.globStatus(orphanGlob)).getOrElse(Array.empty)
        .nonEmpty, "fixture: the crash must leave orphaned posting files")
      assert(StreamCommit.readState(spark, path).removed ==
        Map("r9" -> Set(1L)))
      // the orphans are uncommitted NOW: the committed serve ranks exactly
      // the corpus minus batch 1, stats matching the scanned postings
      assert(serve(committed = true) == truth)
      // the compact folds the contiguous pending-or-removed run {0,rm(1),2}
      // to watermark 2 WITHOUT batch 1's delta — pre-r14 the per-stream-MAX
      // fold here permanently committed the orphans with no delta. Killed
      // after its commit and before its scrub, it leaves the orphans
      // uncommitted; its re-run commits nothing new and finishes the scrub
      killedBeforeScrub(spark, Seq(orphans)) {
        Bm25.compactStreamStats(spark, path)
      }
      val st = StreamCommit.readState(spark, path)
      val versions = logVersions(path)
      assert(serve(committed = true) == truth)
      Bm25.compactStreamStats(spark, path)
      assert(StreamCommit.readState(spark, path) == st &&
        logVersions(path) == versions,
        "the re-run compaction must land on the same state")
      assert(st.watermarks == Map("r9" -> 2L))
      assert(st.removed == Map("r9" -> Set(1L)),
        "the removal record must survive compaction (it IS the convergence)")
      assert(st.payload("n_docs") == Bm25.corpusStats(
        seed.unionByName(b0).unionByName(b2))._1,
        "the folded base stats must not carry the removed batch's delta")
      assert(Option(fs.globStatus(orphanGlob)).getOrElse(Array.empty).isEmpty,
        "the compact must finish the crashed removal's scrub")
      // batch 1 is invisible in BOTH serve modes
      assert(serve(committed = true) == truth)
      assert(serve(committed = false) == truth)
      // the re-run removal CONVERGES (idempotent no-op) instead of
      // throwing "already folded" — the recorded intent distinguishes a
      // rolled-back batch from a genuinely folded one forever
      assert(!Bm25.removeIngestBatch(spark, path, batchId = 1L,
        streamId = "r9"))
      // and a replay cannot resurrect the excised batch
      val ex = intercept[IllegalStateException] {
        Bm25.applyIngestBatch(b1, path, batchId = 1L, streamId = "r9")
      }
      assert(ex.getMessage.contains("rolled back"))
      assert(serve(committed = false) == truth)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("dense crash-then-compact: a removal dying between marker delete and scrub stays excised — orphans uncommitted via the record, compact folds across, re-run converges, replay refused") {
    val dir = java.nio.file.Files.createTempDirectory("graft_race10").toFile
    val path = dir.getAbsolutePath
    try {
      Retrieval.writeChunkIndex(mkDocs(0, 40, "rci"), path, nLists = 4,
        fitBudget = 48)
      assert(Retrieval.applyChunkIngestBatch(mkDocs(40, 50, "rci"), path,
        batchId = 0L, streamId = "ra"))
      assert(Retrieval.applyChunkIngestBatch(mkDocs(50, 60, "rci"), path,
        batchId = 1L, streamId = "ra"))
      val glob = s"${StreamCommit.escapeGlob(path)}/list=*/ra~b1-*"
      assert(killedBeforeScrub(spark, Seq(glob)) {
        StreamCommit.removeBatchGuarded(spark, path, "ra", 1L, Seq(glob))
      })
      val fs = StreamCommit.fs(spark, path)
      assert(Option(fs.globStatus(new org.apache.hadoop.fs.Path(glob)))
        .getOrElse(Array.empty).nonEmpty,
        "fixture: the crash must leave orphaned data files")
      // committed serve excludes the orphans via the removed record even
      // though no watermark covers them yet
      val qs = Seq((7L, "rci w7 rho"), (47L, "rci w47 rho"),
        (57L, "rci w57 rho")).toDF("query_id", "text")
      def servedIds() = Retrieval.retrieveFromChunkIndex(spark, path, qs,
          k = 4, nProbe = 4, committedOnly = true)
        .select("doc_id").as[Long].collect().toSeq
      assert(!servedIds().exists(id => id >= 50L && id < 60L))
      // compact folds ACROSS the recorded removal; the record survives
      assert(compactDense(path) == Map("ra" -> 1L))
      val st = StreamCommit.readState(spark, path)
      assert(st.removed == Map("ra" -> Set(1L)))
      assert(!servedIds().exists(id => id >= 50L && id < 60L),
        "folding across the gap must not commit the orphans")
      // re-run converges: finishes the scrub, returns false
      assert(!Retrieval.removeChunkIngestBatch(spark, path, batchId = 1L,
        streamId = "ra"))
      assert(Option(fs.globStatus(new org.apache.hadoop.fs.Path(glob)))
        .getOrElse(Array.empty).isEmpty,
        "the re-run must finish the crashed removal's scrub")
      // a replay of the excised batch refuses loudly
      val ex = intercept[IllegalStateException] {
        Retrieval.applyChunkIngestBatch(mkDocs(50, 60, "rci"), path,
          batchId = 1L, streamId = "ra")
      }
      assert(ex.getMessage.contains("rolled back"))
      // a FOLDED (never removed) batch replays as a clean no-op
      assert(!Retrieval.applyChunkIngestBatch(mkDocs(40, 50, "rci"), path,
        batchId = 0L, streamId = "ra"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("no-trace removal guard: a never-ingested batchId refuses loudly (recording it would brick the stream's future apply); --missing-ok records it and compaction folds across") {
    val dir = java.nio.file.Files.createTempDirectory("graft_race11").toFile
    val path = dir.getAbsolutePath
    try {
      Retrieval.writeChunkIndex(mkDocs(0, 40, "rcj"), path, nLists = 4,
        fitBudget = 48)
      assert(Retrieval.applyChunkIngestBatch(mkDocs(40, 50, "rcj"), path,
        batchId = 0L, streamId = "rb"))
      // fat-fingered removal of a batch that does not exist: refuse, and
      // record NOTHING — the stream must still be able to apply batch 7
      val ex = intercept[IllegalArgumentException] {
        Retrieval.removeChunkIngestBatch(spark, path, batchId = 7L,
          streamId = "rb")
      }
      assert(ex.getMessage.contains("nothing to remove"))
      assert(StreamCommit.readState(spark, path).removed.isEmpty)
      // same guard on a BM25 layout
      val bdir = java.nio.file.Files.createTempDirectory("graft_race11b")
        .toFile
      try {
        Bm25.writeIndex(mkDocs(0, 40, "rcj"), bdir.getAbsolutePath,
          nBuckets = 8)
        val exB = intercept[IllegalArgumentException] {
          Bm25.removeIngestBatch(spark, bdir.getAbsolutePath, batchId = 3L,
            streamId = "rb")
        }
        assert(exB.getMessage.contains("nothing to remove"))
        assert(StreamCommit.readState(spark, bdir.getAbsolutePath)
          .removed.isEmpty)
      } finally org.apache.commons.io.FileUtils.deleteDirectory(bdir)
      // the legitimate traceless case — pre-intent-record crash residue
      // (marker and files long gone, watermark pinned at the gap):
      // --missing-ok records the removal and compaction folds across it
      assert(Retrieval.applyChunkIngestBatch(mkDocs(50, 60, "rcj"), path,
        batchId = 2L, streamId = "rb"))   // batch 1 "vanished" pre-record
      assert(compactDense(path) == Map("rb" -> 0L),
        "the unrecorded gap at batch 1 must pin the watermark")
      assert(!Retrieval.removeChunkIngestBatch(spark, path, batchId = 1L,
        streamId = "rb", allowMissing = true))
      assert(compactDense(path) == Map("rb" -> 2L),
        "the recorded removal must unpin the fold")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("contiguous-fold no-progress signal: a lineage whose batchIds do not start at 0 bumps ingest_compact_pinned_total instead of silently never compacting") {
    val dir = java.nio.file.Files.createTempDirectory("graft_race12").toFile
    val path = dir.getAbsolutePath
    try {
      Retrieval.writeChunkIndex(mkDocs(0, 40, "rck"), path, nLists = 4,
        fitBudget = 48)
      // 1-based manual ingest: batch 0 never exists in this lineage
      assert(Retrieval.applyChunkIngestBatch(mkDocs(40, 50, "rck"), path,
        batchId = 1L, streamId = "rc"))
      val c0 = graft.metrics.GraftCounters.get("ingest_compact_pinned_total")
      assert(compactDense(path)
        .getOrElse("rc", -1L) == -1L,
        "an unrecorded batch-0 gap must pin the fold (safety first)")
      assert(graft.metrics.GraftCounters
        .get("ingest_compact_pinned_total") == c0 + 1,
        "the permanently-pinned stream must be observable, not silent")
      // a fold that DOES progress does not bump the counter
      assert(Retrieval.applyChunkIngestBatch(mkDocs(50, 60, "rck"), path,
        batchId = 0L, streamId = "rc"))
      val c1 = graft.metrics.GraftCounters.get("ingest_compact_pinned_total")
      assert(compactDense(path) == Map("rc" -> 1L))
      assert(graft.metrics.GraftCounters
        .get("ingest_compact_pinned_total") == c1)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("per-stream independence: one stream's fold and removal records never gate another stream's batches of the same ids") {
    val dir = java.nio.file.Files.createTempDirectory("graft_race13").toFile
    val path = dir.getAbsolutePath
    try {
      Retrieval.writeChunkIndex(mkDocs(0, 40, "rcl"), path, nLists = 4,
        fitBudget = 48)
      assert(Retrieval.applyChunkIngestBatch(mkDocs(40, 50, "rcl"), path,
        batchId = 0L, streamId = "sA"))
      assert(Retrieval.applyChunkIngestBatch(mkDocs(50, 60, "rcl"), path,
        batchId = 1L, streamId = "sA"))
      assert(Retrieval.applyChunkIngestBatch(mkDocs(60, 70, "rcl"), path,
        batchId = 0L, streamId = "sB"))
      // sA rolls back ITS batch 1; sB is untouched
      assert(Retrieval.removeChunkIngestBatch(spark, path, batchId = 1L,
        streamId = "sA"))
      assert(compactDense(path) ==
        Map("sA" -> 1L, "sB" -> 0L),
        "folds must advance per stream, across sA's recorded removal")
      // sB's batch 1 must still apply — sA's removal record is namespaced
      assert(Retrieval.applyChunkIngestBatch(mkDocs(70, 80, "rcl"), path,
        batchId = 1L, streamId = "sB"))
      assert(compactDense(path) ==
        Map("sA" -> 1L, "sB" -> 1L))
      // and sA's excised ids stay excised while sB's batch-1 ids are
      // committed — asserted on the committed FILE view (hash embeddings
      // carry no semantics, so a rank-based assertion would be luck)
      val fs = StreamCommit.fs(spark, path)
      val committed = StreamCommit.committedDataFiles(fs,
        Seq(s"${StreamCommit.escapeGlob(path)}/list=*/*"),
        StreamCommit.readState(spark, path))
      val ids = spark.read.option("basePath", path).parquet(committed: _*)
        .select("doc_id").distinct().as[Long].collect().toSet
      assert(!ids.exists(id => id >= 50L && id < 60L),
        "sA's removed batch must stay out of the committed view")
      assert((70L until 80L).forall(ids),
        "sB's batch 1 must be fully committed")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("interleaved ingest-log writers: a round lost to a concurrent commit re-derives from the winner's state — two streams applying into one layout both land, and the retry counter counts the lost round") {
    val dir = java.nio.file.Files.createTempDirectory("graft_race14").toFile
    val path = dir.getAbsolutePath
    try {
      Retrieval.writeChunkIndex(mkDocs(0, 40, "rcm"), path, nLists = 4,
        fitBudget = 48)
      // stream sA's batch 0 promoted, its log commit still to come
      assert(Retrieval.applyChunkIngestBatch(mkDocs(40, 50, "rcm"), path,
        batchId = 0L, streamId = "sA"))
      dropNewestEntry(path)
      assert(StreamCommit.readState(spark, path).pending.isEmpty)
      // sA's commit derives from version v; inside that round stream sB's
      // whole apply commits v+1, so sA loses the race for v+1, re-derives
      // on top of sB's batch and lands as v+2
      val r0 = retries
      var rounds = 0
      val v = logVersions(path).lastOption.getOrElse(0L)
      StreamCommit.advance(spark, path) { st =>
        rounds += 1
        if (rounds == 1)
          assert(Retrieval.applyChunkIngestBatch(mkDocs(50, 60, "rcm"), path,
            batchId = 0L, streamId = "sB"))
        st.copy(pending = st.pending + ("sA" -> Map(0L -> Map.empty)))
      }
      assert(rounds == 2 && retries == r0 + 1)
      assert(logVersions(path).last == v + 2)
      assert(StreamCommit.readState(spark, path).pending ==
        Map("sA" -> Map(0L -> Map.empty), "sB" -> Map(0L -> Map.empty)))
      // two streams' applies running concurrently: every batch lands,
      // whichever rounds were lost
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        val runs = Seq("sA" -> 60L, "sB" -> 80L).map { case (sid, lo) =>
          pool.submit(new java.util.concurrent.Callable[Seq[Boolean]] {
            def call(): Seq[Boolean] = Seq(1L, 2L).map(b =>
              Retrieval.applyChunkIngestBatch(
                mkDocs(lo + 10 * (b - 1), lo + 10 * b, "rcm"), path,
                batchId = b, streamId = sid))
          })
        }
        assert(runs.forall(_.get().forall(identity)))
      } finally pool.shutdown()
      val st = StreamCommit.readState(spark, path)
      assert(st.pending.view.mapValues(_.keySet).toMap ==
        Map("sA" -> Set(0L, 1L, 2L), "sB" -> Set(0L, 1L, 2L)))
      assert(compactDense(path) == Map("sA" -> 2L, "sB" -> 2L))
      val ids = spark.read.option("basePath", path)
        .parquet(StreamCommit.committedDataFiles(StreamCommit.fs(spark, path),
          Seq(s"${StreamCommit.escapeGlob(path)}/list=*/*"),
          StreamCommit.readState(spark, path)): _*)
        .select("doc_id").distinct().as[Long].collect().toSet
      assert((0L until 100L).forall(ids), "every batch must be committed")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("ingest log retention: after 12 commits exactly the newest 10 entries remain and reads return the newest; a writer holding a version below the kept window fails its CAS") {
    val dir = java.nio.file.Files.createTempDirectory("graft_race15").toFile
    val path = dir.getAbsolutePath
    try {
      assert(StreamCommit.readState(spark, path) == StreamCommit.LogState())
      val states = (1 to 12).map(i => StreamCommit.advance(spark, path)(
        _.copy(watermarks = Map("s" -> i.toLong),
          payload = Map("n" -> i.toLong * 10))))
      assert(logVersions(path) == (3L to 12L),
        "the newest KeptVersions entries must remain")
      assert(graft.util.VersionedLog.KeptVersions == 10)
      assert(StreamCommit.readState(spark, path) == states.last)
      // a writer that held version 1 all along: its target (2) was
      // deleted by retention, so create-if-absent would succeed — the
      // kept-window check must still fail it and remove its entry
      val lost = graft.util.VersionedLog.commit(
        spark.sparkContext.hadoopConfiguration, path, 2L,
        """{"watermarks":{"s":99}}""")
      assert(lost.exists(_.contains("below the kept window")))
      assert(logVersions(path) == (3L to 12L))
      assert(StreamCommit.readState(spark, path) == states.last)
      assert(!new java.io.File(path, "_graft_log").list()
        .exists(_.endsWith(".tmp")), "no writer temp may linger")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("migration: layouts written with the pre-log sidecars (BM25 stats with folded/removed, dense envelope, bare map) serve the same rows, refuse the same replays, and their first admin commit writes the next log version") {
    val dir = java.nio.file.Files.createTempDirectory("graft_race16").toFile
    // the pre-log form: live batches as marker files, the log replaced by
    // the sidecar
    def toLegacy(path: String, name: String, body: String): Unit = {
      toMarkerLayout(path)
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(path, "_graft_log"))
      graft.util.Sidecar.write(spark, path, name, body)
    }
    try {
      val qs = Seq((7L, "rcn w7 rho"), (47L, "rcn w47 rho"),
        (57L, "rcn w57 rho"), (77L, "rcn w77 rho")).toDF("query_id", "text")
      // a BM25 layout with a folded watermark, a removed batch and one
      // pending batch (3)
      def bm25Layout(path: String): Unit = {
        Bm25.writeIndex(mkDocs(0, 40, "rcn"), path, nBuckets = 8)
        Seq(0L, 1L, 2L).foreach(b => assert(Bm25.applyIngestBatch(
          mkDocs(40 + 10 * b, 50 + 10 * b, "rcn"), path, b, "mg")))
        assert(Bm25.removeIngestBatch(spark, path, 1L, "mg"))
        Bm25.compactStreamStats(spark, path)
        assert(Bm25.applyIngestBatch(mkDocs(70, 80, "rcn"), path, 3L, "mg"))
      }
      def bm25Rows(path: String) = Seq(false, true).map(c =>
        Bm25.retrieveFromIndex(spark, path, qs, k = 5, committedOnly = c)
          .orderBy("query_id", "rank").collect().toSeq)

      // ---- BM25 stats sidecar: folded watermark, removed set, live marker
      val bpath = s"$dir/bm25"
      bm25Layout(bpath)
      val bExpect = bm25Rows(bpath)
      val bSt = StreamCommit.readState(spark, bpath)
      assert(bSt.watermarks == Map("mg" -> 2L) &&
        bSt.removed == Map("mg" -> Set(1L)) &&
        bSt.pending.view.mapValues(_.keySet).toMap == Map("mg" -> Set(3L)))
      toLegacy(bpath, "_bm25_stats.json",
        s"""{"n_docs":${bSt.payload("n_docs")},""" +
          s""""total_tokens":${bSt.payload("total_tokens")},""" +
          """"n_buckets":8,"version":7,"writer":"w-old",""" +
          """"folded":{"mg":2},"removed":{"mg":[1]}}""")
      assert(logVersions(bpath).isEmpty && markerTags(bpath) == Set("mg~b3"))
      assert(StreamCommit.readState(spark, bpath) == bSt)
      assert(bm25Rows(bpath) == bExpect)
      assert(intercept[IllegalStateException] {
        Bm25.applyIngestBatch(mkDocs(50, 60, "rcn"), bpath, 1L, "mg")
      }.getMessage.contains("rolled back"))
      assert(!Bm25.applyIngestBatch(mkDocs(40, 50, "rcn"), bpath, 0L, "mg"))
      assert(!Bm25.applyIngestBatch(mkDocs(70, 80, "rcn"), bpath, 3L, "mg"))
      Bm25.compactStreamStats(spark, bpath)
      assert(logVersions(bpath) == Seq(1L))
      assert(markerTags(bpath).isEmpty,
        "the first log commit must drop the recorded markers")
      assert(StreamCommit.readState(spark, bpath).watermarks == Map("mg" -> 3L))
      assert(bm25Rows(bpath) == bExpect)

      // ---- a layout the marker protocol wrote beside its log: the newest
      // entry carries no `pending`, the live batches are marker files, and
      // a crashed apply (batch 4: files promoted, no marker) is uncommitted
      val mpath = s"$dir/markers"
      bm25Layout(mpath)
      assert(bm25Rows(mpath) == bExpect)
      val mSt = StreamCommit.readState(spark, mpath)
      assert(Bm25.applyIngestBatch(mkDocs(80, 90, "rcn"), mpath, 4L, "mg"))
      dropNewestEntry(mpath)
      toMarkerLayout(mpath)
      val mVersions = logVersions(mpath)
      assert(markerTags(mpath) == Set("mg~b3"))
      assert(StreamCommit.readState(spark, mpath) == mSt)
      assert(bm25Rows(mpath)(1) == bExpect(1),
        "the committed serve must read the live markers and skip batch 4")
      assert(intercept[IllegalStateException] {
        Bm25.applyIngestBatch(mkDocs(50, 60, "rcn"), mpath, 1L, "mg")
      }.getMessage.contains("rolled back"))
      assert(!Bm25.applyIngestBatch(mkDocs(40, 50, "rcn"), mpath, 0L, "mg"))
      assert(!Bm25.applyIngestBatch(mkDocs(70, 80, "rcn"), mpath, 3L, "mg"))
      assert(logVersions(mpath) == mVersions && markerTags(mpath).nonEmpty,
        "refused and no-op replays commit nothing")
      // the replay of batch 4 is the first new commit: it lands batch 4
      // once, records batch 3 from its marker and drops the marker
      assert(Bm25.applyIngestBatch(mkDocs(80, 90, "rcn"), mpath, 4L, "mg"))
      assert(markerTags(mpath).isEmpty)
      assert(StreamCommit.readState(spark, mpath).pending
        .view.mapValues(_.keySet).toMap == Map("mg" -> Set(3L, 4L)))
      val withB4 = Bm25.topK(mkDocs(0, 50, "rcn").unionByName(
          mkDocs(60, 90, "rcn")), qs, k = 5)
        .orderBy("query_id", "rank").collect().toSeq
      assert(bm25Rows(mpath) == Seq(withB4, withB4))

      // ---- dense watermark envelope, and the bare pre-envelope map
      def denseCase(name: String, legacyBody: String,
                    legacyState: StreamCommit.LogState,
                    removeOne: Boolean): Unit = {
        val path = s"$dir/$name"
        Retrieval.writeChunkIndex(mkDocs(0, 40, "rcn"), path, nLists = 4,
          fitBudget = 48)
        Seq(0L, 1L, 2L).foreach(b => assert(Retrieval.applyChunkIngestBatch(
          mkDocs(40 + 10 * b, 50 + 10 * b, "rcn"), path, b, streamId = "s1")))
        if (removeOne)
          assert(Retrieval.removeChunkIngestBatch(spark, path, 2L, "s1"))
        compactDense(path)
        assert(Retrieval.applyChunkIngestBatch(mkDocs(70, 80, "rcn"), path,
          3L, streamId = "s1"))
        def rows(committed: Boolean) = Retrieval.retrieveFromChunkIndex(
            spark, path, qs, k = 4, nProbe = 4, committedOnly = committed)
          .orderBy("query_id", "rank").collect().toSeq
        val expect = (rows(committed = false), rows(committed = true))
        val live = legacyState.copy(pending = Map("s1" -> Map(3L -> Map.empty)))
        assert(StreamCommit.readState(spark, path) == live)
        toLegacy(path, "_ingest_watermarks.json", legacyBody)
        assert(logVersions(path).isEmpty)
        assert(StreamCommit.readState(spark, path) == live)
        assert((rows(committed = false), rows(committed = true)) == expect)
        if (removeOne)
          assert(intercept[IllegalStateException] {
            Retrieval.applyChunkIngestBatch(mkDocs(60, 70, "rcn"), path, 2L,
              streamId = "s1")
          }.getMessage.contains("rolled back"))
        assert(!Retrieval.applyChunkIngestBatch(mkDocs(40, 50, "rcn"), path,
          0L, streamId = "s1"))
        assert(compactDense(path) == Map("s1" -> 3L))
        assert(logVersions(path) == Seq(1L) && markerTags(path).isEmpty)
        assert((rows(committed = false), rows(committed = true)) == expect)
      }
      denseCase("envelope",
        """{"version":4,"writer":"w-old","watermarks":{"s1":2},""" +
          """"removed":{"s1":[2]}}""",
        StreamCommit.LogState(Map("s1" -> 2L), Map("s1" -> Set(2L))),
        removeOne = true)
      denseCase("bare", """{"s1":2}""",
        StreamCommit.LogState(Map("s1" -> 2L)), removeOne = false)

      // the bare map's first commit advances it to log version 1 and
      // round-trips
      val cpath = s"$dir/cas"
      new java.io.File(cpath).mkdirs()
      graft.util.Sidecar.write(spark, cpath, "_ingest_watermarks.json",
        """{"s1":4}""")
      assert(StreamCommit.readState(spark, cpath) ==
        StreamCommit.LogState(Map("s1" -> 4L)))
      val st = StreamCommit.advance(spark, cpath)(_.copy(
        watermarks = Map("s1" -> 6L), removed = Map("s1" -> Set(5L))))
      assert(logVersions(cpath) == Seq(1L))
      assert(StreamCommit.readState(spark, cpath) == st &&
        st == StreamCommit.LogState(Map("s1" -> 6L), Map("s1" -> Set(5L))))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }
}
