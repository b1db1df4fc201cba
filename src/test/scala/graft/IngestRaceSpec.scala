package graft

import org.apache.spark.sql.functions._
import graft.ann.{Bm25, Retrieval}
import graft.util.StreamCommit

/** The ingest-protocol admin races: marker compaction vs batch rollback on
  * the one versioned ingest log (`_graft_log/`) every layout keeps — dense
  * chunk indexes and BM25 — in BOTH interleaving orders; each must fail
  * LOUDLY on at least one side instead of silently stamping a scrubbed
  * batch permanently committed (or folding its stats delta). Plus the
  * log's create-if-absent CAS between two admins holding one version, its
  * retention window, the migration of layouts written with the pre-log
  * sidecars, the serve-vs-rollback reader contract and the
  * one-snapshot-per-serve-call coherence of the committed-only dense
  * serve.
  */
class IngestRaceSpec extends SparkSpec {
  import spark.implicits._

  private def mkDocs(lo: Long, hi: Long, word: String) =
    (lo until hi).map(i => (i, s"$word w$i rho " * 18)).toDF("doc_id", "text")

  private def compactDense(path: String) =
    StreamCommit.compactMarkers(spark, path, Retrieval.chunkBatchGlobs(path))

  private def conflicts = graft.metrics.GraftCounters
    .get("ingest_log_cas_conflict_total")

  test("dense race, removal-then-stale-compact: a compact whose marker listing predates a rollback fails its CAS loudly; a fresh compact extends the watermark ACROSS the recorded removal") {
    val dir = java.nio.file.Files.createTempDirectory("graft_race1").toFile
    val path = dir.getAbsolutePath
    try {
      Retrieval.writeChunkIndex(mkDocs(0, 40, "rca"), path, nLists = 4,
        fitBudget = 48)
      assert(Retrieval.applyChunkIngestBatch(mkDocs(40, 50, "rca"), path,
        batchId = 0L, streamId = "r1"))
      assert(Retrieval.applyChunkIngestBatch(mkDocs(50, 60, "rca"), path,
        batchId = 1L, streamId = "r1"))
      val fs = StreamCommit.fs(spark, path)
      // the doomed compact reads its state and lists markers FIRST...
      val staleState = StreamCommit.readState(spark, path)
      val staleMarkers = StreamCommit.listMarkers(fs, path)
      assert(staleMarkers.map(_._2).sorted == Seq(0L, 1L))
      // ...then the rollback completes (marker delete, scrub, recorded)
      assert(Retrieval.removeChunkIngestBatch(spark, path, batchId = 1L,
        streamId = "r1"))
      val afterRemove = StreamCommit.readState(spark, path)
      assert(afterRemove.removed == Map("r1" -> Set(1L)))
      assert(afterRemove.version == staleState.version + 1,
        "a rollback must bump the log version (that IS the guard)")
      // the stale compact would stamp the scrubbed batch 1 committed — its
      // CAS must fail loudly and leave the log untouched
      val c0 = conflicts
      val ex = intercept[IllegalStateException] {
        StreamCommit.compactMarkersFrom(spark, path, staleState, staleMarkers,
          Retrieval.chunkBatchGlobs(path))
      }
      assert(ex.getMessage.contains("CAS conflict"))
      assert(conflicts == c0 + 1)
      assert(StreamCommit.readState(spark, path) == afterRemove)
      // batch 0's marker must survive (the failed compact deletes nothing)
      assert(StreamCommit.listMarkers(fs, path).map(_._2) == Seq(0L))
      // a FRESH compact folds batch 0 and extends the watermark across the
      // deliberately removed batch 1 — a rollback no longer pins the
      // watermark (and with it the committed serve's marker scan) forever
      assert(compactDense(path) == Map("r1" -> 1L))
      assert(StreamCommit.listMarkers(fs, path).isEmpty)
      // later batches keep folding past the gap
      assert(Retrieval.applyChunkIngestBatch(mkDocs(60, 70, "rca"), path,
        batchId = 2L, streamId = "r1"))
      assert(compactDense(path) == Map("r1" -> 2L))
      // committed serve sees folded batches 0 and 2, never the removed 1
      val qs = Seq((7L, "rca w7 rho"), (47L, "rca w47 rho"),
        (57L, "rca w57 rho"), (67L, "rca w67 rho")).toDF("query_id", "text")
      val served = Retrieval.retrieveFromChunkIndex(spark, path, qs, k = 4,
          nProbe = 4, committedOnly = true)
        .select("query_id", "doc_id").as[(Long, Long)].collect().toSeq
      assert(served.exists(_._2 >= 60L) && served.exists(_._2 < 50L))
      assert(!served.exists(r => r._2 >= 50L && r._2 < 60L),
        "the removed batch must stay invisible after folding past it")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

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
      val c0 = conflicts
      // the compact lands between the removal's state read and its intent
      // record — the removal's CAS must fail against the moved version and
      // abort with NOTHING mutated (intent-first: the record is write #1)
      val ex = intercept[IllegalStateException] {
        StreamCommit.removeBatchGuarded(spark, path, "r2", 0L, Seq(glob),
          afterPreCheck =
            () => compactDense(path))
      }
      assert(ex.getMessage.contains("concurrently compacted"))
      assert(StreamCommit.readState(spark, path).removed.isEmpty,
        "the failed removal must not have recorded its intent")
      assert(conflicts == c0 + 1)
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
      val c0 = conflicts
      val ex = intercept[IllegalStateException] {
        Bm25.removeIngestBatch(spark, path, batchId = 0L, streamId = "r4",
          afterPreCheck = () => Bm25.compactStreamStats(spark, path))
      }
      assert(ex.getMessage.contains("concurrently folded"))
      assert(StreamCommit.readState(spark, path).removed.isEmpty,
        "the failed removal must not have recorded its intent")
      assert(conflicts == c0 + 1)
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

  test("bm25 race, removal-then-stale-compact: a clean rollback bumps the stats version, so a compact holding the pre-delete marker listing fails its CAS instead of folding the scrubbed delta") {
    val dir = java.nio.file.Files.createTempDirectory("graft_race5").toFile
    val path = dir.getAbsolutePath
    try {
      Bm25.writeIndex(mkDocs(0, 40, "rce"), path, nBuckets = 8)
      assert(Bm25.applyIngestBatch(mkDocs(40, 50, "rce"), path,
        batchId = 0L, streamId = "r5"))
      // the doomed compact's RMW reads the log state (version v)...
      val stale = StreamCommit.readState(spark, path)
      val staleMarkers = StreamCommit.listMarkers(
        StreamCommit.fs(spark, path), path)
      assert(staleMarkers.nonEmpty)
      // ...the rollback completes (marker deleted, postings scrubbed,
      // version bumped — the bump IS the guard)
      assert(Bm25.removeIngestBatch(spark, path, batchId = 0L,
        streamId = "r5"))
      val afterRemove = StreamCommit.readState(spark, path)
      assert(afterRemove.version == stale.version + 1)
      assert(afterRemove.payload == stale.payload,
        "rollback must not change the base counts")
      // the stale compact's write (base + the scrubbed batch's delta, as
      // compactStreamStats would compute from its stale listing) must fail
      val delta = graft.util.Sidecar.requiredLong(staleMarkers.head._3,
        "n_docs", "test marker")
      val ex = intercept[IllegalStateException] {
        StreamCommit.commit(spark, path, stale.next(
          watermarks = stale.watermarks + ("r5" -> 0L),
          payload = stale.payload +
            ("n_docs" -> (stale.payload("n_docs") + delta))), "test hint")
      }
      assert(ex.getMessage.contains("CAS conflict"))
      assert(StreamCommit.readState(spark, path) == afterRemove,
        "the stale fold must not land")
      // the REAL compact path, run fresh, is a safe no-op (marker gone)
      Bm25.compactStreamStats(spark, path)
      assert(StreamCommit.readState(spark, path).payload("n_docs") ==
        stale.payload("n_docs"))
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
      val snap0 = StreamCommit.committedView(spark, path)
      val view0 = collect(Retrieval.retrieveFromChunkIndexPq(spark, path,
        qs, k = 4, nProbe = 4, shortlist = 100000, committedOnly = true))
      // ...then a second batch commits (marker lands, files promoted).
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
      // of them even though its marker is on disk at file-listing time
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
      // the removal of batch 1 CRASHES between its marker delete and its
      // scrub: intent recorded, marker gone (delta died with it), posting
      // files orphaned in the layout — the exact pre-r14 poison state
      val boom = new RuntimeException("crash before scrub")
      assert(intercept[RuntimeException] {
        Bm25.removeIngestBatch(spark, path, batchId = 1L, streamId = "r9",
          afterMarkerDelete = () => throw boom)
      } eq boom)
      val fs = StreamCommit.fs(spark, path)
      val orphanGlob = new org.apache.hadoop.fs.Path(
        s"$path/bucket=*/r9~b1-*")
      assert(Option(fs.globStatus(orphanGlob)).getOrElse(Array.empty)
        .nonEmpty, "fixture: the crash must leave orphaned posting files")
      assert(StreamCommit.readState(spark, path).removed ==
        Map("r9" -> Set(1L)))
      // the orphans are uncommitted NOW: the committed serve ranks exactly
      // the corpus minus batch 1, stats matching the scanned postings
      assert(serve(committed = true) == truth)
      // the compact folds the contiguous markers-or-removed run {0,rm(1),2}
      // to watermark 2 WITHOUT batch 1's delta — pre-r14 the per-stream-MAX
      // fold here permanently committed the orphans with no delta — and
      // finishes the crashed removal's scrub
      Bm25.compactStreamStats(spark, path)
      val st = StreamCommit.readState(spark, path)
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
      val boom = new RuntimeException("crash before scrub")
      assert(intercept[RuntimeException] {
        StreamCommit.removeBatchGuarded(spark, path, "ra", 1L, Seq(glob),
          afterMarkerDelete = () => throw boom)
      } eq boom)
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
      val (markers, st) = StreamCommit.committedView(spark, path)
      val committed = StreamCommit.committedDataFiles(fs,
        Seq(s"${StreamCommit.escapeGlob(path)}/list=*/*"), markers, st)
      val ids = spark.read.option("basePath", path).parquet(committed: _*)
        .select("doc_id").distinct().as[Long].collect().toSet
      assert(!ids.exists(id => id >= 50L && id < 60L),
        "sA's removed batch must stay out of the committed view")
      assert((70L until 80L).forall(ids),
        "sB's batch 1 must be fully committed")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  /** Every file under a layout (relative path → size), `.crc` excluded —
    * the "mutated nothing" witness for a losing admin writer.
    */
  private def layoutFiles(path: String): Map[String, Long] = {
    val root = new java.io.File(path).toPath
    val it = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      it.iterator().asScala.map(_.toFile)
        .filter(f => f.isFile && !f.getName.endsWith(".crc"))
        .map(f => root.relativize(f.toPath).toString -> f.length).toMap
    } finally it.close()
  }

  private def logVersions(path: String): Seq[Long] =
    Option(new java.io.File(path, "_graft_log").listFiles())
      .getOrElse(Array.empty).map(_.getName)
      .filter(_.matches("[0-9]+")).map(_.toLong).sorted.toSeq

  test("interleaved admins: two writers holding the same log version — the second commit fails its create-if-absent CAS with nothing mutated (two compactions; a compaction against an append)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_race14").toFile
    val path = dir.getAbsolutePath
    try {
      Retrieval.writeChunkIndex(mkDocs(0, 40, "rcm"), path, nLists = 4,
        fitBudget = 48)
      assert(Retrieval.applyChunkIngestBatch(mkDocs(40, 50, "rcm"), path,
        batchId = 0L, streamId = "rm"))
      assert(Retrieval.applyChunkIngestBatch(mkDocs(50, 60, "rcm"), path,
        batchId = 1L, streamId = "rm"))
      val fs = StreamCommit.fs(spark, path)
      // both compactions read version v and list the same markers...
      val held = StreamCommit.readState(spark, path)
      val markers = StreamCommit.listMarkers(fs, path)
      // ...A commits v+1 (and deletes the folded markers)...
      assert(StreamCommit.compactMarkersFrom(spark, path, held, markers,
        Retrieval.chunkBatchGlobs(path)) == Map("rm" -> 1L))
      val afterA = StreamCommit.readState(spark, path)
      assert(afterA.version == held.version + 1 &&
        afterA.watermarks == Map("rm" -> 1L))
      val filesA = layoutFiles(path)
      // ...and B, still holding v, loses the race for entry v+1
      val c0 = conflicts
      val ex = intercept[IllegalStateException] {
        StreamCommit.compactMarkersFrom(spark, path, held, markers,
          Retrieval.chunkBatchGlobs(path))
      }
      assert(ex.getMessage.contains("CAS conflict"))
      assert(conflicts == c0 + 1)
      assert(StreamCommit.readState(spark, path) == afterA,
        "the log must hold A's state only")
      assert(layoutFiles(path) == filesA, "B must have mutated nothing")

      // a BM25 compaction holding version v against a batch append that
      // commits v+1 first: the compaction loses, its markers and the
      // appended stats stay exactly as the append left them
      val bdir = java.nio.file.Files.createTempDirectory("graft_race14b")
        .toFile
      val bpath = bdir.getAbsolutePath
      try {
        Bm25.writeIndex(mkDocs(0, 40, "rcm"), bpath, nBuckets = 8)
        assert(Bm25.applyIngestBatch(mkDocs(40, 50, "rcm"), bpath,
          batchId = 0L, streamId = "rm"))
        val bfs = StreamCommit.fs(spark, bpath)
        val heldB = StreamCommit.readState(spark, bpath)
        val markersB = StreamCommit.listMarkers(bfs, bpath)
        Bm25.appendToIndex(mkDocs(60, 70, "rcm"), bpath)
        val afterAppend = StreamCommit.readState(spark, bpath)
        assert(afterAppend.version == heldB.version + 1)
        assert(afterAppend.payload("n_docs") == heldB.payload("n_docs") + 10)
        val filesAppend = layoutFiles(bpath)
        val c1 = conflicts
        val exB = intercept[IllegalStateException] {
          StreamCommit.compactMarkersFrom(spark, bpath, heldB, markersB,
            Bm25.batchGlobs(bpath))
        }
        assert(exB.getMessage.contains("CAS conflict"))
        assert(conflicts == c1 + 1)
        assert(StreamCommit.readState(spark, bpath) == afterAppend,
          "the log must hold the append's state only")
        assert(layoutFiles(bpath) == filesAppend,
          "the losing compaction must have mutated nothing")
        // the documented recovery — re-run the compaction — folds the
        // marker on top of the append, and the index serves the union
        Bm25.compactStreamStats(spark, bpath)
        assert(StreamCommit.listMarkers(bfs, bpath).isEmpty)
        val qs = Seq((7L, "rcm w7 rho"), (47L, "rcm w47 rho"),
          (67L, "rcm w67 rho")).toDF("query_id", "text")
        def rows(df: org.apache.spark.sql.DataFrame) =
          df.orderBy("query_id", "rank").collect().toSeq
        assert(rows(Bm25.retrieveFromIndex(spark, bpath, qs, k = 5)) ==
          rows(Bm25.topK(mkDocs(0, 50, "rcm").unionByName(
            mkDocs(60, 70, "rcm")), qs, k = 5)))
      } finally org.apache.commons.io.FileUtils.deleteDirectory(bdir)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("ingest log retention: after 12 commits exactly the newest 10 entries remain and reads return the newest; a writer holding a version below the kept window fails its CAS") {
    val dir = java.nio.file.Files.createTempDirectory("graft_race15").toFile
    val path = dir.getAbsolutePath
    try {
      val v0 = StreamCommit.readState(spark, path)
      assert(v0 == StreamCommit.LogState(0L, Map.empty, Map.empty, Map.empty))
      val states = (1 to 12).scanLeft(v0) { (st, i) =>
        val next = st.next(watermarks = Map("s" -> i.toLong),
          payload = Map("n" -> i.toLong * 10))
        StreamCommit.commit(spark, path, next, "test hint")
        next
      }
      assert(logVersions(path) == (3L to 12L),
        "the newest KeptVersions entries must remain")
      assert(StreamCommit.KeptVersions == 10)
      assert(StreamCommit.readState(spark, path) == states.last)
      // a writer that held version 1 all along: its target (2) was
      // deleted by retention, so create-if-absent would succeed — the
      // kept-window check must still fail it and remove its entry
      val c0 = conflicts
      val ex = intercept[IllegalStateException] {
        StreamCommit.commit(spark, path,
          states(1).next(watermarks = Map("s" -> 99L)), "test hint")
      }
      assert(ex.getMessage.contains("CAS conflict"))
      assert(conflicts == c0 + 1)
      assert(logVersions(path) == (3L to 12L))
      assert(StreamCommit.readState(spark, path) == states.last)
      assert(!new java.io.File(path, "_graft_log").list()
        .exists(_.endsWith(".tmp")), "no writer temp may linger")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("migration: layouts written with the pre-log sidecars (BM25 stats with folded/removed, dense envelope, bare map) serve the same rows, refuse the same replays, and their first admin commit writes the next log version") {
    val dir = java.nio.file.Files.createTempDirectory("graft_race16").toFile
    def toLegacy(path: String, name: String, body: String): Unit = {
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(path, "_graft_log"))
      graft.util.Sidecar.write(spark, path, name, body)
    }
    try {
      // ---- BM25 stats sidecar: folded watermark, removed set, live marker
      val bpath = s"$dir/bm25"
      Bm25.writeIndex(mkDocs(0, 40, "rcn"), bpath, nBuckets = 8)
      Seq(0L, 1L, 2L).foreach(b => assert(Bm25.applyIngestBatch(
        mkDocs(40 + 10 * b, 50 + 10 * b, "rcn"), bpath, b, "mg")))
      assert(Bm25.removeIngestBatch(spark, bpath, 1L, "mg"))
      Bm25.compactStreamStats(spark, bpath)
      assert(Bm25.applyIngestBatch(mkDocs(70, 80, "rcn"), bpath, 3L, "mg"))
      val qs = Seq((7L, "rcn w7 rho"), (47L, "rcn w47 rho"),
        (57L, "rcn w57 rho"), (77L, "rcn w77 rho")).toDF("query_id", "text")
      def bm25Rows(committed: Boolean) = Bm25.retrieveFromIndex(spark, bpath,
          qs, k = 5, committedOnly = committed)
        .orderBy("query_id", "rank").collect().toSeq
      val bExpect = (bm25Rows(committed = false), bm25Rows(committed = true))
      val bSt = StreamCommit.readState(spark, bpath)
      assert(bSt.watermarks == Map("mg" -> 2L) &&
        bSt.removed == Map("mg" -> Set(1L)))
      toLegacy(bpath, "_bm25_stats.json",
        s"""{"n_docs":${bSt.payload("n_docs")},""" +
          s""""total_tokens":${bSt.payload("total_tokens")},""" +
          """"n_buckets":8,"version":7,"writer":"w-old",""" +
          """"folded":{"mg":2},"removed":{"mg":[1]}}""")
      assert(logVersions(bpath).isEmpty)
      assert(StreamCommit.readState(spark, bpath) == bSt.copy(version = 7L))
      assert((bm25Rows(committed = false), bm25Rows(committed = true)) ==
        bExpect)
      assert(intercept[IllegalStateException] {
        Bm25.applyIngestBatch(mkDocs(50, 60, "rcn"), bpath, 1L, "mg")
      }.getMessage.contains("rolled back"))
      assert(!Bm25.applyIngestBatch(mkDocs(40, 50, "rcn"), bpath, 0L, "mg"))
      Bm25.compactStreamStats(spark, bpath)
      assert(logVersions(bpath) == Seq(8L))
      assert(StreamCommit.readState(spark, bpath).watermarks == Map("mg" -> 3L))
      assert((bm25Rows(committed = false), bm25Rows(committed = true)) ==
        bExpect)

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
        assert(StreamCommit.readState(spark, path).copy(version =
          legacyState.version) == legacyState)
        toLegacy(path, "_ingest_watermarks.json", legacyBody)
        assert(logVersions(path).isEmpty)
        assert(StreamCommit.readState(spark, path) == legacyState)
        assert((rows(committed = false), rows(committed = true)) == expect)
        if (removeOne)
          assert(intercept[IllegalStateException] {
            Retrieval.applyChunkIngestBatch(mkDocs(60, 70, "rcn"), path, 2L,
              streamId = "s1")
          }.getMessage.contains("rolled back"))
        assert(!Retrieval.applyChunkIngestBatch(mkDocs(40, 50, "rcn"), path,
          0L, streamId = "s1"))
        assert(compactDense(path) == Map("s1" -> 3L))
        assert(logVersions(path) == Seq(legacyState.version + 1))
        assert((rows(committed = false), rows(committed = true)) == expect)
      }
      denseCase("envelope",
        """{"version":4,"writer":"w-old","watermarks":{"s1":2},""" +
          """"removed":{"s1":[2]}}""",
        StreamCommit.LogState(4L, Map("s1" -> 2L), Map("s1" -> Set(2L)),
          Map.empty), removeOne = true)
      denseCase("bare", """{"s1":2}""",
        StreamCommit.LogState(0L, Map("s1" -> 2L), Map.empty, Map.empty),
        removeOne = false)

      // the bare map's CAS: a commit advances it to log version 1 and
      // round-trips; a writer still holding the legacy version-0 state
      // now conflicts and changes nothing
      val cpath = s"$dir/cas"
      new java.io.File(cpath).mkdirs()
      graft.util.Sidecar.write(spark, cpath, "_ingest_watermarks.json",
        """{"s1":4}""")
      val legacy = StreamCommit.readState(spark, cpath)
      assert(legacy == StreamCommit.LogState(0L, Map("s1" -> 4L), Map.empty,
        Map.empty))
      StreamCommit.commit(spark, cpath, legacy.next(
        watermarks = Map("s1" -> 6L), removed = Map("s1" -> Set(5L))),
        "test hint")
      val st = StreamCommit.readState(spark, cpath)
      assert(st.watermarks == Map("s1" -> 6L) &&
        st.removed == Map("s1" -> Set(5L)) && st.version == 1L)
      val ex = intercept[IllegalStateException] {
        StreamCommit.commit(spark, cpath,
          legacy.next(watermarks = Map("s1" -> 9L), removed = Map.empty),
          "test hint")
      }
      assert(ex.getMessage.contains("CAS conflict"))
      assert(StreamCommit.readState(spark, cpath) == st)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }
}
