package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FormattedMode
import graft.ann.Bm25

/** BM25 sparse retrieval: hand-computed integer micro scores, the
  * index-served ≡ direct contract, re-shard determinism, RRF fusion
  * arithmetic, and the pruning/plan shapes.
  */
class Bm25Spec extends SparkSpec {
  import spark.implicits._

  private def fixtureDocs = Seq(
    (1L, "apple banana apple"),
    (2L, "banana cherry"),
    (3L, "cherry cherry cherry durian"),
    (4L, null.asInstanceOf[String])).toDF("doc_id", "text")

  test("bm25: hand-computed micro scores on a 3-doc corpus") {
    // N = 3 (null-text doc excluded), total tokens = 9, avgdl = 3.
    // df(apple) = 1, df(cherry) = 2; k1 = 1.5, b = 0.75.
    //   doc1: idf9(ln(1 + 2.5/1.5)) * (2*2.5 / (2 + 1.5*(0.25 + 0.75*3/3)))
    //   doc2: idf9(ln 1.6) * (2.5 / (1 + 1.5*(0.25 + 0.75*2/3)))
    //   doc3: idf9(ln 1.6) * (7.5 / (3 + 1.5*(0.25 + 0.75*4/3)))
    // micro-unit values computed by hand (Decimal HALF_UP at each round):
    val qs = Seq((10L, "Apple cherry")).toDF("query_id", "text")
    val out = Bm25.topK(fixtureDocs, qs, k = 5)
      .orderBy("rank")
      .select("rank", "doc_id", "score_micro")
      .as[(Long, Long, Long)].collect().toSeq
    assert(out == Seq((1L, 1L, 1401185L), (2L, 3L, 723083L),
      (3L, 2L, 552945L)))
  }

  test("bm25: no-overlap query produces no rows; tokenization lowercases") {
    val qs = Seq((10L, "zebra"), (11L, "DURIAN")).toDF("query_id", "text")
    val out = Bm25.topK(fixtureDocs, qs, k = 5)
      .select("query_id", "doc_id").as[(Long, Long)].collect().toSeq
    assert(out == Seq((11L, 3L))) // uppercase query matches lowercase term
  }

  test("bm25: index-served result is row-identical to the direct path") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val qs = docs.filter(col("doc_id") % 50 === 3 && col("text").isNotNull)
      .select(col("doc_id").as("query_id"), col("text"))
    val dir = java.nio.file.Files.createTempDirectory("bm25idx").toFile
    try {
      Bm25.writeIndex(docs, dir.getAbsolutePath, nBuckets = 8)
      val direct = Bm25.topK(docs, qs, k = 5)
        .orderBy("query_id", "rank").collect().toSeq
      val served = Bm25.retrieveFromIndex(spark, dir.getAbsolutePath, qs,
          k = 5)
        .orderBy("query_id", "rank").collect().toSeq
      assert(direct.nonEmpty && direct == served)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("bm25: result is invariant under corpus re-sharding") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val qs = docs.filter(col("doc_id") % 50 === 3 && col("text").isNotNull)
      .select(col("doc_id").as("query_id"), col("text"))
    val a = Bm25.topK(docs, qs, k = 5)
      .orderBy("query_id", "rank").collect().toSeq
    val b = Bm25.topK(docs.repartition(7, col("text")), qs, k = 5)
      .orderBy("query_id", "rank").collect().toSeq
    assert(a.nonEmpty && a == b)
  }

  test("bm25: over-gate query set falls back to term-partitioned shuffle " +
    "joins, row-identical to the broadcast path") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val qs = docs.filter(col("doc_id") % 50 === 3 && col("text").isNotNull)
      .select(col("doc_id").as("query_id"), col("text"))
    val bcast = Bm25.topK(docs, qs, k = 5)
      .orderBy("query_id", "rank").collect().toSeq
    // maxQueries = 1 forces the corpus-scale plan on the same fixture
    val shuffled = Bm25.topK(docs, qs, k = 5, maxQueries = 1)
      .orderBy("query_id", "rank").collect().toSeq
    assert(bcast.nonEmpty && bcast == shuffled)
    // the over-gate plan must WORK without broadcast: with auto-broadcast
    // off and no hints, every query-side join degrades to a shuffle join
    // (no BroadcastExchange anywhere), which is what survives a
    // corpus-sized query set
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = Bm25.topK(docs, qs, k = 5, maxQueries = 1)
        .queryExecution.explainString(FormattedMode)
      assert(!p.contains("BroadcastExchange"),
        s"over-gate path must not require a broadcast:\n${p.take(1500)}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
  }

  test("fuseRrf: integer nano-unit arithmetic and the 0 absent sentinel") {
    val a = Seq((1L, 1L, 100L), (1L, 2L, 200L))
      .toDF("query_id", "rank", "doc_id")
    val b = Seq((1L, 1L, 200L), (1L, 2L, 300L))
      .toDF("query_id", "rank", "doc_id")
    val out = Bm25.fuseRrf(a, b, k = 5)
      .orderBy("rank")
      .select("rank", "doc_id", "rrf_micro", "rank_a", "rank_b")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // round(1e9/61) = 16393443, round(1e9/62) = 16129032
    assert(out == Seq(
      (1L, 200L, 32522475L, 2L, 1L),  // ranked by both sides
      (2L, 100L, 16393443L, 1L, 0L),  // dense-only
      (3L, 300L, 16129032L, 0L, 2L))) // sparse-only
  }

  test("tfidfKeywords: hand-computed micro scores, per-doc top-k, term ties") {
    // N = 3; df(apple)=1 → idf9 = 0.693147181, df(banana/cherry)=2 →
    // idf9 = 0.287682072, df(durian)=1. Micro scores = tf·idf9·1e6.
    val out = Bm25.tfidfKeywords(fixtureDocs, topK = 3)
      .orderBy("doc_id", "rank")
      .select("doc_id", "rank", "term", "score_micro")
      .as[(Long, Long, String, Long)].collect().toSeq
    assert(out == Seq(
      (1L, 1L, "apple", 1386294L), (1L, 2L, "banana", 287682L),
      (2L, 1L, "banana", 287682L), (2L, 2L, "cherry", 287682L), // tie → term
      (3L, 1L, "cherry", 863046L), (3L, 2L, "durian", 693147L)))
  }

  test("collocations: hand-computed PMI micros, deterministic tie order") {
    // T1 = 9 tokens, T2 = 6 bigrams; three pairs tie at ln 3.375 and two
    // at ln 1.6875 — order is (pmi desc, a, b)
    val out = Bm25.collocations(fixtureDocs, minCount = 1, topK = 10)
      .select("a", "b", "n_pair", "pmi_micro")
      .as[(String, String, Long, Long)].collect().toSeq
    assert(out == Seq(
      ("apple", "banana", 1L, 1216395L),
      ("banana", "apple", 1L, 1216395L),
      ("cherry", "durian", 1L, 1216395L),
      ("banana", "cherry", 1L, 523248L),
      ("cherry", "cherry", 2L, 523248L)))
    // minCount prunes before scoring
    val capped = Bm25.collocations(fixtureDocs, minCount = 2, topK = 10)
      .select("a", "b").as[(String, String)].collect().toSeq
    assert(capped == Seq(("cherry", "cherry")))
  }

  test("hardNegatives: non-relevant docs re-rank densely in rank order") {
    val ranked = Seq((1L, 1L, 10L), (1L, 2L, 20L), (1L, 3L, 30L),
        (2L, 1L, 20L))
      .toDF("query_id", "rank", "doc_id")
    val out = graft.ann.Retrieval.hardNegatives(ranked,
        col("doc_id") === 20L, nNeg = 2)
      .orderBy("query_id", "neg_rank")
      .select("query_id", "neg_rank", "doc_id", "orig_rank")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // query 1: doc 20 is relevant → negatives are 10 (orig 1), 30 (orig 3)
    // query 2: its only ranked doc is relevant → no negatives
    assert(out == Seq((1L, 1L, 10L, 1L), (1L, 2L, 30L, 3L)))
  }

  test("appendToIndex: appended index serves exactly like a full rebuild " +
    "over the union (df and stats advance, no staleness window)") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val half1 = docs.filter(col("doc_id") % 2 === 0)
    val half2 = docs.filter(col("doc_id") % 2 === 1)
    val qs = docs.filter(col("doc_id") % 50 === 3 && col("text").isNotNull)
      .select(col("doc_id").as("query_id"), col("text"))
    val dir = java.nio.file.Files.createTempDirectory("bm25app").toFile
    try {
      Bm25.writeIndex(half1, dir.getAbsolutePath, nBuckets = 8)
      Bm25.appendToIndex(half2, dir.getAbsolutePath)
      val served = Bm25.retrieveFromIndex(spark, dir.getAbsolutePath, qs,
          k = 5)
        .orderBy("query_id", "rank").collect().toSeq
      val full = Bm25.topK(docs, qs, k = 5)
        .orderBy("query_id", "rank").collect().toSeq
      assert(served.nonEmpty && served == full)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("CLI build-bm25-index / append-bm25-index / bm25-search drive the " +
    "lexical index end-to-end") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cli_bm25").toFile
    try {
      (0L until 30L).map(i => (i, s"cli w$i sigma " * 18))
        .toDF("doc_id", "text")
        .write.parquet(s"$dir/docs")
      (30L until 40L).map(i => (i, s"cli w$i sigma " * 18))
        .toDF("doc_id", "text")
        .write.parquet(s"$dir/more")
      Seq((3L, "cli w3 sigma"), (35L, "cli w35 sigma"))
        .toDF("query_id", "text")
        .write.parquet(s"$dir/queries")
      def cli(a: String*): String = {
        val bos = new java.io.ByteArrayOutputStream()
        Console.withOut(new java.io.PrintStream(bos)) {
          Cli.run(spark, a.toArray)
        }
        bos.toString("UTF-8").linesIterator
          .filter(_.startsWith("{")).toSeq.last
      }
      val b = cli("build-bm25-index", s"$dir/docs", s"$dir/idx", "4")
      assert(b.contains("\"n_buckets\":4") && b.contains("\"n_postings\":"), b)
      val a = cli("append-bm25-index", s"$dir/more", s"$dir/idx")
      assert(a.contains("\"appended_postings\":"), a)
      assert(!a.contains("\"appended_postings\":0,"), a)
      val r = cli("bm25-search", s"$dir/idx", s"$dir/queries", s"$dir/out",
        "3")
      assert(r.contains("\"n_queries\":2"), r)
      val exact = Bm25.topK(
        spark.read.parquet(s"$dir/docs")
          .unionByName(spark.read.parquet(s"$dir/more")),
        spark.read.parquet(s"$dir/queries"), k = 3)
      def key(df: org.apache.spark.sql.DataFrame) =
        df.select("query_id", "rank", "doc_id", "score_micro")
          .as[(Long, Long, Long, Long)].collect().toSeq.sorted
      assert(key(spark.read.parquet(s"$dir/out")) == key(exact))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("snippets: first-match semantics, window clamps at both edges, " +
    "no-overlap hits dropped") {
    val d = Seq(
      (1L, "x1 x2 Apple x3 x4 x5 x6 x7 x8 cherry x9"),
      (2L, "a b target"),
      (3L, "nothing shared here")).toDF("doc_id", "text")
    val q = Seq((10L, "cherry apple"), (11L, "target"))
      .toDF("query_id", "text")
    val hits = Seq((10L, 1L), (11L, 2L), (10L, 3L))
      .toDF("query_id", "doc_id")
    val out = graft.ann.Bm25.snippets(d, q, hits, window = 2)
      .orderBy("query_id", "doc_id")
      .select("query_id", "doc_id", "match_pos", "snippet")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(out == Seq(
      // apple (pos 3, case-folded) beats cherry (pos 10): FIRST position
      (10L, 1L, 3L, "x1 x2 apple x3 x4"),
      // right edge clamps: pos 3 of a 3-token doc, window 2
      (11L, 2L, 3L, "a b target")))
    // the (10, 3) no-shared-term hit was dropped, not given a snippet
  }

  test("degenerate inputs fail loudly or return empty — never a wrong answer") {
    val allNull = Seq((1L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val qs = Seq((10L, "anything")).toDF("query_id", "text")
    // all-null corpus: BM25 has no statistics to score against
    val e1 = intercept[IllegalArgumentException] { Bm25.topK(allNull, qs, 5) }
    assert(e1.getMessage.contains("non-null-text"))
    val e2 = intercept[IllegalArgumentException] {
      Bm25.tfidfKeywords(allNull)
    }
    assert(e2.getMessage.contains("non-null-text"))
    // single-token docs: no adjacent pairs exist
    val singles = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
    val e3 = intercept[IllegalArgumentException] { Bm25.collocations(singles) }
    assert(e3.getMessage.contains("adjacent"))
    // empty/whitespace text contributes stats but no postings or keywords
    val mixed = fixtureDocs.unionByName(
      Seq((5L, ""), (6L, "   ")).toDF("doc_id", "text"))
    assert(Bm25.tfidfKeywords(mixed).where(col("doc_id") >= 5L).count() == 0)
    val out = Bm25.topK(mixed, Seq((10L, "apple")).toDF("query_id", "text"),
      k = 5).select("doc_id").as[Long].collect().toSeq
    assert(out == Seq(1L), "blank docs must not match, stats must not NPE")
  }

  test("bm25 plans: corpus scan prunes to (doc_id, text); top-k collapses " +
    "map-side; index probe is a static partition filter") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val qs = docs.filter(col("doc_id") === 7)
      .select(col("doc_id").as("query_id"), col("text"))
    val p = Bm25.topK(docs, qs, k = 5)
      .queryExecution.explainString(FormattedMode)
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"postings scan must prune to (doc_id, text):\n${p.take(1500)}")
    assert(p.contains("WindowGroupLimit"), "map-side top-k missing")
    // df must come from a partial-aggregable groupBy joined back, never a
    // window keyed on term: Window.partitionBy(term) buffers every posting
    // of a term on ONE reducer, and the skew key is exactly a stopword
    // query term (the r8 verdict's top finding). The only window in the
    // plan is the per-query rank.
    assert(!p.contains("windowspecdefinition(term"),
      s"df via a window on term reintroduces the stopword skew:\n$p")

    val dir = java.nio.file.Files.createTempDirectory("bm25idx").toFile
    try {
      Bm25.writeIndex(docs, dir.getAbsolutePath, nBuckets = 8)
      val ip = Bm25.retrieveFromIndex(spark, dir.getAbsolutePath, qs, k = 5)
        .queryExecution.explainString(FormattedMode)
      assert(ip.contains("PartitionFilters: [bucket"),
        s"bucket probe must prune partitions, not post-filter:\n${ip.take(1500)}")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("applyIngestBatch: exactly-once ingest — stats travel in the marker, replays converge, serve == full rebuild") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val seed = docs.filter(col("doc_id") % 3 === 0)
    val b0docs = docs.filter(col("doc_id") % 3 === 1)
    val b1docs = docs.filter(col("doc_id") % 3 === 2)
    val qs = docs.filter(col("doc_id") % 50 === 3 && col("text").isNotNull)
      .select(col("doc_id").as("query_id"), col("text"))
    val dir = java.nio.file.Files.createTempDirectory("bm25eo").toFile
    val path = dir.getAbsolutePath
    try {
      Bm25.writeIndex(seed, path, nBuckets = 8)
      def serve() = Bm25.retrieveFromIndex(spark, path, qs, k = 5)
        .orderBy("query_id", "rank").collect().toSeq
      assert(Bm25.applyIngestBatch(b0docs, path, batchId = 0L))
      assert(Bm25.applyIngestBatch(b1docs, path, batchId = 1L))
      // scores — which fold n_docs/total_tokens/df — must equal the direct
      // path over the union corpus: stats idempotence is score-observable
      val full = Bm25.topK(docs, qs, k = 5)
        .orderBy("query_id", "rank").collect().toSeq
      val once = serve()
      assert(once.nonEmpty && once == full)
      // marker present → replay is a pure no-op
      assert(!Bm25.applyIngestBatch(b1docs, path, batchId = 1L))
      assert(serve() == full)
      // crash after promote, before marker: replay scrubs and re-lands —
      // postings AND the stats delta commit together in the marker write
      val fs = graft.util.StreamCommit.fs(spark, path)
      fs.delete(new org.apache.hadoop.fs.Path(
        s"$path/_stream_appends/b1"), false)
      assert(Bm25.applyIngestBatch(b1docs, path, batchId = 1L))
      assert(serve() == full)
      // mid-promote crash: some of b1's posting files landed, no marker —
      // replay still converges to the identical serve
      fs.delete(new org.apache.hadoop.fs.Path(
        s"$path/_stream_appends/b1"), false)
      val b1files = Option(fs.globStatus(new org.apache.hadoop.fs.Path(
        s"$path/bucket=*/b1-*"))).getOrElse(Array.empty)
      assert(b1files.nonEmpty)
      b1files.take(b1files.length / 2 max 1)
        .foreach(st => fs.delete(st.getPath, false))
      assert(Bm25.applyIngestBatch(b1docs, path, batchId = 1L))
      assert(serve() == full)
      // distinct streamIds namespace their batchIds: s2's batch 1 is not
      // gated by the default stream's b1 marker
      assert(Bm25.applyIngestBatch(
        Seq((900001L, "zzqx unique ingest probe")).toDF("doc_id", "text"),
        path, batchId = 1L, streamId = "s2"))
      val probe = Bm25.retrieveFromIndex(spark, path,
        Seq((1L, "zzqx")).toDF("query_id", "text"), k = 1).collect()
      assert(probe.length == 1 && probe.head.getLong(2) == 900001L)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("compactStreamStats: folds marker deltas into the base atomically; surviving folded markers are ignored; batch appends preserve the fold") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val seed = docs.filter(col("doc_id") % 4 === 0)
    val b0docs = docs.filter(col("doc_id") % 4 === 1)
    val b1docs = docs.filter(col("doc_id") % 4 === 2)
    val late = docs.filter(col("doc_id") % 4 === 3)
    val qs = docs.filter(col("doc_id") % 50 === 3 && col("text").isNotNull)
      .select(col("doc_id").as("query_id"), col("text"))
    val dir = java.nio.file.Files.createTempDirectory("bm25cmp").toFile
    val path = dir.getAbsolutePath
    try {
      Bm25.writeIndex(seed, path, nBuckets = 8)
      assert(Bm25.applyIngestBatch(b0docs, path, batchId = 0L))
      assert(Bm25.applyIngestBatch(b1docs, path, batchId = 1L))
      def serve() = Bm25.retrieveFromIndex(spark, path, qs, k = 5)
        .orderBy("query_id", "rank").collect().toSeq
      val before = serve()
      val fs = graft.util.StreamCommit.fs(spark, path)
      // keep b1's marker body around to fake a failed post-fold delete
      val b1body = graft.util.StreamCommit.listMarkers(fs, path)
        .find(m => m._1 == "" && m._2 == 1L).get._3
      Bm25.compactStreamStats(spark, path)
      assert(graft.util.StreamCommit.listMarkers(fs, path).isEmpty,
        "compact must delete folded markers")
      assert(serve() == before, "fold must not change served stats")
      // crash between the stats overwrite and marker deletion: the folded
      // watermark makes a surviving folded marker inert, not double-counted
      graft.util.StreamCommit.writeMarker(fs, path, "b1", b1body)
      assert(serve() == before, "folded-but-surviving marker must be inert")
      Bm25.compactStreamStats(spark, path)
      assert(graft.util.StreamCommit.listMarkers(fs, path).isEmpty)
      // a batch append after compaction rides the watermarks through its
      // log commit; the final index serves like a full rebuild
      graft.util.StreamCommit.writeMarker(fs, path, "b1", b1body) // survive again
      Bm25.appendToIndex(late, path)
      assert(serve() == Bm25.topK(docs, qs, k = 5)
        .orderBy("query_id", "rank").collect().toSeq,
        "appendToIndex must preserve the folded watermark")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("removeIngestBatch: rolls back a poisoned batch exactly; folded batches refuse; crash-mid-removal replays clean") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val seed = docs.filter(col("doc_id") % 3 === 0)
    val b0docs = docs.filter(col("doc_id") % 3 === 1)
    val b1docs = docs.filter(col("doc_id") % 3 === 2)
    val qs = docs.filter(col("doc_id") % 50 === 3 && col("text").isNotNull)
      .select(col("doc_id").as("query_id"), col("text"))
    val dir = java.nio.file.Files.createTempDirectory("bm25rb").toFile
    val path = dir.getAbsolutePath
    try {
      Bm25.writeIndex(seed, path, nBuckets = 8)
      assert(Bm25.applyIngestBatch(b0docs, path, batchId = 0L))
      def serve(committed: Boolean = false) =
        Bm25.retrieveFromIndex(spark, path, qs, k = 5,
            committedOnly = committed)
          .orderBy("query_id", "rank").collect().toSeq
      val beforePoison = serve()
      // poison batch lands fully, then rolls back: the serve — scores,
      // df, stats — must be byte-identical to never having ingested it
      assert(Bm25.applyIngestBatch(b1docs, path, batchId = 1L))
      assert(serve() != beforePoison, "fixture: the batch must be visible")
      assert(Bm25.removeIngestBatch(spark, path, batchId = 1L))
      assert(serve() == beforePoison && serve(committed = true) == beforePoison,
        "rollback must restore the exact pre-batch serve in both modes")
      val fs = graft.util.StreamCommit.fs(spark, path)
      assert(Option(fs.globStatus(new org.apache.hadoop.fs.Path(
        s"$path/bucket=*/b1-*"))).getOrElse(Array.empty).isEmpty,
        "rollback must scrub the batch's posting files")
      // idempotent: re-removing a recorded-removed batch is a no-op
      // returning false (the intent record survives forever)
      assert(!Bm25.removeIngestBatch(spark, path, batchId = 1L))
      assert(serve() == beforePoison)
      // a replay of the excised batchId refuses loudly — a rollback is a
      // deliberate excision, never to be resurrected by an at-least-once
      // replay; corrected data re-ingests under a fresh batchId
      val exReplay = intercept[IllegalStateException] {
        Bm25.applyIngestBatch(b1docs, path, batchId = 1L)
      }
      assert(exReplay.getMessage.contains("rolled back"))
      // crash-mid-ingest state under a NEW batchId (files promoted, marker
      // never landed — the promoted-without-marker shape): a removal of it
      // records the intent and scrubs the leftovers, returning false
      assert(Bm25.applyIngestBatch(b1docs, path, batchId = 2L))
      fs.delete(new org.apache.hadoop.fs.Path(
        s"$path/_stream_appends/b2"), false)
      assert(!Bm25.removeIngestBatch(spark, path, batchId = 2L))
      assert(Option(fs.globStatus(new org.apache.hadoop.fs.Path(
        s"$path/bucket=*/b2-*"))).getOrElse(Array.empty).isEmpty)
      assert(serve() == beforePoison)
      // folded batches refuse loudly: their delta is in the base counts
      Bm25.compactStreamStats(spark, path)
      val ex = intercept[IllegalStateException] {
        Bm25.removeIngestBatch(spark, path, batchId = 0L)
      }
      assert(ex.getMessage.contains("folded"))
      assert(serve() == beforePoison, "refused removal must change nothing")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("liveStats: markers-before-sidecar read order makes a concurrent compact harmless in every interleaving") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val seed = docs.filter(col("doc_id") % 3 === 0)
    val b0docs = docs.filter(col("doc_id") % 3 === 1)
    val b1docs = docs.filter(col("doc_id") % 3 === 2)
    val dir = java.nio.file.Files.createTempDirectory("bm25ls").toFile
    val path = dir.getAbsolutePath
    try {
      Bm25.writeIndex(seed, path, nBuckets = 8)
      assert(Bm25.applyIngestBatch(b0docs, path, batchId = 0L))
      assert(Bm25.applyIngestBatch(b1docs, path, batchId = 1L))
      val fs = graft.util.StreamCommit.fs(spark, path)
      def state() = graft.util.StreamCommit.readState(spark, path)
      // ground truth: the union corpus's exact stats
      val (truthN, truthT) = Bm25.corpusStats(docs)
      // interleaving A (no compact): old markers + old log state
      val preMarkers = graft.util.StreamCommit.listMarkers(fs, path)
      val preState = state()
      assert(Bm25.liveStatsFrom(preMarkers, preState)._1 == truthN)
      assert(Bm25.liveStatsFrom(preMarkers, preState)._2 == truthT)
      // interleaving B — THE race the read order exists for: markers were
      // listed, then a compact commits fully (new log entry written,
      // folded markers deleted), then the log state is read. The new
      // state's watermark must filter the already-listed markers, so the
      // deltas are counted exactly once. (A state-first order would
      // combine the old base with the post-delete empty marker list and
      // drop both batches' deltas here.)
      Bm25.compactStreamStats(spark, path)
      val postState = state()
      assert(Bm25.liveStatsFrom(preMarkers, postState) ==
        (truthN, truthT, 8),
        "compact between marker list and state read must not drop deltas")
      // interleaving C (read starts after the compact): empty marker list +
      // new log state
      assert(Bm25.liveStatsFrom(
        graft.util.StreamCommit.listMarkers(fs, path), postState) ==
        (truthN, truthT, 8))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("stats sidecar CAS: a stale read-modify-write fails loudly and bumps the conflict counter") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val seed = docs.filter(col("doc_id") % 3 === 0)
    val other = docs.filter(col("doc_id") % 3 === 1)
    val dir = java.nio.file.Files.createTempDirectory("bm25cas").toFile
    val path = dir.getAbsolutePath
    try {
      Bm25.writeIndex(seed, path, nBuckets = 8)
      import graft.util.StreamCommit
      // writer A reads the log state...
      val stale = StreamCommit.readState(spark, path)
      // ...writer B's full append commits in between (version bumps)...
      Bm25.appendToIndex(other, path)
      val after = StreamCommit.readState(spark, path)
      assert(after.version == stale.version + 1)
      // ...writer A's commit must now fail LOUDLY, not silently overwrite
      val c0 = graft.metrics.GraftCounters.get("ingest_log_cas_conflict_total")
      val ex = intercept[IllegalStateException] {
        StreamCommit.commit(spark, path, stale.next(payload = stale.payload ++
          Map("n_docs" -> (stale.payload("n_docs") + 99),
            "total_tokens" -> (stale.payload("total_tokens") + 99))),
          "test hint")
      }
      assert(ex.getMessage.contains("CAS conflict"))
      assert(
        graft.metrics.GraftCounters.get("ingest_log_cas_conflict_total") ==
          c0 + 1)
      // the log still holds writer B's consistent update
      assert(StreamCommit.readState(spark, path) == after)
      // a fresh read-modify-write (the documented recovery) succeeds
      val retry = StreamCommit.readState(spark, path)
      StreamCommit.commit(spark, path, retry.next(), "test hint")
      assert(StreamCommit.readState(spark, path).version == retry.version + 1)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("committed-only serve: a promoted-but-unmarked batch is invisible; marker landing and compaction both keep it visible") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val seed = docs.filter(col("doc_id") % 3 === 0)
    val b0docs = docs.filter(col("doc_id") % 3 === 1)
    val b1docs = docs.filter(col("doc_id") % 3 === 2)
    val qs = docs.filter(col("doc_id") % 50 === 3 && col("text").isNotNull)
      .select(col("doc_id").as("query_id"), col("text"))
    val dir = java.nio.file.Files.createTempDirectory("bm25co").toFile
    val path = dir.getAbsolutePath
    try {
      Bm25.writeIndex(seed, path, nBuckets = 8)
      def serveCommitted() = Bm25.retrieveFromIndex(spark, path, qs, k = 5,
        committedOnly = true).orderBy("query_id", "rank").collect().toSeq
      def serveDefault() = Bm25.retrieveFromIndex(spark, path, qs, k = 5)
        .orderBy("query_id", "rank").collect().toSeq
      // no ingest yet: committed-only == default == direct
      val seedOnly = Bm25.topK(seed, qs, k = 5)
        .orderBy("query_id", "rank").collect().toSeq
      assert(serveCommitted() == seedOnly && serveDefault() == seedOnly)
      assert(Bm25.applyIngestBatch(b0docs, path, batchId = 0L))
      val afterB0 = serveCommitted()
      assert(afterB0 == Bm25.topK(seed.unionByName(b0docs), qs, k = 5)
        .orderBy("query_id", "rank").collect().toSeq)
      // b1 fully promoted but its marker never lands (crash before marker):
      // the committed-only serve must be row-identical to the pre-batch
      // index — the half-landed batch is entirely invisible
      assert(Bm25.applyIngestBatch(b1docs, path, batchId = 1L))
      val fs = graft.util.StreamCommit.fs(spark, path)
      fs.delete(new org.apache.hadoop.fs.Path(
        s"$path/_stream_appends/b1"), false)
      assert(Option(fs.globStatus(new org.apache.hadoop.fs.Path(
        s"$path/bucket=*/b1-*"))).getOrElse(Array.empty).nonEmpty,
        "fixture: b1's postings files must still be in the layout")
      assert(serveCommitted() == afterB0,
        "a promoted batch without its marker must be invisible to the " +
          "committed-only serve")
      // replay lands the marker: committed-only == default == full rebuild
      assert(Bm25.applyIngestBatch(b1docs, path, batchId = 1L))
      val full = Bm25.topK(docs, qs, k = 5)
        .orderBy("query_id", "rank").collect().toSeq
      assert(serveCommitted() == full && serveDefault() == full)
      // compaction deletes the markers but the files keep their b<id>-
      // prefixes: the folded watermark (not marker presence) must keep the
      // batches visible — the naive base+marker filter would drop them here
      Bm25.compactStreamStats(spark, path)
      assert(graft.util.StreamCommit.listMarkers(fs, path).isEmpty)
      assert(serveCommitted() == full,
        "folded (compacted) batches must stay visible to the " +
          "committed-only serve")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }
}
