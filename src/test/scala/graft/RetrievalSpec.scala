package graft

import org.apache.spark.sql.functions._
import graft.ann.Retrieval

/** Chunk-level retrieval capstone (chunk → embed → top-k with provenance):
  * exact integer scoring, ranking determinism, the eval-sized-queries
  * contract, and the map-side top-k plan shape.
  */
class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  test("hashEmbedding: deterministic, dim-sized, values in [0, 1000)") {
    val out = Seq("hello world", "hello world", "", "other")
      .toDF("text")
      .select(Retrieval.hashEmbedding(col("text"), 6, "emb").as("v"))
      .as[Seq[Long]].collect()
    assert(out.forall(_.length == 6))
    assert(out.flatten.forall(v => v >= 0 && v < 1000))
    assert(out(0) == out(1))               // same text → same vector
    assert(out(0) != out(3))               // different text → different vector
    assert(out(2).nonEmpty)                // empty string still embeds
  }

  test("hashEmbedding kernel is bit-compatible with the composed md5/conv formula") {
    // the SQL-oracle formula the kernel must reproduce exactly, per dim:
    // conv(substring(md5(text || ':salt:i'), 1, 4), 16, 10) % 1000
    def composed(text: org.apache.spark.sql.Column, dim: Int, salt: String) =
      array((0 until dim).map(i =>
        conv(substring(md5(concat(text, lit(s":$salt:$i"))), 1, 4), 16, 10)
          .cast("long") % 1000): _*)
    val df = spark.read.parquet(s"$sf0001/documents.parquet")
      .where(col("text").isNotNull).orderBy("doc_id").limit(60)
      .select(col("doc_id"), col("text"))
      .unionByName(Seq((9001L, ""), (9002L, "héllo wörld 你好"),
        (9003L, "a" * 5000)).toDF("doc_id", "text"))
    val rows = df.select(col("doc_id"),
        Retrieval.hashEmbedding(col("text"), 6, "emb").as("native"),
        composed(col("text"), 6, "emb").as("legacy"))
      .collect()
    assert(rows.length == 63)
    rows.foreach(r => assert(r.getSeq[Long](1) == r.getSeq[Long](2),
      s"embed mismatch for doc ${r.getLong(0)}"))
    // NULL text embeds to a NULL array (kernel semantics; consumers filter
    // null text upstream of every embed site)
    val nul = Seq((1L, null.asInstanceOf[String])).toDF("doc_id", "text")
      .select(Retrieval.hashEmbedding(col("text"), 3, "emb")).head()
    assert(nul.isNullAt(0))
  }

  test("retrieval kernels: interpreted eval matches codegen (hash_embed, long dot, nearest_centroid)") {
    import graft.functions.KFunctions.{array_dot_long, hash_embed, nearest_centroid}
    val cents = Array(Array(10.0, 10.0), Array(500.0, 500.0), Array(10.0, 10.0))
    def run(): Seq[(Seq[Long], Option[Long], Option[Int])] =
      Seq(("hello world", Seq(11L, 12L)), ("", Seq(480L, 510L)),
        ("x", Seq(3L, 4L)))
        .toDF("t", "v")
        .select(hash_embed(col("t"), 4, "emb").as("e"),
          array_dot_long(col("v"), col("v")).as("d"),
          nearest_centroid(col("v").cast("array<double>"), cents).as("n"))
        .collect().map(r => (r.getSeq[Long](0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)),
          if (r.isNullAt(2)) None else Some(r.getInt(2)))).toSeq
    val gen = run()
    // sanity on codegen results before comparing: dot exact, tie → list 0
    assert(gen.map(_._2) == Seq(Some(265L), Some(490500L), Some(25L)))
    assert(gen(0)._3 == Some(0) && gen(1)._3 == Some(1), gen.toString)
    val conf = spark.conf
    val prior = (conf.get("spark.sql.codegen.wholeStage"),
      conf.get("spark.sql.codegen.factoryMode", "FALLBACK"))
    conf.set("spark.sql.codegen.wholeStage", "false")
    conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(run() == gen, "retrieval kernels: interpreted != codegen")
    finally {
      conf.set("spark.sql.codegen.wholeStage", prior._1)
      conf.set("spark.sql.codegen.factoryMode", prior._2)
    }
  }

  test("topKChunks: exact inner products, rank order, ties broken by (doc, chunk)") {
    val chunks = Seq(
      (1L, 0L, 0L, Seq(1L, 0L)),   // score vs q=(2,3): 2
      (1L, 1L, 24L, Seq(0L, 2L)),  // 6
      (2L, 0L, 0L, Seq(3L, 0L)),   // 6 — ties doc1/chunk1; doc 1 wins
      (3L, 0L, 0L, Seq(5L, 5L))    // 25
    ).toDF("doc_id", "chunk_idx", "chunk_start", "vec")
    val queries = Seq((7L, Seq(2L, 3L))).toDF("query_id", "vec")
    val out = Retrieval.topKChunks(chunks, queries, k = 3)
      .orderBy("rank")
      .select("rank", "doc_id", "chunk_idx", "score")
      .as[(Long, Long, Long, Long)].collect()
    assert(out.toSeq == Seq((1L, 3L, 0L, 25L), (2L, 1L, 1L, 6L),
      (3L, 2L, 0L, 6L)), out.mkString(", "))
  }

  test("over-gate fallback: topKChunks past maxQueries shards and stays row-identical") {
    val docs = (0L until 30L).map(i => (i, s"og w$i mu " * 20))
      .toDF("doc_id", "text")
    val qs = (0L until 7L).map(i => (i, s"og w${i * 4} mu"))
      .toDF("query_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank")
        .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    val broadcastPath = rows(Retrieval.retrieveChunks(docs, qs, k = 3))
    // force the gate: 7 queries over maxQueries=2 → sharded serve
    val chunks = graft.text.CorpusClean.chunkByTokens(docs, 32, 8)
      .where(col("chunk").isNotNull)
      .select(col("doc_id"), col("chunk_idx"), col("chunk_start"),
        Retrieval.hashEmbedding(col("chunk"), 4, "emb").as("vec"))
    val qv = qs.select(col("query_id"),
      Retrieval.hashEmbedding(col("text"), 4, "emb").as("vec"))
    val sharded = rows(Retrieval.topKChunks(chunks, qv, k = 3,
      maxQueries = 2L))
    assert(sharded == broadcastPath,
      s"sharded over-gate path must be row-identical:\n$sharded\nvs\n$broadcastPath")
  }

  test("over-gate fallback: topKChunksIvf and the PQ serve path shard past maxQueries, row-identical") {
    val docs = (0L until 40L).map(i => (i, s"ogi w$i nu " * 20))
      .toDF("doc_id", "text")
    val qs = (0L until 6L).map(i => (i, s"ogi w${i * 5} nu"))
      .toDF("query_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank")
        .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    // IVF in-memory: sharded == unsharded (same fit knobs → same centroids)
    val un = rows(Retrieval.retrieveChunksIvf(docs, qs, k = 3, nLists = 4,
      nProbe = 2, fitBudget = 48))
    val sh = rows(Retrieval.retrieveChunksIvf(docs, qs, k = 3, nLists = 4,
      nProbe = 2, fitBudget = 48, maxQueries = 2L))
    assert(sh == un, s"sharded IVF must be row-identical:\n$sh\nvs\n$un")
    // persisted PQ serve: sharded == unsharded through the same index
    val dir = java.nio.file.Files.createTempDirectory("graft_og_pq").toFile
    try {
      Retrieval.writeChunkIndexPq(docs, dir.getAbsolutePath, nLists = 4,
        m = 5, ksub = 16, fitBudget = 48)
      val unPq = rows(Retrieval.retrieveFromChunkIndexPq(spark,
        dir.getAbsolutePath, qs, k = 3, nProbe = 2))
      val shPq = rows(Retrieval.retrieveFromChunkIndexPq(spark,
        dir.getAbsolutePath, qs, k = 3, nProbe = 2, maxQueries = 2L))
      assert(shPq == unPq,
        s"sharded PQ serve must be row-identical:\n$shPq\nvs\n$unPq")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("retrieveChunks: query side broadcasts, per-query top-k collapses map-side") {
    val docs = (0L until 40L).map(i => (i, s"tok$i " * 50)).toDF("doc_id", "text")
    val qs = Seq((1L, "tok1 tok2 tok3")).toDF("query_id", "text")
    val out = Retrieval.retrieveChunks(docs, qs, k = 3)
    val p = out.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query side must broadcast:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"per-query top-k must push below the exchange:\n$p")
    assert(out.count() == 3)
  }

  test("assignWithModel: nearest centroid wins, distance ties go to the lower list") {
    val model = graft.ann.Ann.IvfModel(
      Array(Array(0.0, 0.0), Array(10.0, 10.0), Array(0.0, 0.0)))
    val out = Seq(
      (1L, Seq(1L, 1L)),    // near centroid 0 (and 2 — tie, 0 wins)
      (2L, Seq(9L, 9L)),    // near centroid 1
      (3L, Seq(5L, 5L))     // equidistant 0/1/2 → sq dists 50 vs 50 → list 0
    ).toDF("id", "vec")
    val got = graft.ann.Ann.assignWithModel(out, model, "vec")
      .select("id", "list").as[(Long, Int)].collect().toMap
    assert(got == Map(1L -> 0, 2L -> 1, 3L -> 0), got.toString)
  }

  test("topKChunksIvf: nProbe = nLists returns the exact result, row for row") {
    val docs = (0L until 60L).map(i => (i, s"alpha w$i beta " * 20))
      .toDF("doc_id", "text")
    val qs = Seq((5L, "alpha w5 beta"), (9L, "alpha w9 beta"),
      (41L, "alpha w41 beta")).toDF("query_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank")
        .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    val exact = rows(Retrieval.retrieveChunks(docs, qs, k = 4))
    val full = rows(Retrieval.retrieveChunksIvf(docs, qs, k = 4,
      nLists = 4, nProbe = 4))
    assert(full == exact, s"full-probe IVF must be exact:\n$full\nvs\n$exact")
    // sampled fit changes the centroids but never full-probe exactness
    val sampled = rows(Retrieval.retrieveChunksIvf(docs, qs, k = 4,
      nLists = 4, nProbe = 4, fitBudget = 64))
    assert(sampled == exact)
  }

  test("topKChunksIvf: probe table broadcasts, corpus never shuffles, top-k map-side") {
    val docs = (0L until 50L).map(i => (i, s"gamma w$i delta " * 20))
      .toDF("doc_id", "text")
    val qs = Seq((3L, "gamma w3 delta")).toDF("query_id", "text")
    val out = Retrieval.retrieveChunksIvf(docs, qs, k = 3, nLists = 4,
      nProbe = 2)
    val p = out.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("BroadcastHashJoin"),
      s"probe table must broadcast-hash-join on list:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"per-query top-k must push below the exchange:\n$p")
    assert(out.count() === 3)
    // pruned probing is a subset of lists, so every reported score must
    // also appear in the exact result's score universe for that query
    val exactTop = Retrieval.retrieveChunks(docs, qs, k = 3)
      .select("score").as[Long].collect().toSet
    val got = out.select("score").as[Long].collect()
    assert(got.forall(s => s <= exactTop.max))
  }

  test("retrieveChunksIvf: pruned-probe recall@k holds the 0.5 audit floor") {
    // the floor the battery audit (Verify.floors a_retrieval_ivf) mirrors;
    // hash embeddings are adversarially unstructured for a coarse
    // quantizer, so this is the operator's worst case, not a soft pitch
    val docs = (0L until 80L).map(i => (i, s"w$i alpha beta gamma " * 15))
      .toDF("doc_id", "text")
    val qs = (0L until 8L).map(i => (i, s"w${i * 9} alpha beta gamma"))
      .toDF("query_id", "text")
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "doc_id", "chunk_idx")
        .as[(Long, Long, Long)].collect().toSet
    val exact = keyed(Retrieval.retrieveChunks(docs, qs, k = 5))
    val approx = keyed(Retrieval.retrieveChunksIvf(docs, qs, k = 5,
      nLists = 6, nProbe = 2))
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall@5 $recall below the 0.5 floor " +
      s"(${(exact & approx).size}/${exact.size})")
  }

  test("persisted chunk index: serve == in-memory path, probes are partition filters") {
    val docs = (0L until 70L).map(i => (i, s"idx w$i theta " * 18))
      .toDF("doc_id", "text")
    val qs = Seq((2L, "idx w2 theta"), (6L, "idx w6 theta"))
      .toDF("query_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_chunk_idx")
      .toFile
    try {
      Retrieval.writeChunkIndex(docs, dir.getAbsolutePath, nLists = 5,
        fitBudget = 48)
      val served = Retrieval.retrieveFromChunkIndex(spark,
        dir.getAbsolutePath, qs, k = 4, nProbe = 2)
      // same build knobs → same centroids → identical output
      val inMem = Retrieval.retrieveChunksIvf(docs, qs, k = 4, nLists = 5,
        nProbe = 2, fitBudget = 48)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("query_id", "rank")
          .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
      assert(rows(served) == rows(inMem))
      // the probed-list union must reach the scan as a PARTITION filter —
      // only those lists' files are read, the rest of the index is skipped
      val p = served.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      assert(p.contains("PartitionFilters") && p.contains("list"),
        s"probe union must prune index partitions:\n$p")
      // full probe through the persisted layout is exact
      val full = Retrieval.retrieveFromChunkIndex(spark,
        dir.getAbsolutePath, qs, k = 4, nProbe = 5)
      assert(rows(full) == rows(Retrieval.retrieveChunks(docs, qs, k = 4)))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("IVF-PQ chunk index: codes-only layout, full probe + wide shortlist " +
    "is exact, serve never touches the corpus, pruned probe holds the 0.5 floor") {
    val docs = (0L until 80L).map(i => (i, s"pq w$i alpha beta gamma " * 15))
      .toDF("doc_id", "text")
    val qs = (0L until 8L).map(i => (i, s"pq w${i * 9} alpha beta gamma"))
      .toDF("query_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_chunk_pq")
      .toFile
    try {
      Retrieval.writeChunkIndexPq(docs, dir.getAbsolutePath, nLists = 5,
        m = 5, ksub = 16, fitBudget = 48)
      // the CODES layout stores codes, NEVER vectors — the 100 TB scan-IO
      // claim (the _vecs side table is invisible to this read: underscore
      // prefix, like the sidecars)
      val idx = spark.read.parquet(dir.getAbsolutePath)
      assert(idx.columns.toSet ==
        Set("doc_id", "chunk_idx", "chunk_start", "list", "pq_code"),
        idx.columns.mkString(","))
      // the side table's stored vectors ARE the re-embedded corpus chunks,
      // row for row — which is exactly why serving from it is
      // result-identical to the round-9 path that re-embedded the corpus
      // per serve call
      val side = spark.read.parquet(s"${dir.getAbsolutePath}/_vecs")
        .select("doc_id", "chunk_idx", "vec")
      val reEmbedded = graft.text.CorpusClean.chunkByTokens(docs, 32, 8)
        .where(col("chunk").isNotNull)
        .select(col("doc_id"), col("chunk_idx"),
          Retrieval.hashEmbedding(col("chunk"), 4, "emb").as("vec"))
      def vrows(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("doc_id", "chunk_idx")
          .as[(Long, Long, Seq[Long])].collect().toSeq
      assert(vrows(side) == vrows(reEmbedded),
        "side-table vectors must equal the re-embedded corpus chunks")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("query_id", "rank")
          .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
      // full probe + corpus-wide shortlist degrades to the exact scorer:
      // every candidate reaches the exact integer re-rank, so the PQ
      // approximation vanishes from the output entirely
      val full = Retrieval.retrieveFromChunkIndexPq(spark,
        dir.getAbsolutePath, qs, k = 4, nProbe = 5, shortlist = 100000)
      assert(rows(full) == rows(Retrieval.retrieveChunks(docs, qs, k = 4)))
      // pruned serve: probed lists must prune partitions; the codes scan
      // must read ids + codes ONLY; and the ENTIRE read surface must be
      // index files — the serve plan holds no scan outside the index dir
      // (the round-9 path re-chunked + re-embedded the whole corpus per
      // serve call; with no docs argument left in the API the plan lock
      // pins the fix structurally)
      val served = Retrieval.retrieveFromChunkIndexPq(spark,
        dir.getAbsolutePath, qs, k = 5, nProbe = 2)
      val p = served.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      assert(p.contains("PartitionFilters") && p.contains("list"),
        s"probe union must prune index partitions:\n$p")
      val locations = p.linesIterator
        .filter(_.contains("Location:")).toSeq
      assert(locations.nonEmpty &&
        locations.forall(_.contains(dir.getName)),
        s"serve must read ONLY index files, never a corpus scan:\n" +
          locations.mkString("\n"))
      // the vb doc-hash bucket filter must reach the side-table scan as a
      // partition filter too (the serving-regime plan: the collected
      // shortlist re-enters as a local relation, so the only scan left is
      // the bucket-pruned _vecs fetch)
      assert(p.contains("vb"), s"vec fetch must prune doc-hash buckets:\n$p")
      // pruned-probe recall vs the exact scorer — the battery audit floor
      def keyed(df: org.apache.spark.sql.DataFrame) =
        df.select("query_id", "doc_id", "chunk_idx")
          .as[(Long, Long, Long)].collect().toSet
      val exact = keyed(Retrieval.retrieveChunks(docs, qs, k = 5))
      val approx = keyed(served)
      val recall = (exact & approx).size.toDouble / exact.size
      assert(recall >= 0.5, s"recall@5 $recall below the 0.5 floor " +
        s"(${(exact & approx).size}/${exact.size})")
      // ADC-only serving mode: zero vector IO, same shortlist membership
      // universe — its top-k must be a subset of the ADC shortlist the
      // exact path re-ranks, and carry the documented (rank, adc) schema
      val adcOnly = Retrieval.retrieveFromChunkIndexPq(spark,
        dir.getAbsolutePath, qs, k = 5, nProbe = 2, exactRerank = false)
      assert(adcOnly.columns.toSeq == Seq("query_id", "rank", "doc_id",
        "chunk_idx", "chunk_start", "score"))
      val pAdc = adcOnly.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      assert(!pAdc.contains("_vecs"),
        s"ADC-only serve must not read the vector side table:\n$pAdc")
      // the codes-scan ReadSchema lock lives on this plan (the exact-rerank
      // serve collects the shortlist eagerly, so its RETURNED plan holds
      // only the side-table fetch): ids + codes only, no vector column
      val idxSchemas = pAdc.linesIterator
        .filter(l => l.contains("ReadSchema") && l.contains("pq_code")).toSeq
      assert(idxSchemas.nonEmpty && idxSchemas.forall(!_.contains("vec")),
        s"codes scan must read ids + codes only:\n${idxSchemas.mkString("\n")}")
      assert(adcOnly.count() == 8 * 5)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("appendToChunkIndexPq: appended index serves exactly like the union corpus; both layouts advance") {
    val oldDocs = (0L until 40L).map(i => (i, s"apq w$i chi " * 18))
      .toDF("doc_id", "text")
    // includes an outlier whose chunk norm can exceed the stored M² — the
    // augmentation clamp must keep the append NaN-free
    val newDocs = ((40L until 80L).map(i => (i, s"apq w$i chi " * 18)) :+
      (999L, "zzz outlier qqq " * 30)).toDF("doc_id", "text")
    val allDocs = oldDocs.unionByName(newDocs)
    val qs = Seq((7L, "apq w7 chi"), (55L, "apq w55 chi"),
      (999L, "zzz outlier qqq")).toDF("query_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_chunk_apq")
      .toFile
    try {
      Retrieval.writeChunkIndexPq(oldDocs, dir.getAbsolutePath, nLists = 5,
        m = 5, ksub = 16, fitBudget = 48)
      Retrieval.appendToChunkIndexPq(newDocs, dir.getAbsolutePath)
      // codes and side table must stay row-aligned (every chunk in both)
      val nCodes = spark.read.parquet(dir.getAbsolutePath).count()
      val nVecs = spark.read.parquet(s"${dir.getAbsolutePath}/_vecs").count()
      assert(nCodes == nVecs, s"codes $nCodes != side-table $nVecs rows")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("query_id", "rank")
          .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
      // full probe + wide shortlist through the appended index == the
      // exact scorer over the UNION corpus (what a rebuild serves at the
      // same degraded-to-exact settings)
      val full = rows(Retrieval.retrieveFromChunkIndexPq(spark,
        dir.getAbsolutePath, qs, k = 4, nProbe = 5, shortlist = 100000))
      assert(full == rows(Retrieval.retrieveChunks(allDocs, qs, k = 4)))
      // pruned serve still finds appended docs (incl. the outlier's)
      val pruned = Retrieval.retrieveFromChunkIndexPq(spark,
        dir.getAbsolutePath, qs, k = 4, nProbe = 2)
      val hitDocs = pruned.select("doc_id").as[Long].collect().toSet
      assert(hitDocs.exists(_ >= 40L), s"appended docs never retrieved: $hitDocs")
      assert(!pruned.select("score").as[Long].collect().exists(_ < 0),
        "scores must stay exact non-negative integers")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("exact-rerank over-gate branch: shortlist stays distributed — no broadcast/collect of it — and is row-identical to the collect branch") {
    val docs = (0L until 80L).map(i => (i, s"ogx w$i psi " * 15))
      .toDF("doc_id", "text")
    val qs = (0L until 8L).map(i => (i, s"ogx w${i * 9} psi"))
      .toDF("query_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_og_branch").toFile
    try {
      Retrieval.writeChunkIndexPq(docs, dir.getAbsolutePath, nLists = 5,
        m = 5, ksub = 16, fitBudget = 48)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("query_id", "rank")
          .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
      val collected = Retrieval.retrieveFromChunkIndexPq(spark,
        dir.getAbsolutePath, qs, k = 4, nProbe = 3)
      // collectGate = 0 forces the huge-eval branch on the same inputs
      val overGate = Retrieval.retrieveFromChunkIndexPq(spark,
        dir.getAbsolutePath, qs, k = 4, nProbe = 3, collectGate = 0L)
      assert(rows(overGate) == rows(collected),
        "over-gate branch must be row-identical to the collect branch")
      // plan lock: the side-table fetch joins the shortlist on
      // (doc_id, chunk_idx) WITHOUT a BroadcastExchange — past the gate the
      // shortlist is up to nq·sl rows, and broadcast would materialize it
      // on the driver exactly like the collect the gate exists to avoid.
      // The only broadcasts left are the probe table (≤ nq·nProbe rows)
      // and the ≤ nq-row query-vector table.
      import org.apache.spark.sql.execution.joins._
      val plan = overGate.queryExecution.sparkPlan
      val idJoins = plan.collect {
        case j: BaseJoinExec
          if j.leftKeys.map(_.toString).exists(_.contains("doc_id")) &&
             j.leftKeys.map(_.toString).exists(_.contains("chunk_idx")) => j
      }
      assert(idJoins.nonEmpty, s"no (doc_id, chunk_idx) join in:\n$plan")
      assert(idJoins.forall(j => !j.isInstanceOf[BroadcastHashJoinExec] &&
        !j.isInstanceOf[BroadcastNestedLoopJoinExec]),
        s"over-gate shortlist must not broadcast:\n$plan")
      assert(idJoins.exists(j => j.isInstanceOf[ShuffledHashJoinExec] ||
        j.isInstanceOf[SortMergeJoinExec]),
        s"side-table fetch must be a shuffle join past the gate:\n$plan")
      // and the shortlist carries no query-vector payload: the only qvec
      // attach is the final ≤nq-row broadcast join on query_id
      val qvecJoins = plan.collect {
        case j: BroadcastHashJoinExec
          if j.leftKeys.map(_.toString).exists(_.contains("query_id")) => j
      }
      assert(qvecJoins.nonEmpty,
        s"query vectors must re-attach via the bounded query-table join:\n$plan")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("over-gate shard path: a duplicate query_id past the gate fails loudly instead of recursing forever") {
    val chunks = Seq((1L, 0L, 0L, Seq(1L, 0L)))
      .toDF("doc_id", "chunk_idx", "chunk_start", "vec")
    // 3 rows share query_id 7 — identical ids co-shard at every re-shard,
    // so with maxQueries = 2 no amount of sharding can make progress
    val qs = Seq((7L, Seq(1L, 0L)), (7L, Seq(1L, 0L)), (7L, Seq(0L, 1L)),
      (8L, Seq(1L, 1L))).toDF("query_id", "vec")
    val e = intercept[IllegalArgumentException] {
      Retrieval.topKChunks(chunks, qs, k = 1, maxQueries = 2L)
    }
    assert(e.getMessage.contains("duplicate query_ids"), e.getMessage)
    // distinct ids past the gate still shard fine (same fixture minus dups)
    val ok = Retrieval.topKChunks(chunks,
      qs.dropDuplicates("query_id"), k = 1, maxQueries = 1L)
    assert(ok.count() == 2)
  }

  test("pq append ordering: side table lands first, so a death between the two write jobs leaves serving untouched") {
    val oldDocs = (0L until 40L).map(i => (i, s"ord w$i omg " * 18))
      .toDF("doc_id", "text")
    val newDocs = (40L until 70L).map(i => (i, s"ord w$i omg " * 18))
      .toDF("doc_id", "text")
    val qs = Seq((7L, "ord w7 omg"), (55L, "ord w55 omg"))
      .toDF("query_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_apq_ord").toFile
    try {
      Retrieval.writeChunkIndexPq(oldDocs, dir.getAbsolutePath, nLists = 4,
        m = 5, ksub = 16, fitBudget = 48)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("query_id", "rank")
          .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
      def serve() = rows(Retrieval.retrieveFromChunkIndexPq(spark,
        dir.getAbsolutePath, qs, k = 4, nProbe = 4, shortlist = 100000))
      val before = serve()
      // phase 1 of the append only (the _vecs job) — simulating a driver
      // death between the two write jobs
      val (codes, vecs) = Retrieval.pqAppendFrames(newDocs,
        dir.getAbsolutePath)
      vecs.write.mode("append").partitionBy("list", "vb")
        .parquet(s"${dir.getAbsolutePath}/_vecs")
      assert(serve() == before,
        "orphan side-table vectors must be invisible to serving — " +
          "un-coded chunks never reach a shortlist")
      // phase 2 completes the append: serving now covers the union corpus
      codes.write.mode("append").partitionBy("list")
        .parquet(dir.getAbsolutePath)
      assert(serve() == rows(Retrieval.retrieveChunks(
        oldDocs.unionByName(newDocs), qs, k = 4)))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("retrieveFromChunkIndexPq: an index built from an empty corpus serves an empty result") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val qs = Seq((1L, "anything at all")).toDF("query_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_chunk_pq0")
      .toFile
    try {
      Retrieval.writeChunkIndexPq(empty, dir.getAbsolutePath, nLists = 2,
        m = 5, ksub = 4, fitBudget = 8)
      // schema-less inference died here before the fixed reader schema
      // (partitioned dir with sidecars but no data files)
      val out = Retrieval.retrieveFromChunkIndexPq(spark,
        dir.getAbsolutePath, qs, k = 3, nProbe = 1)
      assert(out.count() == 0)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("PqDecode kernel: reconstruction == codeword concat, interpreted == codegen, null contract") {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val codebooks = Array(
      Array(Array(1.0, 2.0), Array(3.0, 4.0)),
      Array(Array(5.0, 6.0), Array(7.0, 8.0), Array(9.0, 10.0)))
    val bc = spark.sparkContext.broadcast(codebooks)
    def decode(c: org.apache.spark.sql.Column) =
      ColumnBridge.column(graft.functions.PqDecode(
        ColumnBridge.resolvedExpression(c), bc))
    def run(): Seq[Option[Seq[Double]]] =
      Seq(Seq(0, 2), Seq(1, 0), Seq(0, 0, 0), Seq(0, 9), Seq(1))
        .toDF("code")
        .select(decode(col("code")).as("v"))
        .collect().map(r =>
          if (r.isNullAt(0)) None else Some(r.getSeq[Double](0))).toSeq
    val gen = run()
    assert(gen == Seq(
      Some(Seq(1.0, 2.0, 9.0, 10.0)),   // codewords 0 and 2 concatenated
      Some(Seq(3.0, 4.0, 5.0, 6.0)),
      None,                              // wrong length
      None,                              // out-of-range id
      None), gen.toString)
    val conf = spark.conf
    val prior = (conf.get("spark.sql.codegen.wholeStage"),
      conf.get("spark.sql.codegen.factoryMode", "FALLBACK"))
    conf.set("spark.sql.codegen.wholeStage", "false")
    conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(run() == gen, "PqDecode: interpreted != codegen")
    finally {
      conf.set("spark.sql.codegen.wholeStage", prior._1)
      conf.set("spark.sql.codegen.factoryMode", prior._2)
    }
  }

  test("appendToChunkIndex: append ∪ build serves exactly like a full corpus, outlier norms clamp") {
    val oldDocs = (0L until 40L).map(i => (i, s"app w$i kappa " * 18))
      .toDF("doc_id", "text")
    // the appended half includes an outlier whose embedding norm can exceed
    // the stored M² — the clamp must keep augmentation NaN-free
    val newDocs = ((40L until 80L).map(i => (i, s"app w$i kappa " * 18)) :+
      (999L, "zzz outlier qqq " * 30)).toDF("doc_id", "text")
    val allDocs = oldDocs.unionByName(newDocs)
    val qs = Seq((7L, "app w7 kappa"), (55L, "app w55 kappa"),
      (999L, "zzz outlier qqq")).toDF("query_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_chunk_app")
      .toFile
    try {
      Retrieval.writeChunkIndex(oldDocs, dir.getAbsolutePath, nLists = 5,
        fitBudget = 48)
      Retrieval.appendToChunkIndex(newDocs, dir.getAbsolutePath)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("query_id", "rank")
          .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
      // full probe through the appended index == exact over the UNION
      val full = rows(Retrieval.retrieveFromChunkIndex(spark,
        dir.getAbsolutePath, qs, k = 4, nProbe = 5))
      assert(full == rows(Retrieval.retrieveChunks(allDocs, qs, k = 4)))
      // pruned probes still find the appended docs (incl. the outlier)
      val pruned = Retrieval.retrieveFromChunkIndex(spark,
        dir.getAbsolutePath, qs, k = 4, nProbe = 2)
      val hitDocs = pruned.select("doc_id").as[Long].collect().toSet
      assert(hitDocs.exists(_ >= 40L), s"appended docs never retrieved: $hitDocs")
      assert(!pruned.select("score").as[Long].collect().exists(_ < 0),
        "scores must stay exact non-negative integers")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("CLI build-chunk-index / append-chunk-index / retrieve drive the index end-to-end") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cli_idx").toFile
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
      val b = cli("build-chunk-index", s"$dir/docs", s"$dir/idx", "4")
      assert(b.contains("\"n_lists\":") && b.contains("\"n_chunks\":"), b)
      val a = cli("append-chunk-index", s"$dir/more", s"$dir/idx")
      assert(a.contains("\"appended_chunks\":"), a)
      assert(!a.contains("\"appended_chunks\":0,"), a)
      val r = cli("retrieve", s"$dir/idx", s"$dir/queries", s"$dir/out",
        "3", "4")
      assert(r.contains("\"n_queries\":2") && r.contains("\"n_results\":6"), r)
      // full probe (nProbe=4 of 4) through the CLI == the exact scorer on
      // the union corpus
      val exact = Retrieval.retrieveChunks(
        spark.read.parquet(s"$dir/docs")
          .unionByName(spark.read.parquet(s"$dir/more")),
        spark.read.parquet(s"$dir/queries"), k = 3)
      def key(df: org.apache.spark.sql.DataFrame) =
        df.select("query_id", "rank", "doc_id", "chunk_idx", "score")
          .as[(Long, Long, Long, Long, Long)].collect().toSeq.sorted
      assert(key(spark.read.parquet(s"$dir/out")) == key(exact))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("evalMetrics: MRR and nDCG@k against hand-computed fixtures") {
    // q1: hits at ranks 2 and 4 → MRR 1/2; DCG = 1/log2(3) + 1/log2(5);
    //     IDCG (2 hits ideal at ranks 1,2) = 1 + 1/log2(3)
    // q2: no hits → both 0.  q3: hit at rank 1 only → both 1
    val results = Seq(
      (1L, 1L, 0), (1L, 2L, 1), (1L, 3L, 0), (1L, 4L, 1), (1L, 5L, 0),
      (2L, 1L, 0), (2L, 2L, 0),
      (3L, 1L, 1), (3L, 2L, 0)
    ).toDF("query_id", "rank", "is_rel")
    val out = Retrieval.evalMetrics(results, col("is_rel") === 1, k = 5)
      .orderBy("query_id")
      .as[(Long, Long, Double, Double)].collect().toSeq
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    val dcg1 = 1.0 / (math.log(3) / math.log(2)) + 1.0 / (math.log(5) / math.log(2))
    val idcg1 = 1.0 + 1.0 / (math.log(3) / math.log(2))
    assert(out == Seq(
      (1L, 2L, 0.5, r6(dcg1 / idcg1)),
      (2L, 0L, 0.0, 0.0),
      (3L, 1L, 1.0, 1.0)), out.toString)
    // rows beyond k are ignored
    val outK1 = Retrieval.evalMetrics(results, col("is_rel") === 1, k = 1)
      .orderBy("query_id").as[(Long, Long, Double, Double)].collect().toSeq
    assert(outK1.map(t => (t._1, t._2)) == Seq((1L, 0L), (2L, 0L), (3L, 1L)))
  }

  test("retrieveChunks: re-shard invariant; null-text docs contribute no chunks") {
    val docs = ((0L until 30L).map(i => (i, s"alpha beta w$i " * 20)) :+
      (99L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val qs = Seq((5L, "alpha beta w5"), (9L, "alpha beta w9"))
      .toDF("query_id", "text")
    def run(d: org.apache.spark.sql.DataFrame) =
      Retrieval.retrieveChunks(d, qs, k = 4)
        .orderBy("query_id", "rank")
        .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    val a = run(docs)
    assert(a == run(docs.repartition(7)))
    assert(a.forall(_._3 != 99L))
  }

  test("applyPqIngestBatch: exactly-once under replay — marker no-op, full-crash scrub, mid-promote scrub all converge to the single application") {
    val oldDocs = (0L until 40L).map(i => (i, s"ing w$i zeta " * 18))
      .toDF("doc_id", "text")
    val newDocs = (40L until 70L).map(i => (i, s"ing w$i zeta " * 18))
      .toDF("doc_id", "text")
    val qs = Seq((7L, "ing w7 zeta"), (55L, "ing w55 zeta"))
      .toDF("query_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_ing_eo").toFile
    val path = dir.getAbsolutePath
    try {
      Retrieval.writeChunkIndexPq(oldDocs, path, nLists = 4, m = 5,
        ksub = 16, fitBudget = 48)
      def serve() = Retrieval.retrieveFromChunkIndexPq(spark, path, qs,
          k = 4, nProbe = 4, shortlist = 100000)
        .orderBy("query_id", "rank")
        .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
      def codeRows() = spark.read.parquet(path)
        .orderBy("doc_id", "chunk_idx")
        .select("doc_id", "chunk_idx").as[(Long, Long)].collect().toSeq
      val before = serve()
      val beforeCodes = codeRows()
      assert(Retrieval.applyPqIngestBatch(newDocs, path, batchId = 3L))
      val once = serve()
      val onceCodes = codeRows()
      // deterministic presence check (hash embeddings carry no text
      // semantics, so "an appended doc wins some query" is a coin flip —
      // the layout growing by exactly the new docs' chunks is not)
      assert(onceCodes.size > beforeCodes.size &&
        onceCodes.exists(_._1 >= 40L), "appended chunks missing from codes")
      // 1. batch committed → replay is a pure no-op
      assert(!Retrieval.applyPqIngestBatch(newDocs, path, batchId = 3L))
      assert(codeRows() == onceCodes && serve() == once)
      // 2. crash AFTER promote but BEFORE the log commit: every file
      // landed, no commit — replay must scrub its own files and re-land
      // exactly once
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
      IngestLogFixtures.dropNewestEntry(path)
      assert(Retrieval.applyPqIngestBatch(newDocs, path, batchId = 3L))
      assert(codeRows() == onceCodes && serve() == once)
      // 3. crash BETWEEN the promotes (vecs landed, codes did not): serving
      // in that state must look un-appended (orphan vecs are invisible),
      // and replay converges
      IngestLogFixtures.dropNewestEntry(path)
      Option(fs.globStatus(new org.apache.hadoop.fs.Path(
        s"$path/list=*/b3-*"))).getOrElse(Array.empty)
        .foreach(st => fs.delete(st.getPath, false))
      assert(serve() == before,
        "orphan vectors must be invisible to serving")
      assert(Retrieval.applyPqIngestBatch(newDocs, path, batchId = 3L))
      assert(codeRows() == onceCodes && serve() == once)
      // 4. a second batch under a different id composes; its commit is
      // independent of batch 3's
      assert(Retrieval.applyPqIngestBatch(
        (70L until 80L).map(i => (i, s"ing w$i zeta " * 18))
          .toDF("doc_id", "text"), path, batchId = 4L))
      assert(codeRows().size > onceCodes.size)
      assert(!Retrieval.applyPqIngestBatch(newDocs, path, batchId = 3L))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("applyChunkIngestBatch: exactly-once ingest into the flat chunk index, serve-equal to batch appends") {
    val oldDocs = (0L until 40L).map(i => (i, s"fci w$i rho " * 18))
      .toDF("doc_id", "text")
    val b1 = (40L until 55L).map(i => (i, s"fci w$i rho " * 18))
      .toDF("doc_id", "text")
    val b2 = (55L until 70L).map(i => (i, s"fci w$i rho " * 18))
      .toDF("doc_id", "text")
    val qs = Seq((7L, "fci w7 rho"), (47L, "fci w47 rho"),
      (62L, "fci w62 rho")).toDF("query_id", "text")
    val streamDir = java.nio.file.Files
      .createTempDirectory("graft_fci_s").toFile
    val batchDir = java.nio.file.Files
      .createTempDirectory("graft_fci_b").toFile
    try {
      Retrieval.writeChunkIndex(oldDocs, streamDir.getAbsolutePath,
        nLists = 4, fitBudget = 48)
      Retrieval.writeChunkIndex(oldDocs, batchDir.getAbsolutePath,
        nLists = 4, fitBudget = 48)
      assert(Retrieval.applyChunkIngestBatch(b1, streamDir.getAbsolutePath,
        batchId = 0L, streamId = "fci"))
      assert(Retrieval.applyChunkIngestBatch(b2, streamDir.getAbsolutePath,
        batchId = 1L, streamId = "fci"))
      Retrieval.appendToChunkIndex(b1, batchDir.getAbsolutePath)
      Retrieval.appendToChunkIndex(b2, batchDir.getAbsolutePath)
      def serve(p: String) = Retrieval.retrieveFromChunkIndex(spark, p, qs,
          k = 4, nProbe = 4)
        .orderBy("query_id", "rank")
        .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
      val expected = serve(batchDir.getAbsolutePath)
      assert(serve(streamDir.getAbsolutePath) == expected)
      // replay no-op, and replay-after-crash (commit gone, files present)
      assert(!Retrieval.applyChunkIngestBatch(b2, streamDir.getAbsolutePath,
        batchId = 1L, streamId = "fci"))
      IngestLogFixtures.dropNewestEntry(streamDir.getAbsolutePath)
      assert(Retrieval.applyChunkIngestBatch(b2, streamDir.getAbsolutePath,
        batchId = 1L, streamId = "fci"))
      assert(serve(streamDir.getAbsolutePath) == expected)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(streamDir)
      org.apache.commons.io.FileUtils.deleteDirectory(batchDir)
    }
  }

  test("committed-only PQ serve: a promoted-but-unmarked batch is invisible to BOTH layout scans; once the marker lands it serves identically") {
    val oldDocs = (0L until 40L).map(i => (i, s"cmo w$i tau " * 18))
      .toDF("doc_id", "text")
    val newDocs = (40L until 70L).map(i => (i, s"cmo w$i tau " * 18))
      .toDF("doc_id", "text")
    val qs = Seq((7L, "cmo w7 tau"), (55L, "cmo w55 tau"))
      .toDF("query_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_cmo").toFile
    val path = dir.getAbsolutePath
    try {
      Retrieval.writeChunkIndexPq(oldDocs, path, nLists = 4, m = 5,
        ksub = 16, fitBudget = 48)
      def serve(committed: Boolean) =
        Retrieval.retrieveFromChunkIndexPq(spark, path, qs, k = 4,
            nProbe = 4, shortlist = 100000, committedOnly = committed)
          .orderBy("query_id", "rank")
          .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
      // base index: committed-only == default
      val before = serve(committed = false)
      assert(serve(committed = true) == before)
      // batch fully promoted (codes AND vecs), log commit dropped — the
      // crash-before-commit state. The default serve sees the new chunks;
      // the committed-only serve must be row-identical to the pre-batch
      // index: neither layout scan may admit the uncommitted batch's files.
      assert(Retrieval.applyPqIngestBatch(newDocs, path, batchId = 3L))
      val once = serve(committed = false)
      val fs = graft.util.StreamCommit.fs(spark, path)
      IngestLogFixtures.dropNewestEntry(path)
      assert(Option(fs.globStatus(new org.apache.hadoop.fs.Path(
        s"$path/list=*/b3-*"))).getOrElse(Array.empty).nonEmpty &&
        Option(fs.globStatus(new org.apache.hadoop.fs.Path(
          s"$path/_vecs/list=*/vb=*/b3-*"))).getOrElse(Array.empty).nonEmpty,
        "fixture: b3's files must be promoted in both layouts")
      assert(serve(committed = true) == before,
        "an uncommitted batch must be invisible to the committed-only serve")
      // replay lands the commit: committed-only == default == post-ingest
      assert(Retrieval.applyPqIngestBatch(newDocs, path, batchId = 3L))
      assert(serve(committed = true) == once &&
        serve(committed = false) == once)
      // ADC-only mode (no vecs fetch) honors the same snapshot: with the
      // commit dropped again, the committed-only ADC serve must rank only
      // pre-batch chunks (doc_id < 40); re-landing the commit restores it
      def adcServe(committed: Boolean) =
        Retrieval.retrieveFromChunkIndexPq(spark, path, qs, k = 4,
            nProbe = 4, shortlist = 100000, exactRerank = false,
            committedOnly = committed)
          .orderBy("query_id", "rank")
          .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
      val adcFull = adcServe(committed = true)
      assert(adcFull == adcServe(committed = false))
      IngestLogFixtures.dropNewestEntry(path)
      val adcSnapshot = adcServe(committed = true)
      assert(adcSnapshot.nonEmpty && adcSnapshot.forall(_._3 < 40L),
        "ADC committed-only serve with the commit dropped must rank only " +
          "pre-batch chunks")
      assert(Retrieval.applyPqIngestBatch(newDocs, path, batchId = 3L))
      assert(adcServe(committed = true) == adcFull)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("removePqIngestBatch / removeChunkIngestBatch: rollback restores the exact pre-batch serve; CLI verb drives it") {
    import graft.Cli
    val oldDocs = (0L until 40L).map(i => (i, s"rbq w$i chi " * 18))
      .toDF("doc_id", "text")
    val poison = (40L until 60L).map(i => (i, s"rbq w$i chi " * 18))
      .toDF("doc_id", "text")
    val qs = Seq((7L, "rbq w7 chi"), (47L, "rbq w47 chi"))
      .toDF("query_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_rbq").toFile
    val pq = s"$dir/pq"
    val flat = s"$dir/flat"
    try {
      Retrieval.writeChunkIndexPq(oldDocs, pq, nLists = 4, m = 5,
        ksub = 16, fitBudget = 48)
      Retrieval.writeChunkIndex(oldDocs, flat, nLists = 4, fitBudget = 48)
      def servePq() = Retrieval.retrieveFromChunkIndexPq(spark, pq, qs,
          k = 4, nProbe = 4, shortlist = 100000)
        .orderBy("query_id", "rank")
        .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
      def serveFlat() = Retrieval.retrieveFromChunkIndex(spark, flat, qs,
          k = 4, nProbe = 4)
        .orderBy("query_id", "rank")
        .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
      val pqBefore = servePq()
      val flatBefore = serveFlat()
      // PQ: ingest, roll back via the CLI verb, serve byte-identical and
      // BOTH layouts scrubbed
      assert(Retrieval.applyPqIngestBatch(poison, pq, batchId = 5L,
        streamId = "rb"))
      assert(servePq() != pqBefore, "fixture: batch must be visible")
      Cli.run(spark, Array("remove-ingest-batch", pq, "pq", "5", "rb"))
      assert(servePq() == pqBefore)
      val fs = graft.util.StreamCommit.fs(spark, pq)
      assert(Option(fs.globStatus(new org.apache.hadoop.fs.Path(
        s"$pq/list=*/rb~b5-*"))).getOrElse(Array.empty).isEmpty &&
        Option(fs.globStatus(new org.apache.hadoop.fs.Path(
          s"$pq/_vecs/list=*/vb=*/rb~b5-*"))).getOrElse(Array.empty).isEmpty,
        "rollback must scrub both layouts")
      assert(!Retrieval.removePqIngestBatch(spark, pq, batchId = 5L,
        streamId = "rb"))
      // flat: same contract through the API
      assert(Retrieval.applyChunkIngestBatch(poison, flat, batchId = 0L))
      assert(serveFlat() != flatBefore)
      assert(Retrieval.removeChunkIngestBatch(spark, flat, batchId = 0L))
      assert(serveFlat() == flatBefore)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("compactMarkers: contiguous watermark folds markers, a gap stops it, committed serves and removal refusals agree") {
    val oldDocs = (0L until 40L).map(i => (i, s"cmk w$i phi " * 18))
      .toDF("doc_id", "text")
    def batch(lo: Long, hi: Long) = (lo until hi)
      .map(i => (i, s"cmk w$i phi " * 18)).toDF("doc_id", "text")
    val qs = Seq((7L, "cmk w7 phi"), (47L, "cmk w47 phi"),
      (67L, "cmk w67 phi")).toDF("query_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_cmk").toFile
    val path = dir.getAbsolutePath
    try {
      Retrieval.writeChunkIndexPq(oldDocs, path, nLists = 4, m = 5,
        ksub = 16, fitBudget = 48)
      def serve(committed: Boolean) =
        Retrieval.retrieveFromChunkIndexPq(spark, path, qs, k = 4,
            nProbe = 4, shortlist = 100000, committedOnly = committed)
          .orderBy("query_id", "rank")
          .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
      assert(Retrieval.applyPqIngestBatch(batch(40, 50), path,
        batchId = 0L, streamId = "cm"))
      assert(Retrieval.applyPqIngestBatch(batch(50, 60), path,
        batchId = 1L, streamId = "cm"))
      val full2 = serve(committed = false)
      assert(serve(committed = true) == full2)
      // fold: watermark covers the contiguous 0..1 run, nothing left
      // pending, and the committed-only serve still sees the folded batches
      // (their files keep cm~b<id>- prefixes forever — the watermark, not
      // `pending`, is their commit record)
      def compact(p: String, globs: String => Seq[String]) =
        graft.util.StreamCommit.compact(spark, p, globs)
      assert(compact(path, Retrieval.chunkBatchGlobs(path)).watermarks ==
        Map("cm" -> 1L))
      assert(graft.util.StreamCommit.readState(spark, path).pending.isEmpty)
      assert(serve(committed = true) == full2,
        "folded batches must stay visible to the committed-only serve")
      // a GAP (batch 2 never landed) pins the watermark: batch 3 must stay
      // pending through compaction, and its chunks serve as pending
      assert(Retrieval.applyPqIngestBatch(batch(60, 70), path,
        batchId = 3L, streamId = "cm"))
      val full3 = serve(committed = false)
      assert(compact(path, Retrieval.chunkBatchGlobs(path)).watermarks ==
        Map("cm" -> 1L),
        "a batchId gap must stop the watermark extension")
      assert(graft.util.StreamCommit.readState(spark, path).pending ==
        Map("cm" -> Map(3L -> Map.empty)))
      assert(serve(committed = true) == full3)
      // removal: below the watermark refuses loudly (permanently
      // committed); above it works
      val ex = intercept[IllegalStateException] {
        Retrieval.removePqIngestBatch(spark, path, batchId = 1L,
          streamId = "cm")
      }
      assert(ex.getMessage.contains("watermark"))
      assert(Retrieval.removePqIngestBatch(spark, path, batchId = 3L,
        streamId = "cm"))
      assert(serve(committed = true) == full2 &&
        serve(committed = false) == full2)
      // a re-run with nothing to fold commits nothing
      val versions = IngestLogFixtures.logVersions(path)
      compact(path, Retrieval.chunkBatchGlobs(path))
      assert(IngestLogFixtures.logVersions(path) == versions)
      assert(serve(committed = true) == full2)
      // BM25 batches fold through this same compaction: their stats
      // deltas land in the log's payload, and the layout serves rows
      // identical to compactStreamStats on a twin index
      def bm25Twin(p: String) = {
        graft.ann.Bm25.writeIndex(oldDocs, p, nBuckets = 8)
        assert(graft.ann.Bm25.applyIngestBatch(batch(40, 50), p,
          batchId = 0L, streamId = "cm"))
        assert(graft.ann.Bm25.applyIngestBatch(batch(50, 60), p,
          batchId = 1L, streamId = "cm"))
      }
      val (viaMarkers, viaStats) = (s"$dir/bm25_cm", s"$dir/bm25_cs")
      bm25Twin(viaMarkers)
      bm25Twin(viaStats)
      assert(compact(viaMarkers, graft.ann.Bm25.batchGlobs(viaMarkers))
        .watermarks == Map("cm" -> 1L))
      graft.ann.Bm25.compactStreamStats(spark, viaStats)
      val folded = graft.util.StreamCommit.readState(spark, viaMarkers)
      assert(folded.pending.isEmpty)
      assert(folded.payload == graft.util.StreamCommit
        .readState(spark, viaStats).payload)
      assert(folded.payload("n_docs") == 60L,
        "the folded batches' deltas must land in the base stats")
      def bm25Rows(p: String, committed: Boolean) =
        graft.ann.Bm25.retrieveFromIndex(spark, p, qs, k = 4,
            committedOnly = committed)
          .orderBy("query_id", "rank").collect().toSeq
      for (committed <- Seq(false, true))
        assert(bm25Rows(viaMarkers, committed) ==
          bm25Rows(viaStats, committed))
      assert(bm25Rows(viaMarkers, committed = false) ==
        graft.ann.Bm25.topK(oldDocs.unionByName(batch(40, 60)), qs, k = 4)
          .orderBy("query_id", "rank").collect().toSeq)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("committed-only flat serve: unmarked batch invisible, marker restores it") {
    val oldDocs = (0L until 40L).map(i => (i, s"cmf w$i psi " * 18))
      .toDF("doc_id", "text")
    val b1 = (40L until 60L).map(i => (i, s"cmf w$i psi " * 18))
      .toDF("doc_id", "text")
    val qs = Seq((7L, "cmf w7 psi"), (47L, "cmf w47 psi"))
      .toDF("query_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_cmf").toFile
    val path = dir.getAbsolutePath
    try {
      Retrieval.writeChunkIndex(oldDocs, path, nLists = 4, fitBudget = 48)
      def serve(committed: Boolean) =
        Retrieval.retrieveFromChunkIndex(spark, path, qs, k = 4, nProbe = 4,
            committedOnly = committed)
          .orderBy("query_id", "rank")
          .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
      val before = serve(committed = false)
      assert(serve(committed = true) == before)
      assert(Retrieval.applyChunkIngestBatch(b1, path, batchId = 0L,
        streamId = "cmf"))
      val once = serve(committed = false)
      IngestLogFixtures.dropNewestEntry(path)
      assert(serve(committed = true) == before,
        "uncommitted flat-index batch must be invisible to committed-only")
      assert(Retrieval.applyChunkIngestBatch(b1, path, batchId = 0L,
        streamId = "cmf"))
      assert(serve(committed = true) == once)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("validatePqIndex: clean index passes; orphan vecs (crashed-append residue) report without failing; a code without its vec fails") {
    val docs = (0L until 40L).map(i => (i, s"vpx w$i mu " * 18))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_vpx").toFile
    val path = dir.getAbsolutePath
    try {
      Retrieval.writeChunkIndexPq(docs, path, nLists = 4, m = 5, ksub = 16,
        fitBudget = 48)
      assert(Retrieval.applyPqIngestBatch(
        (40L until 50L).map(i => (i, s"vpx w$i mu " * 18))
          .toDF("doc_id", "text"), path, batchId = 0L, streamId = "vpx"))
      val v0 = Retrieval.validatePqIndex(spark, path)
      assert(v0._5 && v0._3 == 0L && v0._4 == 0L && v0._1 == v0._2 &&
        v0._1 > 0L, s"clean index must validate: $v0")
      // death between the vecs and codes append jobs: vecs landed, codes
      // didn't — inert to serving (documented), reported, still ok
      val (_, orphanVecs) = Retrieval.pqAppendFrames(
        (50L until 55L).map(i => (i, s"vpx w$i mu " * 18))
          .toDF("doc_id", "text"), path)
      orphanVecs.write.mode("append").partitionBy("list", "vb")
        .parquet(s"$path/_vecs")
      val v1 = Retrieval.validatePqIndex(spark, path)
      assert(v1._5 && v1._3 == 0L && v1._4 > 0L,
        s"orphan vecs must report without failing: $v1")
      // the silent-drop hazard: a committed code row with no vector row
      // (here: a hand-planted duplicate under a fresh doc_id) must FAIL
      spark.read.parquet(path).limit(1)
        .withColumn("doc_id", lit(999999L))
        .write.mode("append").partitionBy("list").parquet(path)
      val v2 = Retrieval.validatePqIndex(spark, path)
      assert(!v2._5 && v2._3 == 1L,
        s"a code without its vec must fail the check: $v2")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }
}
