package graft

import graft.streaming.StreamingText
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp

class StreamingTextSpec extends SparkSpec {

  private def ts(s: Long) = new Timestamp(1700000000000L + s * 1000)

  test("streaming exact dedup: watermark-bounded state collapses duplicates (St7)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Timestamp)]
    val deduped = StreamingText.dedupStream(
      input.toDF().toDF("doc_id", "text", "ts"), "text", "ts", "10 minutes")
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: two distinct docs + one duplicate text
      input.addData((1L, "alpha beta", ts(0)), (2L, "alpha beta", ts(1)),
        (3L, "gamma", ts(2)))
      q.processAllAvailable()
      // batch 2: same text again inside the watermark window → still a dup.
      // Keyed on THE shared dedup digest (md5(lower(trim(text))), same as
      // batch Dedup.exact): case + outer whitespace normalize, interior
      // whitespace does NOT — streaming and batch must agree on both.
      input.addData((4L, "  ALPHA beta ", ts(5)),
        (5L, "alpha   beta", ts(6))) // interior ws run → DISTINCT, kept
      q.processAllAvailable()
      val ids = spark.table("dedup_out").collect().map(_.getLong(0)).toSet
      assert(ids.contains(3L))
      assert((ids & Set(1L, 2L)).size == 1, s"one of the dup pair survives: $ids")
      assert(!ids.contains(4L), "normalized duplicate must be dropped")
      assert(ids.contains(5L), "interior-whitespace variant is distinct, like batch")
      // the plan carries streaming dedup state, not an unbounded aggregation
      assert(q.lastProgress == null ||
        q.lastProgress.stateOperators.exists(_.operatorName.toLowerCase.contains("dedup")))
    } finally q.stop()
  }

  test("streaming incremental dedup: stream-static anti-join against a persisted index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val index = graft.dedup.Dedup.exactIndex(
      Seq((10L, "history doc one"), (12L, null: String))
        .toDF("doc_id", "text"), "doc_id", "text")
    val input = MemoryStream[(Long, String, Timestamp)]
    val out = StreamingText.incrementalDedupStream(
      input.toDF().toDF("doc_id", "text", "ts"), "text", "ts", "10 minutes", index)
    val q = out.writeStream.format("memory").queryName("inc_dedup_out")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        (1L, "  HISTORY doc one ", ts(0)), // indexed after normalization → dropped
        (2L, "fresh doc", ts(1)),
        (3L, "Fresh DOC", ts(2)),          // in-stream dup of 2 → one survives
        (4L, null: String, ts(3)))         // null text bypasses both joins
      q.processAllAvailable()
      input.addData((5L, "fresh doc", ts(4))) // in-window dup of batch 1 survivor
      q.processAllAvailable()
      val ids = spark.table("inc_dedup_out").collect().map(_.getLong(0)).toSet
      assert(!ids.contains(1L), "index hit must be dropped")
      assert((ids & Set(2L, 3L)).size == 1, s"one of the in-stream dup pair survives: $ids")
      assert(ids.contains(4L), "null text passes through")
      assert(!ids.contains(5L), "cross-batch dup within the watermark must drop")
    } finally q.stop()
  }

  test("streaming media dedup by perceptual hash: re-encoded copies collapse, unhashable rows pass") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.multimodal.Multimodal
    // golden 12x8 gradient PNG + a BMP transcode (identical pixels,
    // different container bytes → identical phash), a distinct image, and
    // an empty payload
    def png(f: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(12, 8,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 8; x <- 0 until 12) {
        val v = f(x, y) & 0xff; img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val base = png((x, y) => x * 20 + y * 3)
    val bmp = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(base))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "bmp", bos)
      bos.toByteArray
    }
    val other = png((x, y) => 255 - x * 20 - y)
    def ts(m: Int) = new java.sql.Timestamp(1700000000000L + m * 60000L)
    val input = MemoryStream[(Long, String, Array[Byte], Timestamp)]
    val out = Multimodal.dedupMediaStream(
      input.toDF().toDF("media_id", "media_type", "content", "ts"),
      "ts", "10 minutes")
    val q = out.writeStream.format("memory").queryName("media_dedup_out")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    try {
      input.addData(
        (1L, "image", base, ts(0)),
        (2L, "image", bmp, ts(1)),   // same pixels → same phash → dup
        (3L, "image", other, ts(2)),
        (4L, "image", Array.emptyByteArray, ts(3))) // unhashable: passes
      q.processAllAvailable()
      input.addData((5L, "image", base, ts(4))) // cross-batch dup in window
      q.processAllAvailable()
      val ids = spark.table("media_dedup_out").collect()
        .map(_.getLong(0)).toSet
      assert((ids & Set(1L, 2L)).size == 1, s"transcode pair must collapse: $ids")
      assert(ids.contains(3L) && ids.contains(4L))
      assert(!ids.contains(5L), "cross-batch identical image must drop in-window")
    } finally q.stop()
  }

  test("continuous crawl ingest: WARC archives stream in, parse + HTML-extract incrementally") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, decode}
    // the crawl chain under Structured Streaming: a directory of arriving
    // archives (the binaryFile FILE source) → streamed record parse →
    // HTML extraction — all narrow ops, so the batch operators run
    // unchanged; each new archive lands exactly once
    val dir = java.nio.file.Files.createTempDirectory("graft-warc-stream")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-warc-ckpt")
    def archive(n: Int, docs: Seq[(String, String)]): Unit = {
      val recs = docs.map { case (uri, html) =>
        val p = html.getBytes("UTF-8")
        (s"WARC/1.1\r\nWARC-Type: resource\r\nWARC-Target-URI: $uri\r\n" +
          s"Content-Length: ${p.length}\r\n\r\n").getBytes("UTF-8") ++
          p ++ "\r\n\r\n".getBytes("UTF-8")
      }
      java.nio.file.Files.write(dir.resolve(f"crawl-$n%03d.warc"),
        recs.flatten.toArray)
    }
    archive(1, Seq("http://w/1" -> "<p>first doc</p>",
      "http://w/2" -> "<p>second</p><script>x<1</script>"))
    val binarySchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("path",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("modificationTime",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("length",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("content",
        org.apache.spark.sql.types.BinaryType)))
    val stream = spark.readStream.format("binaryFile")
      .schema(binarySchema) // streaming file sources require one explicitly
      .option("pathGlobFilter", "*.warc*")
      .load(dir.toString)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (p, raw) => graft.sources.WarcIO.parse(p, raw) }
      .where(!col("corrupt"))
      .select(col("target_uri"),
        graft.text.CorpusClean.extractHtmlText(
          decode(col("content"), "UTF-8")).as("text"))
    val q = stream.writeStream.format("memory").queryName("warc_stream_out")
      .option("checkpointLocation", ckpt.toString)
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      val batch1 = spark.table("warc_stream_out").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(batch1 == Map("http://w/1" -> "first doc", "http://w/2" -> "second"))
      archive(2, Seq("http://w/3" -> "<h1>late arrival</h1>"))
      q.processAllAvailable()
      val rows = spark.table("warc_stream_out").collect()
      // RAW row count — a toMap would silently dedup a reprocessed archive
      // and green a broken exactly-once
      assert(rows.length == 3,
        s"a newly arriving archive must land exactly once, got ${rows.length} rows")
      val all = rows.map(r => r.getString(0) -> r.getString(1)).toMap
      assert(all("http://w/3") == "late arrival")
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
      org.apache.commons.io.FileUtils.deleteDirectory(ckpt.toFile)
    }
  }

  test("stateless text ops (repetition signals, corpus filter, redaction) run on streams") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val input = MemoryStream[(Long, String)]
    // zero-shuffle narrow maps are streaming-safe by construction — this
    // pins that the whole cleaning battery keeps working in a readStream →
    // transform → writeStream pipeline (no unsupported-operation analysis)
    val docs = input.toDF().toDF("doc_id", "text")
    val out = graft.text.CorpusClean.redactPii(docs)
      .join(graft.text.CorpusClean.filterCorpus(docs,
        graft.text.CorpusClean.FilterConfig(minTokens = Some(3L),
          // n-gram/dup-line rules off: on 6-word docs a UNIQUE top 2-gram is
          // already >20% of the text (the documented short-doc noise of the
          // Gopher thresholds); this test pins streaming execution, not knobs
          maxDupLineCharFrac = None, maxTop2gramCharFrac = None)), "doc_id")
      .withColumn("top2",
        graft.text.TextFunctions.repetitionSignals(col("text_redacted"))
          .getField("top_2gram_char_frac"))
    val q = out.writeStream.format("memory").queryName("clean_out")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((1L, "mail me at a@b.example please do"), (2L, "tiny"))
      q.processAllAvailable()
      val rows = spark.table("clean_out")
        .select("doc_id", "text_redacted", "keep", "reason")
        .collect().map(r => r.getLong(0) ->
          ((r.getString(1), r.getBoolean(2), Option(r.getString(3))))).toMap
      assert(rows(1L)._1.contains("<EMAIL>") && rows(1L)._2)
      assert(rows(2L) == (("tiny", false, Some("too_short"))))
    } finally q.stop()
  }

  test("chunking runs on streams: both addressings emit batch-identical chunks") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // chunking is a stateless sequence+explode map, so it must pass
    // streaming analysis unchanged — pin both addressings end-to-end
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val byTok = graft.text.CorpusClean.chunkByTokens(docs, 4, 1)
    val byChar = graft.text.CorpusClean.chunkDocuments(docs, 10, 3)
    val q1 = byTok.writeStream.format("memory").queryName("chunk_tok")
      .outputMode(OutputMode.Append()).start()
    val q2 = byChar.writeStream.format("memory").queryName("chunk_char")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((1L, "a b c d e"), (2L, null: String))
      q1.processAllAvailable(); q2.processAllAvailable()
      val tok = spark.table("chunk_tok").collect().map(r => (r.getLong(0),
        if (r.isNullAt(3)) null else (r.getLong(3), r.getString(5)))).toSet
      assert(tok == Set((1L, (0L, "a b c d")), (1L, (1L, "d e")), (2L, null)))
      val ch = spark.table("chunk_char").collect().map(r => (r.getLong(0),
        if (r.isNullAt(2)) null else (r.getLong(2), r.getString(4)))).toSet
      assert(ch == Set((1L, (0L, "a b c d e")), (2L, null)))
    } finally { q1.stop(); q2.stop() }
  }

  test("stateless sampling ops (splits, weighted mixing) run on streams") {
    // the split/mix decisions are pure hash arithmetic per row, so the same
    // code path must work under readStream — and assign the SAME split a
    // batch run assigns (hash determinism is the whole contract)
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "source")
    val out = graft.text.Sampling.sampleWeighted(
      graft.text.Sampling.assignSplits(docs, Seq("train" -> 0.9, "test" -> 0.1)),
      Map("a" -> 2.0), defaultWeight = 1.0)
    val q = out.writeStream.format("memory").queryName("sample_out")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((1L, "a"), (2L, "b"), (42L, "b"))
      q.processAllAvailable()
      val rows = spark.table("sample_out")
        .select("doc_id", "split", "copy").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      assert(rows.count(_._1 == 1L) === 2, "w=2.0 doubles doc 1 on the stream")
      val batch = graft.text.Sampling.assignSplits(
          Seq((1L, "a"), (2L, "b"), (42L, "b")).toDF("doc_id", "source"),
          Seq("train" -> 0.9, "test" -> 0.1))
        .select("doc_id", "split").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(rows.map(t => t._1 -> t._2).toMap === batch,
        "stream and batch must assign identical splits")
    } finally q.stop()
  }

  test("streaming decontamination: narrow-map probe matches the batch flags") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val bench = Seq((9L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "x alpha beta gamma y"),
      (11L, "x alpha beta gamma delta y"),
      (12L, "nothing in common here at all"),
      (13L, null: String))
    val batch = graft.text.Sampling.decontaminate(
        corpus.toDF("doc_id", "text"), bench, shingleN = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val input = MemoryStream[(Long, String)]
    val out = StreamingText.decontaminateStream(
      input.toDF().toDF("doc_id", "text"), bench, shingleN = 3)
    val q = out.writeStream.format("memory").queryName("decon_out")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(corpus: _*)
      q.processAllAvailable()
      val rows = spark.table("decon_out")
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      // flagged rows carry the batch path's exact match counts
      assert(rows.filter(_._2 > 0) == batch)
      // null/clean rows pass with zero matches
      assert(rows(12L) == 0L && rows(13L) == 0L)
      // the filtering modes agree
      val clean = StreamingText.decontaminateStream(
        corpus.toDF("doc_id", "text"), bench, shingleN = 3, keep = "clean")
        .collect().map(_.getLong(0)).toSet
      assert(clean == Set(12L, 13L))
    } finally q.stop()
  }

  test("per-source running stats via explicit keyed state (St8)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, String)]
    val stats = StreamingText.sourceStats(
      input.toDF().toDF("source", "text"), "source", "text")
    val q = stats.writeStream.format("memory").queryName("stats_out")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(("web", "one two three"), ("web", "four five"), ("books", "six"))
      q.processAllAvailable()
      input.addData(("web", "one two three")) // exact dup of an earlier doc
      q.processAllAvailable()
      val rows = spark.table("stats_out").collect()
        .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      // latest update per source wins
      val last = rows.groupBy(_._1).map { case (s, rs) => s -> rs.last._2 }
      assert(last("web") == ((3L, 8L, 1L)), s"web stats: ${last("web")}")
      assert(last("books") == ((1L, 1L, 0L)))
    } finally q.stop()
  }

  test("sourceStats: null-text rows never count as duplicates (no shared-sentinel inflation)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, String)]
    val stats = StreamingText.sourceStats(
      input.toDF().toDF("source", "text"), "source", "text")
    val q = stats.writeStream.format("memory").queryName("stats_null_out")
      .outputMode(OutputMode.Update()).start()
    try {
      // null-HEAVY batch: four null-text rows, two distinct real docs, one
      // real dup. Under the old shared-0L-sentinel fingerprint the nulls
      // would count each other (and any real fingerprint-0 doc) as dups —
      // approx_dups must see exactly the ONE real duplicate.
      input.addData(
        ("web", null: String), ("web", "one two"), ("web", null: String),
        ("web", null: String), ("web", "three"), ("web", "one two"),
        ("web", null: String))
      q.processAllAvailable()
      // a later all-null batch: still no new dups, docs/tokens keep counting
      input.addData(("web", null: String), ("web", null: String))
      q.processAllAvailable()
      val last = spark.table("stats_null_out").collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).last
      assert(last == ((9L, 5L, 1L)),
        s"(docs, tokens, dups) = $last — null rows inflated approx_dups")
    } finally q.stop()
  }

  test("LM scoring runs unchanged on a stream (stream-static model joins); final update == batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val refBatch = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    val model = graft.text.LmScore.train(refBatch)
    val input = MemoryStream[(Long, String)]
    // the BATCH operator applied verbatim to a streaming corpus: position
    // expansion is a narrow map, the five model lookups are stream-static
    // left joins, the per-doc agg becomes a (update-mode) streaming agg
    val out = graft.text.LmScore.score(input.toDF().toDF("doc_id", "text"), model)
    val q = out.writeStream.format("memory").queryName("lm_out")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData((10L, "a b c"), (11L, "b b z"))
      q.processAllAvailable()
      val streamRows = spark.table("lm_out").collect()
        .map(r => r.getLong(0) -> r.toSeq).toMap
      val batchRows = graft.text.LmScore.score(
          Seq((10L, "a b c"), (11L, "b b z")).toDF("doc_id", "text"), model)
        .collect().map(r => r.getLong(0) -> r.toSeq).toMap
      assert(streamRows === batchRows)
    } finally q.stop()
  }

  test("streaming retrieval serves the persisted chunk index; appends visible next trigger") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = (0L until 50L).map(i => (i, s"srv w$i omega " * 18))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_srv_idx").toFile
    val got = scala.collection.mutable.ArrayBuffer
      .empty[Seq[(Long, Long, Long, Long)]]
    try {
      graft.ann.Retrieval.writeChunkIndex(docs, dir.getAbsolutePath,
        nLists = 4, fitBudget = 48)
      val input = MemoryStream[(Long, String)]
      val q = StreamingText.retrieveStream(
          input.toDF().toDF("query_id", "text"), dir.getAbsolutePath,
          k = 3, nProbe = 4) { out =>
          got += out.select("query_id", "rank", "doc_id", "score")
            .as[(Long, Long, Long, Long)].collect().toSeq.sorted
        }
        .start()
      try {
        input.addData((5L, "srv w5 omega"))
        q.processAllAvailable()
        // batch result == the batch serving API on the same query set
        def batch(qdf: org.apache.spark.sql.DataFrame) =
          graft.ann.Retrieval.retrieveFromChunkIndex(spark,
              dir.getAbsolutePath, qdf, k = 3, nProbe = 4)
            .select("query_id", "rank", "doc_id", "score")
            .as[(Long, Long, Long, Long)].collect().toSeq.sorted
        assert(got.size == 1 &&
          got.head == batch(Seq((5L, "srv w5 omega")).toDF("query_id", "text")))
        // append between triggers: the next micro-batch sees the new docs
        graft.ann.Retrieval.appendToChunkIndex(
          Seq((100L, "freshly appended srv doc " * 10)).toDF("doc_id", "text"),
          dir.getAbsolutePath)
        input.addData((6L, "freshly appended srv doc"))
        q.processAllAvailable()
        assert(got.size == 2)
        // stream ≡ batch on the GROWN index (hash embeddings carry no
        // text semantics, so the contract is equality with the batch API,
        // not that the appended doc wins an arbitrary query)...
        assert(got(1) ==
          batch(Seq((6L, "freshly appended srv doc")).toDF("query_id", "text")))
        // ...and the appended doc is physically in the served layout
        val idxDocs = spark.read.parquet(dir.getAbsolutePath)
          .where(org.apache.spark.sql.functions.col("doc_id") === 100L).count()
        assert(idxDocs > 0, "appended doc missing from the index layout")
      } finally q.stop()
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("streaming BM25 search serves the lexical index; appends visible next trigger") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = (0L until 50L).map(i => (i, s"lex w$i kappa " * 18))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_srv_bm25").toFile
    val got = scala.collection.mutable.ArrayBuffer
      .empty[Seq[(Long, Long, Long, Long)]]
    try {
      graft.ann.Bm25.writeIndex(docs, dir.getAbsolutePath, nBuckets = 4)
      val input = MemoryStream[(Long, String)]
      val q = StreamingText.searchStream(
          input.toDF().toDF("query_id", "text"), dir.getAbsolutePath,
          k = 3) { out =>
          got += out.select("query_id", "rank", "doc_id", "score_micro")
            .as[(Long, Long, Long, Long)].collect().toSeq.sorted
        }
        .start()
      try {
        input.addData((5L, "lex w5 kappa"))
        q.processAllAvailable()
        def batch(qdf: org.apache.spark.sql.DataFrame) =
          graft.ann.Bm25.retrieveFromIndex(spark, dir.getAbsolutePath,
              qdf, k = 3)
            .select("query_id", "rank", "doc_id", "score_micro")
            .as[(Long, Long, Long, Long)].collect().toSeq.sorted
        assert(got.size == 1 &&
          got.head == batch(Seq((5L, "lex w5 kappa")).toDF("query_id", "text")))
        // the term "w5" is unique to doc 5: lexical relevance must put
        // doc 5 at rank 1 (BM25 semantics, not just plumbing)
        assert(got.head.exists { case (qid, rank, doc, _) =>
          qid == 5L && rank == 1L && doc == 5L })
        // append between triggers: next micro-batch retrieves the new doc
        graft.ann.Bm25.appendToIndex(
          Seq((100L, "freshly appended lex doc " * 10))
            .toDF("doc_id", "text"),
          dir.getAbsolutePath)
        input.addData((6L, "freshly appended lex doc"))
        q.processAllAvailable()
        assert(got.size == 2)
        assert(got(1) == batch(
          Seq((6L, "freshly appended lex doc")).toDF("query_id", "text")))
        // the appended doc is the only one containing the query terms:
        // it must be rank 1 for query 6
        assert(got(1).exists { case (qid, rank, doc, _) =>
          qid == 6L && rank == 1L && doc == 100L })
      } finally q.stop()
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("streaming PQ ingest: exactly-once micro-batch appends, serve-equal to the batch append API (St14)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val seed = (0L until 40L).map(i => (i, s"ist w$i theta " * 18))
      .toDF("doc_id", "text")
    val b1 = (40L until 55L).map(i => (i, s"ist w$i theta " * 18))
    val b2 = (55L until 70L).map(i => (i, s"ist w$i theta " * 18))
    val qs = Seq((7L, "ist w7 theta"), (47L, "ist w47 theta"),
      (62L, "ist w62 theta")).toDF("query_id", "text")
    val streamDir = java.nio.file.Files
      .createTempDirectory("graft_ist_stream").toFile
    val batchDir = java.nio.file.Files
      .createTempDirectory("graft_ist_batch").toFile
    try {
      // identical seed index in both worlds (same fit inputs → same model)
      graft.ann.Retrieval.writeChunkIndexPq(seed, streamDir.getAbsolutePath,
        nLists = 4, m = 5, ksub = 16, fitBudget = 48)
      graft.ann.Retrieval.writeChunkIndexPq(seed, batchDir.getAbsolutePath,
        nLists = 4, m = 5, ksub = 16, fitBudget = 48)
      val input = MemoryStream[(Long, String)]
      val q = StreamingText.ingestChunkIndexPqStream(
          input.toDF().toDF("doc_id", "text"), streamDir.getAbsolutePath)
        .start()
      try {
        input.addData(b1: _*)
        q.processAllAvailable()
        input.addData(b2: _*)
        q.processAllAvailable()
      } finally q.stop()
      // the reference world applies the same two batches via the batch API
      graft.ann.Retrieval.appendToChunkIndexPq(b1.toDF("doc_id", "text"),
        batchDir.getAbsolutePath)
      graft.ann.Retrieval.appendToChunkIndexPq(b2.toDF("doc_id", "text"),
        batchDir.getAbsolutePath)
      def serve(p: String) = graft.ann.Retrieval.retrieveFromChunkIndexPq(
          spark, p, qs, k = 4, nProbe = 4, shortlist = 100000)
        .orderBy("query_id", "rank")
        .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
      def codes(p: String) = spark.read.parquet(p)
        .select("doc_id", "chunk_idx", "chunk_start", "list", "pq_code")
        .orderBy("doc_id", "chunk_idx")
        .as[(Long, Long, Long, Int, Seq[Int])].collect().toSeq
      assert(codes(streamDir.getAbsolutePath) == codes(batchDir.getAbsolutePath),
        "streamed codes layout must equal the batch-append layout")
      assert(serve(streamDir.getAbsolutePath) == serve(batchDir.getAbsolutePath),
        "stream-ingested index must serve identically to batch appends")
      // both micro-batches committed through the ingest log
      assert(graft.util.StreamCommit.readState(spark, streamDir.getAbsolutePath)
        .pendingOf("").keySet == Set(0L, 1L))
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(streamDir.getAbsolutePath),
        spark.sparkContext.hadoopConfiguration)
      // and no staging residue survives a clean run
      assert(!fs.exists(new org.apache.hadoop.fs.Path(
        s"${streamDir.getAbsolutePath}/_staging/b0")) &&
        !fs.exists(new org.apache.hadoop.fs.Path(
          s"${streamDir.getAbsolutePath}/_staging/b1")))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(streamDir)
      org.apache.commons.io.FileUtils.deleteDirectory(batchDir)
    }
  }

  test("streaming BM25 ingest: exactly-once micro-batch appends serve like a full rebuild (St14)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val seed = (0L until 30L).map(i => (i, s"ibx w$i kappa " * 18))
    val b1 = (30L until 45L).map(i => (i, s"ibx w$i kappa " * 18))
    val b2 = (45L until 60L).map(i => (i, s"ibx w$i kappa " * 18))
    val qs = Seq((3L, "ibx w3 kappa"), (37L, "ibx w37 kappa"),
      (51L, "ibx w51 kappa")).toDF("query_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_ibx").toFile
    try {
      graft.ann.Bm25.writeIndex(seed.toDF("doc_id", "text"),
        dir.getAbsolutePath, nBuckets = 8)
      val input = MemoryStream[(Long, String)]
      val q = StreamingText.ingestBm25IndexStream(
          input.toDF().toDF("doc_id", "text"), dir.getAbsolutePath,
          streamId = "ibx")
        .start()
      try {
        input.addData(b1: _*)
        q.processAllAvailable()
        input.addData(b2: _*)
        q.processAllAvailable()
      } finally q.stop()
      val served = graft.ann.Bm25.retrieveFromIndex(spark,
          dir.getAbsolutePath, qs, k = 4)
        .orderBy("query_id", "rank").collect().toSeq
      val full = graft.ann.Bm25.topK(
          (seed ++ b1 ++ b2).toDF("doc_id", "text"), qs, k = 4)
        .orderBy("query_id", "rank").collect().toSeq
      assert(served.nonEmpty && served == full,
        "stream-ingested BM25 index must serve like a full rebuild")
      // both micro-batches committed under the stream's namespace
      def pending() = graft.util.StreamCommit
        .readState(spark, dir.getAbsolutePath).pending
      assert(pending().view.mapValues(_.keySet).toMap ==
        Map("ibx" -> Set(0L, 1L)))
      // compaction keeps the serve identical and folds the pending batches
      graft.ann.Bm25.compactStreamStats(spark, dir.getAbsolutePath)
      assert(pending().isEmpty)
      assert(graft.ann.Bm25.retrieveFromIndex(spark, dir.getAbsolutePath,
          qs, k = 4).orderBy("query_id", "rank").collect().toSeq == full)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("CLI ingest-bm25 / compact-bm25-stats: two AvailableNow drains + compaction, drivable without Scala") {
    import spark.implicits._
    val seed = (0L until 30L).map(i => (i, s"cib w$i iota " * 18))
    val b1 = (30L until 45L).map(i => (i, s"cib w$i iota " * 18))
    val b2 = (45L until 60L).map(i => (i, s"cib w$i iota " * 18))
    val qs = Seq((3L, "cib w3 iota"), (37L, "cib w37 iota"),
      (51L, "cib w51 iota")).toDF("query_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft_cib").toFile
    val docsDir = s"$root/docs"
    val idx = s"$root/idx"
    val ckpt = s"$root/ckpt"
    try {
      graft.ann.Bm25.writeIndex(seed.toDF("doc_id", "text"), idx,
        nBuckets = 8)
      def serve() = graft.ann.Bm25.retrieveFromIndex(spark, idx, qs, k = 4)
        .orderBy("query_id", "rank").collect().toSeq
      // drain 1: one file present → one committed micro-batch
      b1.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(docsDir)
      Cli.run(spark, Array("ingest-bm25", docsDir, idx, ckpt, "cib"))
      assert(serve() == graft.ann.Bm25.topK(
        (seed ++ b1).toDF("doc_id", "text"), qs, k = 4)
        .orderBy("query_id", "rank").collect().toSeq)
      // re-run with nothing new: the checkpoint makes it a no-op
      Cli.run(spark, Array("ingest-bm25", docsDir, idx, ckpt, "cib"))
      // drain 2 picks up ONLY the file added since
      b2.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(docsDir)
      Cli.run(spark, Array("ingest-bm25", docsDir, idx, ckpt, "cib"))
      val full = graft.ann.Bm25.topK(
        (seed ++ b1 ++ b2).toDF("doc_id", "text"), qs, k = 4)
        .orderBy("query_id", "rank").collect().toSeq
      assert(serve() == full,
        "CLI-driven stream ingest must serve like a full rebuild")
      // compaction verb: folds the pending batches, serve identical
      def pending() = graft.util.StreamCommit.readState(spark, idx).pending
      assert(pending().nonEmpty)
      Cli.run(spark, Array("compact-bm25-stats", idx))
      assert(pending().isEmpty)
      assert(serve() == full)
      // --committed search verb over the compacted (folded) layout: the
      // batch files are no longer pending but folded, so the committed-only
      // serve must still equal the full rebuild
      qs.write.mode("overwrite").parquet(s"$root/qs")
      Cli.run(spark, Array("bm25-search", idx, s"$root/qs",
        s"$root/hits", "4", "--committed"))
      assert(spark.read.parquet(s"$root/hits")
        .orderBy("query_id", "rank").collect().toSeq == full)
      // a typoed flag must fail LOUDLY, never silently downgrade the
      // committed-only serve to at-least-once visibility
      val exFlag = intercept[RuntimeException] {
        Cli.run(spark, Array("bm25-search", idx, s"$root/qs",
          s"$root/hits2", "4", "--commited"))
      }
      assert(exFlag.getMessage.contains("unknown flag"))
      // deep self-check verb: the healthy index passes its stats/postings
      // invariants (sum(tf) == total_tokens exactly, distinct docs <= n)
      Cli.run(spark, Array("validate-bm25-index", idx))
      val (n0, t0, d0, s0, ok0) = graft.ann.Bm25.validateIndex(spark, idx)
      assert(ok0 && s0 == t0 && d0 <= n0)
      // planted base-looking orphan postings (tf with no stats delta — the
      // stats/postings divergence class) must fail the check
      Seq((999L, 3L, "cib", 3L)).toDF("doc_id", "dl", "term", "tf")
        .withColumn("bucket", org.apache.spark.sql.functions.lit(0))
        .write.mode("append").partitionBy("bucket").parquet(idx)
      val (_, t1, _, s1, ok1) = graft.ann.Bm25.validateIndex(spark, idx)
      assert(!ok1 && s1 == s0 + 3 && t1 == t0,
        "orphan postings must be detected as a sum(tf) mismatch")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root)
  }

  test("CLI ingest-chunks: AvailableNow drain into the PQ index serves like a batch append") {
    import spark.implicits._
    val seed = (0L until 40L).map(i => (i, s"cic w$i xi " * 18))
    val b1 = (40L until 60L).map(i => (i, s"cic w$i xi " * 18))
    val qs = Seq((7L, "cic w7 xi"), (47L, "cic w47 xi"))
      .toDF("query_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft_cic").toFile
    val docsDir = s"$root/docs"
    val streamIdx = s"$root/sidx"
    val batchIdx = s"$root/bidx"
    try {
      graft.ann.Retrieval.writeChunkIndexPq(seed.toDF("doc_id", "text"),
        streamIdx, nLists = 4, m = 5, ksub = 16, fitBudget = 48)
      graft.ann.Retrieval.writeChunkIndexPq(seed.toDF("doc_id", "text"),
        batchIdx, nLists = 4, m = 5, ksub = 16, fitBudget = 48)
      b1.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(docsDir)
      Cli.run(spark, Array("ingest-chunks", docsDir, streamIdx,
        s"$root/ckpt", "pq", "cic"))
      graft.ann.Retrieval.appendToChunkIndexPq(b1.toDF("doc_id", "text"),
        batchIdx)
      def serve(p: String) = graft.ann.Retrieval
        .retrieveFromChunkIndexPq(spark, p, qs, k = 4, nProbe = 4,
          shortlist = 100000)
        .orderBy("query_id", "rank")
        .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
      val expected = serve(batchIdx)
      assert(expected.nonEmpty && serve(streamIdx) == expected,
        "CLI-driven PQ ingest must serve identically to the batch append")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root)
  }
}
