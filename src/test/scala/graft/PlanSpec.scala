package graft

import org.apache.spark.sql.execution.FormattedMode

/** Physical-plan assertions — the scale contract. These lock in the plan
  * shapes that matter at 100 TB: predicates reaching the parquet scan,
  * column pruning, map-side partial aggregation, and broadcast joins for
  * dimension tables. A change that silently turns one of these into a full
  * scan or a shuffle join fails here, not in production.
  */
class PlanSpec extends SparkSpec {

  private def planOf(q: String): String =
    Queries.all(q)(spark, sf0001).queryExecution.explainString(FormattedMode)

  test("PITR window filter is pushed to the parquet scan (F7)") {
    val p = planOf("q_pitr_window")
    assert(p.contains("GreaterThanOrEqual(ts,"), s"ts lower bound not pushed:\n$p")
    assert(p.contains("LessThanOrEqual(ts,"), "ts upper bound not pushed")
  }

  test("offset-range filter is pushed to the parquet scan (F8)") {
    val p = planOf("q_offset_range")
    assert(p.contains("GreaterThanOrEqual(event_id,100)"), "offset lower bound not pushed")
    assert(p.contains("LessThan(event_id,600)"), "offset upper bound not pushed")
  }

  test("q1 pricing: filter pushed, columns pruned, partial aggregation") {
    val p = planOf("q1_pricing")
    assert(p.contains("LessThanOrEqual(l_shipdate,"), "shipdate not pushed")
    assert(!p.contains("l_orderkey"), "unused columns must be pruned from the scan")
    assert(p.contains("partial_sum"), "map-side partial aggregation missing")
  }

  test("q5 region revenue: all dimension joins broadcast, fact scan pruned") {
    val p = planOf("q5_region_revenue")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).size
    assert(broadcasts >= 3, s"expected >=3 broadcast joins, got $broadcasts")
    assert(!p.contains("SortMergeJoin"), "dimension joins must not sort-merge")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_extendedprice:double,l_discount:double>"),
      "lineitem scan must read exactly 3 columns")
    // the fact join must hash the narrow orderRegion side, never broadcast
    // lineitem (static stats rated the pruned fact scan "smaller" than the
    // join output and built a driver-side hashed relation of the fact table)
    assert(p.contains("ShuffledHashJoin Inner BuildRight"),
      s"fact join must be shuffled-hash building the narrow side:\n${p.take(2000)}")
  }

  test("as-of join partitions by stream partition — no global sort") {
    val p = planOf("q_asof_lookup")
    // the window must be hash-partitioned on p, not a single global sort
    assert(p.contains("Window"), "expected a window operator")
    assert(p.contains("hashpartitioning(p"), s"window must partition by p:\n${p.take(2000)}")
  }

  test("aggregations use partial (map-side) combine") {
    for (q <- Seq("q_partition_watermarks", "q_digest", "q_manifest_describe")) {
      val p = planOf(q)
      assert(p.contains("partial_") || p.contains("ObjectHashAggregate") ||
        p.contains("SortAggregate"), s"$q: no partial aggregation found")
    }
  }

  test("incremental-backup state join broadcasts; the data side never shuffles") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val records = spark.read.parquet(s"$sf0001/events.parquet")
      .select(col("event_type").as("topic"),
        (col("user_id") % 4).cast("int").as("partition"),
        col("event_id").as("offset"))
    val state = Seq(("click", 0, 100L)).toDF("topic", "partition", "last_offset")
    val p = graft.pipelines.Backup.incrementalFilter(records, state)
      .queryExecution.explainString(FormattedMode)
    assert(p.contains("BroadcastHashJoin"), s"state join must broadcast:\n${p.take(1500)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "the 100 TB data side must not shuffle for a metadata-sized state table")
  }

  test("backup writes from the sorted rows: no typed deserialize, no enrichment projection") {
    val records = graft.model.KRecord.fromEvents(spark, sf0001)
    val plan = graft.pipelines.Backup.writerInput(spark, records,
      graft.pipelines.BackupConfig("plan", "/nonexistent")).queryExecution
    val p = plan.explainString(org.apache.spark.sql.execution.ExtendedMode)
    assert(p.contains("Exchange hashpartitioning(topic"), s"exchange missing:\n$p")
    assert(p.contains("Sort [topic"), s"sort missing:\n$p")
    Seq("DeserializeToObject", "MapPartitions", "UDF", "x-original-offset").foreach(n =>
      assert(!p.contains(n), s"$n in the backup plan:\n$p"))
  }

  test("reset plan never replicates the mapping per group (J3)") {
    val p = planOf("q_group_reset_plan")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"mapping must not be cross-join-replicated per group:\n${p.take(2000)}")
    assert(p.contains("LeftSemi"),
      "mapping side must be semi-join-pruned to the committed partition set")
  }

  test("dedup signature computation is a pure map — zero shuffles") {
    val sigs = graft.dedup.Dedup.minhashSignatures(
      spark.read.parquet(s"$sf0001/documents.parquet"), "doc_id", "text", 3, 64)
    val p = sigs.queryExecution.explainString(FormattedMode)
    // the native MinHashSig kernel removed the explode + groupBy entirely:
    // signatures must now be scan → project, with no exchange at any point
    assert(!p.contains("Exchange"), s"signature stage must not shuffle:\n${p.take(1500)}")
    assert(!p.contains("Generate"), "no explode expected in the signature stage")
    assert(p.contains("minhash_sig"), "native kernel missing from the plan")
  }

  test("bm25: query-vocab semi join is pushed below the postings aggregate") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val qs = docs.filter(col("doc_id") % 101 === 7)
      .select(col("doc_id").as("query_id"), col("text"))
    val p = graft.ann.Bm25.topK(docs, qs, k = 5)
      .queryExecution.explainString(FormattedMode)
    // the vocabulary filter must drop non-query tokens BEFORE the tf
    // aggregation's exchange (PushDownLeftSemiAntiJoin through Aggregate):
    // the formatted plan lists operators leaves-first, so the semi join
    // must appear at a smaller id than the partial HashAggregate above it.
    // Cheap structural proxy: a LeftSemi join exists, and the plan still
    // partial-aggregates (two HashAggregate levels for tf).
    assert(p.contains("LeftSemi"), s"query-vocab semi join missing:\n${p.take(1500)}")
    val semiIdx = p.indexOf("LeftSemi")
    val aggAbove = p.lastIndexOf("HashAggregate", semiIdx)
    assert(aggAbove >= 0,
      "no aggregate above the semi join — pushdown below the tf agg regressed")
  }

  test("repetition signals, corpus filter, and redaction are pure maps — zero shuffles") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val signals = docs.select(col("doc_id"),
      graft.text.TextFunctions.repetitionSignals(col("text")))
    val filtered = graft.text.CorpusClean.filterCorpus(docs)
    val redacted = graft.text.CorpusClean.redactPii(docs)
    for ((df, name) <- Seq((signals, "repetitionSignals"),
        (filtered, "filterCorpus"), (redacted, "redactPii"))) {
      val p = df.queryExecution.explainString(FormattedMode)
      assert(!p.contains("Exchange"), s"$name must not shuffle:\n${p.take(1500)}")
    }
  }

  test("global line dedup: the line groupBys use map-side partial aggregation") {
    val p = graft.text.CorpusClean.globalLineDedup(
        spark.read.parquet(s"$sf0001/documents.parquet"))
      .queryExecution.explainString(FormattedMode)
    // boilerplate lines are the skew case: the winner-per-line aggregation
    // must collapse duplicates BEFORE the exchange (partial min), and the
    // join back must be a semi-join, never a window rank over the line key
    assert(p.contains("partial_min") || p.contains("Partial"),
      s"line winner agg must be partial:\n${p.take(2000)}")
    assert(p.contains("LeftSemi"), "winner filter must be a semi-join")
    assert(!p.contains("Window"), "no window rank over the line key")
  }

  test("shard packing: one exchange on the group key, then an in-order window") {
    val p = graft.text.CorpusClean.packShards(
        spark.read.parquet(s"$sf0001/documents.parquet"), tokensPerShard = 500)
      .queryExecution.explainString(FormattedMode)
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(exchanges == 1,
      s"packShards must shuffle exactly once (got $exchanges):\n${p.take(2000)}")
    assert(p.contains("Window"), "prefix sum must be a window, not a self-join")
  }

  test("bucketed digest index: the historical side joins with zero exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-bidx").toString
    val table = "graft_bidx_plan"
    val corpus = spark.read.parquet(s"$sf001/documents.parquet")
      .select(col("doc_id"), col("text"))
    // broadcast would hide the distribution question the bucketing answers —
    // at scale the BATCH side exceeds the threshold too, so force the
    // shuffle-family join the real sizes would get
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      graft.dedup.Dedup.writeExactIndexBucketed(
        graft.dedup.Dedup.exactIndex(corpus.filter(col("doc_id") % 2 === 0),
          "doc_id", "text"),
        table, s"$dir/idx", buckets = 4)
      val batch = corpus.filter(col("doc_id") % 2 === 1)
      val out = graft.dedup.Dedup.incrementalExact(
        batch, "doc_id", "text", spark.table(table))
      // correctness: identical to the same join against the raw parquet index
      val viaPlain = graft.dedup.Dedup.incrementalExact(
          batch, "doc_id", "text",
          graft.dedup.Dedup.exactIndex(corpus.filter(col("doc_id") % 2 === 0),
            "doc_id", "text"))
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(out.select("doc_id").collect().map(_.getLong(0)).toSet == viaPlain)
      // the plan may shuffle the BATCH side to the bucket count, but never
      // the bucketed scan: no ShuffleExchange whose subtree reads the index
      val exchanges = out.queryExecution.executedPlan
        .collect { case e: ShuffleExchangeExec => e }
      val indexShuffled = exchanges.exists(_.toString.contains(table))
      assert(!indexShuffled,
        s"bucketed index side must not re-shuffle:\n${exchanges.mkString("\n").take(2000)}")
      val scan = out.queryExecution.executedPlan.toString
      assert(scan.contains("Bucketed: true"),
        s"index scan must report bucketed output:\n${scan.take(2000)}")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.sql(s"DROP TABLE IF EXISTS $table")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("index compaction: fresh table merges old + batch digests as one file per bucket, old untouched") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-cidx").toString
    val (t1, t2) = ("graft_cidx_v1", "graft_cidx_v2")
    val corpus = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"))
    try {
      val old = corpus.filter(col("doc_id") % 2 === 0)
      graft.dedup.Dedup.writeExactIndexBucketed(
        graft.dedup.Dedup.exactIndex(old, "doc_id", "text"),
        t1, s"$dir/v1", buckets = 4)
      val v1Files = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/v1"))
        .toArray.map(_.toString).filter(_.endsWith(".parquet")).sorted
      // day-2 survivors (null-text rows produce null digests — compaction
      // must drop them rather than carry dead rows forever)
      val batch = corpus.filter(col("doc_id") % 2 === 1)
      graft.dedup.Dedup.compactExactIndex(spark, t1,
        graft.dedup.Dedup.exactIndex(batch, "doc_id", "text"),
        t2, s"$dir/v2", buckets = 4)
      // contents: exactly old ∪ batch, minus null digests
      val expect = graft.dedup.Dedup.exactIndex(corpus, "doc_id", "text")
        .filter(col("dup_key").isNotNull)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val got = spark.table(t2)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == expect, s"compacted contents drifted: ${(got diff expect).take(3)}")
      // the compaction's point: exactly ONE data file per bucket (the
      // repartition-to-bucket-count before the bucketed write)
      val v2Files = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/v2"))
        .toArray.map(_.toString).filter(_.endsWith(".parquet"))
      assert(v2Files.length == 4, s"expected 1 file/bucket, got ${v2Files.length}")
      // the OLD generation is untouched (readers/streams may still be on it)
      val v1After = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/v1"))
        .toArray.map(_.toString).filter(_.endsWith(".parquet")).sorted
      assert(v1After.sameElements(v1Files), "compaction must not rewrite the live v1 dir")
      // and the compacted generation still serves the zero-exchange join
      val plan = graft.dedup.Dedup.incrementalExact(
          corpus.limit(10), "doc_id", "text", spark.table(t2))
        .queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"), plan.take(1500))
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $t1")
      spark.sql(s"DROP TABLE IF EXISTS $t2")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("media vote pairs: no exchange ever carries payload bytes") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.BinaryType
    import org.apache.spark.sql.functions.{col, encode, lit, typedLit}
    import spark.implicits._
    // payloads leave the scan as 8-byte hashes; any BinaryType column in a
    // shuffle would mean the content itself is moving — the scale leak the
    // design forbids
    val media = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id").as("media_id"), lit("video").as("media_type"),
        encode(col("text"), "UTF-8").as("content"),
        typedLit(Map.empty[String, String]).as("meta"))
      .as[graft.multimodal.MediaRecord]
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      for (plan <- Seq(
        graft.multimodal.Multimodal.videoPairs(media, frameBytes = 256)
          .queryExecution.executedPlan,
        graft.multimodal.Multimodal.audioPairs(
            media.map(m => m.copy(media_type = "audio")),
            windowBytes = 256, hopBytes = 128)
          .queryExecution.executedPlan)) {
        val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
        assert(exchanges.nonEmpty)
        exchanges.foreach { e =>
          // the id-clique collect_list's partial-agg buffer serializes as a
          // BinaryType attribute named "buf" — it holds fid LONGS, not
          // payload; anything else binary (e.g. "content") is the leak
          val binCols = e.output.filter(a =>
            a.dataType == BinaryType && a.name != "buf")
          assert(binCols.isEmpty,
            s"exchange carries payload bytes: ${e.output.map(a => s"${a.name}:${a.dataType.simpleString}")}")
        }
      }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("chunking: zero exchange in both addressings — a pure narrow map over the scan") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    for (df <- Seq(
        graft.text.CorpusClean.chunkDocuments(docs, 200, 50),
        graft.text.CorpusClean.chunkByTokens(docs, 32, 8))) {
      val exchanges = df.queryExecution.executedPlan
        .collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.isEmpty,
        s"chunking must never shuffle — 100 TB chunking is a map: $exchanges")
    }
  }

  test("retrieval: chunk scan prunes to (doc_id, text); top-k collapses below the exchange") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val qs = docs.filter(org.apache.spark.sql.functions.col("doc_id") === 7)
      .select(org.apache.spark.sql.functions.col("doc_id").as("query_id"),
        org.apache.spark.sql.functions.col("text"))
    val p = graft.ann.Retrieval.retrieveChunks(docs, qs, k = 5)
      .queryExecution.explainString(FormattedMode)
    // the corpus-side scan must never read source/lang/n_chars for a
    // retrieval that only needs text + id
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"chunk scan must prune to (doc_id, text):\n${p.take(1500)}")
    assert(p.contains("WindowGroupLimit"), "map-side top-k missing")
  }

  test("url blocklist: corpus scan prunes to id+url keys, winner agg partial-aggregates") {
    val p = planOf("d_url_blocklist")
    // suffix/url joins ship narrow keys; the winner reduction must collapse
    // map-side (a mega-domain's hits never buffer in one task)
    assert(p.contains("partial_min"), s"winner agg must partial-aggregate:\n${p.take(1200)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "blocklist matching must stay equi-join only")
  }

  test("span dedup: no cartesian product, gram aggs partial-aggregate before exchange") {
    // the span family's whole scale story is "no pair expansion": any
    // nested-loop/cartesian appearing here means a join key was lost
    for (q <- Seq("d_dup_spans", "d_trim_dup_spans")) {
      val p = planOf(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q must stay equi-join only:\n${p.take(1500)}")
      assert(p.contains("HashAggregate"), s"$q gram agg missing")
    }
  }

  test("LM scoring: doc-side position expansion is a Generate, not a positions self-join") {
    val p = planOf("d_lm_score")
    assert(p.contains("Generate"), "position structs must come from one explode")
    assert(!p.contains("CartesianProduct"), "no cartesian anywhere in LM scoring")
  }

  test("simhash band join exchanges carry bare signatures, never id arrays") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.ArrayType
    // AQE hides exchanges behind query stages until execution, and the tiny
    // sf0.001 band side would broadcast — force the shuffle plan a large
    // corpus would get, since the shuffle payload is what's under test
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val exchanges =
      try graft.dedup.Dedup.simhashPairs(
          spark.read.parquet(s"$sf0001/documents.parquet"), "doc_id", "text")
        .queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e }
      finally {
        spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      }
    assert(exchanges.nonEmpty)
    // the (band, bucket) candidate shuffle must move 8-byte sig rows only —
    // carrying each duplicate group's ids array ×4 bands was the scale leak
    val bandExchanges = exchanges.filter(_.output.exists(_.name == "bucket"))
    assert(bandExchanges.nonEmpty, "band-bucket shuffle not found in the plan")
    bandExchanges.foreach { e =>
      assert(!e.output.exists(_.dataType.isInstanceOf[ArrayType]),
        s"band shuffle must not carry arrays: ${e.output.map(a => s"${a.name}:${a.dataType.simpleString}")}")
    }
  }

  test("DSIR scoring: ratio table broadcasts, corpus never joins back on id") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val target = docs.where(col("doc_id") % 7 === 1)
    val raw = docs.where(col("doc_id") % 7 =!= 1)
    val ratios = graft.text.Dsir.fitLogRatios(target, raw, nBuckets = 256)
    val p = graft.text.Dsir.scoreLogWeights(raw, ratios, nBuckets = 256)
      .queryExecution.explainString(FormattedMode)
    // the ≤65536-row ratio table must be the BUILD side of a broadcast
    // join — the corpus side must never shuffle to be scored
    assert(p.contains("BroadcastHashJoin"), s"ratio probe must broadcast:\n${p.take(1200)}")
    assert(!p.contains("SortMergeJoin"), "scoring must not sort-merge the corpus")
    // exactly ONE corpus-keyed exchange (the per-doc sum); a second would be
    // the corpus-sized join-back this design deliberately avoids
    val hashParts = "hashpartitioning\\(doc_id".r.findAllIn(p).size
    assert(hashParts <= 1, s"expected at most one doc_id exchange, got $hashParts:\n$p")
    assert(p.contains("partial_sum") || p.contains("partial"),
      "per-doc sum must partial-aggregate map-side")
  }

  test("DSIR selection is a top-k (TakeOrdered), never a global sort") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val scored = docs.select(col("doc_id"),
      (col("doc_id") % 13).cast("double").as("log_weight"))
    val p = graft.text.Dsir.resampleTopK(scored, 40)
      .queryExecution.explainString(FormattedMode)
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must plan as TakeOrderedAndProject:\n${p.take(1200)}")
  }

  test("bm25: query vocabulary broadcasts onto the postings scan, top-k map-side") {
    val p = planOf("a_bm25_topk")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"query term set + query fan-out must broadcast:\n${p.take(1500)}")
    assert(p.contains("WindowGroupLimit"), "per-query top-k must collapse map-side")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "postings/score aggs must partial-aggregate")
  }

  test("tfidf keywords: per-doc top-k collapses map-side, aggs partial") {
    val p = planOf("d_tfidf_keywords")
    assert(p.contains("WindowGroupLimit"), "per-doc top-k must collapse map-side")
    assert(p.contains("partial_count"), "tf/df aggs must partial-aggregate")
  }

  test("collocations: final top-k is a TakeOrdered, never a global sort") {
    val p = planOf("d_collocations")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must plan as TakeOrderedAndProject:\n${p.take(1200)}")
    assert(p.contains("partial_count"), "pair/unigram counts must partial-aggregate")
  }

  /** A zstd backup of topics `pa` and `pb`, 4 partitions each, 40 records
    * one second apart rolled every 10 s: 32 segments.
    */
  private lazy val pitr = {
    import spark.implicits._
    val t0 = 1700000000000L
    val recs = for (t <- Seq("pa", "pb"); p <- 0 until 4; i <- 0 until 40)
      yield graft.model.KRecord(t, p, i.toLong, t0 + i * 1000L, s"k$i".getBytes,
        s"$t-$p-$i".getBytes, Nil)
    val root = java.nio.file.Files.createTempDirectory("graft-plan-pitr").toString
    val m = graft.pipelines.Backup.run(spark, recs.toDS().toDF(),
      graft.pipelines.BackupConfig("pp", root, graft.codec.CompressionCodec.Zstd,
        maxSegmentIntervalMs = Some(9999L), enrichHeaders = false))
    assert(m.totalSegments == 32)
    (root, t0, m)
  }

  test("narrow PITR restore: one kbak batch scan with every filter pushed, no object round trip") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val (root, t0, m) = pitr
    // records 8-12: the window straddles the 10 s roll
    val (lo, hi) = (t0 + 8000L, t0 + 12000L)
    val cfg = graft.pipelines.RestoreConfig(root, "pp", Some(lo), Some(hi),
      sourcePartitions = Some(Seq(1, 2)))
    val df = graft.pipelines.Restore.records(spark, cfg).toDF().filter(col("topic") === "pa")
    val p = df.queryExecution.explainString(FormattedMode)
    assert(p.contains("BatchScan kbak"), p)
    for (pushed <- Seq(s"timestamp >= $lo", s"timestamp <= $hi", "partition IN (1, 2)",
        "topic = 'pa'"))
      assert(p.contains(pushed), s"$pushed not pushed:\n$p")
    assert(!p.contains("SerializeFromObject") && !p.contains("ExternalRDD"), p)
    assert(!p.contains("Filter"), s"a pushed filter is evaluated again above the scan:\n$p")
    // the input partitions hold exactly the segments that overlap the window
    val scan = df.queryExecution.sparkPlan.collectFirst { case b: BatchScanExec => b }.get
    val read = scan.inputPartitions.flatMap(
      _.asInstanceOf[graft.pipelines.KbakPartition].segments.map(_._3.key))
    val overlapping = for {
      t <- m.topics if t.name == "pa"
      part <- t.partitions if Set(1, 2)(part.partition_id)
      s <- part.segments if s.end_timestamp >= lo && s.start_timestamp <= hi
    } yield s.key
    assert(read == overlapping && read.size == 4, read)
    val rows = df.collect()
    assert(rows.length == 2 * 5 &&
      rows.forall(r => r.getAs[Long]("timestamp") >= lo && r.getAs[Long]("timestamp") <= hi))
  }

  test("a catalog uncompressed size that disagrees with the body fails the restore, naming the segment") {
    val (_, t0, _) = pitr
    val root = java.nio.file.Files.createTempDirectory("graft-plan-size").toString
    val m = {
      import spark.implicits._
      val recs = (0 until 20).map(i => graft.model.KRecord("sz", 0, i.toLong, t0 + i,
        null, s"v$i".getBytes, Nil))
      graft.pipelines.Backup.run(spark, recs.toDS().toDF(),
        graft.pipelines.BackupConfig("sz", root, graft.codec.CompressionCodec.Zstd,
          enrichHeaders = false))
    }
    val seg = m.topics.head.partitions.head.segments.head
    def failure(): String = {
      val e = intercept[Exception](graft.pipelines.Restore.records(spark,
        graft.pipelines.RestoreConfig(root, "sz")).count())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
        .mkString("\n")
    }
    for (wrong <- Seq(seg.uncompressed_size + 1, seg.uncompressed_size - 1)) {
      graft.catalog.Manifest.save(root, m.copy(topics = m.topics.map(t => t.copy(
        partitions = t.partitions.map(p => p.copy(segments = List(
          seg.copy(uncompressed_size = wrong))))))))
      val msg = failure()
      assert(msg.contains(seg.key) && msg.contains(s"$wrong"), msg)
    }
  }
}
