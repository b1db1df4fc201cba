package graft.streaming

import graft.text.TextFunctions
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Streaming legs of the training-data operators (St7/St8 applied to the
  * data-pipeline side — the backup reference needs no watermarks, but a
  * continuously-ingesting corpus does):
  *
  *  - exact dedup with BOUNDED state: the shared dedup digest + event-time
  *    watermark via `dropDuplicatesWithinWatermark` — a digest's state is
  *    dropped once the watermark passes it, so state size tracks the window,
  *    not the corpus (at 100 TB/day unbounded dedup state would OOM any
  *    cluster);
  *  - per-source running corpus stats as explicit keyed state
  *    (`mapGroupsWithState` with processing-time timeout) — the St8 custom
  *    state shape: docs/tokens/dups counted across micro-batches.
  */
object StreamingText {

  /** Watermarked streaming exact dedup on THE shared dedup digest
    * ([[graft.dedup.Dedup.dupKey]] — 128-bit md5, the one definition every
    * batch and streaming dedup form keys on; a 64-bit fingerprint here
    * would both diverge from the persisted indexes and silently drop
    * distinct documents on hash collisions at corpus scale). `tsCol` must
    * be a TimestampType event-time column; duplicates arriving within
    * `delay` of each other collapse to the first-seen row.
    *
    * Null text must NOT participate: null-key rows would collapse with each
    * other — they are routed around the stateful operator instead.
    */
  def dedupStream(docs: DataFrame, textCol: String, tsCol: String,
                  delay: String): DataFrame = {
    require(!docs.columns.contains("graft_dup_key"),
      "input already has a graft_dup_key column — rename it first")
    val watermarked = docs.withWatermark(tsCol, delay)
    val deduped = watermarked.where(col(textCol).isNotNull)
      .withColumn("graft_dup_key", graft.dedup.Dedup.dupKey(col(textCol)))
      .dropDuplicatesWithinWatermark("graft_dup_key")
      .drop("graft_dup_key")
    deduped.unionByName(watermarked.where(col(textCol).isNull))
  }

  /** Streaming incremental exact dedup — [[dedupStream]] against a PERSISTED
    * historical index ([[graft.dedup.Dedup.exactIndex]], ideally the bucketed
    * layout): rows whose normalized digest already exists in the index drop
    * via a stream-static LEFT ANTI join; survivors then dedup against EACH
    * OTHER within the watermark. Null-text rows bypass both, as in
    * [[dedupStream]]. State carried: only the in-window digest set — the
    * historical corpus stays on disk.
    *
    * Index freshness: the static side's FILE LISTING is snapshotted when
    * `index` is built — a nightly compaction that rewrites the index in
    * place can fail the query (deleted files) or silently serve the stale
    * listing. Compact into a NEW location/table and either restart the
    * query or, for a catalog table, `spark.catalog.refreshTable` before the
    * swap; do not overwrite the live directory under a running stream.
    */
  def incrementalDedupStream(docs: DataFrame, textCol: String, tsCol: String,
                             delay: String, index: DataFrame): DataFrame = {
    require(!docs.columns.contains("graft_dup_key"),
      "input already has a graft_dup_key column — rename it first")
    val watermarked = docs.withWatermark(tsCol, delay)
    val fresh = watermarked.where(col(textCol).isNotNull)
      .withColumn("graft_dup_key", graft.dedup.Dedup.dupKey(col(textCol)))
      .join(index.select(col("dup_key").as("graft_dup_key")),
        Seq("graft_dup_key"), "left_anti")
      .dropDuplicatesWithinWatermark("graft_dup_key")
      .drop("graft_dup_key")
    fresh.unionByName(watermarked.where(col(textCol).isNull))
  }

  case class SourceStats(source: String, docs: Long, tokens: Long, approx_dups: Long)

  // public: Spark's generated state encoder needs member access
  case class StatsState(docs: Long, tokens: Long, dups: Long,
                        recentFps: Set[Long])

  /** Streaming benchmark decontamination: annotate each streaming doc with
    * the count of `shingleN`-grams it shares with a STATIC benchmark set,
    * and optionally filter. The stateless streaming sibling of
    * `Sampling.decontaminate`: the benchmark's distinct grams are collected
    * once — behind a MEASURED count gate (`maxGrams`), because they ride in
    * the expression tree — and probed per row by the
    * [[graft.functions.StringInSetCount]]
    * codegen kernel — a pure narrow map, so it runs identically under
    * `readStream` with no join, no shuffle, no state, no watermark
    * (contamination is a property of the row against a static set, not of
    * stream history).
    *
    * Output: input columns + `n_matched`. `keep` = "all" (annotate only),
    * "clean" (n_matched == 0), or "flagged" (n_matched > 0). Null/short
    * texts carry n_matched = 0, as in batch.
    */
  def decontaminateStream(docs: DataFrame, benchmark: DataFrame,
                          shingleN: Int = 13, textCol: String = "text",
                          keep: String = "all",
                          maxGrams: Long = 2000000L): DataFrame = {
    require(Set("all", "clean", "flagged")(keep),
      s"keep must be all|clean|flagged: $keep")
    val gramsDf = benchmark
      .select(explode(array_distinct(
        TextFunctions.shingles(col(textCol), shingleN))).as("gram"))
      .distinct()
    // MEASURED gate, like the batch broadcast gate: the gram set rides in
    // the expression tree (task binary), so an unexpectedly huge eval set
    // must fail loudly here, not OOM the driver or bloat every task binary
    // — route oversized sets through Sampling.decontaminateBloom instead
    val nGrams = gramsDf.count()
    require(nGrams <= maxGrams,
      s"$nGrams benchmark grams exceed maxGrams=$maxGrams; " +
        "use Sampling.decontaminateBloom for sets this large")
    val grams = gramsDf.collect().map(_.getString(0)).toSeq
    val n =
      if (grams.isEmpty) lit(0)
      else graft.functions.KFunctions.string_in_set_count(
        array_distinct(TextFunctions.shingles(
          coalesce(col(textCol), lit("")), shingleN)), grams)
    val annotated = docs.withColumn("n_matched", n.cast("long"))
    keep match {
      case "clean"   => annotated.where(col("n_matched") === 0L)
      case "flagged" => annotated.where(col("n_matched") > 0L)
      case _         => annotated
    }
  }

  /** Streaming retrieval serving: every micro-batch of query rows
    * (`query_id`, `textCol`) probes a PERSISTED chunk index
    * ([[graft.ann.Retrieval.writeChunkIndex]]) and hands the per-query
    * top-k (with provenance) to `sink`. foreachBatch is the honest shape
    * here: per-query top-k is a rank window, which streaming cannot
    * express natively, and the per-batch function IS the batch serving
    * API ([[graft.ann.Retrieval.retrieveFromChunkIndex]]) — so
    * batch ≡ stream by construction, probed-list partition pruning and
    * all. The index can keep growing between triggers via
    * [[graft.ann.Retrieval.appendToChunkIndex]]: each batch re-reads the
    * layout, so appended chunks are visible to the next trigger.
    *
    * Returns the configured writer; the caller picks trigger/checkpoint
    * and calls `start()`.
    */
  def retrieveStream(queryStream: DataFrame, indexPath: String, k: Int,
                     nProbe: Int, dim: Int = 4, salt: String = "emb",
                     textCol: String = "text")
                    (sink: DataFrame => Unit):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    queryStream.writeStream.foreachBatch {
      (batch: DataFrame, _: Long) =>
        sink(graft.ann.Retrieval.retrieveFromChunkIndex(
          batch.sparkSession, indexPath, batch, k, nProbe, dim, salt,
          textCol))
    }

  /** The ingest direction of [[retrieveStream]]: a document stream feeds a
    * persisted IVF-PQ chunk index continuously — each micro-batch chunks,
    * embeds, PQ-encodes against the index's STORED model (a pure codegen
    * map, no re-fit) and lands in both serve layouts. foreachBatch is
    * at-least-once (a batch replays with the same batchId after any
    * failure), so the per-batch function is the EXACTLY-ONCE apply
    * ([[graft.ann.Retrieval.applyPqIngestBatch]]): replays scrub and
    * re-land the batch's own files, duplicates are impossible by
    * construction, and a serve between any two steps sees a correct index
    * (vecs-first ordering). Appended chunks are visible to the NEXT
    * [[retrieveStream]] trigger — the two streams together are the full
    * build-once/ingest-forever/serve-many deployment.
    *
    * Returns the configured writer; the caller picks trigger/checkpoint
    * and calls `start()` — the checkpoint is what makes batchIds stable
    * across restarts, which the exactly-once contract rests on. Run
    * [[graft.util.StreamCommit.compactMarkers]] (CLI
    * `compact-ingest-markers`) periodically to bound a long-lived
    * stream's marker count (what committed-only serves scan).
    */
  def ingestChunkIndexPqStream(docStream: DataFrame, indexPath: String,
                               chunkTokens: Int = 32, overlapTokens: Int = 8,
                               dim: Int = 4, salt: String = "emb",
                               textCol: String = "text",
                               streamId: String = ""):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docStream.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        graft.ann.Retrieval.applyPqIngestBatch(batch, indexPath, batchId,
          chunkTokens, overlapTokens, dim, salt, textCol, streamId)
        ()
    }

  /** [[ingestChunkIndexPqStream]] for the IVF-FLAT chunk index — the
    * layout [[retrieveStream]] serves. Same exactly-once per-batch apply
    * ([[graft.ann.Retrieval.applyChunkIngestBatch]]); the flat layout is
    * the easy case (one table, empty markers).
    */
  def ingestChunkIndexStream(docStream: DataFrame, indexPath: String,
                             chunkTokens: Int = 32, overlapTokens: Int = 8,
                             dim: Int = 4, salt: String = "emb",
                             textCol: String = "text",
                             streamId: String = ""):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docStream.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        graft.ann.Retrieval.applyChunkIngestBatch(batch, indexPath, batchId,
          chunkTokens, overlapTokens, dim, salt, textCol, streamId)
        ()
    }

  /** The lexical sibling of [[ingestChunkIndexPqStream]]: a document
    * stream feeds a persisted BM25 index with exactly-once micro-batch
    * appends ([[graft.ann.Bm25.applyIngestBatch]] — postings land under
    * batch-tagged filenames, the stats delta commits atomically inside
    * the batch marker, and serving adds unfolded marker deltas to the
    * ingest log's base stats). Run [[graft.ann.Bm25.compactStreamStats]]
    * — the shared marker compaction — periodically to bound the marker
    * count of a long-lived stream.
    */
  def ingestBm25IndexStream(docStream: DataFrame, indexPath: String,
                            textCol: String = "text",
                            streamId: String = ""):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docStream.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        graft.ann.Bm25.applyIngestBatch(batch, indexPath, batchId, streamId,
          textCol)
        ()
    }

  /** Streaming lexical search against a persisted BM25 index — the sparse
    * sibling of [[retrieveStream]], same shape for the same reason:
    * per-query top-k is a rank window, which streaming can't express
    * natively, and the batch function IS [[graft.ann.Bm25
    * .retrieveFromIndex]], so batch ≡ stream by construction. Index
    * appends between triggers are visible to the next micro-batch (each
    * batch re-reads the layout and its ingest log).
    */
  def searchStream(queryStream: DataFrame, indexPath: String, k: Int,
                   k1: Double = 1.5, b: Double = 0.75,
                   textCol: String = "text")
                  (sink: DataFrame => Unit):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    queryStream.writeStream.foreachBatch {
      (batch: DataFrame, _: Long) =>
        sink(graft.ann.Bm25.retrieveFromIndex(
          batch.sparkSession, indexPath, batch, k, k1, b, textCol))
    }

  /** Running per-source stats with explicit keyed state: document and token
    * totals plus an approximate duplicate count (fingerprints seen within the
    * state's bounded recent-set).
    *
    * `idleTimeout` (e.g. Some("1 hour")) expires a source's state after
    * inactivity — no unbounded key growth. It is OPT-IN because
    * processing-time timers make Spark schedule no-data micro-batches every
    * trigger to evaluate them; with the default as-fast-as-possible trigger
    * that is a busy loop (pair a timeout with a real ProcessingTime trigger
    * interval in production).
    */
  def sourceStats(docs: DataFrame, sourceCol: String, textCol: String,
                  idleTimeout: Option[String] = None,
                  maxRecentFps: Int = 100000): Dataset[SourceStats] = {
    import docs.sparkSession.implicits._
    // coalesce every nullable expression feeding the primitive-typed encoder:
    // a single null text (size(null) = NULL → non-nullable Long field) would
    // otherwise NPE the task and kill the whole streaming query. Null text is
    // flagged separately and EXCLUDED from dup counting (mirroring
    // dedupStream): a shared 0L sentinel fingerprint would make every
    // null-text row a "duplicate" of the rest — and of any real document
    // whose fingerprint is genuinely 0
    val prepared = docs.select(coalesce(col(sourceCol), lit("")).as("source"),
      coalesce(TextFunctions.tokenCount(col(textCol)).cast("long"), lit(0L))
        .as("n_tokens"),
      coalesce(TextFunctions.fingerprint(col(textCol)), lit(0L)).as("fp"),
      col(textCol).isNull.as("no_text"))
      .as[(String, Long, Long, Boolean)]
    val timeoutConf =
      if (idleTimeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    prepared.groupByKey(_._1)
      .mapGroupsWithState[StatsState, SourceStats](timeoutConf) {
        case (source, rows, state: GroupState[StatsState]) =>
          if (idleTimeout.isDefined && state.hasTimedOut) {
            val s = state.get
            state.remove()
            SourceStats(source, s.docs, s.tokens, s.dups)
          } else {
            var s = state.getOption.getOrElse(StatsState(0, 0, 0, Set.empty))
            rows.foreach { case (_, nTok, fp, noText) =>
              val dup = !noText && s.recentFps.contains(fp)
              s = StatsState(s.docs + 1, s.tokens + nTok,
                s.dups + (if (dup) 1 else 0),
                // bounded recent-set: stop growing past the cap (approximate
                // by design — the exact path is dedupStream's watermark state)
                if (noText || dup || s.recentFps.size >= maxRecentFps) s.recentFps
                else s.recentFps + fp)
            }
            state.update(s)
            idleTimeout.foreach(state.setTimeoutDuration)
            SourceStats(source, s.docs, s.tokens, s.dups)
          }
      }
  }
}
