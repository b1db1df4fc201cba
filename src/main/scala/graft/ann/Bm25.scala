package graft.ann

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sparse lexical retrieval — BM25 (Robertson/Spärck Jones probabilistic
  * ranking) over an inverted-index shape, the lexical sibling of the dense
  * chunk-retrieval capstone in [[Retrieval]]. The reference engine has no
  * search surface at all; this family exists for the training-data side of
  * the brief (corpus-scale retrieval, decontamination-by-retrieval, hybrid
  * RAG serving), so the design goal is the Spark-native inverted-index
  * pipeline, not a port of any search engine.
  *
  * Scoring is INTEGER-EXACT end to end, the house discipline for
  * cross-engine oracles: the only transcendental (the idf log) is rounded
  * to 9 dp immediately, each (term, doc) contribution is then scaled to
  * integer micro-units (×1e6, round, cast long) and the per-(query, doc)
  * score is an exact 64-bit SUM of those — order-insensitive, so Spark's
  * unordered partial aggregation and a SQL oracle's scan order cannot
  * diverge in the last ulp the way a double sum can. Default k1 = 1.5 and
  * b = 0.75 are chosen inside the standard BM25 ranges AND exactly
  * representable in binary floating point (as are k1+1 = 2.5 and
  * 1−b = 0.25), so no engine ever constant-folds a tie-breaking ulp.
  *
  * Scale design (100 TB): the corpus is touched by ONE explode +
  * partial-agg shuffle (the inverted-index build — or zero shuffles when
  * served from the persisted term-bucketed index, [[writeIndex]]). The
  * query side picks its join strategy on the MEASURED query count (the
  * broadcast-join discipline): an eval-sized set broadcasts its term
  * vocabulary onto the postings scan, so only query-vocabulary postings
  * survive into scoring with zero postings shuffle; a corpus-sized set
  * (decontamination-by-retrieval) switches every query-side join to a
  * term-partitioned shuffle join — same operators, same rows
  * (spec-pinned row-identical). Document frequencies come from a
  * partial-aggregable `groupBy(term).count()` over the MATCHED subset
  * joined back on term — never `count().over(Window.partitionBy(term))`,
  * whose single WindowExec buffer sits exactly on the skew key (a
  * stopword query term has df ≈ corpus size) — and never a second
  * corpus scan. The final per-query top-k is a row_number window bounded
  * by k, which Spark collapses map-side (WindowGroupLimit), so the last
  * exchange carries ≤ k × partitions rows per query.
  */
object Bm25 {

  /** BM25 terms: lowercase whitespace tokens (the corpus-wide tokenizer
    * contract shared with [[graft.text.TextFunctions.tokens]]).
    */
  def terms(text: Column): Column =
    transform(graft.text.TextFunctions.tokens(text), t => lower(t))

  /** Inverted-index postings: one row per (doc, term) with the term
    * frequency and the document length (token count) riding along —
    * `(doc_id, dl, term, tf)`. One explode + one partial-agg shuffle; NULL
    * text contributes nothing.
    */
  def buildPostings(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.where(col(textCol).isNotNull)
      .select(col("doc_id"), terms(col(textCol)).as("w"))
      .select(col("doc_id"), size(col("w")).cast("long").as("dl"),
        explode(col("w")).as("term"))
      .groupBy("doc_id", "dl", "term")
      .agg(count(lit(1)).as("tf"))

  /** (nDocs, totalTokens) over the non-null-text corpus — the two scalars
    * BM25 needs (avgdl = totalTokens / nDocs). Metadata-sized collect.
    */
  def corpusStats(docs: DataFrame, textCol: String = "text"): (Long, Long) = {
    val r = docs.where(col(textCol).isNotNull)
      .agg(count(lit(1)),
        coalesce(sum(size(terms(col(textCol))).cast("long")), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** Score + rank from a postings table (the shared back half of the
    * direct and index-served paths). Output: one row per (query, rank ≤ k):
    * `(query_id, rank, doc_id, score_micro, score)` — `score_micro` is the
    * exact integer sum (micro-units), `score` its double view; ties broken
    * by doc_id. Queries with no matching term produce no rows.
    */
  def topKFromPostings(postings: DataFrame, nDocs: Long, totalTokens: Long,
                       queries: DataFrame, k: Int,
                       k1: Double = 1.5, b: Double = 0.75,
                       textCol: String = "text",
                       maxQueries: Long = 1000000L): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(nDocs > 0, "corpus must have at least one non-null-text doc")
    // join-strategy switch on the MEASURED query count: at or under
    // maxQueries the query side broadcasts (eval/serving shape); past it
    // the query postings materialize and every query-side join becomes a
    // term-partitioned shuffle join (corpus-scale decontamination shape).
    // Identical rows either way — spec-pinned on the same fixture.
    val nq = queries.count()
    val bcastQ = nq <= maxQueries
    // the switch is silent in the OUTPUT (row-identical) but not in the
    // logs or /metrics: callers that relied on the former loud over-gate
    // require keep an observable signal that a corpus-sized query set
    // arrived (the counter rides every MetricsServer exposition)
    if (!bcastQ) {
      graft.metrics.GraftCounters.inc("bm25_shuffle_join_fallback_total")
      org.slf4j.LoggerFactory.getLogger("graft.ann.Bm25").warn(
        s"topKFromPostings: query set has $nq rows > maxQueries=" +
          s"$maxQueries — switching to term-partitioned shuffle joins " +
          "(row-identical, decontamination-scale plan)")
    }
    def qSide(df: DataFrame): DataFrame = if (bcastQ) broadcast(df) else df
    // distinct query terms: classic BM25 sums over the query's term SET
    // (query-side tf is deliberately ignored — the k3 component of the
    // original formula is dropped, the common modern simplification)
    val q = queries.where(col(textCol).isNotNull)
      .select(col("query_id"), explode(terms(col(textCol))).as("term"))
      .distinct()
    val avgdl = totalTokens.toDouble / nDocs
    // query vocabulary onto the postings scan: everything past this join
    // is query-vocab postings, never whole-corpus postings. LEFT SEMI, not
    // inner-with-distinct (row-identical for a single-column distinct set):
    // Catalyst's PushDownLeftSemiAntiJoin moves a semi join below the
    // postings AGGREGATE when the key is a grouping column, so non-query
    // tokens are dropped BEFORE the (doc, dl, term) tf shuffle instead of
    // after it — the direct path's postings exchange carries only
    // query-vocabulary tokens (guide §2.3: shuffle fewer bytes). An inner
    // join cannot be pushed through the aggregate.
    val matched = postings.join(qSide(q.select("term").distinct()), Seq("term"),
      "left_semi")
    // true df per term over the matched subset: a partial-aggregable
    // groupBy joined back — NEVER count().over(Window.partitionBy(term)),
    // which would funnel every posting of a term through ONE WindowExec
    // sort buffer on one reducer, and the skew key is exactly a stopword
    // query term (df ≈ corpus size). The agg side map-side-combines down
    // to one row per matched term before its exchange.
    val dfByTerm = matched.groupBy("term").agg(count(lit(1)).as("df"))
    val withDf = matched.join(qSide(dfByTerm), "term")
    // idf pinned to 9 dp right after the log — the one transcendental
    val idf9 = round(
      log(lit(1.0) + (lit(nDocs) - col("df") + lit(0.5)) /
        (col("df") + lit(0.5))), 9)
    val tfD = col("tf").cast("double")
    val tfnorm = tfD * lit(k1 + 1.0) /
      (tfD + lit(k1) *
        (lit(1.0 - b) + lit(b) * col("dl").cast("double") / lit(avgdl)))
    val contrib = round(idf9 * tfnorm * lit(1000000.0)).cast("long")
    val cand = withDf.join(qSide(q), "term")
      .select(col("query_id"), col("doc_id"), contrib.as("c"))
      .groupBy("query_id", "doc_id")
      .agg(sum("c").as("score_micro"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score_micro").desc, col("doc_id"))
    cand.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("score_micro"),
        (col("score_micro") / lit(1000000.0)).as("score"))
  }

  /** The one-shot form: build postings + stats from the corpus and rank.
    * Two corpus passes (one narrow stats agg, one postings build); the
    * serve-many shape is [[writeIndex]] + [[retrieveFromIndex]].
    *
    * The df aggregate and the scoring join are two consumers of the
    * postings subtree, so the one-shot form pays the postings build
    * twice (kept lazy and plan-inspectable rather than persisting
    * corpus-sized state into the block manager); the index-served path
    * pays a second BUCKET-PRUNED parquet read instead — cheaper than
    * any cache, and the 100 TB serve shape.
    */
  def topK(docs: DataFrame, queries: DataFrame, k: Int,
           k1: Double = 1.5, b: Double = 0.75, textCol: String = "text",
           maxQueries: Long = 1000000L): DataFrame = {
    val (nDocs, totalTokens) = corpusStats(docs, textCol)
    topKFromPostings(buildPostings(docs, textCol), nDocs, totalTokens,
      queries, k, k1, b, textCol, maxQueries)
  }

  /** Persist the inverted index as term-bucketed parquet: postings
    * partitioned by `bucket = pmod(xxhash64(term), nBuckets)` plus the
    * corpus stats as the payload of ingest-log version 0
    * ([[graft.util.StreamCommit.LogState]]). All postings of a term live
    * in exactly one bucket, so a query probes only its terms' buckets
    * (static partition pruning) and still sees every posting — and the
    * true df — for those terms.
    */
  def writeIndex(docs: DataFrame, path: String, nBuckets: Int = 16,
                 textCol: String = "text"): Unit = {
    require(nBuckets >= 1, "nBuckets must be >= 1")
    val (nDocs, totalTokens) = corpusStats(docs, textCol)
    buildPostings(docs, textCol)
      .withColumn("bucket",
        pmod(xxhash64(col("term")), lit(nBuckets.toLong)).cast("int"))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)
    graft.util.StreamCommit.commit(docs.sparkSession, path,
      graft.util.StreamCommit.LogState(0L, Map.empty, Map.empty,
        Map("n_docs" -> nDocs, "total_tokens" -> totalTokens,
          "n_buckets" -> nBuckets.toLong)),
      "rebuild the index")
  }

  /** Incremental ingest into a persisted index: new documents' postings
    * are bucketed with the STORED nBuckets (so every term's postings stay
    * in one bucket) and appended into the partitioned layout; the ingest
    * log's stats advance by the appended corpus's exact (nDocs,
    * totalTokens) deltas. Because df is derived from the postings at query
    * time and the stats are plain sums, the appended index serves
    * ROW-IDENTICAL results to a full rebuild over the union corpus
    * (spec-pinned) — no staleness window, unlike the dense index's
    * fit-frozen centroids. Same contract as the chunk-index append: the
    * caller appends NEW docs (re-appending a doc double-counts it), and
    * the stats commit after the data lands, so a crash between the two —
    * or a CAS conflict in [[graft.util.StreamCommit.commit]] — leaves the
    * stats one append behind: postings appended, stats not yet advanced.
    */
  def appendToIndex(docs: DataFrame, path: String,
                    textCol: String = "text"): Unit = {
    val spark = docs.sparkSession
    val st = graft.util.StreamCommit.readState(spark, path)
    val (n0, t0, nBuckets) = liveStatsFrom(Seq.empty, st)
    val (dn, dt) = corpusStats(docs, textCol)
    buildPostings(docs, textCol)
      .withColumn("bucket",
        pmod(xxhash64(col("term")), lit(nBuckets.toLong)).cast("int"))
      .write.mode("append").partitionBy("bucket").parquet(path)
    // the watermarks and removed sets ride through: dropping a watermark
    // would re-serve every folded-but-undeleted marker's delta; dropping
    // removed would resurrect rolled-back batches' leftover postings
    graft.util.StreamCommit.commit(spark, path, st.next(payload = st.payload ++
      Map("n_docs" -> (n0 + dn), "total_tokens" -> (t0 + dt))),
      "the batch's postings are ALREADY appended — do NOT re-run " +
        "appendToIndex (it would append them a second time, doubling tf/df " +
        "contributions); advance the stats only — re-read the ingest log " +
        s"and commit (+$dn docs, +$dt tokens) — or rebuild the index")
  }

  /** Serving-time corpus stats `(nDocs, totalTokens, nBuckets)`: the
    * ingest log's base stats plus every live unfolded streaming-ingest
    * marker's delta ([[graft.util.StreamCommit.livePayload]]; one small
    * marker file per un-compacted micro-batch, which
    * [[compactStreamStats]] bounds). Callers take `markers` and `st` from
    * one [[graft.util.StreamCommit.committedView]], whose
    * markers-before-state read order keeps a concurrent compaction from
    * dropping or double-counting deltas (Bm25Spec pins the
    * interleavings).
    */
  private[graft] def liveStatsFrom(markers: Seq[(String, Long, String)],
                                   st: graft.util.StreamCommit.LogState)
      : (Long, Long, Int) = {
    val p = graft.util.StreamCommit.livePayload(markers, st)
    def stat(k: String) = p.getOrElse(k, throw new IllegalArgumentException(
      s"the ingest log carries no BM25 $k — not a BM25 index"))
    (stat("n_docs"), stat("total_tokens"), stat("n_buckets").toInt)
  }

  /** EXACTLY-ONCE application of one ingest batch — the BM25 sibling of
    * [[graft.ann.Retrieval.applyPqIngestBatch]], same
    * [[graft.util.StreamCommit]] protocol (marker gate → scrub → stage →
    * prefixed promote → marker). The extra wrinkle is the corpus stats:
    * a replayed `appendToIndex` would double-count (n_docs, total_tokens)
    * with no way to tell, so the batch's delta is NOT added to the base —
    * it travels IN the marker file (the same write that commits the
    * batch), and [[retrieveFromIndex]] serves base + unfolded marker
    * deltas. Stats and postings therefore commit in ONE atomic step, and
    * every crash point replays clean.
    */
  def applyIngestBatch(batch: DataFrame, path: String, batchId: Long,
                       streamId: String = "",
                       textCol: String = "text"): Boolean = {
    graft.util.StreamCommit.requireValidStreamId(streamId)
    val spark = batch.sparkSession
    val fs = graft.util.StreamCommit.fs(spark, path)
    val tag = graft.util.StreamCommit.tag(streamId, batchId)
    if (graft.util.StreamCommit.markerExists(fs, path, tag)) return false
    // marker gone ≠ never applied: compaction deletes folded markers, and
    // a rollback deliberately excised the batch — gate on the ingest log
    // too (the same replay gate as the dense applies)
    val st = graft.util.StreamCommit.readState(spark, path)
    if (graft.util.StreamCommit.refuseReplayOfRemoved(st, streamId, batchId,
      path)) return false
    graft.util.StreamCommit.scrub(fs, batchGlobs(path)(tag))
    val staging = s"$path/_staging/$tag"
    fs.delete(new org.apache.hadoop.fs.Path(staging), true)
    val (_, _, nBuckets) = liveStatsFrom(Seq.empty, st)
    val (dn, dt) = corpusStats(batch, textCol)
    buildPostings(batch, textCol)
      .withColumn("bucket",
        pmod(xxhash64(col("term")), lit(nBuckets.toLong)).cast("int"))
      .write.mode("overwrite").partitionBy("bucket").parquet(staging)
    graft.util.StreamCommit.promote(fs, staging, path, s"$tag-")
    graft.util.StreamCommit.writeMarker(fs, path, tag,
      s"""{"n_docs":$dn,"total_tokens":$dt}""")
    fs.delete(new org.apache.hadoop.fs.Path(staging), true)
    true
  }

  /** One ingest batch's posting files, by batch tag. */
  private[graft] def batchGlobs(path: String)(tagName: String): Seq[String] =
    Seq(s"${graft.util.StreamCommit.escapeGlob(path)}/bucket=*/$tagName-*")

  /** Roll back one streaming-ingested batch (the "remove a poisoned
    * batch" administrative operation): the shared intent-record-first
    * protocol of [[graft.util.StreamCommit.removeBatchGuarded]] over this
    * layout's posting files. Once the removal is recorded, the batch's
    * marker delta never serves and never folds, its posting files are
    * uncommitted in committed-only serves, and [[applyIngestBatch]]
    * refuses to re-apply it. A batch already folded into the base stats
    * is refused loudly — its delta cannot be subtracted (rebuild, or trim
    * and re-append, instead).
    */
  def removeIngestBatch(spark: SparkSession, path: String, batchId: Long,
                        streamId: String = "",
                        afterPreCheck: () => Unit = () => (),
                        afterMarkerDelete: () => Unit = () => (),
                        allowMissing: Boolean = false): Boolean =
    graft.util.StreamCommit.removeBatchGuarded(spark, path, streamId,
      batchId, batchGlobs(path)(graft.util.StreamCommit.tag(streamId, batchId)),
      afterPreCheck, afterMarkerDelete, allowMissing)

  /** Fold accumulated streaming-ingest marker deltas into the base stats
    * and delete the folded markers — the shared
    * [[graft.util.StreamCommit.compactMarkers]] over this layout's posting
    * files (it also scrubs crashed removals' leftover postings). Run it
    * periodically to bound a long-lived stream's per-serve marker scan.
    * Streaming ingest batches never touch the ingest log, so they are
    * safe concurrently with it; concurrent administrative writers fail
    * loudly on at least one side.
    */
  def compactStreamStats(spark: SparkSession, path: String): Unit =
    graft.util.StreamCommit.compactMarkers(spark, path, batchGlobs(path))

  private val postingsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("dl",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("term",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("tf",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("bucket",
      org.apache.spark.sql.types.IntegerType)))

  /** Serve a persisted index: the query terms' bucket set is collected
    * (≤ nBuckets ints — metadata-sized by construction) and applied as a
    * STATIC partition filter, so only those bucket directories are read;
    * scoring and ranking are then exactly [[topKFromPostings]] — the
    * served result is row-identical to the direct path by construction.
    *
    * Visibility vs a concurrent streaming ingest: the default serve reads
    * whatever files are in the layout, so a batch mid-promote (or crashed
    * before its marker) is PARTIALLY visible — its landed postings score
    * with a df that includes them but corpus stats that don't (the stats
    * delta only exists once the marker lands). That is an at-least-once
    * read mode: transient, bounded by one batch, converging at the next
    * marker. `committedOnly = true` buys snapshot isolation at marker
    * granularity instead: the scan is pinned to base files + batches whose
    * marker is present (or already folded — compaction deletes markers,
    * the folded watermark is the durable record), the SAME marker snapshot
    * feeds the corpus stats, so a half-landed batch is entirely invisible
    * and stats always match the scanned postings exactly. Cost: one
    * driver-side file listing of the probed buckets (base + one-ish file
    * set per un-compacted batch — metadata-sized; compaction bounds it).
    */
  def retrieveFromIndex(spark: SparkSession, path: String,
                        queries: DataFrame, k: Int,
                        k1: Double = 1.5, b: Double = 0.75,
                        textCol: String = "text",
                        maxQueries: Long = 1000000L,
                        committedOnly: Boolean = false): DataFrame = {
    val fs = graft.util.StreamCommit.fs(spark, path)
    // ONE committed view feeds both the stats and (in committed-only mode)
    // the file pruning — stats and scan can't diverge
    val (markers, st) = graft.util.StreamCommit.committedView(spark, path)
    val (nDocs, totalTokens, nBuckets) = liveStatsFrom(markers, st)
    val buckets = queries.where(col(textCol).isNotNull)
      .select(explode(terms(col(textCol))).as("term"))
      .select(pmod(xxhash64(col("term")), lit(nBuckets.toLong)).cast("int")
        .as("bucket"))
      .distinct().collect().map(_.getInt(0)).sorted
    val postings =
      if (!committedOnly)
        spark.read.parquet(path)
          .where(col("bucket").isin(buckets.map(Integer.valueOf).toSeq: _*))
          .select("doc_id", "dl", "term", "tf")
      else {
        val globs =
          if (buckets.isEmpty) Seq.empty[String]
          else Seq(s"${graft.util.StreamCommit.escapeGlob(path)}" +
            s"/bucket={${buckets.mkString(",")}}/*")
        val files = graft.util.StreamCommit.committedDataFiles(fs, globs,
          markers, st)
        if (files.isEmpty)
          spark.createDataFrame(
            java.util.Collections.emptyList[org.apache.spark.sql.Row](),
            postingsSchema).select("doc_id", "dl", "term", "tf")
        else
          // schema INFERRED like the default serve's scan (the pinned
          // postingsSchema is only the empty-layout fallback): an index
          // whose corpus carried a narrower doc_id type must serve
          // identically in both modes, not fail only under --committed
          spark.read.option("basePath", path).parquet(files: _*)
            .select("doc_id", "dl", "term", "tf")
      }
    topKFromPostings(postings, nDocs, totalTokens, queries, k, k1, b,
      textCol, maxQueries)
  }

  /** Deep self-check of a persisted index: recompute the postings-side
    * invariants over the COMMITTED view and compare them to the serving
    * stats, so any historical stats/postings divergence (a corruption
    * class the admin-protocol guards exist to prevent — e.g. postings
    * resurrected without their delta by a pre-r14 crash sequence, or a
    * hand-edited layout) is detectable after the fact, not only in the
    * exception text of the operation that caused it. Invariants:
    *   - `sum(tf)` over the committed postings == `total_tokens` EXACTLY
    *     (every token instance of every non-null-text doc is one tf unit;
    *     zero-token docs contribute 0 to both sides);
    *   - `count(distinct doc_id)` <= `n_docs` (zero-token docs count in
    *     n_docs but have no postings, so equality is not required).
    * One full scan of the committed postings — a deep admin check, not a
    * serving-path cost. Returns (nDocs, totalTokens, distinctDocs, sumTf,
    * ok).
    */
  def validateIndex(spark: SparkSession, path: String)
      : (Long, Long, Long, Long, Boolean) = {
    val fs = graft.util.StreamCommit.fs(spark, path)
    val (markers, st) = graft.util.StreamCommit.committedView(spark, path)
    val (nDocs, totalTokens, _) = liveStatsFrom(markers, st)
    val files = graft.util.StreamCommit.committedDataFiles(fs,
      Seq(s"${graft.util.StreamCommit.escapeGlob(path)}/bucket=*/*"),
      markers, st)
    val (distinctDocs, sumTf) =
      if (files.isEmpty) (0L, 0L)
      else {
        val r = spark.read.option("basePath", path).parquet(files: _*)
          .agg(countDistinct(col("doc_id")),
            coalesce(sum(col("tf")), lit(0L))).head()
        (r.getLong(0), r.getLong(1))
      }
    (nDocs, totalTokens, distinctDocs, sumTf,
      sumTf == totalTokens && distinctDocs <= nDocs)
  }

  /** Snippet generation for retrieval hits — the serving leg after
    * ranking: for each (query, doc) hit, a ±`window`-token context around
    * the FIRST document position matching any query term, plus that
    * 1-based position. Tokens are the BM25 term stream (lowercased
    * whitespace tokens), so matching and rendering share one
    * tokenization and the output is engine-exact. `hits` is any
    * `(query_id, doc_id, ...)` ranked result (result-sized — it
    * broadcasts onto the doc scan); rows whose doc shares no term with
    * the query (impossible for BM25 hits, possible for arbitrary hit
    * lists) are dropped rather than given an arbitrary snippet.
    * Output: `(query_id, doc_id, match_pos, snippet)`.
    */
  def snippets(docs: DataFrame, queries: DataFrame, hits: DataFrame,
               window: Int = 4, textCol: String = "text"): DataFrame = {
    require(window >= 1, "window must be >= 1")
    val d = docs.where(col(textCol).isNotNull)
      .select(col("doc_id"), terms(col(textCol)).as("dw"))
    val q = queries.where(col(textCol).isNotNull)
      .select(col("query_id"), terms(col(textCol)).as("qt"))
    hits.select("query_id", "doc_id")
      .join(d, "doc_id")
      .join(broadcast(q), "query_id")
      .withColumn("match_pos",
        array_min(filter(sequence(lit(1), size(col("dw"))),
          i => array_contains(col("qt"), element_at(col("dw"), i)))))
      .where(col("match_pos").isNotNull)
      .withColumn("s", greatest(lit(1), col("match_pos") - window))
      .withColumn("e", least(size(col("dw")), col("match_pos") + window))
      .select(col("query_id"), col("doc_id"),
        col("match_pos").cast("long").as("match_pos"),
        array_join(slice(col("dw"), col("s"), col("e") - col("s") + lit(1)),
          " ").as("snippet"))
  }

  /** TF-IDF keyword extraction — per-document top-`topK` terms by
    * tf·idf (smoothed idf = ln((N+1)/(df+1)), pinned to 9 dp; scores in
    * integer micro-units, ties by term) — the doc-tagging/labeling pass a
    * curation pipeline runs over the whole corpus. Shares the
    * inverted-index machinery: one postings build, a vocab-sized df
    * aggregate joined back on term (both partial-aggregate map-side), and
    * a per-doc rank window bounded by `topK` (map-side WindowGroupLimit).
    * Output: `(doc_id, rank, term, score_micro)`.
    */
  def tfidfKeywords(docs: DataFrame, topK: Int = 3,
                    textCol: String = "text"): DataFrame = {
    require(topK >= 1, "topK must be >= 1")
    val (nDocs, _) = corpusStats(docs, textCol)
    require(nDocs > 0, "corpus must have at least one non-null-text doc")
    val postings = buildPostings(docs, textCol)
    val dfByTerm = postings.groupBy("term").agg(count(lit(1)).as("df"))
    val idf9 = round(
      log((lit(nDocs) + lit(1.0)) / (col("df") + lit(1.0))), 9)
    val scored = postings.join(dfByTerm, "term")
      .select(col("doc_id"), col("term"),
        round(col("tf").cast("double") * idf9 * lit(1000000.0))
          .cast("long").as("score_micro"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score_micro").desc, col("term"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= topK)
      .select("doc_id", "rank", "term", "score_micro")
  }

  /** Pointwise-mutual-information collocations — the corpus's most
    * associated adjacent word pairs (phrase mining / tokenizer-merge
    * candidates). PMI = ln((c_ab/T₂) / ((c_a/T₁)·(c_b/T₁))) over exact
    * integer counts, pinned to 9 dp then micro-units, so the score — and
    * therefore the top-k — is engine-exact; `minCount` keeps rare-pair
    * noise (and the output size) bounded before any scoring. One token
    * explode feeds both the unigram and bigram counts (all
    * partial-aggregated); totals are a narrow scalar agg; the final
    * top-`topK` is a TakeOrdered, never a global sort.
    * Output: `(a, b, n_pair, pmi_micro)`.
    */
  def collocations(docs: DataFrame, minCount: Long = 5, topK: Int = 50,
                   textCol: String = "text"): DataFrame = {
    require(minCount >= 1 && topK >= 1, "minCount and topK must be >= 1")
    val toks = docs.where(col(textCol).isNotNull)
      .select(terms(col(textCol)).as("w"))
    val tot = toks.agg(
      coalesce(sum(size(col("w")).cast("long")), lit(0L)),
      coalesce(sum(when(size(col("w")) >= 2, size(col("w")) - 1)
        .otherwise(0).cast("long")), lit(0L))).head()
    val (t1, t2) = (tot.getLong(0), tot.getLong(1))
    require(t2 > 0, "corpus has no adjacent token pairs")
    val pairs = toks.where(size(col("w")) >= 2)
      .select(explode(sequence(lit(1), size(col("w")) - 1)).as("i"),
        col("w"))
      .select(element_at(col("w"), col("i")).as("a"),
        element_at(col("w"), col("i") + 1).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_pair"))
      .where(col("n_pair") >= minCount)
    val uni = toks
      .select(explode(col("w")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("c"))
    val pmi9 = round(log(
      (col("n_pair") / lit(t2)) /
        ((col("ca") / lit(t1)) * (col("cb") / lit(t1)))), 9)
    pairs
      .join(uni.select(col("term").as("a"), col("c").as("ca")), "a")
      .join(uni.select(col("term").as("b"), col("c").as("cb")), "b")
      .select(col("a"), col("b"), col("n_pair"),
        round(pmi9 * lit(1000000.0)).cast("long").as("pmi_micro"))
      .orderBy(col("pmi_micro").desc, col("a"), col("b"))
      .limit(topK)
  }

  /** Reciprocal-rank fusion (Cormack/Clarke/Büttcher RRF) of two ranked
    * lists — the standard hybrid-retrieval combiner for a dense and a
    * sparse ranking. Inputs are `(query_id, rank, doc_id, ...)`-shaped;
    * each side contributes round(1e9 / (rrfK + rank)) integer nano-units
    * (0 for a doc the side didn't rank — `rank_a`/`rank_b` carry 0 as the
    * explicit absent sentinel, ranks are 1-based so 0 is unambiguous), and
    * the fused ordering is the exact integer sum, ties by doc_id. Pure
    * rank arithmetic on two already-k-bounded inputs — result-sized, no
    * corpus access.
    */
  def fuseRrf(a: DataFrame, b: DataFrame, k: Int,
              rrfK: Int = 60): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(rrfK >= 0, "rrfK must be >= 0")
    def side(df: DataFrame, rn: String) =
      df.select(col("query_id"), col("doc_id"),
        col("rank").cast("long").as(rn))
    val j = side(a, "rank_a")
      .join(side(b, "rank_b"), Seq("query_id", "doc_id"), "full_outer")
    def c(r: Column) =
      coalesce(round(lit(1.0e9) / (lit(rrfK) + r)).cast("long"), lit(0L))
    val f = j
      .withColumn("rrf_micro", c(col("rank_a")) + c(col("rank_b")))
      .withColumn("rank_a", coalesce(col("rank_a"), lit(0L)))
      .withColumn("rank_b", coalesce(col("rank_b"), lit(0L)))
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf_micro").desc, col("doc_id"))
    f.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("query_id", "rank", "doc_id", "rrf_micro", "rank_a", "rank_b")
  }
}
