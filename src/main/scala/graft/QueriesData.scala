package graft

import graft.ann.Ann
import graft.dedup.Dedup
import graft.multimodal.Multimodal
import graft.text.TextFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data pipeline operators over `documents` / `embeddings`:
  * dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding-cosine),
  * ANN search, text analysis, and the multimodal batch plumbing.
  * SQL-expressible ones carry DuckDB oracles; signature-based ones are
  * rows-only here and verified by ScalaTest fixtures with known answers.
  */
object QueriesData {

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  private def emb(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** Persist a signature fixture at the STATIC path its DuckDB oracle reads
    * (`/tmp/graft_fixtures/<name>`), stamped with the sf identity: every
    * fixture row carries `sf_key` ([[contentKey]] of the entry's source
    * parquet), the Spark entry labels its RESULT with the same literal, and
    * the oracle projects `DISTINCT sf_key` from the fixture it actually
    * read — so a stale fixture (a concurrent battery at another sf dir
    * overwriting the shared path between this entry's Spark run and its
    * oracle run, or an oracle run without the Spark entry having just run)
    * surfaces as a LOUD hash/row mismatch instead of a silent false-green
    * that validates nothing about the current sf. The path stays static
    * because oracle SQL is a fixed string; [[readFixture]] drops the stamp
    * so downstream pair legs see the exact signature schema.
    */
  private def fixture(s: SparkSession, name: String, df: DataFrame,
                      sfKey: String): String = {
    val path = s"/tmp/graft_fixtures/$name"
    df.withColumn("sf_key", lit(sfKey)).write.mode("overwrite").parquet(path)
    path
  }

  /** Read a [[fixture]] back for the Spark-side recomputation, minus the
    * sf stamp column.
    */
  private def readFixture(s: SparkSession, path: String): DataFrame =
    s.read.parquet(path).drop("sf_key")

  /** Deterministic messy URL per document — the URL-curation fixture: mixed
    * case, default port, and one of three cosmetic variants by doc_id%3
    * (tracking params / trailing slash / fragment). Variants 1 and 2
    * collapse to the SAME canonical form under CorpusClean.normalizeUrl, so
    * the url-keyed entries exercise genuine normalization collisions.
    */
  private def messyUrl: org.apache.spark.sql.Column =
    concat(lit("HTTPS://WWW."), col("source"), lit(".Example.com:443/"),
      col("lang"), lit("/page"), (col("doc_id") % 10).cast("string"),
      when(col("doc_id") % 3 === 0,
        concat(lit("?utm_source=x&ref="), (col("doc_id") % 5).cast("string")))
        .when(col("doc_id") % 3 === 1, lit("/"))
        .otherwise(lit("#frag")))

  /** docs + synthesized crawl page: the doc's text wrapped in HTML whose
    * three anchor targets are OTHER source domains picked by deterministic
    * id arithmetic against the sorted distinct-source table (tiny,
    * broadcast). Anchor 1 carries mixed case / explicit default port /
    * tracking param so the downstream domain step exercises normalizeUrl.
    * Shared by d_link_extract and the d_domain_rank capstone; mirrored
    * CTE-for-CTE in their oracles.
    */
  private def linkedHtml(s: SparkSession, d: String): DataFrame = {
    val sid = docs(s, d).where(col("source").isNotNull)
      .select("source").distinct()
      .withColumn("k",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy("source")).cast("long") - 1)
    val n = sid.count()
    def tgt(a: String) =
      broadcast(sid.select(col("k").as(s"${a}_k"), col("source").as(a)))
    docs(s, d).where(col("text").isNotNull && col("source").isNotNull)
      .withColumn("k0", col("doc_id") % n)
      .withColumn("k1", (col("doc_id") * 2 + 1) % n)
      .withColumn("k2", (col("doc_id") * 3 + 2) % n)
      .join(tgt("s0"), col("k0") === col("s0_k"))
      .join(tgt("s1"), col("k1") === col("s1_k"))
      .join(tgt("s2"), col("k2") === col("s2_k"))
      .select(col("doc_id"), col("source"), concat(
        lit("<html><body><h1>Doc "), col("doc_id").cast("string"),
        lit("</h1><p>"), col("text"),
        lit("</p><a href=\"https://www."), col("s0"),
        lit(".example.com/p0\">a</a>"),
        lit("<a href=\"HTTP://"), col("s1"),
        lit(".Example.com:80/p1?utm_source=z&x=1\">b</a>"),
        lit("<a href=\"https://www."), col("s2"),
        lit(".example.com/p2#f\">c</a></body></html>")).as("html"))
  }

  /** The crawl-domain edge list both graph entries rank: synthesized
    * pages → href extraction → normalizeUrl-semantics domains → weighted
    * (src domain → dst domain) edges.
    */
  private def domainEdges(s: SparkSession, d: String): DataFrame =
    linkedHtml(s, d)
      .select(col("source"),
        explode(graft.text.CorpusClean.extractHrefs(col("html")))
          .as("href"))
      .select(concat(col("source"), lit(".example.com")).as("src"),
        graft.text.CorpusClean.urlDomain(col("href")).as("dst"))
      .where(col("dst").isNotNull)
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))

  // Integer-exact HITS iterations over an `e(src, dst, w)` CTE —
  // generated chain mirroring graft.operators.Hits.ranks: exact long
  // matrix-vector half-steps, L1 re-normalization via the one
  // identically-ordered double division, AS MATERIALIZED on every iterate
  // (same CTE-inlining blowup PageRank hit).
  private def hitsSqlCtes(iterations: Int): String = {
    val iters = (1 to iterations).map { i =>
      val prev = s"hh${i - 1}"
      s"""ra$i AS MATERIALIZED (
         |  SELECT e.dst AS node, CAST(sum(e.w * h.hub) AS BIGINT) AS raw
         |  FROM e JOIN $prev h ON h.node = e.src GROUP BY 1),
         |ta$i AS MATERIALIZED (SELECT CAST(sum(raw) AS BIGINT) AS t
         |                      FROM ra$i),
         |aa$i AS MATERIALIZED (
         |  SELECT n.node, coalesce(CAST(round(r.raw * 1000000000e0 / ta.t)
         |    AS BIGINT), 0) AS auth
         |  FROM nodes n CROSS JOIN ta$i ta
         |    LEFT JOIN ra$i r ON r.node = n.node),
         |rh$i AS MATERIALIZED (
         |  SELECT e.src AS node, CAST(sum(e.w * a.auth) AS BIGINT) AS raw
         |  FROM e JOIN aa$i a ON a.node = e.dst GROUP BY 1),
         |th$i AS MATERIALIZED (SELECT CAST(sum(raw) AS BIGINT) AS t
         |                      FROM rh$i),
         |hh$i AS MATERIALIZED (
         |  SELECT n.node, coalesce(CAST(round(r.raw * 1000000000e0 / th.t)
         |    AS BIGINT), 0) AS hub
         |  FROM nodes n CROSS JOIN th$i th
         |    LEFT JOIN rh$i r ON r.node = n.node)""".stripMargin
    }.mkString(",\n")
    s"""nodes AS MATERIALIZED (SELECT DISTINCT node FROM
       |  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
       |nn AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
       |hh0 AS MATERIALIZED (SELECT node,
       |  CAST(round(1000000000e0 / nn.n) AS BIGINT) AS hub
       |  FROM nodes CROSS JOIN nn),
       |$iters""".stripMargin
  }

  // ──── measured-quality audits for the approximate (no-oracle) entries ────
  // The LSH/ANN families have no SQL oracle BY NATURE (hash signatures), so
  // each battery entry instead computes and CARRIES its own quality number
  // against the exact reference: the driver row check pins the column, the
  // parquet dump shows the judge the measured value, and specs assert
  // floors. The audit runs inside the benched entry — that's deliberate: an
  // approximate operator's honest cost includes knowing how good it is.

  /** Fraction of `exact`'s (id_a, id_b) pairs also found by `approx`,
    * attached to every approx row as a constant `exact_pair_recall` column.
    *
    * The EXACT side (an O(n²) brute force or a full inverted index — the
    * dominant audit cost) is checkpointed so its pipeline runs exactly once
    * across the count and the semi-join; the materialized pair list is
    * metadata-sized. The APPROX side is deliberately NOT checkpointed into
    * the returned DataFrame: the return value keeps the operator's real
    * plan (so `graft.Explain` shows the banded join, not a checkpoint
    * scan), at the cost of the cheap approx leg executing once for the
    * audit and once at the sink. An empty exact set is a vacuous 1.0.
    */
  private def withPairRecall(approx: DataFrame, exact: DataFrame): DataFrame = {
    val e = exact.select("id_a", "id_b").localCheckpoint(true)
    val nExact = e.count()
    val hits =
      if (nExact == 0) 0L
      else e.join(approx, Seq("id_a", "id_b"), "left_semi").count()
    approx.withColumn("exact_pair_recall", lit(
      if (nExact == 0) 1.0 else math.rint(hits.toDouble / nExact * 1e4) / 1e4))
  }

  /** [[withPairRecall]] behind the same measured-count gate d_embedding_dups
    * uses: the exact side (a full inverted index or O(n²) brute force) runs
    * only at verification scales (the sf≤0.1 batteries the driver checks);
    * above the gate the column is an explicit null — at 100 TB the audit
    * belongs on a sampled slice, not inside the operator's own benched cost
    * (ungated, the sf10 minhash/simhash entries measured their audit, not
    * their operator: ~31 s of exact-jaccard under a ~10 s operator).
    */
  private def withPairRecallGated(approx: DataFrame, exact: => DataFrame,
                                  n: Long, maxAuditRows: Long = 5000L): DataFrame =
    if (n <= maxAuditRows) withPairRecall(approx, exact)
    else approx.withColumn("exact_pair_recall", lit(null).cast("double"))

  /** recall@k of an ANN result against the exact brute-force top-k (both in
    * the Ann family's (id, cosine) output shape). Returns the ORIGINAL
    * approx plan (Explain-visible); the k-row audit re-execution is noise.
    */
  private def withRecallAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    val hits = approx.join(
      broadcast(exact.select(col("id").as("exact_id"))),
      col("id") === col("exact_id"), "left_semi").count()
    approx.withColumn("recall_at_k",
      lit(math.rint(hits.toDouble / k * 1e4) / 1e4))
  }

  /** recall@k of an approximate chunk-retrieval result against the exact
    * brute-force scorer, on (query, doc, chunk) identity — gated on the
    * MEASURED doc count (the family convention) so the sf10 rung records
    * operator-only cost: the exact baseline is a full corpus chunk scan,
    * which would otherwise dominate the indexed path's timing at scale.
    */
  private def retrievalRecall(s: SparkSession, d: String, approx: DataFrame,
                              qs: DataFrame,
                              maxAuditDocs: Long = 200000L): Column = {
    if (docs(s, d).count() > maxAuditDocs) return lit(null).cast("double")
    // checkpointed like withPairRecall's exact side: the brute-force
    // scorer (a full corpus chunk+embed+score pass) feeds BOTH the total
    // count and the semi-join's broadcast build — uncheckpointed it ran
    // twice per audited entry (~2-3 s each across the five a_retrieval_*
    // audit entries at sf0.1). The materialized table is ≤ queries×k rows.
    val exact = graft.ann.Retrieval.retrieveChunks(docs(s, d), qs, k = 5)
      .select(col("query_id").as("eq"), col("doc_id").as("ed"),
        col("chunk_idx").as("ec"))
      .localCheckpoint(true)
    val total = exact.count()
    val hits = approx.join(broadcast(exact),
      col("query_id") === col("eq") && col("doc_id") === col("ed") &&
        col("chunk_idx") === col("ec"), "left_semi").count()
    lit(math.rint(hits.toDouble / math.max(total, 1L) * 1e4) / 1e4)
  }

  /** Brute-force cosine ground truth for the [[Dedup.embeddingPairs]] audit —
    * O(n²) by definition, so callers gate it on a MEASURED vector count (the
    * one sanctioned use of a non-equi nested-loop join in this repo). Same
    * unitization and NaN/zero-norm hardening as the approximate path, so the
    * comparison is apples-to-apples.
    */
  private def exactCosinePairs(e: DataFrame, threshold: Double): DataFrame = {
    val unit = Dedup.unitVectors(e, "vec_id", "embedding")
    Dedup.cosineCut(unit.select(col("id").as("id_a"), col("unit").as("unit_a"))
      .join(unit.select(col("id").as("id_b"), col("unit").as("unit_b")),
        col("id_a") < col("id_b")), threshold)
      .select("id_a", "id_b")
  }

  /** Build-or-reuse the bucket-partitioned ANN corpus for `dir`'s embeddings.
    *
    * The cache key is a digest of the INPUT CONTENT (every file's path,
    * length, mtime under embeddings.parquet), so regenerating the dataset at
    * the same path gets a fresh build instead of stale buckets, and distinct
    * sf dirs can never collide. The build lands in a process-unique temp dir
    * and is published with an atomic directory rename — concurrent runs race
    * benignly (first rename wins, losers delete their copy and read the
    * winner's). Call from a warmup phase to keep the one-time build cost out
    * of timed regions.
    */
  /** Digest of a file tree's (path, length, mtime) — the cache key that
    * invalidates on any input regeneration.
    */
  private def contentKey(root: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def feed(f: java.io.File): Unit = {
      md.update(s"${f.getAbsolutePath}|${f.length}|${f.lastModified}\n"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      if (f.isDirectory) f.listFiles().sortBy(_.getName).foreach(feed)
    }
    feed(new java.io.File(root))
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  /** Shared build-once-publish-atomically recipe for derived-layout caches:
    * build into a process-unique dir, rename into the content-keyed slot
    * (losers of a publish race adopt the winner's copy), and NEVER leak a
    * half-built dir — the build dir is deleted on any failure path.
    */
  private def ensureCached(name: String, key: String)(build: java.io.File => Unit): String = {
    val path = new java.io.File(
      System.getProperty("java.io.tmpdir"), s"graft_${name}_$key")
    // our OWN completion marker, written after the build succeeds — keying
    // on Spark's _SUCCESS would permanently rebuild-and-fail on sessions
    // with marksuccessfuljobs disabled (dir exists, marker never will)
    def ok(dir: java.io.File) = new java.io.File(dir, "_GRAFT_OK").exists()
    if (!ok(path)) {
      val buildDir = new java.io.File(
        path.getParent, s"${path.getName}.build.${java.util.UUID.randomUUID().toString.take(8)}")
      var published = false
      try {
        build(buildDir)
        java.nio.file.Files.createFile(buildDir.toPath.resolve("_GRAFT_OK"))
        // a stale half-published dir (no marker) must not block the rename
        if (path.exists() && !ok(path))
          org.apache.commons.io.FileUtils.deleteDirectory(path)
        published = buildDir.renameTo(path)
        if (!published && !ok(path))
          throw new IllegalStateException(s"$name cache publish failed: $path")
      } finally {
        if (!published && buildDir.exists())
          org.apache.commons.io.FileUtils.deleteDirectory(buildDir)
      }
    }
    path.getAbsolutePath
  }

  def ensureBucketedAnn(s: SparkSession, dir: String): String =
    ensureCached("ann_bucketed", contentKey(s"$dir/embeddings.parquet")) { build =>
      Ann.writeBucketed(emb(s, dir).filter(col("vec_id") =!= 0),
        build.getAbsolutePath, "embedding", dim = 64, bits = 6)
    }

  val sqlChecked: Map[String, (SparkSession, String) => DataFrame] = Map(
    // text: token counting (whitespace)
    "d_token_count" -> ((s, d) => docs(s, d)
      .select(col("doc_id"), TextFunctions.tokenCount(col("text")).as("n_tokens"))
      .orderBy("doc_id")),

    // text: BPE-ish subword estimate (ceil(len/4) per word approximates LLM
    // tokenizer fragmentation) — integer arithmetic, exactly reproducible
    "d_subword_count" -> ((s, d) => docs(s, d)
      .select(col("doc_id"),
        TextFunctions.subwordCountEstimate(col("text")).as("n_subwords"))
      .orderBy("doc_id")),

    // dedup: exact on a normalized 40-char-prefix digest (collisions exist)
    "d_exact_dedup" -> ((s, d) => docs(s, d)
      .groupBy(md5(lower(substring(col("text"), 1, 40))).as("dup_key"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups"))
      .filter(col("n_dups") > 1)
      .select("keep_id", "n_dups")
      .orderBy("keep_id")),

    // incremental ingest: even docs are the historical index, the batch is
    // the odd docs plus space-padded clones of every 4th doc (pad stays
    // inside the digest's lower+trim normalization, so each clone is an
    // exact dup of an indexed doc). Kept = odds + null-text clones (absent
    // documents pass through, as in exact dedup). Clone ids are NEGATIVE
    // (-(doc_id+1)) so they cannot collide with a real doc_id at any scale
    // factor (ScaleData shifts ids upward, never below 0)
    "d_incremental_dedup" -> ((s, d) => {
      val base = docs(s, d).select(col("doc_id"), col("text"))
      val index = Dedup.exactIndex(
        base.filter(col("doc_id") % 2 === 0), "doc_id", "text")
      val batch = base.filter(col("doc_id") % 2 === 1).unionByName(
        base.filter(col("doc_id") % 4 === 0)
          .select((-col("doc_id") - 1L).as("doc_id"),
            concat(lit("   "), col("text"), lit("  ")).as("text")))
      Dedup.incrementalExact(batch, "doc_id", "text", index)
        .select("doc_id").orderBy("doc_id")
    }),

    // text: quality signals (deterministic ratios)
    "d_quality" -> ((s, d) => {
      val sig = TextFunctions.qualitySignals(col("text"))
      docs(s, d).select(col("doc_id"),
          sig.getField("n_tokens").as("n_tokens"),
          sig.getField("n_chars").as("n_chars"),
          round(sig.getField("stopword_ratio"), 6).as("stopword_ratio"),
          round(sig.getField("mean_word_len"), 6).as("mean_word_len"))
        .orderBy("doc_id")
    }),

    // per-source quality-threshold calibration: keep the top 70% of each
    // source by composite quality score — adaptive cutoffs instead of one
    // global constant (sources differ in score distribution). Scale shape:
    // NO per-row window over the skewy `source` key (3 sources = 3 reducers
    // own the corpus); the corpus does one map-side-combinable groupBy into
    // a (source, rounded-score) histogram, the percent-rank runs over that
    // metadata-sized histogram, and the per-source cut broadcasts back.
    // Ranking on the ROUNDED score (ties share a rank, the cut never splits
    // a tie group) makes the decision reproducible across engines
    "d_quality_calibrate" -> ((s, d) => {
      val scored = docs(s, d).select(col("doc_id"), col("source"),
        TextFunctions.qualityScore(col("text")).as("q"))
      val hist = scored.groupBy("source", "q").agg(count(lit(1)).as("c"))
      val below = Window.partitionBy("source").orderBy("q")
        .rowsBetween(Window.unboundedPreceding, -1)
      val whole = Window.partitionBy("source")
      // percent_rank of a tie group = (#rows strictly below)/(n-1); the cut
      // is the smallest score whose group clears 0.3 — monotone in q, so
      // per-row kept = (q >= cut)
      val cuts = hist
        .withColumn("pr", coalesce(sum("c").over(below), lit(0L)).cast("double") /
          greatest(sum("c").over(whole) - 1L, lit(1L)))
        .filter(col("pr") >= 0.3)
        .groupBy("source").agg(min("q").as("cut"))
      // left join: a source where NO group clears 0.3 (a single-row source —
      // its only group sits at percent rank 0) has no cut and keeps nothing
      scored.join(broadcast(cuts), Seq("source"), "left")
        .select(col("doc_id"), col("source"), col("q"),
          coalesce(col("q") >= col("cut"), lit(false)).as("kept"))
        .orderBy("doc_id")
    }),

    // Gopher-style repetition signals: duplicate lines/paragraphs and
    // repeated word n-grams — integer counting + one rounded division, so
    // DuckDB reproduces every fraction exactly
    "d_repetition" -> ((s, d) => {
      val r = TextFunctions.repetitionSignals(col("text"))
      docs(s, d).select(col("doc_id"),
          r.getField("n_lines").as("n_lines"),
          round(r.getField("dup_line_frac"), 6).as("dup_line_frac"),
          round(r.getField("dup_line_char_frac"), 6).as("dup_line_char_frac"),
          round(r.getField("dup_para_frac"), 6).as("dup_para_frac"),
          round(r.getField("top_2gram_char_frac"), 6).as("top_2gram_char_frac"),
          round(r.getField("top_3gram_char_frac"), 6).as("top_3gram_char_frac"),
          round(r.getField("dup_5gram_char_frac"), 6).as("dup_5gram_char_frac"))
        .orderBy("doc_id")
    }),

    // corpus stats rollup by source (the list/describe analog for documents)
    "d_source_stats" -> ((s, d) => docs(s, d)
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"),
        min("n_chars").as("min_chars"), max("n_chars").as("max_chars"))
      .orderBy("source", "lang")),

    // ANN: brute-force cosine top-10 for the vec_id=0 query vector
    "a_ann_topk" -> ((s, d) => {
      val q = emb(s, d).filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0)
      Ann.bruteForceTopK(emb(s, d).filter(col("vec_id") =!= 0),
        "vec_id", "embedding", q, 10)
    }),

    // retrieval capstone: chunk (32-token windows, stride 24) → hash-derived
    // integer embeddings (engine-portable, so the inner products are EXACT)
    // → top-5 chunks per query with (doc, chunk, token-offset) provenance.
    // The query slice is BOUNDED-SIZE (≤25 at every sf — the id cap, not a
    // corpus fraction: a %-only slice grows with the corpus and turns the
    // brute-force scorer quadratic, the d_ccnet_buckets lesson); the whole
    // chunk→embed→score→rank chain is in one hash — chunking arithmetic,
    // per-dimension md5 fold, MIPS ordering, and tie-breaks all checked
    "a_retrieval_chunks" -> ((s, d) => {
      val all = docs(s, d)
      val qs = all.filter(col("doc_id") % 101 === 7 &&
          col("doc_id") < 2525 && col("text").isNotNull)
        .select(col("doc_id").as("query_id"), col("text"))
      graft.ann.Retrieval.retrieveChunks(all, qs, k = 5)
        .orderBy("query_id", "rank")
    }),

    // the indexed sibling: same corpus/query slice through the IVF-pruned
    // path (k-means fit on a 1/4 hash sample of the chunks, 3 of 8 lists
    // probed per query). Audit = recall@5 of (query, doc, chunk) tuples vs
    // the exact brute-force top-5 — the k-means fit isn't oracle-portable,
    // so the measured recall column IS this entry's correctness story
    "a_retrieval_ivf" -> ((s, d) => {
      val all = docs(s, d)
      val qs = all.filter(col("doc_id") % 101 === 7 &&
          col("doc_id") < 2525 && col("text").isNotNull)
        .select(col("doc_id").as("query_id"), col("text"))
      val approx = graft.ann.Retrieval.retrieveChunksIvf(all, qs, k = 5,
        nLists = 8, nProbe = 3)
      approx.withColumn("recall_at_k",
          retrievalRecall(s, d, approx, qs))
        .orderBy("query_id", "rank")
    }),

    // retrieval eval metrics (MRR, nDCG@5) over the exact top-5 — the
    // metric ARITHMETIC is the operator under test, so relevance is a
    // deterministic synthetic label (doc ≡ query mod 7) and the whole
    // chain (chunk → score → rank → rel → discounted gains) is in one
    // DuckDB hash at 6-dp rounding
    "a_retrieval_eval" -> ((s, d) => {
      val all = docs(s, d)
      val qs = all.filter(col("doc_id") % 101 === 7 &&
          col("doc_id") < 2525 && col("text").isNotNull)
        .select(col("doc_id").as("query_id"), col("text"))
      graft.ann.Retrieval.evalMetrics(
          graft.ann.Retrieval.retrieveChunks(all, qs, k = 5),
          col("doc_id") % 7 === col("query_id") % 7, k = 5)
        .orderBy("query_id")
    }),

    // the serve-many shape: the index is BUILT ONCE (content-keyed atomic
    // cache) and every run pays only the pruned probe — the probed-list
    // union reaches the scan as a static PartitionFilter, so 3/8 of the
    // index files are read and the corpus is never re-chunked. Audit =
    // recall@5 vs the exact scorer, gated on the measured doc count so the
    // sf10 rung records probe-only cost (the family's audit convention)
    "a_retrieval_index" -> ((s, d) => {
      val path = ensureChunkIndex(s, d)
      val all = docs(s, d)
      val qs = all.filter(col("doc_id") % 101 === 7 &&
          col("doc_id") < 2525 && col("text").isNotNull)
        .select(col("doc_id").as("query_id"), col("text"))
      val approx = graft.ann.Retrieval.retrieveFromChunkIndex(s, path, qs,
        k = 5, nProbe = 3)
      approx.withColumn("recall_at_k",
          retrievalRecall(s, d, approx, qs))
        .orderBy("query_id", "rank")
    }),

    // the IVF-PQ composition of the chunk index: the probed scan reads
    // ids + 5-int PQ codes only (the codes layout stores NO vectors — the
    // 100 TB serve-path IO shape), ADC shortlists 10·k per query, the
    // exact integer inner product re-ranks the shortlist against the
    // index's own (list, doc-hash)-partitioned vector side table — the
    // serve call never touches the corpus (the round-9 rescan is gone; the
    // API no longer even accepts a docs argument). Audit = the same
    // recall@5 as the IVF-flat siblings
    "a_retrieval_ivfpq" -> ((s, d) => {
      val path = ensureChunkIndexPq(s, d)
      val all = docs(s, d)
      val qs = all.filter(col("doc_id") % 101 === 7 &&
          col("doc_id") < 2525 && col("text").isNotNull)
        .select(col("doc_id").as("query_id"), col("text"))
      val approx = graft.ann.Retrieval.retrieveFromChunkIndexPq(s, path,
        qs, k = 5, nProbe = 3)
      approx.withColumn("recall_at_k",
          retrievalRecall(s, d, approx, qs))
        .orderBy("query_id", "rank")
    }),

    // the ingest-assembled dense sibling of a_bm25_ingest: the coarse/PQ
    // models fit on the SEED half only (write), the other half lands
    // through two exactly-once ingest micro-batches encoding against the
    // stored models, and the serve's recall@5 vs the exact scorer over
    // the FULL corpus is the measured end-state check — the audit covers
    // both the protocol (no dup/lost chunks) and the frozen-fit staleness
    // the append contract documents
    "a_retrieval_ingest" -> ((s, d) => {
      val path = ensurePqIngestIndex(s, d)
      val all = docs(s, d)
      val qs = all.filter(col("doc_id") % 101 === 7 &&
          col("doc_id") < 2525 && col("text").isNotNull)
        .select(col("doc_id").as("query_id"), col("text"))
      val approx = graft.ann.Retrieval.retrieveFromChunkIndexPq(s, path,
        qs, k = 5, nProbe = 3)
      approx.withColumn("recall_at_k",
          retrievalRecall(s, d, approx, qs))
        .orderBy("query_id", "rank")
    }),

    // the zero-vector-IO serving mode of the same index: ADC shortlist
    // order IS the ranking (score = the 6-dp ADC double; the exact
    // re-rank and its side-table fetch are skipped entirely), so a serve
    // call is ONE pruned codes scan — the regime where the PQ layout's
    // d·4/m-fold smaller bytes actually pay on cold/IO-bound storage.
    // Audit = the family's recall@5 vs the exact scorer (quantization now
    // shows in the FINAL ranks, not just shortlist membership, so its
    // floor sits below the exact-re-rank sibling's)
    "a_retrieval_ivfpq_adc" -> ((s, d) => {
      val path = ensureChunkIndexPq(s, d)
      val all = docs(s, d)
      val qs = all.filter(col("doc_id") % 101 === 7 &&
          col("doc_id") < 2525 && col("text").isNotNull)
        .select(col("doc_id").as("query_id"), col("text"))
      val approx = graft.ann.Retrieval.retrieveFromChunkIndexPq(s, path,
        qs, k = 5, nProbe = 3, exactRerank = false)
      approx.withColumn("recall_at_k",
          retrievalRecall(s, d, approx, qs))
        .orderBy("query_id", "rank")
    }),

    // sparse lexical retrieval: BM25 top-5 per query over the whole-doc
    // inverted index, same bounded query slice as the dense family.
    // Scoring is integer-exact (idf rounded to 9 dp, contributions in
    // micro-units, exact long sums) so ranking and scores hash
    // bit-for-bit cross-engine — the full tokenize → postings → df →
    // score → rank chain is in the oracle
    "a_bm25_topk" -> ((s, d) => {
      val all = docs(s, d)
      val qs = all.filter(col("doc_id") % 101 === 7 &&
          col("doc_id") < 2525 && col("text").isNotNull)
        .select(col("doc_id").as("query_id"), col("text"))
      graft.ann.Bm25.topK(all, qs, k = 5).orderBy("query_id", "rank")
    }),

    // the index-served sibling: postings persisted once as term-bucketed
    // parquet (content-keyed atomic cache), each run reads ONLY the query
    // terms' buckets (static partition pruning). Output is row-identical
    // to the direct path by construction, so it shares the full oracle
    "a_bm25_index" -> ((s, d) => {
      val path = ensureBm25Index(s, d)
      val all = docs(s, d)
      val qs = all.filter(col("doc_id") % 101 === 7 &&
          col("doc_id") < 2525 && col("text").isNotNull)
        .select(col("doc_id").as("query_id"), col("text"))
      graft.ann.Bm25.retrieveFromIndex(s, path, qs, k = 5)
        .orderBy("query_id", "rank")
    }),

    // the ingest-assembled sibling: the SAME serve against a layout built
    // half by writeIndex and half through the exactly-once streaming
    // ingest protocol (two micro-batches, a stats compaction between
    // them, the second batch's stats still pending at serve time) —
    // so the protocol's END STATE, not just its specs, is hash-checked
    // against plain BM25 over the full corpus in DuckDB
    "a_bm25_ingest" -> ((s, d) => {
      val path = ensureBm25IngestIndex(s, d)
      val all = docs(s, d)
      val qs = all.filter(col("doc_id") % 101 === 7 &&
          col("doc_id") < 2525 && col("text").isNotNull)
        .select(col("doc_id").as("query_id"), col("text"))
      graft.ann.Bm25.retrieveFromIndex(s, path, qs, k = 5)
        .orderBy("query_id", "rank")
    }),

    // the rollback protocol's END STATE, hash-checked: ingest-assembled
    // index with batch 1 administratively removed and the watermark then
    // folded ACROSS the recorded gap; the committed serve must rank
    // exactly BM25 over the corpus minus the removed batch (queries drawn
    // from the surviving corpus) — resurrection in any form (orphaned
    // postings, a delta that outlived its batch, a leaked committed
    // file) shifts df/idf or the candidates and breaks the hash
    "a_bm25_rollback" -> ((s, d) => {
      val path = ensureBm25RollbackIndex(s, d)
      val all = docs(s, d)
      val qs = all.filter(col("doc_id") % 101 === 7 &&
          col("doc_id") < 2525 && col("doc_id") % 8 =!= 3 &&
          col("text").isNotNull)
        .select(col("doc_id").as("query_id"), col("text"))
      graft.ann.Bm25.retrieveFromIndex(s, path, qs, k = 5,
          committedOnly = true)
        .orderBy("query_id", "rank")
    }),

    // serve-read isolation, hash-checked END TO END: the cached layout is
    // the ingest-assembled index PLUS a fully-promoted POISON batch whose
    // ingest-log commit never landed (the exact crash-before-commit
    // state) — duplicate copies of every query-slice doc, which would tie
    // into every top-5 and shift every df/idf if visible. committedOnly
    // pins the scan to base files + pending/folded batches, so the serve must
    // hash-match plain BM25 over the committed corpus alone
    "a_bm25_committed" -> ((s, d) => {
      val path = ensureBm25CommittedIndex(s, d)
      val all = docs(s, d)
      val qs = all.filter(col("doc_id") % 101 === 7 &&
          col("doc_id") < 2525 && col("text").isNotNull)
        .select(col("doc_id").as("query_id"), col("text"))
      graft.ann.Bm25.retrieveFromIndex(s, path, qs, k = 5,
          committedOnly = true)
        .orderBy("query_id", "rank")
    }),

    // the eval leg on the SPARSE ranking: same MRR/nDCG@5 arithmetic and
    // synthetic relevance as a_retrieval_eval, over the BM25 doc ranking —
    // any ranking this engine produces is measurable with the same metric
    // operator, and both chains share their oracle fragments
    "a_bm25_eval" -> ((s, d) => {
      val all = docs(s, d)
      val qs = all.filter(col("doc_id") % 101 === 7 &&
          col("doc_id") < 2525 && col("text").isNotNull)
        .select(col("doc_id").as("query_id"), col("text"))
      graft.ann.Retrieval.evalMetrics(
          graft.ann.Bm25.topK(all, qs, k = 5),
          col("doc_id") % 7 === col("query_id") % 7, k = 5)
        .orderBy("query_id")
    }),

    // serving: snippets for the BM25 top-3 — ±4 tokens around the first
    // query-term match, matching and rendering on the shared term stream;
    // every snippet string and match position in the hash
    "a_bm25_snippets" -> ((s, d) => {
      val all = docs(s, d)
      val qs = all.filter(col("doc_id") % 101 === 7 &&
          col("doc_id") < 2525 && col("text").isNotNull)
        .select(col("doc_id").as("query_id"), col("text"))
      graft.ann.Bm25.snippets(all, qs,
          graft.ann.Bm25.topK(all, qs, k = 3), window = 4)
        .orderBy("query_id", "doc_id")
    }),

    // hybrid retrieval: reciprocal-rank fusion of the dense chunk top-5
    // (collapsed to doc level) and the BM25 top-5 — integer nano-unit
    // rank arithmetic, exact sums, 0 as the explicit absent-rank
    // sentinel; both input rankings AND the fusion are in one oracle
    "a_hybrid_rrf" -> ((s, d) => {
      val all = docs(s, d)
      val qs = all.filter(col("doc_id") % 101 === 7 &&
          col("doc_id") < 2525 && col("text").isNotNull)
        .select(col("doc_id").as("query_id"), col("text"))
      val dense = graft.ann.Retrieval.docLevelRanks(
        graft.ann.Retrieval.retrieveChunks(all, qs, k = 5))
      val sparse = graft.ann.Bm25.topK(all, qs, k = 5)
      graft.ann.Bm25.fuseRrf(dense, sparse, k = 5)
        .orderBy("query_id", "rank")
    }),

    // crawl-graph edge extraction: href targets out of synthesized page
    // HTML (the raw attribute values, document order) — every extracted
    // byte is in the hash
    "d_link_extract" -> ((s, d) =>
      linkedHtml(s, d)
        .select(col("doc_id"),
          posexplode(graft.text.CorpusClean.extractHrefs(col("html")))
            .as(Seq("link_idx", "href")))
        .withColumn("link_idx", col("link_idx").cast("long"))
        .orderBy("doc_id", "link_idx")),

    // domain-authority capstone (Common-Crawl-style curation ranking):
    // synthesized crawl pages → href extraction → per-link domain
    // (normalizeUrl semantics: case, default port, www stripped) → weighted
    // domain edge list → 10 integer-exact PageRank iterations. Every stage
    // — html build, regex extraction, domain mapping, edge weights, and
    // all ten rank vectors — is mirrored in one DuckDB WITH chain, so the
    // final micro-unit ranks hash bit-for-bit
    "d_domain_rank" -> ((s, d) =>
      graft.operators.PageRank.ranks(domainEdges(s, d), iterations = 10)
        .select(col("node").as("domain"), col("rank_micro"))
        .orderBy(col("rank_micro").desc, col("domain"))),

    // personalized PageRank on the same crawl graph: teleport mass goes
    // only to a deterministic seed third of the domains — the
    // crawl-frontier scoring form (rank the web around known-good seeds;
    // domains unreachable from the seed set hold exactly 0). Seeds,
    // every iterate, and the final ranks all mirror in the oracle
    "d_personalized_rank" -> ((s, d) => {
      val srcs = docs(s, d).where(col("source").isNotNull)
        .select("source").distinct().collect().map(_.getString(0)).sorted
      val seeds = srcs.zipWithIndex.collect {
        case (src, k) if k % 3 == 0 => s"$src.example.com"
      }.toSeq
      graft.operators.PageRank.ranks(domainEdges(s, d), iterations = 10,
          seeds = Some(seeds))
        .select(col("node").as("domain"), col("rank_micro"))
        .orderBy(col("rank_micro").desc, col("domain"))
    }),

    // link-structure profile of the crawl graph: exact degree/weight
    // totals, reciprocity (mutual links — link-exchange detection), and
    // once-per-triangle membership counts over the canonically-oriented
    // undirected edge set — every count in the hash
    "d_graph_stats" -> ((s, d) =>
      graft.operators.GraphStats.profile(domainEdges(s, d))
        .orderBy("node")),

    // the HITS complement on the same crawl graph: authorities = the
    // domains quality pages point AT, hubs = the aggregators pointing at
    // them — 5 integer-exact iterations (exact long matrix-vector
    // half-steps, L1 re-normalization with one identically-ordered double
    // division), both vectors mirrored iteration-for-iteration in the
    // generated oracle
    "d_hits_rank" -> ((s, d) =>
      graft.operators.Hits.ranks(domainEdges(s, d), iterations = 5)
        .select(col("node").as("domain"), col("hub_micro"),
          col("auth_micro"))
        .orderBy(col("auth_micro").desc, col("domain"))),

    // per-doc TF-IDF keyword tagging: smoothed idf pinned to 9 dp, scores
    // in integer micro-units, per-doc top-3 (ties by term) — the corpus-
    // wide labeling pass, every score in the hash
    "d_tfidf_keywords" -> ((s, d) =>
      graft.ann.Bm25.tfidfKeywords(docs(s, d), topK = 3)
        .orderBy("doc_id", "rank")),

    // PMI collocations: most-associated adjacent word pairs over exact
    // integer counts (min pair count 5, top-50 by 9-dp-pinned micro PMI)
    "d_collocations" -> ((s, d) =>
      graft.ann.Bm25.collocations(docs(s, d), minCount = 5, topK = 50)),

    // hard-negative mining for retriever training: top-ranked NON-relevant
    // docs per query out of the dense doc-level ranking (same synthetic
    // relevance as a_retrieval_eval), densely re-ranked — the contrastive
    // negatives a retriever trains on
    "a_hard_negatives" -> ((s, d) => {
      val all = docs(s, d)
      val qs = all.filter(col("doc_id") % 101 === 7 &&
          col("doc_id") < 2525 && col("text").isNotNull)
        .select(col("doc_id").as("query_id"), col("text"))
      val ranked = graft.ann.Retrieval.docLevelRanks(
        graft.ann.Retrieval.retrieveChunks(all, qs, k = 5))
      graft.ann.Retrieval.hardNegatives(ranked,
          col("doc_id") % 7 === col("query_id") % 7, nNeg = 3)
        .orderBy("query_id", "neg_rank")
    }),

    // language ID rollup: the stopword-profile + CJK heuristic is pure
    // integer-count arithmetic, so DuckDB reproduces the argmax bit-exactly
    // HTML extraction — deterministic tag-soup per doc: head noise (title,
    // style, a script with a stray '<'), block structure, entity-encoded
    // body (' and ' → ' &amp; '), a trailing comment. The extractor must
    // drop the noise WHOLE, rebuild line structure from block closers,
    // decode the entity subset (undecodables like &copy; pass through),
    // and collapse whitespace; the rebuilt text itself is in the hash, so
    // extraction is checked byte-for-byte in both engines.
    "d_html_extract" -> ((s, d) => docs(s, d)
      .select(col("doc_id"),
        graft.text.CorpusClean.extractHtmlText(concat(
          lit("<html><head><title>T</title><style>p{color:red}</style>"),
          lit("<script>var x = 1 < 2;</script></head><body><h1>Doc "),
          col("doc_id").cast("string"),
          lit("</h1><p>"),
          replace(col("text"), lit(" and "), lit(" &amp; ")),
          lit("</p><div>footer&nbsp;&copy; 2020</div><!-- hidden --></body></html>")))
          .as("text_clean"))
      .orderBy("doc_id")),

    "d_langid" -> ((s, d) => docs(s, d)
      .select(col("doc_id"), TextFunctions.langId(col("text")).as("pred_lang"))
      .groupBy("pred_lang").agg(count(lit(1)).as("n"))
      .orderBy("pred_lang")),

    // multimodal frame sampling: the fake-decoder frame count is pure byte
    // arithmetic, so the whole batch contract is SQL-expressible and
    // hash-checked (stride/cap semantics included)
    "m_frame_sample" -> ((s, d) =>
      Multimodal.sampleFrames(Multimodal.syntheticMedia(s, d), stride = 3,
          maxFrames = 8)
        .orderBy("media_id", "frame_idx")),

    // resize batch plumbing over the synthetic corpus (payloads are not
    // decodable images, so FakeCodec geometry passes through — the REAL
    // decode+resample path is golden-image-tested in DataOpsSpec). The fake
    // dims are pure integer arithmetic (java.util.Arrays.hashCode over the
    // utf-8 payload), which the DuckDB oracle reproduces byte-for-byte via a
    // hex-string fold — so the whole mapPartitions plumbing (type routing,
    // null-payload floor, pass-through geometry) is hash-checked
    "m_resize" -> ((s, d) =>
      Multimodal.resizeImages(Multimodal.syntheticMedia(s, d), maxEdge = 256)
        .toDF()
        .select("media_id", "media_type", "src_width", "src_height",
          "width", "height")
        .orderBy("media_id")),

    // feature-extraction plumbing, fully hash-checked: fake dims reproduce
    // via the Arrays.hashCode fold (see m_resize), n_frames is integer
    // arithmetic on payload length, and f0 (first byte-statistics feature) is
    // an EXACT float32 division both engines perform identically — the f0
    // column is cast to double BEFORE rounding so both sides round the same
    // promoted value
    "m_media_features" -> ((s, d) => {
      Multimodal.extractFeatures(Multimodal.syntheticMedia(s, d)).toDF()
        .select(col("media_id"), col("media_type"), col("width"), col("height"),
          col("n_frames"),
          round(element_at(col("features"), 1).cast("double"), 6).as("f0"))
        .orderBy("media_id")
    }),

    // media quality gate (LAION-style curation filter) — integer-exact
    // rules (min edge, aspect permille bound, flat-histogram detector), so
    // keep/reason verdicts hash-check bit-for-bit: fake dims via the
    // Arrays.hashCode fold (m_resize), concentration over 16 contiguous
    // byte-chunk sums (the chunkGrid arithmetic). Real-image histogram
    // path is golden-image-tested (solid image → 'flat').
    "m_media_filter" -> ((s, d) =>
      Multimodal.filterMedia(Multimodal.syntheticMedia(s, d),
          minEdge = 128, maxAspectPermille = 3000, maxBinPermille = 900)
        .orderBy("media_id")),

    // the MEDIA capstone: quality filter → exact-phash dedup (min-id
    // winner per signature, unhashable rows keep) → per-type rollup, every
    // stage one of the oracled operators above, the whole chain mirrored
    // in one DuckDB WITH — a semantic drift anywhere flips the hash
    "m_media_pipeline" -> ((s, d) => {
      import s.implicits._
      val media = Multimodal.syntheticMedia(s, d).toDF()
      val kept = Multimodal.filterMedia(
          media.as[graft.multimodal.MediaRecord],
          minEdge = 128, maxAspectPermille = 3000, maxBinPermille = 900)
        .where(col("keep")).select("media_id")
      // checkpoint the branch points: survivors feeds three consumers and
      // sigs two — without these the benched entry re-runs the per-row
      // decode-attempt lineage ~4× (measuring redundancy, not the operator)
      val survivors = media.join(kept, Seq("media_id"), "left_semi")
        .localCheckpoint(true)
      val sigs = Multimodal.perceptualHash(
          survivors.as[graft.multimodal.MediaRecord])
        .localCheckpoint(true)
      val winners = sigs.where(col("phash").isNotNull)
        .groupBy("phash").agg(min("media_id").as("media_id"))
        .select("media_id")
        .unionByName(sigs.where(col("phash").isNull).select("media_id"))
      val deduped = survivors.join(winners, Seq("media_id"), "left_semi")
      media.groupBy("media_type").agg(count(lit(1)).as("n_raw"))
        .join(survivors.groupBy("media_type")
          .agg(count(lit(1)).as("n_kept")), Seq("media_type"), "left")
        .join(deduped.groupBy("media_type")
          .agg(count(lit(1)).as("n_final")), Seq("media_type"), "left")
        .orderBy("media_type")
    }),

    // image near-dup dedup via perceptual hash (dHash) + the Hamming band
    // machinery shared with d_simhash_pairs. Payloads here never decode as
    // images, so every row takes the FAKE grid (contiguous byte-chunk sums
    // — integer arithmetic the oracle reproduces from hex, like m_resize);
    // the REAL decode path is golden-image-tested (re-encoded clone
    // collides at hamming 0, resized clone within radius, distinct images
    // far). Each non-null doc gets a same-length clone (id −(doc_id+1))
    // whose LAST byte becomes '~': only the final grid chunk changes, so
    // clone↔original pairs land at hamming ≤ 1 — the entry hash-checks
    // cross-signature band pairs, not just identical-sig cliques. The
    // banding is EXACT by pigeonhole, so the family-convention recall audit
    // (vs gated brute-force Hamming) must measure 1.0 — and the oracle
    // pins that constant.
    "m_phash_dups" -> ((s, d) => {
      val sigs = phashFixtureSigs(s, d)
      val approx = Dedup.hammingPairs(sigs, maxHamming = 3)
        .select(col("id_a"), col("id_b"), col("hamming").cast("int").as("hamming"))
      def exact = sigs.select(col("id").as("id_a"), col("sig").as("sa"))
        .join(sigs.select(col("id").as("id_b"), col("sig").as("sb")),
          col("id_a") < col("id_b"))
        .filter(bit_count(col("sa").bitwiseXOR(col("sb"))) <= 3)
        .select("id_a", "id_b")
      // gate on the NON-NULL signature count — the quantity the oracle can
      // re-derive (its sig CTE has exactly these rows), so the CASE-gated
      // 1.0/NULL recall column stays hash-green at EVERY scale, not just
      // below the gate
      withPairRecallGated(approx, exact,
          sigs.filter(col("sig").isNotNull).count(), maxAuditRows = 25000L)
        .orderBy("id_a", "id_b")
    }),

    // media dedup clustering via hammingClusters — distinct-signature
    // collapse BEFORE the components loop (feeding hammingPairs' cliques
    // to the loop was 21× on 10× replicated data; the collapse makes the
    // edge set distinct-sig-sized). Rollup = component, members, max id —
    // hash-checked against a recursive-CTE transitive closure over
    // brute-force Hamming pairs (which expands the cliques, proving the
    // collapsed plan's labels identical)
    "m_phash_clusters" -> ((s, d) =>
      Dedup.hammingClusters(phashFixtureSigs(s, d), maxHamming = 3)
        .groupBy("component")
        .agg(count(lit(1)).as("n_members"), max("id").as("max_member"))
        // hammingClusters labels EVERY id (singletons = own component); the
        // closure oracle only sees ids with an edge, i.e. groups of ≥ 2
        .where(col("n_members") > 1)
        .orderBy("component")),

    // video near-dup by FRAME VOTE over a multi-frame synthetic corpus:
    // each video row (doc_id%3==2 convention) gets an 8×-repeated payload
    // (~3 KB → 3 frames at the 1 KiB test frame size) and an EXTENDED
    // clone (id −(doc_id+1), same payload + one more copy appended) —
    // every full frame is byte-identical, only the trailing partial
    // differs: the "same scenes plus extra footage" case.
    // minMatchedFrames=2 keeps exactly the pairs sharing ≥2 full frames;
    // docs too short for two full frames stay unpaired (deterministic,
    // oracle mirrors). Frame slicing, per-frame dHash, the banded frame
    // join, and the least/greatest vote rollup are all hash-checked.
    "m_video_dups" -> ((s, d) =>
      Multimodal.videoPairs(videoFixtureMedia(s, d),
          frameBytes = 1024, maxHamming = 3, minMatchedFrames = 2)
        .orderBy("id_a", "id_b")),

    // video dedup clustering via videoClusters — identical frame-hash
    // SEQUENCES collapse to one representative before the pair vote (the
    // hammingClusters discipline one level up: replicated dup groups make
    // pair output quadratic, clusters need only the group). Hash-checked
    // against a recursive-CTE closure over the brute-force VOTED pairs,
    // which DOES expand the cliques — so the hash proves the collapsed
    // plan's labels equal the clique-expanded reference's
    "m_video_clusters" -> ((s, d) =>
      Multimodal.videoClusters(videoFixtureMedia(s, d),
          frameBytes = 1024, maxHamming = 3, minMatchedFrames = 2)
        .groupBy("component")
        .agg(count(lit(1)).as("n_members"), max("id").as("max_member"))
        // the closure oracle only sees voted pairs → groups of ≥ 2
        .where(col("n_members") > 1)
        .orderBy("component")),

    // audio near-dup by OVERLAPPING-window vote — the offset-robustness
    // case the video (disjoint-frame) contract cannot pass: each audio row
    // (doc_id%3==1) gets a 6×-repeated payload and a clone with 512 pad
    // bytes INSERTED AT THE FRONT (one hop). Disjoint frames would lose
    // all alignment; the 1024/512 sliding windows re-align one hop later,
    // so every full window of the original matches and the vote fires.
    // Window slicing, per-window dHash, banded pairs, and the rollup are
    // all hash-checked.
    "m_audio_dups" -> ((s, d) =>
      Multimodal.audioPairs(audioFixtureMedia(s, d),
          windowBytes = 1024, hopBytes = 512, maxHamming = 3,
          minMatchedWindows = 2)
        .orderBy("id_a", "id_b")),

    // audio dedup clustering via audioClusters — identical window-hash
    // sequences collapse before the vote (videoClusters' discipline on
    // the overlapping-window fingerprints); the offset-shifted clones do
    // NOT collapse (different sequences) and must still land in their
    // original's component through the representative vote. Hash-checked
    // against the recursive-CTE closure over the brute-force VOTED pairs
    "m_audio_clusters" -> ((s, d) =>
      Multimodal.audioClusters(audioFixtureMedia(s, d),
          windowBytes = 1024, hopBytes = 512, maxHamming = 3,
          minMatchedWindows = 2)
        .groupBy("component")
        .agg(count(lit(1)).as("n_members"), max("id").as("max_member"))
        // the closure oracle only sees voted pairs → groups of ≥ 2
        .where(col("n_members") > 1)
        .orderBy("component")),

    // xxhash64 itself is not reproducible in DuckDB SQL, but the
    // fingerprint's CONTRACT is: equal normalized token streams ⟺ equal
    // fingerprints. The corpus has no full-text dups, so each doc is unioned
    // with a whitespace-perturbed clone (negative id -(doc_id+1), so no
    // collision with real ids at any scale; ASCII-only edits, so both
    // engines normalize identically) — the fingerprint must collapse
    // every clone pair into one group while distinct docs stay distinct,
    // and the oracle rebuilds the same groups from the normalized text
    "d_fingerprint" -> ((s, d) => {
      val base = docs(s, d).select(col("doc_id"), col("text"))
      val variant = base.select((-col("doc_id") - 1L).as("doc_id"),
        concat(lit("  "), regexp_replace(col("text"), " ", "\t  "), lit("\n"))
          .as("text"))
      val fp = base.unionByName(variant)
        .select(col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp"))
      val g = fp.groupBy("fp")
        .agg(min("doc_id").as("group_min_id"), count(lit(1)).as("group_size"))
      fp.join(g, "fp")
        .select("doc_id", "group_min_id", "group_size")
        .orderBy("doc_id")
    }),

    // n-gram Jaccard IS SQL-expressible (unlike the hash-signature families):
    // the oracle rebuilds the inverted index with the same [2, maxDocFreq]
    // bucket bound, counts intersections over kept shingles only, but sizes
    // the union over the FULL shingle sets — exactly ngramJaccardPairs's
    // approximation contract. maxDocFreq=50 prunes shingles shared by >50
    // docs before the self-join (this corpus has a ~40-word vocabulary, so
    // common trigrams would otherwise fan out to ~100M candidate pairs)
    "d_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardPairs(docs(s, d), "doc_id", "text", shingleN = 3,
          threshold = 0.12, maxDocFreq = 50)
        .orderBy("id_a", "id_b")),

    // Fixture-split oracles for the hash-signature dedup families (the r12
    // no_oracle-tail task): DuckDB cannot compute the SIGNATURES (native
    // xxhash minhash / simhash / murmur2-derived hyperplane kernels — each
    // golden-vector spec-pinned), so each entry persists the Spark-computed
    // signature table as a parquet fixture at a STATIC path and recomputes
    // the PAIR LEG — banding, probe expansion, agreement estimate,
    // threshold, cross-band dedup — from that fixture in BOTH engines (the
    // oracle reads it back with read_parquet; the driver always runs the
    // Spark entry before its oracle, so the fixture matches the sf dir).
    "d_minhash_band_pairs" -> ((s, d) => {
      val key = contentKey(s"$d/documents.parquet")
      val fx = fixture(s, "minhash_sigs",
        Dedup.minhashSignatures(docs(s, d), "doc_id", "text", shingleN = 3,
          k = 64), key)
      Dedup.minhashPairsFromSigs(readFixture(s, fx), k = 64, bands = 16,
          threshold = 0.2)
        .withColumn("sf_key", lit(key))
        .orderBy("id_a", "id_b")
    }),

    "d_simhash_band_pairs" -> ((s, d) => {
      val key = contentKey(s"$d/documents.parquet")
      val fx = fixture(s, "simhash_sigs",
        Dedup.simhashSignatures(docs(s, d), "doc_id", "text"), key)
      Dedup.hammingPairs(readFixture(s, fx), maxHamming = 3)
        .withColumn("sf_key", lit(key))
        .orderBy("id_a", "id_b")
    }),

    // the incremental (cross-corpus) minhash pair leg over TWO persisted
    // signature fixtures — the batch-vs-history shape where persisting
    // signatures is the whole point (the historical text is never re-read);
    // no id ordering, only batch×corpus collisions survive
    "d_incremental_band_pairs" -> ((s, d) => {
      val dd = docs(s, d)
      val key = contentKey(s"$d/documents.parquet")
      val bs = fixture(s, "minhash_batch_sigs",
        Dedup.minhashSignatures(dd.filter(col("doc_id") % 2 === 1),
          "doc_id", "text", shingleN = 3, k = 64), key)
      val cs = fixture(s, "minhash_corpus_sigs",
        Dedup.minhashSignatures(dd.filter(col("doc_id") % 2 === 0),
          "doc_id", "text", shingleN = 3, k = 64), key)
      Dedup.minhashIncrementalPairs(readFixture(s, bs), readFixture(s, cs),
          k = 64, bands = 16, threshold = 0.2)
        .withColumn("sf_key", lit(key))
        .orderBy("batch_id", "corpus_id")
    }),

    // the IVF serving leg, fixture-split: the k-means FIT is iterative (no
    // SQL form), but everything a SERVE does over the persisted layout is
    // relational — probe-list selection, candidate pruning, exact scoring,
    // ranking. Centroids and the query enter the fixtures MILLI-QUANTIZED
    // to BIGINT (rounded once, in Spark), so the probe's squared-distance
    // ordering is exact integer arithmetic in both engines — no cross-
    // engine float-sum-order hazard in WHICH lists get probed; scoring
    // over the probed candidates uses the same rounded-cosine fragment as
    // a_ann_topk. Same layout params as a_ann_ivf (nLists=16, nProbe=6),
    // which keeps the recall audit.
    "a_ann_ivf_probe" -> ((s, d) => {
      import s.implicits._
      val path = ensureIvf(s, d)
      val model = Ann.loadIvfModel(s, path)
      val e = emb(s, d)
      val key = contentKey(s"$d/embeddings.parquet")
      val fxC = fixture(s, "ivf_centroids_milli",
        model.centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
          .toSeq.toDF("list", "cvec")
          .select(col("list"),
            transform(col("cvec"), x => round(x * 1000).cast("long"))
              .as("cmilli")), key)
      val fxQ = fixture(s, "ivf_query_milli",
        e.filter(col("vec_id") === 0)
          .select(posexplode(transform(
            col("embedding").cast("array<double>"),
            x => round(x * 1000).cast("long"))).as(Seq("j", "qm"))), key)
      val fxA = fixture(s, "ivf_assign",
        s.read.parquet(path).select(col("vec_id").as("id"), col("list")),
        key)
      // probe over the FIXTURE integers (driver-side: ≤ nLists rows)
      val qmArr = s.read.parquet(fxQ).orderBy("j").collect()
        .map(_.getAs[Long]("qm"))
      val lists = s.read.parquet(fxC).select("list", "cmilli").collect()
        .map(r => (r.getInt(0), r.getSeq[Long](1)))
        .map { case (l, c) =>
          (c.zip(qmArr).map { case (a, b) => val t = a - b; t * t }.sum, l)
        }
        .sorted.take(6).map(_._2)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0)
      e.filter(col("vec_id") =!= 0)
        .select(col("vec_id").as("id"), col("embedding").as("v"))
        .join(s.read.parquet(fxA)
          .filter(col("list").isin(lists.map(Integer.valueOf).toSeq: _*))
          .select("id"), "id")
        .select(col("id"),
          round(graft.dedup.Dedup.cosine(col("v").cast("array<double>"),
            array(q.map(lit): _*)), 6).as("cosine"))
        .orderBy(col("cosine").desc, col("id"))
        .limit(10)
        .withColumn("sf_key", lit(key))
    }),

    // the IVF-PQ/ADC serving leg, fixture-split — the flagship compressed
    // serving mode's whole relational half: integer centroid probe (as
    // a_ann_ivf_probe), then the ADC shortlist as a JOIN against the
    // persisted per-query lookup table (micro-quantized to BIGINT in Spark,
    // so the shortlist ORDERING is exact integer arithmetic in both
    // engines — the float kernel's last-ulp order can't flake the hash),
    // then the exact-cosine re-rank of the shortlist. The k-means/PQ FITS
    // stay un-oracleable (iterative); a_ann_ivfpq keeps the recall audit
    // over the same layout (nLists=16, m=8, ksub=64, nProbe=6, sl=100).
    "a_ann_ivfpq_probe" -> ((s, d) => {
      import s.implicits._
      val path = ensureIvfPq(s, d)
      val ivfModel = Ann.loadIvfModel(s, path)
      val pqModel = Ann.loadPqModel(s, path)
      val e = emb(s, d)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0)
      val key = contentKey(s"$d/embeddings.parquet")
      val fxC = fixture(s, "ivfpq_centroids_milli",
        ivfModel.centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
          .toSeq.toDF("list", "cvec")
          .select(col("list"),
            transform(col("cvec"), x => round(x * 1000).cast("long"))
              .as("cmilli")), key)
      val fxQ = fixture(s, "ivfpq_query_milli",
        e.filter(col("vec_id") === 0)
          .select(posexplode(transform(
            col("embedding").cast("array<double>"),
            x => round(x * 1000).cast("long"))).as(Seq("j", "qm"))), key)
      val fxCodes = fixture(s, "ivfpq_codes",
        s.read.parquet(path).select(col("vec_id").as("id"), col("list"),
          col("pq_code")), key)
      val fxL = fixture(s, "ivfpq_lut_micro",
        pqModel.adcTable(q).zipWithIndex.flatMap { case (cw, sub) =>
          cw.zipWithIndex.map { case (v, code) => (sub, code, v) }
        }.toSeq.toDF("sub", "code", "lut")
          .select(col("sub"), col("code"),
            round(col("lut") * 1000000).cast("long").as("lutm")), key)
      val qmArr = s.read.parquet(fxQ).orderBy("j").collect()
        .map(_.getAs[Long]("qm"))
      val lists = s.read.parquet(fxC).select("list", "cmilli").collect()
        .map(r => (r.getInt(0), r.getSeq[Long](1)))
        .map { case (l, c) =>
          (c.zip(qmArr).map { case (a, b) => val t = a - b; t * t }.sum, l)
        }
        .sorted.take(6).map(_._2)
      val short = s.read.parquet(fxCodes)
        .filter(col("list").isin(lists.map(Integer.valueOf).toSeq: _*))
        .select(col("id"), posexplode(col("pq_code")).as(Seq("sub", "code")))
        .join(s.read.parquet(fxL), Seq("sub", "code"))
        .groupBy("id").agg(sum("lutm").as("adcm"))
        .orderBy(col("adcm").desc, col("id"))
        .limit(100)
      e.filter(col("vec_id") =!= 0)
        .select(col("vec_id").as("id"), col("embedding").as("v"))
        .join(short.select("id"), "id")
        .select(col("id"),
          round(graft.dedup.Dedup.cosine(col("v").cast("array<double>"),
            array(q.map(lit): _*)), 6).as("cosine"))
        .orderBy(col("cosine").desc, col("id"))
        .limit(10)
        .withColumn("sf_key", lit(key))
    }),

    // murmur2 partition placement, fixture-split: DuckDB cannot murmur2,
    // but toPositive + modulo + the distribution rollup are relational —
    // the RAW 32-bit hashes persist as the fixture and both engines place
    // from them (q_murmur2_partition keeps the golden-vector basis)
    "q_murmur2_fixture_partition" -> ((s, d) => {
      val key = contentKey(s"$d/events.parquet")
      val fx = fixture(s, "murmur2_hashes",
        s.read.parquet(s"$d/events.parquet")
          .select(graft.functions.KFunctions.kafka_murmur2(
            encode(col("user_id").cast("string"), "UTF-8")).as("m2")), key)
      readFixture(s, fx)
        .select(pmod(col("m2").bitwiseAND(lit(0x7fffffff)), lit(12))
          .as("target_partition"))
        .groupBy("target_partition").agg(count(lit(1)).as("n"))
        .withColumn("sf_key", lit(key))
        .orderBy("target_partition")
    }),

    // the LSH-probe serving leg, fixture-split: the persisted (id, bucket)
    // table includes the query row's own signature, so the Hamming probe,
    // candidate join, exact cosine scoring and ranking are all recomputed
    // from the fixture in BOTH engines (the un-oracleable part — the
    // hyperplane signature arithmetic — stays spec-pinned; a_ann_lsh keeps
    // the recall audit over the same params)
    "a_ann_lsh_probe" -> ((s, d) => {
      val e = emb(s, d)
      val key = contentKey(s"$d/embeddings.parquet")
      val fx = fixture(s, "ann_lsh_sigs",
        Ann.withBucket(e, "embedding", dim = 64, bits = 8)
          .select(col("vec_id").as("id"), col("bucket")), key)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0)
      Ann.lshTopKFromSigs(readFixture(s, fx),
        e.filter(col("vec_id") =!= 0), "vec_id", "embedding", q,
        queryId = 0L, k = 10, probeHamming = 3)
        .withColumn("sf_key", lit(key))
    }),

    "d_embedding_band_pairs" -> ((s, d) => {
      val e = emb(s, d)
      val n = e.count()
      // modulus-bounded corpus (≤ ~20k vectors): unlike d_embedding_dups
      // this entry has no quantized threshold to shrink candidates before
      // the distinct, so the band join is held at audit scale at every
      // rung; bits=12 keeps bucket occupancy low at that size, and two
      // flip bits exercise the one-directional probe asymmetry
      val step = math.max(1L, (n + 19999L) / 20000L)
      val key = contentKey(s"$d/embeddings.parquet")
      val fx = fixture(s, "emb_band_sigs",
        Dedup.embeddingBandSignatures(e.filter(col("vec_id") % step === 0),
          "vec_id", "embedding", dim = 64, bits = 12, tables = 4,
          flipBits = Seq(0, 1)), key)
      Dedup.bandPairsFromSigs(readFixture(s, fx))
        .withColumn("sf_key", lit(key))
        .orderBy("id_a", "id_b")
    }),

    // the SemDeDup grouping leg, fixture-split: the k-means FIT is
    // iterative (no SQL form — d_semantic_dedup keeps the recall audit),
    // but everything AFTER the fit is relational — within-cluster pair
    // search, threshold, connected-component closure, centroid-similarity
    // exemplar selection. The (id, unit, list) assignment persists
    // MICRO-quantized to BIGINT (units and centroids both ×1e6, rounded
    // once in Spark), so the pair metric (integer dot, ~1e12 × cosine),
    // the 0.3 threshold (3e11 integer units) and the min-centroid-dot
    // exemplar are exact integer arithmetic in BOTH engines; within one
    // component every member shares one cluster (pairs join on list), so
    // ordering by the raw centroid dot equals ordering by centroid cosine
    "d_semantic_groups" -> ((s, d) => {
      import s.implicits._
      val e = emb(s, d)
      val n = e.count()
      // same modulus bound as d_embedding_band_pairs: the fixture pair
      // join has no quantized prefilter, so hold it at audit scale
      val step = math.max(1L, (n + 19999L) / 20000L)
      val key = contentKey(s"$d/embeddings.parquet")
      val (assigned, model) = graft.dedup.SemDedup.fitAssign(
        e.filter(col("vec_id") % step === 0), "vec_id", "embedding",
        nClusters = 8, seed = 42L, targetCellSize = 1024,
        maxClusters = 512, maxTrainRows = 200000, maxIter = 10,
        knownCount = None)
      val fxA = fixture(s, "sem_assign",
        assigned.select(col("id"), col("list"),
          transform(col("unit"), x => round(x * 1000000).cast("long"))
            .as("umicro")), key)
      val fxC = fixture(s, "sem_centroids",
        model.centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
          .toSeq.toDF("list", "cvec")
          .select(col("list"),
            transform(col("cvec"), x => round(x * 1000000).cast("long"))
              .as("cmicro")), key)
      // native codegen kernel, not aggregate(zip_with(...)): HOFs never
      // reach doGenCode and this dot runs once per within-cluster CANDIDATE
      // pair (the O(|c|²) leg) — value-identical exact long arithmetic
      def dotM(a: Column, b: Column): Column =
        graft.functions.KFunctions.array_dot_long(a, b)
      val f = readFixture(s, fxA)
      val pairs = f.select(col("list"), col("id").as("id_a"),
          col("umicro").as("ua"))
        .join(f.select(col("list"), col("id").as("id_b"),
          col("umicro").as("ub")), Seq("list"))
        .filter(col("id_a") < col("id_b"))
        .filter(dotM(col("ua"), col("ub")) >= lit(300000000000L))
        .select("id_a", "id_b")
      val members = f
        .join(graft.dedup.Clusters.connectedComponents(pairs), Seq("id"))
        .join(broadcast(readFixture(s, fxC)), Seq("list"))
        .withColumn("cos_units", dotM(col("umicro"), col("cmicro")))
        .select("id", "list", "component", "cos_units")
      val winners = members.groupBy("component")
        .agg(min(struct(col("cos_units"), col("id"))).as("w"))
        .select(col("component"), col("w.id").as("keep_id"))
      members.join(winners, Seq("component"))
        .withColumn("keep", col("id") === col("keep_id"))
        .select(col("id"), col("list"), col("component"), col("cos_units"),
          col("keep"))
        .withColumn("sf_key", lit(key))
        .orderBy("id")
    }),

    // the quality-classifier SCORING leg, fixture-split: the LR fit is
    // iterative (no SQL form — d_quality_classifier keeps the holdout
    // audit), but scoring is a sparse linear form — persist the held-out
    // docs' hashed features and the trained weights NANO-quantized to
    // BIGINT (the intercept rides as feature -1 with tf 1 on every doc, so
    // a zero-gram doc still scores), and both engines recompute the margin
    // as an exact integer sum and the >= 0 threshold decision
    "d_quality_score_leg" -> ((s, d) => {
      import s.implicits._
      val all = docs(s, d)
      val labeled = all.join(
        graft.text.CorpusClean.filterCorpus(all)
          .select(col("doc_id"), col("keep").cast("int").as("label")),
        "doc_id")
      // dim 2^12 (not the audit entry's 2^15): the feature fixture is a
      // dense-posexplode of the held split, and the scoring-leg semantics
      // don't depend on the hash width
      val dim = 1 << 12
      val model = graft.text.QualityClassifier.train(
        labeled.filter(col("doc_id") % 20 =!= 7), "label", dim = dim)
      val held = labeled.filter(col("doc_id") % 20 === 7)
      val key = contentKey(s"$d/documents.parquet")
      val wRows = model.lr.coefficients.toArray.toSeq.zipWithIndex
        .collect { case (c, i) if c != 0.0 =>
          (i.toLong, math.rint(c * 1e9).toLong) } :+
        ((-1L, math.rint(model.lr.intercept * 1e9).toLong))
      val fxW = fixture(s, "qc_weights", wRows.toDF("idx", "coefn"), key)
      val fxF = fixture(s, "qc_feats",
        graft.text.QualityClassifier.hashedFeatures(held, "doc_id", "text",
            dim = dim)
          .unionByName(held.select(col("doc_id"), lit(-1L).as("idx"),
            lit(1L).as("tf"))), key)
      readFixture(s, fxF).join(readFixture(s, fxW), "idx")
        .groupBy("doc_id")
        .agg(sum(col("tf") * col("coefn")).as("margin_nano"))
        .withColumn("pred", (col("margin_nano") >= 0L).cast("long"))
        .withColumn("sf_key", lit(key))
        .orderBy("doc_id")
    }),

    // candidate-confirm composition: a LOOSE jaccard candidate pass (0.05 —
    // deliberately below the 0.12 the pure entry uses, so marginal pairs
    // exist) verified by thresholded prefix edit distance. At sf0.01 the
    // confirm genuinely splits the candidates (25 pass / 4 fail) — the hash
    // pins both the surviving set and each pair's exact distance
    "d_edit_confirm" -> ((s, d) => {
      val all = docs(s, d)
      Dedup.confirmPairsEditDistance(
          Dedup.ngramJaccardPairs(all, "doc_id", "text", shingleN = 3,
            threshold = 0.05, maxDocFreq = 25),
          all, maxDist = 30, prefixLen = 120)
        .select("id_a", "id_b", "jaccard", "edit_dist")
        .orderBy("id_a", "id_b")
    }),

    // unicode normalization: plant decomposed sequences (e + U+0301, A +
    // U+030A) and a C0 control char per doc; the cleaner must strip the
    // control char and canonically compose — DuckDB's nfc_normalize is the
    // oracle for the JDK Normalizer, and the per-doc shrink count pins both
    "d_normalize" -> ((s, d) => {
      val planted = concat(col("text"), lit(" cafe\u0301 A\u0007\u030A end"))
      docs(s, d).select(col("doc_id"),
          graft.text.CorpusClean.normalizeText(planted).as("text_norm"),
          (length(planted) -
            length(graft.text.CorpusClean.normalizeText(planted)))
            .cast("long").as("shrunk"))
        .orderBy("doc_id")
    }),

    // PII redaction: the corpus has no PII-shaped text, so the query plants
    // deterministic email/URL/digit-run spans per doc (same concat on both
    // sides) and the redactor must find exactly those — placeholder output,
    // per-kind counts, and untouched surrounding text all hash-checked
    "d_redact" -> ((s, d) =>
      graft.text.CorpusClean.redactPii(
          docs(s, d).select(col("doc_id"),
            concat(col("text"), lit(" contact user"), col("doc_id"),
              lit("@mail.example.org or http://doc"), col("doc_id"),
              lit(".example/path?ref=1 call 555-101-"), col("doc_id")).as("text")))
        .orderBy("doc_id")),

    // shard packing: greedy-contiguous token-budget assignment per source —
    // a pure prefix sum, so the rollup pins every doc's shard exactly
    "d_pack_shards" -> ((s, d) =>
      graft.text.CorpusClean.packShards(docs(s, d), tokensPerShard = 500)
        .groupBy("source", "shard_id")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("shard_tokens"))
        .orderBy("source", "shard_id")),

    // sequence packing: GPT-style concat-and-chunk window map per source —
    // per-doc (start_offset, seq_first, seq_last) over 512-token windows,
    // all prefix-sum arithmetic, every cell hash-checked
    "d_pack_sequences" -> ((s, d) =>
      graft.text.CorpusClean.packSequences(docs(s, d), tokensPerSeq = 512)
        .orderBy("source", "doc_id")),

    // overlapping-window chunking: retrieval/embedding preprocessing —
    // 200-char windows, 50-char overlap, closed-form starts; chunk TEXT is
    // in the hash, so substring addressing is checked character-exact
    "d_chunk_windows" -> ((s, d) =>
      graft.text.CorpusClean.chunkDocuments(docs(s, d),
          chunkChars = 200, overlapChars = 50)
        .orderBy("doc_id", "chunk_idx")),

    // token-addressed chunking: 32-token windows, 8-token overlap — the
    // budget embedding models actually enforce; chunk text (space-rejoined
    // token slice) in the hash checks the slicing token-exact
    "d_chunk_tokens" -> ((s, d) =>
      graft.text.CorpusClean.chunkByTokens(docs(s, d),
          chunkTokens = 32, overlapTokens = 8)
        .orderBy("doc_id", "chunk_idx")),

    // composite keep/drop filter with first-failing-rule reasons (too_short →
    // dup_lines → repetitive_ngrams) — thresholds chosen to split this corpus
    "d_corpus_filter" -> ((s, d) =>
      graft.text.CorpusClean.filterCorpus(docs(s, d),
          graft.text.CorpusClean.FilterConfig(
            minTokens = Some(30L), maxTokens = None, minStopwordRatio = None,
            maxDupLineCharFrac = Some(0.2), maxTop2gramCharFrac = Some(0.15),
            keepLangs = None))
        .orderBy("doc_id")),

    // C4-style global line dedup: first corpus-wide occurrence of every
    // distinct line wins; docs reassembled in original order. Exact string
    // semantics — fully SQL-expressible, hash-checked including text_clean
    "d_line_dedup" -> ((s, d) =>
      graft.text.CorpusClean.globalLineDedup(docs(s, d)).orderBy("doc_id")),

    // dedup clustering: connected components (large-star/small-star) over
    // the n-gram Jaccard pair list — the transitive closure that turns pairs
    // into keep-one-per-group decisions. The oracle recomputes the same
    // closure with a recursive CTE over the same SQL-expressed pair list.
    "d_dedup_clusters" -> ((s, d) => {
      val pairs = Dedup.ngramJaccardPairs(docs(s, d), "doc_id", "text",
        shingleN = 3, threshold = 0.12, maxDocFreq = 50)
      graft.dedup.Clusters.connectedComponents(pairs)
        .groupBy("component")
        .agg(count(lit(1)).as("n_members"), max("id").as("max_member"))
        .orderBy("component")
    }),

    // canonical-survivor selection: every document labeled with its dup-group
    // component (min reachable id; own id for singletons) and whether it is
    // the group's canonical keeper — the decision surface dropDuplicateGroups
    // acts on. Same pair list + closure as d_dedup_clusters; the oracle
    // left-joins the recursive-CTE closure back onto the corpus
    "d_dedup_canonical" -> ((s, d) => {
      val pairs = Dedup.ngramJaccardPairs(docs(s, d), "doc_id", "text",
        shingleN = 3, threshold = 0.12, maxDocFreq = 50)
      graft.dedup.Clusters.assignComponents(docs(s, d), "doc_id", pairs)
        .select(col("doc_id"), col("component"),
          (col("doc_id") === col("component")).as("is_canonical"))
        .orderBy("doc_id")
    }),

    // quality-priority canonical (FineWeb-style): same closure as
    // d_dedup_canonical, but the survivor per duplicate group is the BEST
    // doc by n_chars (desc, id tiebreak) instead of the arbitrary min id —
    // winner ids, provenance (kept_id on every dropped member), and the
    // is_kept flags are all in the hash
    "d_dedup_keep_best" -> ((s, d) => {
      val pairs = Dedup.ngramJaccardPairs(docs(s, d), "doc_id", "text",
        shingleN = 3, threshold = 0.12, maxDocFreq = 50)
      graft.dedup.Clusters.keepBestPerGroup(docs(s, d), "doc_id", pairs,
          qualityCol = "n_chars")
        .select("doc_id", "component", "kept_id", "is_kept")
        .orderBy("doc_id")
    }),

    // corpus vocabulary: the explode→aggregate word-count path every
    // tokenizer-training pipeline runs; map-side partial agg collapses
    // repeated words before the shuffle, top-k is a k-row final sort
    "d_vocab" -> ((s, d) => docs(s, d)
      .select(explode(TextFunctions.tokens(lower(col("text")))).as("word"),
        col("doc_id"))
      .groupBy("word")
      .agg(count(lit(1)).as("n"), countDistinct("doc_id").as("n_docs"))
      .orderBy(col("n").desc, col("word"))
      .limit(50)),

    // deterministic split assignment: md5-bucket in [0, 65536) → first
    // cumulative cut wins (train 0.8 / val 0.1 / test 0.1). The bucket is in
    // the output so the oracle pins the hash fold itself, not just the CASE
    "d_split_assign" -> ((s, d) =>
      graft.text.Sampling.assignSplits(docs(s, d),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "split")
        .select(col("doc_id"),
          graft.text.Sampling.hashBucket16(col("doc_id"), "split").as("bucket"),
          col("split"))
        .orderBy("doc_id")),

    // deterministic weighted mixing: src0 upsampled 2.5x, src1 kept at 0.25,
    // everything else 1.0 — every copy row is hash-derived, so the oracle
    // reproduces the exact multiset
    "d_mix_sample" -> ((s, d) =>
      graft.text.Sampling.sampleWeighted(docs(s, d),
          Map("src0" -> 2.5, "src1" -> 0.25), defaultWeight = 1.0, salt = "mix")
        .select("doc_id", "source", "copy")
        .orderBy("doc_id", "copy")),

    // temperature-based source mixing at alpha=0.5: per-source weights are
    // DERIVED (w_s = N*n_s^(a-1)/sum n_k^a) rather than given, then the
    // hash-deterministic copy mechanics reused — the oracle recomputes the
    // whole weight arithmetic from counts, so the hash pins derivation AND
    // sampling
    "d_temperature_mix" -> ((s, d) =>
      graft.text.Sampling.temperatureMix(docs(s, d), alpha = 0.5)
        .select("doc_id", "source", "copy")
        .orderBy("doc_id", "copy")),

    // deterministic training-order shuffle: (shard, pos) coordinates from
    // md5 order — the oracle reproduces bucket fold, shard mod, and the
    // within-shard rank, so the whole permutation is hash-pinned
    "d_shuffle_order" -> ((s, d) =>
      graft.text.Sampling.shuffleOrder(docs(s, d), nShards = 8)
        .select("doc_id", "shard", "pos")
        .orderBy("shard", "pos")),

    // deterministic stratified take: exactly 20 docs per language, chosen by
    // hash order — same 20 on any cluster, any partitioning, any run
    "d_stratified" -> ((s, d) =>
      graft.text.Sampling.stratifiedTake(docs(s, d), k = 20,
          strataCols = Seq("lang"), salt = "strat")
        .select("lang", "doc_id")
        .orderBy("lang", "doc_id")),

    // benchmark decontamination: docs sharing a 13-gram with the held-out
    // benchmark subset (doc_id % 20 == 7) — the corpus's near-dup families
    // straddle the subset boundary, so real hits exist at every sf
    "d_decontaminate" -> ((s, d) => {
      val all = docs(s, d)
      graft.text.Sampling.decontaminate(
          all.filter(col("doc_id") % 20 =!= 7),
          all.filter(col("doc_id") % 20 === 7), shingleN = 13)
        .orderBy("doc_id")
    }),

    // contamination PROVENANCE: per (corpus doc, benchmark doc) pair, the
    // count of distinct shared 13-grams — the "which benchmark item
    // leaked" report; the two-stage shape (flag first, gram join at
    // contamination scale) is hash-checked against a straight inverted
    // join in SQL
    "d_decontaminate_report" -> ((s, d) => {
      val all = docs(s, d)
      graft.text.Sampling.decontaminateReport(
          all.filter(col("doc_id") % 20 =!= 7),
          all.filter(col("doc_id") % 20 === 7), shingleN = 13)
        .orderBy("doc_id", "benchmark_id")
    }),

    // the SAME decontamination through the bloom-pruned scale path (the
    // 100 TB shape: map-side bloom prune → exact confirm join). The bloom
    // only prunes — the output is exact, so this entry shares the exact
    // oracle with d_decontaminate, hash-checking the whole prune+confirm
    // composition
    "d_decontaminate_bloom" -> ((s, d) => {
      val all = docs(s, d)
      graft.text.Sampling.decontaminateBloom(
          all.filter(col("doc_id") % 20 =!= 7),
          all.filter(col("doc_id") % 20 === 7), shingleN = 13)
        .orderBy("doc_id")
    }),

    // THE capstone composition: the full training-data prep pipeline, every
    // stage one of the library operators above, end to end — normalize →
    // quality filter → exact dedup (min-id winner) → benchmark
    // decontamination → deterministic split → per-split rollup. The oracle
    // mirrors every stage in SQL, so a semantic drift ANYWHERE in the chain
    // flips the hash. All stages are narrow maps or broadcast joins except
    // the dedup groupBy and the final rollup.
    "d_corpus_pipeline" -> ((s, d) => {
      // staging mode for the capstone's one materialization point: default =
      // localCheckpoint (executor blocks, fastest); GRAFT_PIPELINE_STAGING=
      // <dir> stages the normalized corpus as write-once parquet under a
      // tracked temp subdir instead — the durable/restartable path, and what
      // the sf1+ ladder runs so corpus-sized blocks never sit on the shared
      // heap across the battery (SCALING.md). Same rows either way
      // (spec-pinned in SamplingSpec).
      val staging = sys.env.get("GRAFT_PIPELINE_STAGING")
        .map(base => graft.util.TempDirs.createUnder(base, "graft-stage-"))
      graft.text.CorpusPipeline.summary(docs(s, d), staging = staging)
    }),

    // ANN over the int8-quantized corpus: 4x less scan IO, per-vector scale,
    // integer dots — the rounding (half away from zero) and every division
    // reproduce exactly in SQL, so the whole quantize→rank path is oracled
    "a_ann_quantized" -> ((s, d) => {
      val q = emb(s, d).filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0)
      Ann.bruteForceTopKQuantized(
        Ann.quantizeInt8(emb(s, d).filter(col("vec_id") =!= 0), "embedding"),
        "vec_id", q, 10)
    }),

    // BPE vocabulary training, round 1: the weighted adjacent-character pair
    // histogram the first merge decision is made from. Corpus → word
    // histogram is the ONE corpus pass; pairs explode over the distinct-word
    // table only. Top-50 under a total order.
    "d_bpe_pairs" -> ((s, d) =>
      graft.text.BpeTrainer.pairCounts(graft.text.BpeTrainer.initialSymbols(
          graft.text.BpeTrainer.wordHistogram(docs(s, d), "text")))
        .orderBy(col("pair_freq").desc, col("a"), col("b"))
        .limit(50)),

    // unigram-LM tokenizer seeding: substring-piece counts over the word
    // histogram — the integer-exact stage of Kudo-2018 training, fully
    // SQL-expressible (nested lateral enumeration), hash-checked
    "d_unigram_seeds" -> ((s, d) =>
      graft.text.UnigramTrainer.seedCounts(
          graft.text.BpeTrainer.wordHistogram(docs(s, d), "text"),
          maxPieceLen = 8)
        .orderBy(col("count").desc, col("piece"))
        .limit(50)),

    // unigram-LM hard-EM training end to end (rows + piece-for-piece
    // equality vs an independent reference implementation in
    // UnigramTrainerSpec — EM/Viterbi has no faithful DuckDB form, the
    // same basis as d_bpe_train)
    "d_unigram_train" -> ((s, d) => {
      import s.implicits._
      graft.text.UnigramTrainer.train(docs(s, d), "text",
          vocabSize = 300, seedSize = 1500, maxPieceLen = 6)
        .pieces.toDF("piece", "count")
    }),

    // substring-level duplication surface: per-doc fraction of tokens
    // covered by 13-token windows shared with >= 2 distinct docs (the
    // span-granular Lee-et-al. signal; the synthetic near-dup families
    // guarantee real covered spans at every sf). Interval-union coverage —
    // overlapping windows never double-count — is pinned by the oracle
    "d_dup_spans" -> ((s, d) =>
      Dedup.dupSpans(docs(s, d), windowN = 13).orderBy("doc_id")),

    // the ACTIONABLE span dedup: duplicated 13-token windows trimmed out of
    // the text, one canonical (min doc_id, min pos) occurrence kept
    // corpus-wide. Hash covers the rebuilt text itself, so canonical
    // selection, coverage, and token-sequence reconstruction are all pinned
    "d_trim_dup_spans" -> ((s, d) =>
      Dedup.trimDupSpans(docs(s, d), windowN = 13)
        .orderBy("doc_id")),

    // CCNet-style LM quality scoring: trigram stupid-backoff model trained
    // on the in-domain 19/20 slice, every doc scored by avg per-token log10
    // probability. The held-out 1/20 exercises the OOV + backoff paths, and
    // the integer hit/backoff/oov counters pin the model lookup surface
    // exactly — the oracle rebuilds counts, backoff chain, and rounding in
    // SQL, so the hash covers train AND score.
    "d_lm_score" -> ((s, d) => {
      val all = docs(s, d)
      // cache(): score() consumes the lazy count tables six times (gate
      // count + five join sides) — uncached that re-runs training per use
      val model = graft.text.LmScore.train(all.filter(col("doc_id") % 20 =!= 7)).cache()
      graft.text.LmScore.score(all, model).orderBy("doc_id")
    }),

    // SECOND capstone, over the round-8 curation family: substring-level
    // span trim → trigram-LM scoring (trained on the trimmed corpus) →
    // corpus-relative log-prob cut → temperature mixing → per-source rollup. One
    // DuckDB oracle mirrors all five stages, so a semantic drift anywhere
    // in the new-family chain flips the hash (the round-6 capstone plays
    // the same role for the cleaning family)
    "d_curation_pipeline" -> ((s, d) => {
      val all = docs(s, d)
      // the trimmed corpus feeds SIX consumers (three model count passes,
      // the gate count, scoring, and N) — materialize it once, with the
      // same staging choice as the first capstone (localCheckpoint default,
      // durable parquet staging under GRAFT_PIPELINE_STAGING)
      val staging = sys.env.get("GRAFT_PIPELINE_STAGING")
        .map(base => graft.util.TempDirs.createUnder(base, "graft-cur-"))
      val trimmed = graft.text.CorpusPipeline.materializeStage(
        Dedup.trimDupSpans(all, windowN = 13)
          .where(col("text").isNotNull && length(col("text")) > 0)
          .select("doc_id", "text"),
        staging, "trimmed")
      val model = graft.text.LmScore.train(trimmed).cache()
      // doc-LEVEL rows (id + score), materialized once: the mean and the
      // filter both consume it, and re-running the position-scale scoring
      // joins for a scalar would double the pipeline's real cost
      val scored = graft.text.LmScore.score(trimmed, model).localCheckpoint(true)
      // corpus-RELATIVE cut (keep the above-mean head): an absolute
      // log-prob threshold is scale-brittle — vocabulary growth shifts the
      // whole distribution down as the corpus grows. Rounded to 3 decimals
      // so the engine-vs-oracle comparison boundary sits far above fp
      // summation noise — VIA SPARK'S round, the same half-up rule every
      // other hash-compared rounding in this file uses (math.rint is
      // half-to-even and could disagree with the oracle's round() at an
      // exact half-millis mean)
      // decimal sums, not double avg: the 5dp scores are exact in
      // DECIMAL(15,5), so the mean is partial-order-independent — a double
      // avg's last ulp can flip the rounded digit between runs (observed on
      // d_ccnet_buckets before the same fix)
      val cut = scored.agg(round(
        sum(col("avg_logprob").cast("decimal(15,5)")).cast("double") /
          count(lit(1)), 3)).head().getDouble(0)
      val kept = scored
        .where(col("avg_logprob") >= cut)
        .join(all.select("doc_id", "source"), "doc_id")
      graft.text.Sampling.temperatureMix(kept, alpha = 0.5, salt = "cur")
        .groupBy("source")
        .agg(countDistinct("doc_id").as("n_docs"),
          count(lit(1)).as("n_copies"),
          round(sum(col("avg_logprob").cast("decimal(15,5)")).cast("double") /
            count(lit(1)), 5).as("avg_lp"))
        .orderBy("source")
    }),

    // sampling: DSIR importance resampling (Xie et al. 2023) — fit hashed
    // n-gram bucket log-ratios on a target sample vs the raw corpus, score
    // every raw doc, keep the deterministic Gumbel top-k. Full pipeline
    // under one oracle: bucket fold, smoothing, log-sum, Gumbel key and the
    // selected SET all hash-checked. Target = doc_id % 7 == 1 (a stand-in
    // "high-quality reference corpus"), raw = everything else.
    "d_dsir_select" -> ((s, d) => {
      val all = docs(s, d)
      val target = all.filter(col("doc_id") % 7 === 1)
      val raw = all.filter(col("doc_id") % 7 =!= 1)
      val ratios = graft.text.Dsir.fitLogRatios(target, raw, nBuckets = 4096)
      val scored = graft.text.Dsir.scoreLogWeights(raw, ratios, nBuckets = 4096)
      graft.text.Dsir.resampleTopK(scored, 40)
        .select(col("doc_id"), round(col("log_weight"), 5).as("log_weight"),
          col("gumbel_key"))
    }),

    // dedup analytics: cross-source duplicate overlap matrix (which sources
    // copy from each other) on the battery's 40-char-prefix digest — the
    // same digest d_exact_dedup groups on, so the two entries agree on what
    // "a duplicate" is at this sf
    "d_source_overlap" -> ((s, d) => Dedup.crossGroupOverlap(
        docs(s, d), "source",
        key = Some(md5(lower(substring(col("text"), 1, 40)))))
      .orderBy("group_a", "group_b")),

    // sampling gate: train/test leakage — exact-dup groups straddling the
    // deterministic md5 splits; composition of assignSplits (same salt and
    // cuts as d_split_assign) with the overlap report
    "d_split_leakage" -> ((s, d) => Dedup.crossGroupOverlap(
        graft.text.Sampling.assignSplits(docs(s, d),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)),
        "split",
        key = Some(md5(lower(substring(col("text"), 1, 40)))))
      .orderBy("group_a", "group_b")),

    // ANN: exact centroid distance ranking per label (IVF-style coarse stats)
    "a_label_centroid_norm" -> ((s, d) => emb(s, d)
      .select(col("label"),
        Dedup.cosine(col("embedding").cast("array<double>"),
          col("embedding").cast("array<double>")).as("self_cos"),
        sqrt(graft.functions.KFunctions.array_dot(
          col("embedding").cast("array<double>"),
          col("embedding").cast("array<double>"))).as("norm"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"), round(avg("norm"), 6).as("avg_norm"),
        round(min("self_cos"), 6).as("min_self_cos"))
      .orderBy("label")),

    // data layout: z-order (Morton) bucket spans over (n_chars, doc_id%1024)
    // — the per-bucket min/max report is exactly what parquet file-level
    // pruning sees after ZOrder.writeZOrdered: every bucket holds a TIGHT
    // span on BOTH dimensions, so a selective predicate on either one skips
    // most buckets. The z-value is a flat shift/and/multiply expression
    // (whole-stage codegen, no UDF) and the oracle reproduces the same
    // 20-term interleave in SQL bit arithmetic.
    "d_zorder_layout" -> ((s, d) => graft.operators.ZOrder.bucketSpans(
        docs(s, d).withColumn("id_mod", col("doc_id") % 1024),
        bits = 10, bucketBits = 6,
        ("chars", col("n_chars")), ("id_mod", col("id_mod")))
      .orderBy("bucket")),

    // interchange: JSONL round-trip — the corpus out as compressed
    // JSON-lines shards partitioned by source (directory-pruned for every downstream
    // reader), back in through the explicit-schema PERMISSIVE reader, and
    // proven lossless per source against the parquet original (the corrupt
    // counter is part of the hashed result: a single mangled row flips it)
    "d_jsonl_roundtrip" -> ((s, d) => {
      val tmp = graft.util.TempDirs.create("graft-jsonl")
      val src = docs(s, d)
      graft.sources.CorpusIO.writeJsonl(src, tmp, partitionBy = Seq("source"))
      val back = graft.sources.CorpusIO.readJsonl(s, tmp,
        org.apache.spark.sql.types.StructType(
          src.schema.filterNot(_.name == "source")))
      back.groupBy("source").agg(
          count(lit(1)).as("n"), sum("n_chars").as("total_chars"),
          min("doc_id").as("min_id"), max("doc_id").as("max_id"),
          sum(when(col("_corrupt_record").isNotNull, 1L).otherwise(0L))
            .as("n_corrupt"))
        .orderBy("source")
    }),

    // WARC interchange round-trip: corpus → resource records (gzipped,
    // member-per-partition archives) → binaryFile parse → rollup equal to
    // the source-of-truth rollup straight off documents — the crawl-format
    // analog of d_jsonl_roundtrip (parse, HTTP/record framing, gzip, and
    // provenance counting all inside the hash)
    "d_warc_roundtrip" -> ((s, d) => {
      val tmp = graft.util.TempDirs.create("graft-warc")
      val src = docs(s, d).select(
        concat(lit("http://ex.com/doc/"), col("doc_id")).as("url"),
        encode(coalesce(col("text"), lit("")), "UTF-8").as("content"))
      graft.sources.WarcIO.writeWarc(src, tmp, "url", "content", gzip = true)
      graft.sources.WarcIO.readWarc(s, tmp)
        .groupBy()
        .agg(count(lit(1)).as("n_records"),
          countDistinct("target_uri").as("n_urls"),
          sum(length(decode(col("content"), "UTF-8"))).as("total_chars"),
          sum(when(col("corrupt"), 1L).otherwise(0L)).as("n_corrupt"))
    }),

    // profiling: the per-source corpus report (counts, duplicate surface,
    // exact length percentiles, token volume) — exact form as the oracle
    // gate; Profile.approx is the sketch-based 100 TB form, spec-pinned
    // within tolerance of this one (ProfileSpec)
    "d_corpus_profile" -> ((s, d) =>
      graft.text.Profile.exact(docs(s, d)).orderBy("source")),

    // profiling: the datasheet's "top words" panel — per-source top-5 terms
    // by frequency (lexicographic tiebreak). Word-count partial agg + map-
    // side WindowGroupLimit: state is O(sources × 5), never the vocabulary
    "d_top_terms" -> ((s, d) =>
      graft.text.Profile.topTerms(docs(s, d), k = 5)
        .orderBy("source", "rank")),

    // curation keys: URL-level dedup — one survivor (longest, id tiebreak)
    // per canonical URL. The synthesized URLs are deliberately messy (mixed
    // case, default port, tracking params, trailing slash, fragment); the
    // %3 cosmetic variants collapse under normalizeUrl (slash-trim and
    // fragment-drop meet at the bare path), so the entry hash-checks the
    // normalizer doing real work, not string equality. The oracle re-derives
    // the canonical form literally.
    "d_url_dedup" -> ((s, d) =>
      graft.text.CorpusClean.urlDedup(docs(s, d).withColumn("url", messyUrl), "url")
        .select("url_norm", "doc_id", "n_chars")
        .orderBy("url_norm")),

    // curation quota: per-domain cap (C4/RefinedWeb anti-skew) — at most 15
    // docs per registrable domain, longest first, id tiebreak. WindowGroupLimit
    // keeps the per-partition buffer at cap rows (plan-locked in PlanSpec).
    "d_domain_cap" -> ((s, d) =>
      graft.text.CorpusClean.domainCap(docs(s, d).withColumn("url", messyUrl),
          "url", cap = 15)
        .select("domain", "doc_id", "n_chars")
        .orderBy("domain", "doc_id")),

    // curation gate: UT1/Dolma-style URL blocklist — two src domains blocked
    // by suffix (one with a MORE-specific www. subdomain entry too, so
    // longest-pattern-wins is in the hash), a non-matching decoy domain, and
    // two exact canonical URLs that hit only the %3∈{1,2} cosmetic variants
    // (the %3==0 variant keeps its ?ref param → different canonical form →
    // not blocked): kind priority, label-aligned suffix matching, and the
    // null blocked_by of every kept row are all hash-checked
    "d_url_blocklist" -> ((s, d) => {
      import s.implicits._
      val bl = Seq(
        ("domain", "src3.example.com"),
        ("domain", "www.src3.example.com"),
        ("domain", "src7.example.com"),
        ("domain", "ads.example.net"),
        ("url", "https://www.src12.example.com/en/page2"),
        ("url", "https://www.src14.example.com/en/page4")
      ).toDF("kind", "pattern")
      graft.text.CorpusClean.urlBlocklist(
          docs(s, d).withColumn("url", messyUrl), "url", bl)
        .select("doc_id", "url_norm", "blocked_kind", "blocked_by")
        .orderBy("doc_id")
    }),

    // release notes: snapshot diff — v1 drops doc_id%7==0, v2 drops %11==0
    // and edits %5==0 texts, so all four statuses occur at every sf; the
    // rollup counts per (source, status) hash-pin the digest compare and the
    // full-outer presence logic in one go
    "d_corpus_diff" -> ((s, d) => {
      val all = docs(s, d)
      val v1 = all.filter(col("doc_id") % 7 =!= 0)
      val v2 = all.filter(col("doc_id") % 11 =!= 0)
        .withColumn("text", when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      graft.text.CorpusDiff.diffReport(v1, v2)
        .orderBy("source", "status")
    }),

    // quality: CCNet-style perplexity bucketing (Wenzek et al. 2020) — score
    // every doc with the reference-slice LM (same model as d_lm_score),
    // split the corpus at tercile cuts fitted on a BOUNDED-SIZE
    // deterministic sample (doc_id % m == 0, m = ceil(n/budget) — see
    // LmScore.tercileCuts for the scale contract: the modulus grows with
    // the corpus so the fit state is budget-bounded, never corpus-sized),
    // label head/middle/tail. Both cuts come out of one window job; the
    // oracle derives the same modulus from its own count.
    "d_ccnet_buckets" -> ((s, d) => {
      val all = docs(s, d)
      // cache(): same six-consumer economics as d_lm_score — uncached, the
      // five broadcast lookup sides re-run training concurrently
      val model = graft.text.LmScore.train(all.filter(col("doc_id") % 20 =!= 7))
        .cache()
      val scored = graft.text.LmScore.score(all, model)
        .select(col("doc_id"), round(col("avg_logprob"), 5).as("lp"))
        .localCheckpoint(true) // thresholds + bucketing both read it
      val (t1, t2) = graft.text.LmScore.tercileCuts(scored, "doc_id", "lp")
      def cut(c: Option[Double]) =
        c.map(lit).getOrElse(lit(null).cast("double"))
      scored
        .withColumn("bucket", when(col("lp") <= cut(t1), "tail")
          .when(col("lp") <= cut(t2), "middle").otherwise("head"))
        .join(all.select("doc_id", "source"), "doc_id")
        .groupBy("source", "bucket")
        // battery determinism rule, strong form: the hashed float is the
        // EXACT decimal sum of the 5dp scores (order-independent, no
        // division). A divided mean re-rounds and can straddle a half
        // boundary where Spark (shortest-repr HALF_UP) and DuckDB (binary
        // round) disagree — observed here before this form. Readers get the
        // mean as sum_lp / n_docs.
        .agg(count(lit(1)).as("n_docs"),
          round(sum(col("lp").cast("decimal(15,5)")).cast("double"), 5)
            .as("sum_lp"))
        .orderBy("source", "bucket")
    })
  )

  /** Shared DuckDB fragment: hex payload → unsigned bytes → 72 contiguous
    * chunk sums → 64-bit dHash — `FakeCodec.chunkGrid` + `Multimodal.dHash`
    * verbatim (bit 63 contributes −2⁶³ so the BIGINT bit pattern equals the
    * JVM Long). `src` must expose the `keys` columns plus `hx`; emits CTE
    * bodies `ub`, `cells`, `sig` (no leading/trailing comma) where `sig`
    * carries (keys…, sig). Used by the m_phash_dups and m_video_dups
    * oracles.
    */
  /** Shared DuckDB CTE chain for the chunk-retrieval oracles: tokenize →
    * window chunks → per-dimension md5-fold embeddings (chunk + query
    * sides) → exact integer scores → ranked `r`. Pre-stripped; callers
    * interpolate it whole (never inside another stripMargin — the shared-
    * fragment pipe gotcha).
    */
  private val retrievalTopkSqlCtes: String =
    """t AS (SELECT doc_id,
      |    list_filter(regexp_split_to_array(trim(text), '\s+'),
      |                x -> x <> '') AS w
      |  FROM documents WHERE text IS NOT NULL),
      |n AS (SELECT doc_id, w,
      |        CASE WHEN len(w) <= 32 THEN CAST(1 AS BIGINT)
      |             ELSE CAST(ceil((len(w) - 32) / 24.0) AS BIGINT) + 1
      |        END AS n_chunks
      |      FROM t),
      |e AS (SELECT doc_id, w, UNNEST(range(n_chunks)) AS chunk_idx FROM n),
      |c AS (SELECT doc_id, chunk_idx, chunk_idx * 24 AS chunk_start,
      |             array_to_string(list_slice(w, chunk_idx * 24 + 1,
      |                                        chunk_idx * 24 + 32), ' ') AS chunk
      |      FROM e),
      |cd AS (SELECT doc_id, chunk_idx, chunk_start, i,
      |              md5(chunk || ':emb:' || CAST(i AS VARCHAR)) AS m
      |       FROM c, unnest(range(4)) AS ti(i)),
      |cv AS (SELECT doc_id, chunk_idx, chunk_start, i,
      |              ((strpos('0123456789abcdef', substr(m, 1, 1)) - 1) * 4096
      |             + (strpos('0123456789abcdef', substr(m, 2, 1)) - 1) * 256
      |             + (strpos('0123456789abcdef', substr(m, 3, 1)) - 1) * 16
      |             + (strpos('0123456789abcdef', substr(m, 4, 1)) - 1)) % 1000 AS v
      |       FROM cd),
      |qd AS (SELECT doc_id AS query_id, i,
      |              md5(text || ':emb:' || CAST(i AS VARCHAR)) AS m
      |       FROM documents, unnest(range(4)) AS ti(i)
      |       WHERE doc_id % 101 = 7 AND doc_id < 2525
      |         AND text IS NOT NULL),
      |qv AS (SELECT query_id, i,
      |              ((strpos('0123456789abcdef', substr(m, 1, 1)) - 1) * 4096
      |             + (strpos('0123456789abcdef', substr(m, 2, 1)) - 1) * 256
      |             + (strpos('0123456789abcdef', substr(m, 3, 1)) - 1) * 16
      |             + (strpos('0123456789abcdef', substr(m, 4, 1)) - 1)) % 1000 AS v
      |       FROM qd),
      |s AS (SELECT q.query_id, c.doc_id, c.chunk_idx, c.chunk_start,
      |             CAST(sum(c.v * q.v) AS BIGINT) AS score
      |      FROM cv c JOIN qv q USING (i)
      |      GROUP BY 1, 2, 3, 4),
      |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |        ORDER BY score DESC, doc_id, chunk_idx) AS rank FROM s)""".stripMargin

  // BM25 mirror of Bm25.topK: lowercase whitespace terms → postings with
  // dl riding along → df restricted to the query vocabulary → integer
  // micro-unit contributions (idf rounded to 9 dp — the only
  // transcendental — then ×1e6, round, BIGINT) → exact long sums → rank.
  // Every float literal is e-notation so DuckDB types it DOUBLE (a bare
  // 2.5 is DECIMAL and would switch the arithmetic off IEEE); k1 = 1.5
  // and b = 0.75 are exactly representable so neither engine can
  // constant-fold a diverging ulp. CTE names are b-prefixed so the chain
  // composes with retrievalTopkSqlCtes in the hybrid-fusion oracle.
  private def bm25SqlCtesOver(corpusPred: String): String =
    s"""btok AS (SELECT doc_id,
      |    list_transform(list_filter(regexp_split_to_array(trim(text), '\\s+'),
      |      x -> x <> ''), x -> lower(x)) AS w
      |  FROM documents WHERE text IS NOT NULL AND ($corpusPred)),""".stripMargin + "\n" +
    """bst AS (SELECT count(*) AS n_docs,
      |               CAST(coalesce(sum(len(w)), 0) AS BIGINT) AS total_tokens
      |        FROM btok),
      |bp AS (SELECT doc_id, len(w) AS dl, t AS term, count(*) AS tf
      |       FROM btok, unnest(w) AS u(t) GROUP BY 1, 2, 3),
      |bqt AS (SELECT DISTINCT doc_id AS query_id, t AS term
      |        FROM btok, unnest(w) AS u(t)
      |        WHERE doc_id % 101 = 7 AND doc_id < 2525),
      |bdf AS (SELECT term, count(*) AS df FROM bp
      |        WHERE term IN (SELECT DISTINCT term FROM bqt) GROUP BY 1),
      |bsc AS (SELECT q.query_id, p.doc_id,
      |          CAST(sum(CAST(round(
      |            round(ln(1e0 + (st.n_docs - f.df + 0.5e0) / (f.df + 0.5e0)), 9)
      |            * (p.tf * 2.5e0 / (p.tf + 1.5e0 * (0.25e0 + 0.75e0 * p.dl
      |                 / (st.total_tokens / CAST(st.n_docs AS DOUBLE)))))
      |            * 1000000e0) AS BIGINT)) AS BIGINT) AS score_micro
      |        FROM bp p JOIN bqt q USING (term) JOIN bdf f USING (term), bst st
      |        GROUP BY 1, 2),
      |br AS (SELECT query_id, doc_id, score_micro,
      |              row_number() OVER (PARTITION BY query_id
      |                ORDER BY score_micro DESC, doc_id) AS rank
      |       FROM bsc)""".stripMargin

  private val bm25SqlCtes: String = bm25SqlCtesOver("TRUE")

  // SQL mirror of QueriesData.linkedHtml: sorted distinct-source index →
  // three id-arithmetic joins → the synthesized page string, byte-for-byte
  private val linkedHtmlSqlCtes: String =
    """ds AS MATERIALIZED (SELECT DISTINCT source FROM documents WHERE source IS NOT NULL),
      |sid AS (SELECT source, row_number() OVER (ORDER BY source) - 1 AS k
      |        FROM ds),
      |nn0 AS (SELECT count(*) AS n FROM ds),
      |hb AS MATERIALIZED (SELECT d.doc_id, d.source,
      |         '<html><body><h1>Doc ' || CAST(d.doc_id AS VARCHAR)
      |         || '</h1><p>' || d.text
      |         || '</p><a href="https://www.' || s0.source
      |         || '.example.com/p0">a</a>'
      |         || '<a href="HTTP://' || s1.source
      |         || '.Example.com:80/p1?utm_source=z&x=1">b</a>'
      |         || '<a href="https://www.' || s2.source
      |         || '.example.com/p2#f">c</a></body></html>' AS html
      |       FROM documents d CROSS JOIN nn0
      |         JOIN sid s0 ON s0.k = d.doc_id % nn0.n
      |         JOIN sid s1 ON s1.k = (d.doc_id * 2 + 1) % nn0.n
      |         JOIN sid s2 ON s2.k = (d.doc_id * 3 + 2) % nn0.n
      |       WHERE d.text IS NOT NULL AND d.source IS NOT NULL)""".stripMargin

  // Personalized-PageRank iterations: same integer-exact chain, but the
  // teleport and dangling shares go ONLY to rows of an upstream
  // `seeds(node)` CTE (denominator `ns.c` = |seeds|); non-seed rows get 0
  // plus their in-contributions. Mirrors PageRank.ranks(seeds = Some(...)).
  private def personalizedPageRankSqlCtes(iterations: Int): String = {
    val iters = (1 to iterations).map { i =>
      val prev = s"pr${i - 1}"
      s"""pr$i AS MATERIALIZED (
         |  SELECT nd.node,
         |    CASE WHEN sd.node IS NOT NULL THEN
         |      CAST(round((1e0 - 0.85e0) * 1000000000e0 / ns.c) AS BIGINT)
         |      + CAST(round(0.85e0 * dg$i.dm / ns.c) AS BIGINT)
         |    ELSE 0 END
         |    + coalesce(cb$i.cin, 0) AS rank_micro
         |  FROM nodes nd CROSS JOIN ns CROSS JOIN
         |    (SELECT coalesce(sum(p.rank_micro), 0) AS dm
         |     FROM $prev p LEFT JOIN ow ON p.node = ow.src
         |     WHERE ow.src IS NULL) dg$i
         |  LEFT JOIN seeds sd ON sd.node = nd.node
         |  LEFT JOIN
         |    (SELECT e.dst AS node,
         |            CAST(sum(CAST(round(0.85e0 * p.rank_micro * e.w
         |                                / ow.outw) AS BIGINT)) AS BIGINT)
         |              AS cin
         |     FROM e JOIN ow ON e.src = ow.src JOIN $prev p ON p.node = e.src
         |     GROUP BY 1) cb$i ON cb$i.node = nd.node)""".stripMargin
    }.mkString(",\n")
    s"""nodes AS MATERIALIZED (SELECT DISTINCT node FROM
       |  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e
       |   UNION ALL SELECT node FROM seeds)),
       |ow AS MATERIALIZED (SELECT src, CAST(sum(w) AS BIGINT) AS outw
       |                    FROM e GROUP BY 1),
       |pr0 AS MATERIALIZED (SELECT nd.node,
       |  CASE WHEN sd.node IS NOT NULL
       |    THEN CAST(round(1000000000e0 / ns.c) AS BIGINT)
       |    ELSE 0 END AS rank_micro
       |  FROM nodes nd CROSS JOIN ns
       |    LEFT JOIN seeds sd ON sd.node = nd.node),
       |$iters""".stripMargin
  }

  // SQL mirror of QueriesData.domainEdges — shared by both graph oracles
  private val domainEdgesSqlCtes: String =
    """lx AS (SELECT source,
      |         UNNEST(regexp_extract_all(html, 'href="([^"]*)"', 1)) AS href
      |       FROM hb),
      |e AS MATERIALIZED (SELECT source || '.example.com' AS src,
      |             regexp_replace(lower(regexp_extract(href,
      |               '://([^/:?#]*)', 1)), '^www\.', '') AS dst,
      |             count(*) AS w
      |      FROM lx GROUP BY 1, 2)""".stripMargin

  // Integer-exact PageRank iterations over an `e(src, dst, w)` CTE —
  // generated chain pr0..prN mirroring graft.operators.PageRank.ranks
  // micro-unit for micro-unit. The teleport constant is spelled
  // (1e0 - 0.85e0), NOT 0.15e0: the Scala side computes 1.0 - damping and
  // IEEE's 1 - 0.85 is a DIFFERENT double than the literal 0.15.
  // Every iterate is AS MATERIALIZED: each pr$i references pr${i-1} twice
  // (dangling + contribution subqueries), and DuckDB inlines plain CTEs —
  // the unmaterialized chain expands to 2^N copies of the corpus scan
  // (observed as "Too many open files" at N = 10), the same doubling the
  // Spark side cuts with per-iteration localCheckpoint/staging.
  private def pageRankSqlCtes(iterations: Int): String = {
    val iters = (1 to iterations).map { i =>
      val prev = s"pr${i - 1}"
      s"""pr$i AS MATERIALIZED (
         |  SELECT nd.node,
         |    CAST(round((1e0 - 0.85e0) * 1000000000e0 / nn.n) AS BIGINT)
         |    + CAST(round(0.85e0 * dg$i.dm / nn.n) AS BIGINT)
         |    + coalesce(cb$i.cin, 0) AS rank_micro
         |  FROM nodes nd CROSS JOIN nn CROSS JOIN
         |    (SELECT coalesce(sum(p.rank_micro), 0) AS dm
         |     FROM $prev p LEFT JOIN ow ON p.node = ow.src
         |     WHERE ow.src IS NULL) dg$i
         |  LEFT JOIN
         |    (SELECT e.dst AS node,
         |            CAST(sum(CAST(round(0.85e0 * p.rank_micro * e.w
         |                                / ow.outw) AS BIGINT)) AS BIGINT)
         |              AS cin
         |     FROM e JOIN ow ON e.src = ow.src JOIN $prev p ON p.node = e.src
         |     GROUP BY 1) cb$i ON cb$i.node = nd.node)""".stripMargin
    }.mkString(",\n")
    s"""nodes AS MATERIALIZED (SELECT DISTINCT node FROM
       |  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
       |nn AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
       |ow AS MATERIALIZED (SELECT src, CAST(sum(w) AS BIGINT) AS outw FROM e GROUP BY 1),
       |pr0 AS MATERIALIZED (SELECT node, CAST(round(1000000000e0 / nn.n) AS BIGINT)
       |          AS rank_micro FROM nodes CROSS JOIN nn),
       |$iters""".stripMargin
  }

  private def dhashSqlCtes(src: String, keys: String): String =
    s"""ub AS (
       |  SELECT $keys, length(hx) // 2 AS len,
       |         list_transform(range(0, length(hx) // 2),
       |           i -> CAST('0x' || substring(hx, CAST(2*i+1 AS INT), 2) AS BIGINT)) AS u
       |  FROM $src WHERE length(hx) > 0),
       |cells AS (
       |  SELECT $keys,
       |         list_transform(range(0, 72), l ->
       |           coalesce(list_sum(list_slice(u,
       |             CAST(l*len//72 + 1 AS INT),
       |             CAST((l+1)*len//72 AS INT))), 0)) AS cl
       |  FROM ub),
       |sig AS (
       |  SELECT $keys, CAST(list_sum(list_transform(range(0, 64), k ->
       |           CASE WHEN cl[CAST((k//8)*9 + (k%8) + 1 AS INT)]
       |                     < cl[CAST((k//8)*9 + (k%8) + 2 AS INT)]
       |                THEN CASE WHEN k = 63 THEN -9223372036854775808
       |                     ELSE CAST(1 AS BIGINT) << CAST(k AS INT) END
       |                ELSE 0 END)) AS BIGINT) AS sig
       |  FROM cells)""".stripMargin

  /** Shared m_phash_* fixture: synthetic media plus the same-length
    * last-byte clones (id −(doc_id+1)), hashed — checkpointed (id, sig)
    * serving the pair entry (approx + audit + gate count) and the
    * clustering entry.
    */
  private def phashFixtureSigs(s: SparkSession, d: String): DataFrame = {
    val media = Multimodal.syntheticMedia(s, d).toDF()
    val clones = media
      .filter(col("content").isNotNull)
      .withColumn("media_id", -(col("media_id") + lit(1L)))
      .withColumn("content", concat(
        expr("substring(content, 1, greatest(length(content) - 1, 0))"),
        lit(Array[Byte](0x7e))))
    import s.implicits._
    Multimodal.perceptualHash(
        media.unionByName(clones).as[graft.multimodal.MediaRecord])
      .select(col("media_id").as("id"), col("phash").as("sig"))
      .localCheckpoint(true)
  }

  /** Shared m_video_* fixture: 8×-repeated payloads per video doc
    * (doc_id%3==2) plus EXTENDED clones (same payload + one more copy —
    * every full frame shared, trailing partial differs).
    */
  private def videoFixtureMedia(s: SparkSession, d: String)
      : org.apache.spark.sql.Dataset[graft.multimodal.MediaRecord] = {
    import s.implicits._
    val base = docs(s, d)
      .filter(col("doc_id") % 3 === 2 && col("text").isNotNull)
    def asMedia(id: Column, content: Column) =
      base.select(id.as("media_id"), lit("video").as("media_type"),
        content.as("content"),
        typedLit(Map.empty[String, String]).as("meta"))
    asMedia(col("doc_id"), encode(repeat(col("text"), 8), "UTF-8"))
      .unionByName(asMedia(-(col("doc_id") + lit(1L)),
        encode(concat(repeat(col("text"), 8), col("text")), "UTF-8")))
      .as[graft.multimodal.MediaRecord]
  }

  /** The [[videoFixtureMedia]] fixture's DuckDB side: hex payloads (CTE
    * `v`) sliced into 1 KiB frames (CTE `fr(media_id, frame_idx, hx)`).
    */
  private def videoFixtureSqlCtes: String =
    """v AS (
      |  SELECT doc_id AS media_id, hex(encode(repeat(text, 8))) AS hx
      |  FROM documents WHERE doc_id % 3 = 2 AND text IS NOT NULL
      |  UNION ALL
      |  SELECT -(doc_id + 1), hex(encode(repeat(text, 8) || text))
      |  FROM documents WHERE doc_id % 3 = 2 AND text IS NOT NULL),
      |fr AS (
      |  SELECT media_id, CAST(f AS INT) AS frame_idx,
      |         substring(hx, CAST(2*f*1024 + 1 AS INT),
      |           CAST(least(2048, length(hx) - 2*f*1024) AS INT)) AS hx
      |  FROM v, unnest(range(0, (length(hx) // 2 + 1023) // 1024)) AS t(f))""".stripMargin

  /** Shared m_audio_* fixture: 6×-repeated payloads per audio doc
    * (doc_id%3==1) plus one-hop FRONT-PADDED clones (512 `~` bytes
    * prepended — the offset-robustness case: disjoint frames would lose
    * all alignment, the 1024/512 sliding windows re-align one hop later).
    */
  private def audioFixtureMedia(s: SparkSession, d: String)
      : org.apache.spark.sql.Dataset[graft.multimodal.MediaRecord] = {
    import s.implicits._
    val base = docs(s, d)
      .filter(col("doc_id") % 3 === 1 && col("text").isNotNull)
    def asMedia(id: Column, content: Column) =
      base.select(id.as("media_id"), lit("audio").as("media_type"),
        content.as("content"),
        typedLit(Map.empty[String, String]).as("meta"))
    asMedia(col("doc_id"), encode(repeat(col("text"), 6), "UTF-8"))
      .unionByName(asMedia(-(col("doc_id") + lit(1L)),
        encode(concat(lit("~" * 512), repeat(col("text"), 6)), "UTF-8")))
      .as[graft.multimodal.MediaRecord]
  }

  /** The m_audio_* fixture's DuckDB side: 6×-repeated payloads plus the
    * one-hop front-padded clones (CTE `a0`), sliced into overlapping
    * 1024-byte windows at 512-byte hop — full windows only, except a
    * single truncated window for sub-window payloads (CTE
    * `wins(media_id, win_idx, hx)`). Mirrors
    * [[graft.multimodal.Multimodal.audioFingerprints]] byte for byte.
    */
  private def audioWinsSqlCtes: String =
    """a0 AS (
      |  SELECT doc_id AS media_id, hex(encode(repeat(text, 6))) AS hx
      |  FROM documents WHERE doc_id % 3 = 1 AND text IS NOT NULL
      |  UNION ALL
      |  SELECT -(doc_id + 1), hex(encode(repeat('~', 512) || repeat(text, 6)))
      |  FROM documents WHERE doc_id % 3 = 1 AND text IS NOT NULL),
      |wins AS (
      |  SELECT media_id, CAST(w AS INT) AS win_idx,
      |         substring(hx, CAST(2*w*512 + 1 AS INT),
      |           CAST(least(2048, length(hx) - 2*w*512) AS INT)) AS hx
      |  FROM a0, unnest(range(0,
      |    CASE WHEN length(hx) = 0 THEN 0
      |         WHEN length(hx) // 2 < 1024 THEN 1
      |         ELSE 1 + (length(hx) // 2 - 1024) // 512 END)) AS t(w))""".stripMargin

  /** The [[phashFixtureSigs]] fixture's DuckDB side: originals + the
    * last-byte-swap clones as hex payloads in CTE `b(media_id, hx)`.
    */
  private def phashFixtureSqlCte: String =
    """b AS (
      |  SELECT doc_id AS media_id, hex(encode(text)) AS hx
      |  FROM documents WHERE text IS NOT NULL
      |  UNION ALL
      |  SELECT -(doc_id + 1),
      |         substring(hex(encode(text)), 1,
      |           CAST(greatest(2 * (octet_length(encode(text)) - 1), 0) AS INT)) ||
      |         '7E'
      |  FROM documents WHERE text IS NOT NULL)""".stripMargin

  /** Shared DuckDB fragment for [[graft.multimodal.Multimodal.filterMedia]]
    * over the synthetic media fixture: hashCode-fold dims + 16-chunk
    * concentration + the integer rule chain. Emits CTEs `b`, `hh`, `dims`,
    * `fm`, `rr` — `rr` carries (media_id, media_type, width, height,
    * max_bin_permille, reason, hx); `hx` survives so downstream fragments
    * (the media-capstone dHash) can chain on the SURVIVOR payloads.
    */
  private def mediaFilterSqlCtes: String =
    """b AS (
      |  SELECT doc_id AS media_id,
      |         CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
      |              WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
      |         hex(encode(coalesce(text, ''))) AS hx
      |  FROM documents),
      |hh AS (
      |  SELECT media_id, media_type, hx,
      |         list_reduce(
      |           list_prepend(CAST(1 AS BIGINT),
      |             list_transform(range(0, length(hx) // 2),
      |               i -> CAST('0x' || substring(hx, CAST(2*i+1 AS INT), 2) AS BIGINT)
      |                    - CASE WHEN CAST('0x' || substring(hx, CAST(2*i+1 AS INT), 2) AS BIGINT) > 127
      |                           THEN 256 ELSE 0 END)),
      |           (acc, x) -> ((31*acc + x) % 4294967296 + 4294967296) % 4294967296) AS hu
      |  FROM b),
      |dims AS (
      |  SELECT media_id, media_type, hx,
      |         CAST(64 + ((CASE WHEN hu >= 2147483648 THEN hu - 4294967296 ELSE hu END
      |                     % 512) + 512) % 512 AS INT) AS width,
      |         CAST(64 + ((CAST(floor((CASE WHEN hu >= 2147483648 THEN hu - 4294967296 ELSE hu END)
      |                     / 512.0) AS BIGINT) % 512) + 512) % 512 AS INT) AS height
      |  FROM hh),
      |fm AS (
      |  SELECT media_id, media_type, hx, width, height,
      |         CAST(CASE WHEN coalesce(list_sum(cl), 0) = 0 THEN 0
      |              ELSE list_max(cl) * 1000 // list_sum(cl) END AS BIGINT)
      |           AS max_bin_permille
      |  FROM (
      |    SELECT media_id, media_type, hx, width, height,
      |           list_transform(range(0, 16), l ->
      |             coalesce(list_sum(list_slice(
      |               list_transform(range(0, length(hx) // 2),
      |                 i -> CAST('0x' || substring(hx, CAST(2*i+1 AS INT), 2) AS BIGINT)),
      |               CAST(l*(length(hx) // 2)//16 + 1 AS INT),
      |               CAST((l+1)*(length(hx) // 2)//16 AS INT))), 0)) AS cl
      |    FROM dims)),
      |rr AS (
      |  SELECT media_id, media_type, hx, width, height, max_bin_permille,
      |         CASE WHEN least(width, height) < 128 THEN 'too_small'
      |              WHEN CAST(greatest(width, height) AS BIGINT) * 1000
      |                   // greatest(least(width, height), 1) > 3000 THEN 'bad_aspect'
      |              WHEN max_bin_permille >= 900 THEN 'flat'
      |              ELSE NULL END AS reason
      |  FROM fm)""".stripMargin

  /** Shared stupid-backoff scoring CTE chain (tokenize, 19/20-slice model
    * counts, per-position backoff log-probs in `lp`): the d_lm_score oracle
    * aggregates it per doc; the d_ccnet_buckets oracle adds the percentile
    * cuts and bucket rollup on top of the identical scores.
    */
  private val lmLpCte: String =
    """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |                             x -> x <> '') AS t
        |  FROM documents),
        |ref AS (SELECT t FROM toks WHERE doc_id % 20 <> 7),
        |uni AS (SELECT w, CAST(count(*) AS DOUBLE) AS c1
        |        FROM (SELECT unnest(t) AS w FROM ref) GROUP BY 1),
        |nn AS (SELECT sum(c1) AS n FROM uni),
        |bi AS (SELECT g, CAST(count(*) AS DOUBLE) AS c2 FROM (
        |  SELECT unnest(list_transform(range(1, len(t)), j -> t[j] || ' ' || t[j+1])) AS g
        |  FROM ref WHERE len(t) >= 2) GROUP BY 1),
        |tri AS (SELECT g, CAST(count(*) AS DOUBLE) AS c3 FROM (
        |  SELECT unnest(list_transform(range(1, len(t) - 1),
        |                j -> t[j] || ' ' || t[j+1] || ' ' || t[j+2])) AS g
        |  FROM ref WHERE len(t) >= 3) GROUP BY 1),
        |p AS (
        |  SELECT doc_id,
        |    t[i] AS w,
        |    CASE WHEN i >= 2 THEN t[i-1] END AS v,
        |    CASE WHEN i >= 2 THEN t[i-1] || ' ' || t[i] END AS g2low,
        |    CASE WHEN i >= 3 THEN t[i-2] || ' ' || t[i-1] END AS g2ctx,
        |    CASE WHEN i >= 3 THEN t[i-2] || ' ' || t[i-1] || ' ' || t[i] END AS g3
        |  FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i
        |        FROM toks WHERE len(t) >= 1)),
        |sc AS (
        |  SELECT p.doc_id, p.g3, p.g2low,
        |    u1.c1 AS c1w, u2.c1 AS c1v, bl.c2 AS c2low, bc.c2 AS c2ctx, tr.c3 AS c3
        |  FROM p
        |  LEFT JOIN uni u1 ON u1.w = p.w
        |  LEFT JOIN uni u2 ON u2.w = p.v
        |  LEFT JOIN bi bl ON bl.g = p.g2low
        |  LEFT JOIN bi bc ON bc.g = p.g2ctx
        |  LEFT JOIN tri tr ON tr.g = p.g3),
        |lp AS (
        |  SELECT doc_id,
        |    CASE
        |      WHEN g3 IS NOT NULL THEN
        |        CASE WHEN c3 IS NOT NULL THEN log10(c3) - log10(c2ctx)
        |             ELSE log10(0.4) +
        |               CASE WHEN c2low IS NOT NULL THEN log10(c2low) - log10(c1v)
        |                    ELSE log10(0.4) + log10(coalesce(c1w, 1) / (SELECT n FROM nn)) END
        |        END
        |      WHEN g2low IS NOT NULL THEN
        |        CASE WHEN c2low IS NOT NULL THEN log10(c2low) - log10(c1v)
        |             ELSE log10(0.4) + log10(coalesce(c1w, 1) / (SELECT n FROM nn)) END
        |      ELSE log10(coalesce(c1w, 1) / (SELECT n FROM nn))
        |    END AS lp,
        |    (c3 IS NOT NULL) AS hit3,
        |    (g3 IS NOT NULL AND c3 IS NULL) AS bk3,
        |    (c1w IS NULL) AS oov
        |  FROM sc)""".stripMargin

  val oracles: Map[String, String] = Map(
    "d_token_count" ->
      // list_filter drops the '' fragments regexp_split produces around
      // leading/trailing non-space whitespace — Spark's tokens() filters
      // empties, and the denominators must agree exactly
      """SELECT doc_id, len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |                               x -> x <> '')) AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "d_subword_count" ->
      """SELECT doc_id,
        |  CAST(coalesce(list_sum(list_transform(
        |    list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> ''),
        |    x -> CAST(ceil(length(x) / 4.0) AS BIGINT))), 0) AS BIGINT) AS n_subwords
        |FROM documents ORDER BY doc_id""".stripMargin,
    "d_curation_pipeline" ->
      // all five stages chained in one WITH: trim (kept token LISTS — the
      // rebuilt string re-split would yield exactly these, tokens contain
      // no whitespace), self-trained trigram LM, static cut, temperature
      // mix (salt 'cur'), per-source rollup
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'),
        |                             x -> x <> '') AS t
        |  FROM documents),
        |pos0 AS (
        |  SELECT doc_id, i - 1 AS pos,
        |         array_to_string(list_slice(t, i, i + 12), ' ') AS g
        |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 11)) AS i
        |        FROM toks WHERE len(t) >= 13)),
        |dup0 AS (
        |  SELECT g FROM (SELECT g, doc_id FROM pos0 GROUP BY 1, 2)
        |  GROUP BY g HAVING count(*) >= 2),
        |canon AS (
        |  SELECT g, doc_id AS cid, pos AS cpos FROM (
        |    SELECT g, doc_id, pos,
        |           row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
        |    FROM pos0 JOIN dup0 USING (g)) WHERE rn = 1),
        |drop_ps AS (
        |  SELECT doc_id, dp FROM (
        |    SELECT p.doc_id, p.pos + off.o AS dp,
        |           (p.doc_id = c.cid AND p.pos = c.cpos) AS is_canon
        |    FROM pos0 p JOIN canon c USING (g)
        |    CROSS JOIN (SELECT unnest(range(0, 13)) AS o) off)
        |  GROUP BY doc_id, dp HAVING NOT bool_or(is_canon)),
        |dl AS (SELECT doc_id, list(dp) AS dps FROM drop_ps GROUP BY doc_id),
        |corpus AS (
        |  SELECT doc_id, kt FROM (
        |    SELECT t.doc_id,
        |      list_transform(
        |        list_filter(range(0, coalesce(len(t.t), 0)),
        |                    i -> NOT list_contains(coalesce(dl.dps, []), i)),
        |        i -> lower(t.t[i + 1])) AS kt
        |    FROM toks t LEFT JOIN dl USING (doc_id)
        |    WHERE t.t IS NOT NULL)
        |  WHERE len(kt) >= 1),
        |uni AS (SELECT w, CAST(count(*) AS DOUBLE) AS c1
        |        FROM (SELECT unnest(kt) AS w FROM corpus) GROUP BY 1),
        |nn AS (SELECT sum(c1) AS n FROM uni),
        |bi AS (SELECT g, CAST(count(*) AS DOUBLE) AS c2 FROM (
        |  SELECT unnest(list_transform(range(1, len(kt)), j -> kt[j] || ' ' || kt[j+1])) AS g
        |  FROM corpus WHERE len(kt) >= 2) GROUP BY 1),
        |tri AS (SELECT g, CAST(count(*) AS DOUBLE) AS c3 FROM (
        |  SELECT unnest(list_transform(range(1, len(kt) - 1),
        |                j -> kt[j] || ' ' || kt[j+1] || ' ' || kt[j+2])) AS g
        |  FROM corpus WHERE len(kt) >= 3) GROUP BY 1),
        |p AS (
        |  SELECT doc_id,
        |    kt[i] AS w,
        |    CASE WHEN i >= 2 THEN kt[i-1] END AS v,
        |    CASE WHEN i >= 2 THEN kt[i-1] || ' ' || kt[i] END AS g2low,
        |    CASE WHEN i >= 3 THEN kt[i-2] || ' ' || kt[i-1] END AS g2ctx,
        |    CASE WHEN i >= 3 THEN kt[i-2] || ' ' || kt[i-1] || ' ' || kt[i] END AS g3
        |  FROM (SELECT doc_id, kt, unnest(range(1, len(kt) + 1)) AS i FROM corpus)),
        |sc AS (
        |  SELECT p.doc_id, p.g3, p.g2low,
        |    u1.c1 AS c1w, u2.c1 AS c1v, bl.c2 AS c2low, bc.c2 AS c2ctx, tr.c3 AS c3
        |  FROM p
        |  LEFT JOIN uni u1 ON u1.w = p.w
        |  LEFT JOIN uni u2 ON u2.w = p.v
        |  LEFT JOIN bi bl ON bl.g = p.g2low
        |  LEFT JOIN bi bc ON bc.g = p.g2ctx
        |  LEFT JOIN tri tr ON tr.g = p.g3),
        |lp AS (
        |  SELECT doc_id,
        |    CASE
        |      WHEN g3 IS NOT NULL THEN
        |        CASE WHEN c3 IS NOT NULL THEN log10(c3) - log10(c2ctx)
        |             ELSE log10(0.4) +
        |               CASE WHEN c2low IS NOT NULL THEN log10(c2low) - log10(c1v)
        |                    ELSE log10(0.4) + log10(coalesce(c1w, 1) / (SELECT n FROM nn)) END
        |        END
        |      WHEN g2low IS NOT NULL THEN
        |        CASE WHEN c2low IS NOT NULL THEN log10(c2low) - log10(c1v)
        |             ELSE log10(0.4) + log10(coalesce(c1w, 1) / (SELECT n FROM nn)) END
        |      ELSE log10(coalesce(c1w, 1) / (SELECT n FROM nn))
        |    END AS lp
        |  FROM sc),
        |score AS (SELECT doc_id, round(avg(lp), 5) AS avg_logprob
        |          FROM lp GROUP BY doc_id),
        |kept AS (
        |  SELECT s.doc_id, s.avg_logprob, d.source
        |  FROM score s JOIN documents d USING (doc_id)
        |  WHERE s.avg_logprob >= (SELECT round(
        |    CAST(sum(CAST(avg_logprob AS DECIMAL(15,5))) AS DOUBLE) / count(*), 3)
        |    FROM score)),
        |cnt AS (SELECT source, CAST(count(*) AS DOUBLE) AS n
        |        FROM kept WHERE source IS NOT NULL GROUP BY 1),
        |tot AS (SELECT sum(n) AS sn, sum(power(n, 0.5)) AS z FROM cnt),
        |wt AS (SELECT source, sn * power(n, 0.5) / n / z AS w FROM cnt, tot),
        |h AS (SELECT k.doc_id, k.source, k.avg_logprob, coalesce(wt.w, 1.0) AS w,
        |             md5(k.doc_id || ':cur') AS m
        |      FROM kept k LEFT JOIN wt USING (source)),
        |v AS (SELECT doc_id, source, avg_logprob, w,
        |  CAST((strpos('0123456789abcdef', substr(m, 1, 1)) - 1) * 4096
        |     + (strpos('0123456789abcdef', substr(m, 2, 1)) - 1) * 256
        |     + (strpos('0123456789abcdef', substr(m, 3, 1)) - 1) * 16
        |     + (strpos('0123456789abcdef', substr(m, 4, 1)) - 1) AS BIGINT) AS b
        |  FROM h),
        |c AS (SELECT doc_id, source, avg_logprob,
        |  CAST(floor(w) AS BIGINT)
        |    + CASE WHEN b < round((w - floor(w)) * 65536) THEN 1 ELSE 0 END AS nc
        |  FROM v),
        |copies AS (SELECT doc_id, source, avg_logprob
        |           FROM c, unnest(range(0, nc)) AS t(u))
        |SELECT source, count(DISTINCT doc_id) AS n_docs, count(*) AS n_copies,
        |  round(CAST(sum(CAST(avg_logprob AS DECIMAL(15,5))) AS DOUBLE)
        |        / count(*), 5) AS avg_lp
        |FROM copies GROUP BY source ORDER BY source""".stripMargin,
    "d_shuffle_order" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    md5(doc_id || ':shuffle') AS k,
        |    md5(doc_id || ':shuffle:shard') AS ms
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, k,
        |    CAST((
        |      (strpos('0123456789abcdef', substr(ms, 1, 1)) - 1) * 4096
        |    + (strpos('0123456789abcdef', substr(ms, 2, 1)) - 1) * 256
        |    + (strpos('0123456789abcdef', substr(ms, 3, 1)) - 1) * 16
        |    + (strpos('0123456789abcdef', substr(ms, 4, 1)) - 1)) % 8 AS INT) AS shard
        |  FROM h)
        |SELECT doc_id, shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY k, doc_id) - 1 AS BIGINT) AS pos
        |FROM s ORDER BY shard, pos""".stripMargin,
    "d_temperature_mix" ->
      // weight derivation mirrors temperatureMix term for term (same
      // association order: nn * n^alpha / n / z); null-source docs fall out
      // of the LEFT JOIN with weight 1, matching sampleWeighted's default
      """WITH cnt AS (SELECT source, CAST(count(*) AS DOUBLE) AS n
        |             FROM documents WHERE source IS NOT NULL GROUP BY 1),
        |tot AS (SELECT sum(n) AS nn, sum(power(n, 0.5)) AS z FROM cnt),
        |w AS (SELECT source, nn * power(n, 0.5) / n / z AS w FROM cnt, tot),
        |h AS (SELECT d.doc_id, d.source, coalesce(w.w, 1.0) AS w,
        |             md5(d.doc_id || ':temp') AS m
        |      FROM documents d LEFT JOIN w USING (source)),
        |v AS (SELECT doc_id, source, w,
        |  CAST((strpos('0123456789abcdef', substr(m, 1, 1)) - 1) * 4096
        |     + (strpos('0123456789abcdef', substr(m, 2, 1)) - 1) * 256
        |     + (strpos('0123456789abcdef', substr(m, 3, 1)) - 1) * 16
        |     + (strpos('0123456789abcdef', substr(m, 4, 1)) - 1) AS BIGINT) AS b
        |  FROM h),
        |c AS (SELECT doc_id, source,
        |  CAST(floor(w) AS BIGINT)
        |    + CASE WHEN b < round((w - floor(w)) * 65536) THEN 1 ELSE 0 END AS n
        |  FROM v)
        |SELECT doc_id, source, CAST(u AS BIGINT) AS copy
        |FROM c, unnest(range(0, n)) AS t(u)
        |ORDER BY doc_id, copy""".stripMargin,
    "d_dup_spans" ->
      // union coverage of fixed-length intervals in closed form:
      // |union| = W + sum(min(W, gap)) over position-sorted windows
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'),
        |                             x -> x <> '') AS t
        |  FROM documents),
        |nt AS (SELECT doc_id, coalesce(len(t), 0) AS n_tokens FROM toks),
        |pos AS (
        |  SELECT doc_id, i - 1 AS pos,
        |         array_to_string(list_slice(t, i, i + 12), ' ') AS g
        |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 11)) AS i
        |        FROM toks WHERE len(t) >= 13)),
        |dg AS (
        |  SELECT g FROM (SELECT g, doc_id FROM pos GROUP BY g, doc_id)
        |  GROUP BY g HAVING count(*) >= 2),
        |dup AS (SELECT p.doc_id, p.pos FROM pos p JOIN dg USING (g)),
        |cov AS (
        |  SELECT doc_id, count(*) AS dup_windows,
        |    CAST(sum(CASE WHEN prev IS NULL THEN 13
        |                  ELSE least(13, pos - prev) END) AS BIGINT) AS covered_tokens
        |  FROM (SELECT doc_id, pos,
        |          lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        |        FROM dup)
        |  GROUP BY doc_id)
        |SELECT n.doc_id, n.n_tokens,
        |  coalesce(c.dup_windows, 0) AS dup_windows,
        |  coalesce(c.covered_tokens, 0) AS covered_tokens,
        |  round(coalesce(c.covered_tokens, 0) / greatest(n.n_tokens, 1), 6) AS dup_fraction
        |FROM nt n LEFT JOIN cov c USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "d_trim_dup_spans" ->
      // canonical = row_number 1 under (doc_id, pos) order per duplicated
      // gram; a position drops iff covered by some non-canonical window and
      // exempted by no canonical one (bool_or); text rebuilt from survivors
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'),
        |                             x -> x <> '') AS t
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, i - 1 AS pos,
        |         array_to_string(list_slice(t, i, i + 12), ' ') AS g
        |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 11)) AS i
        |        FROM toks WHERE len(t) >= 13)),
        |dup AS (
        |  SELECT g FROM (SELECT g, doc_id FROM pos GROUP BY 1, 2)
        |  GROUP BY g HAVING count(*) >= 2),
        |canon AS (
        |  SELECT g, doc_id AS cid, pos AS cpos FROM (
        |    SELECT g, doc_id, pos,
        |           row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
        |    FROM pos JOIN dup USING (g)) WHERE rn = 1),
        |drop_ps AS (
        |  SELECT doc_id, dp FROM (
        |    SELECT p.doc_id, p.pos + off.o AS dp,
        |           (p.doc_id = c.cid AND p.pos = c.cpos) AS is_canon
        |    FROM pos p JOIN canon c USING (g)
        |    CROSS JOIN (SELECT unnest(range(0, 13)) AS o) off)
        |  GROUP BY doc_id, dp HAVING NOT bool_or(is_canon)),
        |dl AS (SELECT doc_id, list(dp) AS dps FROM drop_ps GROUP BY doc_id)
        |SELECT t.doc_id,
        |  CASE WHEN t.t IS NULL THEN NULL
        |       -- array_to_string([]) is NULL in DuckDB; Spark concat_ws is ''
        |       ELSE coalesce(array_to_string(list_transform(
        |         list_filter(range(0, len(t.t)),
        |                     i -> NOT list_contains(coalesce(dl.dps, []), i)),
        |         i -> t.t[i + 1]), ' '), '') END AS text,
        |  coalesce(len(t.t), 0) AS n_tokens,
        |  coalesce(len(dl.dps), 0) AS n_dropped
        |FROM toks t LEFT JOIN dl USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "d_lm_score" ->
      // the full stupid-backoff chain in SQL: counts from the 19/20 slice,
      // per-position backoff CASE identical in structure to LmScore.score,
      // round(avg, 5) on both sides keeps libm 1-ulp noise out of the hash
      s"""$lmLpCte
        |SELECT doc_id,
        |  count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN hit3 THEN 1 ELSE 0 END) AS BIGINT) AS n_tri_hits,
        |  CAST(sum(CASE WHEN bk3 THEN 1 ELSE 0 END) AS BIGINT) AS n_backoff3,
        |  CAST(sum(CASE WHEN oov THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |  round(avg(lp), 5) AS avg_logprob
        |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "d_bpe_pairs" ->
      // generate_series is list-valued in scalar position (no lateral
      // support), so pairs come from a list_transform over index lists
      """WITH wc AS (
        |  SELECT w AS word, count(*) AS freq FROM (
        |    SELECT unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |                  x -> x <> '')) AS w
        |    FROM documents WHERE text IS NOT NULL)
        |  GROUP BY w),
        |pairs AS (
        |  SELECT unnest(list_transform(generate_series(1, length(word)-1),
        |           i -> struct_pack(a := substring(word, CAST(i AS INT), 1),
        |                            b := substring(word, CAST(i AS INT)+1, 1)))) AS pr,
        |         freq
        |  FROM wc WHERE length(word) >= 2)
        |SELECT pr.a AS a, pr.b AS b, CAST(sum(freq) AS BIGINT) AS pair_freq
        |FROM pairs GROUP BY 1, 2
        |ORDER BY pair_freq DESC, a, b LIMIT 50""".stripMargin,
    "d_exact_dedup" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_dups FROM documents
        |GROUP BY md5(lower(substring(text, 1, 40))) HAVING count(*) > 1
        |ORDER BY keep_id""".stripMargin,
    // NOT EXISTS, not NOT IN: the index's NULL-text rows carry NULL digests,
    // which null-poison NOT IN but never match an equality
    "d_incremental_dedup" ->
      """WITH idx AS (
        |  SELECT md5(lower(trim(text))) AS k FROM documents
        |  WHERE doc_id % 2 = 0),
        |b AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
        |  UNION ALL
        |  SELECT -(doc_id + 1), '   ' || text || '  '
        |  FROM documents WHERE doc_id % 4 = 0),
        |keyed AS (SELECT doc_id, md5(lower(trim(text))) AS k FROM b),
        |fresh AS (
        |  SELECT doc_id, k FROM keyed n
        |  WHERE k IS NOT NULL
        |    AND NOT EXISTS (SELECT 1 FROM idx WHERE idx.k = n.k)),
        |kept AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id,
        |           row_number() OVER (PARTITION BY k ORDER BY doc_id) AS rn
        |    FROM fresh) WHERE rn = 1
        |  UNION ALL
        |  SELECT doc_id FROM keyed WHERE k IS NULL)
        |SELECT doc_id FROM kept ORDER BY doc_id""".stripMargin,
    "d_quality" ->
      """WITH t AS (SELECT doc_id, length(text) AS n_chars,
        |                  list_filter(regexp_split_to_array(trim(text), '\s+'),
        |                              x -> x <> '') AS w
        |           FROM documents)
        |SELECT doc_id, len(w) AS n_tokens, n_chars,
        |  round(len(list_filter(w, x -> lower(x) IN
        |    ('the','a','of','and','to','in','is','that','it','for')))::DOUBLE
        |    / greatest(len(w), 1), 6) AS stopword_ratio,
        |  round(list_sum(list_transform(w, x -> length(x)))::DOUBLE
        |    / greatest(len(w), 1), 6) AS mean_word_len
        |FROM t ORDER BY doc_id""".stripMargin,
    "d_quality_calibrate" ->
      // the composite score is reproduced term-for-term (same stopword set
      // as d_quality; punct class = Java's ASCII \p{Punct}, written out as
      // explicit ranges because RE2's \p{P} is the different Unicode
      // category); percent_rank is computed per row here — the oracle does
      // not need the histogram reshape, only the same tie semantics, and
      // ranking on the rounded score guarantees those
      """WITH t AS (SELECT doc_id, source, text,
        |  list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS w
        |  FROM documents),
        |sc AS (SELECT doc_id, source, round(
        |    least(len(w)::DOUBLE / 64.0, 1.0) * 0.4
        |  + greatest(1.0 - ((length(text) - length(regexp_replace(text,
        |      '[!-/:-@[-`{-~]', '', 'g')))::DOUBLE
        |      / greatest(length(text), 1)) * 5, 0.0) * 0.2
        |  + greatest(1.0 - ((length(text) - length(regexp_replace(text,
        |      '[0-9]', '', 'g')))::DOUBLE
        |      / greatest(length(text), 1)) * 5, 0.0) * 0.2
        |  + least((len(list_filter(w, x -> lower(x) IN
        |      ('the','a','of','and','to','in','is','that','it','for')))::DOUBLE
        |      / greatest(len(w), 1)) * 4, 1.0) * 0.2, 6) AS q
        |  FROM t),
        |r AS (SELECT doc_id, source, q,
        |  percent_rank() OVER (PARTITION BY source ORDER BY q NULLS FIRST) AS pr
        |  FROM sc)
        |SELECT doc_id, source, q, pr >= 0.3 AS kept FROM r ORDER BY doc_id""".stripMargin,
    "d_repetition" ->
      // identical normalization on both sides: lines/paragraphs are trimmed
      // and blank-dropped before counting; n-gram character mass is counted
      // in the whitespace-normalized text (tokens single-space-joined)
      """WITH lines AS (
        |  SELECT doc_id, trim(l) AS ln
        |  FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS l FROM documents)
        |  WHERE trim(l) <> ''),
        |lg AS (SELECT doc_id, ln, count(*) AS c FROM lines GROUP BY 1, 2),
        |ls AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS total,
        |              CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup,
        |              CAST(sum(c * length(ln)) AS BIGINT) AS tchars,
        |              CAST(sum(CASE WHEN c > 1 THEN c * length(ln) ELSE 0 END) AS BIGINT) AS dchars
        |       FROM lg GROUP BY 1),
        |paras AS (
        |  SELECT doc_id, trim(p) AS pa
        |  FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '\n{2,}')) AS p FROM documents)
        |  WHERE trim(p) <> ''),
        |pg AS (SELECT doc_id, pa, count(*) AS c FROM paras GROUP BY 1, 2),
        |ps AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS total,
        |              CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup
        |       FROM pg GROUP BY 1),
        |toks AS (SELECT doc_id,
        |                list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS w
        |         FROM documents),
        |norm AS (SELECT doc_id, greatest(length(array_to_string(w, ' ')), 1) AS nl FROM toks),
        |g2 AS (SELECT doc_id, unnest(list_transform(range(1, len(w)),
        |         i -> w[i] || ' ' || w[i+1])) AS g
        |       FROM toks WHERE len(w) >= 2),
        |g2s AS (SELECT doc_id, CAST(max_by(c * length(g), c * 10000000000 + c * length(g)) AS BIGINT) AS top
        |        FROM (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2) GROUP BY 1),
        |g3 AS (SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
        |         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
        |       FROM toks WHERE len(w) >= 3),
        |g3s AS (SELECT doc_id, CAST(max_by(c * length(g), c * 10000000000 + c * length(g)) AS BIGINT) AS top
        |        FROM (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2) GROUP BY 1),
        |g5 AS (SELECT doc_id, unnest(list_transform(range(1, len(w) - 3),
        |         i -> array_to_string(list_slice(w, i, i + 4), ' '))) AS g
        |       FROM toks WHERE len(w) >= 5),
        |g5s AS (SELECT doc_id,
        |          CAST(sum(CASE WHEN c > 1 THEN c * length(g) ELSE 0 END) AS BIGINT) AS dupc
        |        FROM (SELECT doc_id, g, count(*) AS c FROM g5 GROUP BY 1, 2) GROUP BY 1)
        |SELECT d.doc_id,
        |  coalesce(ls.total, 0) AS n_lines,
        |  round(coalesce(ls.dup, 0)::DOUBLE / greatest(coalesce(ls.total, 0), 1), 6) AS dup_line_frac,
        |  round(coalesce(ls.dchars, 0)::DOUBLE / greatest(coalesce(ls.tchars, 0), 1), 6) AS dup_line_char_frac,
        |  round(coalesce(ps.dup, 0)::DOUBLE / greatest(coalesce(ps.total, 0), 1), 6) AS dup_para_frac,
        |  round(coalesce(g2s.top, 0)::DOUBLE / n.nl, 6) AS top_2gram_char_frac,
        |  round(coalesce(g3s.top, 0)::DOUBLE / n.nl, 6) AS top_3gram_char_frac,
        |  round(coalesce(g5s.dupc, 0)::DOUBLE / n.nl, 6) AS dup_5gram_char_frac
        |FROM documents d
        |JOIN norm n USING (doc_id)
        |LEFT JOIN ls USING (doc_id) LEFT JOIN ps USING (doc_id)
        |LEFT JOIN g2s USING (doc_id) LEFT JOIN g3s USING (doc_id) LEFT JOIN g5s USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    "d_source_stats" ->
      """SELECT source, lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |       min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents GROUP BY source, lang ORDER BY source, lang""".stripMargin,
    // the extractor's regex passes verbatim (RE2 side needs the 'g' flag —
    // DuckDB replaces first-match by default; Spark is global by default)
    "d_html_extract" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    '<html><head><title>T</title><style>p{color:red}</style>'
        |    || '<script>var x = 1 < 2;</script></head><body><h1>Doc '
        |    || CAST(doc_id AS VARCHAR) || '</h1><p>'
        |    || replace(text, ' and ', ' &amp; ')
        |    || '</p><div>footer&nbsp;&copy; 2020</div><!-- hidden --></body></html>' AS t
        |  FROM documents),
        |e1 AS (SELECT doc_id,
        |  regexp_replace(t, '(?is)<script[^>]*>.*?</script>', ' ', 'g') AS t FROM h),
        |e2 AS (SELECT doc_id,
        |  regexp_replace(t, '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS t FROM e1),
        |e3 AS (SELECT doc_id,
        |  regexp_replace(t, '(?s)<!--.*?-->', ' ', 'g') AS t FROM e2),
        |e4 AS (SELECT doc_id, regexp_replace(t,
        |  '(?i)<(br|/p|/div|/h[1-6]|/li|/tr|/ul|/ol|/table)(>|[ \t/][^>]*>)', chr(10), 'g') AS t FROM e3),
        |e5 AS (SELECT doc_id, regexp_replace(t, '<[^>]*>', ' ', 'g') AS t FROM e4),
        |e6 AS (SELECT doc_id,
        |  replace(replace(replace(replace(replace(replace(replace(t,
        |    '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |    '&#39;', ''''), '&apos;', ''''), '&amp;', '&') AS t FROM e5),
        |e7 AS (SELECT doc_id,
        |  regexp_replace(t, '[ \t\r\f\x0B]+', ' ', 'g') AS t FROM e6),
        |e8 AS (SELECT doc_id,
        |  regexp_replace(t, ' ?\n ?', chr(10), 'g') AS t FROM e7)
        |SELECT doc_id,
        |       trim(regexp_replace(regexp_replace(t, '\n+', chr(10), 'g'),
        |                           '^\n+|\n+$', '', 'g')) AS text_clean
        |FROM e8 ORDER BY doc_id""".stripMargin,
    "d_langid" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |    list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |                x -> x <> '') AS w,
        |    greatest(length(text), 1) AS nchars
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is','that','it','for')))::DOUBLE / greatest(len(w),1) AS s_en,
        |    len(list_filter(w, x -> x IN ('le','la','et','les','des','un','une','du','que','est')))::DOUBLE / greatest(len(w),1) AS s_fr,
        |    len(list_filter(w, x -> x IN ('el','la','los','las','que','de','un','una','es','en')))::DOUBLE / greatest(len(w),1) AS s_es,
        |    len(list_filter(w, x -> x IN ('der','die','das','und','ein','eine','ist','nicht','mit','den')))::DOUBLE / greatest(len(w),1) AS s_de,
        |    (length(text) - length(regexp_replace(text, '[\x{4e00}-\x{9fff}]', '', 'g')))::DOUBLE / nchars * 10 AS s_zh
        |  FROM t),
        |best AS (
        |  SELECT doc_id,
        |    list_max([{'v': s_en, 'k': 'en'}, {'v': s_fr, 'k': 'fr'}, {'v': s_es, 'k': 'es'},
        |              {'v': s_de, 'k': 'de'}, {'v': s_zh, 'k': 'zh'}]) AS b
        |  FROM s)
        |SELECT CASE WHEN b.v > 0 THEN b.k ELSE 'und' END AS pred_lang, count(*) AS n
        |FROM best GROUP BY 1 ORDER BY pred_lang""".stripMargin,
    "d_ngram_jaccard" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'),
        |                             x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
        |  FROM toks WHERE len(t) >= 3),
        |sizes AS (SELECT doc_id, len(s) AS n FROM sh),
        |inv AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
        |freq AS (SELECT shingle, count(*) AS c FROM inv GROUP BY 1),
        |kept AS (SELECT i.doc_id, i.shingle FROM inv i JOIN freq f USING (shingle)
        |         WHERE f.c BETWEEN 2 AND 50),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        |  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |j AS (
        |  SELECT id_a, id_b,
        |    round(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 6) AS jaccard
        |  FROM pairs JOIN sizes sa ON sa.doc_id = pairs.id_a
        |             JOIN sizes sb ON sb.doc_id = pairs.id_b)
        |SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.12
        |ORDER BY id_a, id_b""".stripMargin,

    // fixture-split pair-leg oracles (see the sqlChecked comment): the
    // signature tables are Spark-written parquet fixtures at static paths;
    // the SQL recomputes banding / probe expansion / estimate / threshold /
    // dedup from them. k=64, bands=16 -> 4-slot band slices; the agreement
    // estimate eq/64 is an exact binary multiple, so the 0.2 threshold and
    // 6-dp round can never flip across engines. Every oracle projects the
    // fixture's DISTINCT sf_key stamp into its result (the Spark entry
    // labels its result with the key it wrote), so a stale fixture from
    // another sf dir mismatches LOUDLY instead of false-greening.
    "d_minhash_band_pairs" ->
      """WITH sk AS (
        |  SELECT DISTINCT sf_key
        |  FROM read_parquet('/tmp/graft_fixtures/minhash_sigs/*.parquet')),
        |sigs AS (
        |  SELECT id, sig
        |  FROM read_parquet('/tmp/graft_fixtures/minhash_sigs/*.parquet')
        |  WHERE sig[1] <> 9223372036854775807),
        |bands AS (SELECT unnest(range(0, 16)) AS band),
        |banded AS (
        |  SELECT id, sig, band, list_slice(sig, band*4 + 1, band*4 + 4) AS key
        |  FROM sigs, bands),
        |scored AS (
        |  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
        |    CAST(len(list_filter(range(1, 65), i -> a.sig[i] = b.sig[i]))
        |         AS DOUBLE) / 64 AS je
        |  FROM banded a JOIN banded b
        |    ON a.band = b.band AND a.key = b.key AND a.id < b.id)
        |SELECT id_a, id_b, round(je, 6) AS jaccard_est, sf_key
        |FROM scored, sk WHERE je >= 0.2e0
        |ORDER BY id_a, id_b""".stripMargin,

    // 64-bit simhash, radius 3 -> 4 disjoint 16-bit bands (pigeonhole-
    // complete); the sign-fill difference between engines' >> disappears
    // under the 16-bit mask, and xor/bit_count are exact integer ops
    "d_simhash_band_pairs" ->
      """WITH sk AS (
        |  SELECT DISTINCT sf_key
        |  FROM read_parquet('/tmp/graft_fixtures/simhash_sigs/*.parquet')),
        |sigs AS (
        |  SELECT id, sig
        |  FROM read_parquet('/tmp/graft_fixtures/simhash_sigs/*.parquet')
        |  WHERE sig IS NOT NULL),
        |bands AS (SELECT unnest(range(0, 4)) AS band),
        |banded AS (
        |  SELECT id, sig, band, (sig >> (band * 16)) & 65535 AS bucket
        |  FROM sigs, bands),
        |cand AS (
        |  SELECT DISTINCT a.id AS id_a, b.id AS id_b, xor(a.sig, b.sig) AS x
        |  FROM banded a JOIN banded b
        |    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id)
        |SELECT id_a, id_b, CAST(bit_count(x) AS INTEGER) AS hamming, sf_key
        |FROM cand, sk WHERE bit_count(x) <= 3
        |ORDER BY id_a, id_b""".stripMargin,

    // two-fixture cross join: batch sigs × corpus sigs, no id ordering
    "d_incremental_band_pairs" ->
      """WITH sk AS (
        |  SELECT DISTINCT sf_key FROM (
        |    SELECT sf_key
        |    FROM read_parquet('/tmp/graft_fixtures/minhash_batch_sigs/*.parquet')
        |    UNION ALL
        |    SELECT sf_key
        |    FROM read_parquet('/tmp/graft_fixtures/minhash_corpus_sigs/*.parquet'))),
        |bsig AS (
        |  SELECT id, sig
        |  FROM read_parquet('/tmp/graft_fixtures/minhash_batch_sigs/*.parquet')
        |  WHERE sig[1] <> 9223372036854775807),
        |csig AS (
        |  SELECT id, sig
        |  FROM read_parquet('/tmp/graft_fixtures/minhash_corpus_sigs/*.parquet')
        |  WHERE sig[1] <> 9223372036854775807),
        |bands AS (SELECT unnest(range(0, 16)) AS band),
        |bb AS (
        |  SELECT id, sig, band, list_slice(sig, band*4 + 1, band*4 + 4) AS key
        |  FROM bsig, bands),
        |cb AS (
        |  SELECT id, sig, band, list_slice(sig, band*4 + 1, band*4 + 4) AS key
        |  FROM csig, bands),
        |scored AS (
        |  SELECT DISTINCT b.id AS batch_id, c.id AS corpus_id,
        |    CAST(len(list_filter(range(1, 65), i -> b.sig[i] = c.sig[i]))
        |         AS DOUBLE) / 64 AS je
        |  FROM bb b JOIN cb c ON b.band = c.band AND b.key = c.key)
        |SELECT batch_id, corpus_id, round(je, 6) AS jaccard_est, sf_key
        |FROM scored, sk WHERE je >= 0.2e0
        |ORDER BY batch_id, corpus_id""".stripMargin,

    // integer probe over the milli-quantized fixtures, then the a_ann_topk
    // scoring fragment over the probed candidates
    "a_ann_ivf_probe" ->
      """WITH sk AS (
        |  SELECT DISTINCT sf_key FROM (
        |    SELECT sf_key
        |    FROM read_parquet('/tmp/graft_fixtures/ivf_centroids_milli/*.parquet')
        |    UNION ALL
        |    SELECT sf_key
        |    FROM read_parquet('/tmp/graft_fixtures/ivf_query_milli/*.parquet')
        |    UNION ALL
        |    SELECT sf_key
        |    FROM read_parquet('/tmp/graft_fixtures/ivf_assign/*.parquet'))),
        |cm AS (
        |  SELECT list, cmilli
        |  FROM read_parquet('/tmp/graft_fixtures/ivf_centroids_milli/*.parquet')),
        |qmt AS (
        |  SELECT j, qm
        |  FROM read_parquet('/tmp/graft_fixtures/ivf_query_milli/*.parquet')),
        |qv AS (SELECT list(qm ORDER BY j) AS ql FROM qmt),
        |d AS (
        |  SELECT list,
        |    list_sum(list_transform(range(1, len(cmilli) + 1),
        |      i -> (cmilli[i] - ql[i]) * (cmilli[i] - ql[i]))) AS d2
        |  FROM cm, qv),
        |probes AS (SELECT list FROM d ORDER BY d2, list LIMIT 6),
        |cand AS (
        |  SELECT a.id
        |  FROM read_parquet('/tmp/graft_fixtures/ivf_assign/*.parquet') a
        |  JOIN probes USING (list)),
        |q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id AS id,
        |       round(list_cosine_similarity(e.embedding::DOUBLE[],
        |                                    q.qvec::DOUBLE[]), 6) AS cosine,
        |       sf_key
        |FROM embeddings e JOIN cand ON e.vec_id = cand.id, q, sk
        |ORDER BY cosine DESC, id LIMIT 10""".stripMargin,

    // integer centroid probe → integer ADC shortlist (LUT join) → exact
    // cosine re-rank, all from the persisted fixtures
    "a_ann_ivfpq_probe" ->
      """WITH sk AS (
        |  SELECT DISTINCT sf_key FROM (
        |    SELECT sf_key
        |    FROM read_parquet('/tmp/graft_fixtures/ivfpq_centroids_milli/*.parquet')
        |    UNION ALL
        |    SELECT sf_key
        |    FROM read_parquet('/tmp/graft_fixtures/ivfpq_query_milli/*.parquet')
        |    UNION ALL
        |    SELECT sf_key
        |    FROM read_parquet('/tmp/graft_fixtures/ivfpq_codes/*.parquet')
        |    UNION ALL
        |    SELECT sf_key
        |    FROM read_parquet('/tmp/graft_fixtures/ivfpq_lut_micro/*.parquet'))),
        |cm AS (
        |  SELECT list, cmilli
        |  FROM read_parquet('/tmp/graft_fixtures/ivfpq_centroids_milli/*.parquet')),
        |qmt AS (
        |  SELECT j, qm
        |  FROM read_parquet('/tmp/graft_fixtures/ivfpq_query_milli/*.parquet')),
        |qv AS (SELECT list(qm ORDER BY j) AS ql FROM qmt),
        |d AS (
        |  SELECT list,
        |    list_sum(list_transform(range(1, len(cmilli) + 1),
        |      i -> (cmilli[i] - ql[i]) * (cmilli[i] - ql[i]))) AS d2
        |  FROM cm, qv),
        |probes AS (SELECT list FROM d ORDER BY d2, list LIMIT 6),
        |codes AS (
        |  SELECT c.id, c.pq_code
        |  FROM read_parquet('/tmp/graft_fixtures/ivfpq_codes/*.parquet') c
        |  JOIN probes USING (list)),
        |ex AS (
        |  SELECT id, sc['sub'] AS sub, sc['code'] AS code
        |  FROM (SELECT id,
        |          unnest(list_transform(range(1, len(pq_code) + 1),
        |            i -> {'sub': i - 1, 'code': pq_code[i]})) AS sc
        |        FROM codes)),
        |lut AS (
        |  SELECT sub, code, lutm
        |  FROM read_parquet('/tmp/graft_fixtures/ivfpq_lut_micro/*.parquet')),
        |short AS (
        |  SELECT id, sum(lutm) AS adcm
        |  FROM ex JOIN lut USING (sub, code)
        |  GROUP BY id ORDER BY adcm DESC, id LIMIT 100),
        |q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id AS id,
        |       round(list_cosine_similarity(e.embedding::DOUBLE[],
        |                                    q.qvec::DOUBLE[]), 6) AS cosine,
        |       sf_key
        |FROM embeddings e JOIN short ON e.vec_id = short.id, q, sk
        |ORDER BY cosine DESC, id LIMIT 10""".stripMargin,

    // placement arithmetic over the persisted raw hashes
    "q_murmur2_fixture_partition" ->
      """WITH sk AS (
        |  SELECT DISTINCT sf_key
        |  FROM read_parquet('/tmp/graft_fixtures/murmur2_hashes/*.parquet'))
        |SELECT (m2 & 2147483647) % 12 AS target_partition, count(*) AS n,
        |       any_value(sk.sf_key) AS sf_key
        |FROM read_parquet('/tmp/graft_fixtures/murmur2_hashes/*.parquet'), sk
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // Hamming probe over the persisted signatures (query row's own bucket
    // included), exact cosine scoring like a_ann_topk's fragment
    "a_ann_lsh_probe" ->
      """WITH sk AS (
        |  SELECT DISTINCT sf_key
        |  FROM read_parquet('/tmp/graft_fixtures/ann_lsh_sigs/*.parquet')),
        |sigs AS (
        |  SELECT id, bucket
        |  FROM read_parquet('/tmp/graft_fixtures/ann_lsh_sigs/*.parquet')),
        |qs AS (SELECT bucket AS qb FROM sigs WHERE id = 0),
        |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |cand AS (
        |  SELECT s.id FROM sigs s, qs
        |  WHERE s.id <> 0 AND bit_count(xor(s.bucket, qs.qb)) <= 3)
        |SELECT e.vec_id AS id,
        |       round(list_cosine_similarity(e.embedding::DOUBLE[],
        |                                    q.qv::DOUBLE[]), 6) AS cosine,
        |       sf_key
        |FROM embeddings e JOIN cand ON e.vec_id = cand.id, q, sk
        |ORDER BY cosine DESC, id LIMIT 10""".stripMargin,

    // one-directional multi-probe: probe rows join only onto raw rows
    "d_embedding_band_pairs" ->
      """WITH sk AS (
        |  SELECT DISTINCT sf_key
        |  FROM read_parquet('/tmp/graft_fixtures/emb_band_sigs/*.parquet')),
        |f AS (
        |  SELECT id, tbl, bucket, is_probe
        |  FROM read_parquet('/tmp/graft_fixtures/emb_band_sigs/*.parquet'))
        |SELECT DISTINCT a.id AS id_a, b.id AS id_b, sf_key
        |FROM f a JOIN f b ON a.tbl = b.tbl AND a.bucket = b.bucket, sk
        |WHERE NOT b.is_probe AND a.id < b.id
        |ORDER BY id_a, id_b""".stripMargin,

    // SemDeDup grouping leg over the micro-quantized assignment fixture:
    // within-cluster integer-dot pairs at the 3e11 threshold, min-id
    // connected components (recursive CTE), min-(centroid-dot, id)
    // exemplar per component
    "d_semantic_groups" ->
      """WITH RECURSIVE sk AS (
        |  SELECT DISTINCT sf_key FROM (
        |    SELECT sf_key
        |    FROM read_parquet('/tmp/graft_fixtures/sem_assign/*.parquet')
        |    UNION ALL
        |    SELECT sf_key
        |    FROM read_parquet('/tmp/graft_fixtures/sem_centroids/*.parquet'))),
        |f AS (
        |  SELECT id, list, umicro
        |  FROM read_parquet('/tmp/graft_fixtures/sem_assign/*.parquet')),
        |c AS (
        |  SELECT list, cmicro
        |  FROM read_parquet('/tmp/graft_fixtures/sem_centroids/*.parquet')),
        |p AS (
        |  SELECT a.id AS id_a, b.id AS id_b
        |  FROM f a JOIN f b ON a.list = b.list AND a.id < b.id
        |  WHERE CAST(list_sum(list_transform(range(1, len(a.umicro) + 1),
        |          i -> a.umicro[i] * b.umicro[i])) AS BIGINT)
        |        >= 300000000000),
        |edges AS (SELECT id_a AS u, id_b AS v FROM p
        |          UNION SELECT id_b, id_a FROM p),
        |reach(id, comp) AS (
        |  SELECT DISTINCT u, u FROM edges
        |  UNION
        |  SELECT e.v, r.comp FROM reach r JOIN edges e ON e.u = r.id),
        |cc AS (SELECT id, min(comp) AS component FROM reach GROUP BY 1),
        |members AS (
        |  SELECT f.id, f.list, cc.component,
        |    CAST(list_sum(list_transform(range(1, len(f.umicro) + 1),
        |      i -> f.umicro[i] * c.cmicro[i])) AS BIGINT) AS cos_units
        |  FROM f JOIN cc ON cc.id = f.id JOIN c USING (list)),
        |w AS (
        |  SELECT component, min(cos_units) AS mc FROM members GROUP BY 1),
        |keepers AS (
        |  SELECT m.component, min(m.id) AS keep_id
        |  FROM members m JOIN w ON w.component = m.component
        |                       AND m.cos_units = w.mc
        |  GROUP BY 1)
        |SELECT m.id, m.list, m.component, m.cos_units,
        |       (m.id = k.keep_id) AS keep, sf_key
        |FROM members m JOIN keepers k USING (component), sk
        |ORDER BY m.id""".stripMargin,

    // quality-classifier scoring leg over the persisted hashed features
    // and nano-quantized weights: exact integer margin + the >= 0
    // threshold decision (the intercept rides as feature -1)
    "d_quality_score_leg" ->
      """WITH sk AS (
        |  SELECT DISTINCT sf_key FROM (
        |    SELECT sf_key
        |    FROM read_parquet('/tmp/graft_fixtures/qc_feats/*.parquet')
        |    UNION ALL
        |    SELECT sf_key
        |    FROM read_parquet('/tmp/graft_fixtures/qc_weights/*.parquet'))),
        |f AS (
        |  SELECT doc_id, idx, tf
        |  FROM read_parquet('/tmp/graft_fixtures/qc_feats/*.parquet')),
        |w AS (
        |  SELECT idx, coefn
        |  FROM read_parquet('/tmp/graft_fixtures/qc_weights/*.parquet')),
        |m AS (
        |  SELECT doc_id, CAST(sum(tf * coefn) AS BIGINT) AS margin_nano
        |  FROM f JOIN w USING (idx) GROUP BY 1)
        |SELECT doc_id, margin_nano,
        |       CAST(margin_nano >= 0 AS BIGINT) AS pred, sf_key
        |FROM m, sk ORDER BY doc_id""".stripMargin,
    // the jaccard pipeline at the loose 0.05 cut + byte-level levenshtein on
    // the 120-char prefixes (the corpus is pure ASCII at every sf, so
    // DuckDB's byte distances equal Spark's codepoint distances)
    "d_edit_confirm" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'),
        |                             x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
        |  FROM toks WHERE len(t) >= 3),
        |sizes AS (SELECT doc_id, len(s) AS n FROM sh),
        |inv AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
        |freq AS (SELECT shingle, count(*) AS c FROM inv GROUP BY 1),
        |kept AS (SELECT i.doc_id, i.shingle FROM inv i JOIN freq f USING (shingle)
        |         WHERE f.c BETWEEN 2 AND 25),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        |  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |j AS (
        |  SELECT id_a, id_b,
        |    round(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 6) AS jaccard
        |  FROM pairs JOIN sizes sa ON sa.doc_id = pairs.id_a
        |             JOIN sizes sb ON sb.doc_id = pairs.id_b),
        |cand AS (SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.05),
        |pfx AS (SELECT doc_id, substring(text, 1, 120) AS p FROM documents)
        |SELECT id_a, id_b, jaccard, levenshtein(pa.p, pb.p) AS edit_dist
        |FROM cand JOIN pfx pa ON pa.doc_id = cand.id_a
        |          JOIN pfx pb ON pb.doc_id = cand.id_b
        |WHERE levenshtein(pa.p, pb.p) <= 30
        |ORDER BY id_a, id_b""".stripMargin,
    "d_normalize" ->
      // chr(769)=U+0301 combining acute, chr(778)=U+030A combining ring,
      // chr(7)=BEL; DuckDB nfc_normalize oracles the JDK Normalizer
      """WITH p AS (SELECT doc_id,
        |    text || ' cafe' || chr(769) || ' A' || chr(7) || chr(778) || ' end' AS t
        |  FROM documents),
        |n AS (SELECT doc_id, t,
        |    nfc_normalize(regexp_replace(t, '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g')) AS tn
        |  FROM p)
        |SELECT doc_id, tn AS text_norm,
        |       CAST(length(t) - length(tn) AS BIGINT) AS shrunk
        |FROM n ORDER BY doc_id""".stripMargin,
    "d_redact" ->
      // same dialect-neutral patterns as CorpusClean (Java regex == RE2 for
      // these); DuckDB regexp_replace needs the 'g' flag for replace-all
      """WITH p AS (SELECT doc_id,
        |    text || ' contact user' || doc_id || '@mail.example.org or http://doc'
        |         || doc_id || '.example/path?ref=1 call 555-101-' || doc_id AS t
        |  FROM documents),
        |r AS (SELECT doc_id, t,
        |    regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+', '<EMAIL>', 'g') AS t1
        |  FROM p),
        |r2 AS (SELECT doc_id, t, t1,
        |    regexp_replace(t1, 'https?://[^ \t\n\r]+', '<URL>', 'g') AS t2 FROM r)
        |SELECT doc_id,
        |  regexp_replace(t2, '[0-9][0-9 ()+.-]{6,}[0-9]', '<NUMBER>', 'g') AS text_redacted,
        |  CAST(len(string_split_regex(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+')) - 1 AS BIGINT) AS n_emails,
        |  CAST(len(string_split_regex(t1, 'https?://[^ \t\n\r]+')) - 1 AS BIGINT) AS n_urls,
        |  CAST(len(string_split_regex(t2, '[0-9][0-9 ()+.-]{6,}[0-9]')) - 1 AS BIGINT) AS n_numbers
        |FROM r2 ORDER BY doc_id""".stripMargin,
    "d_pack_shards" ->
      """WITH t AS (SELECT source, doc_id,
        |    CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |                         x -> x <> '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT source, doc_id, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |                        ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t)
        |SELECT source, CAST(floor((cum - n_tokens) / 500.0) AS BIGINT) AS shard_id,
        |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS shard_tokens
        |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // same prefix-sum arithmetic as d_pack_shards, at token-window
    // granularity (documents flow across 512-token boundaries)
    "d_pack_sequences" ->
      """WITH t AS (SELECT source, doc_id,
        |    CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |                         x -> x <> '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT source, doc_id, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |                             ROWS UNBOUNDED PRECEDING) - n_tokens
        |         AS BIGINT) AS start_offset
        |  FROM t),
        |s AS (SELECT source, doc_id, n_tokens, start_offset,
        |    CAST(floor(start_offset / 512.0) AS BIGINT) AS seq_first,
        |    CASE WHEN n_tokens > 0
        |         THEN CAST(floor((start_offset + n_tokens - 1) / 512.0) AS BIGINT)
        |         ELSE CAST(floor(start_offset / 512.0) AS BIGINT) END AS seq_last
        |  FROM c)
        |SELECT source, doc_id, n_tokens, start_offset, seq_first, seq_last,
        |       seq_last - seq_first + 1 AS n_seqs
        |FROM s ORDER BY source, doc_id""".stripMargin,
    // same closed-form start arithmetic; DuckDB range(n) is [0, n) like
    // Spark sequence(0, n-1); null-text rows join back with null chunk fields
    "d_chunk_windows" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS len FROM documents),
        |n AS (SELECT doc_id, text,
        |        CASE WHEN len <= 200 THEN CAST(1 AS BIGINT)
        |             ELSE CAST(ceil((len - 200) / 150.0) AS BIGINT) + 1
        |        END AS n_chunks
        |      FROM d WHERE text IS NOT NULL),
        |e AS (SELECT doc_id, n_chunks, text,
        |             UNNEST(range(n_chunks)) AS chunk_idx FROM n)
        |SELECT doc_id, n_chunks, chunk_idx,
        |       chunk_idx * 150 AS chunk_start,
        |       substr(text, CAST(chunk_idx * 150 + 1 AS INTEGER), 200) AS chunk
        |FROM e
        |UNION ALL
        |SELECT doc_id, NULL, NULL, NULL, NULL FROM d WHERE text IS NULL
        |ORDER BY doc_id, chunk_idx""".stripMargin,
    // token form: DuckDB list_slice is 1-based inclusive [a, b] =
    // Spark slice(arr, a, len) with b = a + len - 1. Shares the battery-wide
    // whitespace-token convention (Java \s vs RE2 \s differ on U+000B; no
    // entry normalizes first, and the corpus carries none — normalizeText
    // strips it for pipelines that do)
    "d_chunk_tokens" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(text), '\s+'),
        |                x -> x <> '') AS w
        |  FROM documents WHERE text IS NOT NULL),
        |n AS (SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n_tokens,
        |        CASE WHEN len(w) <= 32 THEN CAST(1 AS BIGINT)
        |             ELSE CAST(ceil((len(w) - 32) / 24.0) AS BIGINT) + 1
        |        END AS n_chunks
        |      FROM t),
        |e AS (SELECT doc_id, n_tokens, n_chunks, w,
        |             UNNEST(range(n_chunks)) AS chunk_idx FROM n)
        |SELECT doc_id, n_tokens, n_chunks, chunk_idx,
        |       chunk_idx * 24 AS chunk_start,
        |       array_to_string(list_slice(w, chunk_idx * 24 + 1,
        |                                  chunk_idx * 24 + 32), ' ') AS chunk
        |FROM e
        |UNION ALL
        |SELECT doc_id, NULL, NULL, NULL, NULL, NULL FROM documents
        |WHERE text IS NULL
        |ORDER BY doc_id, chunk_idx""".stripMargin,
    "d_corpus_filter" ->
      """WITH lines AS (
        |  SELECT doc_id, trim(l) AS ln
        |  FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS l FROM documents)
        |  WHERE trim(l) <> ''),
        |lg AS (SELECT doc_id, ln, count(*) AS c FROM lines GROUP BY 1, 2),
        |ls AS (SELECT doc_id,
        |              CAST(sum(c * length(ln)) AS BIGINT) AS tchars,
        |              CAST(sum(CASE WHEN c > 1 THEN c * length(ln) ELSE 0 END) AS BIGINT) AS dchars
        |       FROM lg GROUP BY 1),
        |toks AS (SELECT doc_id,
        |                list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS w
        |         FROM documents),
        |norm AS (SELECT doc_id, len(w) AS n_tokens,
        |                greatest(length(array_to_string(w, ' ')), 1) AS nl FROM toks),
        |g2 AS (SELECT doc_id, unnest(list_transform(range(1, len(w)),
        |         i -> w[i] || ' ' || w[i+1])) AS g
        |       FROM toks WHERE len(w) >= 2),
        |g2s AS (SELECT doc_id, CAST(max_by(c * length(g), c * 10000000000 + c * length(g)) AS BIGINT) AS top
        |        FROM (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2) GROUP BY 1),
        |sig AS (
        |  SELECT n.doc_id, n.n_tokens,
        |    coalesce(ls.dchars, 0)::DOUBLE / greatest(coalesce(ls.tchars, 0), 1) AS dlcf,
        |    coalesce(g2s.top, 0)::DOUBLE / n.nl AS t2f
        |  FROM norm n LEFT JOIN ls USING (doc_id) LEFT JOIN g2s USING (doc_id))
        |SELECT doc_id,
        |  (CASE WHEN n_tokens < 30 THEN 'too_short'
        |        WHEN dlcf > 0.2 THEN 'dup_lines'
        |        WHEN t2f > 0.15 THEN 'repetitive_ngrams' END) IS NULL AS keep,
        |  CASE WHEN n_tokens < 30 THEN 'too_short'
        |       WHEN dlcf > 0.2 THEN 'dup_lines'
        |       WHEN t2f > 0.15 THEN 'repetitive_ngrams' END AS reason
        |FROM sig ORDER BY doc_id""".stripMargin,
    "d_line_dedup" ->
      """WITH ls AS (SELECT doc_id, string_split(text, chr(10)) AS a FROM documents),
        |lines AS (
        |  SELECT doc_id, i AS idx, trim(a[i+1]) AS ln
        |  FROM ls, unnest(range(0, len(a))) AS t(i)
        |  WHERE trim(a[i+1]) <> ''),
        |kept AS (
        |  SELECT doc_id, idx, ln FROM (
        |    SELECT doc_id, idx, ln,
        |           row_number() OVER (PARTITION BY ln ORDER BY doc_id, idx) AS rk
        |    FROM lines) WHERE rk = 1),
        |agg AS (SELECT doc_id, string_agg(ln, chr(10) ORDER BY idx) AS text_clean,
        |               count(*) AS n_kept FROM kept GROUP BY 1),
        |tot AS (SELECT doc_id, count(*) AS n_lines FROM lines GROUP BY 1)
        |SELECT d.doc_id, coalesce(a.text_clean, '') AS text_clean,
        |  coalesce(a.n_kept, 0) AS n_kept,
        |  coalesce(tot.n_lines, 0) - coalesce(a.n_kept, 0) AS n_dropped
        |FROM documents d LEFT JOIN agg a USING (doc_id) LEFT JOIN tot USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    "d_dedup_clusters" ->
      // same pair list as d_ngram_jaccard, then component = min id reachable
      // over the symmetric edge set (recursive CTE = the transitive closure
      // the large-star/small-star rounds compute distributively)
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'),
        |                             x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
        |  FROM toks WHERE len(t) >= 3),
        |sizes AS (SELECT doc_id, len(s) AS n FROM sh),
        |inv AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
        |freq AS (SELECT shingle, count(*) AS c FROM inv GROUP BY 1),
        |kept AS (SELECT i.doc_id, i.shingle FROM inv i JOIN freq f USING (shingle)
        |         WHERE f.c BETWEEN 2 AND 50),
        |cand AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        |  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |p AS (
        |  SELECT id_a, id_b
        |  FROM cand JOIN sizes sa ON sa.doc_id = cand.id_a
        |            JOIN sizes sb ON sb.doc_id = cand.id_b
        |  WHERE round(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 6) >= 0.12),
        |edges AS (SELECT id_a AS u, id_b AS v FROM p
        |          UNION SELECT id_b, id_a FROM p),
        |reach(id, comp) AS (
        |  SELECT DISTINCT u, u FROM edges
        |  UNION
        |  SELECT e.v, r.comp FROM reach r JOIN edges e ON e.u = r.id),
        |cc AS (SELECT id, min(comp) AS component FROM reach GROUP BY 1)
        |SELECT component, count(*) AS n_members, max(id) AS max_member
        |FROM cc GROUP BY 1 ORDER BY 1""".stripMargin,
    "d_dedup_canonical" ->
      // same closure as d_dedup_clusters, joined back onto the corpus:
      // component = min reachable id (own id for singletons), canonical =
      // the group's minimum member
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'),
        |                             x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
        |  FROM toks WHERE len(t) >= 3),
        |sizes AS (SELECT doc_id, len(s) AS n FROM sh),
        |inv AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
        |freq AS (SELECT shingle, count(*) AS c FROM inv GROUP BY 1),
        |kept AS (SELECT i.doc_id, i.shingle FROM inv i JOIN freq f USING (shingle)
        |         WHERE f.c BETWEEN 2 AND 50),
        |cand AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        |  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |p AS (
        |  SELECT id_a, id_b
        |  FROM cand JOIN sizes sa ON sa.doc_id = cand.id_a
        |            JOIN sizes sb ON sb.doc_id = cand.id_b
        |  WHERE round(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 6) >= 0.12),
        |edges AS (SELECT id_a AS u, id_b AS v FROM p
        |          UNION SELECT id_b, id_a FROM p),
        |reach(id, comp) AS (
        |  SELECT DISTINCT u, u FROM edges
        |  UNION
        |  SELECT e.v, r.comp FROM reach r JOIN edges e ON e.u = r.id),
        |cc AS (SELECT id, min(comp) AS component FROM reach GROUP BY 1)
        |SELECT d.doc_id, coalesce(cc.component, d.doc_id) AS component,
        |       (d.doc_id = coalesce(cc.component, d.doc_id)) AS is_canonical
        |FROM documents d LEFT JOIN cc ON cc.id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // d_dedup_canonical's closure, then the quality-priority winner: best
    // n_chars (desc, NULLS LAST), id asc tiebreak, one survivor per group
    "d_dedup_keep_best" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'),
        |                             x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
        |  FROM toks WHERE len(t) >= 3),
        |sizes AS (SELECT doc_id, len(s) AS n FROM sh),
        |inv AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
        |freq AS (SELECT shingle, count(*) AS c FROM inv GROUP BY 1),
        |kept AS (SELECT i.doc_id, i.shingle FROM inv i JOIN freq f USING (shingle)
        |         WHERE f.c BETWEEN 2 AND 50),
        |cand AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        |  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |p AS (
        |  SELECT id_a, id_b
        |  FROM cand JOIN sizes sa ON sa.doc_id = cand.id_a
        |            JOIN sizes sb ON sb.doc_id = cand.id_b
        |  WHERE round(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 6) >= 0.12),
        |edges AS (SELECT id_a AS u, id_b AS v FROM p
        |          UNION SELECT id_b, id_a FROM p),
        |reach(id, comp) AS (
        |  SELECT DISTINCT u, u FROM edges
        |  UNION
        |  SELECT e.v, r.comp FROM reach r JOIN edges e ON e.u = r.id),
        |cc AS (SELECT id, min(comp) AS component FROM reach GROUP BY 1),
        |m AS (SELECT d.doc_id, coalesce(cc.component, d.doc_id) AS component,
        |             d.n_chars
        |      FROM documents d LEFT JOIN cc ON cc.id = d.doc_id),
        |w AS (SELECT component, doc_id AS kept_id,
        |             row_number() OVER (PARTITION BY component
        |               ORDER BY n_chars DESC NULLS LAST, doc_id) AS rn
        |      FROM m)
        |SELECT m.doc_id, m.component, w.kept_id,
        |       (m.doc_id = w.kept_id) AS is_kept
        |FROM m JOIN w ON m.component = w.component AND w.rn = 1
        |ORDER BY m.doc_id""".stripMargin,
    // the same whitespace word histogram, then every substring of length
    // 1..8 weighted by word frequency; DuckDB range(1, X+1) = [1, X] and
    // the second unnest laterally references the first's position
    "d_unigram_seeds" ->
      """WITH w AS (
        |  SELECT word, count(*) AS freq
        |  FROM (SELECT unnest(list_filter(
        |          regexp_split_to_array(trim(lower(text)), '\s+'),
        |          x -> x <> '')) AS word
        |        FROM documents)
        |  GROUP BY 1),
        |p AS (
        |  SELECT substr(word, CAST(s AS INT), CAST(l AS INT)) AS piece, freq
        |  FROM w,
        |       unnest(range(1, length(word) + 1)) AS t1(s),
        |       unnest(range(1, least(8, length(word) - s + 1) + 1)) AS t2(l))
        |SELECT piece, CAST(sum(freq) AS BIGINT) AS count
        |FROM p GROUP BY 1
        |ORDER BY count DESC, piece LIMIT 50""".stripMargin,
    "d_vocab" ->
      """SELECT w AS word, count(*) AS n, count(DISTINCT doc_id) AS n_docs
        |FROM (SELECT doc_id, unnest(list_filter(
        |        regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> '')) AS w
        |      FROM documents)
        |GROUP BY w ORDER BY n DESC, word LIMIT 50""".stripMargin,
    // DSIR reproduced end to end: gram bag (unigrams+bigrams), md5 bucket
    // fold mod 4096, add-one smoothing with exact integer totals, log-sum
    // per doc, Gumbel key from the doc-id hash. round(lw,5)/round(key,6)
    // on both sides keeps libm 1-ulp noise out of the hash, and ranking on
    // the ROUNDED key (tiebreak doc_id) makes the selected set itself
    // engine-invariant.
    "d_dsir_select" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'),
        |                             x -> x <> '') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, unnest(t || list_transform(range(1, len(t)),
        |    i -> t[i] || ' ' || t[i+1])) AS g
        |  FROM toks),
        |gb AS (
        |  SELECT doc_id,
        |    ((strpos('0123456789abcdef', substr(m, 1, 1)) - 1) * 4096
        |    + (strpos('0123456789abcdef', substr(m, 2, 1)) - 1) * 256
        |    + (strpos('0123456789abcdef', substr(m, 3, 1)) - 1) * 16
        |    + (strpos('0123456789abcdef', substr(m, 4, 1)) - 1)) % 4096 AS bucket
        |  FROM (SELECT doc_id, md5(g || ':dsir') AS m FROM grams)),
        |tc AS (SELECT bucket, count(*) AS n_t FROM gb WHERE doc_id % 7 = 1 GROUP BY 1),
        |rc AS (SELECT bucket, count(*) AS n_r FROM gb WHERE doc_id % 7 <> 1 GROUP BY 1),
        |tot AS (SELECT (SELECT coalesce(sum(n_t), 0) FROM tc) AS tt,
        |               (SELECT coalesce(sum(n_r), 0) FROM rc) AS tr),
        |ratio AS (
        |  SELECT s.bucket,
        |    ln((coalesce(n_t, 0) + 1.0) / (tt + 4096.0))
        |  - ln((coalesce(n_r, 0) + 1.0) / (tr + 4096.0)) AS lr
        |  FROM (SELECT unnest(range(0, 4096)) AS bucket) s
        |  LEFT JOIN tc USING (bucket) LEFT JOIN rc USING (bucket), tot),
        |sc AS (SELECT gb.doc_id, sum(lr) AS lw
        |       FROM gb JOIN ratio USING (bucket)
        |       WHERE gb.doc_id % 7 <> 1 GROUP BY 1),
        |scored AS (
        |  SELECT d.doc_id, coalesce(sc.lw, 0.0) AS lw
        |  FROM documents d LEFT JOIN sc USING (doc_id)
        |  WHERE d.doc_id % 7 <> 1),
        |g AS (
        |  SELECT doc_id, round(lw, 5) AS log_weight,
        |    round(lw - ln(-ln((
        |      (strpos('0123456789abcdef', substr(mg, 1, 1)) - 1) * 4096
        |    + (strpos('0123456789abcdef', substr(mg, 2, 1)) - 1) * 256
        |    + (strpos('0123456789abcdef', substr(mg, 3, 1)) - 1) * 16
        |    + (strpos('0123456789abcdef', substr(mg, 4, 1)) - 1) + 1.0) / 65537.0)),
        |      6) AS gumbel_key
        |  FROM (SELECT doc_id, lw, md5(doc_id || ':dsir:g') AS mg FROM scored))
        |SELECT doc_id, log_weight, gumbel_key
        |FROM g ORDER BY gumbel_key DESC, doc_id LIMIT 40""".stripMargin,
    "d_source_overlap" ->
      """WITH k AS (
        |  SELECT DISTINCT md5(lower(substring(text, 1, 40))) AS k, source
        |  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL)
        |SELECT a.source AS group_a, b.source AS group_b, count(*) AS n_shared
        |FROM k a JOIN k b ON a.k = b.k AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "d_split_leakage" ->
      // same split assignment as d_split_assign (cuts 52429/58982), then
      // the d_source_overlap report keyed on split
      """WITH h AS (SELECT doc_id, text, md5(doc_id || ':split') AS m
        |           FROM documents),
        |a AS (SELECT text,
        |  CASE WHEN (strpos('0123456789abcdef', substr(m, 1, 1)) - 1) * 4096
        |          + (strpos('0123456789abcdef', substr(m, 2, 1)) - 1) * 256
        |          + (strpos('0123456789abcdef', substr(m, 3, 1)) - 1) * 16
        |          + (strpos('0123456789abcdef', substr(m, 4, 1)) - 1) < 52429
        |       THEN 'train'
        |       WHEN (strpos('0123456789abcdef', substr(m, 1, 1)) - 1) * 4096
        |          + (strpos('0123456789abcdef', substr(m, 2, 1)) - 1) * 256
        |          + (strpos('0123456789abcdef', substr(m, 3, 1)) - 1) * 16
        |          + (strpos('0123456789abcdef', substr(m, 4, 1)) - 1) < 58982
        |       THEN 'val' ELSE 'test' END AS split
        |  FROM h),
        |k AS (SELECT DISTINCT md5(lower(substring(text, 1, 40))) AS k, split
        |      FROM a WHERE text IS NOT NULL)
        |SELECT x.split AS group_a, y.split AS group_b, count(*) AS n_shared
        |FROM k x JOIN k y ON x.k = y.k AND x.split < y.split
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "d_split_assign" ->
      // the 16-bit bucket is a manual hex fold of md5's first 4 chars —
      // bit-identical to Spark's conv(substring(md5, 1, 4), 16, 10); cuts
      // 52429/58982 = round(cum_weight * 65536) for 0.8 / 0.9
      """WITH h AS (SELECT doc_id, md5(doc_id || ':split') AS m FROM documents),
        |b AS (SELECT doc_id,
        |  CAST((strpos('0123456789abcdef', substr(m, 1, 1)) - 1) * 4096
        |     + (strpos('0123456789abcdef', substr(m, 2, 1)) - 1) * 256
        |     + (strpos('0123456789abcdef', substr(m, 3, 1)) - 1) * 16
        |     + (strpos('0123456789abcdef', substr(m, 4, 1)) - 1) AS BIGINT) AS bucket
        |  FROM h)
        |SELECT doc_id, bucket,
        |  CASE WHEN bucket < 52429 THEN 'train'
        |       WHEN bucket < 58982 THEN 'val' ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""".stripMargin,
    "d_mix_sample" ->
      """WITH h AS (SELECT doc_id, source, md5(doc_id || ':mix') AS m FROM documents),
        |v AS (SELECT doc_id, source,
        |  CAST((strpos('0123456789abcdef', substr(m, 1, 1)) - 1) * 4096
        |     + (strpos('0123456789abcdef', substr(m, 2, 1)) - 1) * 256
        |     + (strpos('0123456789abcdef', substr(m, 3, 1)) - 1) * 16
        |     + (strpos('0123456789abcdef', substr(m, 4, 1)) - 1) AS BIGINT) AS b,
        |  CASE WHEN source = 'src0' THEN 2.5
        |       WHEN source = 'src1' THEN 0.25 ELSE 1.0 END AS w
        |  FROM h),
        |c AS (SELECT doc_id, source,
        |  CAST(floor(w) AS BIGINT)
        |    + CASE WHEN b < round((w - floor(w)) * 65536) THEN 1 ELSE 0 END AS n
        |  FROM v)
        |SELECT doc_id, source, CAST(u AS BIGINT) AS copy
        |FROM c, unnest(range(0, n)) AS t(u)
        |ORDER BY doc_id, copy""".stripMargin,
    "d_stratified" ->
      """WITH h AS (SELECT lang, doc_id, md5(doc_id || ':strat') AS m FROM documents),
        |b AS (SELECT lang, doc_id,
        |  CAST((strpos('0123456789abcdef', substr(m, 1, 1)) - 1) * 4096
        |     + (strpos('0123456789abcdef', substr(m, 2, 1)) - 1) * 256
        |     + (strpos('0123456789abcdef', substr(m, 3, 1)) - 1) * 16
        |     + (strpos('0123456789abcdef', substr(m, 4, 1)) - 1) AS BIGINT) AS bucket
        |  FROM h),
        |r AS (SELECT lang, doc_id,
        |  row_number() OVER (PARTITION BY lang ORDER BY bucket, doc_id) AS rn FROM b)
        |SELECT lang, doc_id FROM r WHERE rn <= 20 ORDER BY lang, doc_id""".stripMargin,
    "d_decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'),
        |                             x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 11),
        |    i -> array_to_string(list_slice(t, i, i + 12), ' ')))) AS g
        |  FROM toks WHERE len(t) >= 13),
        |bench AS (SELECT DISTINCT g FROM sh WHERE doc_id % 20 = 7)
        |SELECT s.doc_id, count(*) AS n_matched
        |FROM sh s JOIN bench USING (g) WHERE s.doc_id % 20 <> 7
        |GROUP BY 1 HAVING count(*) >= 1 ORDER BY doc_id""".stripMargin,
    "d_decontaminate_report" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'),
        |                             x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 11),
        |    i -> array_to_string(list_slice(t, i, i + 12), ' ')))) AS g
        |  FROM toks WHERE len(t) >= 13)
        |SELECT c.doc_id AS doc_id, b.doc_id AS benchmark_id,
        |       count(*) AS n_shared_grams
        |FROM sh c JOIN sh b USING (g)
        |WHERE c.doc_id % 20 <> 7 AND b.doc_id % 20 = 7
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "d_decontaminate_bloom" ->
      // identical oracle as d_decontaminate: the bloom path is exact
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'),
        |                             x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 11),
        |    i -> array_to_string(list_slice(t, i, i + 12), ' ')))) AS g
        |  FROM toks WHERE len(t) >= 13),
        |bench AS (SELECT DISTINCT g FROM sh WHERE doc_id % 20 = 7)
        |SELECT s.doc_id, count(*) AS n_matched
        |FROM sh s JOIN bench USING (g) WHERE s.doc_id % 20 <> 7
        |GROUP BY 1 HAVING count(*) >= 1 ORDER BY doc_id""".stripMargin,
    "d_corpus_pipeline" ->
      // every stage of the composed pipeline re-expressed over the same
      // tables: normalize → quality filter → min-id exact dedup → 13-gram
      // decontamination vs the raw benchmark subset → md5-bucket split →
      // per-split doc/token rollup
      """WITH nt AS (SELECT doc_id, source,
        |    nfc_normalize(regexp_replace(text, '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g')) AS text
        |  FROM documents),
        |lines AS (
        |  SELECT doc_id, trim(l) AS ln
        |  FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS l FROM nt)
        |  WHERE trim(l) <> ''),
        |lg AS (SELECT doc_id, ln, count(*) AS c FROM lines GROUP BY 1, 2),
        |ls AS (SELECT doc_id,
        |              CAST(sum(c * length(ln)) AS BIGINT) AS tchars,
        |              CAST(sum(CASE WHEN c > 1 THEN c * length(ln) ELSE 0 END) AS BIGINT) AS dchars
        |       FROM lg GROUP BY 1),
        |toks AS (SELECT doc_id,
        |                list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS w
        |         FROM nt),
        |nrm AS (SELECT doc_id, len(w) AS n_tokens,
        |               greatest(length(array_to_string(w, ' ')), 1) AS nl FROM toks),
        |g2 AS (SELECT doc_id, unnest(list_transform(range(1, len(w)),
        |         i -> w[i] || ' ' || w[i+1])) AS g
        |       FROM toks WHERE len(w) >= 2),
        |g2s AS (SELECT doc_id, CAST(max_by(c * length(g), c * 10000000000 + c * length(g)) AS BIGINT) AS top
        |        FROM (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2) GROUP BY 1),
        |keep AS (
        |  SELECT n.doc_id
        |  FROM nrm n LEFT JOIN ls USING (doc_id) LEFT JOIN g2s USING (doc_id)
        |  WHERE n.n_tokens >= 30
        |    AND coalesce(ls.dchars, 0)::DOUBLE / greatest(coalesce(ls.tchars, 0), 1) <= 0.2
        |    AND coalesce(g2s.top, 0)::DOUBLE / n.nl <= 0.15),
        |dedup AS (
        |  SELECT min(doc_id) AS doc_id
        |  FROM nt JOIN keep USING (doc_id)
        |  GROUP BY md5(lower(substring(text, 1, 40)))),
        |tsh AS (
        |  SELECT t.doc_id, unnest(list_distinct(list_transform(range(1, len(w) - 11),
        |    i -> array_to_string(list_slice(w, i, i + 12), ' ')))) AS g
        |  FROM toks t JOIN dedup USING (doc_id)
        |  WHERE t.doc_id % 20 <> 7 AND len(w) >= 13),
        |braw AS (SELECT doc_id,
        |                list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS w
        |         FROM documents WHERE doc_id % 20 = 7),
        |bsh AS (
        |  SELECT DISTINCT g FROM (
        |    SELECT unnest(list_distinct(list_transform(range(1, len(w) - 11),
        |      i -> array_to_string(list_slice(w, i, i + 12), ' ')))) AS g
        |    FROM braw WHERE len(w) >= 13)),
        |cont AS (SELECT DISTINCT tsh.doc_id FROM tsh JOIN bsh USING (g)),
        |clean AS (
        |  SELECT d.doc_id FROM dedup d
        |  WHERE d.doc_id % 20 <> 7
        |    AND d.doc_id NOT IN (SELECT doc_id FROM cont)),
        |sp AS (
        |  SELECT c.doc_id,
        |    CASE WHEN b < 52429 THEN 'train' WHEN b < 58982 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM (SELECT doc_id,
        |          CAST((strpos('0123456789abcdef', substr(md5(doc_id || ':split'), 1, 1)) - 1) * 4096
        |             + (strpos('0123456789abcdef', substr(md5(doc_id || ':split'), 2, 1)) - 1) * 256
        |             + (strpos('0123456789abcdef', substr(md5(doc_id || ':split'), 3, 1)) - 1) * 16
        |             + (strpos('0123456789abcdef', substr(md5(doc_id || ':split'), 4, 1)) - 1) AS BIGINT) AS b
        |        FROM clean) x JOIN clean c USING (doc_id))
        |SELECT split, count(*) AS n_docs,
        |       CAST(sum(n.n_tokens) AS BIGINT) AS n_tokens
        |FROM sp JOIN nrm n USING (doc_id)
        |GROUP BY split ORDER BY split""".stripMargin,
    "m_frame_sample" ->
      """WITH v AS (SELECT doc_id AS media_id,
        |                  CAST(1 + octet_length(encode(text)) // 4096 AS INT) AS n_frames
        |           FROM documents WHERE doc_id % 3 = 2)
        |SELECT media_id, CAST(u AS INT) AS frame_idx, n_frames
        |FROM v, unnest(list_slice(range(0, n_frames, 3), 1, 8)) AS t(u)
        |ORDER BY media_id, frame_idx""".stripMargin,
    // FakeCodec.decodeDims = java.util.Arrays.hashCode over the utf-8
    // payload: h = fold(1, 31*h + signed_byte) with 32-bit wrap, then
    // w = 64 + floorMod(h, 512), h = 64 + floorMod(h >> 9, 512). DuckDB has
    // no byte accessor, so the fold walks hex(blob) two digits at a time;
    // the wrap is emulated in BIGINT mod 2^32 and re-signed at the end.
    // Payloads never decode as images here, so geometry passes through
    // (width = src_width) — the real resample path is golden-image-tested.
    "m_resize" ->
      """WITH b AS (
        |  SELECT doc_id AS media_id,
        |         CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
        |              WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
        |         hex(encode(coalesce(text, ''))) AS hx
        |  FROM documents),
        |h AS (
        |  SELECT media_id, media_type,
        |         list_reduce(
        |           list_prepend(CAST(1 AS BIGINT),
        |             list_transform(range(0, length(hx) // 2),
        |               i -> CAST('0x' || substring(hx, CAST(2*i+1 AS INT), 2) AS BIGINT)
        |                    - CASE WHEN CAST('0x' || substring(hx, CAST(2*i+1 AS INT), 2) AS BIGINT) > 127
        |                           THEN 256 ELSE 0 END)),
        |           (acc, x) -> ((31*acc + x) % 4294967296 + 4294967296) % 4294967296) AS hu
        |  FROM b),
        |d AS (
        |  SELECT media_id, media_type,
        |         CASE WHEN hu >= 2147483648 THEN hu - 4294967296 ELSE hu END AS h32
        |  FROM h)
        |SELECT media_id, media_type,
        |       CAST(64 + ((h32 % 512) + 512) % 512 AS INT) AS src_width,
        |       CAST(64 + ((CAST(floor(h32 / 512.0) AS BIGINT) % 512) + 512) % 512 AS INT) AS src_height,
        |       CAST(64 + ((h32 % 512) + 512) % 512 AS INT) AS width,
        |       CAST(64 + ((CAST(floor(h32 / 512.0) AS BIGINT) % 512) + 512) % 512 AS INT) AS height
        |FROM d ORDER BY media_id""".stripMargin,
    // same hashCode fold as m_resize, plus acc[0] of the 16-lane byte-sum
    // feature: f0 = float32(acc0) / (float32(255) * float32(max(len/16,1))) —
    // both engines do exact float32 arithmetic here (operands < 2^24), so
    // the division is bit-identical and rounds identically after the double
    // promotion
    "m_media_features" ->
      """WITH b AS (
        |  SELECT doc_id AS media_id,
        |         CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
        |              WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
        |         hex(encode(coalesce(text, ''))) AS hx,
        |         octet_length(encode(coalesce(text, ''))) AS len
        |  FROM documents),
        |bytes AS (
        |  SELECT media_id, media_type, len,
        |         list_transform(range(0, len),
        |           i -> CAST('0x' || substring(hx, CAST(2*i+1 AS INT), 2) AS BIGINT)) AS ub
        |  FROM b),
        |h AS (
        |  SELECT media_id, media_type, len,
        |         list_reduce(list_prepend(CAST(1 AS BIGINT),
        |             list_transform(ub, x -> x - CASE WHEN x > 127 THEN 256 ELSE 0 END)),
        |           (acc, x) -> ((31*acc + x) % 4294967296 + 4294967296) % 4294967296) AS hu,
        |         coalesce(list_sum(list_transform(range(0, len),
        |             i -> CASE WHEN i % 16 = 0 THEN ub[CAST(i+1 AS INT)] ELSE 0 END)), 0) AS acc0
        |  FROM bytes),
        |d AS (SELECT media_id, media_type, len, acc0,
        |        CASE WHEN hu >= 2147483648 THEN hu - 4294967296 ELSE hu END AS h32 FROM h)
        |SELECT media_id, media_type,
        |  CAST(64 + ((h32 % 512) + 512) % 512 AS INT) AS width,
        |  CAST(64 + ((CAST(floor(h32 / 512.0) AS BIGINT) % 512) + 512) % 512 AS INT) AS height,
        |  CAST(CASE media_type WHEN 'video' THEN 1 + len // 4096
        |       WHEN 'audio' THEN 1 + len // 1024 ELSE 1 END AS INT) AS n_frames,
        |  round(CAST(CAST(acc0 AS REAL) /
        |    (CAST(255 AS REAL) * CAST(greatest(len // 16, 1) AS REAL)) AS DOUBLE), 6) AS f0
        |FROM d ORDER BY media_id""".stripMargin,
    // dims via the Arrays.hashCode fold (m_resize verbatim), concentration
    // over 16 contiguous chunk sums, then the integer rule chain (shared
    // mediaFilterSqlCtes fragment — the media capstone reuses it)
    "m_media_filter" ->
      s"""WITH $mediaFilterSqlCtes
        |SELECT media_id, media_type, width, height, max_bin_permille,
        |       reason IS NULL AS keep, reason
        |FROM rr ORDER BY media_id""".stripMargin,
    // filter fragment → survivors (hx carried through) → the shared dHash
    // fragment → min-id winners per signature (unhashable rows keep) →
    // per-type rollup: the media capstone chain in one WITH
    "m_media_pipeline" ->
      s"""WITH $mediaFilterSqlCtes,
        |survivors AS (
        |  SELECT media_id, media_type, hx FROM rr WHERE reason IS NULL),
        |${dhashSqlCtes(src = "survivors", keys = "media_id")},
        |winners AS (
        |  SELECT min(media_id) AS media_id FROM sig GROUP BY sig
        |  UNION ALL
        |  SELECT media_id FROM survivors WHERE length(hx) = 0),
        |dedup AS (
        |  SELECT s.media_id, s.media_type
        |  FROM survivors s JOIN winners w USING (media_id)),
        |raw AS (SELECT media_type, count(*) AS n_raw FROM b GROUP BY 1),
        |keptc AS (SELECT media_type, count(*) AS n_kept FROM survivors GROUP BY 1),
        |fin AS (SELECT media_type, count(*) AS n_final FROM dedup GROUP BY 1)
        |SELECT r0.media_type, r0.n_raw, keptc.n_kept, fin.n_final
        |FROM raw r0
        |LEFT JOIN keptc USING (media_type)
        |LEFT JOIN fin USING (media_type)
        |ORDER BY media_type""".stripMargin,
    // the dHash fold from hex bytes (shared dhashSqlCtes fragment): clone
    // rows re-derive the last-byte swap on the hex string; pairs are
    // BRUTE-FORCE Hamming ≤ 3 (the banded plan is exact by pigeonhole,
    // hence also the literal 1.0 recall)
    "m_phash_dups" ->
      s"""WITH $phashFixtureSqlCte,
        |${dhashSqlCtes(src = "b", keys = "media_id")}
        |SELECT a.media_id AS id_a, bb.media_id AS id_b,
        |       CAST(bit_count(xor(a.sig, bb.sig)) AS INT) AS hamming,
        |       CASE WHEN (SELECT count(*) FROM sig) <= 25000
        |            THEN 1.0 ELSE CAST(NULL AS DOUBLE) END AS exact_pair_recall
        |FROM sig a JOIN sig bb ON a.media_id < bb.media_id
        |WHERE bit_count(xor(a.sig, bb.sig)) <= 3
        |ORDER BY id_a, id_b""".stripMargin,
    // brute-force Hamming pairs → symmetric edges → recursive-CTE closure
    // (the d_dedup_clusters recipe over the phash fixture)
    "m_phash_clusters" ->
      s"""WITH RECURSIVE $phashFixtureSqlCte,
        |${dhashSqlCtes(src = "b", keys = "media_id")},
        |p AS (
        |  SELECT a.media_id AS id_a, bb.media_id AS id_b
        |  FROM sig a JOIN sig bb ON a.media_id < bb.media_id
        |  WHERE bit_count(xor(a.sig, bb.sig)) <= 3),
        |edges AS (SELECT id_a AS u, id_b AS v FROM p
        |          UNION SELECT id_b, id_a FROM p),
        |reach(id, comp) AS (
        |  SELECT DISTINCT u, u FROM edges
        |  UNION
        |  SELECT e.v, r.comp FROM reach r JOIN edges e ON e.u = r.id),
        |cc AS (SELECT id, min(comp) AS component FROM reach GROUP BY 1)
        |SELECT component, count(*) AS n_members, max(id) AS max_member
        |FROM cc GROUP BY 1 ORDER BY 1""".stripMargin,
    // frame-level dHash (the same shared fragment over hex FRAME slices),
    // then brute-force frame pairs across distinct videos and the
    // least/greatest frame-vote rollup — videoPairs mirrored end to end
    "m_video_dups" ->
      s"""WITH $videoFixtureSqlCtes,
        |${dhashSqlCtes(src = "fr", keys = "media_id, frame_idx")},
        |fid AS (
        |  SELECT media_id, media_id * 1048576 + frame_idx AS fid, sig FROM sig),
        |fp AS (
        |  SELECT a.media_id AS ma, b.media_id AS mb, a.fid AS fa, b.fid AS fb
        |  FROM fid a JOIN fid b
        |    ON a.fid < b.fid AND a.media_id <> b.media_id
        |  WHERE bit_count(xor(a.sig, b.sig)) <= 3),
        |agg AS (
        |  SELECT least(ma, mb) AS id_a, greatest(ma, mb) AS id_b,
        |         count(*) AS n_frame_pairs,
        |         count(DISTINCT CASE WHEN ma < mb THEN fa ELSE fb END) AS n_matched_a,
        |         count(DISTINCT CASE WHEN ma < mb THEN fb ELSE fa END) AS n_matched_b
        |  FROM fp GROUP BY 1, 2)
        |SELECT id_a, id_b, n_frame_pairs, n_matched_a, n_matched_b
        |FROM agg WHERE least(n_matched_a, n_matched_b) >= 2
        |ORDER BY id_a, id_b""".stripMargin,
    // the same brute-force vote chain, then symmetric edges over the
    // VOTED pairs and the recursive-CTE closure — clique-expanded, so a
    // collapsed-plan label drift flips the hash
    "m_video_clusters" ->
      s"""WITH RECURSIVE $videoFixtureSqlCtes,
        |${dhashSqlCtes(src = "fr", keys = "media_id, frame_idx")},
        |fid AS (
        |  SELECT media_id, media_id * 1048576 + frame_idx AS fid, sig FROM sig),
        |fp AS (
        |  SELECT a.media_id AS ma, b.media_id AS mb, a.fid AS fa, b.fid AS fb
        |  FROM fid a JOIN fid b
        |    ON a.fid < b.fid AND a.media_id <> b.media_id
        |  WHERE bit_count(xor(a.sig, b.sig)) <= 3),
        |agg AS (
        |  SELECT least(ma, mb) AS id_a, greatest(ma, mb) AS id_b,
        |         count(DISTINCT CASE WHEN ma < mb THEN fa ELSE fb END) AS n_matched_a,
        |         count(DISTINCT CASE WHEN ma < mb THEN fb ELSE fa END) AS n_matched_b
        |  FROM fp GROUP BY 1, 2),
        |p2 AS (SELECT id_a, id_b FROM agg
        |       WHERE least(n_matched_a, n_matched_b) >= 2),
        |edges AS (SELECT id_a AS u, id_b AS v FROM p2
        |          UNION SELECT id_b, id_a FROM p2),
        |reach(id, comp) AS (
        |  SELECT DISTINCT u, u FROM edges
        |  UNION
        |  SELECT e.v, r.comp FROM reach r JOIN edges e ON e.u = r.id),
        |cc AS (SELECT id, min(comp) AS component FROM reach GROUP BY 1)
        |SELECT component, count(*) AS n_members, max(id) AS max_member
        |FROM cc GROUP BY 1 ORDER BY 1""".stripMargin,
    // sliding 1024-byte windows at 512-byte hop (only full windows; a
    // sub-window payload gets one truncated window), the shared dHash
    // fragment per window, brute-force cross-media window pairs, and the
    // same vote rollup — audioPairs mirrored end to end, including the
    // one-hop front-pad clone that proves offset robustness
    "m_audio_dups" ->
      s"""WITH $audioWinsSqlCtes,
        |${dhashSqlCtes(src = "wins", keys = "media_id, win_idx")},
        |fid AS (
        |  SELECT media_id, media_id * 1048576 + win_idx AS fid, sig FROM sig),
        |fp AS (
        |  SELECT a.media_id AS ma, b.media_id AS mb, a.fid AS fa, b.fid AS fb
        |  FROM fid a JOIN fid b
        |    ON a.fid < b.fid AND a.media_id <> b.media_id
        |  WHERE bit_count(xor(a.sig, b.sig)) <= 3),
        |agg AS (
        |  SELECT least(ma, mb) AS id_a, greatest(ma, mb) AS id_b,
        |         count(*) AS n_window_pairs,
        |         count(DISTINCT CASE WHEN ma < mb THEN fa ELSE fb END) AS n_matched_a,
        |         count(DISTINCT CASE WHEN ma < mb THEN fb ELSE fa END) AS n_matched_b
        |  FROM fp GROUP BY 1, 2)
        |SELECT id_a, id_b, n_window_pairs, n_matched_a, n_matched_b
        |FROM agg WHERE least(n_matched_a, n_matched_b) >= 2
        |ORDER BY id_a, id_b""".stripMargin,
    // the same voted pairs closed transitively (recursive CTE) — the
    // clique-expanded reference the collapsed audioClusters plan must equal
    "m_audio_clusters" ->
      s"""WITH RECURSIVE $audioWinsSqlCtes,
        |${dhashSqlCtes(src = "wins", keys = "media_id, win_idx")},
        |fid AS (
        |  SELECT media_id, media_id * 1048576 + win_idx AS fid, sig FROM sig),
        |fp AS (
        |  SELECT a.media_id AS ma, b.media_id AS mb, a.fid AS fa, b.fid AS fb
        |  FROM fid a JOIN fid b
        |    ON a.fid < b.fid AND a.media_id <> b.media_id
        |  WHERE bit_count(xor(a.sig, b.sig)) <= 3),
        |agg AS (
        |  SELECT least(ma, mb) AS id_a, greatest(ma, mb) AS id_b,
        |         count(DISTINCT CASE WHEN ma < mb THEN fa ELSE fb END) AS n_matched_a,
        |         count(DISTINCT CASE WHEN ma < mb THEN fb ELSE fa END) AS n_matched_b
        |  FROM fp GROUP BY 1, 2),
        |p2 AS (SELECT id_a, id_b FROM agg
        |       WHERE least(n_matched_a, n_matched_b) >= 2),
        |edges AS (SELECT id_a AS u, id_b AS v FROM p2
        |          UNION SELECT id_b, id_a FROM p2),
        |reach(id, comp) AS (
        |  SELECT DISTINCT u, u FROM edges
        |  UNION
        |  SELECT e.v, r.comp FROM reach r JOIN edges e ON e.u = r.id),
        |cc AS (SELECT id, min(comp) AS component FROM reach GROUP BY 1)
        |SELECT component, count(*) AS n_members, max(id) AS max_member
        |FROM cc GROUP BY 1 ORDER BY 1""".stripMargin,
    // rebuilds the fingerprint groups from the normalized token stream
    // itself (lowercased whitespace tokens joined by ' '); the char class is
    // Java's \s spelled out because RE2's \s omits \x0B
    "d_fingerprint" ->
      """WITH u AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT -(doc_id + 1),
        |         '  ' || replace(text, ' ', chr(9) || '  ') || chr(10)
        |  FROM documents),
        |n AS (
        |  SELECT doc_id,
        |         array_to_string(list_transform(list_filter(
        |             regexp_split_to_array(trim(coalesce(text, '')),
        |               '[ \t\n\x0B\f\r]+'),
        |             t -> t <> ''), t -> lower(t)), ' ') AS k
        |  FROM u),
        |g AS (SELECT k, min(doc_id) AS group_min_id,
        |             count(*) AS group_size
        |      FROM n GROUP BY k)
        |SELECT n.doc_id AS doc_id, g.group_min_id, g.group_size
        |FROM n JOIN g USING (k) ORDER BY doc_id""".stripMargin,
    "a_ann_topk" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id AS id,
        |       round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv::DOUBLE[]), 6) AS cosine
        |FROM embeddings e, q WHERE e.vec_id <> 0
        |ORDER BY cosine DESC, id LIMIT 10""".stripMargin,
    // the d_chunk_tokens CTE (non-null branch), then the per-dimension
    // 4-nibble md5 fold mod 1000 and a relational dot product (join on the
    // dimension index) — all integers, so the MIPS ranking is exact
    "a_retrieval_chunks" ->
      (s"WITH $retrievalTopkSqlCtes\n" +
      """SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, chunk_idx,
        |       chunk_start, score
        |FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin),
    // retrieval eval metrics over the exact top-5 with deterministic
    // synthetic relevance (doc ≡ query mod 7): MRR = max(rel/rank), nDCG@5
    // normalized by the ideal ordering of the hits the list contains —
    // both rounded to 6 dp so the doubles hash identically cross-engine
    "a_retrieval_eval" ->
      (s"WITH $retrievalTopkSqlCtes,\n" +
      """r5 AS (SELECT query_id, rank,
        |         CASE WHEN doc_id % 7 = query_id % 7 THEN 1 ELSE 0 END AS rel
        |       FROM r WHERE rank <= 5),
        |agg AS (SELECT query_id,
        |          CAST(sum(rel) AS BIGINT) AS n_rel,
        |          round(coalesce(max(rel / CAST(rank AS DOUBLE)), 0), 6) AS mrr,
        |          sum(rel / log2(CAST(rank AS DOUBLE) + 1)) AS dcg
        |        FROM r5 GROUP BY 1)
        |SELECT query_id, n_rel, mrr,
        |  CASE WHEN n_rel = 0 THEN 0.0
        |       ELSE round(dcg / list_sum(list_transform(range(1, n_rel + 1),
        |              i -> 1 / log2(CAST(i + 1 AS DOUBLE)))), 6)
        |  END AS ndcg_at_5
        |FROM agg ORDER BY query_id""".stripMargin),
    // the direct and index-served BM25 paths are row-identical by
    // construction (the index only changes which files are READ), so both
    // entries share the one full oracle
    "a_bm25_topk" ->
      (s"WITH $bm25SqlCtes\n" +
      """SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, score_micro,
        |       score_micro / 1000000e0 AS score
        |FROM br WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
    "a_bm25_index" ->
      (s"WITH $bm25SqlCtes\n" +
      """SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, score_micro,
        |       score_micro / 1000000e0 AS score
        |FROM br WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
    // the ingest-assembled index serves the union corpus, so it shares
    // the same full-corpus oracle as the direct and index paths
    "a_bm25_ingest" ->
      (s"WITH $bm25SqlCtes\n" +
      """SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, score_micro,
        |       score_micro / 1000000e0 AS score
        |FROM br WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
    // rollback end state: the committed corpus is everything MINUS the
    // removed batch (doc_id % 8 == 3), so the oracle is plain BM25 over
    // exactly that corpus — queries drawn from the survivors
    "a_bm25_rollback" ->
      (s"WITH ${bm25SqlCtesOver("doc_id % 8 <> 3")}\n" +
      """SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, score_micro,
        |       score_micro / 1000000e0 AS score
        |FROM br WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
    // committed-only serve over a layout that ALSO holds a fully-promoted
    // unmarked poison batch (duplicates of every query doc): invisibility
    // is the assertion, so the oracle is the same full-committed-corpus
    // BM25 as the other serve entries — any leaked file shifts df/idf and
    // therefore the hash
    "a_bm25_committed" ->
      (s"WITH $bm25SqlCtes\n" +
      """SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, score_micro,
        |       score_micro / 1000000e0 AS score
        |FROM br WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
    "a_bm25_snippets" ->
      (s"WITH $bm25SqlCtes,\n" +
      """hq AS (SELECT query_id, doc_id FROM br WHERE rank <= 3),
        |qt2 AS (SELECT doc_id AS query_id, w AS qt FROM btok
        |        WHERE doc_id % 101 = 7 AND doc_id < 2525),
        |sn AS (SELECT h.query_id, h.doc_id,
        |         list_min(list_filter(range(1, len(d.w) + 1),
        |           i -> list_contains(q.qt, d.w[i]))) AS match_pos,
        |         d.w AS dw
        |       FROM hq h JOIN btok d ON d.doc_id = h.doc_id
        |         JOIN qt2 q ON q.query_id = h.query_id)
        |SELECT query_id, doc_id, CAST(match_pos AS BIGINT) AS match_pos,
        |  array_to_string(list_slice(dw,
        |    greatest(1, match_pos - 4),
        |    least(len(dw), match_pos + 4)), ' ') AS snippet
        |FROM sn WHERE match_pos IS NOT NULL
        |ORDER BY query_id, doc_id""".stripMargin),
    "a_bm25_eval" ->
      (s"WITH $bm25SqlCtes,\n" +
      """r5 AS (SELECT query_id, rank,
        |         CASE WHEN doc_id % 7 = query_id % 7 THEN 1 ELSE 0 END AS rel
        |       FROM br WHERE rank <= 5),
        |agg AS (SELECT query_id,
        |          CAST(sum(rel) AS BIGINT) AS n_rel,
        |          round(coalesce(max(rel / CAST(rank AS DOUBLE)), 0), 6) AS mrr,
        |          sum(rel / log2(CAST(rank AS DOUBLE) + 1)) AS dcg
        |        FROM r5 GROUP BY 1)
        |SELECT query_id, n_rel, mrr,
        |  CASE WHEN n_rel = 0 THEN 0.0
        |       ELSE round(dcg / list_sum(list_transform(range(1, n_rel + 1),
        |              i -> 1 / log2(CAST(i + 1 AS DOUBLE)))), 6)
        |  END AS ndcg_at_5
        |FROM agg ORDER BY query_id""".stripMargin),
    // hybrid fusion: dense chunk top-5 collapsed to doc level (best chunk
    // rank, then re-ranked), BM25 doc top-5, RRF in integer nano-units
    // with 0 as the absent-rank sentinel — both rankings and the fusion
    // arithmetic live in one WITH chain
    "a_hybrid_rrf" ->
      (s"WITH $retrievalTopkSqlCtes,\n$bm25SqlCtes,\n" +
      """da AS (SELECT query_id, doc_id, min(rank) AS best
        |       FROM r WHERE rank <= 5 GROUP BY 1, 2),
        |dr AS (SELECT query_id, doc_id,
        |              row_number() OVER (PARTITION BY query_id
        |                ORDER BY best, doc_id) AS rank_a
        |       FROM da),
        |sr AS (SELECT query_id, doc_id, rank AS rank_b
        |       FROM br WHERE rank <= 5),
        |fz AS (SELECT query_id, doc_id,
        |         coalesce(CAST(round(1000000000e0 / (60 + rank_a)) AS BIGINT), 0)
        |         + coalesce(CAST(round(1000000000e0 / (60 + rank_b)) AS BIGINT), 0)
        |           AS rrf_micro,
        |         coalesce(rank_a, 0) AS ra, coalesce(rank_b, 0) AS rb
        |       FROM dr FULL JOIN sr USING (query_id, doc_id)),
        |fr AS (SELECT query_id, doc_id, rrf_micro, ra, rb,
        |              row_number() OVER (PARTITION BY query_id
        |                ORDER BY rrf_micro DESC, doc_id) AS rank
        |       FROM fz)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id,
        |       CAST(rrf_micro AS BIGINT) AS rrf_micro,
        |       CAST(ra AS BIGINT) AS rank_a, CAST(rb AS BIGINT) AS rank_b
        |FROM fr WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
    "d_tfidf_keywords" ->
      """WITH ktok AS (SELECT doc_id,
        |    list_transform(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      x -> x <> ''), x -> lower(x)) AS w
        |  FROM documents WHERE text IS NOT NULL),
        |kst AS (SELECT count(*) AS n FROM ktok),
        |kp AS (SELECT doc_id, t AS term, count(*) AS tf
        |       FROM ktok, unnest(w) AS u(t) GROUP BY 1, 2),
        |kdf AS (SELECT term, count(*) AS df FROM kp GROUP BY 1),
        |ksc AS (SELECT kp.doc_id, kp.term,
        |          CAST(round(kp.tf * round(ln((kst.n + 1e0) / (kdf.df + 1e0)),
        |            9) * 1000000e0) AS BIGINT) AS score_micro
        |        FROM kp JOIN kdf USING (term), kst),
        |kr AS (SELECT doc_id, term, score_micro,
        |              row_number() OVER (PARTITION BY doc_id
        |                ORDER BY score_micro DESC, term) AS rank
        |       FROM ksc)
        |SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, score_micro
        |FROM kr WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    "d_collocations" ->
      """WITH ctok AS (SELECT doc_id,
        |    list_transform(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      x -> x <> ''), x -> lower(x)) AS w
        |  FROM documents WHERE text IS NOT NULL),
        |ctot AS (SELECT CAST(coalesce(sum(len(w)), 0) AS BIGINT) AS t1,
        |                CAST(coalesce(sum(CASE WHEN len(w) >= 2
        |                  THEN len(w) - 1 ELSE 0 END), 0) AS BIGINT) AS t2
        |         FROM ctok),
        |cbg AS (SELECT w[i] AS a, w[i + 1] AS b
        |        FROM ctok, unnest(range(1, len(w))) AS r(i)
        |        WHERE len(w) >= 2),
        |cp AS (SELECT a, b, count(*) AS n_pair FROM cbg GROUP BY 1, 2
        |       HAVING count(*) >= 5),
        |cu AS (SELECT t AS term, count(*) AS c
        |       FROM ctok, unnest(w) AS u(t) GROUP BY 1)
        |SELECT cp.a, cp.b, cp.n_pair,
        |  CAST(round(round(ln((cp.n_pair / ctot.t2)
        |    / ((ca.c / ctot.t1) * (cb.c / ctot.t1))), 9) * 1000000e0)
        |    AS BIGINT) AS pmi_micro
        |FROM cp JOIN cu ca ON ca.term = cp.a JOIN cu cb ON cb.term = cp.b,
        |  ctot
        |ORDER BY pmi_micro DESC, a, b LIMIT 50""".stripMargin,
    "a_hard_negatives" ->
      (s"WITH $retrievalTopkSqlCtes,\n" +
      """da AS (SELECT query_id, doc_id, min(rank) AS best
        |       FROM r WHERE rank <= 5 GROUP BY 1, 2),
        |dr AS (SELECT query_id, doc_id,
        |              row_number() OVER (PARTITION BY query_id
        |                ORDER BY best, doc_id) AS rank
        |       FROM da),
        |hn AS (SELECT query_id, doc_id, rank,
        |              row_number() OVER (PARTITION BY query_id
        |                ORDER BY rank) AS neg_rank
        |       FROM dr WHERE NOT (doc_id % 7 = query_id % 7))
        |SELECT query_id, CAST(neg_rank AS BIGINT) AS neg_rank, doc_id,
        |       CAST(rank AS BIGINT) AS orig_rank
        |FROM hn WHERE neg_rank <= 3 ORDER BY query_id, neg_rank""".stripMargin),
    "d_link_extract" ->
      (s"WITH $linkedHtmlSqlCtes,\n" +
      """le AS (SELECT doc_id,
        |         regexp_extract_all(html, 'href="([^"]*)"', 1) AS l
        |       FROM hb)
        |SELECT doc_id, CAST(i - 1 AS BIGINT) AS link_idx, l[i] AS href
        |FROM le, unnest(range(1, len(l) + 1)) AS t(i)
        |ORDER BY doc_id, link_idx""".stripMargin),
    // domain mapping mirror: for scheme-ful URLs urlDomain reduces to
    // lower(host-before-port) with a leading www. stripped — the [^/:?#]
    // class stops at the port colon, so no separate port handling needed
    "d_domain_rank" ->
      (s"WITH $linkedHtmlSqlCtes,\n$domainEdgesSqlCtes,\n" +
      pageRankSqlCtes(10) + "\n" +
      """SELECT node AS domain, rank_micro FROM pr10
        |ORDER BY rank_micro DESC, domain""".stripMargin),
    "d_personalized_rank" ->
      (s"WITH $linkedHtmlSqlCtes,\n$domainEdgesSqlCtes,\n" +
      """seeds AS MATERIALIZED (SELECT source || '.example.com' AS node
        |                       FROM sid WHERE k % 3 = 0),
        |ns AS MATERIALIZED (SELECT count(*) AS c FROM seeds),
        |""".stripMargin +
      personalizedPageRankSqlCtes(10) + "\n" +
      """SELECT node AS domain, rank_micro FROM pr10
        |ORDER BY rank_micro DESC, domain""".stripMargin),
    "d_graph_stats" ->
      (s"WITH $linkedHtmlSqlCtes,\n$domainEdgesSqlCtes,\n" +
      """gp AS MATERIALIZED (SELECT DISTINCT src, dst FROM e
        |                    WHERE src <> dst),
        |gn AS (SELECT DISTINCT node FROM
        |  (SELECT src AS node FROM gp UNION ALL SELECT dst FROM gp)),
        |go AS (SELECT src AS node, count(DISTINCT dst) AS out_deg,
        |              CAST(sum(w) AS BIGINT) AS out_w
        |       FROM e WHERE src <> dst GROUP BY 1),
        |gi AS (SELECT dst AS node, count(DISTINCT src) AS in_deg,
        |              CAST(sum(w) AS BIGINT) AS in_w
        |       FROM e WHERE src <> dst GROUP BY 1),
        |gr AS (SELECT p.src AS node, count(*) AS reciprocal
        |       FROM gp p WHERE EXISTS (SELECT 1 FROM gp r
        |         WHERE r.src = p.dst AND r.dst = p.src)
        |       GROUP BY 1),
        |gu AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a,
        |                           greatest(src, dst) AS b
        |                    FROM gp),
        |gt AS (SELECT w1.a AS x1, w1.b AS x2, w2.b AS x3
        |       FROM gu w1 JOIN gu w2 ON w2.a = w1.b
        |       WHERE EXISTS (SELECT 1 FROM gu w3
        |         WHERE w3.a = w1.a AND w3.b = w2.b)),
        |gtc AS (SELECT node, count(*) AS triangles FROM
        |          (SELECT x1 AS node FROM gt UNION ALL SELECT x2 FROM gt
        |           UNION ALL SELECT x3 FROM gt)
        |        GROUP BY 1)
        |SELECT gn.node AS node,
        |  coalesce(go.out_deg, 0) AS out_deg,
        |  coalesce(gi.in_deg, 0) AS in_deg,
        |  coalesce(go.out_w, 0) AS out_w,
        |  coalesce(gi.in_w, 0) AS in_w,
        |  coalesce(gr.reciprocal, 0) AS reciprocal,
        |  coalesce(gtc.triangles, 0) AS triangles
        |FROM gn LEFT JOIN go ON go.node = gn.node
        |  LEFT JOIN gi ON gi.node = gn.node
        |  LEFT JOIN gr ON gr.node = gn.node
        |  LEFT JOIN gtc ON gtc.node = gn.node
        |ORDER BY node""".stripMargin),
    "d_hits_rank" ->
      (s"WITH $linkedHtmlSqlCtes,\n$domainEdgesSqlCtes,\n" +
      hitsSqlCtes(5) + "\n" +
      """SELECT n.node AS domain, h.hub AS hub_micro, a.auth AS auth_micro
        |FROM nodes n JOIN hh5 h ON h.node = n.node
        |  JOIN aa5 a ON a.node = n.node
        |ORDER BY auth_micro DESC, domain""".stripMargin),
    "a_ann_quantized" ->
      """WITH q0 AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
        |qq AS (SELECT list_transform(qv, x -> CAST(round(x *
        |         (CASE WHEN qm > 0 THEN 127 / qm ELSE 0 END)) AS BIGINT)) AS qi
        |       FROM (SELECT qv, list_max(list_transform(qv, x -> abs(x))) AS qm FROM q0)),
        |c AS (SELECT vec_id, list_transform(ev, x -> CAST(round(x *
        |        (CASE WHEN m > 0 THEN 127 / m ELSE 0 END)) AS BIGINT)) AS cv
        |      FROM (SELECT vec_id, embedding::DOUBLE[] AS ev,
        |              list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS m
        |            FROM embeddings WHERE vec_id <> 0))
        |SELECT c.vec_id AS id,
        |  round(list_sum(list_transform(range(1, len(cv) + 1), i -> cv[i] * qi[i]))::DOUBLE
        |    / (sqrt(list_sum(list_transform(cv, x -> x * x))::DOUBLE)
        |       * sqrt(list_sum(list_transform(qi, x -> x * x))::DOUBLE)), 6) AS cosine
        |FROM c, qq ORDER BY cosine DESC, id LIMIT 10""".stripMargin,
    "a_label_centroid_norm" ->
      """SELECT label, count(*) AS n,
        |  round(avg(sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x*x)))), 6) AS avg_norm,
        |  round(min(list_cosine_similarity(embedding::DOUBLE[], embedding::DOUBLE[])), 6) AS min_self_cos
        |FROM embeddings GROUP BY label ORDER BY label""".stripMargin,
    "d_jsonl_roundtrip" ->
      // the engine writes+reads its own shards; the oracle only has to state
      // what lossless MEANS: the original per-source totals, zero corrupt
      """SELECT source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id,
        |  CAST(0 AS BIGINT) AS n_corrupt
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "d_warc_roundtrip" ->
      // lossless means: every doc back as one record, one distinct URI per
      // doc, the original character volume, zero corrupt
      """SELECT count(*) AS n_records, count(DISTINCT doc_id) AS n_urls,
        |  CAST(sum(length(coalesce(text, ''))) AS BIGINT) AS total_chars,
        |  CAST(0 AS BIGINT) AS n_corrupt
        |FROM documents""".stripMargin,
    "d_corpus_profile" ->
      // same digest as d_exact_dedup, same tokenization as d_token_count;
      // percentile_cont mirrors Spark's exact `percentile` interpolation
      """SELECT source, count(*) AS n_docs,
        |  count(DISTINCT md5(lower(substring(text, 1, 40)))) AS n_unique,
        |  round(percentile_cont(0.5) WITHIN GROUP (ORDER BY n_chars), 4) AS p50_chars,
        |  round(percentile_cont(0.9) WITHIN GROUP (ORDER BY n_chars), 4) AS p90_chars,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  round(avg(CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |                                 x -> x <> '')) AS DOUBLE)), 4) AS avg_tokens
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // same tokenization as d_corpus_profile's avg_tokens
    "d_top_terms" ->
      """WITH t AS (
        |  SELECT source, u AS term FROM documents,
        |    unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |                       x -> x <> '')) AS s(u)),
        |c AS (SELECT source, term, count(*) AS n FROM t GROUP BY 1, 2),
        |r AS (SELECT source, term, n,
        |        row_number() OVER (PARTITION BY source
        |                           ORDER BY n DESC, term) AS rank
        |      FROM c)
        |SELECT source, term, n, rank FROM r WHERE rank <= 5
        |ORDER BY source, rank""".stripMargin,
    // the canonical URL is re-derived LITERALLY (lowercase, :443 gone,
    // %3==0 keeps only the ref param, %3∈{1,2} collapse to the bare path) —
    // hash equality proves normalizeUrl lands exactly there
    "d_url_dedup" ->
      """WITH u AS (
        |  SELECT doc_id, n_chars,
        |         'https://www.' || source || '.example.com/' || lang ||
        |         '/page' || CAST(doc_id % 10 AS VARCHAR) ||
        |         CASE WHEN doc_id % 3 = 0
        |              THEN '?ref=' || CAST(doc_id % 5 AS VARCHAR)
        |              ELSE '' END AS url_norm
        |  FROM documents),
        |r AS (
        |  SELECT url_norm, doc_id, n_chars,
        |         row_number() OVER (PARTITION BY url_norm
        |                            ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM u)
        |SELECT url_norm, doc_id, n_chars FROM r WHERE rn = 1
        |ORDER BY url_norm""".stripMargin,
    "d_domain_cap" ->
      """WITH u AS (
        |  SELECT doc_id, n_chars, source || '.example.com' AS domain
        |  FROM documents),
        |r AS (
        |  SELECT domain, doc_id, n_chars,
        |         row_number() OVER (PARTITION BY domain
        |                            ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM u)
        |SELECT domain, doc_id, n_chars FROM r WHERE rn <= 15
        |ORDER BY domain, doc_id""".stripMargin,
    // suffix matching re-derived literally: every label-aligned suffix of
    // the host vs the domain patterns, exact canonical URL vs the url
    // patterns; winner = kind rank, then longest pattern, then lexicographic
    "d_url_blocklist" ->
      """WITH u AS (
        |  SELECT doc_id,
        |         'https://www.' || source || '.example.com/' || lang ||
        |         '/page' || CAST(doc_id % 10 AS VARCHAR) ||
        |         CASE WHEN doc_id % 3 = 0
        |              THEN '?ref=' || CAST(doc_id % 5 AS VARCHAR)
        |              ELSE '' END AS url_norm,
        |         'www.' || source || '.example.com' AS host
        |  FROM documents),
        |bl(kind, pattern) AS (VALUES
        |  ('domain', 'src3.example.com'),
        |  ('domain', 'www.src3.example.com'),
        |  ('domain', 'src7.example.com'),
        |  ('domain', 'ads.example.net'),
        |  ('url', 'https://www.src12.example.com/en/page2'),
        |  ('url', 'https://www.src14.example.com/en/page4')),
        |p AS (SELECT doc_id, string_split(host, '.') AS parts FROM u),
        |sfx AS (
        |  SELECT doc_id,
        |         array_to_string(list_slice(parts, i, len(parts)), '.') AS sfx
        |  FROM p, unnest(range(1, len(parts) + 1)) AS t(i)),
        |hits AS (
        |  SELECT u.doc_id, 0 AS rk, b.pattern, b.kind
        |  FROM u JOIN bl b ON b.kind = 'url' AND u.url_norm = b.pattern
        |  UNION ALL
        |  SELECT s.doc_id, 1 AS rk, b.pattern, b.kind
        |  FROM sfx s JOIN bl b ON b.kind = 'domain' AND s.sfx = b.pattern),
        |w AS (
        |  SELECT doc_id, kind, pattern,
        |         row_number() OVER (PARTITION BY doc_id
        |                            ORDER BY rk, length(pattern) DESC, pattern) AS rn
        |  FROM hits)
        |SELECT u.doc_id, u.url_norm, w.kind AS blocked_kind,
        |       w.pattern AS blocked_by
        |FROM u LEFT JOIN w ON u.doc_id = w.doc_id AND w.rn = 1
        |ORDER BY u.doc_id""".stripMargin,
    // presence decided on the id (doc_id is never null in the fixture),
    // content equality on the dupKey digest, null-safe like the Spark side
    "d_corpus_diff" ->
      """WITH v1 AS (
        |  SELECT doc_id, source, md5(lower(trim(text))) AS dig
        |  FROM documents WHERE doc_id % 7 <> 0),
        |v2 AS (
        |  SELECT doc_id, source, md5(lower(trim(
        |           CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END))) AS dig
        |  FROM documents WHERE doc_id % 11 <> 0),
        |j AS (
        |  SELECT coalesce(v2.source, v1.source) AS source,
        |         CASE WHEN v1.doc_id IS NULL THEN 'added'
        |              WHEN v2.doc_id IS NULL THEN 'removed'
        |              WHEN v1.dig IS NOT DISTINCT FROM v2.dig THEN 'unchanged'
        |              ELSE 'changed' END AS status
        |  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
        |SELECT source, status, count(*) AS n_docs FROM j
        |GROUP BY 1, 2 ORDER BY source, status""".stripMargin,
    "d_zorder_layout" ->
      // the identical 20-term Morton interleave in SQL bit arithmetic:
      // dim 0 = clamped n_chars (even interleaved bits), dim 1 = doc_id%1024
      // (odd bits); bucket = top 6 of the 20 z bits
      s"""WITH dz AS (
         |  SELECT n_chars, doc_id % 1024 AS id_mod,
         |         greatest(0, least(n_chars, 1023)) AS a,
         |         greatest(0, least(doc_id % 1024, 1023)) AS m
         |  FROM documents),
         |z AS (SELECT n_chars, id_mod,
         |        (${(0 until 10).flatMap(b => Seq(
                    s"((a >> $b) & 1) * ${1L << (2 * b)}",
                    s"((m >> $b) & 1) * ${1L << (2 * b + 1)}"))
                    .mkString(" + ")}) AS zv
         |      FROM dz)
         |SELECT zv >> 14 AS bucket, count(*) AS n,
         |       min(n_chars) AS min_chars, max(n_chars) AS max_chars,
         |       min(id_mod) AS min_id_mod, max(id_mod) AS max_id_mod
         |FROM z GROUP BY 1 ORDER BY bucket""".stripMargin,
    "d_ccnet_buckets" ->
      // same scored-docs CTE as d_lm_score; tercile cuts are ORDER
      // STATISTICS of the bounded-size deterministic sample (doc_id % m ==
      // 0 with m = ceil(n/100000) re-derived from the oracle's own count —
      // LmScore.tercileCuts in lockstep; max of the first ceil(sn/3) sorted
      // values — tie order inside row_number cannot change a
      // max-of-prefix), then the (source, bucket) rollup
      s"""$lmLpCte,
        |perdoc AS (SELECT doc_id, round(avg(lp), 5) AS lps FROM lp GROUP BY 1),
        |mm AS (SELECT greatest(1, CAST(ceil(count(*) / 100000.0) AS BIGINT)) AS m
        |       FROM perdoc),
        |cuts AS (
        |  SELECT max(CASE WHEN rn <= ceil(n / 3.0) THEN lps END) AS t1,
        |         max(CASE WHEN rn <= ceil(2 * n / 3.0) THEN lps END) AS t2
        |  FROM (SELECT lps, row_number() OVER (ORDER BY lps) AS rn,
        |               count(*) OVER () AS n
        |        FROM perdoc, mm WHERE doc_id % mm.m = 0)),
        |b AS (SELECT p.doc_id, p.lps,
        |        CASE WHEN p.lps <= c.t1 THEN 'tail'
        |             WHEN p.lps <= c.t2 THEN 'middle' ELSE 'head' END AS bucket
        |      FROM perdoc p CROSS JOIN cuts c)
        |SELECT d.source, b.bucket, count(*) AS n_docs,
        |       round(CAST(sum(CAST(b.lps AS DECIMAL(15,5))) AS DOUBLE), 5) AS sum_lp
        |FROM b JOIN documents d USING (doc_id)
        |GROUP BY 1, 2 ORDER BY source, bucket""".stripMargin
  )

  /** Build-or-reuse the IVF layout (k-means lists, partitioned parquet +
    * centroid sidecar) — same content-keyed atomic-publish recipe as
    * [[ensureBucketedAnn]]; Bench pre-builds in warmup.
    */
  def ensureIvf(s: SparkSession, dir: String): String =
    ensureCached("ann_ivf", contentKey(s"$dir/embeddings.parquet")) { build =>
      val (assigned, model) = Ann.ivfAssign(
        emb(s, dir).filter(col("vec_id") =!= 0), "embedding", nLists = 16)
      Ann.writeIvf(assigned, model, build.getAbsolutePath)
    }

  /** Build-or-reuse the persisted chunk-retrieval index (list-partitioned
    * parquet + centroid/M² sidecars) — the serve-many layout; same knobs as
    * the in-memory a_retrieval_ivf entry so the two paths share centroids.
    */
  def ensureChunkIndex(s: SparkSession, dir: String): String =
    ensureCached("chunk_index", contentKey(s"$dir/documents.parquet")) { build =>
      graft.ann.Retrieval.writeChunkIndex(docs(s, dir),
        build.getAbsolutePath, nLists = 8)
    }

  /** Build-or-reuse the IVF-PQ chunk index (codes-only rows, list
    * partitions, centroid + codebook + MIP sidecars).
    */
  def ensureChunkIndexPq(s: SparkSession, dir: String): String =
    // cache name carries a layout version: v2 added the _vecs side table
    // the serve path's exact re-rank reads — a stale v1 dir must rebuild
    ensureCached("chunk_index_pq_v2", contentKey(s"$dir/documents.parquet")) { build =>
      graft.ann.Retrieval.writeChunkIndexPq(docs(s, dir),
        build.getAbsolutePath, nLists = 8, m = 5, ksub = 32)
    }

  /** Build-or-reuse the persisted BM25 inverted index (term-bucketed
    * postings parquet + ingest log with the corpus stats) — the lexical
    * serve-many layout.
    */
  def ensureBm25Index(s: SparkSession, dir: String): String =
    ensureCached("bm25_index", contentKey(s"$dir/documents.parquet")) { build =>
      graft.ann.Bm25.writeIndex(docs(s, dir), build.getAbsolutePath,
        nBuckets = 16)
    }

  /** Build-or-reuse an IVF-PQ chunk index assembled THROUGH the
    * exactly-once streaming-ingest protocol: seed = even doc_ids
    * (writeChunkIndexPq — the coarse centroids and PQ codebooks fit on
    * THIS half only), then the odd doc_ids land as two
    * `applyPqIngestBatch` micro-batches encoding against the stored
    * models. The serving battery entry audits recall@5 against the exact
    * scorer over the full corpus.
    */
  def ensurePqIngestIndex(s: SparkSession, dir: String): String =
    ensureCached("chunk_index_pq_ingest",
      contentKey(s"$dir/documents.parquet")) { build =>
      val all = docs(s, dir)
      graft.ann.Retrieval.writeChunkIndexPq(
        all.filter(col("doc_id") % 2 === 0), build.getAbsolutePath,
        nLists = 8, m = 5, ksub = 32)
      graft.ann.Retrieval.applyPqIngestBatch(
        all.filter(col("doc_id") % 4 === 1), build.getAbsolutePath,
        batchId = 0L, streamId = "ingest")
      graft.ann.Retrieval.applyPqIngestBatch(
        all.filter(col("doc_id") % 4 === 3), build.getAbsolutePath,
        batchId = 1L, streamId = "ingest")
    }

  /** Build-or-reuse a BM25 index assembled THROUGH the exactly-once
    * streaming-ingest protocol: seed = even doc_ids (writeIndex), then the
    * odd doc_ids land as two `applyIngestBatch` micro-batches with a stats
    * compaction between them — the cached layout carries the protocol's
    * real artifacts (batch-tagged posting files, one folded watermark, one
    * pending batch whose stats delta folds at serve time), and the battery
    * oracle compares its serve against plain BM25 over the full corpus.
    */
  def ensureBm25IngestIndex(s: SparkSession, dir: String): String =
    ensureCached("bm25_index_ingest",
      contentKey(s"$dir/documents.parquet")) { build =>
      val all = docs(s, dir)
      graft.ann.Bm25.writeIndex(all.filter(col("doc_id") % 2 === 0),
        build.getAbsolutePath, nBuckets = 16)
      graft.ann.Bm25.applyIngestBatch(all.filter(col("doc_id") % 4 === 1),
        build.getAbsolutePath, batchId = 0L, streamId = "ingest")
      graft.ann.Bm25.compactStreamStats(s, build.getAbsolutePath)
      graft.ann.Bm25.applyIngestBatch(all.filter(col("doc_id") % 4 === 3),
        build.getAbsolutePath, batchId = 1L, streamId = "ingest")
    }

  /** [[ensureBm25IngestIndex]] plus a guarded ROLLBACK mid-stream: three
    * ingest batches land, batch 1 is administratively removed (the
    * intent-record-first protocol), and the stats compaction then folds
    * the watermark ACROSS the recorded gap (0 → removed 1 → 2). The
    * layout's committed serve must rank exactly plain BM25 over the
    * corpus MINUS the removed batch — any resurrection (orphaned postings
    * below the watermark, a folded delta that should have died with the
    * removal, a leaked file in the committed pruning) shifts df/idf or the
    * candidate set and breaks the hash.
    */
  def ensureBm25RollbackIndex(s: SparkSession, dir: String): String =
    ensureCached("bm25_index_rollback",
      contentKey(s"$dir/documents.parquet")) { build =>
      val all = docs(s, dir)
      val p = build.getAbsolutePath
      graft.ann.Bm25.writeIndex(all.filter(col("doc_id") % 2 === 0), p,
        nBuckets = 16)
      graft.ann.Bm25.applyIngestBatch(all.filter(col("doc_id") % 4 === 1),
        p, batchId = 0L, streamId = "ingest")
      graft.ann.Bm25.applyIngestBatch(all.filter(col("doc_id") % 8 === 3),
        p, batchId = 1L, streamId = "ingest")
      graft.ann.Bm25.applyIngestBatch(all.filter(col("doc_id") % 8 === 7),
        p, batchId = 2L, streamId = "ingest")
      graft.ann.Bm25.removeIngestBatch(s, p, batchId = 1L,
        streamId = "ingest")
      graft.ann.Bm25.compactStreamStats(s, p)
    }

  /** [[ensureBm25IngestIndex]] plus a POISON batch: duplicate copies of
    * the battery's query-slice docs land fully promoted (batchId 2, same
    * stream) and then the batch's ingest-log entry is deleted — the exact
    * crash-before-commit state a concurrent serve can observe. If
    * committed-only serving leaked the uncommitted files, the duplicates
    * would tie into every query's top-5 (identical text → identical
    * per-term contributions) and inflate every matched term's df, shifting
    * the hashed scores; the entry's oracle is plain BM25 over the
    * committed corpus alone.
    */
  def ensureBm25CommittedIndex(s: SparkSession, dir: String): String =
    ensureCached("bm25_index_committed",
      contentKey(s"$dir/documents.parquet")) { build =>
      val all = docs(s, dir)
      graft.ann.Bm25.writeIndex(all.filter(col("doc_id") % 2 === 0),
        build.getAbsolutePath, nBuckets = 16)
      graft.ann.Bm25.applyIngestBatch(all.filter(col("doc_id") % 4 === 1),
        build.getAbsolutePath, batchId = 0L, streamId = "ingest")
      graft.ann.Bm25.compactStreamStats(s, build.getAbsolutePath)
      graft.ann.Bm25.applyIngestBatch(all.filter(col("doc_id") % 4 === 3),
        build.getAbsolutePath, batchId = 1L, streamId = "ingest")
      val poison = all.filter(col("doc_id") % 101 === 7 &&
          col("doc_id") < 2525 && col("text").isNotNull)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
      graft.ann.Bm25.applyIngestBatch(poison, build.getAbsolutePath,
        batchId = 2L, streamId = "ingest")
      new java.io.File(build, "_graft_log").listFiles()
        .filter(_.getName.matches("[0-9]+")).maxBy(_.getName.toLong).delete()
    }

  def ensureIvfPq(s: SparkSession, dir: String): String =
    ensureCached("ann_ivfpq", contentKey(s"$dir/embeddings.parquet")) { build =>
      Ann.writeIvfPq(emb(s, dir).filter(col("vec_id") =!= 0), "vec_id",
        "embedding", build.getAbsolutePath, nLists = 16, m = 8, ksub = 64)
    }

  /** Signature-based operators: deterministic, but no faithful SQL oracle —
    * rows-only check by the driver; ScalaTest fixtures assert known answers.
    */
  val rowsOnly: Map[String, (SparkSession, String) => DataFrame] = Map(
    // model-based quality filtering: hashed-feature logistic regression
    // DISTILLING the rule-based curation policy (filterCorpus keep/drop —
    // the Dolma-style classifier-distillation workflow; the corpus's lang
    // column is synthetic noise with no textual signal, so the rule label
    // is the honest learnable target). Trained on the 19/20 slice, holdout
    // 1/20 scored. Iterative float optimization has no SQL oracle BY
    // NATURE -> rows-only entry carrying its measured holdout accuracy,
    // the LSH/ANN honesty convention
    "d_quality_classifier" -> ((s, d) => {
      val all = docs(s, d)
      val labeled = all.join(
        graft.text.CorpusClean.filterCorpus(all)
          .select(col("doc_id"), col("keep").cast("int").as("label")),
        "doc_id")
      val model = graft.text.QualityClassifier.train(
        labeled.filter(col("doc_id") % 20 =!= 7), "label", dim = 1 << 15)
      val held = labeled.filter(col("doc_id") % 20 === 7)
      val scored = graft.text.QualityClassifier.score(held, model)
        .join(held.select("doc_id", "label"), "doc_id")
      val agg = scored.agg(
        avg((col("pred") === col("label")).cast("double"))).head()
      val acc = math.rint((if (agg.isNullAt(0)) 1.0 else agg.getDouble(0)) * 1e4) / 1e4
      scored.withColumn("holdout_acc", lit(acc)).orderBy("doc_id")
    }),

    // BPE vocabulary training, full loop: 20 merges over the corpus word
    // histogram (end-of-word marker on — the Sennrich form). Deterministic
    // (frequency ties break lexicographically), so the driver's rows check
    // pins it run-to-run; no SQL oracle BY NATURE (iterative argmax). The
    // merge sequence itself is spec-pinned against an independent
    // driver-side reference implementation (BpeTrainerSpec).
    "d_bpe_train" -> ((s, d) => {
      import s.implicits._
      graft.text.BpeTrainer.train(docs(s, d), "text",
          numMerges = 20, minFreq = 2L, endMarker = true)
        .merges.toDF("rank", "a", "b", "pair_freq")
    }),

    // SemDeDup-style semantic dedup: k-means cells bound the quadratic
    // term, exact cosine only within a cell, min-id canonical per connected
    // group. Output = the surviving corpus (one keeper per semantic-dup
    // group + all singletons); the misses are cross-cluster pairs, measured
    // by the same exact_pair_recall audit as d_embedding_dups. No SQL
    // oracle BY NATURE (k-means is iterative); known-answer specs pin the
    // survivor rule on planted exact-duplicate vectors instead
    // NOTE on the name: this is the min-id-canonical PRUNE composition over
    // semanticPairs; the exemplar-verdict SemDeDup form is d_semantic_dedup
    // below. They were briefly BOTH keyed "d_semantic_dedup" — Scala Map
    // literals silently keep the later duplicate, so the occupancy-scaled
    // entry here was shadowed by the then-fixed-k one (950 s at sf10).
    // QueryKeySpec now pins every entry literal unique.
    "d_semantic_prune" -> ((s, d) => {
      val e = emb(s, d)
      val n = e.count()
      val pairs0 = Dedup.semanticPairs(e, "vec_id", "embedding",
        nClusters = 16, threshold = 0.3, knownCount = Some(n))
      // at audit scale the pair set feeds TWO consumers (the components
      // closure below and the recall semi-join) — checkpoint the
      // output-sized pair list so the k-means assignment + within-cell
      // pair join run once, not twice. Above the gate the closure is the
      // only consumer, so the plan stays untouched (and Explain-visible).
      val pairs = if (n <= 5000L) pairs0.localCheckpoint(true) else pairs0
      val survivors = graft.dedup.Clusters
        .dropDuplicateGroups(e, "vec_id", pairs)
        .select(col("vec_id"), col("label"))
      val audited =
        if (n <= 5000L) {
          // same audit arithmetic as withPairRecall, but reduced to its one
          // scalar here — the pair pipeline must not re-execute under an agg
          // just to fold a constant column
          val ex = exactCosinePairs(e, 0.3)
            .select("id_a", "id_b").localCheckpoint(true)
          val nExact = ex.count()
          val hits = if (nExact == 0) 0L
            else ex.join(pairs, Seq("id_a", "id_b"), "left_semi").count()
          val r = if (nExact == 0) 1.0
            else math.rint(hits.toDouble / nExact * 1e4) / 1e4
          s.range(1).select(lit(r).as("exact_pair_recall"))
        } else s.range(1).select(lit(null).cast("double").as("exact_pair_recall"))
      survivors.crossJoin(broadcast(audited)).orderBy("vec_id")
    }),
    // IVF ANN probe over the persisted k-means layout: the `list` predicate
    // is a partition filter, so only nProbe/16 of the corpus files are read
    "a_ann_ivf" -> ((s, d) => {
      val path = ensureIvf(s, d)
      val q = emb(s, d).filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0)
      withRecallAtK(
        Ann.ivfTopKBucketed(s, path, "vec_id", "embedding", q, k = 10,
          nProbe = 6),
        Ann.bruteForceTopK(emb(s, d).filter(col("vec_id") =!= 0),
          "vec_id", "embedding", q, 10), 10)
    }),
    // cross-corpus near-dup (approximate sibling of d_incremental_dedup):
    // batch = odd docs + suffix-perturbed clones of every 4th doc, scored
    // against the historical even-doc signature table. Audit = recall vs the
    // EXACT jaccard>=0.2 pairs of the union, restricted to pairs that span
    // batch×corpus (the only pairs the cross join is allowed to emit)
    "d_incremental_minhash" -> ((s, d) => {
      val base = docs(s, d).select(col("doc_id"), col("text"))
      val corpus = base.filter(col("doc_id") % 2 === 0)
      // clone ids are negative (-(doc_id+1)): no collision with real ids at
      // any scale factor, and isCorpus below stays a pure sign+parity test
      val batch = base.filter(col("doc_id") % 2 === 1).unionByName(
        base.filter(col("doc_id") % 4 === 0)
          .select((-col("doc_id") - 1L).as("doc_id"),
            concat(col("text"), lit(" graft incremental probe suffix"))
              .as("text")))
      val approx = Dedup.minhashIncrementalPairs(
          Dedup.minhashSignatures(batch, "doc_id", "text", shingleN = 3, k = 64),
          Dedup.minhashSignatures(corpus, "doc_id", "text", shingleN = 3, k = 64),
          k = 64, bands = 16, threshold = 0.2)
        .select(least(col("batch_id"), col("corpus_id")).as("id_a"),
          greatest(col("batch_id"), col("corpus_id")).as("id_b"),
          col("jaccard_est"))
      val isCorpus = (c: Column) => c % 2 === 0 && c >= 0L
      def exact = Dedup.ngramJaccardPairs(batch.unionByName(corpus), "doc_id",
          "text", shingleN = 3, threshold = 0.2, maxDocFreq = 50)
        .filter(isCorpus(col("id_a")) =!= isCorpus(col("id_b")))
      withPairRecallGated(approx, exact, base.count()).orderBy("id_a", "id_b")
    }),

    "d_minhash_pairs" -> ((s, d) => {
      val dd = docs(s, d)
      // audit: recall vs the EXACT jaccard>=0.2 pairs (same shingles, same
      // threshold the signatures estimate; ngramJaccardPairs' maxDocFreq
      // contract applies to both sides of the comparison) — measured-count
      // gated like d_embedding_dups, so sf10 benches the operator
      withPairRecallGated(
        Dedup.minhashPairs(dd, "doc_id", "text", shingleN = 3, k = 64,
          bands = 16, threshold = 0.2),
        Dedup.ngramJaccardPairs(dd, "doc_id", "text", shingleN = 3,
          threshold = 0.2, maxDocFreq = 50), dd.count())
        .orderBy("id_a", "id_b")
    }),

    // radius 3 = the classic near-dup setting: 4 bands of 16 bits with
    // COMPLETE candidate recall (pigeonhole). The previous radius-10 call
    // was silently truncated to radius-3 recall by the fixed band count;
    // honest radius-10 needs 11 five-bit bands whose dense buckets cost
    // ~7x — callers who want a wide radius now pay it explicitly
    "d_simhash_pairs" -> ((s, d) => {
      val dd = docs(s, d)
      // audit: banding is radius-COMPLETE vs simhash's own definition
      // (spec-pinned), so the informative number is semantic recall — what
      // fraction of the exact jaccard>=0.2 near-dup pairs land within
      // hamming<=3 of each other's simhash
      withPairRecallGated(
        Dedup.simhashPairs(dd, "doc_id", "text", maxHamming = 3),
        Dedup.ngramJaccardPairs(dd, "doc_id", "text", shingleN = 3,
          threshold = 0.2, maxDocFreq = 50), dd.count())
        .orderBy("id_a", "id_b")
    }),

    // synthetic embeddings are near-orthogonal (max pairwise cosine ≈ 0.47),
    // so the "near-dup" threshold is set where candidates exist
    "d_embedding_dups" -> ((s, d) => {
      val e = emb(s, d)
      val n = e.count()
      // 8 tables: the synthetic corpus's "near dups" sit at cosine ~0.3
      // (near-orthogonal), where a single 5-bit table structurally recalls
      // ~p^5 ≈ 8% (measured 9.3%) — multi-table union is the honest
      // borderline-similarity configuration: 1-(1-p^5)^8 ≈ 0.47.
      // Geometry is a MEASURED choice, settled with n=3 INTERLEAVED
      // cold-JVM samples per geometry (r12 verdict task 2 — the earlier
      // 4×1/2 gating rested on a noisy 2-sample A/B): 4 tables × FULL
      // bucket range (2 jobs) won all three interleaved rounds against
      // both 4×1/2 and one-shot — 117-153 s vs 136-212 s vs 222-259 s at
      // sf10 — and its pair set counts EQUAL to the one-shot plan's
      // (57,845,156; union-distinct over an exact candidate partition).
      // See SCALING.md round-18 for the full variance-aware table with
      // per-run disk stamps; the int16 prefilter keeps every geometry
      // <8 GB scratch on that tier.
      val approx = Dedup.embeddingPairs(e, "vec_id", "embedding", dim = 64,
        bits = 5, threshold = 0.3, knownCount = Some(n), tables = 8,
        stagedTableBatch = if (n > 100000L) 4 else 0)
      // the brute-force ground truth is O(n²): audit only below a measured
      // count (sf<=0.1 batteries), carry an explicit null above it — a 100TB
      // corpus audits on a sampled slice instead, never all-pairs
      val audited =
        if (n <= 5000L) withPairRecall(approx, exactCosinePairs(e, 0.3))
        else approx.withColumn("exact_pair_recall", lit(null).cast("double"))
      audited.orderBy("id_a", "id_b")
    }),

    // SemDeDup (Abbas et al. 2023): k-means the embeddings, within-cluster
    // cosine pairs ≥ threshold, keep the member least similar to its
    // centroid per duplicate group. No SQL oracle BY NATURE (iterative
    // k-means); the audit carried instead is PAIR recall — the fraction of
    // the EXACT global cosine-threshold pairs whose endpoints landed in one
    // duplicate group (what clustering can miss: cross-cluster pairs).
    "d_semantic_dedup" -> ((s, d) => {
      val e = emb(s, d)
      val n = e.count()
      val verdicts = graft.dedup.SemDedup.semanticDedup(
        e, "vec_id", "embedding", nClusters = 8, threshold = 0.3,
        knownCount = Some(n))
      val audited =
        if (n <= 5000L) {
          val ex = exactCosinePairs(e, 0.3)
            .select("id_a", "id_b").localCheckpoint(true)
          val nEx = ex.count()
          val va = verdicts.select(col("id").as("id_a"),
            col("component").as("comp_a"))
          val vb = verdicts.select(col("id").as("id_b"),
            col("component").as("comp_b"))
          val hits =
            if (nEx == 0) 0L
            else ex.join(va, Seq("id_a")).join(vb, Seq("id_b"))
              .where(col("comp_a") === col("comp_b")).count()
          verdicts.withColumn("exact_pair_recall", lit(
            if (nEx == 0) 1.0 else math.rint(hits.toDouble / nEx * 1e4) / 1e4))
        } else verdicts.withColumn("exact_pair_recall",
          lit(null).cast("double"))
      audited.orderBy("id")
    }),

    "a_ann_lsh" -> ((s, d) => {
      val corpus = emb(s, d).filter(col("vec_id") =!= 0)
      val q = emb(s, d).filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0)
      withRecallAtK(
        Ann.lshTopK(corpus, "vec_id", "embedding", dim = 64, q, k = 10,
          bits = 8, probeHamming = 3),
        Ann.bruteForceTopK(corpus, "vec_id", "embedding", q, 10), 10)
    }),

    // Product quantization (Jégou 2011): the compression rung below int8 —
    // d·4/m-fold smaller scan, scored by ADC table lookups inside codegen,
    // never decompressed. Train/encode run in-entry (m distributed k-means
    // fits on narrow subvector columns, KB-sized model to the driver);
    // recall@10 vs exact is measured and carried like the other approximate
    // family members. No SQL oracle BY NATURE (iterative k-means).
    "a_ann_pq" -> ((s, d) => {
      val corpus = emb(s, d).filter(col("vec_id") =!= 0)
      val q = emb(s, d).filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0)
      // codebook training is a one-time model build — content-keyed and
      // reused from the ivfpq sidecar (bench warmup), same convention as
      // the persisted index entries; the benched cost is the RECURRING
      // path: kernel encode of the corpus + ADC + exact re-rank
      val model = Ann.loadPqModel(s, ensureIvfPq(s, d))
      val encoded = Ann.pqEncode(corpus, "embedding", model)
        .select("vec_id", "pq_code")
      withRecallAtK(
        Ann.pqTopKRerank(encoded, corpus, "vec_id", "embedding", q, model,
          10, shortlist = 100),
        Ann.bruteForceTopK(corpus, "vec_id", "embedding", q, 10), 10)
    }),

    // The persisted FAISS-style composition: IVF lists prune the scan to
    // nProbe partitions (Catalyst partition pruning over the partitionBy
    // layout), ADC scores only id+code columns inside them, exact cosine
    // re-ranks the shortlist. Index built once per input content (bench
    // warmup), so the benched cost is the pruned probe.
    "a_ann_ivfpq" -> ((s, d) => {
      val path = ensureIvfPq(s, d)
      val corpus = emb(s, d).filter(col("vec_id") =!= 0)
      val q = emb(s, d).filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0)
      withRecallAtK(
        Ann.ivfPqTopK(s, path, corpus, "vec_id", "embedding", q, 10,
          nProbe = 6, shortlist = 100),
        Ann.bruteForceTopK(corpus, "vec_id", "embedding", q, 10), 10)
    }),

    // The scale-path ANN layout: corpus persisted partitionBy(bucket), probe
    // becomes Catalyst partition pruning (only probed buckets' files read).
    // The bucketed copy is built once per INPUT CONTENT (ensureBucketedAnn
    // keys on the file listing + sizes + mtimes, not the dir path) and reused,
    // so the benched cost is the pruned probe — the plan a 100 TB deployment
    // runs. Bench pre-builds it in warmup, outside the timed region.
    "a_ann_lsh_bucketed" -> ((s, d) => {
      val path = ensureBucketedAnn(s, d)
      val q = emb(s, d).filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0)
      withRecallAtK(
        Ann.lshTopKBucketed(s, path, "vec_id", "embedding", dim = 64, q,
          k = 10, bits = 6, probeHamming = 2),
        Ann.bruteForceTopK(emb(s, d).filter(col("vec_id") =!= 0),
          "vec_id", "embedding", q, 10), 10)
    }),

  )

  val all: Map[String, (SparkSession, String) => DataFrame] = sqlChecked ++ rowsOnly
}
