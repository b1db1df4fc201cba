package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Chunk-level retrieval — the RAG indexing capstone: a document corpus is
  * chunked ([[graft.text.CorpusClean.chunkByTokens]]), every chunk gets an
  * embedding, and an eval-sized query set retrieves its top-k chunks WITH
  * PROVENANCE (`doc_id`, `chunk_idx`, token offset) — the shape a retrieval
  * index actually serves, one level finer than the document-granular ANN
  * family in [[Ann]].
  *
  * Scale design: the brute-force scorer here is the EXACT baseline — one
  * narrow scan of the chunk table against a broadcast query set, per-query
  * top-k collapsed map-side (WindowGroupLimit pushes the k-bound below the
  * exchange, so the shuffle carries ≤ k × partitions rows per query, never
  * the corpus). The query side must be eval-sized by contract and that
  * contract is ENFORCED on the measured count — a silently-shuffled
  * corpus×corpus cartesian is the 100 TB failure mode, so an oversized
  * query set fails loudly and points at the indexed path ([[Ann.writeIvf]] /
  * [[Ann.writeIvfPq]] over the chunk table) instead.
  */
object Retrieval {

  @transient private lazy val log =
    org.slf4j.LoggerFactory.getLogger("graft.ann.Retrieval")

  /** The previous over-gate serve's persisted shortlist. A serve cannot
    * unpersist its OWN shortlist (the returned plan consumes it lazily),
    * so without bookkeeping a long-running serve-many process would leak
    * one MEMORY_AND_DISK entry per past-gate call; retiring the previous
    * handle when the next one persists bounds the leak to ONE live cache.
    * A caller still holding the previous result just recomputes it —
    * slower, never wrong.
    */
  @transient private var lastOverGateShortlist: DataFrame = null

  private def retirePreviousShortlist(next: DataFrame): DataFrame =
    synchronized {
      val prev = lastOverGateShortlist
      if (prev != null) prev.unpersist(false)
      lastOverGateShortlist = next
      next
    }

  /** Over-gate fallback shared by the dense retrieval family (the sparse
    * sibling is BM25's shuffle-join switch): when the MEASURED query count
    * exceeds `maxQueries`, the query set is split into hash shards small
    * enough for the broadcast/probe plan and `serve` runs once per shard —
    * per-query results are independent, so the union is row-identical to an
    * (infeasible) single broadcast pass. Cost is linear in shards: each
    * shard pays its own pruned probe, which is exactly what a corpus-sized
    * query set costs at 100 TB no matter how it's orchestrated. 2× shard
    * headroom absorbs hash unevenness; a pathologically skewed shard simply
    * re-shards through the same gate on recursion.
    *
    * Hash shards split DISTINCT ids only — rows sharing one query_id land
    * in the same shard at every re-shard, so a single id whose multiplicity
    * exceeds the gate could never make progress (unbounded recursion, the
    * failure mode the old loud `require` at least surfaced). The same
    * one-pass aggregate that measures the total therefore also measures the
    * worst per-id multiplicity, and an unshardable duplicate id fails
    * loudly instead of recursing.
    *
    * Returns Left(measured query count) at or under the gate — the caller
    * runs the broadcast plan and reuses the count instead of re-executing
    * the (possibly derived, arbitrarily expensive) queries plan for a
    * second `count()`.
    */
  private def shardedByQueryCount(queries: DataFrame, maxQueries: Long,
                                  what: String)
      (serve: DataFrame => DataFrame): Either[Long, DataFrame] = {
    require(maxQueries >= 1, "maxQueries must be >= 1")
    val r = queries.groupBy("query_id").agg(count(lit(1)).as("c"))
      .agg(coalesce(sum("c"), lit(0L)), coalesce(max("c"), lit(0L))).head()
    val (nq, maxPerId) = (r.getLong(0), r.getLong(1))
    if (nq <= maxQueries) Left(nq)
    else {
      require(maxPerId <= maxQueries,
        s"$what: one query_id appears $maxPerId times > maxQueries=" +
          s"$maxQueries — duplicate query_ids cannot be hash-sharded " +
          "(identical ids co-shard at every re-shard); dedup the query set")
      graft.metrics.GraftCounters.inc("dense_query_shard_fallback_total")
      val nShards = (2L * ((nq + maxQueries - 1) / maxQueries))
        .min(Int.MaxValue.toLong).toInt
      log.warn(s"$what: query set has $nq rows > maxQueries=$maxQueries — " +
        s"switching to the sharded probe path ($nShards hash shards, " +
        "row-identical, cost linear in shards)")
      Right((0 until nShards).map { i =>
        serve(queries.where(
          pmod(xxhash64(col("query_id")), lit(nShards)) === i))
      }.reduce(_ unionByName _))
    }
  }

  /** Fixed read schemas for the persisted IVF-PQ layouts — supplied to the
    * reader so an index built from an EMPTY corpus (a partitioned dir with
    * sidecars but no data files) serves an empty result instead of dying in
    * schema inference. Contract: `doc_id`/`chunk_idx`/`chunk_start` are
    * BIGINT (the [[graft.text.CorpusClean.chunkByTokens]] output types).
    */
  private val pqCodesSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("chunk_idx",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("chunk_start",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("pq_code",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.IntegerType, containsNull = false)),
    org.apache.spark.sql.types.StructField("list",
      org.apache.spark.sql.types.IntegerType)))

  private val pqVecsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("chunk_idx",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("vec",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType)),
    org.apache.spark.sql.types.StructField("list",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("vb",
      org.apache.spark.sql.types.IntegerType)))

  /** Deterministic, engine-portable stand-in embedding: dimension `i` is a
    * 4-nibble fold of `md5(text || ':' || salt || ':' || i)` reduced mod
    * 1000 — integer-valued, so every downstream inner product is EXACT in
    * both Spark and a SQL oracle (no float rounding anywhere). This is the
    * fixture/testing embedding that makes the retrieval MECHANICS
    * (chunking, scoring, ranking, provenance) hash-checkable end-to-end; a
    * real model embedding plugs into the same `array<long>`-shaped column
    * contract (cast upstream) without touching the scorer.
    */
  def hashEmbedding(text: Column, dim: Int, salt: String): Column = {
    require(dim >= 1, "dim must be >= 1")
    // native codegen kernel — one digest per dimension, one call site in
    // generated code. The earlier transform(sequence(...)) lambda ran
    // interpreted (HOFs never reach doGenCode) and re-ran the md5 chain
    // once per downstream consumer; a literal-unrolled md5/conv form fixed
    // the duplication but overflowed the 64 KB generated-method limit when
    // fused into the probe stage. Values are bit-identical to the
    // composable formula (HashEmbedSpec pins it); NULL text embeds NULL.
    graft.functions.KFunctions.hash_embed(text, dim, salt)
  }

  /** Exact integer inner product of two `array<long>` columns — the native
    * codegen kernel ([[graft.functions.LongArrayDot]]): the scorer runs
    * once per (chunk × probing query) candidate, where the interpreted
    * `aggregate(zip_with(...))` HOF form was the probe stage's hot spot.
    */
  def innerProduct(a: Column, b: Column): Column =
    graft.functions.KFunctions.array_dot_long(a, b)

  /** Top-`k` chunks per query by inner product (maximum-inner-product
    * retrieval — the scoring real dense retrievers use pre-normalization).
    * `chunks` carries `(doc_id, chunk_idx, chunk_start, vecCol)`, `queries`
    * carries `(query_id, vecCol)`. Output: one row per (query, rank):
    * `(query_id, rank, doc_id, chunk_idx, chunk_start, score)` — ties
    * broken by (doc_id, chunk_idx) for determinism.
    */
  def topKChunks(chunks: DataFrame, queries: DataFrame, k: Int,
                 vecCol: String = "vec",
                 maxQueries: Long = 1000000L): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val q = queries.select(col("query_id"), col(vecCol).as("qv"))
    // past the gate: hash-sharded serve (row-identical; each shard pays its
    // own corpus scan — an IVF/PQ index over the chunk table is the cheaper
    // plan at that size, but a corpus-sized query set must still complete)
    shardedByQueryCount(q, maxQueries, "topKChunks") { shard =>
      topKChunks(chunks, shard.withColumnRenamed("qv", vecCol), k, vecCol,
        maxQueries)
    }.getOrElse {
      // (Left carries the measured count; this path doesn't need it)
      val scored = chunks
        .join(broadcast(q))
        .select(col("query_id"), col("doc_id"), col("chunk_idx"),
          col("chunk_start"),
          innerProduct(col(vecCol), col("qv")).as("score"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("score").desc, col("doc_id"), col("chunk_idx"))
      scored.withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= k)
        .select("query_id", "rank", "doc_id", "chunk_idx", "chunk_start",
          "score")
    }
  }

  /** Chunk the corpus into token windows and embed every chunk — the shared
    * front half of the exact and IVF retrieval paths.
    */
  private def embeddedChunks(docs: DataFrame, chunkTokens: Int,
                             overlapTokens: Int, dim: Int, salt: String,
                             textCol: String): DataFrame =
    graft.text.CorpusClean
      .chunkByTokens(docs, chunkTokens, overlapTokens, textCol = textCol)
      .where(col("chunk").isNotNull)
      .select(col("doc_id"), col("chunk_idx"), col("chunk_start"),
        hashEmbedding(col("chunk"), dim, salt).as("vec"))

  /** The full capstone: chunk the corpus (token windows), embed chunks and
    * queries with [[hashEmbedding]], retrieve top-`k` per query. Documents
    * with NULL text produce no chunks (nothing to retrieve); a query row's
    * vector embeds its full `textCol`.
    */
  def retrieveChunks(docs: DataFrame, queries: DataFrame, k: Int,
                     chunkTokens: Int = 32, overlapTokens: Int = 8,
                     dim: Int = 4, salt: String = "emb",
                     textCol: String = "text"): DataFrame = {
    val q = queries.select(col("query_id"),
      hashEmbedding(col(textCol), dim, salt).as("vec"))
    topKChunks(
      embeddedChunks(docs, chunkTokens, overlapTokens, dim, salt, textCol),
      q, k)
  }

  /** Per-query probe table for an IVF-indexed chunk corpus: each query's
    * `nProbe` nearest inverted lists by squared-euclidean distance to the
    * coarse centroids. Computed as a broadcast join against the (tiny,
    * nLists-row) centroid table — never a driver loop — so the query set
    * only has to be eval-SIZED, not driver-resident. Ties broken by list id
    * for determinism. Output: `(query_id, qv, list)`.
    */
  def probeTable(queries: DataFrame, model: Ann.IvfModel, nProbe: Int,
                 vecCol: String = "vec", probeCol: String = ""): DataFrame = {
    require(nProbe >= 1 && nProbe <= model.nLists,
      s"nProbe must be in [1, ${model.nLists}], got $nProbe")
    val pc = if (probeCol.isEmpty) vecCol else probeCol
    // per query: sort the nLists (dist, list) structs — lexicographic
    // struct order = min dist, ties to the lower list — keep nProbe,
    // explode. Pure per-row expressions over broadcast-literal centroids:
    // no join, no window, no shuffle.
    val entries = model.centroids.toSeq.zipWithIndex.map { case (c, i) =>
      struct(Ann.squaredDistance(col("pv"), c).as("dist"),
        lit(i).as("list"))
    }
    queries.select(col("query_id"), col(vecCol).as("qv"),
        col(pc).cast("array<double>").as("pv"))
      .withColumn("list", explode(transform(
        slice(array_sort(array(entries: _*)), 1, nProbe),
        s => s.getField("list"))))
      .select("query_id", "qv", "list")
  }

  /** IVF-pruned top-`k` chunks per query: only the chunks in each query's
    * `nProbe` probed inverted lists are scored (exact integer inner product
    * within — the approximation is WHICH lists are visited, never the
    * score). `assigned` is the chunk table with its `list` assignment
    * ([[Ann.ivfAssign]] output, or a persisted [[Ann.writeIvf]] layout where
    * the `list` join prunes partitions). The probe table (`queries` ×
    * nProbe rows) broadcasts; the chunk corpus never shuffles, and the
    * per-query top-k collapses map-side exactly like [[topKChunks]].
    * `nProbe = nLists` visits every list and returns the exact result.
    */
  def topKChunksIvf(assigned: DataFrame, model: Ann.IvfModel,
                    queries: DataFrame, k: Int, nProbe: Int,
                    vecCol: String = "vec", probeCol: String = "",
                    maxQueries: Long = 1000000L): DataFrame = {
    require(k >= 1, "k must be >= 1")
    // past the gate: broadcast probe tables stop at eval scale, so the
    // query set hash-shards and probes per shard (row-identical)
    shardedByQueryCount(queries, maxQueries, "topKChunksIvf") { shard =>
      topKChunksIvf(assigned, model, shard, k, nProbe, vecCol, probeCol,
        maxQueries)
    }.getOrElse {
      val probes = probeTable(queries, model, nProbe, vecCol, probeCol)
      val scored = assigned
        .join(broadcast(probes), "list")
        .select(col("query_id"), col("doc_id"), col("chunk_idx"),
          col("chunk_start"),
          innerProduct(col(vecCol), col("qv")).as("score"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("score").desc, col("doc_id"), col("chunk_idx"))
      scored.withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= k)
        .select("query_id", "rank", "doc_id", "chunk_idx", "chunk_start",
          "score")
    }
  }

  /** The indexed sibling of [[retrieveChunks]] — the scale path its
    * oversized-query guard points at: chunk → embed → IVF coarse quantizer
    * → probe `nProbe` of `nLists` lists per query.
    *
    * Retrieval scores by INNER PRODUCT, but IVF partitions by euclidean
    * distance — naively clustering the raw vectors puts a query's MIP
    * winners in lists the probe never visits (measured recall@5 was 0.08
    * on this corpus). The standard public reduction (Bachrach et al.,
    * RecSys 2014) fixes the geometry: append `sqrt(M² − |x|²)` to every
    * corpus vector (M = max corpus norm) and `0` to queries, which makes
    * augmented euclidean NN order ≡ inner-product order. The index
    * (k-means fit, list assignment, probe distances) lives entirely in the
    * augmented space; SCORING stays the exact integer inner product in the
    * original space, so the approximation is only ever WHICH lists are
    * visited.
    *
    * At 100 TB the chunk table dwarfs the document table, so the k-means
    * fit runs on a deterministic hash sample (`fitSampleMod` keeps 1/mod of
    * the chunks — a fixed FRACTION is fine for a fit input because k-means
    * cost is per-iteration linear and the fit is one-off); `M²` is one
    * map-side max aggregate; the assignment is a pure codegen map. The
    * full table streams exactly once.
    */
  def retrieveChunksIvf(docs: DataFrame, queries: DataFrame, k: Int,
                        nLists: Int = 16, nProbe: Int = 4,
                        chunkTokens: Int = 32, overlapTokens: Int = 8,
                        dim: Int = 4, salt: String = "emb",
                        textCol: String = "text", seed: Long = 42L,
                        fitBudget: Int = 4096,
                        maxQueries: Long = 1000000L): DataFrame = {
    val (assigned, model, _, _) = buildIndex(docs, nLists, chunkTokens,
      overlapTokens, dim, salt, textCol, seed, fitBudget)
    val np = math.min(nProbe, model.nLists)
    val q = augmentedQueries(queries, dim, salt, textCol)
    // prune to the probed lists (driver union — ≤ nLists ints), then ONE
    // narrow exchange (ids + dim longs + list ≈ 60 B/row over the probed
    // subset) materializes the embed+assign projection exactly once.
    // Without the barrier the multiplying probe join re-evaluates the md5
    // embedding and the centroid argmin per MATCH, not per row — measured
    // 34 s vs 6 s at sf10 for ~10 matches/chunk. The persisted path
    // ([[writeChunkIndex]]) gets the same materialization from parquet.
    val lists = probeTable(q, model, np, "vec", "vaug")
      .select("list").distinct().collect().map(_.getInt(0)).sorted
    val pruned = assigned
      .where(col("list").isin(lists.map(Integer.valueOf).toSeq: _*))
      .repartition(col("list"), col("doc_id"), col("chunk_idx"))
    topKChunksIvf(pruned, model, q, k, np, probeCol = "vaug",
      maxQueries = maxQueries)
  }

  /** Chunk → embed → (one fused pass: M² max-aggregate + bounded fit
    * sample) → driver-side Lloyd's → assign. Returns the fully-assigned
    * chunk table, the coarse model, and the MIP augmentation constant M²
    * (persisted alongside a written index so a future append pass can
    * augment new chunks consistently).
    *
    * The fit sample is BOUNDED-SIZE (`fitBudget` rows via a deterministic
    * hash-ordered top-k — TakeOrdered, map-side k per partition), never a
    * corpus fraction: a %-sample fit grows with the corpus and drags a
    * 100 TB table through every k-means iteration. The `observe` hook rides
    * the same scan to collect M², so the whole build reads the chunk table
    * exactly twice: once here, once in the assign+score pass.
    */
  private def buildIndex(docs: DataFrame, nLists: Int, chunkTokens: Int,
                         overlapTokens: Int, dim: Int, salt: String,
                         textCol: String, seed: Long, fitBudget: Int)
      : (DataFrame, Ann.IvfModel, Long, Array[Array[Long]]) = {
    require(fitBudget >= 1, "fitBudget must be >= 1")
    val chunks = embeddedChunks(docs, chunkTokens, overlapTokens, dim, salt,
      textCol)
    val nsq = innerProduct(col("vec"), col("vec"))
    val obs = org.apache.spark.sql.Observation()
    val sample = chunks
      .observe(obs, max(nsq).as("m2"))
      .select(col("vec"),
        xxhash64(col("doc_id"), col("chunk_idx")).as("h"),
        col("doc_id"), col("chunk_idx"))
      .orderBy("h", "doc_id", "chunk_idx")   // total order → deterministic cut
      .limit(fitBudget)
      .select("vec")
      .collect()
      .map(_.getSeq[Long](0).toArray)
    val m2 = obs.get.get("m2") match {
      case Some(v: Long) => v
      case _             => 0L   // empty corpus: nothing to index
    }
    val model = fitLloyd(sample, m2, nLists, seed)
    val augmented = chunks.withColumn("vaug",
      concat(col("vec").cast("array<double>"),
        array(sqrt(lit(m2) - nsq))))
    // assign the FULL chunk table against the sampled-fit centroids — a
    // pure codegen map over broadcast-literal centroids, no ML transform
    val assigned = Ann.assignWithModel(augmented, model, "vaug")
      .select("doc_id", "chunk_idx", "chunk_start", "vec", "list")
    (assigned, model, m2, sample)
  }

  /** Seeded kmeans++ init + Lloyd's iterations over the (augmented)
    * fit sample — plain single-threaded driver math on a few thousand
    * points, so the centroids are bit-deterministic across shard layouts
    * and Spark versions (distributed k-means|| is neither). Nearest-center
    * ties break to the lower index, matching [[Ann.assignWithModel]].
    */
  private[graft] def fitLloyd(sampleVecs: Array[Array[Long]], m2: Long,
                              nLists: Int, seed: Long,
                              maxIter: Int = 25): Ann.IvfModel = {
    val pts = sampleVecs.map { v =>
      val nsq = v.map(x => x * x).sum
      v.map(_.toDouble) :+ math.sqrt(math.max(0L, m2 - nsq).toDouble)
    }
    if (pts.isEmpty)
      return Ann.IvfModel(Array(Array.fill(1)(0.0)))
    Ann.IvfModel(lloyd(pts, nLists, seed, maxIter))
  }

  /** The shared seeded kmeans++ + Lloyd's core over driver-resident
    * points — used by the IVF coarse fit (augmented space) and the PQ
    * per-subspace codebook fits, so both stay bit-deterministic across
    * shard layouts.
    */
  private[graft] def lloyd(pts: Array[Array[Double]], k0: Int, seed: Long,
                           maxIter: Int = 25): Array[Array[Double]] = {
    val k = math.min(k0, pts.length)
    val d = pts.head.length
    def sq(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < d) { val t = a(i) - b(i); s += t * t; i += 1 }
      s
    }
    // kmeans++ init
    val rnd = new scala.util.Random(seed)
    val centers = new Array[Array[Double]](k)
    centers(0) = pts(rnd.nextInt(pts.length)).clone()
    val minD = pts.map(p => sq(p, centers(0)))
    for (c <- 1 until k) {
      val totalW = minD.sum
      val target = rnd.nextDouble() * totalW
      var acc = 0.0; var pick = 0
      var i = 0
      while (i < pts.length && acc <= target) { acc += minD(i); pick = i; i += 1 }
      centers(c) = pts(pick).clone()
      var j = 0
      while (j < pts.length) {
        val dj = sq(pts(j), centers(c))
        if (dj < minD(j)) minD(j) = dj
        j += 1
      }
    }
    // Lloyd's
    val assign = new Array[Int](pts.length)
    var moved = true; var iter = 0
    while (moved && iter < maxIter) {
      moved = false
      var i = 0
      while (i < pts.length) {
        var best = 0; var bd = sq(pts(i), centers(0))
        var c = 1
        while (c < k) {
          val dc = sq(pts(i), centers(c))
          if (dc < bd) { bd = dc; best = c }   // strict: ties keep lower c
          c += 1
        }
        if (assign(i) != best) { assign(i) = best; moved = true }
        i += 1
      }
      val sums = Array.fill(k)(new Array[Double](d))
      val counts = new Array[Int](k)
      var j = 0
      while (j < pts.length) {
        val c = assign(j); counts(c) += 1
        var t = 0
        while (t < d) { sums(c)(t) += pts(j)(t); t += 1 }
        j += 1
      }
      var c = 0
      while (c < k) {
        if (counts(c) > 0) {
          var t = 0
          while (t < d) { centers(c)(t) = sums(c)(t) / counts(c); t += 1 }
        } // empty cluster: keep its previous center (deterministic)
        c += 1
      }
      iter += 1
    }
    centers
  }

  /** Embed a query set and append the MIP-augmentation `0` coordinate (a
    * query augments with zero by construction, so no corpus constant is
    * needed at query time).
    */
  private def augmentedQueries(queries: DataFrame, dim: Int, salt: String,
                               textCol: String): DataFrame =
    queries.select(col("query_id"),
        hashEmbedding(col(textCol), dim, salt).as("vec"))
      .withColumn("vaug", concat(col("vec").cast("array<double>"),
        array(lit(0.0d))))

  /** Persist the chunk index: list-partitioned parquet (so probes become
    * partition pruning) + the centroid sidecar ([[Ann.writeIvf]]) + the
    * MIP augmentation constant. Build once, serve many — the layout a
    * retrieval index actually deploys as.
    */
  def writeChunkIndex(docs: DataFrame, path: String, nLists: Int = 16,
                      chunkTokens: Int = 32, overlapTokens: Int = 8,
                      dim: Int = 4, salt: String = "emb",
                      textCol: String = "text", seed: Long = 42L,
                      fitBudget: Int = 4096): Unit = {
    val (assigned, model, m2, _) = buildIndex(docs, nLists, chunkTokens,
      overlapTokens, dim, salt, textCol, seed, fitBudget)
    Ann.writeIvf(assigned, model, path)
    graft.util.Sidecar.write(docs.sparkSession, path, "_mip_m2.json",
      m2.toString)
  }

  /** Per-subspace PQ codebooks fitted on the SAME bounded, deterministic
    * sample as the coarse quantizer — driver-side seeded Lloyd's per
    * subspace, never a corpus-sized distributed fit. Points are the
    * unit-normalized augmented sample (every augmented corpus vector has
    * norm exactly √M², so normalization is a constant rescale and ADC
    * inner products preserve the MIP order).
    */
  private def pqFitFromSample(sample: Array[Array[Long]], m2: Long,
                              m: Int, ksub: Int, seed: Long): Ann.PqModel = {
    val mNorm = math.sqrt(math.max(1L, m2).toDouble)
    val pts = sample.map { v =>
      val nsq = v.map(x => x * x).sum
      (v.map(_.toDouble) :+ math.sqrt(math.max(0L, m2 - nsq).toDouble))
        .map(_ / mNorm)
    }
    val dAug = pts.headOption.map(_.length).getOrElse(m)
    require(dAug % m == 0, s"m=$m must divide augmented dim=$dAug")
    val dsub = dAug / m
    val codebooks = (0 until m).map { i =>
      val sub = pts.map(p => java.util.Arrays.copyOfRange(p, i * dsub,
        (i + 1) * dsub))
      if (sub.isEmpty) Array(Array.fill(dsub)(0.0))
      else lloyd(sub, ksub, seed + i)
    }.toArray
    Ann.PqModel(m, codebooks)
  }

  /** Persist the IVF-PQ chunk index — the 100 TB serve layout whose scan
    * reads CODES, not vectors: rows `(doc_id, chunk_idx, chunk_start,
    * pq_code)` partitioned by IVF list, with the coarse centroids, PQ
    * codebooks, and MIP constant as sidecars. Composition of the chunk
    * family's bounded-fit IVF ([[writeChunkIndex]]) with the PQ
    * machinery audited in [[Ann.writeIvfPq]]: PQ trains AND encodes in
    * the augmented MIP space, where every corpus vector has norm exactly
    * √M² — so the unit normalization PQ assumes is a constant rescale
    * and ADC against a self-normalized query ranks by inner product.
    *
    * Full-precision vectors never enter the CODES layout; they persist
    * once, beside it, as the `_vecs/` side table — `(doc_id, chunk_idx,
    * vec)` partitioned by `(list, vb)` where `vb = hash(doc_id) mod
    * nVecBuckets` — so the exact re-rank ([[retrieveFromChunkIndexPq]])
    * fetches O(shortlist) vectors through TWO static partition filters
    * (probed lists ∩ shortlist doc-hash buckets) instead of re-chunking
    * and re-embedding the source corpus per serve call (the round-9 scan
    * cost this layout exists to avoid). Build cost is two passes over the
    * chunk projection (codes write + vecs write) — paid once; the serve
    * path never touches the corpus again.
    *
    * `m` must divide the AUGMENTED dimension (dim + 1).
    */
  def writeChunkIndexPq(docs: DataFrame, path: String, nLists: Int = 16,
                        m: Int = 5, ksub: Int = 32,
                        chunkTokens: Int = 32, overlapTokens: Int = 8,
                        dim: Int = 4, salt: String = "emb",
                        textCol: String = "text", seed: Long = 42L,
                        fitBudget: Int = 4096,
                        nVecBuckets: Int = 16): Unit = {
    require(m >= 1 && (dim + 1) % m == 0,
      s"m=$m must divide the augmented dim ${dim + 1}")
    require(ksub >= 1, "ksub must be >= 1")
    require(nVecBuckets >= 1, "nVecBuckets must be >= 1")
    val (assigned, model, m2, sample) = buildIndex(docs, nLists, chunkTokens,
      overlapTokens, dim, salt, textCol, seed, fitBudget)
    val pqModel = pqFitFromSample(sample, m2, m, ksub, seed)
    val nsq = innerProduct(col("vec"), col("vec"))
    val aug = assigned.withColumn("vaug",
      concat(col("vec").cast("array<double>"),
        array(sqrt(greatest(lit(0L), lit(m2) - nsq)))))
    // codes keep the writer-task sharding (the ADC scan WANTS parallelism
    // — scoring is CPU-bound, and one file per list would serialize it)
    Ann.pqEncode(aug, "vaug", pqModel)
      .select(col("doc_id"), col("chunk_idx"), col("chunk_start"),
        col("list"), col("pq_code"))
      .write.mode("overwrite").partitionBy("list").parquet(path)
    // the full-precision side table (underscore prefix keeps it invisible
    // to the codes read's file discovery, like the sidecars). ONE sized
    // file per (list, vb) dir, rows id-sorted: the fetch is a cheap probe
    // join, and the naive write's (writer tasks × dirs) slivers cost it a
    // task per sliver — measured 116 tasks for a 1.5M-row fetch at sf10,
    // pure scheduling overhead. A 100 TB build salts the repartition key
    // to hold files at target size instead.
    assigned
      .withColumn("vb",
        pmod(xxhash64(col("doc_id")), lit(nVecBuckets.toLong)).cast("int"))
      .select(col("doc_id"), col("chunk_idx"), col("vec"), col("list"),
        col("vb"))
      .repartition(col("list"), col("vb"))
      .sortWithinPartitions("doc_id", "chunk_idx")
      .write.mode("overwrite").partitionBy("list", "vb")
      .parquet(s"$path/_vecs")
    val spark = docs.sparkSession
    graft.util.Sidecar.write(spark, path, "_ivf_centroids.json",
      model.toJson)
    graft.util.Sidecar.write(spark, path, "_pq_codebooks.json",
      Ann.PqModel.toJson(pqModel))
    graft.util.Sidecar.write(spark, path, "_mip_m2.json", m2.toString)
    graft.util.Sidecar.write(spark, path, "_vecs_meta.json",
      s"""{"nVecBuckets": $nVecBuckets}""")
  }

  /** Serve a persisted IVF-PQ chunk index: probed lists prune to a
    * static partition filter, the pruned scan reads ONLY ids + m-int
    * codes (ReadSchema-locked — the codes layout stores no vectors), ADC
    * against each probing query's normalized augmented embedding selects
    * a per-query `shortlist` (default 10·k), and the EXACT integer inner
    * product re-ranks only the shortlisted (query, chunk) pairs — their
    * full-precision vectors come from the index's own `_vecs/` side
    * table through two static partition filters (probed lists + the
    * shortlist's doc-hash buckets), so a serve call NEVER touches the
    * source corpus: the whole read surface is index files. ADC decode is
    * the [[graft.functions.PqDecode]] broadcast-codebook kernel (the
    * model never enters the Catalyst plan, so realistic ksub/dim fit the
    * 64 KB codegen budget); the approximation is WHICH chunks reach the
    * shortlist, never the final scores. In the serving regime (bounded
    * query batches) the shortlist collects and re-enters as a broadcast
    * local relation, so the whole serve is ONE codes/ADC pass plus the
    * bucket-pruned vector fetch; past the collect gate the codes-only
    * subplan runs once more to gather the bucket ids — see the inline
    * note.
    *
    * `exactRerank = false` skips the vector fetch entirely and ranks by
    * the ADC score itself (`score` becomes the 6-dp ADC double) — the
    * zero-vector-IO serving mode for when shortlist-grade ordering is
    * enough.
    *
    * `committedOnly = true` pins BOTH layout scans (codes and `_vecs`) to
    * base files + batches whose [[graft.util.StreamCommit]] marker is
    * present, via a driver-side listing of the probed partitions — so a
    * streaming-ingest batch that is mid-promote (or crashed before its
    * marker) is entirely invisible: without it the default scan could
    * shortlist a SUBSET of a half-landed batch's chunks (at-least-once
    * visibility, transient, converges at the marker). Cost: one file
    * listing per layout over the probed lists (metadata-sized). ONE
    * marker+watermark snapshot is taken per logical serve CALL, before
    * any query sharding — an over-gate query set that recurses through
    * hash shards serves every shard from the same index view (a
    * concurrent ingest committing between shards cannot give different
    * shards different views; spec-pinned).
    */
  def retrieveFromChunkIndexPq(spark: org.apache.spark.sql.SparkSession,
                               path: String, queries: DataFrame,
                               k: Int, nProbe: Int,
                               shortlist: Int = 0,
                               dim: Int = 4, salt: String = "emb",
                               textCol: String = "text",
                               exactRerank: Boolean = true,
                               maxQueries: Long = 1000000L,
                               collectGate: Long = 200000L,
                               committedOnly: Boolean = false): DataFrame =
    retrievePqWithSnapshot(spark, path, queries, k, nProbe, shortlist, dim,
      salt, textCol, exactRerank, maxQueries, collectGate,
      if (committedOnly)
        Some(graft.util.StreamCommit.committedView(spark, path))
      else None)

  /** One layout table's committed parquet files (partition globs relative
    * to `root`) in one [[graft.util.StreamCommit.committedView]], read
    * with the pinned schema — an empty frame when nothing is committed.
    */
  private def readCommitted(spark: org.apache.spark.sql.SparkSession,
                            root: String, partGlobs: Seq[String],
                            view: (Seq[(String, Long, String)],
                              graft.util.StreamCommit.LogState),
                            schema: org.apache.spark.sql.types.StructType)
      : DataFrame = {
    val files = graft.util.StreamCommit.committedDataFiles(
      graft.util.StreamCommit.fs(spark, root),
      partGlobs.map(g => s"${graft.util.StreamCommit.escapeGlob(root)}/$g"),
      view._1, view._2)
    if (files.isEmpty)
      spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
    else spark.read.option("basePath", root).schema(schema).parquet(files: _*)
  }

  /** Deep self-check of a persisted IVF-PQ chunk index — the dense
    * sibling of [[graft.ann.Bm25.validateIndex]]: the codes layout and
    * the `_vecs/` side table must describe the SAME chunk set in the
    * COMMITTED view. A code row without its vector row is the documented
    * silent-drop hazard (it shortlists, then the exact re-rank's inner
    * side-table join drops it — a top-k slot silently lost), so any such
    * row FAILS the check; a vector row without its code row is inert to
    * serving (vecs promote first; a crashed append legally leaves them)
    * and is reported without failing. One scan of each layout's committed
    * files — a deep admin check, not a serving-path cost. Returns
    * (nCodes, nVecs, codesWithoutVec, vecsWithoutCode, ok).
    */
  def validatePqIndex(spark: org.apache.spark.sql.SparkSession,
                      path: String): (Long, Long, Long, Long, Boolean) = {
    val view = graft.util.StreamCommit.committedView(spark, path)
    val codes = readCommitted(spark, path, Seq("list=*/*"), view,
      pqCodesSchema).select(col("doc_id"), col("chunk_idx"), lit(1L).as("c"))
    val vecs = readCommitted(spark, s"$path/_vecs", Seq("list=*/vb=*/*"),
      view, pqVecsSchema)
      .select(col("doc_id"), col("chunk_idx"), lit(1L).as("v"))
    // one full-outer join + one agg = the documented one-scan-per-layout
    // cost (separate count() actions would re-read each layout per count)
    val r = codes.join(vecs, Seq("doc_id", "chunk_idx"), "full_outer")
      .agg(coalesce(sum("c"), lit(0L)), coalesce(sum("v"), lit(0L)),
        coalesce(sum(when(col("v").isNull, 1L)), lit(0L)),
        coalesce(sum(when(col("c").isNull, 1L)), lit(0L)))
      .head()
    val (nCodes, nVecs, noVec, noCode) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    (nCodes, nVecs, noVec, noCode, noVec == 0L)
  }

  /** [[retrieveFromChunkIndexPq]] with the committed snapshot already
    * taken (None = default at-least-once visibility) — the shard
    * recursion target, package-visible so the spec can pin
    * snapshot-coherence by injecting a stale snapshot.
    */
  private[graft] def retrievePqWithSnapshot(
      spark: org.apache.spark.sql.SparkSession,
      path: String, queries: DataFrame, k: Int, nProbe: Int,
      shortlist: Int, dim: Int, salt: String, textCol: String,
      exactRerank: Boolean, maxQueries: Long, collectGate: Long,
      snapshot: Option[(Seq[(String, Long, String)],
        graft.util.StreamCommit.LogState)]): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val sl = if (shortlist > 0) shortlist else 10 * k
    require(sl >= k, s"shortlist=$sl must be >= k=$k")
    val committedOnly = snapshot.isDefined
    val nq = shardedByQueryCount(queries, maxQueries,
      "retrieveFromChunkIndexPq") { shard =>
        retrievePqWithSnapshot(spark, path, shard, k, nProbe, shortlist,
          dim, salt, textCol, exactRerank, maxQueries, collectGate,
          snapshot)
    } match {
      case Right(sharded) => return sharded
      case Left(n)        => n   // measured ONCE; feeds the collect gate
    }
    {
      // the one per-serve-call snapshot serves both layout scans — the
      // codes and vecs views of any batch commit or vanish together, and
      // every query shard of one logical call sees one index view
      val ivfModel = Ann.IvfModel.fromJson(
        graft.util.Sidecar.read(spark, path, "_ivf_centroids.json"))
      val pqModel = Ann.PqModel.fromJson(
        graft.util.Sidecar.read(spark, path, "_pq_codebooks.json"))
      val np = math.min(nProbe, ivfModel.nLists)
      val q = augmentedQueries(queries, dim, salt, textCol)
      // normalized augmented query for ADC (a query augments with 0, so its
      // augmented norm is its own norm; zero vectors pass unnormalized —
      // they inner-product to 0 against everything either way)
      val qnorm = sqrt(graft.functions.KFunctions.array_dot(col("vaug"),
        col("vaug")))
      val qn = q.select(col("query_id"), col("vec").as("qvec"),
        when(qnorm > 0d, transform(col("vaug"), x => x / qnorm))
          .otherwise(col("vaug")).as("qn"))
      val probes = probeTable(q, ivfModel, np, "vec", "vaug")
        .select("query_id", "list")
        .join(qn, "query_id")
      val lists = probes.select("list").distinct().collect()
        .map(_.getInt(0)).sorted
      def listFilter(c: Column): Column =
        c.isin(lists.map(Integer.valueOf).toSeq: _*)
      val scan =
        (if (!committedOnly)
          spark.read.schema(pqCodesSchema).parquet(path)
            .where(listFilter(col("list")))
        else
          readCommitted(spark, path, lists.toSeq.map(l => s"list=$l/*"),
            snapshot.get, pqCodesSchema))
          .select("doc_id", "chunk_idx", "chunk_start", "list", "pq_code")
      // ADC decode via the broadcast-codebook kernel; summation order is
      // identical to the per-subspace literal reconstruction it replaced.
      // Decoded BEFORE the multiplying probe join: each chunk reconstructs
      // once, not once per probing query (~nQueries·nProbe/nLists matches
      // per chunk — decode-per-match was measured 1.8× slower at sf1)
      val cbBc = spark.sparkContext.broadcast(pqModel.codebooks)
      val recon = org.apache.spark.sql.graftbridge.ColumnBridge.column(
        graft.functions.PqDecode(
          org.apache.spark.sql.graftbridge.ColumnBridge.resolvedExpression(
            col("pq_code")), cbBc))
      val sw = Window.partitionBy("query_id")
        .orderBy(col("adc").desc, col("doc_id"), col("chunk_idx"))
      val short = scan.withColumn("dec", recon)
        .join(broadcast(probes), "list")
        .withColumn("adc",
          graft.functions.KFunctions.array_dot(col("dec"), col("qn")))
        .withColumn("srank", row_number().over(sw))
        .where(col("srank") <= sl)
      if (!exactRerank) {
        // ADC-only serving: the shortlist order IS the ranking — zero
        // vector IO, one codes scan total
        short.where(col("srank") <= k)
          .select(col("query_id"), col("srank").cast("long").as("rank"),
            col("doc_id"), col("chunk_idx"), col("chunk_start"),
            round(col("adc"), 6).as("score"))
      } else {
        val nVb = graft.util.Sidecar.requiredLong(
          graft.util.Sidecar.read(spark, path, "_vecs_meta.json"),
          "nVecBuckets", s"$path/_vecs_meta.json")
        // vb derived IN the plan (Spark's xxhash64 — never a driver-side
        // reimplementation that could diverge from the write-side column).
        // The shortlist carries IDS ONLY — query vectors re-attach at the
        // end from the ≤nq-row query table, so neither branch ever moves
        // an nq·sl set of vector payloads.
        val shortIds = short.select(col("query_id"), col("doc_id"),
          col("chunk_idx"), col("chunk_start"),
          pmod(xxhash64(col("doc_id")), lit(nVb)).cast("int").as("vb"))
        // the shortlist is ≤ nq·sl rows by construction. In the serving
        // regime (bounded query batches) it COLLECTS: one codes/ADC pass
        // total, the shortlist re-enters as a broadcast local relation,
        // and its vb set prunes the side table's doc-hash buckets — the
        // single-query serve reads ~sl/nVecBuckets of the probed lists'
        // vector files. Past the collect gate (huge eval sets) the
        // shortlist stays DISTRIBUTED: the side-table fetch becomes a
        // shuffle-hash join on (doc_id, chunk_idx) — shortlist-sized, the
        // side-table scan is already list+vb-pruned — because broadcasting
        // (or collecting) an nq·sl shortlist is the one join strategy that
        // cannot handle the huge-eval regime this branch exists for. The
        // shortlist PERSISTS (executor memory/disk, lineage kept) before
        // its two consumers — the ≤ nVb bucket-id collapse and the final
        // join — because the subplan above it IS the serve's dominant ADC
        // pass: re-running it per consumer measured 1.8× the collect
        // branch at sf1 / 5000 queries (73.8 vs 40.6 s); persisted it is
        // shortlist-sized ids, and the serve pays the ADC pass once in
        // either branch. Each serve retires the previous serve's handle
        // ([[retirePreviousShortlist]]) so a serve-many loop holds at most
        // ONE live cache — the returned plan stays correct either way, the
        // cache is only the don't-recompute shield.
        val (shortSrc, vbs) =
          if (nq * sl <= collectGate) {
            val rows = shortIds.collect()
            (broadcast(spark.createDataFrame(
              java.util.Arrays.asList(rows: _*), shortIds.schema)),
              rows.map(_.getAs[Int]("vb")).distinct.sorted)
          } else {
            val mat = retirePreviousShortlist(shortIds.persist(
              org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
            (mat.hint("shuffle_hash"),
              mat.select("vb").distinct().collect()
                .map(_.getInt(0)).sorted)
          }
        val side =
          (if (!committedOnly)
            spark.read.schema(pqVecsSchema).parquet(s"$path/_vecs")
              .where(listFilter(col("list")) &&
                col("vb").isin(vbs.map(Integer.valueOf).toSeq: _*))
          else
            readCommitted(spark, s"$path/_vecs",
              for { l <- lists.toSeq; v <- vbs.toSeq }
                yield s"list=$l/vb=$v/*",
              snapshot.get, pqVecsSchema))
            .select("doc_id", "chunk_idx", "vec")
        val w = Window.partitionBy("query_id")
          .orderBy(col("score").desc, col("doc_id"), col("chunk_idx"))
        side.join(shortSrc, Seq("doc_id", "chunk_idx"))
          .join(broadcast(qn.select(col("query_id"), col("qvec"))),
            "query_id")
          .select(col("query_id"), col("doc_id"), col("chunk_idx"),
            col("chunk_start"),
            innerProduct(col("vec"), col("qvec")).as("score"))
          .withColumn("rank", row_number().over(w).cast("long"))
          .where(col("rank") <= k)
          .select("query_id", "rank", "doc_id", "chunk_idx", "chunk_start",
            "score")
      }
    }
  }

  /** Incremental ingest into a persisted IVF-PQ chunk index — the PQ
    * sibling of [[appendToChunkIndex]]: new documents are chunked,
    * embedded, augmented with the INDEX'S stored M², assigned against the
    * stored coarse centroids, PQ-encoded against the stored codebooks (a
    * pure codegen map — no re-fit, no re-read of existing data), and
    * appended into BOTH layouts: codes rows into the list-partitioned
    * index, full-precision vectors into the `(list, vb)`-partitioned
    * `_vecs/` side table the exact re-rank serves from. The same
    * outlier-norm clamp applies: a new chunk whose norm exceeds the
    * stored M² augments with 0 — final scores stay exact regardless (the
    * augmented space only steers probing and the ADC shortlist); the
    * outlier probes slightly worse until a full rebuild refreshes M².
    */
  def appendToChunkIndexPq(docs: DataFrame, path: String,
                           chunkTokens: Int = 32, overlapTokens: Int = 8,
                           dim: Int = 4, salt: String = "emb",
                           textCol: String = "text"): Unit = {
    val (codes, vecs) = pqAppendFrames(docs, path, chunkTokens,
      overlapTokens, dim, salt, textCol)
    // side table FIRST. The append is two independent write JOBS, and a
    // driver death (or job failure) between them leaves exactly one layout
    // advanced. An orphan _vecs row is harmless — a chunk with no code row
    // never reaches a shortlist, so serving is identical to the append
    // never having happened (spec-pinned). The reverse order was a
    // silent-wrong-answer hazard: an appended code row with no _vecs row
    // gets shortlisted and then silently DROPPED by the exact re-rank's
    // inner side-table join. (Recovering a half-appended index is a store
    // operation, not a blind re-run — re-appending the same docs would
    // duplicate the landed layout; dedupe-compact on (doc_id, chunk_idx)
    // or rebuild. The ordering's guarantee is that the index stays
    // CORRECT to serve at every point of that timeline.)
    vecs.write.mode("append").partitionBy("list", "vb")
      .parquet(s"$path/_vecs")
    codes.write.mode("append").partitionBy("list").parquet(path)
  }

  /** EXACTLY-ONCE application of one ingest batch into a persisted IVF-PQ
    * chunk index — the idempotent form of [[appendToChunkIndexPq]] that
    * streaming ingest (foreachBatch, an AT-LEAST-ONCE contract: a batch
    * replays after any failure, with the SAME batchId) and externally
    * checkpointed backfills need. Plain `mode("append")` is wrong under
    * replay: a batch that crashed between its two write jobs — or after
    * both — would re-append rows it already landed, and duplicate
    * `(doc_id, chunk_idx)` rows corrupt the serve's top-k (each duplicate
    * takes its own rank slot).
    *
    * Protocol (plain parquet, no table format needed):
    *   1. marker check: `_stream_appends/b<id>` exists → fully applied,
    *      no-op (returns false);
    *   2. scrub: delete every `b<id>-*` file from BOTH layouts — a replay
    *      after a mid-promote crash removes whatever subset landed;
    *   3. stage: write codes and vecs into `_staging/b<id>/` (underscore
    *      dir — invisible to every reader, like the sidecars);
    *   4. promote: per-file rename into the live layout under a
    *      `b<id>-`-prefixed name, VECS FIRST (orphan vectors are invisible
    *      to serving — the same ordering contract as
    *      [[appendToChunkIndexPq]]);
    *   5. marker write, then staging cleanup.
    * Every step is idempotent or scrubbed, so any crash point replays to
    * the single-application state. File renames are atomic on
    * rename-capable stores (local, HDFS, ABFS); an S3 deployment fronts
    * this with a rename-capable committer the same way it must for every
    * other multi-file layout in the repo. Concurrent zombie applications
    * of the SAME batchId are the one unguarded case (no lock file) —
    * Spark's streaming engine serializes foreachBatch per query, which is
    * the deployment contract here.
    *
    * `streamId` namespaces the batch tag: batchIds are only stable within
    * ONE streaming checkpoint lineage (a new checkpoint restarts at 0 and
    * would silently no-op against the old lineage's markers, dropping
    * data), so every new checkpoint directory — and every concurrent
    * stream into one index — carries its own streamId.
    */
  def applyPqIngestBatch(batch: DataFrame, path: String, batchId: Long,
                         chunkTokens: Int = 32, overlapTokens: Int = 8,
                         dim: Int = 4, salt: String = "emb",
                         textCol: String = "text",
                         streamId: String = ""): Boolean = {
    graft.util.StreamCommit.requireValidStreamId(streamId)
    val spark = batch.sparkSession
    val fs = graft.util.StreamCommit.fs(spark, path)
    val tag = graft.util.StreamCommit.tag(streamId, batchId)
    if (graft.util.StreamCommit.markerExists(fs, path, tag)) return false
    // marker gone ≠ never applied: compaction deletes folded markers, and
    // a rollback deliberately excised the batch — gate on the ingest log
    if (graft.util.StreamCommit.refuseReplayOfRemoved(
      graft.util.StreamCommit.readState(spark, path), streamId, batchId,
      path)) return false
    val prefix = s"$tag-"
    graft.util.StreamCommit.scrub(fs, chunkBatchGlobs(path)(tag))
    val staging = s"$path/_staging/$tag"
    fs.delete(new org.apache.hadoop.fs.Path(staging), true)
    val (codes, vecs) = pqAppendFrames(batch, path, chunkTokens,
      overlapTokens, dim, salt, textCol)
    vecs.write.mode("overwrite").partitionBy("list", "vb")
      .parquet(s"$staging/vecs")
    codes.write.mode("overwrite").partitionBy("list").parquet(s"$staging/codes")
    graft.util.StreamCommit.promote(fs, s"$staging/vecs", s"$path/_vecs",
      prefix)
    graft.util.StreamCommit.promote(fs, s"$staging/codes", path, prefix)
    graft.util.StreamCommit.writeMarker(fs, path, tag)
    fs.delete(new org.apache.hadoop.fs.Path(staging), true)
    true
  }

  /** One ingest batch's data files in a chunk index, by batch tag, CODES
    * FIRST — the mirror of the vecs-first promote ordering, so a rollback
    * or replay scrub in glob order leaves every chunk either with both
    * rows or invisible to serving at each crash point (a code row without
    * its vector row is the silent-drop hazard; an orphan vector row never
    * reaches a shortlist). The IVF-flat layout has no `_vecs/` table, so
    * its second glob matches nothing.
    */
  private[graft] def chunkBatchGlobs(path: String)(tagName: String)
      : Seq[String] = {
    val pg = graft.util.StreamCommit.escapeGlob(path)
    Seq(s"$pg/list=*/$tagName-*", s"$pg/_vecs/list=*/vb=*/$tagName-*")
  }

  /** Roll back one streaming-ingested batch from a persisted IVF-PQ or
    * IVF-flat chunk index — the administrative "remove a poisoned batch"
    * operation: the shared intent-record-first protocol of
    * [[graft.util.StreamCommit.removeBatchGuarded]] (removal recorded in
    * the ingest log before any mutation, then marker delete, then the
    * codes-first scrub of [[chunkBatchGlobs]]), including its
    * serve-vs-rollback reader contract (in-flight serves fail loudly,
    * never silently partially). Idempotent; must not race an in-flight
    * ingest of the same tag (administrative single-writer).
    */
  def removePqIngestBatch(spark: org.apache.spark.sql.SparkSession,
                          path: String, batchId: Long,
                          streamId: String = "",
                          allowMissing: Boolean = false): Boolean =
    graft.util.StreamCommit.removeBatchGuarded(spark, path, streamId,
      batchId, chunkBatchGlobs(path)(graft.util.StreamCommit.tag(streamId,
        batchId)), allowMissing = allowMissing)

  /** [[removePqIngestBatch]] for the IVF-flat chunk index (same layout
    * minus the `_vecs/` table; same guarded protocol).
    */
  def removeChunkIngestBatch(spark: org.apache.spark.sql.SparkSession,
                             path: String, batchId: Long,
                             streamId: String = "",
                             allowMissing: Boolean = false): Boolean =
    removePqIngestBatch(spark, path, batchId, streamId, allowMissing)

  /** The two append frames (codes, vecs) for [[appendToChunkIndexPq]],
    * exposed so the ordering contract above is testable: writing `vecs`
    * alone simulates a death between the jobs, and serving must then be
    * identical to the un-appended index.
    */
  private[graft] def pqAppendFrames(docs: DataFrame, path: String,
                                    chunkTokens: Int = 32,
                                    overlapTokens: Int = 8,
                                    dim: Int = 4, salt: String = "emb",
                                    textCol: String = "text")
      : (DataFrame, DataFrame) = {
    val spark = docs.sparkSession
    val model = Ann.IvfModel.fromJson(
      graft.util.Sidecar.read(spark, path, "_ivf_centroids.json"))
    val pqModel = Ann.PqModel.fromJson(
      graft.util.Sidecar.read(spark, path, "_pq_codebooks.json"))
    val m2 = graft.util.Sidecar.read(spark, path, "_mip_m2.json").trim.toLong
    val nVb = graft.util.Sidecar.requiredLong(
      graft.util.Sidecar.read(spark, path, "_vecs_meta.json"),
      "nVecBuckets", s"$path/_vecs_meta.json")
    val chunks = embeddedChunks(docs, chunkTokens, overlapTokens, dim, salt,
      textCol)
    val nsq = innerProduct(col("vec"), col("vec"))
    val augmented = chunks.withColumn("vaug",
      concat(col("vec").cast("array<double>"),
        array(sqrt(greatest(lit(0L), lit(m2) - nsq)))))
    val assigned = Ann.assignWithModel(augmented, model, "vaug")
    val codes = Ann.pqEncode(assigned, "vaug", pqModel)
      .select(col("doc_id"), col("chunk_idx"), col("chunk_start"),
        col("list"), col("pq_code"))
    val vecs = assigned
      .withColumn("vb", pmod(xxhash64(col("doc_id")), lit(nVb)).cast("int"))
      .select(col("doc_id"), col("chunk_idx"), col("vec"), col("list"),
        col("vb"))
      .repartition(col("list"), col("vb"))
      .sortWithinPartitions("doc_id", "chunk_idx")
    (codes, vecs)
  }

  /** Collapse a chunk-level ranked result to a document-level ranking:
    * each (query, doc) keeps its best chunk rank, then docs re-rank by
    * that (ties by doc_id). The doc-granular view hybrid fusion
    * ([[Bm25.fuseRrf]]) and doc-level eval need — result-sized, no corpus
    * access.
    */
  def docLevelRanks(results: DataFrame): DataFrame = {
    val best = results.groupBy("query_id", "doc_id")
      .agg(min("rank").as("best_rank"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("best_rank"), col("doc_id"))
    best.withColumn("rank", row_number().over(w).cast("long"))
      .select("query_id", "rank", "doc_id")
  }

  /** Hard-negative mining for retriever training — the top-ranked
    * NON-relevant documents per query (the strongest confusions, the
    * negatives contrastive embedding training wants). `ranked` is a
    * `(query_id, rank, doc_id, ...)` result (doc level — see
    * [[docLevelRanks]]); `rel` is any boolean relevance expression over
    * its columns. Negatives re-rank densely 1..nNeg in original rank
    * order. Result-sized rank arithmetic — no corpus access.
    * Output: `(query_id, neg_rank, doc_id, orig_rank)`.
    */
  def hardNegatives(ranked: DataFrame, rel: Column, nNeg: Int): DataFrame = {
    require(nNeg >= 1, "nNeg must be >= 1")
    val w = Window.partitionBy("query_id").orderBy(col("rank"))
    ranked.where(!rel)
      .withColumn("neg_rank", row_number().over(w).cast("long"))
      .where(col("neg_rank") <= nNeg)
      .select(col("query_id"), col("neg_rank"), col("doc_id"),
        col("rank").as("orig_rank"))
  }

  /** Per-query retrieval-quality metrics over a ranked result — the eval
    * leg every retrieval index needs: MRR (reciprocal rank of the first
    * relevant hit, 0 if none in the list) and nDCG@k (DCG with 1/log2(r+1)
    * discounting, normalized by the ideal ordering of the hits the list
    * actually contains). `results` is `topKChunks`-shaped (`query_id`,
    * `rank`, ...); `rel` is any 0/1 relevance expression over its columns
    * (typically a join flag against a labeled qrels table). Pure two-level
    * aggregate — one shuffle on query_id, metric-sized output. Doubles are
    * rounded to 6 dp so the numbers are engine-portable.
    */
  def evalMetrics(results: DataFrame, rel: Column, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val g = results.where(col("rank") <= k)
      .select(col("query_id"), col("rank"), rel.cast("int").as("rel"))
    val idcg = aggregate(sequence(lit(1), col("n_rel")),
      lit(0.0d), (acc, i) => acc + lit(1.0d) / log2(i.cast("double") + 1))
    g.groupBy("query_id")
      .agg(
        sum("rel").cast("long").as("n_rel"),
        round(coalesce(max(col("rel").cast("double") /
          col("rank").cast("double")), lit(0.0d)), 6).as("mrr"),
        sum(col("rel").cast("double") /
          log2(col("rank").cast("double") + 1)).as("dcg"))
      .withColumn(s"ndcg_at_$k",
        when(col("n_rel") === 0L, lit(0.0d))
          .otherwise(round(col("dcg") / idcg, 6)))
      .drop("dcg")
  }

  /** Incremental ingest into a persisted chunk index: new documents are
    * chunked, embedded, augmented with the INDEX'S stored M² (so old and
    * new vectors live in the same augmented geometry), assigned against
    * the stored centroids — a pure codegen map, no re-fit, no re-read of
    * the existing data — and appended into the list-partitioned layout.
    * A new chunk whose norm exceeds the stored M² clamps its augmentation
    * coordinate to 0: scoring stays EXACT regardless (the augmented space
    * only steers which lists are probed), the outlier just probes slightly
    * worse until the next full rebuild refreshes M².
    */
  def appendToChunkIndex(docs: DataFrame, path: String,
                         chunkTokens: Int = 32, overlapTokens: Int = 8,
                         dim: Int = 4, salt: String = "emb",
                         textCol: String = "text"): Unit =
    chunkAppendFrame(docs, path, chunkTokens, overlapTokens, dim, salt,
      textCol)
      .write.mode("append").partitionBy("list").parquet(path)

  /** Chunk, embed, augment with the INDEX'S stored M² (outlier norms
    * clamp to 0 — see [[appendToChunkIndex]]'s contract), and assign
    * against its stored centroids — the one frame construction the flat
    * index's batch append AND streaming ingest share (the flat sibling
    * of [[pqAppendFrames]]; a one-sided edit here cannot diverge them).
    */
  private def chunkAppendFrame(docs: DataFrame, path: String,
                               chunkTokens: Int, overlapTokens: Int,
                               dim: Int, salt: String,
                               textCol: String): DataFrame = {
    val spark = docs.sparkSession
    val model = Ann.IvfModel.fromJson(
      graft.util.Sidecar.read(spark, path, "_ivf_centroids.json"))
    val m2 = graft.util.Sidecar.read(spark, path, "_mip_m2.json").trim.toLong
    val chunks = embeddedChunks(docs, chunkTokens, overlapTokens, dim, salt,
      textCol)
    val nsq = innerProduct(col("vec"), col("vec"))
    val augmented = chunks.withColumn("vaug",
      concat(col("vec").cast("array<double>"),
        array(sqrt(greatest(lit(0L), lit(m2) - nsq)))))
    Ann.assignWithModel(augmented, model, "vaug")
      .select("doc_id", "chunk_idx", "chunk_start", "vec", "list")
  }

  /** EXACTLY-ONCE application of one ingest batch into a persisted
    * IVF-flat chunk index — the [[appendToChunkIndex]] counterpart of
    * [[applyPqIngestBatch]], same [[graft.util.StreamCommit]] protocol.
    * The flat layout is the easy case: one partitioned table, no side
    * table, no stats payload — marker gate, scrub, stage, prefixed
    * promote, marker.
    */
  def applyChunkIngestBatch(batch: DataFrame, path: String, batchId: Long,
                            chunkTokens: Int = 32, overlapTokens: Int = 8,
                            dim: Int = 4, salt: String = "emb",
                            textCol: String = "text",
                            streamId: String = ""): Boolean = {
    graft.util.StreamCommit.requireValidStreamId(streamId)
    val spark = batch.sparkSession
    val fs = graft.util.StreamCommit.fs(spark, path)
    val tag = graft.util.StreamCommit.tag(streamId, batchId)
    if (graft.util.StreamCommit.markerExists(fs, path, tag)) return false
    // same ingest-log gate as [[applyPqIngestBatch]]: folded → no-op
    // replay, deliberately removed → loud refusal (never resurrect a
    // rollback)
    if (graft.util.StreamCommit.refuseReplayOfRemoved(
      graft.util.StreamCommit.readState(spark, path), streamId, batchId,
      path)) return false
    graft.util.StreamCommit.scrub(fs, chunkBatchGlobs(path)(tag))
    val staging = s"$path/_staging/$tag"
    fs.delete(new org.apache.hadoop.fs.Path(staging), true)
    chunkAppendFrame(batch, path, chunkTokens, overlapTokens, dim, salt,
      textCol)
      .write.mode("overwrite").partitionBy("list").parquet(staging)
    graft.util.StreamCommit.promote(fs, staging, path, s"$tag-")
    graft.util.StreamCommit.writeMarker(fs, path, tag)
    fs.delete(new org.apache.hadoop.fs.Path(staging), true)
    true
  }

  private val flatChunkSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("chunk_idx",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("chunk_start",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("vec",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType)),
    org.apache.spark.sql.types.StructField("list",
      org.apache.spark.sql.types.IntegerType)))

  /** Serve a persisted chunk index: the union of every query's probed
    * lists is collected (≤ nLists ints — metadata-sized by construction)
    * and applied as a STATIC partition filter, so only nProbe-ish of the
    * index files are ever read; scoring and ranking are then exactly
    * [[topKChunksIvf]]. Query text must use the same (chunkTokens, dim,
    * salt) the index was built with. `committedOnly` pins the scan to
    * base files + marker-committed ingest batches (the same snapshot
    * contract as [[retrieveFromChunkIndexPq]]).
    */
  def retrieveFromChunkIndex(spark: org.apache.spark.sql.SparkSession,
                             path: String, queries: DataFrame, k: Int,
                             nProbe: Int, dim: Int = 4, salt: String = "emb",
                             textCol: String = "text",
                             maxQueries: Long = 1000000L,
                             committedOnly: Boolean = false): DataFrame = {
    val model = Ann.IvfModel.fromJson(
      graft.util.Sidecar.read(spark, path, "_ivf_centroids.json"))
    val np = math.min(nProbe, model.nLists)
    val q = augmentedQueries(queries, dim, salt, textCol)
    val lists = probeTable(q, model, np, "vec", "vaug")
      .select("list").distinct().collect().map(_.getInt(0)).sorted
    val scan =
      if (!committedOnly)
        spark.read.parquet(path)
          .where(col("list").isin(lists.map(Integer.valueOf).toSeq: _*))
      else
        readCommitted(spark, path, lists.toSeq.map(l => s"list=$l/*"),
          graft.util.StreamCommit.committedView(spark, path), flatChunkSchema)
    topKChunksIvf(scan, model, q, k, np, probeCol = "vaug",
      maxQueries = maxQueries)
  }
}
