package graft.ann

import graft.dedup.Dedup
import graft.util.Sidecar
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`).
  *
  * Every single-query top-k here is one filter-and-refine skeleton: a
  * candidate generator builds a candidate `DataFrame` — the full scan, an
  * LSH bucket filter (in memory, or a persisted layout where the bucket
  * predicate is partition pruning), a signature-table join, an IVF list
  * filter, or a PQ/ADC shortlist — and [[exactTopK]] scores the candidates
  * with dimension-checked cosine and cuts `(cosine desc, id)` to k. The two
  * scorers over encoded vectors ([[pqTopK]]'s ADC score,
  * [[bruteForceTopKQuantized]]'s int8 cosine) share the same cut over their
  * own score column ([[rankTopK]]).
  *
  * Scale design: each rank is a single narrow scan of the candidates against
  * the literal query plus a k-row final sort (a running top-k per partition,
  * merged on the driver side). The pruned generators read only the probed
  * buckets or lists: at 100 TB the bucket column is a partition key, so
  * Catalyst turns the probe into partition pruning and only ~1/2^probes of
  * the data is read.
  */
object Ann {

  /** Brute-force cosine top-k for one query vector (exact baseline): the
    * whole corpus is the candidate set.
    */
  def bruteForceTopK(corpus: DataFrame, idCol: String, vecCol: String,
                     query: Seq[Double], k: Int): DataFrame =
    exactTopK(corpus, idCol, vecCol, query, k)

  /** The refine half of every float-vector single-query path: exact cosine
    * (6 dp) of each candidate against the query, top k by
    * `(cosine desc, id)`. Output `(id, cosine)`.
    */
  private def exactTopK(cands: DataFrame, idCol: String, vecCol: String,
                        query: Seq[Double], k: Int): DataFrame =
    rankTopK(cands.select(col(idCol).as("id"),
      round(Dedup.cosine(dimChecked(col(vecCol).cast("array<double>"),
        query.length), array(query.map(lit): _*)), 6).as("cosine")),
      "cosine", k)

  /** The deterministic rank cut over an `(id, score)` frame: one k-row
    * final sort, ties broken by id.
    */
  private def rankTopK(scored: DataFrame, score: String, k: Int): DataFrame =
    scored.orderBy(col(score).desc, col("id")).limit(k)

  /** Fail LOUDLY on a query/corpus dimension mismatch instead of the silent
    * all-NULL cosines a length mismatch would produce (a plausible-looking
    * but meaningless id-ordered top-k). Zero extra jobs: the check rides the
    * scan as a codegen'd raise_error branch.
    */
  private def dimChecked(v: Column, queryDim: Int, tpe: String = "array<double>",
                         what: String = "corpus vector"): Column =
    when(v.isNull || size(v) === queryDim, v)
      .otherwise(raise_error(concat(
        lit(s"ANN dim mismatch: query has $queryDim dims, $what has "),
        size(v).cast("string"))).cast(tpe))

  /** Symmetric per-vector int8 quantization: `scale = 127 / max|x_i|`,
    * `q_i = round(x_i * scale)` — 4× less storage/scan IO than float32 for
    * the 100 TB embedding corpus, with the per-vector scale stored alongside
    * so nothing global needs training. Rounding is half-away-from-zero in
    * every engine (Spark `round`, DuckDB, NumPy's `rint` differs — document
    * at integration). Zero vectors quantize to all-zero with scale 0.
    * Output: input columns + `q_vec: array<int>` (int8-ranged), `q_scale`.
    * Pure narrow map.
    */
  def quantizeInt8(corpus: DataFrame, vecCol: String): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val maxAbs = array_max(transform(v, x => abs(x)))
    val scale = when(maxAbs > 0d, lit(127d) / maxAbs).otherwise(lit(0d))
    corpus
      .withColumn("q_scale", scale)
      .withColumn("q_vec", transform(v, x =>
        round(x * col("q_scale"), 0).cast("int")))
  }

  /** Exact top-k over the QUANTIZED corpus: integer dot products, cosine
    * reconstructed from the stored scales. The scan reads 4×-smaller
    * vectors; ranking error vs float is bounded by the quantization step
    * (≤ ~0.8% of each coordinate). Same narrow scan + k-row sort shape as
    * [[bruteForceTopK]].
    */
  def bruteForceTopKQuantized(quantized: DataFrame, idCol: String,
                              query: Seq[Double], k: Int): DataFrame = {
    val qMax = query.map(math.abs).max
    val qScale = if (qMax > 0) 127d / qMax else 0d
    // HALF_UP (away from zero), matching Spark's round() on the corpus side —
    // math.round would differ on negative ties (-2.5 → -2, not -3)
    def r(x: Double): Int =
      BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toInt
    val qInt = array(query.map(x => lit(r(x * qScale).toLong)): _*)
    // integer dot / (|a| |b|) — scales cancel in cosine. Native codegen
    // kernel: the interpreted aggregate(zip_with(...)) lambda ran per
    // corpus vector (the whole scan) with per-row allocations; the values
    // are identical (int8 products fit a long exactly)
    val qlv = col("q_vec").cast("array<long>")
    val dot = graft.functions.KFunctions.array_dot_long(qlv, qInt)
    val nCorpus = sqrt(
      graft.functions.KFunctions.array_dot_long(qlv, qlv).cast("double"))
    val nQuery = math.sqrt(query.map(x => { val q = r(x * qScale).toDouble; q * q }).sum)
    // zero-norm guard, same contract as Dedup.cosine: 0/0 would be NaN, and
    // Spark sorts NaN ABOVE every number under desc — zero vectors would
    // dominate the top-k instead of sorting last (null) like the float path
    val denom = nCorpus * lit(nQuery)
    rankTopK(quantized
      .withColumn("q_vec",
        dimChecked(col("q_vec"), query.length, "array<int>", "q_vec"))
      .select(col(idCol).as("id"),
        when(denom =!= 0d, round(dot.cast("double") / denom, 6)).as("cosine")),
      "cosine", k)
  }

  /** Attach an LSH bucket column (random-hyperplane signature). Persist the
    * corpus partitioned/bucketed by this column and the probe path becomes
    * partition pruning.
    */
  def withBucket(corpus: DataFrame, vecCol: String, dim: Int, bits: Int): DataFrame =
    corpus.withColumn("bucket",
      Dedup.hyperplaneSignature(col(vecCol).cast("array<double>"), dim, bits))

  /** Persist the corpus partitioned by LSH bucket — the IVF-style layout.
    * Queries against [[lshTopKBucketed]] then hit Catalyst partition pruning:
    * only the probed buckets' files are read, so at 100 TB the scan cost is
    * ~(probed buckets / 2^bits) of the corpus.
    */
  def writeBucketed(corpus: DataFrame, path: String, vecCol: String, dim: Int,
                    bits: Int): Unit =
    withBucket(corpus, vecCol, dim, bits)
      .write.mode("overwrite").partitionBy("bucket").parquet(path)

  /** The query's LSH bucket, computed with the same plan-time hyperplane
    * weights as [[withBucket]] on a 1-row frame.
    */
  private def queryBucket(spark: SparkSession, query: Seq[Double], dim: Int,
                          bits: Int): Long =
    spark.range(1).select(Dedup.hyperplaneSignature(
      array(query.map(lit): _*), dim, bits).as("b")).head().getLong(0)

  /** Top-k over a bucket-partitioned corpus: the candidates are the buckets
    * within `probeHamming` of the query's, as a static bucket list that
    * prunes partitions before any file read (verify with PartitionFilters
    * in the plan).
    */
  def lshTopKBucketed(spark: SparkSession, path: String,
                      idCol: String, vecCol: String, dim: Int,
                      query: Seq[Double], k: Int, bits: Int,
                      probeHamming: Int): DataFrame = {
    val qBucket = queryBucket(spark, query, dim, bits)
    val buckets = (0L until (1L << bits))
      .filter(b => java.lang.Long.bitCount(b ^ qBucket) <= probeHamming)
    exactTopK(spark.read.parquet(path).filter(col("bucket").isin(buckets: _*)),
      idCol, vecCol, query, k)
  }

  /** IVF coarse quantizer: k-means centroids (fixed seed — the index must be
    * rebuildable bit-identically) learned once, then every vector assigned to
    * its nearest centroid's inverted list. The centroid table is tiny and
    * driver-resident; the assignment is one narrow ML transform.
    */
  case class IvfModel(centroids: Array[Array[Double]]) {
    def nLists: Int = centroids.length

    /** nProbe nearest lists to the query (euclidean, standard IVF) — pure
      * driver-side math over nLists centroids.
      */
    def probeLists(query: Seq[Double], nProbe: Int): Seq[Int] = {
      require(centroids.isEmpty || query.length == centroids.head.length,
        s"query dim ${query.length} != centroid dim ${centroids.head.length}")
      centroids.zipWithIndex.map { case (c, i) =>
        var d = 0.0
        var j = 0
        while (j < c.length) { val t = c(j) - query(j); d += t * t; j += 1 }
        (d, i)
      }.sortBy(_._1).take(nProbe).map(_._2).toSeq
    }

    def toJson: String = centroids.map(_.mkString("[", ",", "]"))
      .mkString("[", ",", "]")
  }

  object IvfModel {
    def fromJson(s: String): IvfModel = {
      import org.json4s._
      implicit val formats: Formats = DefaultFormats
      IvfModel(org.json4s.jackson.JsonMethods.parse(s)
        .extract[List[List[Double]]].map(_.toArray).toArray)
    }
  }

  /** Train the coarse quantizer and assign every corpus row to a `list`
    * column. Returns (corpus + list, model). At 100 TB: train on a sample,
    * assign in one pass, persist with `partitionBy("list")` via
    * [[writeIvf]] so probes become partition pruning.
    */
  def ivfAssign(corpus: DataFrame, vecCol: String, nLists: Int,
                seed: Long = 42L): (DataFrame, IvfModel) = {
    import org.apache.spark.ml.functions.array_to_vector
    val feats = corpus.withColumn("__ivf_vec",
      array_to_vector(col(vecCol).cast("array<double>")))
    val model = new org.apache.spark.ml.clustering.KMeans()
      .setK(nLists).setSeed(seed).setFeaturesCol("__ivf_vec")
      .setPredictionCol("list").fit(feats)
    val assigned = model.transform(feats).drop("__ivf_vec")
    (assigned, IvfModel(model.clusterCenters.map(_.toArray)))
  }

  /** Assign every row to its nearest centroid's list WITHOUT re-fitting —
    * the append path for an already-built index (and the full-table
    * assignment when the fit ran on a sample). The centroid set is tiny, so
    * each distance is a literal expression and the argmin is an `array_min`
    * over `(dist, list)` structs (lexicographic struct ordering = min dist,
    * ties to the lower list id): one codegen'd map over the corpus, zero
    * shuffle, no ML transform in the path.
    */
  def assignWithModel(df: DataFrame, model: IvfModel,
                      vecCol: String): DataFrame = {
    require(model.nLists >= 1, "model must have at least one centroid")
    df.withColumn("list", graft.functions.KFunctions.nearest_centroid(
      col(vecCol).cast("array<double>"), model.centroids))
  }

  /** Squared euclidean distance of an array<double> column to a
    * driver-resident centroid, unrolled over the (small, plan-time
    * constant) dimension into plain codegen arithmetic. The lambda-HOF
    * formulation (`aggregate(zip_with(...))`) never reaches doGenCode —
    * it ran interpreted, allocating per row per centroid, and dominated
    * the assignment scan. `get()` (0-based, NULL out of bounds) keeps the
    * dimension-mismatch semantics ANSI-safe; summation order matches the
    * left-fold of the HOF form bit for bit.
    */
  private[graft] def squaredDistance(vd: Column, c: Array[Double]): Column =
    c.zipWithIndex.map { case (cj, j) =>
      val d = get(vd, lit(j)) - lit(cj)
      d * d
    }.reduce(_ + _)

  /** IVF probe: scan only the nProbe nearest inverted lists, exact cosine
    * within. nProbe = nLists degrades to brute force (exact).
    */
  def ivfTopK(assigned: DataFrame, model: IvfModel, idCol: String,
              vecCol: String, query: Seq[Double], k: Int, nProbe: Int): DataFrame =
    exactTopK(assigned.filter(col("list").isin(model.probeLists(query, nProbe): _*)),
      idCol, vecCol, query, k)

  /** Persist an IVF-assigned corpus partitioned by list, with the centroid
    * model beside it — the same pruned-scan layout as [[writeBucketed]], but
    * with data-adaptive buckets (k-means lists track the embedding
    * distribution where random hyperplanes can't).
    */
  def writeIvf(assigned: DataFrame, model: IvfModel, path: String): Unit = {
    assigned.write.mode("overwrite").partitionBy("list").parquet(path)
    Sidecar.write(assigned.sparkSession, path, "_ivf_centroids.json", model.toJson)
  }

  /** Load the centroid sidecar of a persisted IVF, IVF-PQ or chunk index. */
  def loadIvfModel(spark: SparkSession, path: String): IvfModel =
    IvfModel.fromJson(Sidecar.read(spark, path, "_ivf_centroids.json"))

  /** Probe a persisted IVF layout: the `list` predicate is a partition filter
    * — only the probed lists' files are read.
    */
  def ivfTopKBucketed(spark: SparkSession, path: String,
                      idCol: String, vecCol: String, query: Seq[Double], k: Int,
                      nProbe: Int): DataFrame =
    ivfTopK(spark.read.parquet(path), loadIvfModel(spark, path), idCol, vecCol,
      query, k, nProbe)

  /** LSH-pruned top-k: score only vectors whose bucket is within `probeHamming`
    * of the query's bucket (multi-probe). Recall rises with probeHamming;
    * probeHamming = bits degrades to brute force.
    */
  def lshTopK(corpus: DataFrame, idCol: String, vecCol: String, dim: Int,
              query: Seq[Double], k: Int, bits: Int = 8,
              probeHamming: Int = 2): DataFrame = {
    val qBucket = queryBucket(corpus.sparkSession, query, dim, bits)
    exactTopK(withBucket(corpus, vecCol, dim, bits)
      .filter(bit_count(col("bucket").bitwiseXOR(lit(qBucket))) <= probeHamming),
      idCol, vecCol, query, k)
  }

  /** [[lshTopK]] served from a PERSISTED `(id, bucket)` signature table
    * that includes the query row's own signature — the fixture-split form:
    * signatures are engine-native (murmur2-derived hyperplanes), while the
    * Hamming probe, candidate join, exact scoring, and ranking downstream
    * of the persisted table are pure relational logic the DuckDB oracle
    * (`a_ann_lsh_probe`) hash-checks. Row-identical to [[lshTopK]] on the
    * same corpus/params by construction (spec-pinned).
    */
  def lshTopKFromSigs(sigs0: DataFrame, corpus: DataFrame, idCol: String,
                      vecCol: String, query: Seq[Double], queryId: Long,
                      k: Int, probeHamming: Int = 2): DataFrame = {
    val sigs = sigs0.toDF("id", "bucket")
    val qBucket = sigs.filter(col("id") === queryId).head().getLong(1)
    val cand = sigs.filter(col("id") =!= queryId &&
      bit_count(col("bucket").bitwiseXOR(lit(qBucket))) <= probeHamming)
    exactTopK(corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
      .join(cand.select("id"), "id"), "id", "v", query, k)
  }

  // ───────────────────────────── product quantization ──────────────────────

  /** Per-subspace PQ codebooks: `codebooks(i)(j)` = j-th codeword of
    * subspace i (length d/m each). Trained on UNIT-normalized vectors so ADC
    * inner products approximate cosine.
    */
  case class PqModel(m: Int, codebooks: Array[Array[Array[Double]]]) {
    def dsub: Int = codebooks(0)(0).length
    def dim: Int = m * dsub

    /** Per-query ADC table: `lut(i)(j) = <q_sub_i, codeword_ij>` over the
      * normalized query — scoring a code is m table reads, no decompression.
      */
    def adcTable(query: Seq[Double]): Array[Array[Double]] = {
      val qn = {
        val n = math.sqrt(query.map(x => x * x).sum)
        if (n > 0) query.map(_ / n) else query
      }
      require(qn.length == dim, s"query dim ${qn.length} != model dim $dim")
      Array.tabulate(m) { i =>
        codebooks(i).map { w =>
          var s = 0.0; var t = 0
          while (t < dsub) { s += qn(i * dsub + t) * w(t); t += 1 }
          s
        }
      }
    }
  }

  /** Unit-normalize an array<double> column (zero vectors pass unchanged). */
  private def unitNorm(v: Column): Column = {
    val n = sqrt(graft.functions.KFunctions.array_dot(v, v))
    when(n > 0d, transform(v, x => x / n)).otherwise(v)
  }

  /** Train PQ codebooks: split each unit-normalized vector into `m`
    * subvectors and fit one k-means (`ksub` codewords) per subspace —
    * m small DISTRIBUTED fits over narrow columns; the model that reaches
    * the driver is m·ksub·(d/m) doubles (KBs), never data-sized.
    */
  def pqTrain(corpus: DataFrame, vecCol: String, m: Int = 8, ksub: Int = 64,
              seed: Long = 42L): PqModel = {
    import org.apache.spark.ml.functions.array_to_vector
    val v = unitNorm(col(vecCol).cast("array<double>"))
    val dim = corpus.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val dsub = dim / m
    val norm = corpus.select(v.as("nv")).localCheckpoint(true)
    try {
      val codebooks = (0 until m).map { i =>
        val sub = norm.select(array_to_vector(
          slice(col("nv"), lit(i * dsub + 1), lit(dsub))).as("f"))
        new org.apache.spark.ml.clustering.KMeans()
          .setK(ksub).setSeed(seed + i).setFeaturesCol("f")
          .fit(sub).clusterCenters.map(_.toArray)
      }.toArray
      PqModel(m, codebooks)
    } finally graft.util.Checkpoints.free(norm)
  }

  /** Encode the corpus: input columns + `pq_code: array<int>` (m entries).
    * A narrow map through the [[graft.functions.PqEncode]] codegen kernel;
    * at ksub ≤ 256 the code persists as m bytes of dictionary-friendly ints —
    * the d·4/m-fold scan-size reduction for a 100 TB embedding corpus.
    */
  /* Broadcast lifecycle (pqEncode/pqTopK): each call broadcasts its model /
   * LUT once; the returned DataFrame holds the reference, so the broadcast
   * lives exactly as long as the result and is reclaimed by Spark's
   * ContextCleaner when the result is dropped — a serving loop should reuse
   * one encoded DataFrame rather than re-encoding per query. */
  def pqEncode(corpus: DataFrame, vecCol: String, model: PqModel): DataFrame = {
    val bc = corpus.sparkSession.sparkContext.broadcast(model.codebooks)
    corpus.withColumn("pq_code",
      org.apache.spark.sql.graftbridge.ColumnBridge.column(
        graft.functions.PqEncode(
          org.apache.spark.sql.graftbridge.ColumnBridge.resolvedExpression(
            unitNorm(col(vecCol).cast("array<double>"))), bc)))
  }

  /** ADC top-k over the ENCODED corpus: the scan reads only ids + m-int
    * codes; scoring is m lookup-table reads per row inside whole-stage
    * codegen ([[graft.functions.PqAdcScore]]). Approximate by construction
    * (quantization error) — rank quality is measured, not assumed: see the
    * recall audit in the battery entry and the spec floor.
    */
  def pqTopK(encoded: DataFrame, idCol: String, query: Seq[Double],
             model: PqModel, k: Int): DataFrame = {
    val bc = encoded.sparkSession.sparkContext.broadcast(model.adcTable(query))
    rankTopK(encoded.select(col(idCol).as("id"),
      round(org.apache.spark.sql.graftbridge.ColumnBridge.column(
        graft.functions.PqAdcScore(
          org.apache.spark.sql.graftbridge.ColumnBridge.resolvedExpression(
            col("pq_code")), bc)), 6).as("adc_score")), "adc_score", k)
  }

  /** The production PQ shape: ADC over the compressed scan selects a
    * `shortlist` (default 10k-sized per the PQ literature's re-rank stage),
    * then EXACT cosine re-ranks only those rows — the full-precision vectors
    * are fetched for O(shortlist) ids via a broadcast semi-join, never
    * scanned. Quantization error moves from the final ranking into the
    * shortlist boundary, where a 10× margin absorbs it.
    */
  def pqTopKRerank(encoded: DataFrame, corpus: DataFrame, idCol: String,
                   vecCol: String, query: Seq[Double], model: PqModel,
                   k: Int, shortlist: Int = 0): DataFrame = {
    val sl = if (shortlist > 0) shortlist else 10 * k
    val shortIds = pqTopK(encoded, idCol, query, model, sl).select("id")
    exactTopK(corpus.join(broadcast(shortIds), corpus(idCol) === shortIds("id"),
      "left_semi"), idCol, vecCol, query, k)
  }

  object PqModel {
    def toJson(m: PqModel): String =
      s"""{"m": ${m.m}, "codebooks": ${m.codebooks.map(_.map(
        _.mkString("[", ",", "]")).mkString("[", ",", "]")).mkString("[", ",", "]")}}"""
    def fromJson(s: String): PqModel = {
      import org.json4s._
      implicit val formats: Formats = DefaultFormats
      val j = org.json4s.jackson.JsonMethods.parse(s)
      PqModel((j \ "m").extract[Int],
        (j \ "codebooks").extract[List[List[List[Double]]]]
          .map(_.map(_.toArray).toArray).toArray)
    }
  }

  /** Persist the full IVF-PQ layout (the FAISS-style composition, public
    * method): rows `(id, list, pq_code)` partitioned by IVF list, IVF
    * centroids + PQ codebooks as JSON sidecars. A probe reads ONLY the
    * probed lists' files (Catalyst partition pruning) and only the id+code
    * columns — full-precision vectors never leave the source corpus; the
    * re-rank stage fetches O(shortlist) of them by semi-join.
    */
  def writeIvfPq(corpus: DataFrame, idCol: String, vecCol: String,
                 path: String, nLists: Int = 16, m: Int = 8,
                 ksub: Int = 64): Unit = {
    val (assigned, ivfModel) = ivfAssign(corpus, vecCol, nLists)
    val pqModel = pqTrain(corpus, vecCol, m, ksub)
    pqEncode(assigned, vecCol, pqModel)
      .select(col(idCol), col("list"), col("pq_code"))
      .write.mode("overwrite").partitionBy("list").parquet(path)
    Sidecar.write(corpus.sparkSession, path, "_ivf_centroids.json", ivfModel.toJson)
    Sidecar.write(corpus.sparkSession, path, "_pq_codebooks.json",
      PqModel.toJson(pqModel))
  }

  /** Load the PQ codebooks sidecar of a persisted IVF-PQ layout (or IVF-PQ
    * chunk index) — for reusing one content-keyed trained model across probe
    * styles.
    */
  def loadPqModel(spark: SparkSession, path: String): PqModel =
    PqModel.fromJson(Sidecar.read(spark, path, "_pq_codebooks.json"))

  /** Probe a persisted IVF-PQ layout: partition-pruned ADC over the nProbe
    * nearest lists → shortlist → exact re-rank against `corpus`.
    */
  def ivfPqTopK(spark: SparkSession, path: String,
                corpus: DataFrame, idCol: String, vecCol: String,
                query: Seq[Double], k: Int, nProbe: Int,
                shortlist: Int = 0): DataFrame = {
    // list probing runs in the RAW vector space ivfAssign trained in; only
    // the PQ stage normalizes (its own training geometry)
    val lists = loadIvfModel(spark, path).probeLists(query, nProbe)
    val pruned = spark.read.parquet(path).filter(col("list").isin(lists: _*))
    pqTopKRerank(pruned, corpus, idCol, vecCol, query, loadPqModel(spark, path),
      k, shortlist)
  }
}
