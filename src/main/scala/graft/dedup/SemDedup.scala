package graft.dedup

import graft.ann.Ann
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SemDeDup — semantic deduplication via embedding clustering (Abbas et
  * al. 2023, "SemDeDup: Data-efficient learning at web-scale through
  * semantic deduplication", arXiv:2303.09540): k-means the embedding space,
  * call two documents semantic duplicates when their cosine similarity
  * within a shared cluster exceeds a threshold, and keep ONE exemplar per
  * duplicate group — the member LEAST similar to its cluster centroid (the
  * paper's choice: of a redundant group, retain the most "edge-like"
  * example, prune the interior).
  *
  * This is the third rung of the dedup ladder: exact (digest) → lexical
  * near-dup (MinHash/SimHash/Jaccard) → SEMANTIC (same meaning, different
  * words), which only an embedding can see.
  *
  * Scale shape: clustering is what makes the quadratic tractable — the
  * pair search is a self-join ON THE CLUSTER ID, so candidate volume is
  * Σ|c|² over clusters instead of n². Size `nClusters` so the expected
  * cluster (n / nClusters) keeps |c|² executor-sized — the paper runs 50k
  * clusters over LAION-440M (~9k per cluster). The k-means fit runs on
  * Spark ML (at real scale, fit on a `corpus.sample` and assign the full
  * corpus — the centroids, not the fit set, define the index), the
  * assignment is one narrow transform materialized ONCE (local checkpoint,
  * or durable parquet staging via `staging` — same choice as the corpus
  * capstone), and the duplicate-group closure reuses the measured-gate
  * connected-components loop. Nothing in the pipeline is all-pairs.
  */
object SemDedup {

  /** Per-document semantic-dedup verdicts for every document that belongs
    * to a duplicate group: `(id, list, component, centroid_cos, keep)` —
    * `component` is the duplicate group (connected via ≥-threshold pairs
    * within a cluster), `keep` marks the paper's exemplar (min centroid
    * cosine, ties by min id). Documents in no duplicate pair are ABSENT
    * (they are all keepers); anti-join `keep = false` rows against the
    * corpus to prune it.
    *
    * @param nClusters FLOOR on the cluster count — deliberately NOT an
    *   exact k. BEHAVIOR CHANGE vs the pre-occupancy-scaling signature:
    *   callers passing n > nClusters × targetCellSize rows now get a
    *   larger, occupancy-scaled clustering, which can change individual
    *   dedup verdicts (different cell boundaries ⇒ different within-cell
    *   pairs) while keeping the semantics (near-dup groups at `threshold`)
    *   and fixing the cost. The effective k scales exactly like
    *   [[Dedup.semanticPairs]]:
    *   k = clamp(n / targetCellSize, nClusters, maxClusters) — a fixed k
    *   silently goes quadratic as the corpus grows (measured: this entry at
    *   a hard k=8 over 200k vectors ran 950 s; occupancy-scaled k=196 runs
    *   the same data in ~60 s with the same verdict semantics).
    * @param threshold within-cluster cosine at/above which two docs are
    *   semantic duplicates (the paper sweeps ~0.95-0.999 for CLIP text
    *   embeddings; synthetic batteries use lower).
    * @param staging when set, the cluster-assigned corpus is staged as
    *   write-once parquet under this dir (durable across executor loss —
    *   the assignment feeds BOTH pair-join sides and the centroid-cosine
    *   pass); default is an eager local checkpoint.
    * @param checkpointDir reliable-checkpoint dir for the components loop
    *   (see [[Clusters.connectedComponents]]).
    * @param targetCellSize expected rows per cell the scaling aims at (the
    *   |c|² executor budget); maxClusters caps the assign cost (see
    *   [[Dedup.semanticPairs]]'s cost model for when to raise it).
    * @param maxTrainRows k-means fits on at most this many sampled rows —
    *   Lloyd is O(rows × k × dim) per iteration and the centroids, not the
    *   fit set, define the cells; maxIter bounds the iterations.
    * @param knownCount corpus row count if the caller already has it (skips
    *   the sizing `count()`). MAY BE APPROXIMATE: it only sizes k, so a
    *   pre-filter count (before the zero-norm/NaN exclusion) is fine — k
    *   lands within one targetCellSize bucket of the post-filter value.
    */
  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
                    nClusters: Int, threshold: Double, seed: Long = 42L,
                    staging: Option[String] = None,
                    checkpointDir: Option[String] = None,
                    targetCellSize: Int = 1024, maxClusters: Int = 512,
                    maxTrainRows: Int = 200000, maxIter: Int = 10,
                    knownCount: Option[Long] = None): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0,1], got $threshold")
    val (assignedPlan, model) = fitAssign(corpus, idCol, vecCol, nClusters,
      seed, targetCellSize, maxClusters, maxTrainRows, maxIter, knownCount)
    // materialized once: the assignment feeds three consumers (two pair-join
    // sides + the centroid pass); without this the k-means transform and the
    // corpus scan would re-run per consumer
    val assigned = graft.text.CorpusPipeline.materializeStage(
      assignedPlan, staging, "semdedup-assigned")

    // within-cluster pairs: the cluster id is the join key, so each task's
    // pair expansion is bounded by its clusters' |c|²
    val pairs = Dedup.cellPairs(assigned, threshold).select("id_a", "id_b")

    val comps = Clusters.connectedComponents(pairs,
      checkpointDir = checkpointDir)

    // centroid cosine for group members only (semi-join first: the corpus-
    // sized centroid pass would be wasted on non-duplicates). Centroids are
    // a driver-resident nClusters×dim table — broadcast by construction.
    val spark = corpus.sparkSession
    val centroids = spark.createDataFrame(
      model.centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq)
      .toDF("list", "cvec")
      .withColumn("cnorm",
        sqrt(graft.functions.KFunctions.array_dot(col("cvec"), col("cvec"))))
    val members = assigned.join(comps, Seq("id"))
      .join(broadcast(centroids), Seq("list"))
      // unit is already normalized; guard the (degenerate) zero centroid
      .withColumn("centroid_cos", round(
        graft.functions.KFunctions.array_dot(col("unit"), col("cvec"))
          / when(col("cnorm") =!= 0.0d, col("cnorm")).otherwise(lit(1.0)), 6))
      .select("id", "list", "component", "centroid_cos")

    // the paper's exemplar: LOWEST centroid similarity in the group (keep
    // the edge of the cluster, drop the redundant interior); min_by with an
    // explicit id tiebreak so the winner is deterministic under cosine ties
    // one row per duplicate GROUP — usually tiny but unbounded in
    // principle, so no forced broadcast: both sides are already
    // component-keyed and AQE broadcasts the winners side when it measures
    // small
    val winners = members.groupBy("component")
      .agg(min(struct(col("centroid_cos"), col("id"))).as("w"))
      .select(col("component"), col("w.id").as("keep_id"))
    members.join(winners, Seq("component"))
      .withColumn("keep", col("id") === col("keep_id"))
      .select("id", "list", "component", "centroid_cos", "keep")
  }

  /** The fit-and-assign front half of [[semanticDedup]] and
    * [[Dedup.semanticPairs]], also exposed so the battery's fixture-split
    * oracle can persist the `(id, unit, list)` assignment after the
    * (un-oracleable, iterative) k-means fit and
    * recompute the relational back half — within-cluster cosine grouping +
    * least-centroid-similar exemplar selection — in BOTH engines. Returns
    * the UNmaterialized assignment plan `(id, unit, list)` (unit = the
    * L2-normalized vector; zero-norm / NaN rows excluded) and the fitted
    * centroid model; callers with multiple consumers materialize it once
    * (what [[semanticDedup]] does).
    */
  private[graft] def fitAssign(corpus: DataFrame, idCol: String,
                               vecCol: String, nClusters: Int, seed: Long,
                               targetCellSize: Int, maxClusters: Int,
                               maxTrainRows: Int, maxIter: Int,
                               knownCount: Option[Long])
      : (DataFrame, Ann.IvfModel) = {
    require(nClusters >= 1, s"nClusters must be >= 1, got $nClusters")
    require(targetCellSize >= 2 && maxTrainRows >= maxClusters,
      "targetCellSize >= 2 and maxTrainRows >= maxClusters required")
    // zero-norm / NaN vectors are excluded before the fit: an all-NaN row
    // would otherwise poison its whole cluster with NaN cosines
    val base = Dedup.unitVectors(corpus, idCol, vecCol).select("id", "vec", "unit")
    // occupancy-scaled cell count — nClusters is the floor, never the k (a
    // fixed k is the silent-quadratic trap Dedup.semanticPairs' cost model
    // documents)
    val n = knownCount.getOrElse(base.count())
    val k = math.max(nClusters,
      math.min(maxClusters.toLong, n / targetCellSize + 1L).toInt)
    // Spark ML KMeans requires k ≥ 2; k = 1 (brute-force SemDeDup, no
    // cluster pruning) assigns everything to one list whose centroid is
    // the dimension-wise mean — the same centroid k-means(k=1) converges to
    val (assignedPlan, model) =
      if (k == 1) {
        val centroid = base
          .select(posexplode(col("vec")).as(Seq("pos", "x")))
          .groupBy("pos").agg(avg("x").as("m"))
          .orderBy("pos").collect().map(_.getDouble(1))
        (base.withColumn("list", lit(0)), Ann.IvfModel(Array(centroid)))
      } else {
        // sampled, iteration-bounded fit (the centroids define the cells;
        // the fit set doesn't have to be the corpus), full-corpus assign
        import org.apache.spark.ml.functions.array_to_vector
        val feats = base.withColumn("__sem_vec", array_to_vector(col("vec")))
        val trainFrac = math.min(1.0, maxTrainRows.toDouble / math.max(n, 1L))
        val train =
          if (trainFrac < 1.0) feats.sample(withReplacement = false, trainFrac, seed)
          else feats
        val m = new org.apache.spark.ml.clustering.KMeans()
          .setK(k).setSeed(seed).setMaxIter(maxIter)
          .setFeaturesCol("__sem_vec").setPredictionCol("list")
          .fit(train)
        (m.transform(feats).drop("__sem_vec"),
          Ann.IvfModel(m.clusterCenters.map(_.toArray)))
      }
    (assignedPlan.select("id", "unit", "list"), model)
  }

  /** Prune a corpus with [[semanticDedup]] verdicts: drop every non-exemplar
    * group member. `verdicts` is metadata-shaped (duplicate-group members
    * only), so the anti-join's build side is small.
    */
  def prune(corpus: DataFrame, verdicts: DataFrame, idCol: String): DataFrame =
    corpus.join(
      verdicts.where(!col("keep")).select(col("id").as(idCol)),
      Seq(idCol), "left_anti")
}
