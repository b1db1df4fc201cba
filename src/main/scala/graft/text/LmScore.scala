package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** N-gram language-model quality scoring — the CCNet recipe (Wenzek et al.
  * 2020): train a cheap LM on a trusted reference slice, score every corpus
  * document by its per-token log-probability, and let downstream sampling
  * keep the head / drop the tail. The reference implements no LM scoring;
  * this is part of the training-data battery the build brief mandates.
  *
  * The model is a trigram stupid-backoff LM (Brants et al. 2007 — "Large
  * Language Models in Machine Translation"): no discounting to tune, one
  * backoff constant, and — unlike Kneser-Ney — every score is a ratio of
  * integer counts, so an independent engine (the DuckDB oracle) reproduces
  * it bit-for-bit from the same counts:
  *
  *   S(w | u,v) = c3(uvw)/c2(uv)   if c3 > 0 else 0.4 * S(w | v)
  *   S(w | v)   = c2(vw)/c1(v)     if c2 > 0 else 0.4 * S(w)
  *   S(w)       = c1(w)/N          if c1 > 0 else 1/N   (OOV floor)
  *
  * Position 1 of a document scores with S(w), position 2 with S(w|v), the
  * rest with the trigram model. Scores are base-10 logs; a document's score
  * is the average over its positions (= negative log10-perplexity).
  *
  * Scale shape (100 TB corpus, bounded reference):
  *  - TRAINING is one pass over the reference: three explode→groupBy counts
  *    with map-side partial aggregation; the model size is vocabulary-bounded
  *    (unigrams) and type-bounded (bi/trigrams grow sub-linearly in corpus
  *    size by Zipf). `N` alone comes to the driver.
  *  - SCORING never shuffles the corpus: per-doc position structs are built
  *    in ONE narrow `transform` over the token array (each neighbor access is
  *    an O(1) array index — no self-join, no window over positions), exploded,
  *    and left-joined against the model. When the measured trigram-type count
  *    fits the broadcast gate (same measured-count policy as
  *    [[Sampling.decontaminate]]), all five lookups are broadcast hash joins
  *    — the corpus side stays map-only until the per-doc aggregation, which
  *    partial-aggregates before its one shuffle on `doc_id`.
  *  - Above the gate, the joins fall back to shuffle joins on the gram
  *    string; for that regime, [[LmModel.save]]/[[LmModel.load]] persist the
  *    counts as parquet so the (possibly expensive) training pass runs once,
  *    not once per scoring job, and the gate's `count()` becomes a
  *    metadata-cheap scan of the persisted table.
  */
object LmScore {

  private val BackoffLog10: Column = log10(lit(0.4))

  private def toks(textCol: Column): Column =
    TextFunctions.tokens(lower(textCol))

  /** Trained counts. `totalTokens` is N (the unigram denominator).
    * `combCk` is the backing (order, gram) count checkpoint when the model
    * came from [[train]] — uni/bi/tri are filters of it, and it persists at
    * the RDD layer (below the SQL cache manager), so [[unpersist]] must
    * free it explicitly or every train() call leaks a gram-table-sized
    * block set into the session (ADVICE r14).
    */
  final case class LmModel(uni: DataFrame, bi: DataFrame, tri: DataFrame,
                           totalTokens: Long,
                           combCk: Option[DataFrame] = None) {

    // set once unpersist() frees combCk: uni/bi/tri are filters of it, so
    // every later read would die on a missing checkpoint block
    @volatile private var released = false

    private[text] def requireLive(use: String): Unit =
      if (released) throw new IllegalStateException(
        s"LmModel.$use after unpersist(): the model's count tables were " +
          "released with its training checkpoint. Finish using the model " +
          "before unpersist(), or save() it and LmModel.load() it again")

    /** Persist the model as three parquet tables + a JSON sidecar with N
      * (shared [[graft.util.Sidecar]] convention, like the ANN layouts).
      * Re-loading makes scoring independent of the one-time training pass.
      */
    def save(dir: String): Unit = {
      requireLive("save")
      uni.write.mode("overwrite").parquet(s"$dir/uni.parquet")
      bi.write.mode("overwrite").parquet(s"$dir/bi.parquet")
      tri.write.mode("overwrite").parquet(s"$dir/tri.parquet")
      graft.util.Sidecar.write(uni.sparkSession, dir, "lm-meta.json",
        s"""{"total_tokens":$totalTokens}""")
    }

    /** Pin the three count tables in the block-manager cache. A freshly
      * trained model is three LAZY aggregation plans over the reference
      * corpus, and [[score]] consumes them six times (the gate count + five
      * join sides) — un-cached, that re-runs training per use. Callers own
      * the lifecycle: pair with [[unpersist]] (or use [[save]]/[[LmModel.load]]
      * for the durable equivalent).
      *
      * Materialization is EAGER: [[score]]'s five model-side lookups are
      * broadcast exchanges that execute as CONCURRENT driver jobs, and a
      * lazy persist lets the uni/bi pairs race — each table's reference-
      * corpus aggregation runs twice in parallel before either run can
      * populate the cache (the same race [[graft.operators.GraphStats]]
      * documents). Three sequential fills here make every later consumer a
      * cache read.
      */
    def cache(): LmModel = {
      requireLive("cache")
      uni.persist(); bi.persist(); tri.persist()
      uni.count(); bi.count(); tri.count()
      this
    }

    /** Release the cached tables and, for a [[train]]ed model, its
      * training checkpoint. A trained model is unusable afterwards: any
      * later [[score]], [[save]] or [[cache]] fails naming `unpersist()`.
      * A loaded model stays usable (it re-reads its parquet).
      */
    def unpersist(): LmModel = {
      uni.unpersist(); bi.unpersist(); tri.unpersist()
      combCk.foreach(graft.util.Checkpoints.free)
      released = combCk.isDefined
      this
    }
  }

  object LmModel {
    def load(spark: SparkSession, dir: String): LmModel = {
      val meta = graft.util.Sidecar.read(spark, dir, "lm-meta.json")
      LmModel(
        spark.read.parquet(s"$dir/uni.parquet"),
        spark.read.parquet(s"$dir/bi.parquet"),
        spark.read.parquet(s"$dir/tri.parquet"),
        graft.util.Sidecar.requiredLong(meta, "total_tokens", s"$dir/lm-meta.json"))
    }
  }

  /** CCNet-style tercile cuts (t1, t2) fitted on a BOUNDED-SIZE
    * deterministic sample — the scale contract CCNet itself uses (Wenzek et
    * al. 2020 fit their perplexity cuts on a sample precisely so the fit
    * cost is independent of corpus size).
    *
    * Sample membership is `idCol % m == 0` with `m = ceil(n /
    * sampleBudget)`: the modulus GROWS with the corpus, so the sampled row
    * count never exceeds ~`sampleBudget` and the order-statistic state is
    * bounded by the budget, not the corpus. (A fixed-FRACTION sample — the
    * shape this replaced — makes the fit a corpus-sized top-k: at 100 TB
    * that is a global-sort/driver-pressure job, and a 32-bit `limit(k)`
    * overflows past 2³¹ sampled rows.)
    *
    * Both cuts come out of ONE job: row_number + count windows over the
    * bounded sample (a single-partition sort of ≤ sampleBudget rows, by
    * construction), folded by one aggregate. Order STATISTICS, not
    * interpolated percentiles, on purpose: each cut is an actual data value
    * at full precision, so bucket comparisons are between bit-identical
    * doubles in Spark and any independent engine (the DuckDB oracle) — an
    * interpolated threshold lands between data values where the engines'
    * last-ulp arithmetic can disagree. Tie order inside row_number cannot
    * change a max-of-prefix, so the fit is deterministic and
    * re-shard-invariant (spec-pinned).
    *
    * Returns None cuts when the sample is empty (then every row buckets
    * `head`, matching SQL's NULL-comparison semantics).
    *
    * @param knownCount corpus row count if the caller already has it (skips
    *   the sizing `count()` — same convention as [[graft.dedup.Dedup]])
    */
  def tercileCuts(scored: DataFrame, idCol: String, scoreCol: String,
                  sampleBudget: Long = 100000L,
                  knownCount: Option[Long] = None): (Option[Double], Option[Double]) = {
    require(sampleBudget >= 3, s"sampleBudget must be >= 3, got $sampleBudget")
    val n = knownCount.getOrElse(scored.count())
    val m = math.max(1L, math.ceil(n.toDouble / sampleBudget).toLong)
    val cuts = scored.filter(col(idCol) % m === 0)
      .select(col(scoreCol).as("s"),
        row_number().over(Window.orderBy(scoreCol)).as("rn"),
        count(lit(1)).over().as("sn"))
      .agg(
        max(when(col("rn") <= ceil(col("sn") / 3.0), col("s"))).as("t1"),
        max(when(col("rn") <= ceil(col("sn") * 2 / 3.0), col("s"))).as("t2"))
      .head()
    (if (cuts.isNullAt(0)) None else Some(cuts.getDouble(0)),
     if (cuts.isNullAt(1)) None else Some(cuts.getDouble(1)))
  }

  /** Train the trigram model from `reference` (lower-cased whitespace
    * tokens, the corpus-wide convention). One reference pass per order,
    * each a partial-agg-friendly explode→count; N = sum of unigram counts.
    */
  def train(reference: DataFrame, textCol: String = "text"): LmModel = {
    val t = toks(col(textCol))
    // ONE reference pass for all three orders (was three: each order
    // re-read and re-tokenized the corpus). The token array is computed
    // once per row; its 1-, 2- and 3-gram views (the same word_shingles
    // kernel the per-order form used, so gram strings are bit-identical)
    // concatenate tagged by order into one explode and one (order, gram)
    // count shuffle. Materialized eagerly: uni/bi/tri are filters of this
    // table, so the N sum, the cache fills and score's five broadcast
    // sides all read counts instead of re-aggregating. DISK_ONLY like the
    // signature-proxy checkpoints (r14 policy): the gram-count table is
    // vocabulary-sized, and deserialized MEMORY_AND_DISK blocks bid
    // against the scoring joins' heap — the suspected d_lm_score sf1 GC
    // cliff (r14 verdict item 1).
    val comb = reference
      .select(t.as("__t"))
      .where(col("__t").isNotNull)
      .select(explode(concat(
        transform(col("__t"),
          w => struct(lit(1).as("o"), w.as("g"))),
        transform(graft.functions.KFunctions.word_shingles(col("__t"), 2),
          g => struct(lit(2).as("o"), g.as("g"))),
        transform(graft.functions.KFunctions.word_shingles(col("__t"), 3),
          g => struct(lit(3).as("o"), g.as("g"))))).as("x"))
      .groupBy(col("x.o").as("o"), col("x.g").as("g"))
      .agg(count(lit(1)).cast("double").as("c"))
      .localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val uni = comb.where(col("o") === 1)
      .select(col("g").as("w"), col("c").as("c1"))
    val bi = comb.where(col("o") === 2)
      .select(col("g").as("g2"), col("c").as("c2"))
    val tri = comb.where(col("o") === 3)
      .select(col("g").as("g3"), col("c").as("c3"))
    val nRow = uni.agg(sum("c1")).head()
    // sum over an empty vocabulary is SQL NULL — fail loudly rather than
    // NPE here or divide by zero at scoring time
    require(!nRow.isNullAt(0) && nRow.getDouble(0) > 0,
      "reference corpus has no tokens to train on")
    LmModel(uni, bi, tri, nRow.getDouble(0).toLong, combCk = Some(comb))
  }

  /** Score every document with >= 1 token. Output:
    * (idCol, n_tokens, n_tri_hits, n_backoff3, n_oov, avg_logprob) where
    * `n_tri_hits` counts trigram positions resolved by the trigram table,
    * `n_backoff3` the trigram positions that backed off, `n_oov` the
    * positions whose word the model never saw, and `avg_logprob` the mean
    * per-position log10 score rounded to 5 digits (negated = log-perplexity).
    * The integer columns make the approximation surface auditable without
    * floating-point comparisons.
    *
    * `broadcastMaxGrams` gates the model-side broadcast on the MEASURED
    * trigram-type count (the largest of the three tables) — the same policy,
    * for the same reason, as [[Sampling.decontaminate]].
    */
  def score(corpus: DataFrame, model: LmModel, idCol: String = "doc_id",
            textCol: String = "text",
            broadcastMaxGrams: Long = 20000000L): DataFrame = {
    model.requireLive("score")
    val t = toks(col(textCol))
    // one struct per position, built by O(1) array indexing inside a single
    // narrow transform — never a positions self-join or window
    val pos = corpus
      .select(col(idCol), t.as("t"))
      .where(size(col("t")) >= 1)
      .select(col(idCol), explode(transform(
        sequence(lit(1), size(col("t"))),
        i => {
          val w = element_at(col("t"), i)
          val v = when(i >= 2, element_at(col("t"), i - lit(1)))
          val u = when(i >= 3, element_at(col("t"), i - lit(2)))
          struct(
            w.as("w"), v.as("v"),
            when(i >= 2, concat_ws(" ", v, w)).as("g2low"),
            when(i >= 3, concat_ws(" ", u, v)).as("g2ctx"),
            when(i >= 3, concat_ws(" ", u, v, w)).as("g3"))
        })).as("p"))
      .select(col(idCol), col("p.w"), col("p.v"), col("p.g2low"),
        col("p.g2ctx"), col("p.g3"))

    val gate = model.tri.count() <= broadcastMaxGrams
    def side(df: DataFrame): DataFrame = if (gate) broadcast(df) else df
    val uniW = side(model.uni.select(col("w"), col("c1").as("c1w")))
    val uniV = side(model.uni.select(col("w").as("v"), col("c1").as("c1v")))
    val biLow = side(model.bi.select(col("g2").as("g2low"), col("c2").as("c2low")))
    val biCtx = side(model.bi.select(col("g2").as("g2ctx"), col("c2").as("c2ctx")))
    val triT = side(model.tri.select(col("g3"), col("c3")))

    val joined = pos
      .join(uniW, Seq("w"), "left")
      .join(uniV, Seq("v"), "left")
      .join(biLow, Seq("g2low"), "left")
      .join(biCtx, Seq("g2ctx"), "left")
      .join(triT, Seq("g3"), "left")

    val n = lit(model.totalTokens.toDouble)
    val lp1 = log10(coalesce(col("c1w"), lit(1.0)) / n)
    val lp2 = when(col("c2low").isNotNull, log10(col("c2low")) - log10(col("c1v")))
      .otherwise(BackoffLog10 + lp1)
    val lp = when(col("g3").isNotNull,
        when(col("c3").isNotNull, log10(col("c3")) - log10(col("c2ctx")))
          .otherwise(BackoffLog10 + lp2))
      .when(col("g2low").isNotNull, lp2)
      .otherwise(lp1)

    joined
      .select(col(idCol), lp.as("lp"),
        col("c3").isNotNull.as("hit3"),
        (col("g3").isNotNull && col("c3").isNull).as("bk3"),
        col("c1w").isNull.as("oov"))
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("hit3"), 1L).otherwise(0L)).as("n_tri_hits"),
        sum(when(col("bk3"), 1L).otherwise(0L)).as("n_backoff3"),
        sum(when(col("oov"), 1L).otherwise(0L)).as("n_oov"),
        round(avg("lp"), 5).as("avg_logprob"))
  }
}
