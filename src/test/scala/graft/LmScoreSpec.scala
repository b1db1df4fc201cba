package graft

import graft.text.LmScore
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

/** Stupid-backoff LM scoring: hand-computed log-probs on a tiny fixture
  * (every path: trigram hit, bigram hit, trigram→bigram backoff,
  * bigram→unigram backoff, OOV floor), save/load round-trip, partition
  * independence, and the broadcast plan lock for the under-gate regime.
  */
class LmScoreSpec extends SparkSpec {
  import spark.implicits._

  private def round5(x: Double): Double = math.rint(x * 1e5) / 1e5
  private val l04 = math.log10(0.4)

  // ref corpus: uni a:3 b:3 c:1 (N=7); bi "a b":3 "b a":1 "b c":1;
  // tri "a b a":1 "b a b":1 "a b c":1
  private def refDocs = Seq((1L, "a b a b"), (2L, "a b c"))
    .toDF("doc_id", "text")

  test("a trained model used after unpersist() fails loudly, naming unpersist()") {
    val model = LmScore.train(refDocs).cache()
    val docs = Seq((2L, "a b c")).toDF("doc_id", "text")
    assert(LmScore.score(docs, model).count() == 1L)
    model.unpersist()
    val e = intercept[IllegalStateException](
      LmScore.score(docs, model).collect())
    assert(e.getMessage.contains("unpersist()"), e.getMessage)
    val dir = java.nio.file.Files.createTempDirectory("lm-released").toString
    val es = intercept[IllegalStateException](model.save(s"$dir/m"))
    assert(es.getMessage.contains("unpersist()"), es.getMessage)
    // a loaded model re-reads its parquet, so releasing its cache is harmless
    LmScore.train(refDocs).save(s"$dir/saved")
    val loaded = LmScore.LmModel.load(spark, s"$dir/saved").cache()
    loaded.unpersist()
    assert(LmScore.score(docs, loaded).count() == 1L)
  }

  test("in-model doc: trigram hits, no backoff, hand-computed avg") {
    val model = LmScore.train(refDocs)
    assert(model.totalTokens === 7L)
    val got = LmScore.score(Seq((2L, "a b c")).toDF("doc_id", "text"), model)
      .head()
    // pos1 S1(a)=3/7; pos2 S2(b|a)=c2(a b)/c1(a)=3/3; pos3 S3(c|a,b)=1/3
    val expected = round5(
      (math.log10(3.0 / 7) + 0.0 + (math.log10(1.0) - math.log10(3.0))) / 3)
    assert(got.getAs[Long]("n_tokens") === 3L)
    assert(got.getAs[Long]("n_tri_hits") === 1L)
    assert(got.getAs[Long]("n_backoff3") === 0L)
    assert(got.getAs[Long]("n_oov") === 0L)
    assert(got.getAs[Double]("avg_logprob") === expected)
  }

  test("held-out doc: backoff chain and OOV floor, hand-computed") {
    val model = LmScore.train(refDocs)
    val got = LmScore.score(Seq((9L, "b b z")).toDF("doc_id", "text"), model)
      .head()
    // pos1 S1(b)=3/7
    // pos2 "b b" unseen -> 0.4*S1(b)
    // pos3 "b b z" unseen -> 0.4*S2(z|b); "b z" unseen -> 0.4*S1(z); z OOV -> 1/7
    val lp1 = math.log10(3.0 / 7)
    val lp2 = l04 + lp1
    val lp3 = l04 + (l04 + math.log10(1.0 / 7))
    assert(got.getAs[Long]("n_tri_hits") === 0L)
    assert(got.getAs[Long]("n_backoff3") === 1L)
    assert(got.getAs[Long]("n_oov") === 1L)
    assert(got.getAs[Double]("avg_logprob") === round5((lp1 + lp2 + lp3) / 3))
  }

  test("one- and two-token docs score with uni/bi models only") {
    val model = LmScore.train(refDocs)
    val rows = LmScore.score(
      Seq((3L, "a"), (4L, "a b"), (5L, ""), (6L, null.asInstanceOf[String]))
        .toDF("doc_id", "text"), model)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(rows.keySet === Set(3L, 4L), "empty/null text scores no rows")
    assert(rows(3L).getAs[Double]("avg_logprob") === round5(math.log10(3.0 / 7)))
    // "a b": (S1(a) + S2(b|a)) / 2 = (log10(3/7) + log10(3/3)) / 2
    assert(rows(4L).getAs[Double]("avg_logprob") === round5(math.log10(3.0 / 7) / 2))
    assert(rows(4L).getAs[Long]("n_tri_hits") === 0L)
  }

  test("save/load round-trip scores identically; scoring is partition-independent") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lm").toString
    val corpus = spark.read.parquet(s"$sf0001/documents.parquet")
    val model = LmScore.train(corpus.filter(col("doc_id") % 20 =!= 7))
    model.save(dir)
    val loaded = LmScore.LmModel.load(spark, dir)
    assert(loaded.totalTokens === model.totalTokens)
    val a = LmScore.score(corpus, model).collect()
      .map(r => r.getLong(0) -> r.toSeq).toMap
    val b = LmScore.score(corpus.repartition(7), loaded).collect()
      .map(r => r.getLong(0) -> r.toSeq).toMap
    assert(a === b)
    // the held-out 1/20 slice must actually exercise the approximation
    // surface, or the oracle checks nothing
    val heldOut = LmScore.score(corpus.filter(col("doc_id") % 20 === 7), model)
      .agg(sum("n_backoff3"), sum("n_oov")).head()
    assert(heldOut.getLong(0) > 0, "no backoff exercised on held-out docs")
  }

  test("empty or tokenless reference fails loudly, not with an NPE or a zero denominator") {
    intercept[IllegalArgumentException] {
      LmScore.train(Seq.empty[(Long, String)].toDF("doc_id", "text"))
    }
    intercept[IllegalArgumentException] {
      LmScore.train(Seq((1L, ""), (2L, null.asInstanceOf[String]))
        .toDF("doc_id", "text"))
    }
  }

  test("under the gate, all five model lookups broadcast (corpus never shuffles pre-agg)") {
    val model = LmScore.train(refDocs)
    val plan = LmScore.score(refDocs, model)
      .queryExecution.explainString(FormattedMode)
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    assert(!plan.contains("SortMergeJoin"), "model join fell back to SMJ:\n" + plan.take(1200))
  }

  test("ccnet buckets: terciles cover every scored doc and rank by score") {
    val rows = graft.QueriesData.all("d_ccnet_buckets")(spark, sf0001).collect()
    val buckets = rows.map(_.getString(1)).toSet
    assert(buckets == Set("head", "middle", "tail"), s"got $buckets")
    val n = rows.map(_.getLong(2)).sum
    val scored = graft.text.LmScore.score(
      spark.read.parquet(s"$sf0001/documents.parquet"),
      graft.text.LmScore.train(spark.read.parquet(s"$sf0001/documents.parquet")
        .filter(col("doc_id") % 20 =!= 7))).count()
    assert(n == scored, s"bucketed $n of $scored scored docs")
    // bucket label ordering must follow the score: head > middle > tail
    def avgOf(b: String) = {
      val r = rows.filter(_.getString(1) == b)
      r.map(_.getDouble(3)).sum / r.map(_.getLong(2)).sum
    }
    assert(avgOf("head") > avgOf("middle") && avgOf("middle") > avgOf("tail"))
    // the sample-fitted terciles should split a same-distribution corpus
    // roughly in thirds (loose: the fixture is small)
    val counts = rows.groupBy(_.getString(1)).map { case (_, g) => g.map(_.getLong(2)).sum }
    assert(counts.min > n / 6, s"degenerate tercile split: $counts")
  }

  test("tercileCuts: bounded sample (m>1), brute-force equality, re-shard invariance") {
    // 1,000 rows, budget 100 → m = 10, sample = the 100 rows with id%10==0:
    // exercises the modulus-scaling path the sf0.01 battery never reaches
    // (there m=1). Score is a deterministic non-monotone function of id so
    // sort order differs from id order.
    val scored = spark.range(0, 1000)
      .select(col("id").as("doc_id"),
        round(sin(col("id").cast("double")), 5).as("lp"))
    val (t1, t2) = LmScore.tercileCuts(scored, "doc_id", "lp", sampleBudget = 100L)
    // brute force on the same deterministic sample
    val lps = (0L until 1000L by 10L)
      .map(i => math.rint(math.sin(i.toDouble) * 1e5) / 1e5).sorted
    assert(t1.contains(lps(math.ceil(lps.size / 3.0).toInt - 1)))
    assert(t2.contains(lps(math.ceil(2 * lps.size / 3.0).toInt - 1)))
    // re-shard invariance: membership is id-arithmetic, the cut a multiset
    // order statistic — no partition-layout sensitivity
    for (p <- Seq(1, 7, 32)) {
      assert(LmScore.tercileCuts(scored.repartition(p), "doc_id", "lp",
        sampleBudget = 100L) == ((t1, t2)), s"cuts drifted at $p partitions")
    }
    // knownCount short-circuits the sizing count but yields the same cuts
    assert(LmScore.tercileCuts(scored, "doc_id", "lp", sampleBudget = 100L,
      knownCount = Some(1000L)) == ((t1, t2)))
    // empty sample → None cuts (every row would bucket 'head', the SQL
    // NULL-comparison behavior)
    assert(LmScore.tercileCuts(scored.filter(col("doc_id") < 0), "doc_id",
      "lp") == ((None, None)))
  }
}
