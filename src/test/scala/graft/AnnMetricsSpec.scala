package graft

import graft.ann.{Ann, Retrieval}
import graft.functions.KFunctions
import graft.metrics.GraftMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FormattedMode

class AnnMetricsSpec extends SparkSpec {

  test("bucketed ANN corpus: partition pruning reaches the scan") {
    val path = java.nio.file.Files.createTempDirectory("ann-bucketed").toString + "/corpus"
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    Ann.writeBucketed(emb, path, "embedding", dim = 64, bits = 6)
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val topk = Ann.lshTopKBucketed(spark, path, "vec_id", "embedding", 64, q,
      k = 10, bits = 6, probeHamming = 2)
    val plan = topk.queryExecution.explainString(FormattedMode)
    assert(plan.contains("PartitionFilters: [bucket"), // pruning, not post-scan filter
      s"bucket predicate must prune partitions:\n${plan.take(1500)}")
    val rows = topk.collect()
    assert(rows.length == 10)
    // pruned result is a subset ordering consistent with brute force on the probed buckets
    assert(rows.map(_.getDouble(1)).toSeq == rows.map(_.getDouble(1)).sorted.reverse.toSeq)
  }

  test("lshTopKFromSigs (persisted-signature probe) is row-identical to the direct lshTopK") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val corpus = emb.filter(col("vec_id") =!= 0)
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val sigsPath = java.nio.file.Files
      .createTempDirectory("ann-sigs").toString + "/sigs"
    // the fixture carries the QUERY row's signature too — the oracle's (and
    // any persisted-serving deployment's) source for the probe center
    Ann.withBucket(emb, "embedding", dim = 64, bits = 8)
      .select(col("vec_id").as("id"), col("bucket"))
      .write.parquet(sigsPath)
    val direct = Ann.lshTopK(corpus, "vec_id", "embedding", 64, q, k = 10,
      bits = 8, probeHamming = 3).collect().toSeq
    val fromSigs = Ann.lshTopKFromSigs(spark.read.parquet(sigsPath), corpus,
      "vec_id", "embedding", q, queryId = 0L, k = 10, probeHamming = 3)
      .collect().toSeq
    assert(fromSigs == direct,
      "persisted-signature probe must serve the direct path's exact rows")
    assert(fromSigs.nonEmpty)
  }

  test("IVF ANN: full probe exact, partial probe prunes, persisted layout partition-prunes") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val corpus = emb.filter(col("vec_id") =!= 0)
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val (assigned, model) = Ann.ivfAssign(corpus, "embedding", nLists = 8)
    assert(model.nLists == 8 && model.centroids.head.length == 64)
    // every row landed in exactly one known list
    assert(assigned.filter(col("list") < 0 || col("list") >= 8).count() == 0)
    // nProbe = nLists scans everything → identical to brute force
    val brute = Ann.bruteForceTopK(corpus, "vec_id", "embedding", q, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val full = Ann.ivfTopK(assigned, model, "vec_id", "embedding", q, 10, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(full == brute)
    // model JSON round-trips with probe order intact
    val rt = Ann.IvfModel.fromJson(model.toJson)
    assert(rt.probeLists(q, 3) == model.probeLists(q, 3))
    // partial probe: recall@10 against brute force stays useful even on this
    // near-orthogonal synthetic corpus
    val half = Ann.ivfTopK(assigned, model, "vec_id", "embedding", q, 10, nProbe = 4)
      .collect().map(_.getLong(0)).toSet
    val recall = brute.map(_._1).count(half.contains) / 10.0
    assert(recall >= 0.3, s"recall@10 too low: $recall")
    // persisted layout: list predicate must reach PartitionFilters
    val path = java.nio.file.Files.createTempDirectory("ann-ivf").toString + "/corpus"
    Ann.writeIvf(assigned, model, path)
    val probed = Ann.ivfTopKBucketed(spark, path, "vec_id", "embedding", q, 10, nProbe = 4)
    val plan = probed.queryExecution.explainString(FormattedMode)
    assert(plan.contains("PartitionFilters: [list"),
      s"list predicate must prune partitions:\n${plan.take(1500)}")
    assert(probed.collect().map(_.getLong(0)).toSet == half)

    // filter-and-refine parity: at its exhaustive setting every candidate
    // generator reaches every vector, so the shared rank step must return
    // the exact path's rows
    def rowsOf(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val root = java.nio.file.Files.createTempDirectory("ann-parity").toString
    Ann.writeBucketed(corpus, s"$root/lsh", "embedding", dim = 64, bits = 6)
    Ann.withBucket(emb, "embedding", dim = 64, bits = 6)
      .select(col("vec_id").as("id"), col("bucket")).write.parquet(s"$root/sigs")
    Ann.writeIvfPq(corpus, "vec_id", "embedding", s"$root/ivfpq",
      nLists = 8, m = 8, ksub = 16)
    val pqModel = Ann.loadPqModel(spark, s"$root/ivfpq")
    val n = corpus.count().toInt
    val annGenerators = Seq(
      "lshTopK" -> Ann.lshTopK(corpus, "vec_id", "embedding", 64, q, 10,
        bits = 6, probeHamming = 6),
      "lshTopKBucketed" -> Ann.lshTopKBucketed(spark, s"$root/lsh", "vec_id",
        "embedding", 64, q, 10, bits = 6, probeHamming = 6),
      "lshTopKFromSigs" -> Ann.lshTopKFromSigs(spark.read.parquet(s"$root/sigs"),
        corpus, "vec_id", "embedding", q, queryId = 0L, k = 10, probeHamming = 6),
      "ivfTopK" -> Ann.ivfTopK(assigned, model, "vec_id", "embedding", q, 10,
        nProbe = 8),
      "ivfTopKBucketed" -> Ann.ivfTopKBucketed(spark, path, "vec_id",
        "embedding", q, 10, nProbe = 8),
      "pqTopKRerank" -> Ann.pqTopKRerank(Ann.pqEncode(corpus, "embedding",
        pqModel), corpus, "vec_id", "embedding", q, pqModel, 10, shortlist = n),
      "ivfPqTopK" -> Ann.ivfPqTopK(spark, s"$root/ivfpq", corpus, "vec_id",
        "embedding", q, 10, nProbe = 8, shortlist = n))
    annGenerators.foreach { case (name, df) =>
      assert(rowsOf(df) == brute, s"$name at its exhaustive setting")
    }
    // the per-query chunk family against topKChunks (retrieveChunks)
    import spark.implicits._
    val docs = (0L until 40L).map(i => (i, s"par w$i kappa " * 16))
      .toDF("doc_id", "text")
    val qs = Seq((1L, "par w1 kappa"), (5L, "par w5 kappa"))
      .toDF("query_id", "text")
    Retrieval.writeChunkIndex(docs, s"$root/chunks", nLists = 4,
      fitBudget = 32)
    Retrieval.writeChunkIndexPq(docs, s"$root/chunkspq", nLists = 4, m = 5,
      ksub = 8, fitBudget = 32)
    def chunkRows(df: DataFrame) = df.orderBy("query_id", "rank")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    val exactChunks = chunkRows(Retrieval.retrieveChunks(docs, qs, k = 4))
    val chunkGenerators = Seq(
      "retrieveChunksIvf" -> Retrieval.retrieveChunksIvf(docs, qs, k = 4,
        nLists = 4, nProbe = 4, fitBudget = 32),
      "retrieveFromChunkIndex" -> Retrieval.retrieveFromChunkIndex(spark,
        s"$root/chunks", qs, k = 4, nProbe = 4),
      "retrieveFromChunkIndexPq" -> Retrieval.retrieveFromChunkIndexPq(spark,
        s"$root/chunkspq", qs, k = 4, nProbe = 4, shortlist = 100000))
    assert(exactChunks.size == 8)
    chunkGenerators.foreach { case (name, df) =>
      assert(chunkRows(df) == exactChunks, s"$name at its exhaustive setting")
    }
  }

  test("every single-query ANN entry point fails loudly on a wrong-dim query") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val corpus = emb.filter(col("vec_id") =!= 0)
    val q63 = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
      .take(63)
    val root = java.nio.file.Files.createTempDirectory("ann-dim").toString
    Ann.writeBucketed(corpus, s"$root/lsh", "embedding", dim = 64, bits = 4)
    Ann.withBucket(emb, "embedding", dim = 64, bits = 4)
      .select(col("vec_id").as("id"), col("bucket")).write.parquet(s"$root/sigs")
    val (assigned, model) = Ann.ivfAssign(corpus, "embedding", nLists = 4)
    Ann.writeIvf(assigned, model, s"$root/ivf")
    Ann.writeIvfPq(corpus, "vec_id", "embedding", s"$root/ivfpq",
      nLists = 4, m = 8, ksub = 8)
    val pqModel = Ann.loadPqModel(spark, s"$root/ivfpq")
    val encoded = Ann.pqEncode(corpus, "embedding", pqModel)
    val scorer = "ANN dim mismatch: query has 63 dims"
    val ivfProbe = "query dim 63 != centroid dim 64"
    val adcTable = "query dim 63 != model dim 64"
    val cases: Seq[(String, () => DataFrame, String)] = Seq(
      ("bruteForceTopK", () =>
        Ann.bruteForceTopK(corpus, "vec_id", "embedding", q63, 5), scorer),
      ("bruteForceTopKQuantized", () => Ann.bruteForceTopKQuantized(
        Ann.quantizeInt8(corpus, "embedding"), "vec_id", q63, 5), scorer),
      ("lshTopK", () => Ann.lshTopK(corpus, "vec_id", "embedding", 64, q63, 5,
        bits = 4, probeHamming = 4), scorer),
      ("lshTopKBucketed", () => Ann.lshTopKBucketed(spark, s"$root/lsh",
        "vec_id", "embedding", 64, q63, 5, bits = 4, probeHamming = 4), scorer),
      ("lshTopKFromSigs", () => Ann.lshTopKFromSigs(
        spark.read.parquet(s"$root/sigs"), corpus, "vec_id", "embedding", q63,
        queryId = 0L, k = 5, probeHamming = 4), scorer),
      ("ivfTopK", () => Ann.ivfTopK(assigned, model, "vec_id", "embedding",
        q63, 5, nProbe = 4), ivfProbe),
      ("ivfTopKBucketed", () => Ann.ivfTopKBucketed(spark, s"$root/ivf",
        "vec_id", "embedding", q63, 5, nProbe = 4), ivfProbe),
      ("pqTopK", () => Ann.pqTopK(encoded, "vec_id", q63, pqModel, 5), adcTable),
      ("pqTopKRerank", () => Ann.pqTopKRerank(encoded, corpus, "vec_id",
        "embedding", q63, pqModel, 5), adcTable),
      ("ivfPqTopK", () => Ann.ivfPqTopK(spark, s"$root/ivfpq", corpus,
        "vec_id", "embedding", q63, 5, nProbe = 4), ivfProbe))
    val silent = cases.filterNot { case (_, run, expected) =>
      try { run().collect(); false }
      catch {
        case e: Exception => Iterator.iterate[Throwable](e)(_.getCause)
          .takeWhile(_ != null)
          .exists(t => String.valueOf(t.getMessage).contains(expected))
      }
    }.map(_._1)
    assert(silent.isEmpty,
      s"entry points without their loud dim check: ${silent.mkString(", ")}")
  }

  test("IVF-PQ layout: sidecars round-trip, probe partition-prunes, recall floor") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val corpus = emb.filter(col("vec_id") =!= 0)
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val path = java.nio.file.Files.createTempDirectory("ann-ivfpq").toString + "/idx"
    Ann.writeIvfPq(corpus, "vec_id", "embedding", path,
      nLists = 8, m = 8, ksub = 16)
    // both sidecars exist and the PQ model JSON round-trips bit-exact
    val pqJson = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path, "_pq_codebooks.json")))
    val rt = Ann.PqModel.fromJson(pqJson)
    assert(rt.m == 8 && rt.dim == 64)
    assert(Ann.PqModel.toJson(rt) == pqJson)

    val probed = Ann.ivfPqTopK(spark, path, corpus, "vec_id", "embedding",
      q, 10, nProbe = 4, shortlist = 100)
    val plan = probed.queryExecution.explainString(FormattedMode)
    assert(plan.contains("PartitionFilters: [list"),
      s"list predicate must prune partitions:\n${plan.take(1500)}")
    // compressed scan: the pruned INDEX scan reads id + code only (the
    // re-rank side reads vectors by design, for O(shortlist) rows)
    assert(plan.contains("ReadSchema: struct<vec_id:bigint,pq_code:array<int>>"),
      s"index scan must read only id+code:\n${plan.take(1500)}")

    val exact = Ann.bruteForceTopK(corpus, "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSet
    val got = probed.collect().map(_.getLong(0)).toSet
    val recall = (exact & got).size.toDouble / exact.size
    assert(recall >= 0.3, s"IVF-PQ recall@10 too low: $recall")
    // full probe + generous shortlist = exact re-rank over everything ADC kept
    val full = Ann.ivfPqTopK(spark, path, corpus, "vec_id", "embedding",
      q, 10, nProbe = 8, shortlist = corpus.count().toInt)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val brute = Ann.bruteForceTopK(corpus, "vec_id", "embedding", q, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(full == brute, "full probe + full shortlist must equal brute force")
  }

  test("int8 quantization: full-range codes, zero-vector safety, rank fidelity") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter(col("vec_id") =!= 0)
    val quant = graft.ann.Ann.quantizeInt8(emb, "embedding")
    // every non-zero vector uses the full int8 range: max |code| == 127
    val ranges = quant.select(
        array_max(transform(col("q_vec"), x => abs(x))).as("m")).distinct()
      .collect().map(_.getInt(0)).toSet
    assert(ranges === Set(127), s"expected full-range codes, got $ranges")
    // zero vector: scale 0, all-zero codes, no division blowup
    val z = graft.ann.Ann.quantizeInt8(
      Seq((1L, Array.fill(4)(0f))).toDF("vec_id", "embedding"), "embedding")
      .select("q_scale", "q_vec").head()
    assert(z.getDouble(0) === 0.0 && z.getSeq[Int](1).forall(_ == 0))
    // ...and a zero vector in the CORPUS must sort last (null cosine), not
    // first (the NaN-sorts-above-everything-under-desc trap)
    val mixed = graft.ann.Ann.quantizeInt8(
      Seq((1L, Array(1f, 0f, 0f, 0f)), (2L, Array.fill(4)(0f)))
        .toDF("vec_id", "embedding"), "embedding")
    val ranked = graft.ann.Ann.bruteForceTopKQuantized(
      mixed, "vec_id", Seq(1.0, 0.0, 0.0, 0.0), 2).collect()
    assert(ranked.head.getLong(0) === 1L, "zero vector must never outrank a real match")
    assert(ranked(1).isNullAt(1), "zero-norm cosine is null, not NaN")
    // ranking through the quantized path matches float brute force at the
    // top (4x less scan IO for one quantization step of rank noise)
    val q = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val exact = graft.ann.Ann.bruteForceTopK(emb, "vec_id", "embedding", q, 5)
      .collect().map(_.getLong(0))
    val viaQuant = graft.ann.Ann.bruteForceTopKQuantized(quant, "vec_id", q, 5)
      .collect().map(_.getLong(0))
    assert(viaQuant.head === exact.head, "top-1 must survive quantization")
    assert(viaQuant.toSet.intersect(exact.toSet).size >= 4,
      s"top-5 overlap too low: ${exact.toSeq} vs ${viaQuant.toSeq}")
  }

  test("metrics listener counts records/bytes/tasks across an action (A8/K10)") {
    val metrics = GraftMetrics.install(spark)
    spark.read.parquet(s"$sf0001/lineitem.parquet")
      .groupBy("l_returnflag").count()
      .write.mode("overwrite").format("noop").save()
    // listener bus is async; poll until the task-end events landed
    val deadline = System.currentTimeMillis() + 10000
    while (metrics.snapshot("tasks_completed_total") == 0 &&
      System.currentTimeMillis() < deadline) Thread.sleep(50)
    Thread.sleep(200)
    val snap = metrics.snapshot
    assert(snap("records_read_total") >= 6000, snap.toString)
    assert(snap("bytes_read_total") > 0)
    assert(snap("tasks_completed_total") > 0)
    assert(snap("tasks_failed_total") == 0)
    val prom = metrics.prometheusText
    assert(prom.contains("graft_records_read_total"))
  }

  test("auto partition spreads null keys ≈ uniformly (2.10 relaxation)") {
    val df = spark.range(12000)
      .withColumn("p", KFunctions.auto_partition(8))
    val counts = df.groupBy("p").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(counts.keySet == (0 until 8).toSet)
    counts.values.foreach(n => assert(n > 500, s"skewed: $counts"))
    // keyed-or-auto: non-null keys follow murmur2 exactly
    val keyed = spark.range(100)
      .withColumn("key", encode(col("id").cast("string"), "UTF-8"))
      .withColumn("tp", KFunctions.kafka_partition_or_auto(col("key"), 6))
      .collect()
    keyed.foreach { r =>
      assert(r.getInt(2) ==
        graft.functions.KHash.kafkaPartition(r.getAs[Array[Byte]](1), 6))
    }
  }
}
