package graft

import graft.ann.Ann
import graft.dedup.Dedup
import graft.multimodal.Multimodal
import graft.text.TextFunctions
import org.apache.spark.sql.functions._

/** Known-answer fixtures for the training-data operators (dedup, ANN, text,
  * multimodal) — the correctness layer beneath the driver's rows-only checks.
  */
class DataOpsSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private def docsDF(rows: (Long, String)*) = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    spark.createDataFrame(
      rows.map(r => org.apache.spark.sql.Row(r._1, r._2)).asJava, schema)
  }

  test("tokens / tokenCount / shingles") {
    val df = docsDF((1L, "a b c d"), (2L, "  x  y  "), (3L, ""), (4L, "one"))
    val out = df.select(col("doc_id"), TextFunctions.tokenCount(col("text")).as("n"),
      TextFunctions.shingles(col("text"), 2).as("sh"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getSeq[String](2))).toMap
    assert(out(1L)._1 == 4 && out(1L)._2 == Seq("a b", "b c", "c d"))
    assert(out(2L)._1 == 2 && out(2L)._2 == Seq("x y"))
    assert(out(3L)._1 == 0 && out(3L)._2.isEmpty)
    assert(out(4L)._1 == 1 && out(4L)._2.isEmpty) // shorter than shingle
  }

  test("exact dedup keeps smallest id per normalized text") {
    val df = docsDF((5L, "Hello World"), (2L, "hello   world"), (9L, "unique doc"),
      (7L, " HELLO WORLD "))
    // note: exact() normalizes via lower(trim(text)) — internal spaces differ
    val kept = Dedup.exact(df, "doc_id", "text").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // "Hello World" and " HELLO WORLD " collapse (5 wins over 7); 2 differs (double space)
    assert(kept == Set(5L, 2L, 9L))
  }

  test("incremental exact dedup: index hits dropped, intra-batch dups collapse, null text passes") {
    val corpus = docsDF((10L, "history doc one"), (12L, "history doc two"))
    val index = Dedup.exactIndex(corpus, "doc_id", "text")
    val batch = docsDF(
      (21L, "  HISTORY DOC ONE "), // exact dup of indexed 10 after lower+trim
      (22L, "fresh doc"),
      (23L, "Fresh Doc"),          // intra-batch dup of 22 → 22 wins
      (24L, null))                 // absent document: always kept
    val kept = Dedup.incrementalExact(batch, "doc_id", "text", index)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(22L, 24L))
  }

  test("incremental minhash pairs span batch×corpus only and score the clone high") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup = base + " tail extra tokens"
    val other = (100 to 140).map(i => s"z$i").mkString(" ")
    val corpus = docsDF((1L, base), (3L, other), (4L, other)) // 3,4: corpus-internal dup
    val batch = docsDF((101L, nearDup), (102L, "totally unrelated text here"))
    val pairs = Dedup.minhashIncrementalPairs(
        Dedup.minhashSignatures(batch, "doc_id", "text", 3, 64),
        Dedup.minhashSignatures(corpus, "doc_id", "text", 3, 64),
        k = 64, bands = 16, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.exists(p => p._1 == 101L && p._2 == 1L && p._3 > 0.5),
      s"clone must pair with its corpus original, got ${pairs.toSeq}")
    assert(!pairs.exists(p => p._2 == 4L || (p._1 < 100L)),
      "corpus-internal dup (3,4) must never surface — only batch×corpus pairs")
    assert(!pairs.exists(p => p._1 == 102L), "unrelated batch doc must not pair")
  }

  test("minhash LSH finds near-identical docs and skips unrelated ones") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 20) "CHANGED" else s"w$i").mkString(" ")
    val other = (100 to 140).map(i => s"z$i").mkString(" ")
    val df = docsDF((1L, base), (2L, nearDup), (3L, other))
    val pairs = Dedup.minhashPairs(df, "doc_id", "text", shingleN = 3, k = 64,
      bands = 16, threshold = 0.3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "near-dup pair must be found")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), "unrelated doc must not pair")
  }

  test("native minhash kernel is hash-compatible with the aggregate formulation") {
    import graft.text.TextFunctions
    // orderBy before limit: an unordered limit may pick different rows for
    // the two independent jobs below
    val df = spark.read.parquet(s"$sf0001/documents.parquet")
      .orderBy("doc_id").limit(50)
    val native = Dedup.minhashSignatures(df, "doc_id", "text", 3, 64)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // the formulation the kernel replaces: explode + min(xxhash64(shingle, seed))
    val exploded = df.select(col("doc_id").as("id"),
      explode_outer(TextFunctions.shingles(col("text"), 3)).as("shingle"))
    val legacy = exploded.groupBy("id")
      .agg(array((0 until 64).map(seed =>
        coalesce(min(when(col("shingle").isNotNull,
          xxhash64(col("shingle"), lit(seed)))), lit(Long.MaxValue))): _*).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(native.keySet == legacy.keySet)
    native.foreach { case (id, sig) =>
      assert(sig == legacy(id), s"signature mismatch for doc $id")
    }
  }

  test("native simhash/dot/eq-count kernels are bit-compatible with the HOF forms") {
    import graft.functions.KFunctions.{array_dot, array_eq_count, simhash_sig}
    import graft.text.TextFunctions
    val df = spark.read.parquet(s"$sf0001/documents.parquet")
      .orderBy("doc_id").limit(50)
    // simhash vs the explode-free legacy column formulation — restricted to
    // docs WITH tokens: the kernel's empty-doc semantics are deliberately
    // NULL where the legacy vote chain collapsed to 0L
    val nonEmpty = df.filter(size(TextFunctions.tokens(col("text"))) > 0)
    assert(nonEmpty.count() > 0)
    val both = nonEmpty.select(col("doc_id"),
        simhash_sig(TextFunctions.tokens(col("text"))).as("native"),
        (0 until 64).map { i =>
          val votes = aggregate(transform(TextFunctions.tokens(col("text")),
              t => xxhash64(t)), lit(0),
            (acc, h) => acc + when(shiftright(h, i).bitwiseAND(1) === 1, 1).otherwise(-1))
          when(votes > 0, lit(1L << i)).otherwise(0L)
        }.reduce((a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
          a.bitwiseOR(b)).as("legacy"))
      .collect()
    both.foreach(r => assert(r.getLong(1) == r.getLong(2),
      s"simhash mismatch for doc ${r.getLong(0)}"))
    // the empty-doc divergence is intentional: kernel yields NULL, never 0
    val empty = docsDF((9L, "   ")).select(Dedup.simhash(col("text"))).head()
    assert(empty.isNullAt(0), "empty doc must simhash to NULL")
    // dot product vs aggregate(zip_with) on the embeddings, bit-identical
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .orderBy("vec_id").limit(50)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    emb.select(col("vec_id"), array_dot(col("v"), col("v")).as("native"),
        aggregate(zip_with(col("v"), col("v"), (x, y) => x * y), lit(0.0d),
          (acc, x) => acc + x).as("legacy"))
      .collect().foreach(r => assert(r.getDouble(1) == r.getDouble(2)))
    // shingles vs the zip-of-shifted-slices formulation, element-exact
    val sh = df.select(col("doc_id"),
        TextFunctions.shingles(col("text"), 3).as("native"), {
          val t = TextFunctions.tokens(col("text"))
          val zipped = arrays_zip((0 until 3).map(j =>
            slice(t, lit(j + 1), greatest(size(t) - 3 + 1, lit(0))).as(s"t$j")): _*)
          transform(zipped, s =>
            concat_ws(" ", (0 until 3).map(j => s.getField(s"t$j")): _*)).as("legacy")
        })
      .collect()
    sh.foreach(r => assert(r.getSeq[String](1) == r.getSeq[String](2),
      s"shingle mismatch for doc ${r.getLong(0)}"))
    // char n-grams share the windowing kernel with an empty separator
    val cn = docsDF((1L, "AbC d")).select(
      TextFunctions.charNgrams(col("text"), 3).as("g")).head().getSeq[String](0)
    assert(cn == Seq("abc", "bc ", "c d"), s"char ngrams wrong: $cn")
    // eq-count vs zip_with form, including the length-mismatch overlap rule
    import spark.implicits._
    val pairs = Seq(
      (Seq(1L, 2L, 3L), Seq(1L, 9L, 3L)), // 2 agreements
      (Seq(1L, 2L), Seq(1L)), // overlap only: 1 agreement, NOT null
      (Seq.empty[Long], Seq(1L))) // 0
      .toDF("a", "b")
    val cmp = pairs.select(array_eq_count(col("a"), col("b")).as("native"),
      aggregate(zip_with(col("a"), col("b"),
          (x, y) => when(x === y, 1).otherwise(0)), lit(0),
        (acc, v) => acc + v).as("legacy")).collect()
    cmp.foreach(r => assert(!r.isNullAt(0) && r.getInt(0) == r.getInt(1),
      s"eq-count mismatch: ${r.toString}"))
  }

  test("token-len-stats kernel is bit-compatible with the aggregate() folds") {
    // real corpus + edge shapes: empty, single long word, unicode, whitespace
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .orderBy("doc_id").limit(100).select(col("text"))
      .unionByName(docsDF((1L, ""), (2L, "supercalifragilistic"),
        (3L, "naïve café 中文 ok"), (4L, "   ")).select(col("text")))
    val t = TextFunctions.tokens(col("text"))
    val cmp = docs.select(
      element_at(graft.functions.KFunctions.token_len_stats(t), 1).as("n_sum"),
      element_at(graft.functions.KFunctions.token_len_stats(t), 2).as("n_ceil"),
      aggregate(t, lit(0L), (acc, w) => acc + length(w)).as("l_sum"),
      aggregate(t, lit(0L),
        (acc, w) => acc + ceil(length(w) / 4.0).cast("long")).as("l_ceil"))
      .collect()
    cmp.foreach { r =>
      assert(r.getLong(0) == r.getLong(2), s"sum-len mismatch: $r")
      assert(r.getLong(1) == r.getLong(3), s"ceil-sum mismatch: $r")
    }
    // null-element poisoning matches acc + NULL
    import spark.implicits._
    val withNull = Seq(Seq[String]("a", null, "b")).toDF("t")
      .select(graft.functions.KFunctions.token_len_stats(col("t")).as("s"),
        aggregate(col("t"), lit(0L), (acc, w) => acc + length(w)).as("l"))
      .head()
    assert(withNull.isNullAt(0) && withNull.isNullAt(1))
  }

  test("simhash: identical texts at hamming 0; near texts close; far texts far") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup = base + " extra"
    val other = (100 to 140).map(i => s"z$i").mkString(" ")
    val df = docsDF((1L, base), (2L, base), (3L, nearDup), (4L, other))
    val sigs = df.select(col("doc_id"), Dedup.simhash(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L), "identical text → identical simhash")
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sigs(1L), sigs(3L)) < hamming(sigs(1L), sigs(4L)),
      "near text must be closer than unrelated text")
    val pairs = Dedup.simhashPairs(df, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("simhashPairs equals brute-force all-pairs on a duplicate-heavy corpus") {
    // the distinct-signature band join (the 10×-data scaling fix) must
    // reproduce the naive all-pairs answer exactly: identical-sig cliques,
    // cross-group near-dup pairs, and nothing else (pigeonhole: hamming ≤ 3
    // over 4×16-bit bands always shares at least one exact band)
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val docs =
      (1L to 4L).map(id => (id, base)) ++          // identical clique of 4
      (11L to 13L).map(id => (id, base + " extra")) ++ // near-dup clique of 3
      Seq((21L, (100 to 140).map(i => s"z$i").mkString(" ")), (22L, "solo doc"))
    val df = docsDF(docs: _*)
    val got = Dedup.simhashPairs(df, "doc_id", "text", maxHamming = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    val sigs = df.select(col("doc_id"), Dedup.simhash(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = (for {
      a <- sigs.keys; b <- sigs.keys if a < b
      h = java.lang.Long.bitCount(sigs(a) ^ sigs(b)) if h <= 3
    } yield (a, b) -> h).toMap
    assert(got == want, s"extra=${got.keySet -- want.keySet} missing=${want.keySet -- got.keySet}")
    assert(want.keySet.intersect(Set((1L, 2L), (1L, 3L), (3L, 4L), (11L, 12L))).size == 4,
      "fixture must actually contain identical-sig cliques")
  }

  test("simhashPairs streams a large identical-sig clique without materializing n² pairs") {
    // 300 identical docs → C(300,2) = 44850 hamming-0 pairs; the chained
    // explode must stream these (the old kernel built one n²-element array
    // per group, which hard-fails past ~46k duplicates)
    val base = (1 to 30).map(i => s"c$i").mkString(" ")
    val df = docsDF((1L to 300L).map(id => (id, base)): _*)
    val pairs = Dedup.simhashPairs(df, "doc_id", "text", maxHamming = 3)
    assert(pairs.count() == 300L * 299 / 2)
    assert(pairs.filter(col("hamming") =!= 0).count() == 0)
  }

  test("embedding LSH widens with corpus size; exact duplicates survive any width") {
    import spark.implicits._
    // occupancy math: width only ever grows, capped, and never narrows below
    // the caller's bits
    assert(Dedup.effectiveBits(2000, 5, 1024) == 5)
    assert(Dedup.effectiveBits(200000, 5, 1024) == 8)
    assert(Dedup.effectiveBits(2000000, 5, 1024) == 11)
    assert(Dedup.effectiveBits(Long.MaxValue, 5, 1024) == 30)
    assert(Dedup.effectiveBits(10, 12, 1024) == 12)
    // identical vectors share every hyperplane sign, so a widened signature
    // still pairs them: 600 rows with target 16 forces ~6 extra bits
    val v = Array.tabulate(8)(i => (i + 1).toFloat)
    val rows = (1L to 598L).map(id => (id, Array.tabulate(8)(j =>
      math.sin(id * 7.0 + j).toFloat))) ++ Seq((600L, v), (601L, v))
    val pairs = Dedup.embeddingPairs(rows.toDF("vec_id", "embedding"),
      "vec_id", "embedding", dim = 8, bits = 2, threshold = 0.99,
      targetBucketSize = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((600L, 601L)), "exact duplicates must survive widening")
  }

  test("multi-probe embedding LSH finds strictly more true pairs, never false ones") {
    import spark.implicits._
    // 40 clusters of 5 perturbed copies: perturbation is big enough that some
    // within-cluster pairs land one hyperplane sign apart (single-probe
    // misses them) but small enough that their exact cosine stays above the
    // threshold — all deterministic, so the recall gap is stable
    val rows = for {
      c <- 0 until 40
      m <- 0 until 5
    } yield {
      val base = Array.tabulate(16)(j => math.sin(c * 13.7 + j * 1.3))
      val vec = base.zipWithIndex.map { case (x, j) =>
        (x + 0.12 * math.sin(c * 31.1 + m * 7.9 + j * 2.3)).toFloat }
      (c * 100L + m, vec)
    }
    val df = rows.toDF("vec_id", "embedding")
    def pairsOf(probe: Boolean) = Dedup.embeddingPairs(df, "vec_id", "embedding",
        dim = 16, bits = 6, threshold = 0.9, multiProbe = probe)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val single = pairsOf(false)
    val multi = pairsOf(true)
    assert(single.keySet.subsetOf(multi.keySet),
      "multi-probe must be a strict superset of single-probe")
    assert(multi.size > single.size,
      s"multi-probe must recover 1-bit-apart pairs (single=${single.size}, multi=${multi.size})")
    // exact verify means no false positives at any probe width
    multi.values.foreach(cos => assert(cos >= 0.9))
    // agreement on shared pairs
    single.foreach { case (k, v) => assert(multi(k) == v) }
  }

  test("int16 kernels: pack/dot match a scala reference; round-trip dot is inside the analytic margin") {
    import spark.implicits._
    val vs = Seq(
      (1L, Array(0.9, -0.3, 0.1, 0.0)),
      (2L, Array(0.5, 0.5, -0.5, 0.5)),
      (3L, Array(0.0, 0.0, 0.0, 0.0)) // all-zero → all-zero bytes
    ).toDF("id", "v").withColumn("v", col("v").cast("array<double>"))
    val out = vs.select(col("id"),
        graft.functions.KFunctions.pack_unit_int16(col("v")).as("b"))
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]]("b")).toMap
    def ref(a: Array[Double]): Array[Byte] = {
      val m = a.map(math.abs).max
      val shorts =
        if (m == 0) Array.fill(a.length)(0)
        else a.map(x => Math.round(x / (m / 32767.0)).toInt)
      shorts.flatMap(c =>
        Array((c & 0xff).toByte, ((c >> 8) & 0xff).toByte))
    }
    assert(out(1L).sameElements(ref(Array(0.9, -0.3, 0.1, 0.0))))
    assert(out(2L).sameElements(ref(Array(0.5, 0.5, -0.5, 0.5))))
    assert(out(3L).sameElements(Array.fill[Byte](8)(0)))
    // dot: little-endian decode, long accumulation, shape nulls
    def le(shorts: Int*): Array[Byte] = shorts.toArray.flatMap(c =>
      Array((c & 0xff).toByte, ((c >> 8) & 0xff).toByte))
    val d = spark.range(1).select(
      graft.functions.KFunctions.binary_dot16(
        lit(le(32767, -32767, 5)), lit(le(32767, 32767, -6))).as("d"),
      graft.functions.KFunctions.binary_dot16(
        lit(le(1)), lit(le(1, 2))).as("m"),
      graft.functions.KFunctions.binary_dot16(
        lit(Array[Byte](1)), lit(Array[Byte](1))).as("odd")).head()
    assert(d.getLong(0) ==
      32767L * 32767L - 32767L * 32767L + 5L * -6L)
    assert(d.isNullAt(1) && d.isNullAt(2))
    // the prefilter's correctness rests on |cos − qdot·qs_a·qs_b| ≤
    // margin(d): check it empirically on unit vectors across the margin
    // formula's terms
    val rnd = new scala.util.Random(7)
    val dim = 64
    val margin = (math.sqrt(dim) + dim / 65534.0) / 32767.0 +
      dim / (4.0 * 32767.0 * 32767.0)
    val pairs = (1 to 50).map { _ =>
      def unit(): Array[Double] = {
        val v = Array.fill(dim)(rnd.nextGaussian())
        val n = math.sqrt(v.map(x => x * x).sum)
        v.map(_ / n)
      }
      (unit(), unit())
    }
    val pdf = pairs.zipWithIndex
      .map { case ((a, b), i) => (i.toLong, a, b) }.toDF("i", "a", "b")
    val checked = pdf.select(
      graft.functions.KFunctions.array_dot(col("a"), col("b")).as("exact"),
      (graft.functions.KFunctions.binary_dot16(
        graft.functions.KFunctions.pack_unit_int16(col("a")),
        graft.functions.KFunctions.pack_unit_int16(col("b")))
        .cast("double") *
        (array_max(transform(col("a"), x => abs(x))) / 32767.0d) *
        (array_max(transform(col("b"), x => abs(x))) / 32767.0d)).as("q"))
      .collect()
    checked.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) <= margin,
        s"quantized dot ${r.getDouble(1)} drifted more than $margin " +
          s"from exact ${r.getDouble(0)}")
    }
  }

  test("quantized prefilter pipeline is pair-identical to the direct multi-table form") {
    import spark.implicits._
    // mixed regime: random near-orthogonal vectors PLUS planted near-dup
    // clones — borderline pairs sit right at the threshold, where a broken
    // margin would show as a missing pair
    val rnd = new scala.util.Random(11)
    val baseVecs = (1L to 200L).map(id =>
      (id, Array.tabulate(16)(j => math.sin(id * 7.77 + j * 1.91).toFloat)))
    val clones = (1L to 40L).map(id =>
      (1000L + id, baseVecs(id.toInt - 1)._2.map(x =>
        x + (rnd.nextFloat() - 0.5f) * 0.1f)))
    val df = (baseVecs ++ clones).toDF("vec_id", "embedding")
    // the reference: the same band candidates, scored by a plain-Scala exact
    // cosine (sequential double dots, Spark's HALF_UP 6-dp round) — no
    // quantization, no prefilter, no staging
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0
      var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val units = (baseVecs ++ clones).map { case (id, v) =>
      val d = v.map(_.toDouble)
      val n = math.sqrt(dot(d, d))
      id -> d.map(_ / n)
    }.toMap
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // 240 rows at bits=5/default targetBucketSize never trigger occupancy
    // widening, so the explicit multiProbe case is what exercises the
    // probe leg of the band join
    val effBits = Dedup.effectiveBits(240L, 5, 1024)
    assert(effBits == 5)
    for (thr <- Seq(0.3, 0.8); probe <- Seq(false, true)) {
      val flips = if (probe) 0 until effBits else Seq.empty[Int]
      val reference = Dedup.bandPairsFromSigs(Dedup.embeddingBandSignatures(df,
          "vec_id", "embedding", dim = 16, bits = effBits, tables = 8,
          flipBits = flips))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .map(p => p -> round6(dot(units(p._1), units(p._2))))
        .filter(_._2 >= thr).toMap
      assert(reference.nonEmpty, s"thr=$thr fixture must produce pairs")
      // one-shot (0), then the bounded-spill staged mining at 2 and 3
      // tables per batch (3 leaves a ragged final batch)
      for (staged <- Seq(0, 2, 3)) {
        val got = Dedup.embeddingPairs(df, "vec_id", "embedding",
            dim = 16, bits = 5, threshold = thr, tables = 8,
            multiProbe = probe, stagedTableBatch = staged)
          .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
        assert(got == reference,
          s"thr=$thr probe=$probe staged=$staged: got=${got.size} " +
            s"reference=${reference.size}; " +
            s"missing=${(reference.keySet -- got.keySet).take(5)}, " +
            s"extra=${(got.keySet -- reference.keySet).take(5)}, " +
            s"cosine drift=${got.filter(kv => reference.get(kv._1).exists(_ != kv._2)).take(5)}")
      }
    }
  }

  test("multi-table embedding LSH: strict candidate superset, no false positives") {
    import spark.implicits._
    // near-orthogonal regime (the borderline-similarity case): random-ish
    // vectors with a 0.35 threshold — exactly where one table structurally
    // misses most true pairs and extra tables must recover them
    val rows = (1L to 300L).map(id =>
      (id, Array.tabulate(16)(j => math.sin(id * 7.77 + j * 1.91).toFloat)))
    val df = rows.toDF("vec_id", "embedding")
    def pairsOf(tables: Int) = Dedup.embeddingPairs(df, "vec_id", "embedding",
        dim = 16, bits = 5, threshold = 0.35, tables = tables)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val one = pairsOf(1)
    val eight = pairsOf(8)
    assert(one.keySet.subsetOf(eight.keySet),
      "table 0 is the historical signature: its pairs must all survive")
    assert(eight.size > one.size,
      s"extra tables must recover borderline pairs (1 table=${one.size}, 8=${eight.size})")
    // exact in-bucket verify: no false positives at any table count, and no
    // duplicate emissions of a pair found by several tables
    eight.values.foreach(cos => assert(cos >= 0.35))
    one.foreach { case (k, v) => assert(eight(k) == v) }
    val raw = Dedup.embeddingPairs(df, "vec_id", "embedding",
      dim = 16, bits = 5, threshold = 0.35, tables = 8).collect()
    assert(raw.length == raw.map(r => (r.getLong(0), r.getLong(1))).distinct.length,
      "each pair must be emitted exactly once")
    // multi-probe must be WIRED in the multi-table branch too (it was once
    // silently dropped there): with probing each table also visits flipped
    // buckets, so candidates strictly grow — and stay exact-verified
    def probed(p: Boolean) = Dedup.embeddingPairs(df, "vec_id", "embedding",
        dim = 16, bits = 5, threshold = 0.35, multiProbe = p, tables = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val noProbe = probed(false)
    val withProbe = probed(true)
    assert(noProbe.keySet.subsetOf(withProbe.keySet))
    assert(withProbe.size > noProbe.size,
      s"multi-table probe must add flipped-bucket candidates " +
        s"(noProbe=${noProbe.size}, probe=${withProbe.size})")
    withProbe.values.foreach(cos => assert(cos >= 0.35))
  }

  test("semantic dedup: within-cluster cosine pairs, min-id survivor per group") {
    import spark.implicits._
    // two planted exact-duplicate groups (identical vectors always share a
    // k-means cell regardless of centroid drift) in a sea of spread-out
    // singletons; threshold 0.999 keeps only the planted groups
    val dupA = Array.tabulate(8)(j => (j + 1).toFloat)
    val dupB = Array.tabulate(8)(j => math.cos(j * 2.1).toFloat)
    // hash-style generator (fract of a large sine product, centered): no
    // periodic resonance between ids — a plain sin(id*c) family repeats
    // whenever Δid*c lands near a 2π multiple and silently plants extra
    // near-duplicate pairs
    def pseudo(id: Long, j: Int): Float = {
      val x = math.sin(id * 12.9898 + j * 78.233) * 43758.5453
      ((x - math.floor(x)) - 0.5).toFloat
    }
    val rows = (1L to 60L).map(id => (id, Array.tabulate(8)(pseudo(id, _)))) ++
      Seq((101L, dupA), (102L, dupA), (103L, dupA), (201L, dupB), (202L, dupB))
    val df = rows.toDF("vec_id", "embedding")
    val pairs = Dedup.semanticPairs(df, "vec_id", "embedding",
      nClusters = 4, threshold = 0.999)
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((101L, 102L), (101L, 103L), (102L, 103L), (201L, 202L)),
      s"planted duplicate groups must pair exactly: $got")
    // canonical selection: min id per group survives, singletons untouched
    val kept = graft.dedup.Clusters.dropDuplicateGroups(df, "vec_id", pairs)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == (1L to 60L).toSet + 101L + 201L)
    // zero vectors can't cosine-pair and must not abort the job
    val withZero = (rows :+ (999L, Array.fill(8)(0.0f))).toDF("vec_id", "embedding")
    val pz = Dedup.semanticPairs(withZero, "vec_id", "embedding",
      nClusters = 4, threshold = 0.999)
    assert(!pz.collect().exists(r => r.getLong(0) == 999L || r.getLong(1) == 999L))
  }

  test("semanticPairs with one cell (k = 1) returns exactly the brute-force pairs") {
    import spark.implicits._
    // nClusters = 1 on fewer than targetCellSize rows gives k = 1: one cell
    // holding every vector, so the pair set is the brute-force one
    def pseudo(id: Long, j: Int): Float = {
      val x = math.sin(id * 12.9898 + j * 78.233) * 43758.5453
      ((x - math.floor(x)) - 0.5).toFloat
    }
    val rows = (1L to 50L).map(id => (id, Array.tabulate(4)(pseudo(id, _))))
    val df = rows.toDF("vec_id", "embedding")
    val got = Dedup.semanticPairs(df, "vec_id", "embedding",
        nClusters = 1, threshold = 0.8)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0
      var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val units = rows.map { case (id, v) =>
      val d = v.map(_.toDouble)
      val n = math.sqrt(dot(d, d))
      id -> d.map(_ / n)
    }.toMap
    val brute = (for {
      (a, ua) <- units.toSeq
      (b, ub) <- units.toSeq
      if a < b
      c = BigDecimal(dot(ua, ub)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if c >= 0.8
    } yield (a, b) -> c).toMap
    assert(brute.nonEmpty, "fixture must produce pairs")
    assert(got == brute, s"got=${got.size} brute=${brute.size}; " +
      s"missing=${(brute.keySet -- got.keySet).take(5)}, " +
      s"extra=${(got.keySet -- brute.keySet).take(5)}")
  }

  test("approximate battery entries carry measured recall above their floors") {
    // the no-oracle entries' self-audit columns (driver pins them as rows;
    // this pins the VALUES): floors set ~0.1-0.15 under the sf0.001
    // measurement so a real regression trips, fixture drift doesn't
    val floors = Seq(
      ("a_ann_lsh", "recall_at_k", 0.4),
      ("a_ann_lsh_bucketed", "recall_at_k", 0.3),
      ("a_ann_ivf", "recall_at_k", 0.5),
      ("d_minhash_pairs", "exact_pair_recall", 0.9),
      ("d_simhash_pairs", "exact_pair_recall", 0.5),
      ("d_embedding_dups", "exact_pair_recall", 0.35))
    for ((name, colName, floor) <- floors) {
      val out = SparkEntry.queries(name)(spark, sf0001)
      val vals = out.select(colName).distinct().collect().map(_.getDouble(0))
      assert(vals.length == 1, s"$name: $colName must be a constant audit column")
      assert(vals.head >= floor,
        s"$name: measured ${colName}=${vals.head} below floor $floor")
    }
  }

  test("quality calibration: per-source cut keeps ~top-70%, never splits a tie group") {
    val out = SparkEntry.queries("d_quality_calibrate")(spark, sf0001).collect()
    assert(out.nonEmpty)
    val bySource = out.groupBy(_.getString(1))
    for ((src, rows) <- bySource) {
      val kept = rows.filter(_.getBoolean(3)).map(_.getDouble(2))
      val dropped = rows.filterNot(_.getBoolean(3)).map(_.getDouble(2))
      // the decision must be a pure threshold on the rounded score: every
      // kept score strictly above every dropped score, OR the tie group at
      // the boundary is entirely on one side
      if (kept.nonEmpty && dropped.nonEmpty) {
        assert(kept.min > dropped.max,
          s"$src: kept/dropped overlap (cut split a tie group)")
        assert(!(kept.toSet intersect dropped.toSet).nonEmpty)
      }
      // exact semantics, recomputed independently: kept iff the row's
      // strictly-below count clears 0.3(n-1) (percent_rank on the rounded
      // score, tie groups share their minimum rank)
      val n = rows.length
      val scores = rows.map(_.getDouble(2))
      for (r <- rows) {
        val below = scores.count(_ < r.getDouble(2))
        val expect = n > 1 && below.toDouble / (n - 1) >= 0.3
        assert(r.getBoolean(3) == expect,
          s"$src doc ${r.getLong(0)}: kept=${r.getBoolean(3)}, expected $expect")
      }
      if (n > 1) assert(dropped.nonEmpty, s"$src: rank-0 group must be dropped")
    }
  }

  test("ngram jaccard exact values") {
    // doc1: shingles {a b c, b c d} ; doc2: {a b c, b c x}; inter=1 union=3 → 1/3
    val df = docsDF((1L, "a b c d"), (2L, "a b c x"), (3L, "q r s t"))
    val pairs = Dedup.ngramJaccardPairs(df, "doc_id", "text", shingleN = 3,
      threshold = 0.1)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs.keySet == Set((1L, 2L)))
    assert(math.abs(pairs((1L, 2L)) - 1.0 / 3.0) < 1e-6)
  }

  test("cosine + brute-force ANN top-k ordering") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f)),
      (4L, Array(-1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val top = Ann.bruteForceTopK(vecs, "vec_id", "embedding", Seq(1.0, 0.0, 0.0), 3)
      .collect().map(_.getLong(0)).toSeq
    assert(top == Seq(1L, 2L, 3L))
  }

  test("LSH ANN achieves high recall vs brute force on real embeddings") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val corpus = emb.filter(col("vec_id") =!= 0)
    val exact = Ann.bruteForceTopK(corpus, "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSet
    val approx = Ann.lshTopK(corpus, "vec_id", "embedding", 64, q, 10,
      bits = 8, probeHamming = 4)
      .collect().map(_.getLong(0)).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"LSH recall too low: $recall (exact=$exact approx=$approx)")
  }

  test("PQ: encode matches driver reference, ADC scores exactly, recall floor holds") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val corpus = emb.filter(col("vec_id") =!= 0)
    val model = Ann.pqTrain(corpus, "embedding", m = 8, ksub = 16)
    assert(model.dim == 64 && model.dsub == 8)
    assert(model.codebooks.forall(_.length == 16))

    val encoded = Ann.pqEncode(corpus, "embedding", model)
    // kernel, not UDF, and codes are in range
    val plan = encoded.queryExecution.executedPlan.toString
    assert(plan.contains("pq_encode") && !plan.toLowerCase.contains("scalaudf"))
    val rows = encoded.select(col("vec_id"),
        col("embedding").cast("array<double>"), col("pq_code"))
      .limit(20).collect()
    rows.foreach { r =>
      val vec = r.getSeq[Double](1)
      val n = math.sqrt(vec.map(x => x * x).sum)
      val nv = if (n > 0) vec.map(_ / n) else vec
      val code = r.getSeq[Int](2)
      assert(code.length == 8)
      // driver-side reference encode: nearest codeword per subspace
      val want = (0 until 8).map { i =>
        val sub = nv.slice(i * 8, i * 8 + 8)
        model.codebooks(i).zipWithIndex.minBy { case (w, _) =>
          sub.zip(w).map { case (a, b) => (a - b) * (a - b) }.sum
        }._2
      }
      assert(code == want, s"vec ${r.getLong(0)}: $code != $want")
    }

    // ADC score is exactly Σ lut(i)(code(i)) — reference-checked per row
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val lut = model.adcTable(q)
    val scored = Ann.pqTopK(encoded, "vec_id", q, model, 10).collect()
    val codeOf = encoded.select("vec_id", "pq_code").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    scored.foreach { r =>
      val want = codeOf(r.getLong(0)).zipWithIndex.map { case (c, i) => lut(i)(c) }.sum
      assert(math.abs(r.getDouble(1) - math.rint(want * 1e6) / 1e6) < 1e-9)
    }

    // plain ADC is coarse at ksub=16 — sanity floor only; the production
    // path re-ranks an ADC shortlist with exact cosine and must clear a
    // real floor
    val exact = Ann.bruteForceTopK(corpus, "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSet
    val approx = scored.map(_.getLong(0)).toSet
    assert((exact & approx).size.toDouble / exact.size >= 0.2,
      s"plain ADC recall collapsed: $approx")
    val reranked = Ann.pqTopKRerank(encoded, corpus, "vec_id", "embedding",
        q, model, 10, shortlist = 100)
      .collect().map(_.getLong(0)).toSet
    val rr = (exact & reranked).size.toDouble / exact.size
    assert(rr >= 0.8, s"reranked PQ recall too low: $rr")

    // determinism: retrain yields the identical model (fixed seeds)
    val model2 = Ann.pqTrain(corpus, "embedding", m = 8, ksub = 16)
    assert(model.codebooks.flatten.flatten.toSeq == model2.codebooks.flatten.flatten.toSeq)

    // m must divide dim
    assertThrows[IllegalArgumentException] {
      Ann.pqTrain(corpus, "embedding", m = 7)
    }
  }

  test("embedding near-dup pairs verify with exact cosine inside buckets") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array.fill(8)(1.0f)),
      (2L, Array.fill(8)(0.999f)), // same direction → cosine 1
      (3L, Array.tabulate(8)(i => if (i % 2 == 0) 1.0f else -1.0f)))
      .toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingPairs(vecs, "vec_id", "embedding", dim = 8,
      bits = 6, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("langId: stopword-profiled text classified, empty text undetermined") {
    val df = docsDF(
      (1L, "the cat sat of the mat and it is that"),
      (2L, "le chat et la maison des une du que est"),
      (3L, "der hund und die katze ist ein nicht mit den"),
      (4L, "xyzzy plugh"))
    val out = df.select(col("doc_id"), TextFunctions.langId(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "en" && out(2L) == "fr" && out(3L) == "de" && out(4L) == "und")
  }

  test("quality signals and fingerprint determinism") {
    val df = docsDF((1L, "The quick brown fox."), (2L, "the  QUICK   brown fox."))
    val fp = df.select(TextFunctions.fingerprint(col("text")))
      .collect().map(_.getLong(0))
    assert(fp(0) == fp(1), "fingerprint is whitespace/case-insensitive")
    val sig = df.select(TextFunctions.qualitySignals(col("text")).as("s"))
      .select("s.n_tokens", "s.punct_ratio").head()
    assert(sig.getInt(0) == 4)
    assert(sig.getDouble(1) > 0)
  }

  test("repetition signals: hand-computed duplicate-line and n-gram fractions") {
    // lines (trimmed, non-empty): "aaa bbb aaa bbb aaa bbb" ×1,
    // "hello world" ×2 (dup), "unique line here" ×1 → 4 lines, 2 dup;
    // chars 23+11+11+16=61, dup chars 22; paragraphs (split on blank line): 2, no dup
    val text = "aaa bbb aaa bbb aaa bbb\nhello world\nhello world\n\nunique line here"
    val df = docsDF((1L, text))
    val r = df.select(TextFunctions.repetitionSignals(col("text")).as("r"))
      .select("r.n_lines", "r.dup_line_frac", "r.dup_line_char_frac",
        "r.dup_para_frac", "r.top_2gram_char_frac").head()
    assert(r.getLong(0) == 4)
    assert(r.getDouble(1) == 0.5)
    assert(math.abs(r.getDouble(2) - 22.0 / 61.0) < 1e-12)
    assert(r.getDouble(3) == 0.0)
    // 13 tokens, normalized length 52+12=64; top 2-gram = MOST FREQUENT gram
    // (Gopher argmax-by-count): "aaa bbb" count 3 (mass 21) wins over
    // "hello world" count 2 despite its larger mass 22
    assert(math.abs(r.getDouble(4) - 21.0 / 64.0) < 1e-12)

    // 5-gram repetition: "a b c d e" occurs at windows 1 and 6 → mass 2×9=18
    // over normalized length 19; all other windows unique
    val r5 = docsDF((2L, "a b c d e a b c d e"))
      .select(TextFunctions.repetitionSignals(col("text")).as("r"))
      .select("r.dup_5gram_char_frac", "r.dup_line_frac").head()
    assert(math.abs(r5.getDouble(0) - 18.0 / 19.0) < 1e-12)
    assert(r5.getDouble(1) == 0.0)

    // degenerate cases: empty text and single-token text produce zeros, not nulls/NaN
    val z = docsDF((3L, ""), (4L, "word"))
      .select(TextFunctions.repetitionSignals(col("text")).as("r"))
      .select("r.n_lines", "r.dup_line_frac", "r.top_2gram_char_frac")
      .collect()
    assert(z.forall(row => row.getLong(0) <= 1 && row.getDouble(1) == 0.0 &&
      row.getDouble(2) == 0.0))
  }

  test("global line dedup: first corpus-wide occurrence wins, docs reassemble in order") {
    val df = docsDF(
      (1L, "header\nbody one\nfooter"),
      (2L, "header\nbody two\nfooter"),
      (3L, "  header \n\n   \nunique three"), // whitespace-variant dup + blank lines
      (4L, "header\nfooter"))                 // fully boilerplate
    val out = graft.text.CorpusClean.globalLineDedup(df)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out(1L) == (("header\nbody one\nfooter", 3L, 0L)))
    assert(out(2L) == (("body two", 1L, 2L)))
    assert(out(3L) == (("unique three", 1L, 1L))) // trimmed "header" deduped
    assert(out(4L) == (("", 0L, 2L)))
  }

  test("shard packing: greedy-contiguous token-budget assignment per source") {
    import spark.implicits._
    val df = Seq(
      ("web", 1L, "w w w"), ("web", 2L, "x x x"), ("web", 3L, "y y y"),
      ("book", 10L, "a a a a a a a"), // exceeds the budget alone
      ("book", 11L, "b")).toDF("source", "doc_id", "text")
    val out = graft.text.CorpusClean.packShards(df, tokensPerShard = 5)
      .select("doc_id", "shard_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // web: starts at 0, 3, 6 → shards 0, 0, 1
    assert(out(1L) == 0L && out(2L) == 0L && out(3L) == 1L)
    // book: oversized doc fills shard 0; next doc starts at 7 → shard 1
    assert(out(10L) == 0L && out(11L) == 1L)
  }

  test("corpus filter: first failing rule wins, kept docs carry null reason") {
    val df = docsDF(
      (1L, "short"), // 1 token → too_short
      (2L, "dup line dup line dup line\ndup line dup line dup line\nthird line x y z a b c"),
      (3L, "spam spam spam spam spam spam spam spam one two three four five six"),
      (4L, "a perfectly ordinary sentence with enough distinct words to pass every rule fine"))
    val cfg = graft.text.CorpusClean.FilterConfig(
      minTokens = Some(3L), maxDupLineCharFrac = Some(0.3),
      maxTop2gramCharFrac = Some(0.3))
    val out = graft.text.CorpusClean.filterCorpus(df, cfg)
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(1), Option(r.getString(2)))))
      .toMap
    assert(out(1L) == ((false, Some("too_short"))))
    assert(out(2L) == ((false, Some("dup_lines"))))
    assert(out(3L) == ((false, Some("repetitive_ngrams"))))
    assert(out(4L) == ((true, None)))
    // priority: a doc failing too_short AND dup_lines reports too_short
    val both = docsDF((5L, "x\nx"))
    val r5 = graft.text.CorpusClean.filterCorpus(both, cfg).head()
    assert(r5.getString(2) == "too_short")
  }

  test("PII redaction: emails, URLs, digit runs; fixed order; counts per kind") {
    val df = docsDF(
      (1L, "mail a.b+c@site.co.uk and http://x.y/z?a=1 then call 555 123 4567 ok"),
      (2L, "no pii here at all"),
      (3L, "http://host/with.an@email.path stays a single url after email redaction"))
    val out = graft.text.CorpusClean.redactPii(df)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out(1L) == (("mail <EMAIL> and <URL> then call <NUMBER> ok", 1L, 1L, 1L)))
    assert(out(2L) == (("no pii here at all", 0L, 0L, 0L)))
    // email-in-URL: email replaced first (documented order), remainder is
    // still one whitespace-delimited URL token
    assert(out(3L)._2 == 1L && out(3L)._3 == 1L &&
      out(3L)._1.startsWith("<URL> stays"))
  }

  test("URL normalization: case, ports, fragments, tracking params, trailing slash") {
    import spark.implicits._
    val cases = Seq(
      // scheme+host lowercase, path case preserved
      ("HTTP://Example.COM/Path/To", "http://example.com/Path/To"),
      // default ports stripped, non-default kept
      ("https://a.com:443/x", "https://a.com/x"),
      ("http://a.com:80/x", "http://a.com/x"),
      ("http://a.com:8080/x", "http://a.com:8080/x"),
      // fragment dropped
      ("https://a.com/x#section", "https://a.com/x"),
      // tracking params removed, others kept in ORIGINAL order
      ("https://a.com/x?utm_source=t&b=2&a=1&fbclid=z", "https://a.com/x?b=2&a=1"),
      ("https://a.com/x?utm_campaign=c", "https://a.com/x"),
      // bare trailing slash trimmed; root path collapses
      ("https://a.com/x/", "https://a.com/x"),
      ("https://a.com/", "https://a.com"),
      // not URL-shaped: untouched (trimmed only)
      ("  not a url  ", "not a url"))
    val got = cases.map(_._1).toDF("u")
      .select(graft.text.CorpusClean.normalizeUrl(col("u")))
      .as[String].collect().toSeq
    got.zip(cases).foreach { case (g, (in, want)) =>
      assert(g == want, s"normalizeUrl($in) = $g, want $want") }
    // domain key: normalized host, www. stripped; null for non-URLs
    val doms = Seq("https://WWW.Site.org:443/a?utm_s=1", "nope")
      .toDF("u").select(graft.text.CorpusClean.urlDomain(col("u")))
      .collect().map(r => Option(r.getString(0))).toSeq
    assert(doms == Seq(Some("site.org"), None))
    // extractUrls and normalizeUrl compose (curation key per mention)
    val urls = Seq("see http://A.com/x/ and https://b.io/y#top .")
      .toDF("t").select(explode(graft.text.CorpusClean.extractUrls(col("t"))).as("u"))
      .select(graft.text.CorpusClean.normalizeUrl(col("u")))
      .as[String].collect().toSeq
    assert(urls.head == "http://a.com/x")
    assert(urls(1) == "https://b.io/y") // fragment dropped by normalization
  }

  test("URL normalization is idempotent and domain-stable over generated URLs") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    def pick[A](xs: Seq[A]) = xs(rnd.nextInt(xs.length))
    val urls = (1 to 300).map { _ =>
      val scheme = pick(Seq("http", "https", "HTTP", "HtTpS"))
      val host = pick(Seq("Example.com", "www.site.ORG", "a.b.co", "X.io"))
      val port = pick(Seq("", ":80", ":443", ":8080"))
      val path = pick(Seq("", "/", "/A/b", "/x/y/", "/p"))
      val query = pick(Seq("", "?a=1", "?utm_source=x", "?utm_x=1&b=2", "?b=2&a=1&gclid=g"))
      val frag = pick(Seq("", "#f", "#Sec-2"))
      s"$scheme://$host$port$path$query$frag"
    } ++ Seq("not a url", "", "ftp://weird:21/x")
    val df = urls.toDF("u")
    val once = graft.text.CorpusClean.normalizeUrl(col("u"))
    val rows = df.select(col("u"), once.as("n1"),
        graft.text.CorpusClean.normalizeUrl(once).as("n2"),
        graft.text.CorpusClean.urlDomain(col("u")).as("d1"))
      .withColumn("d2", graft.text.CorpusClean.urlDomain(col("n1")))
      .collect()
    rows.foreach { r =>
      assert(r.getString(1) == r.getString(2),
        s"not idempotent: ${r.getString(0)} -> ${r.getString(1)} -> ${r.getString(2)}")
      assert(Option(r.getString(3)) == Option(r.getString(4)),
        s"domain unstable: ${r.getString(0)}")
    }
  }

  test("new kernels: interpreted eval matches codegen (PQ encode/ADC, bloom probe)") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet").limit(100)
    val model = Ann.pqTrain(emb, "embedding", m = 8, ksub = 8)
    val q = emb.select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    def pqRun(): Seq[(Long, Seq[Int], Double)] = {
      val enc = Ann.pqEncode(emb, "embedding", model)
      Ann.pqTopK(enc.select("vec_id", "pq_code"), "vec_id", q, model, 100)
        .join(enc.select(col("vec_id").as("id"), col("pq_code")), "id")
        .collect().map(r => (r.getLong(0), r.getSeq[Int](2), r.getDouble(1))).toSeq
        .sortBy(_._1)
    }
    val grams = Seq("a b c", "d e f", "x y z").toDF("text")
    val bloom = grams.select(xxhash64(col("text")).as("h"))
      .stat.bloomFilter("h", 3, 0.01)
    val bc = spark.sparkContext.broadcast(bloom)
    def bloomRun(): Seq[Boolean] =
      Seq("a b c", "nope", "x y z").toDF("t")
        .select(graft.functions.KFunctions.bloom_might_contain(
          xxhash64(col("t")), bc))
        .collect().map(_.getBoolean(0)).toSeq

    val (pqGen, bloomGen) = (pqRun(), bloomRun())
    val conf = spark.conf
    val prior = (conf.get("spark.sql.codegen.wholeStage"),
      conf.get("spark.sql.codegen.factoryMode", "FALLBACK"))
    conf.set("spark.sql.codegen.wholeStage", "false")
    conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      assert(pqRun() == pqGen, "PQ interpreted != codegen")
      assert(bloomRun() == bloomGen, "bloom interpreted != codegen")
    } finally {
      conf.set("spark.sql.codegen.wholeStage", prior._1)
      conf.set("spark.sql.codegen.factoryMode", prior._2)
    }
    assert(bloomGen == Seq(true, false, true) || bloomGen == Seq(true, true, true),
      s"bloom semantics drifted: $bloomGen") // 'nope' may rarely FP
  }

  test("text normalization: NFC composition, control chars stripped, whitespace kept") {
    val df = docsDF(
      (1L, "café"),            // decomposed → composed é
      (2L, "A̊ ok"),      // control char BETWEEN base and mark
      (3L, "plain\tascii\nstays"))   // \t and \n survive the control strip
    val out = df.select(col("doc_id"),
        graft.text.CorpusClean.normalizeText(col("text")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "café")
    // strip-first lets the mark reach its base: A + ring → Å (U+00C5)
    assert(out(2L) == "Å ok")
    assert(out(3L) == "plain\tascii\nstays")
  }

  test("multimodal: feature extraction batch shape and determinism") {
    val media = Multimodal.syntheticMedia(spark, sf0001)
    val feats = Multimodal.extractFeatures(media)
    val rows = feats.collect()
    assert(rows.length == 500)
    rows.foreach { f =>
      assert(f.features.length == 16)
      assert(f.width >= 64 && f.height >= 64)
      assert(f.n_frames >= 1)
    }
    // determinism: second run identical
    val again = Multimodal.extractFeatures(media).collect()
    assert(rows.map(_.features.toSeq).toSeq == again.map(_.features.toSeq).toSeq)
    // video rows have >1 fake frames when payload big enough
    val frames = Multimodal.sampleFrames(media, stride = 3, maxFrames = 8)
    assert(frames.count() > 0)
    assert(frames.groupBy("media_id").count().agg(max("count")).head().getLong(0) <= 8)
  }

  test("multimodal: real javax.imageio decode for image rows, fake for the rest") {
    import spark.implicits._
    import graft.multimodal.{MediaRecord, Multimodal}
    // golden 5x3 PNG: left 7 pixels black, right 8 white
    val img = new java.awt.image.BufferedImage(5, 3,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 3; x <- 0 until 5)
      img.setRGB(x, y, if (y * 5 + x < 7) 0x000000 else 0xffffff)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val png = bos.toByteArray
    assert(Multimodal.ImageCodec.looksLikeImage(png))
    val media = Seq(
      MediaRecord(1L, "image", png, Map.empty),
      MediaRecord(2L, "image", "not an image".getBytes, Map.empty), // undecodable → fake
      MediaRecord(3L, "audio", png, Map.empty)) // typed audio → fake even if PNG bytes
      .toDS()
    val rows = Multimodal.extractFeatures(media).collect().sortBy(_.media_id)
    val real = rows(0)
    assert(real.width == 5 && real.height == 3 && real.n_frames == 1)
    // luminance histogram: 7/15 black in bin 0, 8/15 white in bin 15
    assert(math.abs(real.features(0) - 7f / 15f) < 1e-6)
    assert(math.abs(real.features(15) - 8f / 15f) < 1e-6)
    assert(real.features.slice(1, 15).forall(_ == 0f))
    // fallback rows keep the deterministic fake dims (hash-derived)
    val fake = rows(1)
    assert((fake.width, fake.height) ==
      Multimodal.FakeCodec.decodeDims("not an image".getBytes))
    assert(rows(2).n_frames == 1 + png.length / Multimodal.FakeCodec.AudioBytesPerFrame)
  }

  test("multimodal: resize scales the long edge, never upscales, passes non-images through") {
    import spark.implicits._
    import graft.multimodal.{MediaRecord, Multimodal}
    // 40x10 gradient PNG: long edge 40 → maxEdge 20 halves both dims
    val img = new java.awt.image.BufferedImage(40, 10,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 10; x <- 0 until 40) {
      val v = (x * 255) / 39; img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val png = bos.toByteArray
    val media = Seq(
      MediaRecord(1L, "image", png, Map.empty),
      MediaRecord(2L, "audio", png, Map.empty)).toDS()
    val out = Multimodal.resizeImages(media, maxEdge = 20)
      .collect().sortBy(_.media_id)
    val r = out(0)
    assert((r.src_width, r.src_height, r.width, r.height) === ((40, 10, 20, 5)))
    // the payload is a real PNG of the new geometry, decodable round-trip
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(r.content))
    assert(back.getWidth === 20 && back.getHeight === 5)
    // gradient preserved: left edge darker than right edge after resample
    def lum(rgb: Int) = ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
    assert(lum(back.getRGB(0, 2)) < lum(back.getRGB(19, 2)))
    // already-small images never upscale
    val same = Multimodal.resizeImages(media.filter(_.media_id == 1L), maxEdge = 4096)
      .head()
    assert((same.width, same.height) === ((40, 10)))
    // non-image rows pass through byte-identical
    assert(out(1).content.sameElements(png) && out(1).width == out(1).src_width)
    // deterministic re-encode: same input → same bytes
    val again = Multimodal.resizeImages(media, maxEdge = 20).collect().sortBy(_.media_id)
    assert(again(0).content.sameElements(r.content))
  }

  test("perceptual hash: re-encoded/resized clones collide, distinct images don't; fake grid hand-checked") {
    import spark.implicits._
    import graft.multimodal.{MediaRecord, Multimodal}
    def pattern(w: Int, h: Int, f: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val v = f(x, y) & 0xff; img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    // structured pattern (diagonal gradient + horizontal sine texture) —
    // enough luminance variation that every dHash comparison is meaningful
    val base = pattern(180, 120, (x, y) =>
      (x * 200) / 179 + (28 * math.sin(y / 7.0)).toInt + 20)
    val distinct = pattern(180, 120, (x, y) =>
      220 - (x * 200) / 179 + (28 * math.sin(x / 5.0 + 2)).toInt)
    def transcode(bytes: Array[Byte], format: String): Array[Byte] = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, format, bos)
      bos.toByteArray
    }
    // PNG re-encode is deterministic (byte-identical — vacuous as a clone),
    // so the exact-collision clone is a BMP transcode: identical pixels,
    // different container bytes. The JPEG transcode adds LOSSY re-encoding.
    val reencoded = transcode(base, "bmp")
    val jpegged = transcode(base, "jpg")
    assert(!reencoded.sameElements(base),
      "transcode should produce fresh bytes (else the test is vacuous)")
    val resized = Multimodal.resizeImages(
      Seq(MediaRecord(1L, "image", base, Map.empty)).toDS(), maxEdge = 90)
      .head().content
    val media = Seq(
      MediaRecord(1L, "image", base, Map.empty),
      MediaRecord(2L, "image", reencoded, Map.empty),
      MediaRecord(3L, "image", resized, Map.empty),
      MediaRecord(4L, "image", distinct, Map.empty),
      MediaRecord(5L, "audio", "some text payload".getBytes, Map.empty),
      MediaRecord(6L, "image", Array.emptyByteArray, Map.empty), // null sig
      MediaRecord(7L, "image", null, Map.empty),
      MediaRecord(8L, "image", jpegged, Map.empty)).toDS()
    val sigs = Multimodal.perceptualHash(media).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(sigs(6L).isEmpty && sigs(7L).isEmpty, "empty/null payloads can't hash")
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(sigs(1L).get == sigs(2L).get,
      "losslessly re-encoded clone must collide exactly")
    val hJpeg = ham(sigs(1L).get, sigs(8L).get)
    assert(hJpeg <= 6, s"lossy JPEG clone drifted $hJpeg bits")
    val hResized = ham(sigs(1L).get, sigs(3L).get)
    assert(hResized <= 8, s"resized clone drifted $hResized bits (block averages should survive bilinear downscale)")
    val hDistinct = ham(sigs(1L).get, sigs(4L).get)
    assert(hDistinct >= 16, s"distinct images too close: $hDistinct bits")
    // end-to-end through the shared band machinery: clones pair, distinct doesn't
    val pairs = graft.dedup.Dedup.hammingPairs(
        Multimodal.perceptualHash(media)
          .select(col("media_id").as("id"), col("phash").as("sig")),
        maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L), s"distinct image paired: $pairs")
    // fake grid, hand-checked: 144 bytes → chunks of exactly 2 bytes/cell
    val payload = Array.tabulate(144)(i => ((i * 37 + 11) % 251).toByte)
    val grid = Multimodal.FakeCodec.chunkGrid(payload)
    assert(grid.length == 72)
    assert(grid(0) == (payload(0) & 0xff) + (payload(1) & 0xff))
    assert(grid(71) == (payload(142) & 0xff) + (payload(143) & 0xff))
    // dHash bit rule: bit k = r*8+c set iff cell(r*9+c) < cell(r*9+c+1)
    val sig = Multimodal.dHash(grid)
    for (k <- 0 until 64) {
      val (r, c) = (k / 8, k % 8)
      assert(((sig >> k) & 1L) == (if (grid(r * 9 + c) < grid(r * 9 + c + 1)) 1L else 0L))
    }
    // last-byte perturbation (the battery's clone rule) only touches the
    // final chunk → at most the one comparison feeding bit 63 flips
    val perturbed = payload.clone(); perturbed(143) = '~'
    assert(ham(sig, Multimodal.dHash(Multimodal.FakeCodec.chunkGrid(perturbed))) <= 1)
  }

  test("video frame-vote dedup: shared frames pair, one frame is not enough, unrelated stay apart") {
    import spark.implicits._
    import graft.multimodal.{MediaRecord, Multimodal}
    def frame(seed: Int): Array[Byte] = {
      val r = new scala.util.Random(seed)
      Array.fill(4096)(r.nextInt(256).toByte)
    }
    val (p1, p2, p3, q1, q2) = (frame(1), frame(2), frame(3), frame(4), frame(5))
    // one byte changed mid-frame: the frame hash drifts ≤ 2 bits (one chunk
    // sum changes → at most its two adjacent comparisons) — still a match
    val p2tweaked = p2.clone(); p2tweaked(2000) = (p2tweaked(2000) ^ 0x01).toByte
    val media = Seq(
      MediaRecord(1L, "video", p1 ++ p2 ++ p3, Map.empty),
      MediaRecord(2L, "video", p1 ++ p2tweaked ++ q1, Map.empty), // shares 2 of 3
      MediaRecord(3L, "video", p1 ++ p2 ++ p3, Map.empty),        // exact re-upload
      MediaRecord(4L, "video", q2 ++ q1.take(100), Map.empty),    // shares 1 (q1? no — partial ≠ full)
      MediaRecord(5L, "video", frame(6) ++ frame(7), Map.empty),  // unrelated
      MediaRecord(6L, "image", p1 ++ p2 ++ p3, Map.empty),        // non-video: ignored
      MediaRecord(7L, "video", Array.emptyByteArray, Map.empty))  // no frames
      .toDS()
    val pairs = Multimodal.videoPairs(media, minMatchedFrames = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(pairs.keySet == Set((1L, 2L), (1L, 3L), (2L, 3L)),
      s"frame-vote pairs wrong: ${pairs.keySet}")
    assert(pairs((1L, 3L)) == ((3L, 3L, 3L)), "exact re-upload matches all frames")
    assert(pairs((1L, 2L))._2 >= 2, "shared-scene pair must clear the 2-frame vote")
    // q1 appears whole in video 2 and only as a 100-byte partial in video 4
    // → different frame content → no (2,4) pair; the image row never joins
    assert(!pairs.keySet.exists(p => p._1 == 6L || p._2 == 6L))
    // frameHashes: frame count and determinism
    val fh = Multimodal.frameHashes(media).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    assert(fh(1L) == 3 && fh(5L) == 2 && !fh.contains(7L) && !fh.contains(6L))
    // partial trailing frame hashes too
    assert(fh(4L) == 2)
  }

  test("video fid packing: media ids at the ends of [-2^43, 2^43) round-trip through videoPairs; 2^43 fails loudly naming the media id") {
    import spark.implicits._
    import graft.multimodal.{MediaRecord, Multimodal}
    val r = new scala.util.Random(43)
    val clip = Array.fill(3 * 4096)(r.nextInt(256).toByte)
    val (lo, hi) = (-(1L << 43), (1L << 43) - 1)
    val pairs = Multimodal.videoPairs(Seq(
        MediaRecord(lo, "video", clip, Map.empty),
        MediaRecord(hi, "video", clip, Map.empty)).toDS(),
        frameBytes = 4096, minMatchedFrames = 2)
      .collect().map(p => (p.getLong(0), p.getLong(1), p.getLong(3),
        p.getLong(4))).toSeq
    assert(pairs == Seq((lo, hi, 3L, 3L)),
      s"extreme media ids must unpack to themselves, got $pairs")
    val ex = intercept[Exception] {
      Multimodal.videoPairs(Seq(
        MediaRecord(1L << 43, "video", clip, Map.empty),
        MediaRecord(1L, "video", clip, Map.empty)).toDS(),
        frameBytes = 4096).collect()
    }
    val msgs = Iterator.iterate[Throwable](ex)(_.getCause)
      .takeWhile(_ != null).take(10).map(e => String.valueOf(e.getMessage))
      .toSeq
    assert(msgs.exists(_.contains(s"media ${1L << 43}")),
      s"the overflow must name the media id: $msgs")
  }

  test("audio window-vote dedup: hop-aligned shifts survive, non-aligned and disjoint framing don't") {
    import spark.implicits._
    import graft.multimodal.{MediaRecord, Multimodal}
    def noise(seed: Int, n: Int): Array[Byte] = {
      val r = new scala.util.Random(seed)
      Array.fill(n)(r.nextInt(256).toByte)
    }
    val a = noise(1, 2048) // windows at 1024/512: [0,1024) [512,1536) [1024,2048)
    val pad = Array.fill(512)('~'.toByte)
    val shifted = pad ++ a                  // one-hop front insertion
    val off = noise(9, 256) ++ a            // NON-hop-aligned (quarter-window) shift
    val unrelated = noise(2, 2048)
    val media = Seq(
      MediaRecord(1L, "audio", a, Map.empty),
      MediaRecord(2L, "audio", shifted, Map.empty),
      MediaRecord(3L, "audio", off, Map.empty),
      MediaRecord(4L, "audio", unrelated, Map.empty),
      MediaRecord(5L, "video", a, Map.empty)) // wrong type: ignored
      .toDS()
    def pairsOf(ds: org.apache.spark.sql.Dataset[MediaRecord]) =
      Multimodal.audioPairs(ds, minMatchedWindows = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    val pairs = pairsOf(media)
    assert(pairs.keySet == Set((1L, 2L)), s"got $pairs")
    assert(pairs((1L, 2L)) == 3L,
      "every full window of the original must re-align one hop later")
    // the same shifted pair through DISJOINT framing (the video contract)
    // loses all alignment — this is exactly why audio gets sliding windows
    val asVideo = Seq(
      MediaRecord(1L, "video", a, Map.empty),
      MediaRecord(2L, "video", shifted, Map.empty)).toDS()
    assert(Multimodal.videoPairs(asVideo, frameBytes = 1024,
      minMatchedFrames = 1).isEmpty,
      "disjoint frames must NOT match a one-hop shift (contrast case)")
    // a mid-window byte tweak drifts ≤ 2 bits per touched window: still pairs
    val tweaked = a.clone(); tweaked(700) = (tweaked(700) ^ 0x10).toByte
    val p2 = pairsOf(Seq(
      MediaRecord(1L, "audio", a, Map.empty),
      MediaRecord(6L, "audio", tweaked, Map.empty)).toDS())
    assert(p2.keySet == Set((1L, 6L)) && p2((1L, 6L)) == 3L)
    // sub-window payload: one truncated window, deterministic
    val short = Multimodal.audioFingerprints(
      Seq(MediaRecord(7L, "audio", noise(3, 300), Map.empty)).toDS()).collect()
    assert(short.length == 1 && short.head.getInt(1) == 0)
  }

  test("HTML extraction: noise blocks drop whole, structure becomes lines, entity subset decodes") {
    import spark.implicits._
    def extract(html: String): String =
      Seq(html).toDF("h")
        .select(graft.text.CorpusClean.extractHtmlText(col("h")))
        .head().getString(0)
    // script/style/comment content never leaks — including a stray '<'
    // inside a script that would corrupt naive tag stripping
    assert(extract("<p>keep</p><script>if (a < b) { evil(); }</script><p>also</p>")
      == "keep\nalso")
    assert(extract("<style>p > a {x:1}</style>real<!-- no --><b>bold</b>")
      == "real bold")
    // block closers and <br> make real lines; inline tags make spaces
    assert(extract("<h1>Title</h1><p>one <em>two</em> three</p><ul><li>a</li><li>b</li></ul>")
      == "Title\none two three\na\nb")
    assert(extract("line1<br>line2<br/>line3") == "line1\nline2\nline3")
    // tag-NAME boundary: </pre> must not prefix-match /p, <bright> not br,
    // and HYPHENATED custom elements (</p-card>) are generic tags too —
    // '-' is a non-word char, so a \b guard would wrongly fire there
    assert(extract("<pre>code here</pre> tail") == "code here tail")
    assert(extract("a<bright-banner>b</bright-banner>c") == "a b c")
    assert(extract("a<p-card>b</p-card>c") == "a b c")
    assert(extract("x<br-banner>y") == "x y")
    // entity subset decodes; &amp; decodes LAST so &amp;lt; single-decodes
    assert(extract("<p>1 &lt; 2 &amp;&amp; 3 &gt; 2, &quot;q&quot;, it&#39;s</p>")
      == "1 < 2 && 3 > 2, \"q\", it's")
    assert(extract("<p>&amp;lt;</p>") == "&lt;")
    // undecoded entities pass through verbatim; nbsp is whitespace
    assert(extract("<p>a&nbsp;&nbsp;b &copy; c</p>") == "a b &copy; c")
    // whitespace collapses; null propagates
    assert(extract("<div>  spaced\t\tout  </div>\n\n<div>next</div>") == "spaced out\nnext")
    val n = Seq((1L, null: String)).toDF("id", "h")
      .select(graft.text.CorpusClean.extractHtmlText(col("h"))).head()
    assert(n.isNullAt(0))
  }

  test("sequence packing: windows tile the token stream exactly; docs flow across boundaries") {
    import spark.implicits._
    // group g: token counts 3, 5, 4, 0, 7 over T=4 windows
    //   stream offsets: d1 [0,3) d2 [3,8) d3 [8,12) d4 at 12 (empty) d5 [12,19)
    val docsDf = Seq(
      (1L, "g", "a b c"),             // [0,3)  → window 0
      (2L, "g", "d e f g h"),         // [3,8)  → windows 0-1 (crosses)
      (3L, "g", "i j k l"),           // [8,12) → windows 2
      (4L, "g", ""),                  // zero tokens at offset 12 → window 3
      (5L, "g", "m n o p q r s"),     // [12,19) → windows 3-4
      (6L, "h", "x y"),               // second group: independent stream
      (7L, "h", null: String))        // null text: null spans
      .toDF("doc_id", "source", "text")
    val out = graft.text.CorpusClean.packSequences(docsDf, tokensPerSeq = 4)
      .collect().map(r => r.getLong(1) ->
        (if (r.isNullAt(3)) null else (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))))
      .toMap
    assert(out(1L) == ((0L, 0L, 0L, 1L)))
    assert(out(2L) == ((3L, 0L, 1L, 2L)), s"doc 2 must cross the window boundary: ${out(2L)}")
    assert(out(3L) == ((8L, 2L, 2L, 1L)))
    assert(out(4L) == ((12L, 3L, 3L, 1L)), "zero-token doc lands at its position")
    assert(out(5L) == ((12L, 3L, 4L, 2L)))
    assert(out(6L) == ((0L, 0L, 0L, 1L)), "groups pack independent streams")
    assert(out(7L) == null, "null text carries null spans")
    // re-shard invariance: the map is pure id-order arithmetic
    val reshard = graft.text.CorpusClean.packSequences(
        docsDf.repartition(7), tokensPerSeq = 4)
      .collect().map(r => r.getLong(1) ->
        (if (r.isNullAt(3)) null else (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))))
      .toMap
    assert(reshard == out)
    // tiling on the real corpus: within each source every window except the
    // last holds exactly T tokens — the zero-padding property
    val corpus = spark.read.parquet(s"$sf0001/documents.parquet")
    val packed = graft.text.CorpusClean.packSequences(corpus, tokensPerSeq = 128)
      .collect().filter(!_.isNullAt(3))
    for ((src, rows) <- packed.groupBy(_.getString(0))) {
      val total = rows.map(_.getLong(2)).sum
      val lastSeq = rows.map(_.getLong(5)).max
      assert(lastSeq == (total - 1).max(0L) / 128,
        s"$src: window count must equal ceil(total/T)")
    }
  }

  test("chunking: overlapping windows cover every char; tail reaches the end; null symmetry") {
    import spark.implicits._
    // chunk=10, overlap=3 (stride 7): lengths straddle every formula branch
    val docsDf = Seq(
      (1L, "abcdefghij"),            // len 10 == chunk → 1 chunk
      (2L, "abcdefghijk"),           // len 11 → 2 chunks, second is short
      (3L, "abcdefghijklmnopq"),     // len 17 = chunk + stride → exactly 2
      (4L, "abcdefghijklmnopqr"),    // len 18 → 3 chunks
      (5L, ""),                      // empty → 1 empty chunk
      (6L, null: String))            // null → one null-span row
      .toDF("doc_id", "text")
    val out = graft.text.CorpusClean.chunkDocuments(docsDf, 10, 3)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(2)) null else (r.getLong(2), r.getLong(3), r.getString(4))))
    val byDoc = out.groupBy(_._1).map { case (k, v) =>
      k -> v.map(_._2).sortBy(t => if (t == null) -1L else t._1) }
    assert(byDoc(1L).toSeq == Seq((0L, 0L, "abcdefghij")))
    assert(byDoc(2L).toSeq == Seq((0L, 0L, "abcdefghij"), (1L, 7L, "hijk")))
    assert(byDoc(3L).toSeq ==
      Seq((0L, 0L, "abcdefghij"), (1L, 7L, "hijklmnopq")))
    assert(byDoc(4L).toSeq == Seq((0L, 0L, "abcdefghij"),
      (1L, 7L, "hijklmnopq"), (2L, 14L, "opqr")))
    assert(byDoc(5L).toSeq == Seq((0L, 0L, "")))
    assert(byDoc(6L).toSeq == Seq(null))
    // coverage property on the real corpus: consecutive chunks overlap by
    // exactly `overlap` chars (same text both sides), the first starts at 0,
    // and the last chunk's end is the document's end — no char unreachable
    val corpus = spark.read.parquet(s"$sf0001/documents.parquet")
      .where(col("text").isNotNull)
    val chunks = graft.text.CorpusClean.chunkDocuments(corpus, 64, 16)
      .collect().filter(!_.isNullAt(2))
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getString(4)))
    val lens = corpus.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    for ((doc, rows0) <- chunks.groupBy(_._1)) {
      val rows = rows0.sortBy(_._2)
      assert(rows.head._3 == 0L)
      for (Array(a, b) <- rows.sliding(2) if rows.length > 1) {
        assert(b._3 == a._3 + 48, "starts advance by stride")
        assert(a._4.takeRight(16) == b._4.take(16),
          s"doc $doc: overlap text must match across the boundary")
      }
      val last = rows.last
      assert(last._3 + last._4.length == lens(doc).length.toLong,
        s"doc $doc: final chunk must reach the document end")
      assert(rows.init.forall(_._4.length == 64), "only the tail may be short")
    }
  }

  test("chunk arithmetic: coverage invariants hold across random (chunk, overlap) params") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val docsDf = (1L to 50L).map(i => (i, "x" * rnd.nextInt(300)))
      .toDF("doc_id", "text")
    val lens = docsDf.collect().map(r => r.getLong(0) -> r.getString(1).length).toMap
    for (_ <- 1 to 6) {
      val chunk = 1 + rnd.nextInt(48)
      val overlap = rnd.nextInt(chunk)
      val stride = chunk - overlap
      val byDoc = graft.text.CorpusClean.chunkDocuments(docsDf, chunk, overlap)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getString(4)))
        .groupBy(_._1)
      for ((doc, rows0) <- byDoc) {
        val rows = rows0.sortBy(_._3)
        val n = rows.head._2
        assert(rows.length == n &&
          rows.map(_._3).sameElements(0L until n),
          s"chunk=$chunk ov=$overlap doc $doc: n_chunks rows, consecutive idx")
        assert(rows.map(_._4).sameElements(
          (0L until n).map(_ * stride)),
          "starts advance by stride from 0")
        val last = rows.last
        assert(last._4 + last._5.length == lens(doc).toLong,
          s"chunk=$chunk ov=$overlap doc $doc: tail must reach the end")
        assert(rows.init.forall(_._5.length == chunk), "only the tail short")
        if (n > 1) assert(rows(n.toInt - 1)._4 < lens(doc),
          "no chunk may start at or past the end")
      }
    }
  }

  test("token chunking: windows slice the token stream; whitespace normalizes; null symmetry") {
    import spark.implicits._
    // chunk=4 tokens, overlap=1 (stride 3)
    val docsDf = Seq(
      (1L, "a b c d"),               // 4 tokens == chunk → 1 chunk
      (2L, "a  b\tc\nd e"),          // 5 tokens → 2 chunks; runs normalize
      (3L, "a b c d e f g"),         // 7 = chunk + stride → exactly 2
      (4L, "   "),                   // whitespace-only → 1 empty chunk
      (5L, null: String))            // null → one null-span row
      .toDF("doc_id", "text")
    val out = graft.text.CorpusClean.chunkByTokens(docsDf, 4, 1)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(3)) null else (r.getLong(3), r.getLong(4), r.getString(5))))
    val byDoc = out.groupBy(_._1).map { case (k, v) =>
      k -> v.map(_._2).sortBy(t => if (t == null) -1L else t._1).toSeq }
    assert(byDoc(1L) == Seq((0L, 0L, "a b c d")))
    assert(byDoc(2L) == Seq((0L, 0L, "a b c d"), (1L, 3L, "d e")))
    assert(byDoc(3L) == Seq((0L, 0L, "a b c d"), (1L, 3L, "d e f g")))
    assert(byDoc(4L) == Seq((0L, 0L, "")))
    assert(byDoc(5L) == Seq(null))
    // corpus property: token coverage — per doc, the union of chunk token
    // counts minus the overlaps equals the doc's token count
    val corpus = spark.read.parquet(s"$sf0001/documents.parquet")
      .where(col("text").isNotNull)
    val rows = graft.text.CorpusClean.chunkByTokens(corpus, 16, 4)
      .select("doc_id", "n_tokens", "chunk_idx", "chunk")
      .collect().filter(!_.isNullAt(2))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.getString(3).isEmpty) 0
        else r.getString(3).split(" ").length))
    for ((doc, rs0) <- rows.groupBy(_._1)) {
      val rs = rs0.sortBy(_._3)
      val covered = rs.map(_._4).sum - 4 * (rs.length - 1)
      assert(covered == rs.head._2,
        s"doc $doc: chunks minus overlaps must cover every token exactly")
      assert(rs.init.forall(_._4 == 16), "only the tail chunk may be short")
    }
  }

  test("media filter: real-image gates — size, aspect, solid-color flatness; first-reason wins") {
    import spark.implicits._
    import graft.multimodal.{MediaRecord, Multimodal}
    def png(w: Int, h: Int, f: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val v = f(x, y) & 0xff; img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val media = Seq(
      MediaRecord(1L, "image", png(200, 150, (x, y) => x + y), Map.empty),      // keeps
      MediaRecord(2L, "image", png(40, 150, (x, y) => x + y), Map.empty),       // too_small
      MediaRecord(3L, "image", png(800, 100, (x, y) => x + y), Map.empty),      // 8:1 aspect
      MediaRecord(4L, "image", png(200, 150, (_, _) => 140), Map.empty),        // solid → flat
      MediaRecord(5L, "image", png(40, 400, (_, _) => 0), Map.empty))           // small AND flat → first reason
      .toDS()
    val out = Multimodal.filterMedia(media, minEdge = 64,
        maxAspectPermille = 3000, maxBinPermille = 900)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(2), r.getInt(3), r.getBoolean(5), r.getString(6))).toMap
    assert(out(1L) == ((200, 150, true, null)))
    assert(out(2L)._4 == "too_small")
    assert(out(3L)._4 == "bad_aspect")
    assert(out(4L)._4 == "flat", s"solid image must concentrate one bin: ${out(4L)}")
    assert(out(5L)._4 == "too_small", "rule order: size fires before flatness")
    // real dims came from the decode, not the fake fold
    assert(out(3L)._1 == 800 && out(3L)._2 == 100)
  }

  test("hammingClusters equals clique-expanded components; big duplicate groups stay cheap") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    // random sigs + planted near-sig chains + a LARGE duplicate group (the
    // clique-expansion killer: 300 members = 45k edges the collapsed plan
    // never materializes)
    val base = (1L to 120L).map(i => i -> rnd.nextLong())
    val chain = (0 until 6).scanLeft(500L -> rnd.nextLong()) { case ((id, s), j) =>
      (id + 1) -> (s ^ (1L << (j * 7)))
    }
    val bigGroup = (1000L to 1299L).map(i => i -> base.head._2)
    val all = base ++ chain ++ bigGroup
    val df = all.toDF("id", "sig")
    val collapsed = Dedup.hammingClusters(df, maxHamming = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference: components over the full clique-expanded pair set, with
    // singletons labeled as themselves
    val pairs = Dedup.hammingPairs(df, maxHamming = 3).select("id_a", "id_b")
    val viaCliques = graft.dedup.Clusters.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = all.map { case (id, _) =>
      id -> viaCliques.getOrElse(id, id)
    }.toMap
    assert(collapsed == expected,
      s"label drift: ${(collapsed.toSet diff expected.toSet).take(5)}")
    // the big duplicate group collapsed onto id 1 (shares base.head's sig)
    assert(collapsed(1299L) == collapsed(1L))
    // null sigs are excluded entirely
    val withNull = df.unionByName(
      Seq((9999L, null.asInstanceOf[java.lang.Long])).toDF("id", "sig"))
    assert(!Dedup.hammingClusters(withNull, maxHamming = 3)
      .collect().exists(_.getLong(0) == 9999L))
  }

  test("videoClusters equals pair-closure components; sub-threshold duplicates never merge") {
    import spark.implicits._
    import graft.multimodal.{MediaRecord, Multimodal}
    def frame(seed: Int): Array[Byte] = {
      val r = new scala.util.Random(seed)
      Array.fill(4096)(r.nextInt(256).toByte)
    }
    val (p1, p2, p3, q1) = (frame(1), frame(2), frame(3), frame(4))
    val media = Seq(
      MediaRecord(1L, "video", p1 ++ p2 ++ p3, Map.empty),
      MediaRecord(2L, "video", p1 ++ p2 ++ q1, Map.empty), // votes with 1
      MediaRecord(3L, "video", p1 ++ p2 ++ p3, Map.empty), // exact re-upload
      MediaRecord(4L, "video", p1 ++ p2 ++ p3, Map.empty), // 3-member group
      MediaRecord(5L, "video", frame(9) ++ frame(10), Map.empty), // unrelated
      MediaRecord(6L, "video", q1, Map.empty),  // 1 frame — below the vote
      MediaRecord(7L, "video", q1, Map.empty),  // identical, but can't vote
      MediaRecord(8L, "video", Array.emptyByteArray, Map.empty)) // no frames
      .toDS()
    val collapsed = Multimodal.videoClusters(media, minMatchedFrames = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference: components over the clique-expanded pair output, with
    // unpaired videos labeled as themselves
    val pairs = Multimodal.videoPairs(media, minMatchedFrames = 2)
      .select("id_a", "id_b")
    val viaPairs = graft.dedup.Clusters.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = (1L to 7L).map(id => id -> viaPairs.getOrElse(id, id)).toMap
    assert(collapsed == expected, s"label drift: $collapsed vs $expected")
    assert(Set(1L, 2L, 3L, 4L).map(collapsed) == Set(1L),
      "the voted group and its exact re-uploads share one component")
    // identical 1-frame videos can never clear the 2-frame vote — the
    // collapse must NOT merge what the vote would not
    assert(collapsed(6L) == 6L && collapsed(7L) == 7L)
    assert(!collapsed.contains(8L), "no frames → absent, like videoPairs")
  }

  test("audioClusters equals pair-closure components; shifted clones join without collapsing") {
    import spark.implicits._
    import graft.multimodal.{MediaRecord, Multimodal}
    def bytes(seed: Int, n: Int): Array[Byte] = {
      val r = new scala.util.Random(seed)
      Array.fill(n)(r.nextInt(256).toByte)
    }
    val clip = bytes(1, 2048)                       // 3 windows at 1024/512
    val media = Seq(
      MediaRecord(1L, "audio", clip, Map.empty),
      MediaRecord(2L, "audio", clip, Map.empty),    // exact re-upload: collapses
      // one-hop front pad: DIFFERENT window sequence (no collapse), but the
      // shared full windows re-align one hop later and the vote fires
      MediaRecord(3L, "audio", bytes(7, 512) ++ clip, Map.empty),
      MediaRecord(4L, "audio", bytes(2, 2048), Map.empty), // unrelated
      MediaRecord(5L, "audio", bytes(3, 600), Map.empty),  // 1 window — below vote
      MediaRecord(6L, "audio", bytes(3, 600), Map.empty),  // identical, can't vote
      MediaRecord(7L, "audio", Array.emptyByteArray, Map.empty)) // no windows
      .toDS()
    val collapsed = Multimodal.audioClusters(media, minMatchedWindows = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = Multimodal.audioPairs(media, minMatchedWindows = 2)
      .select("id_a", "id_b")
    val viaPairs = graft.dedup.Clusters.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = (1L to 6L).map(id => id -> viaPairs.getOrElse(id, id)).toMap
    assert(collapsed == expected, s"label drift: $collapsed vs $expected")
    assert(Set(1L, 2L, 3L).map(collapsed) == Set(1L),
      "re-uploads AND the offset-shifted clone share the original's component")
    assert(collapsed(5L) == 5L && collapsed(6L) == 6L,
      "identical sub-threshold clips stay singletons — never merged by collapse")
    assert(!collapsed.contains(7L), "no windows → absent, like audioPairs")
  }

  test("hammingPairs equals brute force over random signature sets (pigeonhole exactness fuzz)") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    for ((maxHam, round) <- Seq(1, 3, 5).zipWithIndex) {
      // random base sigs + planted neighbors at 0..maxHam+1 bit flips
      // (some inside the radius, some just past it) + exact clones
      val base = (1L to 150L).map(i => i -> rnd.nextLong())
      val planted = (1 to 40).map { j =>
        val (_, sig) = base(rnd.nextInt(base.size))
        var s = sig
        (1 to rnd.nextInt(maxHam + 2)).foreach(_ => s ^= (1L << rnd.nextInt(64)))
        (1000L * (round + 1) + j) -> s
      }
      val all = base ++ planted
      val got = Dedup.hammingPairs(all.toDF("id", "sig"), maxHamming = maxHam)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val want = (for {
        (a, sa) <- all; (b, sb) <- all if a < b
        h = java.lang.Long.bitCount(sa ^ sb) if h <= maxHam
      } yield (a, b, h)).toSet
      assert(got == want,
        s"maxHam=$maxHam: extra=${(got diff want).take(3)} missing=${(want diff got).take(3)}")
      assert(want.nonEmpty, s"maxHam=$maxHam fixture must plant pairs")
    }
  }

  test("edit-distance confirm: distances exact within prefix, threshold kills far pairs") {
    import spark.implicits._
    val docsDf = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "the quick brown cat jumps"),  // 3 edits from doc 1
      (3L, "completely different text!!"),
      (4L, "short" + "x" * 300)           // prefix-bounded: long tail ignored
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L, 0.5), (1L, 3L, 0.5), (4L, 4L, 1.0))
      .toDF("id_a", "id_b", "jaccard")
    val out = graft.dedup.Dedup.confirmPairsEditDistance(
        pairs, docsDf, maxDist = 5, prefixLen = 10)
      .select("id_a", "id_b", "edit_dist")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted
    // within the 10-char prefix: docs 1,2 are IDENTICAL ("the quick "),
    // doc 3 differs by >5; the self-pair is distance 0 regardless of length
    assert(out.toSeq == Seq((1L, 2L, 0), (4L, 4L, 0)), out.mkString(", "))
    // a wider prefix exposes the real distance
    val wide = graft.dedup.Dedup.confirmPairsEditDistance(
        pairs.where(col("id_a") === 1L && col("id_b") === 2L), docsDf,
        maxDist = 5, prefixLen = 100)
      .select("edit_dist").as[Int].collect()
    assert(wide.toSeq == Seq(3))
  }
}
