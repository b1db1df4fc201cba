package kbench

import graft.model.{KHeader, KRecord}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

/** Shape of a generated Kafka-record source. Every field is explicit so a
  * report can say exactly what the program was fed.
  *
  * `randomFrac` is the share of each value drawn as random base64 (about
  * 6 bits of entropy per byte); the rest is JSON-ish text over a small
  * vocabulary. It sets the zstd ratio: 0.12 lands near 4x at level 3.
  */
case class SourceShape(
    topics: Seq[String] = Seq("orders", "clicks"),
    partitionsPerTopic: Int = 5,
    recordsPerPartition: Int = 10000,
    valueBytesMin: Int = 600,
    valueBytesMax: Int = 1400,
    randomFrac: Double = 0.12,
    startMs: Long = 1704067200000L, // 2024-01-01T00:00:00Z
    spanMs: Long = 24L * 3600 * 1000,
    jitterMs: Long = 2000,
    headers: Int = 2,
    nullKeyFrac: Double = 0.05,
    offsetGapFrac: Double = 0.01) {
  def partitions: Int = topics.size * partitionsPerTopic
  def records: Long = partitions.toLong * recordsPerPartition
}

/** Seeded generators. Every value is a pure function of (seed, position),
  * so a seed reproduces the same inputs whatever the Spark partitioning.
  */
object Gen {

  private val Vocab = Array("spark", "kafka", "topic", "offset", "commit", "order", "click",
    "view", "cart", "user", "session", "price", "amount", "status", "shipped", "pending",
    "region", "store", "item", "sku", "quantity", "payment", "card", "refund", "retry")
  private val B64 = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789+/"
    .getBytes(UTF_8)

  private def mix(seed: Long, a: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + a * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** One (topic, partition) run of records, in offset order. Timestamps
    * advance evenly over the span with bounded jitter, so a few records
    * arrive slightly out of order, as CreateTime records do.
    */
  def partitionRecords(seed: Long, s: SourceShape, tp: Int): Iterator[KRecord] = {
    val topic = s.topics(tp / s.partitionsPerTopic)
    val partition = tp % s.partitionsPerTopic
    val rnd = new SplittableRandom(mix(seed, tp))
    var offset = rnd.nextLong(1000000L)
    val n = s.recordsPerPartition
    Iterator.tabulate(n) { i =>
      if (i > 0) offset += (if (rnd.nextDouble() < s.offsetGapFrac) 2 else 1)
      val ts = s.startMs + (i.toDouble * s.spanMs / n).toLong +
        rnd.nextLong(2 * s.jitterMs + 1) - s.jitterMs
      val key =
        if (rnd.nextDouble() < s.nullKeyFrac) null
        else s"user-${rnd.nextInt(5000)}".getBytes(UTF_8)
      val headers = (0 until s.headers).map { h =>
        KHeader(if (h == 0) "trace-id" else s"h$h",
          f"${rnd.nextLong()}%016x".getBytes(UTF_8))
      }
      KRecord(topic, partition, offset, ts, key, value(rnd, s, offset), headers)
    }
  }

  private def value(rnd: SplittableRandom, s: SourceShape, offset: Long): Array[Byte] = {
    val size = s.valueBytesMin + rnd.nextInt(s.valueBytesMax - s.valueBytesMin + 1)
    val blob = (size * s.randomFrac).toInt
    val sb = new java.lang.StringBuilder(size + 64)
    sb.append("{\"offset\":").append(offset)
      .append(",\"user\":\"user-").append(rnd.nextInt(5000))
      .append("\",\"amount\":").append(rnd.nextInt(100000) / 100.0)
      .append(",\"words\":[")
    while (sb.length < size - blob - 24) {
      sb.append('"').append(Vocab(rnd.nextInt(Vocab.length))).append("\",")
    }
    sb.append("\"end\"],\"blob\":\"")
    var i = 0
    while (i < blob) { sb.append(B64(rnd.nextInt(64)).toChar); i += 1 }
    sb.append("\"}")
    sb.toString.getBytes(UTF_8)
  }

  /** The source as a Spark Dataset: one task per (topic, partition). */
  def source(spark: SparkSession, seed: Long, s: SourceShape): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(0 until s.partitions, s.partitions)
      .flatMap(tp => partitionRecords(seed, s, tp))
      .toDS().toDF()
  }

  /** zstd ratio (raw / compressed) the generator achieves on framed records:
    * a drift toward repetitive padding shows up here before it skews
    * `backup.stored_ratio`.
    */
  def zstdRatio(seed: Long, s: SourceShape, level: Int): Double = {
    val body = new graft.codec.SegmentCodec.ByteSink(1 << 20)
    partitionRecords(seed, s, 0).take(2000).foreach(graft.codec.SegmentCodec.writeRecord(body, _))
    val raw = body.toArray
    raw.length.toDouble /
      graft.codec.Compression.compress(raw, graft.codec.CompressionCodec.Zstd, level).length
  }

  // ───────────── battery tables (the shapes the battery entries read) ─────────────

  private val Words = Array("spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
    "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query", "a", "scan",
    "batch")
  private val EventTypes = Array("click", "error", "purchase", "signup", "view")
  private val Langs = Array("en", "en", "en", "de", "es", "fr", "zh", "en")

  /** Write `events`, `documents` and `embeddings` as single parquet files
    * named like the synthetic testdata tables, into `dir`.
    */
  def batteryTables(spark: SparkSession, seed: Long, dir: String,
                    events: Int = 100000, documents: Int = 5000,
                    embeddings: Int = 2000): Unit = {
    writeSingle(spark, dir, "events", () => eventRows(seed, events), StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampNTZType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType))))
    writeSingle(spark, dir, "documents", () => documentRows(seed, documents), StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))))
    writeSingle(spark, dir, "embeddings", () => embeddingRows(seed, embeddings), StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType))))
  }

  /** Events spread evenly over January 2024 in event-id order. */
  private def eventRows(seed: Long, n: Int): Iterator[Row] = {
    val start = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
    val spanMicros = 30L * 24 * 3600 * 1000000
    (0 until n).iterator.map { i =>
      val r = new SplittableRandom(mix(seed, i))
      val ts = start.plusNanos(((i + r.nextDouble()) * spanMicros / n).toLong * 1000)
      Row(i.toLong, ts, r.nextLong(1500), EventTypes(r.nextInt(EventTypes.length)),
        math.round(-math.log(1 - r.nextDouble()) * 5000) / 100.0, s"""{"k": ${r.nextInt(100)}}""")
    }
  }

  /** Word-salad documents; every 20th is tagged "dup", and ten of those are
    * copied verbatim to a later doc id so exact and near-dup operators find
    * work.
    */
  private def documentRows(seed: Long, n: Int): Iterator[Row] = {
    val texts = Array.tabulate(n) { i =>
      val r = new SplittableRandom(mix(seed ^ 0x5eedL, i))
      val t = Iterator.fill(8 + r.nextInt(90))(Words(r.nextInt(Words.length))).mkString(" ")
      if (i % 20 == 11) t + " dup" else t
    }
    val rc = new SplittableRandom(mix(seed, -1))
    (0 until 10).foreach { _ =>
      val src = 11 + 20 * rc.nextInt(n / 40)
      texts(src + n / 2) = texts(src)
    }
    texts.indices.iterator.map { i =>
      val r = new SplittableRandom(mix(seed ^ 0xd0c5L, i))
      Row(i.toLong, texts(i), Langs(r.nextInt(Langs.length)), s"src${i % 20}",
        texts(i).length.toLong)
    }
  }

  /** Unit-norm 64-d vectors around ten labelled centroids. */
  private def embeddingRows(seed: Long, n: Int): Iterator[Row] = {
    val dim = 64
    val cr = new SplittableRandom(mix(seed, -2))
    val centroids = Array.fill(10, dim)(cr.nextDouble() * 2 - 1)
    (0 until n).iterator.map { i =>
      val r = new SplittableRandom(mix(seed ^ 0xe3bL, i))
      val label = r.nextInt(10)
      val v = Array.tabulate(dim)(d => centroids(label)(d) + (r.nextDouble() * 2 - 1) * 0.8)
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
    }
  }

  /** One table = one parquet file at `<dir>/<name>.parquet`, the layout the
    * DuckDB oracle reads.
    */
  private def writeSingle(spark: SparkSession, dir: String, name: String,
                          rows: () => Iterator[Row], schema: StructType): Unit = {
    val tmp = s"$dir/.$name.tmp"
    // generated inside the one write task: nothing is shipped from the driver
    spark.createDataFrame(spark.sparkContext.parallelize(Seq(0), 1).flatMap(_ => rows()), schema)
      .write.mode("overwrite").option("compression", "snappy").parquet(tmp)
    val part = new java.io.File(tmp).listFiles().find(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    val dst = new java.io.File(s"$dir/$name.parquet")
    dst.delete()
    require(part.renameTo(dst), s"cannot place $dst")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }
}
