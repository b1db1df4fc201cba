package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.{ByteBuffer, ByteOrder}

/** Pure hash/byte helpers, callable from executors. */
object KHash {

  /** Murmur2, as used by Kafka's default partitioner (seed 0x9747b28c).
    * This is the well-known public MurmurHash2 algorithm; Spark's built-in
    * `hash()` is murmur3 and is NOT compatible
    * (reference: crates/kafka-backup-core/src/restore/repartition.rs:31,57-68).
    */
  def murmur2(data: Array[Byte]): Int = {
    val seed = 0x9747b28c
    val m = 0x5bd1e995
    val r = 24
    val length = data.length
    var h = seed ^ length
    val length4 = length / 4
    var i = 0
    while (i < length4) {
      val i4 = i * 4
      var k = (data(i4) & 0xff) + ((data(i4 + 1) & 0xff) << 8) +
        ((data(i4 + 2) & 0xff) << 16) + ((data(i4 + 3) & 0xff) << 24)
      k *= m
      k ^= k >>> r
      k *= m
      h *= m
      h ^= k
      i += 1
    }
    // handle the last few bytes of the input
    val tail = length & ~3
    (length % 4) match {
      case 3 =>
        h ^= (data(tail + 2) & 0xff) << 16
        h ^= (data(tail + 1) & 0xff) << 8
        h ^= data(tail) & 0xff
        h *= m
      case 2 =>
        h ^= (data(tail + 1) & 0xff) << 8
        h ^= data(tail) & 0xff
        h *= m
      case 1 =>
        h ^= data(tail) & 0xff
        h *= m
      case _ =>
    }
    h ^= h >>> 13
    h *= m
    h ^= h >>> 15
    h
  }

  /** Kafka's toPositive: mask the sign bit (NOT abs). */
  def toPositive(x: Int): Int = x & 0x7fffffff

  /** Kafka default-partitioner placement: murmur2(key) masked positive, mod N
    * (repartition.rs:57-68; byte-compatible per test repartition.rs:461-494).
    */
  def kafkaPartition(key: Array[Byte], numPartitions: Int): Int =
    toPositive(murmur2(key)) % numPartitions

  def longToBytesLE(v: Long): Array[Byte] =
    ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN).putLong(v).array()

  /** Read an LE i64; falls back to parsing a UTF-8 decimal string (the
    * reference accepts both encodings, restore/engine.rs:1521-1566).
    */
  def bytesToLongLE(b: Array[Byte]): java.lang.Long =
    if (b == null) null
    else if (b.length == 8) ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN).getLong
    else try java.lang.Long.parseLong(new String(b, java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: NumberFormatException => null }

  /** Glob (`*`, `?`) → anchored Java regex (backup/engine.rs:1352-1385). */
  def globToRegex(glob: String): String = {
    val sb = new StringBuilder("^")
    glob.foreach {
      case '*' => sb.append(".*")
      case '?' => sb.append('.')
      case c if "\\.[]{}()+-^$|".indexOf(c) >= 0 => sb.append('\\').append(c)
      case c => sb.append(c)
    }
    sb.append('$').toString
  }

  /** Topic selection semantics (backup/engine.rs:626-668): empty include = all;
    * exclude wins; `~`-prefixed patterns are regexes (restore/engine.rs:1569-1626).
    * Regex patterns match as SUBSTRING search (the reference's
    * `Regex::is_match` is unanchored — `~internal` matches
    * `orders-internal-v2`); invalid regexes match nothing, as there.
    */
  def topicMatches(topic: String, includes: Seq[String], excludes: Seq[String]): Boolean = {
    def m(p: String): Boolean =
      if (p.startsWith("~"))
        try java.util.regex.Pattern.compile(p.substring(1)).matcher(topic).find()
        catch { case _: java.util.regex.PatternSyntaxException => false }
      else topic.matches(globToRegex(p))
    val included = includes.isEmpty || includes.exists(m)
    included && !excludes.exists(m)
  }
}

/** Column-level wrappers. UDF-based for now (the payloads are tiny byte
  * arrays; the hot path — SegmentCodec — runs in mapPartitions, not here).
  */
object KFunctions {
  private val l2bUdf = udf((v: java.lang.Long) => if (v == null) null else KHash.longToBytesLE(v))
  private val b2lUdf = udf((b: Array[Byte]) => KHash.bytesToLongLE(b))

  private def exprCol(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(e)
  private def exprOf(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.graftbridge.ColumnBridge.expression(c)

  /** murmur2 with Kafka's seed over a binary column — native codegen
    * expression, not a UDF.
    */
  def kafka_murmur2(c: Column): Column = exprCol(KafkaMurmur2(exprOf(c)))

  /** Bloom membership probe over a BIGINT column against a broadcast
    * filter — native codegen expression (see [[BloomMightContainLong]]).
    */
  def bloom_might_contain(c: Column,
      bloom: org.apache.spark.broadcast.Broadcast[
        org.apache.spark.util.sketch.BloomFilter]): Column =
    exprCol(BloomMightContainLong(exprOf(c), bloom))

  /** Dot product of two array<double> columns — native codegen expression
    * (see [[DoubleArrayDot]]); bit-identical to the interpreted
    * aggregate(zip_with(...)) form it replaces on the ANN/dedup hot paths.
    */
  def array_dot(a: Column, b: Column): Column =
    exprCol(DoubleArrayDot(exprOf(a), exprOf(b)))

  /** Exact integer dot of two array<bigint> columns — native codegen
    * expression (see [[LongArrayDot]]); bit-identical to the interpreted
    * aggregate(zip_with(...)) form it replaces on the retrieval scorer.
    */
  def array_dot_long(a: Column, b: Column): Column =
    exprCol(LongArrayDot(exprOf(a), exprOf(b)))

  /** Deterministic integer hash embedding of a string column — native
    * codegen kernel (see [[HashEmbed]]); per dimension bit-identical to
    * `conv(substring(md5(concat(text, ':salt:i')), 1, 4), 16, 10) % 1000`.
    * NULL text embeds to a NULL array (the composed form produced an
    * array of NULL elements; every consumer filters null text upstream).
    */
  def hash_embed(text: Column, dim: Int, salt: String): Column =
    exprCol(HashEmbed(exprOf(text), dim, salt))

  /** IVF list assignment: argmin squared-euclidean over a driver-resident
    * centroid matrix — native codegen kernel (see [[NearestCentroid]]);
    * ties to the lower list index, NULL on null vector / dim mismatch.
    */
  def nearest_centroid(v: Column, centroids: Array[Array[Double]]): Column =
    exprCol(NearestCentroid(exprOf(v), centroids))

  /** Per-vector int16 quantization to a little-endian binary payload (see
    * [[PackUnitInt16]]) — the shuffle-compressed, tight-margin prefilter
    * form of a vector for pairwise candidate joins.
    */
  def pack_unit_int16(v: Column): Column = exprCol(PackUnitInt16(exprOf(v)))

  /** Long dot of two int16 binary payloads (see [[BinaryDot16]]). */
  def binary_dot16(a: Column, b: Column): Column =
    exprCol(BinaryDot16(exprOf(a), exprOf(b)))

  /** k-slot MinHash signature of an array<string> column in one map pass —
    * native codegen expression, hash-compatible with
    * min(xxhash64(shingle, lit(seed))) per slot (see [[MinHashSig]]).
    */
  def minhash_sig(shingles: Column, k: Int): Column =
    exprCol(MinHashSig(exprOf(shingles), k))

  /** Count of equal positions in two array<long> columns — the MinHash
    * agreement estimator as a native codegen loop (see [[LongArrayEqCount]]).
    */
  def array_eq_count(a: Column, b: Column): Column =
    exprCol(LongArrayEqCount(exprOf(a), exprOf(b)))

  /** 64-bit SimHash of an array<string> token column in one map pass —
    * native codegen expression (see [[SimHashSig]]); NULL for empty docs.
    */
  def simhash_sig(tokens: Column): Column = exprCol(SimHashSig(exprOf(tokens)))

  /** Word n-gram shingles of an array<string> token column — native codegen
    * expression (see [[WordShingles]]).
    */
  def word_shingles(tokens: Column, n: Int): Column =
    exprCol(WordShingles(exprOf(tokens), n))

  /** Character n-grams: the same windowing kernel with an empty separator. */
  def char_ngrams(chars: Column, n: Int): Column =
    exprCol(WordShingles(exprOf(chars), n, sep = ""))

  /** Count of array<string> elements in a fixed word set — native (see
    * [[StringInSetCount]]).
    */
  def string_in_set_count(arr: Column, words: Seq[String]): Column =
    exprCol(StringInSetCount(exprOf(arr), words))

  /** Count of CJK (U+4E00..U+9FFF) characters — native (see [[CjkCount]]). */
  def cjk_count(text: Column): Column = exprCol(CjkCount(exprOf(text)))

  /** `[sum(length(w)), sum(ceil(length(w)/4))]` over an array<string> in one
    * pass — native (see [[TokenLenStats]]).
    */
  def token_len_stats(tokens: Column): Column =
    exprCol(TokenLenStats(exprOf(tokens)))

  /** `[total, dup_total, total_chars, dup_chars]` over the trimmed non-empty
    * elements of an array<string> — native (see [[DupArrayStats]]).
    */
  def dup_array_stats(arr: Column): Column = exprCol(DupArrayStats(exprOf(arr)))

  /** `[top_chars, dup_chars]` of repeated word n-grams over an array<string>
    * token column — native (see [[NgramRepeatStats]]).
    */
  def ngram_repeat_stats(tokens: Column, n: Int): Column =
    exprCol(NgramRepeatStats(exprOf(tokens), n))

  /** Unicode NFC normalization — native (see [[NfcNormalize]]). */
  def nfc_normalize(text: Column): Column = exprCol(NfcNormalize(exprOf(text)))

  /** All (i < j) pairs of an array<long> column as array<struct<id_a,id_b>>
    * — native codegen expression (see [[SortedIdPairs]]).
    */
  def sorted_id_pairs(ids: Column): Column = exprCol(SortedIdPairs(exprOf(ids)))

  /** Kafka default-partitioner target partition for a key column:
    * toPositive(murmur2(key)) % n, composed from the native expression so the
    * whole placement stays in codegen.
    */
  def kafka_partition(key: Column, numPartitions: Int): Column =
    pmod(kafka_murmur2(key).bitwiseAND(lit(0x7fffffff)), lit(numPartitions))

  /** `Automatic` strategy / null-key placement (repartition.rs:57-74): the
    * reference's single-writer round-robin cycle cannot exist across
    * distributed tasks, so nulls spread ≈ uniformly via a per-row monotonic
    * id — only the murmur2 path is a placement contract (documented
    * relaxation, SURVEY §2.10).
    */
  def auto_partition(numPartitions: Int): Column =
    pmod(monotonically_increasing_id(), lit(numPartitions.toLong)).cast("int")

  /** Keyed placement with null-key fallback — the full default-partitioner
    * behavior. */
  def kafka_partition_or_auto(key: Column, numPartitions: Int): Column =
    when(key.isNotNull, kafka_partition(key, numPartitions))
      .otherwise(auto_partition(numPartitions))

  def long_to_bytes_le(c: Column): Column = l2bUdf(c)
  def bytes_to_long_le(c: Column): Column = b2lUdf(c)

  /** First header value for `key` in a headers array column (first-match
    * lookup; duplicates allowed). NULL when absent — `try_element_at`, not
    * `[0]`, because ANSI mode turns an out-of-bounds index into a crash.
    */
  def header_value(headers: Column, key: String): Column =
    try_element_at(filter(headers, h => h.getField("key") === lit(key)), lit(1))
      .getField("value")

  /** Append the enrichment headers (F11, see [[Enrichment]]) to a headers
    * array column; NULL headers count as none.
    */
  def enriched_headers(headers: Column, offset: Column, tsMillis: Column,
                       cluster: String, partition: Column): Column =
    concat(
      coalesce(headers, array().cast(ArrayType(StructType(Seq(
        StructField("key", StringType), StructField("value", BinaryType)))))),
      Enrichment.column(offset, tsMillis, cluster, partition))
}

/** Header enrichment (F11): the four headers a backup appends to every
  * record, in this order (backup/engine.rs:1009-1028, restore/helpers.rs:79-108):
  *   - `x-original-offset`: the offset, 8-byte little-endian i64;
  *   - `x-original-timestamp`: the timestamp in epoch millis, 8-byte LE i64;
  *   - `x-source-cluster`: the source cluster name, UTF-8;
  *   - `x-source-partition`: the partition id in decimal, UTF-8.
  * Its two forms sit side by side here: [[column]], the Catalyst array that
  * [[KFunctions.enriched_headers]] appends, and [[writeWire]], which the
  * backup writer calls to append the headers straight to a KBAK record
  * (`PropertySpec` pins the two to the same segment bytes).
  */
object Enrichment {
  val OffsetKey = "x-original-offset"
  val TimestampKey = "x-original-timestamp"
  val ClusterKey = "x-source-cluster"
  val PartitionKey = "x-source-partition"
  val Count = 4

  private def utf8(s: String): Array[Byte] = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  private val offsetKey = utf8(OffsetKey)
  private val timestampKey = utf8(TimestampKey)
  private val clusterKey = utf8(ClusterKey)
  private val partitionKey = utf8(PartitionKey)

  def clusterValue(cluster: String): Array[Byte] = utf8(cluster)
  def partitionValue(partition: Int): Array[Byte] = utf8(Integer.toString(partition))

  /** The four headers as an `array<struct<key,value>>` column. */
  def column(offset: Column, timestampMs: Column, cluster: String, partition: Column): Column =
    array(
      struct(lit(OffsetKey).as("key"), KFunctions.long_to_bytes_le(offset).as("value")),
      struct(lit(TimestampKey).as("key"), KFunctions.long_to_bytes_le(timestampMs).as("value")),
      struct(lit(ClusterKey).as("key"), lit(clusterValue(cluster)).as("value")),
      struct(lit(PartitionKey).as("key"),
        encode(partition.cast(StringType), "UTF-8").as("value")))

  /** Append the four headers in wire form to the record being written for
    * `offset` (after its own headers). `cluster` and `partition` are
    * [[clusterValue]] and [[partitionValue]], encoded once by the caller.
    */
  def writeWire(out: graft.codec.SegmentCodec.ByteSink, offset: Long, timestampMs: Long,
                cluster: Array[Byte], partition: Array[Byte]): Unit = {
    import graft.codec.SegmentCodec._
    putHeaderKey(out, offsetKey, offset)
    putLongField(out, offset)
    putHeaderKey(out, timestampKey, offset)
    putLongField(out, timestampMs)
    putHeaderKey(out, clusterKey, offset)
    putBytesField(out, cluster)
    putHeaderKey(out, partitionKey, offset)
    putBytesField(out, partition)
  }
}
