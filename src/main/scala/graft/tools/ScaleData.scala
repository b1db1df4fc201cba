package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-factor replicator for bench scaling runs: builds an sf×N dataset
  * from an existing sf directory by unioning N key-shifted replicas.
  *
  * Join integrity is preserved by shifting every key column of a table family
  * by the same per-replica constant (computed as max(key)+1 of the base), so
  * TPC-H joins fan out exactly N×. The two "content" tables are additionally
  * perturbed per replica so similarity workloads scale honestly instead of
  * degenerating into N-way duplicate groups:
  *   - documents: for replica i>0 every word gets a replica-unique suffix —
  *     within-replica near-dup structure is preserved exactly (both sides of
  *     a pair get the same rewrite), while cross-replica similarity collapses
  *     for BOTH shingle-based (MinHash/Jaccard) and token-based (SimHash)
  *     measures (an every-3rd-word marker left SimHash features 75% shared —
  *     replicas still paired with each other, inflating near-dup output
  *     super-linearly instead of measuring scale);
  *   - embeddings: replica i applies a deterministic per-dimension sign flip
  *     — a diagonal orthogonal transform, so within-replica geometry (all
  *     pairwise dot products) is EXACTLY preserved while cross-replica
  *     cosines decorrelate toward 0.
  *
  * Usage: ScaleData <inDir> <outDir> <factor>
  */
object ScaleData {

  def main(args: Array[String]): Unit = {
    val Array(in, out, factorS) = args: @unchecked
    val factor = factorS.toInt
    val spark = graft.Battery.session("WARN")
    try run(spark, in, out, factor) finally spark.stop()
  }

  def run(spark: SparkSession, in: String, out: String, factor: Int): Unit = {
    def read(t: String) = spark.read.parquet(s"$in/$t.parquet")
    def write(df: DataFrame, t: String): Unit =
      df.write.mode(SaveMode.Overwrite).parquet(s"$out/$t.parquet")
    def shiftOf(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1

    // dimensions stay fixed at every scale factor, like TPC-H region/nation
    write(read("region"), "region")
    write(read("nation"), "nation")

    val customer = read("customer"); val cSh = shiftOf(customer, "c_custkey")
    val supplier = read("supplier"); val sSh = shiftOf(supplier, "s_suppkey")
    val part = read("part"); val pSh = shiftOf(part, "p_partkey")
    val orders = read("orders"); val oSh = shiftOf(orders, "o_orderkey")
    val events = read("events"); val eSh = shiftOf(events, "event_id")
    val uSh = shiftOf(events, "user_id")
    val documents = read("documents"); val dSh = shiftOf(documents, "doc_id")
    val embeddings = read("embeddings"); val vSh = shiftOf(embeddings, "vec_id")
    val lineitem = read("lineitem")

    def replicate(base: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(i => f(base, i)).reduce(_ unionByName _)

    write(replicate(customer)((d, i) =>
      d.withColumn("c_custkey", col("c_custkey") + lit(i * cSh))), "customer")
    write(replicate(supplier)((d, i) =>
      d.withColumn("s_suppkey", col("s_suppkey") + lit(i * sSh))), "supplier")
    write(replicate(part)((d, i) =>
      d.withColumn("p_partkey", col("p_partkey") + lit(i * pSh))), "part")
    write(replicate(orders)((d, i) => d
      .withColumn("o_orderkey", col("o_orderkey") + lit(i * oSh))
      .withColumn("o_custkey", col("o_custkey") + lit(i * cSh))), "orders")
    write(replicate(lineitem)((d, i) => d
      .withColumn("l_orderkey", col("l_orderkey") + lit(i * oSh))
      .withColumn("l_partkey", col("l_partkey") + lit(i * pSh))
      .withColumn("l_suppkey", col("l_suppkey") + lit(i * sSh))), "lineitem")
    write(replicate(events)((d, i) => d
      .withColumn("event_id", col("event_id") + lit(i * eSh))
      .withColumn("user_id", col("user_id") + lit(i * uSh))), "events")

    write(replicate(documents)((d, i) => {
      val shifted = d.withColumn("doc_id", col("doc_id") + lit(i * dSh))
      if (i == 0) shifted
      else shifted
        .withColumn("text",
          regexp_replace(col("text"), "(\\S+)", "$1z" + i))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }), "documents")

    val flip = udf { (v: Seq[Float], i: Int) =>
      if (v == null) null
      else v.zipWithIndex.map { case (x, j) =>
        // deterministic per-(replica, dim) sign: diagonal orthogonal transform
        if (i != 0 && (((j * 1103515245 + i * 12345) >>> 16) & 1) == 1) -x else x
      }
    }
    // defensive cast mirrors Dedup.cosine: the UDF is Seq[Float]-typed, and an
    // array<double> source column would otherwise CCE mid-replication
    write(replicate(embeddings)((d, i) => d
      .withColumn("vec_id", col("vec_id") + lit(i * vSh))
      .withColumn("embedding", flip(col("embedding").cast("array<float>"), lit(i)))), "embeddings")

    println(s"scaled $in -> $out x$factor")
  }
}
