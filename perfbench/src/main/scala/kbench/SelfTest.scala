package kbench

import graft.pipelines.{Backup, BackupConfig, Restore, RestoreConfig}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Tiny-scale tests of the benchmark's own output checks: an intact backup
  * and restore pass them, and a dropped or an altered record fails them.
  * It also leaves one battery entry's output and oracle SQL behind, for the
  * runner's wrong-hash test.
  */
object SelfTest {
  private val Shape = SourceShape(partitionsPerTopic = 2, recordsPerPartition = 300,
    spanMs = 3600L * 1000)

  def run(ctx: Ctx, outPath: String): Unit = {
    import KafkaPath._
    val spark = ctx.spark
    val src = Gen.source(spark, ctx.seed, Shape).cache()
    val want = truth(src)
    val truthRows = src.select(col("timestamp"), recordHash,
      coalesce(length(col("key")), lit(0)) + coalesce(length(col("value")), lit(0)))
      .orderBy("timestamp").collect()
    val windows = new RestoreBench.Truth(truthRows.map(_.getLong(0)),
      truthRows.map(_.getLong(1)), truthRows.map(_.getInt(2).toLong))
    val root = ctx.path("selftest")
    val victim = src.select("offset").orderBy("offset").head().getLong(0)

    /** (manifest matches the truth, restored count and digest match it) */
    def checks(id: String, records: DataFrame): (Boolean, Boolean) = {
      val m = Backup.run(spark, records, BackupConfig(id, root,
        maxSegmentIntervalMs = Some(Shape.spanMs / 5)))
      val got = Restore.records(spark, RestoreConfig(root, id)).toDF()
        .agg(count(lit(1)), coalesce(sum(recordHash), lit(0L))).collect()(0)
      val (n, h, _) = windows.window(Long.MinValue, Long.MaxValue)
      (manifestMatches(m, want), got.getLong(0) == n && got.getLong(1) == h)
    }
    val intact = checks("intact", src)
    val dropped = checks("dropped", src.filter(col("offset") =!= victim))
    val altered = checks("altered", src.withColumn("value",
      when(col("offset") === victim, concat(col("value"), lit("x").cast("binary")))
        .otherwise(col("value"))))

    Gen.batteryTables(spark, ctx.seed, ctx.path("sf"), events = 2000, documents = 200,
      embeddings = 100)
    val entry = "q_validation_counts"
    graft.SparkEntry.queries(entry)(spark, ctx.path("sf")).coalesce(1)
      .write.mode("overwrite").parquet(ctx.path(s"out/$entry"))
    import graft.util.Json.{escape => js}
    java.nio.file.Files.writeString(java.nio.file.Paths.get(ctx.path("out/oracle_sql.json")),
      s"{${js(entry)}:${js(graft.SparkEntry.oracleSql(entry))}}")

    val results = Seq(
      "intact backup passes the manifest check" -> intact._1,
      "intact restore passes the digest check" -> intact._2,
      "dropped record fails the manifest check" -> !dropped._1,
      "dropped record fails the restore digest check" -> !dropped._2,
      "altered record passes the manifest check (counts/offsets unchanged)" -> altered._1,
      "altered record fails the restore digest check" -> !altered._2)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath),
      results.map { case (k, v) => s"${js(k)}:$v" }.mkString("{", ",", "}"))
  }
}
