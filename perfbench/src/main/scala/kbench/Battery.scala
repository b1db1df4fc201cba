package kbench

import graft.codec.{CompressionCodec, SegmentCodec}
import graft.model.KRecord
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** `battery`: a fixed, named subset of `SparkEntry.queries` over generated
  * tables shaped like the sf0.1 testdata (100k events, 5k documents, 2k
  * 64-d embeddings). Each entry is written to the `noop` sink, one entry at
  * a time. The first pass writes parquet instead, for the DuckDB oracle,
  * and doubles as warm-up. Timings are the best of the measured passes per
  * entry.
  */
object BatteryBench {
  /** entry -> group: the repo module the entry's operator calls, or for the
    * Kafka-analytics entries the part of the backup tool they model.
    */
  val Entries: Seq[(String, String)] = Seq(
    "q_group_reset_plan" -> "remap",
    "q_validation_counts" -> "validation",
    "q_pitr_window" -> "catalog",
    "q_header_roundtrip" -> "functions",
    "d_incremental_dedup" -> "dedup",
    "a_ann_topk" -> "ann",
    "d_line_dedup" -> "text",
    "m_media_features" -> "multimodal")
  val Groups: Seq[String] = Entries.map(_._2).distinct
  val GroupMetrics = Seq("wall_s", "cpu_s", "plan_s", "exec_cpu_s", "driver_s", "shuffle_mb",
    "spill_mb", "gc_s")

  /** State an entry leaves behind (cached blocks, staged scratch output) is
    * freed between entries, as the battery harness does.
    */
  def cleanup(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    spark.catalog.clearCache()
    graft.util.TempDirs.cleanAll()
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val dir = ctx.path("sf")
    val out = ctx.path("out")
    val queries = graft.SparkEntry.queries
    val missing = Entries.map(_._1).filterNot(queries.contains)
    require(missing.isEmpty, s"battery entries not in SparkEntry.queries: $missing")
    val setupS = ctx.setupRepeated { _ =>
      new java.io.File(dir).mkdirs()
      Gen.batteryTables(spark, ctx.seed, dir)
      Seq("events", "documents", "embeddings").foreach(t =>
        spark.read.parquet(s"$dir/$t.parquet").count())
    }

    ctx.log("set up")
    // check pass: every entry's result to parquet, plus the oracle SQL
    val inputMb = mutable.LinkedHashMap.empty[String, Double]
    Entries.foreach { case (name, _) =>
      try {
        val df = queries(name)(spark, dir)
        inputMb(name) = df.inputFiles.map(f =>
          new java.io.File(new org.apache.hadoop.fs.Path(f).toUri.getPath).length()).sum / 1e6
        df.write.mode("overwrite").parquet(s"$out/$name")
      } catch { case e: Throwable =>
        ctx.check(s"$name (check pass)")(throw e)
      } finally cleanup(spark)
    }
    val oracle = graft.SparkEntry.oracleSql
    import graft.util.Json.{escape => js}
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      Entries.map(_._1).filter(oracle.contains)
        .map(n => s"${js(n)}:${js(oracle(n))}").mkString("{", ",", "}"))

    ctx.log("check pass written")
    // per entry, its untraced (wall, cpu) samples
    val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[(Double, Double)]]
    val groupPasses = mutable.ArrayBuffer.empty[Map[String, Double]]
    val rounds = Main.rounds(ctx, minRounds = if (ctx.trace) 4 else 2) { (_, trace) =>
      val g = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
      Entries.foreach { case (name, group) =>
        if (trace) ctx.tracer.begin(name)
        val startMs = System.currentTimeMillis()
        val c0 = ctx.cpuS
        val t0 = System.nanoTime()
        ctx.check(name) {
          queries(name)(spark, dir).write.mode("overwrite").format("noop").save()
          true
        }
        val wall = (System.nanoTime() - t0) / 1e9
        val cpu = ctx.cpuS - c0
        if (trace) {
          val s = ctx.tracer.end(name, startMs, System.currentTimeMillis())
          Seq("wall_s" -> wall, "cpu_s" -> cpu, "plan_s" -> s.planS,
            "exec_cpu_s" -> s.execCpuS, "driver_s" -> s.driverS,
            "shuffle_mb" -> s.shuffleWriteMb, "spill_mb" -> s.spillMb, "gc_s" -> s.gcS)
            .foreach { case (k, v) => g(s"battery.$group.$k") += v }
        } else samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ((wall, cpu))
        cleanup(spark)
      }
      if (trace) groupPasses += g.toMap
    }

    val layers =
      if (!ctx.trace) Map.empty[String, Double]
      else {
        import spark.implicits._
        val sample = KRecord.fromEvents(spark, dir).as[KRecord].limit(20000).collect().toSeq
        val segments = sample.grouped(2000).map(rs =>
          SegmentCodec.encode(rs, CompressionCodec.Zstd)).toSeq
        val names = for (g <- Groups; m <- GroupMetrics) yield s"battery.$g.$m"
        CodecReplay(sample, segments) ++
          names.map(n => n -> Stats.median(groupPasses.toSeq.map(_.getOrElse(n, 0.0))))
      }
    // best of the untraced passes per entry, as graft.Bench times the battery:
    // one disturbed pass on a shared host then costs nothing
    val bestWalls = samples.values.map(_.map(_._1).min).toSeq
    val batteryS = bestWalls.sum
    Outcome(setupS, rounds, bestWalls, Seq(inputMb.values.sum / batteryS), layers,
      roundS = Some(batteryS), cpuS = Some(samples.values.map(_.map(_._2).min).sum),
      notes = Map("checked_entries" -> Entries.map(_._1).filter(oracle.contains).mkString(","),
        "input_mb" -> inputMb.values.sum.toString))
  }
}
