package graft
import org.apache.spark.sql.SparkSession

object Bench {
  private val LogLevel = "ERROR"

  /** Sequential-write throughput of the scratch disk, measured ONCE at
    * startup (256 MiB, fsync'd, file deleted before its pages flush again).
    * Stamped into the result JSON so cross-round deltas are attributable:
    * rounds run on fresh VMs whose disks vary ~1.5x, and without the stamp a
    * disk-bound regression is indistinguishable from a plan regression.
    */
  private def diskWriteMbPerSec(): Double = {
    val f = java.nio.file.Files.createTempFile("graft-disk-probe", ".bin")
    try {
      val buf = new Array[Byte](8 << 20)
      java.util.Arrays.fill(buf, 0x5a.toByte)
      val ch = java.nio.channels.FileChannel.open(f,
        java.nio.file.StandardOpenOption.WRITE)
      val t0 = System.nanoTime()
      try {
        var i = 0
        while (i < 32) { ch.write(java.nio.ByteBuffer.wrap(buf)); i += 1 }
        ch.force(true)
      } finally ch.close()
      val sec = (System.nanoTime() - t0) / 1e9
      math.round(256.0 / sec * 10.0) / 10.0
    } catch { case _: Throwable => -1.0 }
    finally { try java.nio.file.Files.deleteIfExists(f) catch { case _: Throwable => () } }
  }

  /** `graft.Bench [entry...]`: times the named entries (all by default) on
    * `SPARK_GRAFT_SF_DIR` and writes the full result line to
    * `GRAFT_BENCH_OUT` (default `bench_out.json`).
    */
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = sys.env.getOrElse("GRAFT_BENCH_OUT", "bench_out.json")
    // measure the disk BEFORE Spark starts dirtying the page cache
    val diskMbS = diskWriteMbPerSec()
    val summary = try run(Battery.session(LogLevel), sfDir, args.toSeq, out, diskMbS)
    finally Battery.stop()
    // printed after the stop: the console log appender writes to stdout,
    // and nothing the stop logs may follow the summary
    println(summary)
  }

  /** Time `names` (every entry when empty) in `spark`, print the full
    * per-entry line, also written to `out`, and return the compact summary
    * that [[main]] prints as the LAST stdout line. `spark` stays running.
    */
  def run(spark: SparkSession, sfDir: String, names: Seq[String], out: String,
          diskMbS: Double): String = {
    val ordered = Battery.select(names)

    // JVM/codegen warm-up: touch the scan + shuffle + agg paths once so the
    // first measured query doesn't pay JIT and classloading (~5 s).
    try {
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy("l_returnflag").count().collect()
      spark.read.parquet(s"$sfDir/events.parquet").count()
      // touch the data-ops inputs too: d_*/a_* entries should measure their
      // operators, not whichever of them pays the first page-cache miss
      spark.read.parquet(s"$sfDir/documents.parquet").count()
      spark.read.parquet(s"$sfDir/embeddings.parquet").count()
      // one-time index builds belong to warmup, not the timed entries
      // (a_ann_lsh_bucketed / a_ann_ivf bench the pruned probe). The whole
      // battery builds every index; a named subset calls each entry once,
      // untimed, so its own ensure* builds only the index it reads
      if (names.isEmpty) {
        QueriesData.ensureBucketedAnn(spark, sfDir)
        QueriesData.ensureIvf(spark, sfDir)
        QueriesData.ensureIvfPq(spark, sfDir)
        QueriesData.ensureChunkIndex(spark, sfDir)
        QueriesData.ensureChunkIndexPq(spark, sfDir)
        QueriesData.ensureBm25Index(spark, sfDir)
        QueriesData.ensureBm25IngestIndex(spark, sfDir)
        QueriesData.ensurePqIngestIndex(spark, sfDir)
      } else ordered.foreach { case (_, fn) => fn(spark, sfDir) }
    } catch { case _: Throwable => }

    // per-entry PROCESS-CPU time next to wall (r12 verdict task 5): this VM
    // class throttles storage intermittently and wall alone cannot separate
    // a plan regression from a slow disk — CPU seconds are stable across
    // stamp swings, so cross-round per-entry diffs should read cpu first
    val osBean = java.lang.management.ManagementFactory
      .getPlatformMXBean(classOf[com.sun.management.OperatingSystemMXBean])
    val results = Battery.each(spark, ordered, "bench", LogLevel) { (spark, name, fn) =>
      // noop sink materializes every output column (count() would let
      // Catalyst prune the projection and flatter the numbers)
      def onePass(): (Double, Double, Option[String]) = {
        val c0 = osBean.getProcessCpuTime
        val t0 = System.nanoTime()
        val err: Option[String] =
          try { fn(spark, sfDir).write.mode("overwrite").format("noop").save(); None }
          catch { case e: Throwable =>
            Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
          }
        ((System.nanoTime() - t0) / 1e9,
          (osBean.getProcessCpuTime - c0) / 1e9, err)
      }
      val (first, cpu1, err1) = onePass()
      // VM-noise self-defense: a single >1 s sample can be dominated by this
      // round's cold page cache or background writeback — re-run once and
      // keep the BEST of the two (plans are deterministic; the minimum is
      // the less-polluted sample). Sub-second entries aren't worth the
      // battery time, and a failed query must not run (or hide) twice.
      // The kept CPU sample is the kept WALL pass's own (they must describe
      // the same execution). Each pass is followed by Battery.cleanup.
      val (elapsed, cpuSec) =
        if (err1.isEmpty && first > 1.0) {
          Battery.cleanup(spark)
          val (second, cpu2, err2) = onePass()
          if (err2.isEmpty && second < first) (second, cpu2) else (first, cpu1)
        } else (first, cpu1)
      (name, elapsed, cpuSec, err1)
    }
    def jstr(s: String) = graft.util.Json.escape(s)
    def obj(kvs: Seq[(String, Any)]) =
      kvs.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
    def ms(sec: Double) = math.rint(sec * 1e3) / 1e3
    // a failed query must be loud, not a flattering ~0 s entry
    val errors = results.collect { case (k, _, _, Some(e)) => (k, e) }
    val total = results.map(_._2).sum
    val totalCpu = ms(results.map(_._3).sum)
    val cpus = Battery.cpus
    // stamp floor: below it the host is storage-throttled and wall totals
    // are not comparable across rounds — flagged, not refused (the driver
    // still needs an artifact; the flag tells every reader to normalize)
    val diskFloor = 100.0
    val diskOk = diskMbS >= diskFloor
    val json = s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""queries":${obj(results.map(r => (r._1, r._2)))},""" +
      s""""cpu_sec":${obj(results.map(r => (r._1, ms(r._3))))},"total_cpu_sec":$totalCpu,""" +
      s""""errors":${obj(errors.map { case (k, e) => (k, jstr(e)) })},""" +
      s""""sf":${jstr(sfDir)},"cpus":$cpus,""" +
      s""""disk_write_mb_s":$diskMbS,"disk_floor_mb_s":$diskFloor,""" +
      s""""disk_ok":$diskOk,"timing":"best-of-2 over 1s"}"""
    // stdout line is the driver contract; the FILE is the loss-proof copy
    // (r6's driver tail-capture truncated the totals → "parsed": null)
    println(json)
    try java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable =>
      System.err.println(s"bench_out write failed: $e")
    }
    // LAST stdout line: a compact summary guaranteed to fit the driver's
    // ~2000-char tail capture WHOLE (the full 99-entry line is ~5 KB, so
    // the capture decapitates it and the driver records "parsed": null —
    // the r7 finding). Slowest entries at 3 decimals + error map; the
    // complete per-query map lives in the full line above and in the file.
    val slowest = obj(results.sortBy(-_._2).take(25).map(r => (r._1, ms(r._2))))
    val summary = s"""{"metric":"total","value":${ms(total)},""" +
      s""""unit":"sec","queries":$slowest,""" +
      s""""note":${jstr(s"slowest 25 of ${results.size}; full map in $out")},""" +
      s""""errors":${obj(errors.take(5).map { case (k, e) => (k, jstr(e.take(60))) })},""" +
      s""""n_errors":${errors.size},"total_cpu_sec":$totalCpu,""" +
      s""""sf":${jstr(sfDir)},"cpus":$cpus,"disk_write_mb_s":$diskMbS,""" +
      s""""disk_ok":$diskOk,"timing":"best-of-2 over 1s"}"""
    summary
  }
}
