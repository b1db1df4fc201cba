package graft
import org.apache.spark.sql.SparkSession

object Bench {

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

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // measure the disk BEFORE Spark starts dirtying the page cache
    val diskMbS = diskWriteMbPerSec()
    def buildSession(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    // An OOM-killed context stops ASYNCHRONOUSLY: `stopped` flips early but
    // the context unregisters only when stop() completes, and a getOrCreate
    // inside that window adopts the still-registered stopped context and
    // throws assertNotStopped — which killed a whole sf10 battery after a
    // single task OOM (r14; the r13 revival had the same window). Bounded
    // wait-and-retry until the old context finishes unregistering.
    def newSession(): SparkSession = {
      var last: Throwable = null
      var i = 0
      while (i < 120) {
        try return buildSession()
        catch {
          case e: IllegalStateException =>
            last = e; Thread.sleep(1000); i += 1
        }
      }
      throw last
    }
    // the session is a VAR so a context-fatal entry (e.g. a task OOM in
    // local mode stops the one SparkContext) costs ONE error row, not the
    // whole remaining battery — before each entry the loop revives a
    // stopped context (r13: one sf10 task OOM zombied 80 subsequent
    // entries with "Cannot call methods on a stopped SparkContext")
    var spark = newSession()

    // deterministic order, heavyweight pipeline workloads (p_*) last so their
    // GC/page-cache footprint doesn't pollute the cheap queries' timings;
    // positional args (if any) restrict the run to the named queries — an
    // unknown name fails loudly instead of benchmarking nothing
    val unknown = args.toSet -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val ordered = SparkEntry.queries.toSeq
      .filter { case (name, _) => args.isEmpty || args.contains(name) }
      .sortBy { case (name, _) =>
        (if (name.startsWith("p_")) 1 else 0, name)
      }

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
      if (args.isEmpty) {
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

    // post-query hygiene, shared by both timing passes: drop block-manager
    // state a query left behind and delete pipeline scratch output BEFORE its
    // dirty pages flush during the next timed region (measured multi-second
    // pollution at sf10 — see SCALING.md)
    def cleanup(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      spark.catalog.clearCache()
      graft.util.TempDirs.cleanAll()
    }

    // per-entry PROCESS-CPU time next to wall (r12 verdict task 5): this VM
    // class throttles storage intermittently and wall alone cannot separate
    // a plan regression from a slow disk — CPU seconds are stable across
    // stamp swings, so cross-round per-entry diffs should read cpu first
    val osBean = java.lang.management.ManagementFactory
      .getPlatformMXBean(classOf[com.sun.management.OperatingSystemMXBean])
    val results = ordered.map { case (name, fn) =>
      if (spark.sparkContext.isStopped) {
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        spark = newSession()
      }
      // label the entry's jobs (guide §1.5) so a crash log or the UI maps
      // stages back to the battery entry without timing archaeology
      spark.sparkContext.setJobDescription(s"bench: $name")
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
      cleanup()
      // VM-noise self-defense: a single >1 s sample can be dominated by this
      // round's cold page cache or background writeback — re-run once and
      // keep the BEST of the two (plans are deterministic; the minimum is
      // the less-polluted sample). Sub-second entries aren't worth the
      // battery time, and a failed query must not run (or hide) twice.
      // The kept CPU sample is the kept WALL pass's own (they must describe
      // the same execution).
      val (elapsed, cpuSec) =
        if (err1.isEmpty && first > 1.0) {
          val (second, cpu2, err2) = onePass()
          cleanup()
          if (err2.isEmpty && second < first) (second, cpu2) else (first, cpu1)
        } else (first, cpu1)
      (name, elapsed, cpuSec, err1)
    }
    def jstr(s: String) = graft.util.Json.escape(s)
    val qs = results.map { case (k, v, _, _) => jstr(k) + ":" + v }
      .mkString("{", ",", "}")
    val cpuMap = results.map { case (k, _, c, _) =>
      jstr(k) + ":" + math.rint(c * 1e3) / 1e3 }.mkString("{", ",", "}")
    // a failed query must be loud, not a flattering ~0 s entry
    val errs = results.collect { case (k, _, _, Some(e)) => jstr(k) + ":" + jstr(e) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val totalCpu = results.map(_._3).sum
    // stamp floor: below it the host is storage-throttled and wall totals
    // are not comparable across rounds — flagged, not refused (the driver
    // still needs an artifact; the flag tells every reader to normalize)
    val diskFloor = 100.0
    val diskOk = diskMbS >= diskFloor
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""cpu_sec":$cpuMap,"total_cpu_sec":${math.rint(totalCpu * 1e3) / 1e3},""" +
      s""""errors":$errs,"sf":${jstr(sfDir)},"cpus":$cpus,""" +
      s""""disk_write_mb_s":$diskMbS,"disk_floor_mb_s":$diskFloor,""" +
      s""""disk_ok":$diskOk,"timing":"best-of-2 over 1s"}"""
    // stdout line is the driver contract; the FILE is the loss-proof copy
    // (r6's driver tail-capture truncated the totals → "parsed": null)
    println(json)
    val out = sys.env.getOrElse("GRAFT_BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable =>
      System.err.println(s"bench_out write failed: $e")
    }
    spark.stop()
    // LAST stdout line: a compact summary guaranteed to fit the driver's
    // ~2000-char tail capture WHOLE (the full 99-entry line is ~5 KB, so
    // the capture decapitates it and the driver records "parsed": null —
    // the r7 finding). Slowest entries at 3 decimals + error map; the
    // complete per-query map lives in the full line above and in the file.
    val slowest = results.sortBy(-_._2).take(25)
      .map { case (k, v, _, _) => jstr(k) + ":" + math.rint(v * 1e3) / 1e3 }
      .mkString("{", ",", "}")
    val errsShort = results.collect { case (k, _, _, Some(e)) =>
      jstr(k) + ":" + jstr(e.take(60)) }.take(5).mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${math.rint(total * 1e3) / 1e3},""" +
      s""""unit":"sec","queries":$slowest,""" +
      s""""note":${jstr(s"slowest 25 of ${results.size}; full map in $out")},""" +
      s""""errors":$errsShort,"n_errors":${results.count(_._4.isDefined)},""" +
      s""""total_cpu_sec":${math.rint(totalCpu * 1e3) / 1e3},""" +
      s""""sf":${jstr(sfDir)},"cpus":$cpus,"disk_write_mb_s":$diskMbS,""" +
      s""""disk_ok":$diskOk,"timing":"best-of-2 over 1s"}""")
  }
}
