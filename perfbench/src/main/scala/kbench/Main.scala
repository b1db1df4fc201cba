package kbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import scala.collection.mutable

/** Shared state of one benchmark run: the session, the seed, the clock and
  * the tally of attempted and failed operations.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
                val trace: Boolean, val work: String) {
  private val os = ManagementFactory.getPlatformMXBean(
    classOf[com.sun.management.OperatingSystemMXBean])
  def cpuS: Double = os.getProcessCpuTime / 1e9
  val tracer: Trace = new Trace(spark.sparkContext)

  var attempted = 0
  var failed = 0
  val errors = mutable.ArrayBuffer.empty[String]

  /** Count one operation; a false `ok` or a thrown error fails it. */
  def check(what: String)(ok: => Boolean): Boolean = {
    attempted += 1
    val good = try ok catch { case e: Throwable =>
      errors += s"$what: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
      false
    }
    if (!good) { failed += 1; if (errors.size < 20) errors += s"$what: wrong output" }
    good
  }

  /** Set-up is repeated `SetupRepeats` times and its median reported, so a
    * single slow repetition does not decide `setup_s`. The last repetition's
    * state is the one the run measures.
    */
  def setupRepeated(body: Int => Unit): Double = {
    val times = (0 until Main.SetupRepeats).map { i =>
      val t0 = System.nanoTime(); body(i); (System.nanoTime() - t0) / 1e9
    }
    log(s"set up ${times.map(t => f"$t%.2f s").mkString(", ")}")
    Stats.median(times)
  }

  def path(rel: String): String = s"$work/$rel"

  private val born = System.nanoTime()
  /** Progress to stderr, stamped with seconds since the run started. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - born) / 1e9}%7.1f s  $msg")
}

/** One timed round of a workload: its wall and process CPU, and whether
  * tracing was on for it.
  */
case class Round(wallS: Double, cpuS: Double, traced: Boolean)

/** What a workload hands back to [[Main]]. `opWalls` are the latencies the
  * percentiles are taken over; `mbS` the workload's throughput samples.
  * `roundS` and `cpuS` replace the median untraced round when set.
  */
case class Outcome(setupS: Double, rounds: Seq[Round], opWalls: Seq[Double],
                   mbS: Seq[Double], layers: Map[String, Double],
                   notes: Map[String, String] = Map.empty,
                   roundS: Option[Double] = None, cpuS: Option[Double] = None)

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile (the same rule as numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

object Main {
  val SetupRepeats = 3

  private val Engine = Seq("exec_cpu_s", "cores_busy", "task_skew", "driver_s", "gc_s",
    "shuffle_write_mb", "spill_mb")
  /** Every per-layer metric a traced run reports, whatever its workload. */
  val PerLayer: Seq[String] =
    Seq("frame_encode_mb_s", "zstd_compress_mb_s", "segment_decode_mb_s",
      "zstd_decompress_mb_s", "frame_decode_mb_s").map("codec." + _) ++
    (Seq("run_s", "records", "segments", "raw_mb", "stored_mb", "stored_ratio",
      "writer_task_skew") ++ Engine).map("backup." + _) ++
    Seq("manifest_load_s", "prune_s", "segments_selected_frac").map("catalog." + _) ++
    (Seq("plan_s", "full_plan_s", "exec_s", "segments_read", "input_mb", "kept_frac") ++ Engine)
      .map("restore." + _) ++
    (for (g <- BatteryBench.Groups; m <- BatteryBench.GroupMetrics) yield s"battery.$g.$m")

  /** Runs rounds until `seconds` have passed and at least `minRounds` ran.
    * In a traced run rounds alternate untraced, traced, traced, untraced, so
    * the same run yields both the per-layer numbers and the tracing overhead
    * without favouring either side with the warmer JIT.
    */
  def rounds(ctx: Ctx, minRounds: Int)(round: (Int, Boolean) => Unit): Seq[Round] = {
    val out = mutable.ArrayBuffer.empty[Round]
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    var i = 0
    while (System.nanoTime() < deadline || i < minRounds) {
      val traced = ctx.trace && (i % 4 == 1 || i % 4 == 2)
      val c0 = ctx.cpuS
      val t0 = System.nanoTime()
      round(i, traced)
      out += Round((System.nanoTime() - t0) / 1e9, ctx.cpuS - c0, traced)
      i += 1
    }
    out.toSeq
  }

  private def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Sequential fsync'd write throughput of the work directory's disk
    * (the same probe shape as the battery harness's disk stamp).
    */
  private def diskWriteMbPerSec(dir: String): Double = {
    val f = java.nio.file.Files.createTempFile(java.nio.file.Paths.get(dir), "disk-probe", ".bin")
    try {
      val buf = new Array[Byte](8 << 20)
      java.util.Arrays.fill(buf, 0x5a.toByte)
      val ch = java.nio.channels.FileChannel.open(f, java.nio.file.StandardOpenOption.WRITE)
      val t0 = System.nanoTime()
      try {
        var i = 0
        while (i < 16) { ch.write(java.nio.ByteBuffer.wrap(buf)); i += 1 }
        ch.force(true)
      } finally ch.close()
      128.0 / ((System.nanoTime() - t0) / 1e9)
    } finally java.nio.file.Files.deleteIfExists(f)
  }

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val workload = a("workload")
    val seed = a("seed").toLong
    val work = new java.io.File(a("work")).getAbsolutePath
    new java.io.File(work).mkdirs()
    val cpus = Runtime.getRuntime.availableProcessors()
    val disk = diskWriteMbPerSec(work)

    val t0 = System.nanoTime()
    val spark = session(cpus, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = new Ctx(spark, seed, a("seconds").toInt, a("trace") == "1", work)
    if (ctx.trace) spark.sparkContext.addSparkListener(ctx.tracer)

    if (workload == "selftest") { SelfTest.run(ctx, a("out")); spark.stop(); return }
    val out = workload match {
      case "backup" => BackupBench.run(ctx)
      case "restore" => RestoreBench.run(ctx)
      case "battery" => BatteryBench.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload: $w")
    }
    ctx.log(s"measured ${out.rounds.size} rounds")
    val untraced = out.rounds.filterNot(_.traced)
    val traced = out.rounds.filter(_.traced)
    val endToEnd = Map(
      "setup_s" -> (sessionS + out.setupS),
      "round_s" -> out.roundS.getOrElse(Stats.median(untraced.map(_.wallS))),
      "op_p50_s" -> Stats.quantile(out.opWalls, 0.5),
      "op_p90_s" -> Stats.quantile(out.opWalls, 0.9),
      "mb_s" -> Stats.median(out.mbS),
      "cpu_s" -> out.cpuS.getOrElse(Stats.median(untraced.map(_.cpuS))),
      "peak_rss_mb" -> peakRssMb())
    val unknown = out.layers.keySet -- PerLayer
    require(unknown.isEmpty, s"per-layer metrics missing from PerLayer: $unknown")
    // every traced run reports every layer; a layer the workload does not
    // exercise reads 0
    val layers =
      if (!ctx.trace) Map.empty[String, Double]
      else PerLayer.map(n => n -> out.layers.getOrElse(n, 0.0)).toMap + ("trace_overhead_frac" ->
        (Stats.median(traced.map(_.cpuS)) / Stats.median(untraced.map(_.cpuS)) - 1))

    import graft.util.Json.{escape => js}
    def obj(m: Iterable[(String, String)]) =
      m.map { case (k, v) => s"${js(k)}:$v" }.mkString("{", ",", "}")
    def nums(m: Map[String, Double]) = obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString })
    val host = obj(Seq(
      "nproc" -> cpus.toString,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "disk_write_mb_s" -> disk.toString,
      "jdk" -> js(System.getProperty("java.version")),
      "spark" -> js(spark.version),
      "seed" -> seed.toString))
    val json = obj(Seq(
      "workload" -> js(workload),
      "host" -> host,
      "trace" -> ctx.trace.toString,
      "attempted" -> ctx.attempted.toString,
      "failed" -> ctx.failed.toString,
      "errors" -> ctx.errors.map(js).mkString("[", ",", "]"),
      "rounds" -> out.rounds.size.toString,
      "ops" -> out.opWalls.size.toString,
      "op_walls_s" -> out.opWalls.mkString("[", ",", "]"),
      "round_walls_s" -> out.rounds.map(_.wallS).mkString("[", ",", "]"),
      "end_to_end" -> nums(endToEnd),
      "per_layer" -> nums(layers),
      "notes" -> obj(out.notes.toSeq.map { case (k, v) => k -> js(v) })))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a("out")), json)
    spark.stop()
  }
}
