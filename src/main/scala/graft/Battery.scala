package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one local session and entry loop of graft's mains: [[Bench]],
  * [[Verify]] and [[Explain]] drive [[SparkEntry.queries]] through
  * [[select]] and [[each]]; [[Cli]] and `tools.ScaleData` build their
  * session through [[session]].
  */
private[graft] object Battery {
  type Query = (SparkSession, String) => DataFrame

  /** Local cores: `SPARK_GRAFT_CPUS`, else the host's processor count. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The local session: `local[cpus]` with one shuffle partition per core,
    * UTC, no UI, and parquet `TIMESTAMP(NANOS)` read as Long nanos (earlier
    * testdata writes `events.ts` that way; harmless on micros files).
    *
    * An OOM-killed context stops ASYNCHRONOUSLY: `stopped` flips early but
    * the context unregisters only when stop() completes, and a getOrCreate
    * inside that window adopts the still-registered stopped context and
    * throws assertNotStopped — which killed a whole sf10 battery after a
    * single task OOM. So getOrCreate retries, 120 times a second apart,
    * until the old context finishes unregistering.
    */
  def session(logLevel: String): SparkSession = {
    def attempt(left: Int): SparkSession =
      try SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .getOrCreate()
      catch { case _: IllegalStateException if left > 1 =>
        Thread.sleep(1000); attempt(left - 1)
      }
    val s = attempt(120)
    s.sparkContext.setLogLevel(logLevel)
    s
  }

  /** Stop the session the last [[each]] left as the default. */
  def stop(): Unit = SparkSession.getDefaultSession.foreach(_.stop())

  /** The named entries (every entry when `names` is empty) in run order:
    * by name, with the heavyweight pipeline workloads (`p_*`) last so their
    * GC and page-cache footprint does not pollute the cheap entries. An
    * unknown name fails loudly instead of running nothing.
    */
  def select(names: Seq[String]): Seq[(String, Query)] = {
    val unknown = names.toSet -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    SparkEntry.queries.toSeq
      .filter { case (name, _) => names.isEmpty || names.contains(name) }
      .sortBy { case (name, _) => (if (name.startsWith("p_")) 1 else 0, name) }
  }

  /** Drop the block-manager state an entry left behind (result checkpoints,
    * pinned sets) and delete its pipeline scratch output BEFORE the dirty
    * pages flush during the next timed region (measured multi-second
    * pollution at sf10, see SCALING.md), so a long run neither accumulates
    * heap nor times another entry's writeback.
    */
  def cleanup(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    spark.catalog.clearCache()
    graft.util.TempDirs.cleanAll()
  }

  /** `body` over `entries` in order, then [[cleanup]] after each. Before
    * each entry a stopped context is replaced by a new [[session]] at
    * `logLevel`: a context-fatal entry (a local-mode task OOM stops the ONE
    * SparkContext) then costs its own row, not every later entry's. Each
    * entry's jobs carry the description `"<label>: <name>"`, so a crash log
    * maps stages back to the entry; the description is cleared after it.
    */
  def each[T](spark: SparkSession, entries: Seq[(String, Query)], label: String,
              logLevel: String)(body: (SparkSession, String, Query) => T): Seq[T] = {
    var s = spark
    entries.map { case (name, fn) =>
      if (s.sparkContext.isStopped) {
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        s = session(logLevel)
      }
      s.sparkContext.setJobDescription(s"$label: $name")
      try body(s, name, fn) finally {
        cleanup(s)
        s.sparkContext.setJobDescription(null)
      }
    }
  }
}
