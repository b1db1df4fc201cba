package kbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Engine-side cost of one operation, aggregated from task and stage
  * metrics of every job run under the operation's job group.
  */
case class OpStats(
    wallS: Double,
    execRunS: Double,
    execCpuS: Double,
    gcS: Double,
    shuffleWriteMb: Double,
    spillMb: Double,
    /** wall not covered by any stage of the operation */
    driverS: Double,
    /** from operation start to its first job: DataFrame construction,
      * analysis, optimisation and physical planning */
    planS: Double,
    /** max / median task duration in the operation's largest stage */
    taskSkew: Double,
    /** max / median task duration in the operation's last stage */
    lastStageSkew: Double) {
  def coresBusy: Double = if (wallS > 0) execRunS / wallS else 0.0
}

object OpStats {
  /** Per-layer metrics of traced operations: the median of each engine-side
    * figure, under a layer prefix.
    */
  def layer(prefix: String, ops: Seq[OpStats]): Map[String, Double] = {
    def med(f: OpStats => Double) = if (ops.isEmpty) 0.0 else Stats.median(ops.map(f))
    Map(
      s"$prefix.exec_cpu_s" -> med(_.execCpuS),
      s"$prefix.cores_busy" -> med(_.coresBusy),
      s"$prefix.task_skew" -> med(_.taskSkew),
      s"$prefix.driver_s" -> med(_.driverS),
      s"$prefix.gc_s" -> med(_.gcS),
      s"$prefix.shuffle_write_mb" -> med(_.shuffleWriteMb),
      s"$prefix.spill_mb" -> med(_.spillMb))
  }
}

/** A SparkListener keyed by job group: the benchmark sets one group per
  * operation and reads the group's aggregate after the operation ends.
  */
final class Trace(sc: SparkContext) extends SparkListener {
  private final class Acc {
    var firstJobMs = Long.MaxValue
    var execRunMs, execCpuNs, gcMs, shuffleWrite, spill = 0L
    val stageSpans = mutable.ArrayBuffer.empty[(Long, Long)]
    val taskMs = mutable.LinkedHashMap.empty[Int, mutable.ArrayBuffer[Long]]
  }
  private val groups = mutable.HashMap.empty[String, Acc]
  private val stageGroup = mutable.HashMap.empty[Int, String]

  private def acc(g: String): Acc = groups.getOrElseUpdate(g, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { g =>
        val a = acc(g)
        a.firstJobMs = math.min(a.firstJobMs, e.time)
        e.stageIds.foreach(stageGroup(_) = g)
      }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val a = acc(g)
      a.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        a.execRunMs += m.executorRunTime
        a.execCpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    for (g <- stageGroup.get(info.stageId); s <- info.submissionTime; c <- info.completionTime)
      acc(g).stageSpans += ((s, c))
  }

  /** Start tracing `group`: subsequent jobs of this thread belong to it. */
  def begin(group: String): Unit = sc.setJobGroup(group, group, interruptOnCancel = false)

  /** Close `group` whose operation ran from `startMs` to `endMs` and return
    * its aggregate. Waits for the listener bus so no event is missed.
    */
  def end(group: String, startMs: Long, endMs: Long): OpStats = {
    sc.clearJobGroup()
    org.apache.spark.KbenchBridge.drainListenerBus(sc)
    val a = synchronized {
      stageGroup.filterInPlace((_, g) => g != group)
      groups.remove(group).getOrElse(new Acc)
    }
    val wallMs = math.max(1L, endMs - startMs)
    // union of stage intervals clipped to the operation window
    val spans = a.stageSpans.map { case (s, c) => (math.max(s, startMs), math.min(c, endMs)) }
      .filter { case (s, c) => c > s }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    spans.foreach { case (s, c) =>
      if (s > curE) { covered += curE - curS; curS = s; curE = c }
      else curE = math.max(curE, c)
    }
    covered += curE - curS
    def skew(ds: Seq[Long]): Double =
      if (ds.isEmpty) 1.0
      else {
        val sorted = ds.sorted
        sorted.last.toDouble / math.max(1L, sorted(sorted.size / 2))
      }
    val largest = if (a.taskMs.isEmpty) Nil else a.taskMs.values.maxBy(_.size).toSeq
    val last = if (a.taskMs.isEmpty) Nil else a.taskMs.values.last.toSeq
    OpStats(
      wallS = wallMs / 1e3,
      execRunS = a.execRunMs / 1e3,
      execCpuS = a.execCpuNs / 1e9,
      gcS = a.gcMs / 1e3,
      shuffleWriteMb = a.shuffleWrite / 1e6,
      spillMb = a.spill / 1e6,
      driverS = (wallMs - covered) / 1e3,
      planS = if (a.firstJobMs == Long.MaxValue) wallMs / 1e3
        else math.max(0L, a.firstJobMs - startMs) / 1e3,
      taskSkew = skew(largest),
      lastStageSkew = skew(last))
  }
}
