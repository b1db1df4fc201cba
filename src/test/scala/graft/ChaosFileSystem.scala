package graft

import java.io.{IOException, OutputStream}
import java.net.URI
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Failure-injecting local filesystem for the chaos suite (test-only analog of
  * the reference's chaos_suite/ fault points). Registered under the `chaos:`
  * scheme via META-INF/services so every `FileSystem.get` — Spark tasks,
  * Manifest.save's fresh Configuration, binaryFile scans — resolves it without
  * per-Configuration wiring. Paths behave exactly like the local FS (no CRC
  * sidecars, RawLocalFileSystem), except that `create` throws once when armed.
  */
class ChaosFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "chaos"
  override def getUri: URI = URI.create("chaos:///")

  override protected def createOutputStreamWithMode(
      f: Path, append: Boolean, permission: FsPermission): OutputStream = {
    ChaosFileSystem.maybeFail(f)
    super.createOutputStreamWithMode(f, append, permission)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    ChaosFileSystem.maybeFailDelete(f)
    super.delete(f, recursive)
  }
}

object ChaosFileSystem {
  private val segmentCreates = new AtomicInteger(0)
  private val remainingFailures = new AtomicInteger(0)
  private val firedCount = new AtomicInteger(0)
  @volatile private var failAtSegmentCreate: Int = -1

  /** Fail segment-file creates with IOExceptions, starting at the N-th
    * create, `times` times total. `times = 1` kills one task attempt (the
    * retry succeeds); `times >= spark's maxFailures` kills the whole job —
    * the restart-recovery scenario.
    */
  def armSegmentCreateFailure(n: Int, times: Int = 1): Unit = {
    segmentCreates.set(0)
    firedCount.set(0)
    remainingFailures.set(times)
    failAtSegmentCreate = n
  }

  private val pathCreates = new AtomicInteger(0)
  private val pathRemaining = new AtomicInteger(0)
  @volatile private var failPathSubstring: Option[String] = None
  @volatile private var failPathStartAt: Int = 1

  /** Fail creates whose path contains `substr`, starting at the `startAt`-th
    * matching create, `times` times total — the generic analog of
    * [[armSegmentCreateFailure]] for non-segment writes (e.g. the reliable
    * checkpoint part files inside the connected-components loop).
    */
  def armPathCreateFailure(substr: String, startAt: Int = 1, times: Int = 1): Unit = {
    pathCreates.set(0)
    firedCount.set(0)
    pathRemaining.set(times)
    failPathStartAt = startAt
    failPathSubstring = Some(substr)
  }

  private val pathDeletes = new AtomicInteger(0)
  private val deleteRemaining = new AtomicInteger(0)
  @volatile private var failDeleteSubstring: Option[String] = None
  @volatile private var failDeleteStartAt: Int = 1

  /** Fail deletes whose path contains `substr` — the crash point BETWEEN a
    * protocol's commit write and its post-commit cleanup deletes (e.g.
    * compactStreamStats dying after its ingest-log entry landed but before
    * the folded markers are removed).
    */
  def armPathDeleteFailure(substr: String, startAt: Int = 1,
                           times: Int = 1): Unit = {
    pathDeletes.set(0)
    firedCount.set(0)
    deleteRemaining.set(times)
    failDeleteStartAt = startAt
    failDeleteSubstring = Some(substr)
  }

  def disarm(): Unit = {
    failAtSegmentCreate = -1
    failPathSubstring = None
    failDeleteSubstring = None
  }

  private def maybeFailDelete(f: Path): Unit = failDeleteSubstring match {
    case Some(sub) if f.toString.contains(sub) =>
      if (pathDeletes.incrementAndGet() >= failDeleteStartAt &&
          deleteRemaining.getAndDecrement() > 0) {
        firedCount.incrementAndGet()
        throw new IOException(s"chaos: injected delete failure for $f")
      }
    case _ => ()
  }

  /** True iff the armed failure actually fired (spec sanity check). */
  def failureFired: Boolean = firedCount.get() > 0

  /** How many injected failures actually threw. */
  def failuresFired: Int = firedCount.get()

  private def maybeFail(f: Path): Unit = {
    if (failAtSegmentCreate >= 0 && f.getName.startsWith("segment-") &&
        segmentCreates.incrementAndGet() >= failAtSegmentCreate &&
        remainingFailures.getAndDecrement() > 0) {
      firedCount.incrementAndGet()
      throw new IOException(s"chaos: injected create failure for $f")
    }
    failPathSubstring match {
      case Some(sub) if f.toString.contains(sub) =>
        if (pathCreates.incrementAndGet() >= failPathStartAt &&
            pathRemaining.getAndDecrement() > 0) {
          firedCount.incrementAndGet()
          throw new IOException(s"chaos: injected create failure for $f")
        }
      case _ => ()
    }
  }
}
