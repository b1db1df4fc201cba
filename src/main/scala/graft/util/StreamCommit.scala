package graft.util

/** Shared mechanics of the exactly-once micro-batch commit protocol the
  * streaming index ingests use (IVF-flat and IVF-PQ chunk indexes, BM25
  * postings index): every batch's files land in the live partitioned layout
  * under a batch-tagged filename prefix, and the batch commits through the
  * layout's ingest log alone —
  *
  *   replay gate → scrub this tag's files → stage under `_staging/` →
  *   per-file rename into the layout → log commit (batch into `pending`) →
  *   staging cleanup
  *
  * so a foreachBatch replay (at-least-once contract, same batchId) at ANY
  * crash point converges to the single-application state. [[applyBatch]]
  * runs the protocol once for every layout; a layout supplies only its
  * staging writes.
  *
  * `streamId` namespaces the tag. batchIds are only stable within ONE
  * streaming checkpoint lineage — a new checkpoint restarts at 0, and an
  * un-namespaced batch 0 would silently no-op against the old stream's
  * record, DROPPING data. Every new checkpoint directory must therefore
  * carry its own streamId (concurrent streams into one index get distinct
  * namespaces the same way).
  *
  * The ingest log (`_graft_log/<version>`, [[LogState]]) is the layout's
  * ONE commit record: applied batches, compaction watermarks, recorded
  * rollbacks and the base counters. Every writer — apply, compaction
  * ([[compact]]), guarded removal ([[removeBatchGuarded]]) and BM25's
  * batch append and build — commits through [[advance]], the
  * offset/commit-log discipline of Structured Streaming: a lost round
  * re-derives from the newer state.
  */
object StreamCommit {

  /** Tag charset is restricted so tags parse unambiguously and never glob. */
  def requireValidStreamId(streamId: String): Unit =
    require(streamId.matches("[A-Za-z0-9_-]*"),
      s"streamId must match [A-Za-z0-9_-]*, got '$streamId'")

  /** Filename-prefix stem for one (streamId, batchId). */
  def tag(streamId: String, batchId: Long): String =
    if (streamId.isEmpty) s"b$batchId" else s"$streamId~b$batchId"

  /** Inverse of [[tag]]: (streamId, batchId), or None for foreign names. */
  private def parseTag(name: String): Option[(String, Long)] = name match {
    case TagRe(sid, id) => Some((if (sid == null) "" else sid, id.toLong))
    case _              => None
  }
  private val TagRe = "^(?:([A-Za-z0-9_-]+)~)?b([0-9]+)$".r

  /** The batch tag a [[promote]] prefixed onto a data file's name —
    * `b3-part-...parquet` → `("", 3)` — or None for base files (Spark
    * part files start with `part-`, which can never parse as a tag:
    * the no-stream form requires a leading `b<digits>-` and the
    * streamId form requires a `~` before any `-`).
    */
  def tagOfFileName(name: String): Option[(String, Long)] = name match {
    case FileTagRe(sid, id) => Some((if (sid == null) "" else sid, id.toLong))
    case _                  => None
  }
  private val FileTagRe = "^(?:([A-Za-z0-9_-]+)~)?b([0-9]+)-.*".r

  /** True iff a data file belongs to the COMMITTED view of a
    * streaming-ingested layout: base files (no batch-tag prefix), files of
    * a batch the log records `pending`, and files of a batch already
    * FOLDED below its stream's watermark (promoted files keep their tag
    * prefix forever). A batchId in the log's `removed` set OVERRIDES both:
    * recording the removal is the rollback's commit point
    * ([[removeBatchGuarded]]), so a recorded batch's leftover files (a
    * rollback that crashed before its scrub) are never committed, even
    * after a watermark folds across the gap.
    */
  private def isCommittedFile(name: String, st: LogState): Boolean =
    tagOfFileName(name) match {
      case None => true
      case Some((sid, id)) =>
        !st.removedOf(sid).contains(id) &&
          (st.pendingOf(sid).contains(id) || id <= st.watermark(sid))
    }

  /** The committed parquet data files under the given partition-directory
    * globs, in one log state — the driver-side file pruning a
    * committed-only serve snapshot uses instead of a per-row
    * `input_file_name()` filter (which would pay a regex per scanned ROW;
    * this pays one list per layout, and the file count is base-files +
    * one-ish per ingest batch — metadata-sized). A half-promoted batch
    * (files landed, log not yet committed, or crashed before it) is
    * invisible to the returned set.
    */
  private[graft] def committedDataFiles(
      fs: org.apache.hadoop.fs.FileSystem, globs: Seq[String],
      st: LogState): Seq[String] =
    globs
      .flatMap { g =>
        Option(fs.globStatus(new org.apache.hadoop.fs.Path(g)))
          .getOrElse(Array.empty).toSeq
      }
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet") &&
        isCommittedFile(f.getPath.getName, st))
      .map(_.getPath.toString)

  def fs(spark: org.apache.spark.sql.SparkSession, path: String)
      : org.apache.hadoop.fs.FileSystem =
    org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path),
      spark.sparkContext.hadoopConfiguration)

  /** Escape Hadoop-glob metacharacters so a literal path can be embedded
    * in a glob pattern — an index at a legal directory like `/data/idx[v2]`
    * must not have `[v2]` read as a character class (the scrub would then
    * silently miss a crashed attempt's files and the replay would land
    * duplicates). Tag names never need escaping (charset-restricted).
    */
  def escapeGlob(literal: String): String =
    literal.replaceAll("([\\\\*?\\[\\]{}])", "\\\\$1")

  /** Delete every file matching the globs — replay's first step removes
    * whatever subset of this tag's files a crashed attempt landed.
    * Callers pass the index path through [[escapeGlob]]; only the
    * partition-dir and tag-prefix wildcards stay live.
    */
  def scrub(fs: org.apache.hadoop.fs.FileSystem, globs: Seq[String]): Unit =
    globs.foreach { g =>
      Option(fs.globStatus(new org.apache.hadoop.fs.Path(g)))
        .getOrElse(Array.empty)
        .foreach(st => fs.delete(st.getPath, false))
    }

  /** Move every staged parquet file into the live layout, preserving the
    * partition-directory structure and prefixing the filename with
    * `prefix` (what makes the batch's files scrubbable on replay).
    */
  def promote(fs: org.apache.hadoop.fs.FileSystem, stagedRoot: String,
              targetRoot: String, prefix: String): Unit = {
    // qualify BOTH roots: listFiles returns scheme-qualified paths, and
    // URI.relativize against a schemeless base silently returns the input
    // unchanged — which would promote into a garbage destination
    val root = fs.makeQualified(new org.apache.hadoop.fs.Path(stagedRoot))
    val target = fs.makeQualified(new org.apache.hadoop.fs.Path(targetRoot))
    if (!fs.exists(root)) return
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) {
        val rel = root.toUri.relativize(f.getPath.toUri).getPath
        require(!rel.startsWith("/"),
          s"cannot relativize ${f.getPath} against $root")
        val relDir = new org.apache.hadoop.fs.Path(rel).getParent
        val destDir =
          if (relDir == null) target
          else new org.apache.hadoop.fs.Path(target, relDir)
        fs.mkdirs(destDir)
        val dest = new org.apache.hadoop.fs.Path(destDir,
          prefix + f.getPath.getName)
        require(fs.rename(f.getPath, dest),
          s"promote rename failed: ${f.getPath} -> $dest")
      }
    }
  }

  /** One state of a streaming-ingested layout's ingest log — the single
    * commit record every ingest layout (BM25 postings, IVF-flat and IVF-PQ
    * chunk indexes) keeps under `<layout>/_graft_log/<version>`:
    *
    *   - `pending`: streamId → batchId → counter delta of every applied
    *     batch not yet folded (BM25: `n_docs`, `total_tokens`; empty for
    *     the dense layouts);
    *   - `watermarks`: streamId → highest batchId folded by [[compact]];
    *   - `removed`: batchIds deliberately rolled back by
    *     [[removeBatchGuarded]], so compaction can extend a watermark
    *     ACROSS an intentional gap (an unrecorded gap still pins it — that
    *     is an in-flight or crashed batch, and folding past it would stamp
    *     an uncommitted batch committed forever);
    *   - `payload`: the layout's base counters, advanced by the folded
    *     batches' deltas — BM25 carries `n_docs`, `total_tokens` and
    *     `n_buckets`; the dense layouts carry nothing.
    *
    * `removed` entries are KEPT, never pruned — the record is what makes a
    * crashed removal's re-run converge (idempotent no-op that finishes the
    * scrub) instead of hitting the permanently-committed refusal, and what
    * keeps a rollback's leftover files uncommitted ([[committedDataFiles]])
    * until something scrubs them. The growth bound is one long per
    * DELIBERATE rollback per stream (rare administrative operations; a
    * rebuild resets it).
    */
  private[graft] case class LogState(
      watermarks: Map[String, Long] = Map.empty,
      removed: Map[String, Set[Long]] = Map.empty,
      payload: Map[String, Long] = Map.empty,
      pending: Map[String, Map[Long, Map[String, Long]]] = Map.empty) {
    def watermark(streamId: String): Long = watermarks.getOrElse(streamId, -1L)
    def removedOf(streamId: String): Set[Long] =
      removed.getOrElse(streamId, Set.empty)
    def pendingOf(streamId: String): Map[Long, Map[String, Long]] =
      pending.getOrElse(streamId, Map.empty)
    /** `pending` with one stream's batches replaced by `ids`. */
    private[StreamCommit] def withPending(streamId: String,
                                          ids: Map[Long, Map[String, Long]])
        : Map[String, Map[Long, Map[String, Long]]] =
      if (ids.isEmpty) pending - streamId else pending + (streamId -> ids)
  }

  /** The layout's current state: the newest log entry. */
  private[graft] def readState(spark: org.apache.spark.sql.SparkSession,
                               path: String): LogState =
    stateOf(spark, path,
      VersionedLog.latest(spark.sparkContext.hadoopConfiguration, path)
        .map(_._2))

  /** The state a log entry body records. Two older forms still read: a
    * layout whose log holds no entry reads the sidecar the protocol kept
    * before the log existed (`_bm25_stats.json` or
    * `_ingest_watermarks.json`), and a layout whose newest entry carries no
    * `pending` (written when each batch committed through a
    * `_stream_appends/<tag>` marker file) reads its live markers as
    * `pending` — until the first [[advance]], which records them in the
    * log and deletes them.
    */
  private def stateOf(spark: org.apache.spark.sql.SparkSession, path: String,
                      body: Option[String]): LogState = {
    import org.json4s.JNothing
    val j = body.map(org.json4s.jackson.JsonMethods.parse(_))
    val st = j match {
      case Some(e) => LogState(longs(e \ "watermarks"),
        removedSets(e \ "removed"), longs(e \ "payload"),
        pendingSets(e \ "pending"))
      case None =>
        val f = fs(spark, path)
        Seq("_bm25_stats.json", "_ingest_watermarks.json")
          .map(n => new org.apache.hadoop.fs.Path(s"$path/$n"))
          .find(f.exists)
          .map(p => parseLegacy(Sidecar.readText(f, p)))
          .getOrElse(LogState())
    }
    if (j.exists(e => (e \ "pending") != JNothing)) st
    else st.copy(pending = legacyMarkers(spark, path, st))
  }

  /** The live `_stream_appends/<tag>` markers of a layout the marker
    * protocol wrote, as `pending`: a marker at or below its stream's
    * watermark was folded (its delta is in the payload) and one recorded
    * removed was rolled back, so neither is pending.
    */
  private def legacyMarkers(spark: org.apache.spark.sql.SparkSession,
                            path: String, st: LogState)
      : Map[String, Map[Long, Map[String, Long]]] = {
    val f = fs(spark, path)
    Option(f.globStatus(new org.apache.hadoop.fs.Path(
      s"${escapeGlob(path)}/_stream_appends/*"))).getOrElse(Array.empty).toSeq
      .flatMap(m => parseTag(m.getPath.getName).map { case (sid, id) =>
        (sid, id, m.getPath) })
      .filter { case (sid, id, _) =>
        id > st.watermark(sid) && !st.removedOf(sid).contains(id) }
      .groupBy(_._1)
      .map { case (sid, ms) => sid -> ms.map { case (_, id, p) =>
        val body = Sidecar.readText(f, p)
        id -> (if (body.isEmpty) Map.empty[String, Long]
          else longs(org.json4s.jackson.JsonMethods.parse(body)))
      }.toMap }
  }

  private implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats

  private def fields(j: org.json4s.JValue): List[(String, org.json4s.JValue)] =
    j match {
      case org.json4s.JObject(fs) => fs
      case _                      => Nil
    }

  private def longs(j: org.json4s.JValue): Map[String, Long] =
    fields(j).map { case (k, v) => k -> v.extract[Long] }.toMap

  private def removedSets(j: org.json4s.JValue): Map[String, Set[Long]] =
    fields(j).map { case (k, v) => k -> v.extract[Seq[Long]].toSet }.toMap

  private def pendingSets(j: org.json4s.JValue)
      : Map[String, Map[Long, Map[String, Long]]] =
    fields(j).map { case (sid, ids) =>
      sid -> fields(ids).map { case (id, d) => id.toLong -> longs(d) }.toMap
    }.toMap

  /** A pre-log sidecar body: the BM25 stats form (`n_docs`, `folded`,
    * `removed`), the dense watermark envelope (`watermarks`, `removed`),
    * or the oldest bare `{sid: wm}` map.
    */
  private def parseLegacy(body: String): LogState = {
    val j = org.json4s.jackson.JsonMethods.parse(body)
    if ((j \ "n_docs") != org.json4s.JNothing)
      LogState(longs(j \ "folded"), removedSets(j \ "removed"),
        Seq("n_docs", "total_tokens", "n_buckets")
          .map(k => k -> (j \ k).extract[Long]).toMap)
    else if ((j \ "watermarks") != org.json4s.JNothing)
      LogState(longs(j \ "watermarks"), removedSets(j \ "removed"))
    else LogState(longs(j))
  }

  private def render(st: LogState): String = {
    def obj[K, V](m: Map[K, V])(v: V => String) = m.toSeq
      .sortBy(_._1.toString)
      .map { case (k, x) => s"${Json.escape(k.toString)}:${v(x)}" }
      .mkString("{", ",", "}")
    def counters(m: Map[String, Long]) = obj(m)(_.toString)
    s"""{"watermarks":${counters(st.watermarks)},""" +
      s""""removed":${obj(st.removed.filter(_._2.nonEmpty))(
        _.toSeq.sorted.mkString("[", ",", "]"))},""" +
      s""""payload":${counters(st.payload)},""" +
      s""""pending":${obj(st.pending.filter(_._2.nonEmpty))(
        obj(_)(counters))}}"""
  }

  /** Commit the state `next` derives from the newest one as the next log
    * version through [[VersionedLog.advance]]: a round lost to a
    * concurrent writer re-derives from the newer state (so `next` must be
    * a merge, and may throw to refuse) and bumps
    * `ingest_log_cas_retry_total`. A layout whose marker files this
    * commit recorded as `pending` drops them afterwards (a crash before
    * the delete leaves them inert: the newest entry now carries
    * `pending`). Returns the committed state.
    */
  private[graft] def advance(spark: org.apache.spark.sql.SparkSession,
                             path: String)(next: LogState => LogState)
      : LogState = {
    val (st, _) = VersionedLog.advance(spark.sparkContext.hadoopConfiguration,
      path, "ingest_log_cas_retry_total") { body =>
      val s = next(stateOf(spark, path, body))
      (s, render(s))
    }
    val f = fs(spark, path)
    if (f.exists(markerDir(path))) f.delete(markerDir(path), true)
    st
  }

  private def markerDir(path: String) =
    new org.apache.hadoop.fs.Path(s"$path/_stream_appends")

  /** Serving-time counters: the log's payload plus every pending batch's
    * delta (a removed batch is never pending, a folded one is in the
    * payload already).
    */
  private[graft] def livePayload(st: LogState): Map[String, Long] =
    st.pending.values.flatMap(_.values).flatten.foldLeft(st.payload) {
      case (p, (k, d)) => p.updated(k, p.getOrElse(k, 0L) + d)
    }

  /** The per-stream contiguous fold: extend the watermark over the
    * contiguous run above `from` in which every batchId is pending OR
    * recorded removed. batchIds within one checkpoint lineage are
    * contiguous from 0, so an UNRECORDED gap means an in-flight or
    * crashed batch and pins the fold.
    */
  private def contiguousFold(from: Long, ids: Set[Long],
                             removed: Set[Long]): Long = {
    var w = from
    while (ids.contains(w + 1) || removed.contains(w + 1)) w += 1
    w
  }

  /** One compaction step on a log state: per stream, the watermark
    * extends over the contiguous pending-or-removed run
    * ([[contiguousFold]]) and the folded batches' deltas move from
    * `pending` into the payload.
    */
  private def fold(st: LogState): LogState = {
    val wm = st.watermarks ++ (st.pending.keySet ++ st.removed.keySet)
      .map(sid => sid -> contiguousFold(st.watermark(sid),
        st.pendingOf(sid).keySet, st.removedOf(sid)))
      .filter { case (sid, w) => w > st.watermark(sid) }
    val (folded, left) = st.pending.map { case (sid, ids) =>
      val (f, l) = ids.partition(_._1 <= wm.getOrElse(sid, -1L))
      (sid -> f, sid -> l)
    }.unzip
    st.copy(watermarks = wm,
      payload = livePayload(LogState(payload = st.payload,
        pending = folded.toMap)),
      pending = left.filter(_._2.nonEmpty).toMap)
  }

  /** Compaction for every ingest layout — bounds the `pending` map of
    * long-lived streams: [[fold]] in one [[advance]] (skipped when nothing
    * folds and no marker file is left to record and delete), then the
    * scrub of every recorded-removed batch's leftover files through the
    * layout's `tagGlobs` (batch tag → data-file globs), which finishes
    * crashed removals; a compaction killed before or during that scrub
    * re-runs to the same state. A stream left with
    * pending batches and no progress — an in-flight batch, a removal that
    * crashed before recording, or a lineage whose batchIds do not start
    * at 0 — logs a warning naming its first missing id and bumps
    * `ingest_compact_pinned_total`. Returns the committed state.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
              tagGlobs: String => Seq[String]): LogState = {
    val cur = readState(spark, path)
    val st =
      if (fold(cur) == cur && !fs(spark, path).exists(markerDir(path))) cur
      else advance(spark, path)(fold)
    st.pending.keys.filter(sid => st.watermark(sid) == cur.watermark(sid))
      .foreach { sid =>
        graft.metrics.GraftCounters.inc("ingest_compact_pinned_total")
        org.slf4j.LoggerFactory.getLogger("graft.util.StreamCommit").warn(
          s"compaction of stream '$sid' at $path made no progress: batch " +
            s"${st.watermark(sid) + 1} is neither applied nor recorded " +
            s"removed while later batches (${st.pendingOf(sid).keys.toSeq
              .sorted.take(5).mkString(",")}...) wait unfolded — either an " +
            "in-flight batch (fold resumes when it commits), a crashed " +
            "removal that was never recorded (re-run remove-ingest-batch " +
            "--missing-ok), or a lineage whose batchIds do not start at 0 " +
            "(unsupported: compaction can never fold this stream)")
      }
    scrub(fs(spark, path), st.removed.toSeq.flatMap { case (sid, ids) =>
      ids.toSeq.sorted.flatMap(id => tagGlobs(tag(sid, id))) })
    st
  }

  /** Roll back one streaming-ingested batch — the administrative "remove
    * a poisoned batch" operation for every ingest layout (each passes its
    * batch's data-file globs). Protocol:
    *   1. pre-check: a batch already recorded removed is an idempotent
    *      no-op that finishes a crashed attempt's scrub; a batch at or
    *      below the watermark and NOT recorded removed is permanently
    *      committed — folded, its delta (if any) in the payload where it
    *      cannot be subtracted — refuse loudly; a batch with NO trace at
    *      all (not pending, no data files) is refused unless
    *      `allowMissing` — recording a never-ingested batchId would
    *      permanently refuse its future apply;
    *   2. one [[advance]] moves the batch from `pending` to `removed` —
    *      THE COMMIT POINT of the removal. Each round re-checks the fold
    *      guard, so a compaction that folded the batch meanwhile fails the
    *      removal loudly ("concurrently compacted") with NOTHING mutated;
    *      a compaction after this commit sees the record, skips the batch
    *      (and its delta) and extends the watermark across the gap;
    *   3. scrub the batch's data files, in glob order (the PQ index
    *      passes codes before vecs). A crash after step 2 leaves a
    *      recorded removal whose re-run (step 1's no-op arm) — or the
    *      next compaction — converges; until the scrub completes, the
    *      record keeps the leftovers out of every committed serve
    *      ([[committedDataFiles]]) while default serves may see them
    *      transiently (the documented at-least-once mode).
    * Re-ingesting a removed batchId is REFUSED by the apply paths
    * ([[refuseReplayOfRemoved]]) — a replay must not resurrect a
    * deliberate rollback; fixed data re-ingests under a fresh batchId.
    * Reader contract (serve-vs-rollback): rollback does NOT quiesce
    * serves. A serve planned before the rollback holds a file listing and
    * fails LOUDLY (FileNotFoundException) when executed after the scrub —
    * it never silently serves a partial batch. Returns whether the batch
    * was pending (false when it was already removed, or never committed —
    * its leftovers are still scrubbed).
    */
  private[graft] def removeBatchGuarded(
      spark: org.apache.spark.sql.SparkSession, path: String,
      streamId: String, batchId: Long, dataGlobs: Seq[String],
      afterPreCheck: () => Unit = () => (),
      allowMissing: Boolean = false): Boolean = {
    requireValidStreamId(streamId)
    val f = fs(spark, path)
    val st0 = readState(spark, path)
    if (st0.removedOf(streamId).contains(batchId)) {
      // finish a crashed earlier attempt: the record IS the removal's
      // commit point, so complete the physical cleanup
      scrub(f, dataGlobs)
      return false
    }
    def folded(st: LogState) = batchId <= st.watermark(streamId) &&
      !st.removedOf(streamId).contains(batchId)
    if (folded(st0))
      throw new IllegalStateException(
        s"ingest batch $batchId of stream '$streamId' at $path is at or " +
          s"below the compaction watermark (${st0.watermark(streamId)}) — " +
          "folded batches are permanently committed (a folded stats delta " +
          "cannot be subtracted); rebuild the index instead")
    val had = st0.pendingOf(streamId).contains(batchId)
    // refuse to record a removal for a batch with NO trace (not pending,
    // no data files): batchIds are engine-assigned and contiguous, so a
    // recorded removal of a NOT-YET-ingested id would permanently refuse
    // that id's future apply — a fat-fingered `remove-ingest-batch 7`
    // (meant 1) would otherwise brick the stream when micro-batch 7
    // arrives. allowMissing=true is the explicit override for the one
    // legitimate traceless case: residue of a removal that crashed before
    // recording (batch and files already gone, the watermark pinned at
    // the unrecorded gap) that needs the removal recorded to let
    // compaction fold across it.
    if (!allowMissing && !had && dataGlobs.forall(g =>
        Option(f.globStatus(new org.apache.hadoop.fs.Path(g)))
          .getOrElse(Array.empty).isEmpty))
      throw new IllegalArgumentException(
        s"ingest batch $batchId of stream '$streamId' at $path was never " +
          "committed and has no data files — nothing to remove. If this " +
          "batchId was never ingested, recording its removal would " +
          "permanently refuse its future apply (batchIds are " +
          "engine-assigned); if it is the residue of a removal that " +
          "crashed after its scrub but before recording (watermark pinned " +
          "at the gap), re-run with allowMissing/--missing-ok to record it")
    afterPreCheck()
    advance(spark, path) { st =>
      if (folded(st))
        throw new IllegalStateException(
          s"ingest batch $batchId of stream '$streamId' at $path was " +
            "concurrently compacted (concurrently folded below the " +
            "watermark by a compaction that committed after this " +
            "removal's pre-check). Its data files were NOT scrubbed: the " +
            "index still serves the batch correctly; rebuild the index to " +
            "remove it")
      st.copy(pending = st.withPending(streamId,
          st.pendingOf(streamId) - batchId),
        removed = st.removed +
          (streamId -> (st.removedOf(streamId) + batchId)))
    }
    scrub(f, dataGlobs)
    had
  }

  /** EXACTLY-ONCE application of one ingest batch `(streamId, batchId)` to
    * the layout at `path` — the whole protocol every ingest layout shares:
    *
    *   1. replay gate: a batch the log records pending or folded is
    *      already applied (no-op), and a recorded rollback is refused
    *      loudly ([[refuseReplayOfRemoved]]);
    *   2. scrub: delete every file of this tag (`globs(tag)`) — a replay
    *      after a crash before the log commit removes whatever subset
    *      landed;
    *   3. stage: `stage(stagingDir, logState)` writes the batch under
    *      `_staging/<tag>/` (invisible to every reader) and returns the
    *      batch's counter delta;
    *   4. promote: each `(stagedSubdir, targetRoot)` of `promotes`, in
    *      order, per-file renamed under a `<tag>-`-prefixed name;
    *   5. commit: one [[advance]] adds the batch and its delta to
    *      `pending` (re-checking step 1's gate each round, so a batch
    *      recorded removed meanwhile is refused), then staging cleanup.
    *
    * Every step is idempotent or scrubbed, so any crash point replays to
    * the single-application state; concurrent applies of different tags
    * all land (a lost log round re-derives). Returns false when the batch
    * was already applied. File renames are atomic on rename-capable stores
    * (local, HDFS, ABFS); an S3 deployment fronts this with a
    * rename-capable committer. Concurrent zombie applications of the SAME
    * tag are the one unguarded case (no lock file) — Spark's streaming
    * engine serializes foreachBatch per query, which is the deployment
    * contract here.
    */
  private[graft] def applyBatch(spark: org.apache.spark.sql.SparkSession,
                                path: String, streamId: String,
                                batchId: Long, globs: String => Seq[String],
                                promotes: Seq[(String, String)])
      (stage: (String, LogState) => Map[String, Long]): Boolean = {
    requireValidStreamId(streamId)
    def applied(st: LogState) =
      refuseReplayOfRemoved(st, streamId, batchId, path) ||
        st.pendingOf(streamId).contains(batchId)
    val st = readState(spark, path)
    if (applied(st)) return false
    val f = fs(spark, path)
    val t = tag(streamId, batchId)
    scrub(f, globs(t))
    val staging = s"$path/_staging/$t"
    f.delete(new org.apache.hadoop.fs.Path(staging), true)
    val delta = stage(staging, st)
    promotes.foreach { case (sub, target) =>
      promote(f, if (sub.isEmpty) staging else s"$staging/$sub", target, s"$t-")
    }
    advance(spark, path) { cur =>
      if (applied(cur)) cur
      else cur.copy(pending = cur.withPending(streamId,
        cur.pendingOf(streamId) + (batchId -> delta)))
    }
    f.delete(new org.apache.hadoop.fs.Path(staging), true)
    true
  }

  /** Apply-side replay gate shared by the streaming-ingest apply paths:
    * returns true (skip — the batch is already committed AND folded) for
    * a batchId at or below the stream's watermark, and REFUSES loudly a
    * batchId recorded as deliberately removed — an at-least-once replay
    * (or a manual re-ingest) of a rolled-back batch would silently
    * resurrect data an administrator excised (the recorded removal makes
    * its files uncommitted forever, so the re-applied data would be
    * half-visible at best). Fixed data re-ingests under a FRESH batchId
    * (or a fresh streamId/checkpoint).
    */
  private def refuseReplayOfRemoved(st: LogState, streamId: String,
                                    batchId: Long, path: String): Boolean = {
    if (st.removedOf(streamId).contains(batchId))
      throw new IllegalStateException(
        s"ingest batch $batchId of stream '$streamId' at $path was " +
          "deliberately rolled back (recorded in the ingest log's removed " +
          "set) — re-applying it would resurrect an excised batch. " +
          "Re-ingest corrected data under a fresh batchId or streamId")
    batchId <= st.watermark(streamId)
  }
}
