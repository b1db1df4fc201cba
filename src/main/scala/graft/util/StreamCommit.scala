package graft.util

/** Shared mechanics of the exactly-once micro-batch commit protocol the
  * streaming index ingests use (IVF-flat and IVF-PQ chunk indexes, BM25
  * postings index): every batch's files land in the live partitioned layout
  * under a batch-tagged filename prefix, gated by a marker file —
  *
  *   marker gate → replay gate → scrub this tag's files → stage under
  *   `_staging/` → per-file rename into the layout → marker write →
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
  * marker, DROPPING data. Every new checkpoint directory must therefore
  * carry its own streamId (concurrent streams into one index get distinct
  * namespaces the same way).
  *
  * Administrative state — compaction watermarks, recorded rollbacks and a
  * layout's base counters — lives in ONE versioned ingest log per layout
  * (`_graft_log/<version>`, [[LogState]]), committed by create-if-absent
  * ([[commit]]), the offset/commit-log discipline of Structured
  * Streaming. One compaction ([[compactMarkers]]) and one guarded removal
  * ([[removeBatchGuarded]]) serve every ingest layout.
  */
object StreamCommit {

  /** Tag charset is restricted so tags parse unambiguously and never glob. */
  def requireValidStreamId(streamId: String): Unit =
    require(streamId.matches("[A-Za-z0-9_-]*"),
      s"streamId must match [A-Za-z0-9_-]*, got '$streamId'")

  /** Marker name / filename-prefix stem for one (streamId, batchId). */
  def tag(streamId: String, batchId: Long): String =
    if (streamId.isEmpty) s"b$batchId" else s"$streamId~b$batchId"

  /** Inverse of [[tag]]: (streamId, batchId), or None for foreign files. */
  def parseTag(name: String): Option[(String, Long)] = name match {
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
    * a batch whose marker is present, and files of a batch already FOLDED
    * below its stream's watermark — compaction deletes markers but
    * promoted files keep their tag prefix forever, so for those the
    * watermark (not marker presence) is the durable commit record. A
    * batchId in the log's `removed` set OVERRIDES both: recording the
    * removal intent is the rollback's commit point ([[removeBatchGuarded]]),
    * so a recorded batch's leftover files (a rollback that crashed before
    * its scrub) are never committed, even while its marker lingers or
    * after a watermark folds across the gap.
    */
  private def isCommittedFile(name: String, markerTags: Set[String],
                              st: LogState): Boolean =
    tagOfFileName(name) match {
      case None => true
      case Some((sid, id)) =>
        !st.removedOf(sid).contains(id) &&
          (markerTags.contains(tag(sid, id)) || id <= st.watermark(sid))
    }

  /** The committed parquet data files under the given partition-directory
    * globs, for one [[committedView]] — the driver-side file pruning a
    * committed-only serve snapshot uses instead of a per-row
    * `input_file_name()` filter (which would pay a regex per scanned ROW;
    * this pays one list per layout, and the file count is base-files +
    * one-ish per ingest batch — metadata-sized). A half-promoted batch
    * (files landed, marker not yet written, or crashed before its marker)
    * is invisible to the returned set.
    */
  private[graft] def committedDataFiles(
      fs: org.apache.hadoop.fs.FileSystem, globs: Seq[String],
      markers: Seq[(String, Long, String)], st: LogState): Seq[String] = {
    val tags = markers.map(m => tag(m._1, m._2)).toSet
    globs
      .flatMap { g =>
        Option(fs.globStatus(new org.apache.hadoop.fs.Path(g)))
          .getOrElse(Array.empty).toSeq
      }
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet") &&
        isCommittedFile(f.getPath.getName, tags, st))
      .map(_.getPath.toString)
  }

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

  /** Write the marker that commits the batch (its existence IS the
    * applied-ness of the tag; `body` may carry per-batch metadata, e.g.
    * BM25's stats delta). Written to a dot-temp name and renamed into
    * place: the marker's EXISTENCE is the commit, so a create-then-write
    * would expose a visible empty marker between the two — a crash there
    * would gate replays forever while the body (BM25's stats delta) was
    * never recorded, and a concurrent reader could fold a torn delta.
    * Dot-prefixed temps are harmless to [[listMarkers]] — its `*` glob
    * DOES match dot-files (Hadoop globStatus has no hidden-file rule), but
    * [[parseTag]] rejects the `.tag.tmp.x` shape — and never gate a
    * replay. A crash between the temp write and the rename leaves the
    * temp behind; this tag's replay reaches this function again and the
    * scrub below removes it, so temps never accumulate on a live stream
    * (abandoned streams' stragglers are swept by [[compactMarkers]]).
    */
  def writeMarker(fs: org.apache.hadoop.fs.FileSystem, path: String,
                  tagName: String, body: String = ""): Unit = {
    val marker = new org.apache.hadoop.fs.Path(
      s"$path/_stream_appends/$tagName")
    fs.mkdirs(marker.getParent)
    // tag names are charset-restricted ([[requireValidStreamId]]) so the
    // embedded tag never needs glob escaping; the layout path does
    scrub(fs, Seq(
      s"${escapeGlob(path)}/_stream_appends/.$tagName.tmp.*"))
    val tmp = new org.apache.hadoop.fs.Path(marker.getParent,
      s".$tagName.tmp.${java.util.UUID.randomUUID().toString.take(8)}")
    val os = fs.create(tmp, true)
    try os.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally os.close()
    require(fs.rename(tmp, marker), s"marker rename failed: $tmp -> $marker")
  }

  def markerExists(fs: org.apache.hadoop.fs.FileSystem, path: String,
                   tagName: String): Boolean =
    fs.exists(new org.apache.hadoop.fs.Path(s"$path/_stream_appends/$tagName"))

  /** One state of a streaming-ingested layout's ingest log — the single
    * admin record every ingest layout (BM25 postings, IVF-flat and IVF-PQ
    * chunk indexes) keeps under `<layout>/_graft_log/<version>`:
    *
    *   - `watermarks`: streamId → highest batchId permanently committed by
    *     [[compactMarkers]] (its marker folded and deleted);
    *   - `removed`: batchIds deliberately rolled back by
    *     [[removeBatchGuarded]], so compaction can extend a watermark
    *     ACROSS an intentional gap (an unrecorded gap still pins it — that
    *     is an in-flight crash, and folding past it would stamp an
    *     uncommitted batch committed forever);
    *   - `payload`: the layout's base counters, advanced by the folded
    *     markers' bodies — BM25 carries `n_docs`, `total_tokens` and
    *     `n_buckets`; the dense layouts carry nothing.
    *
    * `removed` entries are KEPT, never pruned — the record is what makes a
    * crashed removal's re-run converge (idempotent no-op that finishes the
    * scrub) instead of hitting the permanently-committed refusal, and what
    * keeps a rollback's leftover files uncommitted ([[committedDataFiles]])
    * until something scrubs them. The growth bound is one long per
    * DELIBERATE rollback per stream (rare administrative operations; a
    * rebuild resets it). Pruning entries at or below the watermark was
    * considered and rejected: with the intent-record-FIRST removal
    * ordering, a recorded entry does not imply its scrub completed, so
    * pruning could re-commit orphaned files.
    */
  private[graft] case class LogState(version: Long,
                                     watermarks: Map[String, Long],
                                     removed: Map[String, Set[Long]],
                                     payload: Map[String, Long]) {
    def watermark(streamId: String): Long = watermarks.getOrElse(streamId, -1L)
    def removedOf(streamId: String): Set[Long] =
      removed.getOrElse(streamId, Set.empty)
    /** The state to commit as the next version. */
    def next(watermarks: Map[String, Long] = watermarks,
             removed: Map[String, Set[Long]] = removed,
             payload: Map[String, Long] = payload): LogState =
      LogState(version + 1, watermarks, removed, payload)
  }

  /** The layout's current state: the highest-numbered log entry. A layout
    * whose log holds no entry yet reads the sidecar the protocol kept
    * before the log existed (`_bm25_stats.json` or
    * `_ingest_watermarks.json`) at its recorded version, so the first
    * commit writes the next version and the sidecar is ignored from then
    * on; with neither, the state is version 0 and empty.
    */
  private[graft] def readState(spark: org.apache.spark.sql.SparkSession,
                               path: String): LogState =
    VersionedLog.latest(spark.sparkContext.hadoopConfiguration, path) match {
      case Some((v, body)) => parseState(v, body)
      case None =>
        val f = fs(spark, path)
        Seq("_bm25_stats.json", "_ingest_watermarks.json")
          .map(n => new org.apache.hadoop.fs.Path(s"$path/$n"))
          .find(f.exists)
          .map(p => parseLegacy(Sidecar.readText(f, p)))
          .getOrElse(LogState(0L, Map.empty, Map.empty, Map.empty))
    }

  private implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats

  private def longs(j: org.json4s.JValue): Map[String, Long] = j match {
    case org.json4s.JObject(fields) =>
      fields.map { case (k, v) => k -> v.extract[Long] }.toMap
    case _ => Map.empty
  }

  private def removedSets(j: org.json4s.JValue): Map[String, Set[Long]] =
    j match {
      case org.json4s.JObject(fields) =>
        fields.map { case (k, v) => k -> v.extract[Seq[Long]].toSet }.toMap
      case _ => Map.empty
    }

  private def parseState(version: Long, body: String): LogState = {
    val j = org.json4s.jackson.JsonMethods.parse(body)
    LogState(version, longs(j \ "watermarks"), removedSets(j \ "removed"),
      longs(j \ "payload"))
  }

  /** A pre-log sidecar body: the BM25 stats form (`n_docs`, `folded`,
    * `removed`, `version`), the dense watermark envelope (`watermarks`,
    * `removed`, `version`), or the oldest bare `{sid: wm}` map (version 0).
    */
  private def parseLegacy(body: String): LogState = {
    val j = org.json4s.jackson.JsonMethods.parse(body)
    val version = (j \ "version").extractOpt[Long].getOrElse(0L)
    if ((j \ "n_docs") != org.json4s.JNothing)
      LogState(version, longs(j \ "folded"), removedSets(j \ "removed"),
        Seq("n_docs", "total_tokens", "n_buckets")
          .map(k => k -> (j \ k).extract[Long]).toMap)
    else if ((j \ "watermarks") != org.json4s.JNothing)
      LogState(version, longs(j \ "watermarks"), removedSets(j \ "removed"),
        Map.empty)
    else LogState(0L, longs(j), Map.empty, Map.empty)
  }

  private def render(st: LogState): String = {
    def obj[V](m: Map[String, V])(v: V => String) = m.toSeq.sortBy(_._1)
      .map { case (k, x) => s"${Json.escape(k)}:${v(x)}" }
      .mkString("{", ",", "}")
    s"""{"watermarks":${obj(st.watermarks)(_.toString)},""" +
      s""""removed":${obj(st.removed.filter(_._2.nonEmpty))(
        _.toSeq.sorted.mkString("[", ",", "]"))},""" +
      s""""payload":${obj(st.payload)(_.toString)}}"""
  }

  /** Commit `next` as log entry `next.version` through
    * [[VersionedLog.commit]] — the compare-and-swap every administrative
    * writer (compaction, guarded removal, BM25's batch append and index
    * build) goes through. A lost round (the version was already taken, or
    * fell below the kept window while this writer held its state) becomes
    * an `IllegalStateException` naming the "CAS conflict" and the caller's
    * recovery hint (a compaction re-runs whole; a BM25 batch append must
    * NOT re-run — its postings already landed), plus an
    * `ingest_log_cas_conflict_total` bump.
    */
  private[graft] def commit(spark: org.apache.spark.sql.SparkSession,
                            path: String, next: LogState,
                            recoveryHint: String): Unit =
    VersionedLog.commit(spark.sparkContext.hadoopConfiguration, path,
      next.version, render(next)).foreach { what =>
      graft.metrics.GraftCounters.inc("ingest_log_cas_conflict_total")
      throw new IllegalStateException(
        s"ingest log CAS conflict at $path: $what — a concurrent " +
          "administrative writer (compaction / remove-ingest-batch / " +
          s"index append) committed first. Recovery: $recoveryHint")
    }

  /** A marker body's counter deltas (BM25: `n_docs`, `total_tokens`);
    * a dense layout's empty marker adds nothing.
    */
  private def markerDelta(body: String): Map[String, Long] =
    if (body.isEmpty) Map.empty
    else longs(org.json4s.jackson.JsonMethods.parse(body))

  private def plus(payload: Map[String, Long],
                   markers: Seq[(String, Long, String)]): Map[String, Long] =
    markers.flatMap(m => markerDelta(m._3)).foldLeft(payload) {
      case (p, (k, d)) => p.updated(k, p.getOrElse(k, 0L) + d)
    }

  /** Serving-time counters: the log's payload plus every marker that is
    * neither folded (at or below its stream's watermark — its delta is
    * already in the payload) nor recorded removed (a rollback's intent
    * record commits the removal BEFORE its marker delete, so a lingering
    * marker's delta must not serve).
    */
  private[graft] def livePayload(markers: Seq[(String, Long, String)],
                                 st: LogState): Map[String, Long] =
    plus(st.payload, markers.filter { case (sid, id, _) =>
      id > st.watermark(sid) && !st.removedOf(sid).contains(id) })

  /** One committed view of a layout: its markers listed FIRST, the log
    * state read SECOND. Compaction commits the new state (watermark and
    * folded deltas) strictly before deleting the markers it folded, so
    * with this order every interleaving of a concurrent compaction
    * converges: a view that sees the PRE-compaction state also sees every
    * unfolded marker (none deleted yet when the list ran), and a view
    * that sees the POST-compaction state filters the already-listed
    * folded markers out via the watermark. The reverse order would read
    * an old state and then a post-delete marker list, dropping a
    * just-folded batch — and its delta — from the view.
    */
  private[graft] def committedView(spark: org.apache.spark.sql.SparkSession,
                                   path: String)
      : (Seq[(String, Long, String)], LogState) = {
    val markers = listMarkers(fs(spark, path), path)
    (markers, readState(spark, path))
  }

  /** The per-stream contiguous fold: extend the watermark over the
    * contiguous run above `from` in which every batchId has a marker OR is
    * recorded removed. batchIds within one checkpoint lineage are
    * contiguous from 0, so an UNRECORDED gap means an in-flight crash and
    * pins the fold — but a stream that makes NO progress while holding
    * unfolded markers is also the signature of a lineage that does not
    * start at 0 (a manual ingest with 1-based ids), for which compaction
    * would silently never bound the marker scan; that case logs a warning
    * naming the first missing id and bumps `ingest_compact_pinned_total`
    * so it is observable.
    */
  private[graft] def contiguousFold(path: String, streamId: String,
                                    from: Long, ids: Set[Long],
                                    removed: Set[Long]): Long = {
    var w = from
    while (ids.contains(w + 1) || removed.contains(w + 1)) w += 1
    if (w == from && ids.exists(_ > from)) {
      graft.metrics.GraftCounters.inc("ingest_compact_pinned_total")
      org.slf4j.LoggerFactory.getLogger("graft.util.StreamCommit").warn(
        s"compaction of stream '$streamId' at $path made no progress: " +
          s"batch ${from + 1} has no marker and no removal record while " +
          s"later batches (${ids.filter(_ > from).toSeq.sorted.take(5)
            .mkString(",")}...) wait unfolded — either an in-flight batch " +
          "(fold resumes when its marker lands), a crashed removal that " +
          "was never recorded (re-run remove-ingest-batch --missing-ok), " +
          "or a lineage whose batchIds do not start at 0 (unsupported: " +
          "compaction can never bound this stream's marker scan)")
    }
    w
  }

  /** Marker compaction for every ingest layout — bounds the per-serve
    * marker scan of long-lived streams. Per stream, the watermark extends
    * over the contiguous markers-or-removed run ([[contiguousFold]]); the
    * bodies of the folded markers that were not rolled back add their
    * deltas into the payload (BM25's `n_docs`/`total_tokens`; dense
    * markers are empty and add nothing). The log commit ([[commit]]) is
    * the commit point; marker deletion after it is idempotent (a
    * surviving folded marker is redundant with the watermark — every read
    * path agrees — and the next compaction deletes it). The compaction
    * also sweeps stale marker temps (crashed [[writeMarker]] attempts of
    * abandoned streams; a compaction that deletes a concurrently in-flight
    * temp fails that marker's rename loudly, and the batch replays) and
    * finishes crashed removals by scrubbing every recorded-removed
    * batch's leftover files through the layout's `tagGlobs` (batch tag →
    * data-file globs).
    *
    * The state is read BEFORE the markers are listed, so a removal's
    * intent record landing in between moves the version and fails this
    * compaction's commit — a stale marker listing can never fold a
    * rolled-back batch (or its delta) silently. Returns the new
    * watermarks.
    */
  def compactMarkers(spark: org.apache.spark.sql.SparkSession, path: String,
                     tagGlobs: String => Seq[String]): Map[String, Long] = {
    val f = fs(spark, path)
    scrub(f, Seq(s"${escapeGlob(path)}/_stream_appends/.*.tmp.*"))
    // state FIRST, markers second (see scaladoc)
    val st = readState(spark, path)
    compactMarkersFrom(spark, path, st, listMarkers(f, path), tagGlobs)
  }

  /** The read-modify-write half of [[compactMarkers]] — the pre-read
    * state and pre-listed markers are injectable so the specs can pin the
    * compaction-vs-removal race orders deterministically.
    */
  private[graft] def compactMarkersFrom(
      spark: org.apache.spark.sql.SparkSession, path: String, st: LogState,
      markers: Seq[(String, Long, String)],
      tagGlobs: String => Seq[String]): Map[String, Long] = {
    val f = fs(spark, path)
    val byStream = markers.groupBy(_._1)
    val wm = st.watermarks ++ (byStream.keySet ++ st.removed.keySet)
      .map(sid => sid -> contiguousFold(path, sid, st.watermark(sid),
        byStream.getOrElse(sid, Seq.empty).map(_._2).toSet, st.removedOf(sid)))
      .filter { case (sid, w) => w > st.watermark(sid) }
    if (wm != st.watermarks)
      commit(spark, path, st.next(watermarks = wm,
        payload = plus(st.payload, markers.filter { case (sid, id, _) =>
          id > st.watermark(sid) && id <= wm.getOrElse(sid, -1L) &&
            !st.removedOf(sid).contains(id) })),
        "re-run the compaction — it is idempotent (unfolded markers are " +
          "re-read; the conflicting writer's update is the one on disk)")
    markers
      .filter { case (sid, id, _) => id <= wm.getOrElse(sid, -1L) }
      .foreach { case (sid, id, _) =>
        f.delete(new org.apache.hadoop.fs.Path(
          s"$path/_stream_appends/${tag(sid, id)}"), false)
      }
    scrub(f, st.removed.toSeq.flatMap { case (sid, ids) =>
      ids.toSeq.sorted.flatMap(id => tagGlobs(tag(sid, id))) })
    wm
  }

  /** Roll back one streaming-ingested batch — the administrative "remove
    * a poisoned batch" operation, INTENT-RECORD-FIRST, for every ingest
    * layout (each passes its batch's data-file globs). Protocol:
    *   1. pre-check: a batch already recorded removed is an idempotent
    *      no-op that finishes a crashed attempt's physical cleanup
    *      (lingering marker deleted, leftover files scrubbed); a batch at
    *      or below the watermark and NOT recorded removed is permanently
    *      committed — folded, its delta (if any) in the payload where it
    *      cannot be subtracted — refuse loudly; a batch with NO trace at
    *      all (no marker, no data files) is refused unless `allowMissing`
    *      — recording a never-ingested batchId would permanently refuse
    *      its future apply;
    *   2. commit the batchId into the log's `removed` set — THE COMMIT
    *      POINT of the removal, and the whole race guard: a concurrent
    *      [[compactMarkers]] that committed between the state read and
    *      this commit takes the version and fails THIS commit with
    *      NOTHING yet mutated (re-run; if the batch is now below the
    *      watermark it was concurrently folded — the loud "concurrently
    *      compacted" failure, files intact, still served correctly,
    *      rebuild to remove); a compaction that reads state AFTER this
    *      commit sees the recorded removal, so its fold skips the batch
    *      (and its delta) and extends the watermark across the deliberate
    *      gap. Every later mutation happens strictly after the version
    *      any stale compaction must fail against;
    *   3. delete the marker (a delta it carries dies with it);
    *   4. scrub the batch's data files, in glob order (the PQ index
    *      passes codes before vecs). A crash anywhere after step 2 leaves
    *      a recorded removal whose re-run (step 1's no-op arm) — or the
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
    * it never silently serves a partial batch. Returns false when the
    * batch was already removed or its marker was already absent
    * (leftovers are still scrubbed).
    */
  private[graft] def removeBatchGuarded(
      spark: org.apache.spark.sql.SparkSession, path: String,
      streamId: String, batchId: Long, dataGlobs: Seq[String],
      afterPreCheck: () => Unit = () => (),
      afterMarkerDelete: () => Unit = () => (),
      allowMissing: Boolean = false): Boolean = {
    requireValidStreamId(streamId)
    val f = fs(spark, path)
    val st0 = readState(spark, path)
    val tagName = tag(streamId, batchId)
    def deleteMarker(): Boolean = markerExists(f, path, tagName) &&
      f.delete(new org.apache.hadoop.fs.Path(
        s"$path/_stream_appends/$tagName"), false)
    if (st0.removedOf(streamId).contains(batchId)) {
      // finish a crashed earlier attempt: the intent record IS the
      // removal's commit point, so complete the physical cleanup
      deleteMarker()
      scrub(f, dataGlobs)
      return false
    }
    if (batchId <= st0.watermark(streamId))
      throw new IllegalStateException(
        s"ingest batch $batchId of stream '$streamId' at $path is at or " +
          s"below the compaction watermark (${st0.watermark(streamId)}) — " +
          "folded batches are permanently committed (a folded stats delta " +
          "cannot be subtracted); rebuild the index instead")
    // refuse to record a removal for a batch with NO trace (no marker, no
    // data files): batchIds are engine-assigned and contiguous, so a
    // recorded removal of a NOT-YET-ingested id would permanently refuse
    // that id's future apply — a fat-fingered `remove-ingest-batch 7`
    // (meant 1) would otherwise brick the stream when micro-batch 7
    // arrives. allowMissing=true is the explicit override for the one
    // legitimate traceless case: residue of a removal that crashed before
    // recording (marker and files already gone, the watermark pinned at
    // the unrecorded gap) that needs the removal recorded to let
    // compaction fold across it.
    if (!allowMissing && !markerExists(f, path, tagName) &&
      dataGlobs.forall(g =>
        Option(f.globStatus(new org.apache.hadoop.fs.Path(g)))
          .getOrElse(Array.empty).isEmpty))
      throw new IllegalArgumentException(
        s"ingest batch $batchId of stream '$streamId' at $path has no " +
          "marker and no data files — nothing to remove. If this batchId " +
          "was never ingested, recording its removal would permanently " +
          "refuse its future apply (batchIds are engine-assigned); if it " +
          "is the residue of a removal that crashed after its scrub but " +
          "before recording (watermark pinned at the gap), re-run with " +
          "allowMissing/--missing-ok to record it")
    afterPreCheck()
    try {
      commit(spark, path, st0.next(removed = st0.removed +
        (streamId -> (st0.removedOf(streamId) + batchId))),
        "nothing is mutated yet (the intent record is the removal's FIRST " +
          s"write) — re-run remove-ingest-batch $batchId (idempotent)")
    } catch {
      case e: IllegalStateException =>
        val now = readState(spark, path)
        if (batchId <= now.watermark(streamId) &&
          !now.removedOf(streamId).contains(batchId))
          throw new IllegalStateException(
            s"ingest batch $batchId of stream '$streamId' at $path was " +
              "concurrently compacted (concurrently folded below the " +
              "watermark by a compaction that committed between this " +
              "removal's state read and its intent record). Its data " +
              "files were NOT scrubbed: the index still serves the batch " +
              "correctly; rebuild the index to remove it", e)
        throw e
    }
    val had = deleteMarker()
    afterMarkerDelete()
    scrub(f, dataGlobs)
    had
  }

  /** EXACTLY-ONCE application of one ingest batch `(streamId, batchId)` to
    * the layout at `path` — the whole protocol every ingest layout shares:
    *
    *   1. marker gate: the tag's marker exists → fully applied, no-op;
    *   2. replay gate ([[refuseReplayOfRemoved]]): marker gone ≠ never
    *      applied — compaction deletes folded markers (no-op), and a
    *      recorded rollback is refused loudly;
    *   3. scrub: delete every file of this tag (`globs(tag)`) — a replay
    *      after a mid-promote crash removes whatever subset landed;
    *   4. stage: `stage(stagingDir, logState)` writes the batch under
    *      `_staging/<tag>/` (invisible to every reader, like the sidecars)
    *      and returns the marker body;
    *   5. promote: each `(stagedSubdir, targetRoot)` of `promotes`, in
    *      order, per-file renamed under a `<tag>-`-prefixed name;
    *   6. marker write, then staging cleanup.
    *
    * Every step is idempotent or scrubbed, so any crash point replays to
    * the single-application state. Returns false when the batch was
    * already applied. File renames are atomic on rename-capable stores
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
      (stage: (String, LogState) => String): Boolean = {
    requireValidStreamId(streamId)
    val f = fs(spark, path)
    val t = tag(streamId, batchId)
    if (markerExists(f, path, t)) return false
    val st = readState(spark, path)
    if (refuseReplayOfRemoved(st, streamId, batchId, path)) return false
    scrub(f, globs(t))
    val staging = s"$path/_staging/$t"
    f.delete(new org.apache.hadoop.fs.Path(staging), true)
    val body = stage(staging, st)
    promotes.foreach { case (sub, target) =>
      promote(f, if (sub.isEmpty) staging else s"$staging/$sub", target, s"$t-")
    }
    writeMarker(f, path, t, body)
    f.delete(new org.apache.hadoop.fs.Path(staging), true)
    true
  }

  /** Apply-side replay gate shared by the streaming-ingest apply paths:
    * returns true (skip — the batch is already committed AND folded; its
    * marker was deleted by compaction, so the marker-existence gate alone
    * would wrongly re-apply it) for a batchId at or below the stream's
    * watermark, and REFUSES loudly a batchId recorded as deliberately
    * removed — an at-least-once replay (or a manual re-ingest) of a
    * rolled-back batch would silently resurrect data an administrator
    * excised (the recorded removal makes its files uncommitted forever,
    * so the re-applied data would be half-visible at best). Fixed data
    * re-ingests under a FRESH batchId (or a fresh streamId/checkpoint).
    */
  private[graft] def refuseReplayOfRemoved(st: LogState, streamId: String,
                                           batchId: Long,
                                           path: String): Boolean = {
    if (st.removedOf(streamId).contains(batchId))
      throw new IllegalStateException(
        s"ingest batch $batchId of stream '$streamId' at $path was " +
          "deliberately rolled back (recorded in the ingest log's removed " +
          "set) — re-applying it would resurrect an excised batch. " +
          "Re-ingest corrected data under a fresh batchId or streamId")
    batchId <= st.watermark(streamId)
  }

  /** All markers under the layout: (streamId, batchId, marker body). */
  def listMarkers(fs: org.apache.hadoop.fs.FileSystem, path: String)
      : Seq[(String, Long, String)] =
    Option(fs.globStatus(new org.apache.hadoop.fs.Path(
      s"${escapeGlob(path)}/_stream_appends/*"))).getOrElse(Array.empty).toSeq
      .flatMap { st =>
        parseTag(st.getPath.getName).map { case (sid, id) =>
          (sid, id, Sidecar.readText(fs, st.getPath))
        }
      }
}
