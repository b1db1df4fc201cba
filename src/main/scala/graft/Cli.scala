package graft

import graft.catalog.Manifest
import graft.codec.CompressionCodec
import graft.model.KRecord
import graft.pipelines._
import graft.validation.Validation
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Thin CLI mirroring the reference's command set
  * (crates/kafka-backup-cli/src/main.rs:30). Broker-backed commands take a
  * parquet events fixture as the source (the Kafka source drops in by
  * swapping the reader); storage is any Hadoop-FS URI.
  *
  * Usage:
  *   graft.Cli backup   <eventsDir> <backupRoot> <backupId> [zstd|lz4|none]
  *   graft.Cli restore  <backupRoot> <backupId> <outDir> [startMs endMs]
  *   graft.Cli dry-run  <backupRoot> <backupId> [startMs endMs]
  *   graft.Cli list     <backupRoot>
  *   graft.Cli describe <backupRoot> <backupId>
  *   graft.Cli validate <backupRoot> <backupId> [--deep]
  *   graft.Cli show-offset-mapping <backupRoot> <backupId>
  */
object Cli {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { usage(); sys.exit(2) }
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .appName(s"graft-${args(0)}")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args) finally spark.stop()
  }

  private def usage(): Unit = System.err.println(
    "commands: run-config backup backup-incremental import-offsets-db export-offsets-db restore dry-run list describe validate " +
      "import-warc prepare-corpus corpus-diff datasheet " +
      "build-chunk-index append-chunk-index retrieve " +
      "build-bm25-index append-bm25-index bm25-search " +
      "ingest-bm25 ingest-chunks compact-bm25-stats compact-ingest-markers " +
      "validate-bm25-index validate-pq-index " +
      "remove-ingest-batch rank-domains " +
      "validate-restore status status-watch show-offset-mapping three-phase-restore " +
      "offset-reset offset-reset-bulk snapshot-groups snapshot-create snapshot-list snapshot-show " +
      "snapshot-verify snapshot-delete offset-rollback " +
      "evidence-create evidence-list evidence-get evidence-verify")

  /** Reject unknown `--` flags loudly. Flag-taking verbs filter `--`
    * tokens out of positional slots, so without this a typoed flag (e.g.
    * `--commited`) would be silently ignored — on `retrieve`/`bm25-search`
    * that silently downgrades a committed-only serve to at-least-once
    * visibility, an isolation loss the operator asked against.
    */
  private def requireKnownFlags(verb: String, rest: Seq[String],
                                known: Set[String]): Unit = {
    val unknown = rest.filter(_.startsWith("--")).filterNot(known)
    if (unknown.nonEmpty)
      sys.error(s"$verb: unknown flag(s) ${unknown.mkString(", ")}" +
        s" (known: ${known.toSeq.sorted.mkString(", ")})")
  }

  def run(spark: SparkSession, args: Array[String]): Unit = args(0) match {
    case "backup" =>
      val Array(_, eventsDir, root, id, rest @ _*) = args: @unchecked
      val codec = rest.headOption.map(CompressionCodec.fromName)
        .getOrElse(CompressionCodec.Zstd)
      val m = Backup.run(spark, KRecord.fromEvents(spark, eventsDir),
        BackupConfig(id, root, codec))
      println(s"backup $id: ${m.totalSegments} segments, ${m.totalRecords} records")

    case "restore" =>
      val Array(_, root, id, outDir, rest @ _*) = args: @unchecked
      val cfg = RestoreConfig(root, id,
        windowStartMs = rest.lift(0).map(_.toLong),
        windowEndMs = rest.lift(1).map(_.toLong))
      // observe() captures the count DURING the write action — re-reading
      // the freshly-written output just to print a number would double the
      // restore's output IO
      val (restored, obs) = Restore.withMetrics(Restore.records(spark, cfg).toDF())
      restored.write.mode("overwrite").parquet(outDir)
      println(s"restored ${obs.get("records_restored")} records to $outDir")

    case "dry-run" =>
      val Array(_, root, id, rest @ _*) = args: @unchecked
      val cfg = RestoreConfig(root, id,
        windowStartMs = rest.lift(0).map(_.toLong),
        windowEndMs = rest.lift(1).map(_.toLong))
      Restore.dryRun(spark, cfg).show(100, truncate = false)

    case "list" =>
      val root = args(1)
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
      val statuses = fs.globStatus(new org.apache.hadoop.fs.Path(s"$root/*/manifest.json"))
      Option(statuses).getOrElse(Array.empty).foreach { st =>
        val id = st.getPath.getParent.getName
        val m = Manifest.load(root, id)
        println(s"$id  topics=${m.topics.size} segments=${m.totalSegments} " +
          s"records=${m.totalRecords} compression=${m.compression}")
      }

    case "describe" =>
      val m = Manifest.load(args(1), args(2))
      val segs = m.topics.flatMap(_.partitions).flatMap(_.segments)
      val unc = segs.map(_.uncompressed_size).sum
      val comp = segs.map(_.compressed_size).sum
      println(s"backup_id: ${m.backup_id}")
      println(s"topics: ${m.topics.size}, segments: ${segs.size}, records: ${m.totalRecords}")
      println(f"bytes: $unc (uncompressed) / $comp (compressed), ratio ${unc.toDouble / math.max(comp, 1)}%.2f")
      if (segs.nonEmpty)
        println(s"time range: ${segs.map(_.start_timestamp).min} .. ${segs.map(_.end_timestamp).max}")
      m.topics.foreach { t =>
        t.partitions.foreach { p =>
          val last = p.lastOffset.getOrElse(-1L)
          println(s"  ${t.name}/partition=${p.partition_id}: segments=${p.segments.size} lastOffset=$last")
        }
      }

    case "validate" =>
      requireKnownFlags("validate", args.drop(3), Set("--deep"))
      val deep = args.length > 3 && args(3) == "--deep"
      if (deep) {
        val res = Validation.deep(spark, args(1), args(2))
        val failed = res.filter(col("outcome") =!= "Passed")
        val nf = failed.count()
        res.groupBy("outcome").count().show()
        if (nf > 0) { failed.show(50, truncate = false); sys.exit(1) }
      } else {
        // shallow: existence + size per segment
        val m = Manifest.load(args(1), args(2))
        val fs = org.apache.hadoop.fs.FileSystem.get(
          new java.net.URI(args(1)), spark.sparkContext.hadoopConfiguration)
        var missing = 0
        m.topics.flatMap(_.partitions).flatMap(_.segments).foreach { s =>
          val p = new org.apache.hadoop.fs.Path(s"${args(1)}/${s.key}")
          if (!fs.exists(p)) { println(s"MISSING ${s.key}"); missing += 1 }
        }
        println(if (missing == 0) "validation passed" else s"$missing segments missing")
        if (missing > 0) sys.exit(1)
      }

    case "three-phase-restore" =>
      // restore → produce (offset capture) → reset plan; the sink/committer
      // are in-memory stand-ins when no broker is configured (plan + CSV out).
      // Usage: three-phase-restore <root> <id> [groupsSnapshot.json] [startMs endMs]
      val Array(_, root, id, rest @ _*) = args: @unchecked
      val (snapshot, window) = rest.headOption match {
        case Some(p) if p.endsWith(".json") =>
          (Some(graft.remap.ConsumerGroupSnapshot.fromJson(
            new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))))),
            rest.drop(1))
        case _ => (None, rest)
      }
      val committer = new graft.pipelines.RecordingCommitter()
      val report = graft.pipelines.ThreePhaseRestore.run(spark,
        RestoreConfig(root, id,
          windowStartMs = window.lift(0).map(_.toLong),
          windowEndMs = window.lift(1).map(_.toLong)),
        new graft.sinks.CollectingSink(),
        committed = Nil, snapshot = snapshot,
        committer = Some(committer), dryRun = true, pairEvery = 100,
        saveMapping = true)
      println(s"three-phase ${report.backup_id}: restored=${report.records_restored} " +
        s"partitions=${report.produce_results.size} success=${report.success}")
      report.warnings.foreach(w => println(s"  warning: $w"))
      report.reset_plan.foreach(p => println(p.toCsv))

    case "run-config" =>
      // the reference's primary UX: one YAML file drives the whole job
      // (kafka-backup --config file.yaml; mode lives inside the config).
      // <dataDir> stands in for the broker leg: backup reads the events
      // fixture from it, restore writes restored records to it.
      val Array(_, configPath, dataDir) = args: @unchecked
      val job = graft.config.YamlConfig.load(configPath)
      // security options are built eagerly so a malformed security section
      // fails the job before any data moves (same order as the reference)
      val kafkaOpts = job.security.map(graft.sources.KafkaSecurity.options).getOrElse(Map.empty)
      if (kafkaOpts.nonEmpty)
        println(s"kafka options: ${kafkaOpts.keys.toSeq.sorted.mkString(", ")}")
      if (job.continuous)
        println("note: continuous=true is ignored by run-config (one-shot batch); " +
          "use StreamingBackup for a continuous job")
      if (job.metricsEnabled)
        println("note: metrics.enabled is ignored by run-config; " +
          "start graft.metrics.MetricsServer to serve /metrics")
      job.mode match {
        case "backup" =>
          val cfg = job.backup.get
          // offset_storage.db_path names an existing reference SQLite store:
          // seed the parquet state table from it before resuming, mirroring
          // the reference's try_load_from_storage (sqlite.rs:102-124) — a
          // migrated config must not silently re-back-up from offset 0
          job.offsetDbPath.foreach { db =>
            // existence is probed through Hadoop FS — the SAME resolution
            // SqliteFile.open uses — so a remote db_path (s3a://, gs://) is
            // seen; a local-only Files.exists probe would mis-detect it as
            // absent and silently restart the backup from the parquet table.
            // An unreachable filesystem (bad credentials, bad scheme) throws
            // and fails the job rather than downgrading to a note.
            val p = new org.apache.hadoop.fs.Path(db)
            val fs = org.apache.hadoop.fs.FileSystem.get(
              p.toUri, spark.sparkContext.hadoopConfiguration)
            if (fs.exists(p)) {
              val n = graft.catalog.OffsetStateTable.importSqlite(spark, db, cfg.backupRoot)
              println(s"seeded $n resume marks from offset_storage.db_path=$db")
            } else println(s"note: offset_storage.db_path=$db does not exist; " +
              "resuming from the parquet state table only")
          }
          val records = KRecord.fromEvents(spark, dataDir)
          val m = if (job.incremental) Backup.runIncremental(spark, records, cfg)
            else Backup.run(spark, records, cfg)
          println(s"backup ${job.backupId}: ${m.totalSegments} segments, " +
            s"${m.totalRecords} records" + (if (job.incremental) " (incremental)" else ""))
        case "restore" =>
          val cfg = job.restore.get
          if (job.dryRun) Restore.dryRun(spark, cfg).show(100, truncate = false)
          else {
            // rate_limit_* applies to the produce sink (sinks/RateLimiter),
            // not this parquet stand-in. remapped, NOT records: the YAML's
            // topic_mapping/partition_mapping must reach the output — records()
            // stops before the remap stage and would silently drop them
            val (restored, obs) =
              Restore.withMetrics(Restore.remapped(spark, cfg))
            restored.write.mode("overwrite").parquet(dataDir)
            println(s"restored ${obs.get("records_restored")} records to $dataDir")
          }
      }

    case "import-offsets-db" =>
      // migrate a reference offsets.db (SQLite, offset_store/sqlite.rs) into
      // the parquet state table; advance-only, so re-runs are harmless
      val Array(_, dbPath, stateRoot) = args: @unchecked
      val n = graft.catalog.OffsetStateTable.importSqlite(spark, dbPath, stateRoot)
      println(s"imported $n offset marks from $dbPath into " +
        graft.catalog.OffsetStateTable.path(stateRoot))

    case "export-offsets-db" =>
      // the inverse: state table -> reference-shaped SQLite file (pure-JDK
      // writer), so marks round-trip both ways between the tools
      val Array(_, stateRoot, dbPath) = args: @unchecked
      val n = graft.catalog.OffsetStateTable.exportSqlite(spark, stateRoot, dbPath)
      println(s"exported $n offset marks from " +
        graft.catalog.OffsetStateTable.path(stateRoot) + s" to $dbPath")

    case "backup-incremental" =>
      // S12 batch leg: resume from the offset state table's high-water marks
      val Array(_, eventsDir, root, id, rest @ _*) = args: @unchecked
      val codec = rest.headOption.map(CompressionCodec.fromName)
        .getOrElse(CompressionCodec.Zstd)
      val m = Backup.runIncremental(spark, KRecord.fromEvents(spark, eventsDir),
        BackupConfig(id, root, codec))
      println(s"backup $id: ${m.totalSegments} segments, ${m.totalRecords} records (incremental)")

    case "status" =>
      // static inspection (cli/commands/status.rs run_static): manifest info
      // + offset-store state; without a backup id, one line per backup
      val root = args(1)
      args.lift(2) match {
        case None => run(spark, Array("list", root))
        case Some(id) =>
          println(s"=== Backup Status: $id ===")
          try {
            val m = Manifest.load(root, id)
            println(s"created_at: ${m.created_at}")
            println(s"compression: ${m.compression}")
            println(s"topics: ${m.topics.size}, segments: ${m.totalSegments}, " +
              s"records: ${m.totalRecords}")
            m.topics.foreach(t => t.partitions.foreach(p =>
              println(s"  ${t.name}/partition=${p.partition_id}: " +
                s"segments=${p.segments.size} lastOffset=${p.lastOffset.getOrElse(-1L)}")))
          } catch { case e: Exception => println(s"manifest: unreadable (${e.getMessage})") }
          val state = graft.catalog.OffsetStateTable.lastOffsets(spark, root, id)
          if (state.isEmpty) println("offset state: none")
          else state.toSeq.sorted.foreach { case ((t, p), off) =>
            println(s"offset state: $t/$p last_offset=$off")
          }
      }

    // import-warc <warcDir> <out.parquet> [html|-]
    // Crawl archives → the documents shape the whole curation battery
    // runs on: doc_id = xxhash64 of the (archive, record) provenance
    // (deterministic and shuffle-free — a global row_number would
    // single-partition 100 TB), url = WARC-Target-URI, text = the payload
    // decoded (optionally HTML-extracted with "html"), source = archive
    // file name. Corrupt markers are excluded from the corpus and counted
    // in the report line.
    case "import-warc" =>
      val Array(_, warcDir, outPath, rest @ _*) = args: @unchecked
      val mode = rest.headOption.filter(_ != "-")
      mode.foreach(m => require(m == "html",
        s"unknown input mode '$m' (expected 'html' or '-')"))
      val recs = graft.sources.WarcIO.readWarc(spark, warcDir)
        .localCheckpoint(true) // corpus write + corrupt count, one parse
      val raw = decode(col("content"), "UTF-8")
      val text =
        if (mode.isDefined) graft.text.CorpusClean.extractHtmlText(raw) else raw
      recs.filter(!col("corrupt"))
        .select(
          xxhash64(col("warc_file"), col("rec_idx")).as("doc_id"),
          col("target_uri").as("url"),
          text.as("text"),
          regexp_extract(col("warc_file"), "([^/]+)$", 1).as("source"),
          col("warc_file"), col("rec_idx"))
        .withColumn("n_chars", length(col("text")))
        .write.mode("overwrite").parquet(outPath)
      val written = spark.read.parquet(outPath)
      val nCorrupt = recs.filter(col("corrupt")).count()
      println(s"""{"out":${graft.util.Json.escape(outPath)},""" +
        s""""n_docs":${written.count()},""" +
        s""""n_files":${written.select("warc_file").distinct().count()},""" +
        s""""n_corrupt":$nCorrupt}""")

    // build-chunk-index <docs.parquet> <indexDir> [nLists] [chunkTokens]
    // Chunk the corpus, embed, build the IVF retrieval index (list-
    // partitioned parquet + centroid/M² sidecars) — build once, serve many.
    case "build-chunk-index" =>
      val Array(_, docsPath, indexDir, rest @ _*) = args: @unchecked
      val nLists = rest.lift(0).filter(_ != "-").map(_.toInt).getOrElse(16)
      val chunkTokens = rest.lift(1).filter(_ != "-").map(_.toInt).getOrElse(32)
      graft.ann.Retrieval.writeChunkIndex(spark.read.parquet(docsPath),
        indexDir, nLists = nLists, chunkTokens = chunkTokens)
      val idx = spark.read.parquet(indexDir)
      println(s"""{"index":${graft.util.Json.escape(indexDir)},""" +
        s""""n_chunks":${idx.count()},""" +
        s""""n_lists":${idx.select("list").distinct().count()}}""")

    // append-chunk-index <docs.parquet> <indexDir>
    // Incremental ingest: assign new docs' chunks against the stored
    // centroids/M² (no re-fit) and append into the partitioned layout.
    case "append-chunk-index" =>
      val Array(_, docsPath, indexDir) = args: @unchecked
      val before = spark.read.parquet(indexDir).count()
      graft.ann.Retrieval.appendToChunkIndex(
        spark.read.parquet(docsPath), indexDir)
      val after = spark.read.parquet(indexDir).count()
      println(s"""{"index":${graft.util.Json.escape(indexDir)},""" +
        s""""appended_chunks":${after - before},"n_chunks":$after}""")

    // retrieve <indexDir> <queries.parquet> <outPath> [k] [nProbe]
    //   [--committed]
    // Serve: per-query top-k chunks with (doc, chunk, offset) provenance;
    // queries.parquet needs (query_id, text). --committed = snapshot
    // isolation against in-flight streaming-ingest batches.
    case "retrieve" =>
      val Array(_, indexDir, queriesPath, outPath, rest @ _*) = args: @unchecked
      // flags never occupy positional slots: `retrieve i q o --committed`
      // must serve with default k/nProbe, not throw on "--committed".toInt.
      // Unknown flags are rejected LOUDLY: a typo like --commited would
      // otherwise silently downgrade an isolation-sensitive serve to
      // at-least-once visibility
      requireKnownFlags("retrieve", rest, Set("--committed"))
      val pos = rest.filterNot(_.startsWith("--"))
      val k = pos.lift(0).filter(_ != "-").map(_.toInt).getOrElse(5)
      val nProbe = pos.lift(1).filter(_ != "-").map(_.toInt).getOrElse(4)
      graft.ann.Retrieval.retrieveFromChunkIndex(spark, indexDir,
          spark.read.parquet(queriesPath), k, nProbe,
          committedOnly = rest.contains("--committed"))
        .write.mode("overwrite").parquet(outPath)
      val out = spark.read.parquet(outPath)
      println(s"""{"out":${graft.util.Json.escape(outPath)},""" +
        s""""n_results":${out.count()},""" +
        s""""n_queries":${out.select("query_id").distinct().count()}}""")

    // build-bm25-index <docs.parquet> <indexDir> [nBuckets]
    // Build the persisted lexical index: term-bucketed postings parquet +
    // corpus-stats sidecar — build once, serve many.
    case "build-bm25-index" =>
      val Array(_, docsPath, indexDir, rest @ _*) = args: @unchecked
      val nBuckets = rest.lift(0).filter(_ != "-").map(_.toInt).getOrElse(16)
      graft.ann.Bm25.writeIndex(spark.read.parquet(docsPath), indexDir,
        nBuckets = nBuckets)
      val idx = spark.read.parquet(indexDir)
      println(s"""{"index":${graft.util.Json.escape(indexDir)},""" +
        s""""n_postings":${idx.count()},""" +
        s""""n_buckets":${idx.select("bucket").distinct().count()}}""")

    // append-bm25-index <docs.parquet> <indexDir>
    // Incremental ingest: new docs' postings land in the stored buckets,
    // stats sidecar advances by the exact deltas — the appended index
    // serves identically to a full rebuild over the union.
    case "append-bm25-index" =>
      val Array(_, docsPath, indexDir) = args: @unchecked
      val before = spark.read.parquet(indexDir).count()
      graft.ann.Bm25.appendToIndex(spark.read.parquet(docsPath), indexDir)
      val after = spark.read.parquet(indexDir).count()
      println(s"""{"index":${graft.util.Json.escape(indexDir)},""" +
        s""""appended_postings":${after - before},"n_postings":$after}""")

    // ingest-bm25 <docsDir> <indexDir> <checkpointDir> [streamId]
    // Exactly-once STREAMING ingest into a persisted BM25 index: the docs
    // directory is a file-stream source (new parquet files become
    // micro-batches), each batch lands via the marker-gated StreamCommit
    // protocol, and Trigger.AvailableNow drains everything currently
    // present then stops — re-running with the same checkpoint ingests
    // only files added since. A NEW checkpoint dir needs a NEW streamId
    // (batchIds restart at 0 per checkpoint lineage).
    case "ingest-bm25" =>
      val Array(_, docsDir, indexDir, ckpt, rest @ _*) = args: @unchecked
      val sid = rest.lift(0).filter(_ != "-").getOrElse("")
      val schema = spark.read.parquet(docsDir).schema
      val stream = spark.readStream.schema(schema).parquet(docsDir)
      graft.streaming.StreamingText
        .ingestBm25IndexStream(stream, indexDir, streamId = sid)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
        .awaitTermination()
      val ifs = graft.util.StreamCommit.fs(spark, indexDir)
      println(s"""{"index":${graft.util.Json.escape(indexDir)},""" +
        s""""n_postings":${spark.read.parquet(indexDir).count()},""" +
        s""""pending_markers":${
          graft.util.StreamCommit.listMarkers(ifs, indexDir).size}}""")

    // ingest-chunks <docsDir> <indexDir> <checkpointDir> [pq|flat] [streamId]
    // The dense siblings of ingest-bm25: exactly-once streaming ingest into
    // a persisted IVF-PQ (default) or IVF-flat chunk index.
    case "ingest-chunks" =>
      val Array(_, docsDir, indexDir, ckpt, rest @ _*) = args: @unchecked
      val kind = rest.lift(0).filter(_ != "-").getOrElse("pq")
      val sid = rest.lift(1).filter(_ != "-").getOrElse("")
      val schema = spark.read.parquet(docsDir).schema
      val stream = spark.readStream.schema(schema).parquet(docsDir)
      val writer = kind match {
        case "pq" => graft.streaming.StreamingText
          .ingestChunkIndexPqStream(stream, indexDir, streamId = sid)
        case "flat" => graft.streaming.StreamingText
          .ingestChunkIndexStream(stream, indexDir, streamId = sid)
        case other => sys.error(s"ingest-chunks: unknown kind '$other' " +
          "(expected pq or flat)")
      }
      writer.option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
        .awaitTermination()
      val cfs = graft.util.StreamCommit.fs(spark, indexDir)
      println(s"""{"index":${graft.util.Json.escape(indexDir)},""" +
        s""""kind":"$kind",""" +
        s""""n_chunks":${spark.read.parquet(indexDir).count()},""" +
        s""""pending_markers":${
          graft.util.StreamCommit.listMarkers(cfs, indexDir).size}}""")

    // remove-ingest-batch <indexDir> <bm25|pq|flat> <batchId> [streamId]
    //   [--missing-ok]
    // Roll back one streaming-ingested batch (poisoned-data recovery):
    // the removal intent is committed to the ingest log FIRST (the commit
    // point), then the marker is deleted and the batch's tagged files are
    // scrubbed (both layouts, codes-first, for pq). Crashed removals
    // re-run to convergence; batches already compacted below the
    // watermark (for bm25, their deltas folded into the base stats)
    // without a removal record are refused loudly.
    case "remove-ingest-batch" =>
      val Array(_, indexDir, kind, batchIdS, rest @ _*) = args: @unchecked
      requireKnownFlags("remove-ingest-batch", rest, Set("--missing-ok"))
      val batchId = batchIdS.toLong
      val sid = rest.filterNot(_.startsWith("--"))
        .lift(0).filter(_ != "-").getOrElse("")
      // --missing-ok: record a removal with no marker and no data files —
      // ONLY for pre-intent-record crash residue; a typoed batchId would
      // otherwise brick the stream's future apply, hence the default guard
      val missingOk = rest.contains("--missing-ok")
      val had = kind match {
        case "bm25" =>
          graft.ann.Bm25.removeIngestBatch(spark, indexDir, batchId, sid,
            allowMissing = missingOk)
        case "pq" =>
          graft.ann.Retrieval.removePqIngestBatch(spark, indexDir, batchId,
            sid, allowMissing = missingOk)
        case "flat" =>
          graft.ann.Retrieval.removeChunkIngestBatch(spark, indexDir,
            batchId, sid, allowMissing = missingOk)
        case other => sys.error(s"remove-ingest-batch: unknown kind " +
          s"'$other' (expected bm25, pq or flat)")
      }
      println(s"""{"index":${graft.util.Json.escape(indexDir)},""" +
        s""""kind":"$kind","batch_id":$batchId,""" +
        s""""stream_id":${graft.util.Json.escape(sid)},""" +
        s""""marker_removed":$had}""")

    // compact-ingest-markers <indexDir>   (IVF-PQ / IVF-flat chunk index)
    // compact-bm25-stats <indexDir>       (BM25 index)
    // The one marker compaction every ingest layout shares: fold the
    // ingest markers into the per-stream contiguous watermarks of the
    // layout's ingest log (a BM25 marker's stats delta into the base
    // stats), delete them, and scrub crashed removals' leftovers from the
    // layout's tables — run periodically to bound a long-lived stream's
    // per-serve marker scan. A concurrent admin op fails loudly (CAS
    // conflict) instead of losing an update.
    case verb @ ("compact-ingest-markers" | "compact-bm25-stats") =>
      val root = args(1)
      val tagGlobs: String => Seq[String] =
        if (verb == "compact-bm25-stats") graft.ann.Bm25.batchGlobs(root)
        else graft.ann.Retrieval.chunkBatchGlobs(root)
      val wfs = graft.util.StreamCommit.fs(spark, root)
      val before = graft.util.StreamCommit.listMarkers(wfs, root).size
      val wm = graft.util.StreamCommit.compactMarkers(spark, root, tagGlobs)
      val after = graft.util.StreamCommit.listMarkers(wfs, root).size
      println(s"""{"index":${graft.util.Json.escape(root)},""" +
        s""""folded_markers":${before - after},""" +
        s""""pending_markers":$after,""" +
        s""""watermarks":${wm.toSeq.sortBy(_._1).map { case (k, v) =>
          s"${graft.util.Json.escape(k)}:$v" }.mkString("{", ",", "}")}}""")

    // validate-bm25-index <indexDir>
    // Deep stats/postings self-check over the committed view: sum(tf)
    // must equal total_tokens exactly and distinct docs must not exceed
    // n_docs — detects any historical stats/postings divergence (the
    // corruption class the ingest-admin CAS guards prevent) after the
    // fact. Exit 1 on failure.
    case "validate-bm25-index" =>
      val (nDocs, totalTokens, distinctDocs, sumTf, ok) =
        graft.ann.Bm25.validateIndex(spark, args(1))
      println(s"""{"index":${graft.util.Json.escape(args(1))},""" +
        s""""n_docs":$nDocs,"total_tokens":$totalTokens,""" +
        s""""distinct_docs":$distinctDocs,"sum_tf":$sumTf,""" +
        s""""ok":$ok}""")
      if (!ok) sys.exit(1)

    // validate-pq-index <indexDir>
    // Deep codes/vecs coherence check over the committed view: a code row
    // without its vector row is the silent-drop hazard (shortlists, then
    // the exact re-rank's inner join eats the slot) — exit 1 if any
    // exist; orphan vector rows (legal crashed-append residue, inert to
    // serving) are reported without failing.
    case "validate-pq-index" =>
      val (nCodes, nVecs, noVec, noCode, ok) =
        graft.ann.Retrieval.validatePqIndex(spark, args(1))
      println(s"""{"index":${graft.util.Json.escape(args(1))},""" +
        s""""n_codes":$nCodes,"n_vecs":$nVecs,""" +
        s""""codes_without_vec":$noVec,"vecs_without_code":$noCode,""" +
        s""""ok":$ok}""")
      if (!ok) sys.exit(1)

    // bm25-search <indexDir> <queries.parquet> <outPath> [k] [--committed]
    // Serve: per-query BM25 top-k docs (integer-exact micro scores);
    // queries.parquet needs (query_id, text). --committed = snapshot
    // isolation against in-flight streaming-ingest batches (base files +
    // marker-committed/folded batches only).
    case "bm25-search" =>
      val Array(_, indexDir, queriesPath, outPath, rest @ _*) = args: @unchecked
      requireKnownFlags("bm25-search", rest, Set("--committed"))
      val k = rest.filterNot(_.startsWith("--"))
        .lift(0).filter(_ != "-").map(_.toInt).getOrElse(5)
      graft.ann.Bm25.retrieveFromIndex(spark, indexDir,
          spark.read.parquet(queriesPath), k,
          committedOnly = rest.contains("--committed"))
        .write.mode("overwrite").parquet(outPath)
      val out = spark.read.parquet(outPath)
      println(s"""{"out":${graft.util.Json.escape(outPath)},""" +
        s""""n_results":${out.count()},""" +
        s""""n_queries":${out.select("query_id").distinct().count()}}""")

    // rank-domains <docs.parquet> <outPath> [urlCol] [htmlCol] [algo] [iters]
    // Crawl-graph authority over a landed corpus (e.g. import-warc output
    // kept with raw HTML): per-doc domain from urlCol, href targets out of
    // htmlCol, weighted domain edges, then integer-exact PageRank (default)
    // or HITS. Writes (domain, rank...) parquet.
    case "rank-domains" =>
      val Array(_, docsPath, outPath, rest @ _*) = args: @unchecked
      val urlCol = rest.lift(0).filter(_ != "-").getOrElse("url")
      val htmlCol = rest.lift(1).filter(_ != "-").getOrElse("text")
      val algo = rest.lift(2).filter(_ != "-").getOrElse("pagerank")
      val iters = rest.lift(3).filter(_ != "-").map(_.toInt)
        .getOrElse(if (algo == "hits") 5 else 10)
      val docs = spark.read.parquet(docsPath)
      val edges = docs
        .select(graft.text.CorpusClean.urlDomain(col(urlCol)).as("src"),
          explode(graft.text.CorpusClean.extractHrefs(col(htmlCol)))
            .as("href"))
        .select(col("src"),
          graft.text.CorpusClean.urlDomain(col("href")).as("dst"))
        .where(col("src").isNotNull && col("dst").isNotNull)
        .groupBy("src", "dst").agg(count(lit(1)).as("w"))
      val ranked = algo match {
        case "pagerank" =>
          graft.operators.PageRank.ranks(edges, iterations = iters)
            .select(col("node").as("domain"), col("rank_micro"))
            .orderBy(col("rank_micro").desc, col("domain"))
        case "hits" =>
          graft.operators.Hits.ranks(edges, iterations = iters)
            .select(col("node").as("domain"), col("hub_micro"),
              col("auth_micro"))
            .orderBy(col("auth_micro").desc, col("domain"))
        case other => throw new IllegalArgumentException(
          s"unknown algo '$other' (pagerank|hits)")
      }
      ranked.write.mode("overwrite").parquet(outPath)
      val out = spark.read.parquet(outPath)
      println(s"""{"out":${graft.util.Json.escape(outPath)},""" +
        s""""algo":${graft.util.Json.escape(algo)},""" +
        s""""n_domains":${out.count()},""" +
        s""""n_edges":${edges.count()}}""")

    // prepare-corpus <docs.parquet> <outDir> [stagingDir|-] [format]
    //                [urlCol|-] [maxDocsPerDomain|-] [html|-] [blocklistCsv|-]
    // The training-data prep chain (normalize → quality filter → exact dedup
    // → decontaminate → split) shipped as released JSONL (default) or
    // parquet shards partitioned by split, plus a per-split JSON report
    // computed from what was WRITTEN (read-back is the proof, not the plan).
    // With urlCol set, URL-level dedup runs first and (optionally) the
    // per-domain quota caps the final corpus — the RefinedWeb curation legs.
    // "html" marks raw-crawl input: markup extraction runs before
    // normalization. blocklistCsv (kind,pattern header; needs urlCol) gates
    // the raw input UT1-style before any text stage runs.
    case "prepare-corpus" =>
      val Array(_, docsPath, outDir, rest @ _*) = args: @unchecked
      val staging = rest.lift(0).filter(_ != "-")
      val format = rest.lift(1).filter(_ != "-").getOrElse("jsonl")
      // 5th positional: "html" marks raw-crawl input (markup extraction
      // runs before normalization); anything else must fail loudly, not
      // silently curate raw tag soup
      val inputMode = rest.lift(4).filter(_ != "-")
      inputMode.foreach(m => require(m == "html",
        s"unknown input mode '$m' (expected 'html' or '-')"))
      // 6th positional: CSV blocklist with a (kind, pattern) header —
      // kind ∈ {domain, url} per CorpusClean.urlBlocklist
      val blocklist = rest.lift(5).filter(_ != "-").map { p =>
        val df = spark.read.option("header", "true").csv(p)
        require(Seq("kind", "pattern").forall(df.columns.contains),
          s"blocklist CSV needs kind,pattern columns; got ${df.columns.mkString(",")}")
        df
      }
      val cfg = graft.text.CorpusPipeline.Config(
        urlCol = rest.lift(2).filter(_ != "-"),
        maxDocsPerDomain = rest.lift(3).filter(_ != "-").map(_.toInt),
        htmlInput = inputMode.isDefined,
        blocklist = blocklist)
      val prepared = graft.text.CorpusPipeline.prepare(
        spark.read.parquet(docsPath), cfg, staging = staging)
      val back = format match {
        case "jsonl" =>
          graft.sources.CorpusIO.writeJsonl(prepared, outDir,
            partitionBy = Seq("split"))
          graft.sources.CorpusIO.readJsonl(spark, outDir,
            org.apache.spark.sql.types.StructType(
              prepared.schema.filterNot(_.name == "split")))
        case "parquet" =>
          prepared.write.mode("overwrite").partitionBy("split").parquet(outDir)
          spark.read.parquet(outDir)
        case other => throw new IllegalArgumentException(
          s"unknown format '$other' (jsonl|parquet)")
      }
      val report = back.groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          sum(graft.text.TextFunctions.tokenCount(col("text")).cast("long"))
            .as("n_tokens"))
        .orderBy("split").collect()
        .map(r => s"""{"split":${graft.util.Json.escape(r.getString(0))},""" +
          s""""n_docs":${r.getLong(1)},"n_tokens":${r.getLong(2)}}""")
      println(s"""{"out":${graft.util.Json.escape(outDir)},""" +
        s""""format":${graft.util.Json.escape(format)},""" +
        s""""splits":[${report.mkString(",")}]}""")

    // datasheet <docs.parquet> [termsK] — the corpus datasheet in one JSON
    // line: per-source profile (counts, dup surface, length percentiles,
    // token volume), top-K terms, and language mix. Composes the oracled
    // profiling operators; every sub-report is metadata-shaped, so the
    // driver assembles the JSON from a handful of small collects.
    case "datasheet" =>
      val docs = spark.read.parquet(args(1))
      val k = args.lift(2).map(_.toInt).getOrElse(5)
      // null-safe JSON: corpora legitimately carry null source/lang rows
      // (the profiling operators keep them), and all-null n_chars groups
      // make the percentile aggregates null — render JSON null, never NPE
      def j(s: String) =
        if (s == null) "null" else graft.util.Json.escape(s)
      def jd(r: org.apache.spark.sql.Row, i: Int) =
        if (r.isNullAt(i)) "null" else r.getDouble(i).toString
      // sum over an all-null n_chars group is null too — same rule as the
      // percentile columns (getLong on a null cell NPEs)
      def jl(r: org.apache.spark.sql.Row, i: Int) =
        if (r.isNullAt(i)) "null" else r.getLong(i).toString
      val prof = graft.text.Profile.exact(docs).orderBy("source").collect()
        .map(r => s"""{"source":${j(r.getString(0))},"n_docs":${r.getLong(1)},""" +
          s""""n_unique":${r.getLong(2)},"p50_chars":${jd(r, 3)},""" +
          s""""p90_chars":${jd(r, 4)},"total_chars":${jl(r, 5)},""" +
          s""""avg_tokens":${jd(r, 6)}}""")
      val terms = graft.text.Profile.topTerms(docs, k).orderBy("source", "rank")
        .collect()
        .map(r => s"""{"source":${j(r.getString(0))},"term":${j(r.getString(1))},""" +
          s""""n":${r.getLong(2)},"rank":${r.getInt(3)}}""")
      val langs = docs.groupBy("lang").agg(count(lit(1)).as("n")).orderBy("lang")
        .collect()
        .map(r => s"""{"lang":${j(r.getString(0))},"n":${r.getLong(1)}}""")
      println(s"""{"corpus":${j(args(1))},"profile":[${prof.mkString(",")}],""" +
        s""""top_terms":[${terms.mkString(",")}],"languages":[${langs.mkString(",")}]}""")

    // corpus-diff <old.parquet> <new.parquet> — release notes between two
    // corpus snapshots: per-(source, status) counts as one JSON line.
    case "corpus-diff" =>
      val Array(_, oldPath, newPath) = args.take(3): @unchecked
      val report = graft.text.CorpusDiff.diffReport(
          spark.read.parquet(oldPath), spark.read.parquet(newPath))
        .orderBy("source", "status").collect()
        .map(r => s"""{"source":${graft.util.Json.escape(r.getString(0))},""" +
          s""""status":${graft.util.Json.escape(r.getString(1))},""" +
          s""""n_docs":${r.getLong(2)}}""")
      println(s"""{"old":${graft.util.Json.escape(oldPath)},""" +
        s""""new":${graft.util.Json.escape(newPath)},""" +
        s""""diff":[${report.mkString(",")}]}""")

    case "status-watch" =>
      // live monitoring against a metrics endpoint (status_watch.rs
      // run_watch): initial connection probe that fails loudly, then
      // clear-and-redraw polling of /metrics with counter deltas, and
      // exponential reconnect backoff when the endpoint drops mid-watch.
      // Args: <baseUrl> [iterations] [intervalMs]
      val base = args(1).stripSuffix("/")
      val iterations = args.lift(2).map(_.toInt).getOrElse(5)
      val intervalMs = args.lift(3).map(_.toLong).getOrElse(2000L)
      def fetch(path: String): String = {
        val conn = new java.net.URI(s"$base$path").toURL
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        conn.setConnectTimeout(5000); conn.setReadTimeout(5000)
        try new String(conn.getInputStream.readAllBytes, "UTF-8")
        finally conn.disconnect()
      }
      def scrape(): Map[String, Long] =
        fetch("/metrics").linesIterator.flatMap { l =>
          l.split(' ') match {
            // toDouble.toLong, not toLong: standard Prometheus clients emit
            // counters as "123.0"/"1.5e+06"; a float value must degrade to
            // its integral part, not NumberFormatException out of the loop
            case Array(k, v) if k.startsWith("graft_") =>
              v.toDoubleOption.map(d => k -> d.toLong)
            case _ => None
          }
        }.toMap
      // connection test before entering the loop (run_watch's fetch_health
      // gate): a dead endpoint must be one clear error, not N timeouts
      try fetch("/health")
      catch { case e: java.io.IOException =>
        throw new IllegalStateException(
          s"cannot connect to metrics endpoint $base — is the backup " +
            s"running with metrics enabled? ($e)")
      }
      println(s"connected to $base; watching (${iterations}x @ ${intervalMs}ms)")
      // the first scrape rides the SAME retry loop as the rest: the endpoint
      // can die between the /health probe and here (or serve /health but
      // error on /metrics), and that window deserves backoff, not a raw
      // IOException
      var prev = Map.empty[String, Long]
      var first = true
      var backoffMs = intervalMs
      var i = 0
      while (i < iterations) {
        if (i > 0) Thread.sleep(math.min(backoffMs, 30000L))
        try {
          val cur = scrape()
          // ANSI clear-and-home redraw, like the reference's clear_screen();
          // suppressed when stdout isn't a terminal (keeps spec/CI logs sane)
          if (System.console() != null) print("\u001b[2J\u001b[H")
          val line =
            if (first) cur.toSeq.sorted.map { case (k, v) => s"$k=$v" }
            else cur.toSeq.sorted.map { case (k, v) =>
              s"$k=$v(+${v - prev.getOrElse(k, 0L)})"
            }
          println(line.mkString(" "))
          prev = cur
          first = false
          backoffMs = intervalMs // reset on success (run_watch parity)
        } catch { case e: java.io.IOException =>
          backoffMs = math.min(backoffMs * 2, 30000L)
          // print the delay the loop will ACTUALLY sleep, and don't promise
          // a retry on the final iteration
          if (i < iterations - 1)
            println(s"connection lost: $e — retrying in ${backoffMs}ms")
          else println(s"connection lost: $e — giving up (last poll)")
        }
        i += 1
      }

    case "validate-restore" =>
      // forced dry-run validation (validate_restore.rs): catalog-only, no
      // data read; exits 1 when the restore would not succeed
      val Array(_, root, id, rest @ _*) = args: @unchecked
      requireKnownFlags("validate-restore", rest, Set("--json"))
      val json = rest.contains("--json")
      val window = rest.filterNot(_.startsWith("--"))
      val report = Restore.validateRestore(spark, RestoreConfig(root, id,
        windowStartMs = window.lift(0).map(_.toLong),
        windowEndMs = window.lift(1).map(_.toLong)))
      if (json) println(report.toJson)
      else {
        println(s"=== Restore Validation: ${report.backup_id} ===")
        println(if (report.valid) "status: VALID" else "status: INVALID")
        report.errors.foreach(e => println(s"  error: $e"))
        report.warnings.foreach(w => println(s"  warning: $w"))
        println(s"segments: ${report.segments_to_process}, records: " +
          s"${report.records_to_restore}, bytes: ${report.bytes_to_restore}")
        report.time_range.foreach(r => println(s"time range: ${r._1} .. ${r._2}"))
        report.topics.foreach { case (s, t, ns, nr) =>
          println(s"  $s -> $t: segments=$ns records=$nr")
        }
      }
      if (!report.valid) sys.exit(1)

    case "offset-reset-bulk" =>
      // bulk phase-3 executor (restore/offset_automation.rs): reads a reset
      // plan CSV (three-phase-restore output), commits per group with
      // bounded concurrency + retry/backoff, prints the p50/p99 report.
      // The committer is the in-memory recorder unless a broker leg is wired.
      val Array(_, planCsv, rest @ _*) = args: @unchecked
      val concurrency = rest.lift(0).map(_.toInt).getOrElse(50)
      val lines = scala.io.Source.fromFile(planCsv)
      val plan = try {
        graft.remap.OffsetResetPlanCsv.parse(lines.mkString)
      } finally lines.close()
      val committer = new graft.pipelines.RecordingCommitter()
      val report = graft.remap.BulkOffsetReset.execute(
        graft.remap.BulkOffsetReset.adapt(committer),
        graft.remap.BulkOffsetReset.batches(plan),
        graft.remap.BulkOffsetReset.Config(maxConcurrent = concurrency))
      println(report.toJson)
      if (report.failed_groups > 0) sys.exit(1)

    case "offset-reset" =>
      // plan / execute / script over a stored backup's offset mapping
      // (main.rs OffsetReset{Plan,Execute,Script}; offset_reset.rs:22-120).
      // Mapping resolution chain: offset-mapping.json (saved by
      // three-phase-restore) → manifest-derived source ranges (no targets —
      // plan rows come out unresolved with a warning). Committed offsets
      // come from a consumer-groups snapshot JSON (broker-free S6/S7 leg).
      // Usage: offset-reset <plan|execute|script> <root> <id> <groupsJson>
      //        [--groups g1,g2] [--format text|json|csv|shell-script]
      //        [--bootstrap host:9092] [--output file]
      val Array(_, action, root, id, groupsJson, rest @ _*) = args: @unchecked
      requireKnownFlags("offset-reset", rest,
        Set("--groups", "--format", "--bootstrap", "--output"))
      def opt(flag: String): Option[String] =
        rest.sliding(2).collectFirst { case Seq(`flag`, v) => v }
      val mapping = graft.remap.OffsetMappingStore.load(root, id).getOrElse {
        System.err.println(s"note: no ${graft.remap.OffsetMappingStore.FileName} " +
          "for this backup; deriving source ranges from the manifest " +
          "(no target offsets — plan rows will be unresolved)")
        graft.remap.OffsetMappingStore.fromManifest(Manifest.load(root, id))
      }
      val snapshot = graft.remap.ConsumerGroupSnapshot.fromJson(new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(groupsJson))))
      val committed0 = graft.remap.ConsumerGroupSnapshot.importOffsets(snapshot)
      val committed = opt("--groups") match {
        case Some(gs) =>
          val want = gs.split(',').map(_.trim).filter(_.nonEmpty).toSet
          committed0.filter { case (g, _, _, _) => want(g) }
        case None => committed0
      }
      val plan = graft.remap.OffsetResetPlan.build(committed, mapping)
      val unresolved = plan.entries.count(_.target_offset.isEmpty)
      if (unresolved > 0)
        System.err.println(s"warning: $unresolved of ${plan.entries.size} " +
          "plan rows have no target offset")
      val bootstrap = opt("--bootstrap").getOrElse("localhost:9092")
      action match {
        case "plan" =>
          opt("--format").getOrElse("text") match {
            case "json" => println(plan.toJson)
            case "yaml" => println(plan.toYaml)
            case "csv" => println(plan.toCsv)
            case "shell-script" => println(plan.toShellScript(bootstrap))
            case _ =>
              println(f"${"group"}%-20s ${"topic"}%-16s ${"part"}%5s " +
                f"${"committed"}%12s ${"target"}%12s")
              plan.entries.foreach(e => println(
                f"${e.group_id}%-20s ${e.topic}%-16s ${e.partition}%5d " +
                  f"${e.source_offset}%12d ${e.target_offset.map(_.toString).getOrElse("-")}%12s"))
              plan.groups.foreach(g => println(
                s"group $g: ${if (plan.groupComplete(g)) "complete" else "INCOMPLETE"}"))
          }
        case "execute" =>
          // the committer is the in-memory recorder unless a broker leg is
          // wired (same seam as offset-reset-bulk)
          val committer = new graft.pipelines.RecordingCommitter()
          var applied = 0
          plan.entries.foreach(e => e.target_offset.foreach { t =>
            committer.commit(e.group_id, e.topic, e.partition, t); applied += 1
          })
          println(s"applied $applied resets across ${plan.groups.size} groups" +
            (if (unresolved > 0) s"; $unresolved skipped (no target)" else ""))
          if (unresolved > 0) sys.exit(1)
        case "script" =>
          val script = plan.toShellScript(bootstrap)
          opt("--output") match {
            case Some(f) =>
              java.nio.file.Files.writeString(java.nio.file.Paths.get(f), script)
              println(s"wrote $f")
            case None => println(script)
          }
        case other =>
          System.err.println(s"unknown offset-reset action: $other"); sys.exit(2)
      }

    case "snapshot-groups" =>
      // capture consumer-group offsets for BACKED-UP topics and store the
      // snapshot beside the backup (main.rs:746 Commands::SnapshotGroups;
      // snapshot_groups.rs: list groups -> fetch committed -> filter to
      // manifest topics & offset >= 0 -> skip empty groups -> save
      // {backup_id}/consumer-groups-snapshot.json; restore loads it via
      // auto_consumer_groups / three-phase-restore's [groupsSnapshot]).
      // The live-broker leg is the ClusterAdmin facade: <groupsJson> seeds
      // the InMemory impl here; a kafka-clients-backed impl swaps in one
      // class without touching this flow.
      // Usage: snapshot-groups <backupRoot> <backupId> <groupsJson> [--now ms]
      val Array(_, root, id, groupsJson, rest @ _*) = args: @unchecked
      requireKnownFlags("snapshot-groups", rest, Set("--now"))
      def opt(flag: String): Option[String] =
        rest.sliding(2).collectFirst { case Seq(`flag`, v) => v }
      val backed = Manifest.load(root, id).topics.map(_.name).toSet
      val seeded = graft.remap.ConsumerGroupSnapshot.importOffsets(
          graft.remap.ConsumerGroupSnapshot.fromJson(new String(
            java.nio.file.Files.readAllBytes(
              java.nio.file.Paths.get(groupsJson)), "UTF-8")))
        .groupBy(_._1).map { case (g, rows) =>
          g -> rows.map { case (_, t, p, off) => (t, p) -> off }.toMap
        }
      val admin = new graft.sources.InMemoryClusterAdmin(
        Map.empty, Map.empty, seeded)
      val nowMs = opt("--now").map(_.toLong).getOrElse(System.currentTimeMillis())
      val captured = graft.sources.ClusterAdmin.captureSnapshot(admin, nowMs)
      val snap = graft.remap.ConsumerGroupSnapshot.restrictTo(captured, backed)
      val path = new org.apache.hadoop.fs.Path(s"$root/$id/consumer-groups-snapshot.json")
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = fs.create(path, true)
      try out.write(
        graft.remap.ConsumerGroupSnapshot.toJson(snap).getBytes("UTF-8"))
      finally out.close()
      println(s"snapshot-groups $id: kept ${snap.groups.size} of " +
        s"${captured.groups.size} groups with offsets on backed-up topics -> $path")

    case "snapshot-create" =>
      // pre-reset safety snapshot from a consumer-groups JSON (broker-free
      // stand-in for a live S6/S7 capture; main.rs snapshot create)
      val Array(_, dir, groupsJson, rest @ _*) = args: @unchecked
      val committed = graft.remap.ConsumerGroupSnapshot.importOffsets(
        graft.remap.ConsumerGroupSnapshot.fromJson(new String(
          java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(groupsJson)))))
      val snap = graft.remap.OffsetRollback.snapshot(committed,
        rest.headOption.getOrElse("pre-reset"))
      println(s"snapshot saved: ${graft.remap.OffsetRollback.Store.saveTo(dir, snap)}")

    case "snapshot-list" =>
      graft.remap.OffsetRollback.Store.list(args(1)).foreach { sid =>
        val s = graft.remap.OffsetRollback.Store.show(args(1), sid)
        println(s"$sid  taken_at=${s.taken_at} entries=${s.entries.size} reason=${s.reason}")
      }

    case "snapshot-show" =>
      val s = graft.remap.OffsetRollback.Store.show(args(1), args(2))
      println(s"taken_at: ${s.taken_at}\nreason: ${s.reason}")
      s.entries.foreach(e =>
        println(s"  ${e.group_id} ${e.topic}/${e.partition} -> ${e.offset}"))

    case "snapshot-verify" =>
      // current offsets from a consumer-groups JSON; mismatches → exit 1
      val Array(_, dir, sid, groupsJson) = args: @unchecked
      val actual = graft.remap.ConsumerGroupSnapshot.importOffsets(
        graft.remap.ConsumerGroupSnapshot.fromJson(new String(
          java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(groupsJson)))))
      val mismatches = graft.remap.OffsetRollback.verify(
        graft.remap.OffsetRollback.Store.show(dir, sid), actual)
      if (mismatches.isEmpty) println("offsets match snapshot")
      else {
        mismatches.foreach { case (g, t, p, exp, act) =>
          println(s"MISMATCH $g $t/$p expected=${exp.getOrElse("-")} actual=${act.getOrElse("-")}")
        }
        sys.exit(1)
      }

    case "snapshot-delete" =>
      val ok = graft.remap.OffsetRollback.Store.delete(args(1), args(2))
      println(if (ok) s"deleted ${args(2)}" else s"not found: ${args(2)}")
      if (!ok) sys.exit(1)

    case "offset-rollback" =>
      // re-commit every snapshotted offset (rollback apply; recording
      // committer stands in for the broker leg)
      val s = graft.remap.OffsetRollback.Store.show(args(1), args(2))
      val committer = new graft.pipelines.RecordingCommitter()
      val n = graft.remap.OffsetRollback.apply(s, committer)
      println(s"rolled back $n offsets from ${args(2)}")

    case "evidence-create" =>
      // sign-and-store: manifest totals + offset digest + check outcomes →
      // canonical JSON + detached Ed25519 sig + public key (main.rs evidence
      // subcommands; key pair is ephemeral without a configured signer)
      val Array(_, root, id, evRoot, rest @ _*) = args: @unchecked
      val prefix = rest.headOption.filter(_ != "-").getOrElse("evidence")
      val retentionDays =
        rest.lift(1).filter(_ != "-").map(_.toInt).getOrElse(2555)
      val m = Manifest.load(root, id)
      val digest = Validation.evidenceDigest(Manifest.toDF(spark, m))
      val checks = Map("manifest_readable" -> "Passed")
      val report = graft.validation.EvidenceReport(id, System.currentTimeMillis(),
        m.totalRecords, m.totalSegments.toLong, digest, checks,
        // audit-control block (report.rs build_compliance_mappings):
        // satisfied_by honestly reflects which checks actually ran here
        compliance = Some(graft.validation.Evidence.buildComplianceMappings(
          checks.keys.toSeq.sorted, retentionDays)))
      val key = graft.validation.EvidenceStore.save(evRoot, prefix, report,
        graft.validation.Evidence.generateKeyPair())
      println(s"evidence saved: $key")

    case "evidence-list" =>
      val prefix = args.lift(2).getOrElse("evidence")
      graft.validation.EvidenceStore.list(args(1), prefix).foreach(println)

    case "evidence-get" =>
      println(graft.validation.Evidence.canonicalJson(
        graft.validation.EvidenceStore.load(args(1), args(2))))

    case "evidence-verify" =>
      val ok = graft.validation.EvidenceStore.verify(args(1), args(2))
      println(if (ok) "signature valid" else "signature INVALID")
      if (!ok) sys.exit(1)

    case "show-offset-mapping" =>
      val m = Manifest.load(args(1), args(2))
      println("topic,partition,source_first,source_last,records")
      m.topics.foreach(t => t.partitions.foreach { p =>
        if (p.segments.nonEmpty)
          println(s"${t.name},${p.partition_id},${p.segments.map(_.start_offset).min}," +
            s"${p.segments.map(_.end_offset).max},${p.segments.map(_.record_count).sum}")
      })

    case other =>
      System.err.println(s"unknown command: $other"); usage(); sys.exit(2)
  }
}
