package graft.streaming

import graft.catalog.{BackupManifest, Manifest}
import graft.model.KRecord
import graft.pipelines.{Backup, BackupConfig}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming backup modes (reference §2.9):
  *
  *  - St1 continuous: `readStream` + ProcessingTime trigger, one micro-batch
  *    per poll interval; with a Kafka source, `subscribePattern` gives the
  *    reference's per-cycle topic re-discovery natively.
  *  - St2 one-shot/incremental: `Trigger.AvailableNow` — Spark pins end
  *    offsets at query start (the reference's snapshot-mode consistent cut,
  *    St3) and the checkpoint plays the SQLite offset store's role
  *    (resume from last committed batch, St5).
  *  - St4 rotation: size-based rolls inside the batch writer; micro-batch
  *    boundaries supply the time-based roll.
  *
  * Each micro-batch runs the batch Backup pipeline and commits its merged
  * manifest as the next catalog log version ([[Manifest.save]]); concurrent
  * writers of the same backup id, in any process, re-merge on a lost
  * compare-and-swap where the reference serializes with its in-process
  * save_lock (backup/engine.rs:40-47). Sinks are idempotent: segment keys derive from
  * start offsets, manifest merge dedups on (key, start_offset), so batch
  * replay after failure re-writes the same objects (exactly-once effect on
  * top of at-least-once delivery).
  */
object StreamingBackup {

  /** Wire a streaming canonical-record DataFrame into the segment/manifest
    * sink. `records` must carry the KRecord schema (a Kafka source's output
    * maps 1:1; tests use a file source).
    */
  def start(records: DataFrame, config: BackupConfig, checkpointDir: String,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    records.writeStream
      .queryName(s"graft-backup-${config.backupId}")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        // isEmpty scans at most one row (limit-1 head probe), and skipping
        // empty micro-batches avoids a manifest read-merge-write per idle
        // trigger — cheaper than letting Backup.run no-op through its
        // commit path
        if (!batch.isEmpty) {
          Backup.run(batch.sparkSession, batch.toDF(), config)
          ()
        }
      }
      .start()
  }

  /** St2 incremental one-shot: drain whatever is new since the checkpoint and
    * stop. Returns the merged manifest state after the run.
    */
  def runAvailableNow(spark: SparkSession, records: DataFrame, config: BackupConfig,
                      checkpointDir: String): BackupManifest = {
    val q = start(records, config, checkpointDir, Trigger.AvailableNow())
    q.awaitTermination()
    // an empty first run never writes a manifest — return an empty one
    // instead of crashing the drain
    try Manifest.load(config.backupRoot, config.backupId)
    catch {
      case _: java.io.FileNotFoundException =>
        graft.catalog.BackupManifest(config.backupId, System.currentTimeMillis(),
          None, Nil, "none", Nil)
    }
  }

  /** A parquet-file streaming source over an events directory shaped into the
    * canonical record schema — the broker-free stand-in for
    * `readStream.format("kafka")` in tests and local runs.
    */
  def eventsFileSource(spark: SparkSession, dir: String, numPartitions: Int = 4): DataFrame = {
    val schema = spark.read.parquet(dir).schema
    // same canonical projection as the batch leg — one definition, two legs
    KRecord.eventsProjection(
      spark.readStream.schema(schema).parquet(dir), numPartitions)
  }
}
