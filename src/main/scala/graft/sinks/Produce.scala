package graft.sinks

import graft.model.KRecord
import graft.remap.OffsetPair
import org.apache.spark.sql.Dataset

/** Per-sub-batch produce result (kafka/produce.rs ProduceResponse):
  * (base_offset, record_count) per sub-batch; `baseOffset` is the first
  * sub-batch's base.
  */
case class ProduceResult(
    topic: String,
    partition: Int,
    baseOffset: Long,
    recordCount: Long,
    subBatchOffsets: Seq[(Long, Int)])

/** Where produced records land. Spark's Kafka sink discards produce metadata,
  * so target-offset capture (the reference's phase-2/phase-3 requirement,
  * restore/engine.rs:1410-1439) needs a producer that reports per-batch base
  * offsets — in production a raw KafkaProducer with ordered send callbacks
  * inside `foreachPartition`; in tests [[CollectingSink]].
  */
trait RecordSink extends Serializable {
  /** Send one ordered batch to (topic, partition); return the base offset the
    * sink assigned to the batch's first record.
    */
  def sendBatch(topic: String, partition: Int, records: Seq[KRecord]): Long
}

/** In-memory sink assigning sequential offsets per (topic, partition) from a
  * configurable start — mirrors a broker's offset assignment for tests
  * (the reference's MemoryBackend pattern).
  *
  * NOTE: when used through [[Produce.runDistributed]], Spark serializes a
  * COPY of this sink into each task — driver-side `sent`/offset state stays
  * empty. Read results from runDistributed's return value; per-(topic,
  * partition) offset continuity holds because the repartition keeps each key
  * in one task.
  */
final class CollectingSink(startOffsets: Map[(String, Int), Long] = Map.empty)
    extends RecordSink {
  private val next = new java.util.concurrent.ConcurrentHashMap[(String, Int), java.lang.Long]()
  val sent = java.util.Collections.synchronizedList(
    new java.util.ArrayList[(String, Int, Long, Int)]()) // (topic, p, base, n)

  def sendBatch(topic: String, partition: Int, records: Seq[KRecord]): Long = {
    val key = (topic, partition)
    val base = next.compute(key, (k, v) =>
      if (v == null) startOffsets.getOrElse(k, 0L) + records.size
      else v + records.size) - records.size
    sent.add((topic, partition, base, records.size))
    base
  }
}

object Produce {

  /** Record batch v2 stores timestamp deltas as i32 ms (~24.8 days): batches
    * whose (max-min) timestamp span would overflow are split, preserving
    * order, tracking the running min/max (kafka/produce.rs:42-71).
    */
  val MaxTimestampDeltaMs: Long = Int.MaxValue.toLong

  def splitByTimestamp(records: Seq[KRecord]): Seq[Seq[KRecord]] = {
    if (records.isEmpty) return Nil
    val batches = Seq.newBuilder[Seq[KRecord]]
    var current = Vector.newBuilder[KRecord]
    var empty = true
    var tsMin = records.head.timestamp
    var tsMax = tsMin
    records.foreach { r =>
      val newMin = math.min(tsMin, r.timestamp)
      val newMax = math.max(tsMax, r.timestamp)
      if (!empty && (newMax - newMin) > MaxTimestampDeltaMs) {
        batches += current.result()
        current = Vector.newBuilder[KRecord]
        empty = true
        tsMin = r.timestamp
        tsMax = r.timestamp
      } else {
        tsMin = newMin
        tsMax = newMax
      }
      current += r
      empty = false
    }
    batches += current.result()
    batches.result()
  }

  /** Produce one partition's ordered records through the sink in
    * `maxBatchRecords` chunks (each further split on timestamp span) and
    * return the result plus the per-record source→target pairs the offset
    * mapping needs. Sub-batch base offsets + in-batch position reconstruct
    * every target offset, exactly like the reference's callback bookkeeping.
    */
  def producePartition(topic: String, partition: Int, records: Iterator[KRecord],
                       sink: RecordSink, maxBatchRecords: Int = 1000,
                       pairEvery: Int = DefaultPairEvery): (ProduceResult, Vector[OffsetPair]) = {
    var baseOffset = -1L
    var total = 0L
    val subBatches = Vector.newBuilder[(Long, Int)]
    val pairs = Vector.newBuilder[OffsetPair]
    records.grouped(maxBatchRecords).foreach { chunk =>
      splitByTimestamp(chunk.toSeq).foreach { batch =>
        val base = sink.sendBatch(topic, partition, batch)
        if (baseOffset < 0) baseOffset = base
        subBatches += ((base, batch.size))
        var i = 0
        var prevSource = Long.MinValue
        batch.foreach { r =>
          // contiguity guard: nearest-≤-anchor + delta is only exact while
          // source offsets are contiguous, so every GAP (compacted topics,
          // transactional markers) gets its own anchor — sampling stays
          // O(records/pairEvery + gaps) and the reconstruction stays EXACT;
          // without this a sampled default silently mis-maps phase-3 resets
          if (i % pairEvery == 0 || (i > 0 && r.offset != prevSource + 1))
            pairs += OffsetPair(r.offset, base + i, r.timestamp)
          prevSource = r.offset
          i += 1
        }
        total += batch.size
      }
    }
    (ProduceResult(topic, partition, baseOffset, total, subBatches.result()),
      pairs.result())
  }

  /** One sampled source→target observation, as a row for the distributed
    * pairs DataFrame ([[OffsetMappingDF.lookupTargets]] consumes this shape).
    */
  case class ProducedPair(topic: String, partition: Int, source_offset: Long,
                          target_offset: Long, timestamp: Long)

  // union row for the single-pass produce job (public: Spark's generated
  // deserializer code needs member access): summaries carry the ProduceResult
  // fields, pair rows carry one sampled observation
  case class ProduceEvent(
      is_summary: Boolean, topic: String, partition: Int,
      source_offset: Long, target_offset: Long, timestamp: Long,
      base_offset: Long, record_count: Long,
      sub_bases: Array[Long], sub_counts: Array[Int])

  /** Default pair-sampling interval: one anchor per `pairEvery` records, one
    * at every sub-batch base, and one at every source-offset GAP (the
    * contiguity guard in producePartition). The nearest-≤ + delta lookup (J1)
    * therefore reconstructs every target EXACTLY — including compacted
    * topics — from O(records/pairEvery + gaps) anchors; the reference keeps
    * sub-batch bases the same way (restore/engine.rs:1410-1439) but without
    * the gap guard. Per-record capture (`pairEvery=1`) remains an opt-in
    * debugging mode: at 100 TB it is O(records) pairs.
    */
  val DefaultPairEvery: Int = 1000

  /** Distributed produce of a canonical-record Dataset: one task per
    * (topic, partition), order within partitions preserved by the upstream
    * `sortWithinPartitions`. The sampled pairs NEVER reach the driver — they
    * stay a DataFrame (topic, partition, source_offset, target_offset,
    * timestamp) for [[graft.remap.OffsetMappingDF.lookupTargets]]; only the
    * per-(topic, partition) summaries are collected (O(partitions) driver
    * state).
    *
    * The produce job runs ONCE, eagerly, via `localCheckpoint`: lineage is
    * truncated after the pass, so a lost cached partition can never silently
    * re-run the side-effecting producer — the job FAILS instead (re-producing
    * from lineage would duplicate records on the real sink, which is strictly
    * worse than a loud retryable failure). Call `unpersistPairs` (the
    * returned thunk) when the pairs have been consumed.
    */
  def runDistributed(records: Dataset[KRecord], sink: RecordSink,
                     maxBatchRecords: Int = 1000, pairEvery: Int = DefaultPairEvery)
      : (Seq[ProduceResult], org.apache.spark.sql.DataFrame, () => Unit) = {
    import records.sparkSession.implicits._
    val events = producedRuns(records, sink, maxBatchRecords, pairEvery)
      .flatMap { case (res, pairs) =>
        pairs.iterator.map(pr => ProduceEvent(is_summary = false, res.topic,
          res.partition, pr.source_offset, pr.target_offset, pr.timestamp,
          0L, 0L, Array.empty, Array.empty)) ++
          Iterator.single(ProduceEvent(is_summary = true, res.topic,
            res.partition, 0L, 0L, 0L, res.baseOffset, res.recordCount,
            res.subBatchOffsets.map(_._1).toArray,
            res.subBatchOffsets.map(_._2).toArray))
      }
      .localCheckpoint(true) // eager: produce runs HERE, exactly once
    val results = events.filter(_.is_summary).collect().toSeq
      .map(e => ProduceResult(e.topic, e.partition, e.base_offset,
        e.record_count, e.sub_bases.zip(e.sub_counts).toSeq))
      .sortBy(r => (r.topic, r.partition))
    val pairs = events.filter(!_.is_summary)
      .map(e => ProducedPair(e.topic, e.partition, e.source_offset,
        e.target_offset, e.timestamp))
      .toDF()
    (results, pairs, () => { events.unpersist(); () })
  }

  /** The produce pass: one (ProduceResult, sampled pairs) element per
    * consecutive (topic, partition) run.
    */
  private def producedRuns(records: Dataset[KRecord], sink: RecordSink,
                           maxBatchRecords: Int, pairEvery: Int)
      : Dataset[(ProduceResult, Vector[OffsetPair])] = {
    import records.sparkSession.implicits._
    records
      .repartition(org.apache.spark.sql.functions.col("topic"),
        org.apache.spark.sql.functions.col("partition"))
      .sortWithinPartitions("topic", "partition", "offset")
      .mapPartitions { it =>
        // the iterator is already grouped by (topic, partition) and ordered
        // by offset — stream consecutive runs through the producer instead of
        // materializing the whole task partition (payloads can be GBs)
        new Iterator[(ProduceResult, Vector[graft.remap.OffsetPair])] {
          private val in = it.buffered
          override def hasNext: Boolean = in.hasNext
          override def next(): (ProduceResult, Vector[graft.remap.OffsetPair]) = {
            val head = in.head
            val (t, p) = (head.topic, head.partition)
            val run = new Iterator[KRecord] {
              override def hasNext: Boolean = in.hasNext &&
                in.head.topic == t && in.head.partition == p
              override def next(): KRecord = in.next()
            }
            producePartition(t, p, run, sink, maxBatchRecords, pairEvery)
          }
        }
      }
  }
}
