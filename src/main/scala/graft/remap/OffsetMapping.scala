package graft.remap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** One source→target produced-offset observation (manifest.rs OffsetPair). */
case class OffsetPair(source_offset: Long, target_offset: Long, timestamp: Long)

/** Range summary per (topic, partition) (manifest.rs OffsetMappingEntry).
  * Target offsets are Option: phase-2 restore records source ranges before the
  * produce acks arrive (`update_range(None)`), then fills targets without ever
  * clobbering a Some with None (regression manifest.rs:1082-1153).
  */
case class OffsetRangeEntry(
    source_first_offset: Long,
    source_last_offset: Long,
    target_first_offset: Option[Long],
    target_last_offset: Option[Long],
    first_timestamp: Long,
    last_timestamp: Long)

/** The PITR/remap lookup table (manifest.rs:439-503): per-(topic,partition)
  * range entries + optional detailed source→target pairs. Driver-side — the
  * table is small (one entry per partition + sampled pairs); the bulk form
  * for millions of lookups is [[OffsetMappingDF]].
  */
case class OffsetMapping(
    entries: Map[String, OffsetRangeEntry] = Map.empty,
    detailed: Map[String, Vector[OffsetPair]] = Map.empty) {

  private def key(topic: String, partition: Int) = s"$topic/$partition"

  def add(topic: String, partition: Int, source: Long, target: Option[Long],
          ts: Long): OffsetMapping = {
    val k = key(topic, partition)
    val e = OffsetRangeEntry(source, source, target, target, ts, ts)
    copy(entries = entries + (k -> e))
  }

  /** update_range semantics (manifest.rs:595-620): extend min/max bounds;
    * a Some target always wins, a None only fills a missing slot.
    */
  def updateRange(topic: String, partition: Int, source: Long,
                  target: Option[Long], ts: Long): OffsetMapping = {
    val k = key(topic, partition)
    entries.get(k) match {
      case None => add(topic, partition, source, target, ts)
      case Some(e) =>
        var u = e
        if (source <= e.source_first_offset) {
          u = u.copy(source_first_offset = source,
            target_first_offset =
              if (target.isDefined || u.target_first_offset.isEmpty) target
              else u.target_first_offset,
            first_timestamp = math.min(ts, u.first_timestamp))
        }
        if (source >= e.source_last_offset) {
          u = u.copy(source_last_offset = source,
            target_last_offset =
              if (target.isDefined || u.target_last_offset.isEmpty) target
              else u.target_last_offset,
            last_timestamp = math.max(ts, u.last_timestamp))
        }
        copy(entries = entries + (k -> u))
    }
  }

  def addDetailed(topic: String, partition: Int, pair: OffsetPair): OffsetMapping = {
    val k = key(topic, partition)
    copy(detailed = detailed + (k -> (detailed.getOrElse(k, Vector.empty) :+ pair)))
  }

  /** J1 lookup_target_offset (manifest.rs:624-671): exact detailed match →
    * nearest-≤ pair + delta extrapolation → linear interpolation over the
    * range entry → None.
    */
  def lookupTargetOffset(topic: String, partition: Int, source: Long): Option[Long] = {
    val k = key(topic, partition)
    detailed.get(k).flatMap { pairs =>
      pairs.find(_.source_offset == source).map(_.target_offset).orElse {
        pairs.filter(_.source_offset <= source)
          .maxByOption(_.source_offset)
          .map(p => p.target_offset + (source - p.source_offset))
      }
    }.orElse {
      entries.get(k).flatMap { e =>
        (e.target_first_offset, e.target_last_offset) match {
          case (Some(tf), Some(tl)) =>
            val sourceRange = e.source_last_offset - e.source_first_offset
            if (sourceRange > 0) {
              val position = (source - e.source_first_offset).toDouble / sourceRange
              Some(tf + (position * (tl - tf)).toLong)
            } else Some(tf)
          case _ => None
        }
      }
    }
  }

  /** J2 get_nearest_offset_by_timestamp (manifest.rs:674-700): the
    * minimum-timestamp pair with ts >= T, else the last pair.
    */
  def nearestOffsetByTimestamp(topic: String, partition: Int,
                               ts: Long): Option[(Long, Long)] = {
    detailed.get(key(topic, partition)).flatMap { pairs =>
      pairs.filter(_.timestamp >= ts).minByOption(_.timestamp)
        .orElse(pairs.lastOption)
        .map(p => (p.source_offset, p.target_offset))
    }
  }

  /** Recalculate every range entry's targets from detailed pairs
    * (manifest.rs:737-773 recalc after snapshot import).
    */
  def recalculateTargets: OffsetMapping = {
    val updated = entries.map { case (k, e) =>
      detailed.get(k) match {
        case Some(pairs) if pairs.nonEmpty =>
          val tf = pairs.filter(_.source_offset <= e.source_first_offset)
            .maxByOption(_.source_offset)
            .map(p => p.target_offset + (e.source_first_offset - p.source_offset))
          val tl = pairs.filter(_.source_offset <= e.source_last_offset)
            .maxByOption(_.source_offset)
            .map(p => p.target_offset + (e.source_last_offset - p.source_offset))
          k -> e.copy(
            target_first_offset = tf.orElse(e.target_first_offset),
            target_last_offset = tl.orElse(e.target_last_offset))
        case _ => k -> e
      }
    }
    copy(entries = updated)
  }
}

/** A consumer-group reset decision for one (group, topic, partition). */
case class OffsetResetEntry(
    group_id: String, topic: String, partition: Int,
    source_offset: Long, target_offset: Option[Long])

/** J3 reset plan (restore/offset_reset.rs:218-335): every committed group
  * offset mapped through the offset mapping; a group is `complete` iff all of
  * its offsets resolved.
  */
case class OffsetResetPlan(entries: Seq[OffsetResetEntry]) {
  def groupComplete(group: String): Boolean =
    entries.filter(_.group_id == group).forall(_.target_offset.isDefined)
  def groups: Seq[String] = entries.map(_.group_id).distinct.sorted

  /** K8 exports (offset_reset.rs:451-549). Group/topic names are
    * user-controlled strings — CSV fields are quoted-escaped and shell
    * arguments single-quote-escaped (an adversarial group id must not become
    * a command injection in the exported script).
    */
  def toCsv: String = {
    def f(s: String): String =
      if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
        "\"" + s.replace("\"", "\"\"") + "\"" else s
    ("group_id,topic,partition,source_offset,target_offset" +:
      entries.map(e => s"${f(e.group_id)},${f(e.topic)},${e.partition}," +
        s"${e.source_offset},${e.target_offset.getOrElse("")}")).mkString("\n")
  }

  def toShellScript(bootstrap: String): String = {
    def sh(s: String): String = "'" + s.replace("'", "'\\''") + "'"
    entries.collect { case OffsetResetEntry(g, t, p, _, Some(tgt)) =>
      s"kafka-consumer-groups --bootstrap-server ${sh(bootstrap)} --group ${sh(g)} " +
        s"--topic ${sh(s"$t:$p")} --reset-offsets --to-offset $tgt --execute"
    }.mkString("#!/bin/sh\n", "\n", "\n")
  }

  def toJson: String = {
    // the same adversarial names the CSV/shell exports escape must not
    // produce malformed JSON here
    def js(s: String): String = graft.util.Json.escape(s)
    def row(e: OffsetResetEntry) =
      s"""{"group_id":${js(e.group_id)},"topic":${js(e.topic)},"partition":${e.partition},""" +
        s""""source_offset":${e.source_offset},"target_offset":${e.target_offset.map(_.toString).getOrElse("null")}}"""
    entries.map(row).mkString("[", ",", "]")
  }

  /** YAML report (offset_reset.rs:526 generate_yaml_report), grouped per
    * group like the reference's plan shape. Strings are double-quoted with
    * JSON-compatible escaping — valid YAML for the same adversarial names
    * the other exports escape.
    */
  def toYaml: String = {
    def y(s: String): String = graft.util.Json.escape(s)
    val sb = new StringBuilder("groups:\n")
    groups.foreach { g =>
      sb.append(s"  - group_id: ${y(g)}\n    partitions:\n")
      entries.filter(_.group_id == g).foreach { e =>
        sb.append(s"      - topic: ${y(e.topic)}\n")
          .append(s"        partition: ${e.partition}\n")
          .append(s"        source_offset: ${e.source_offset}\n")
          .append(s"        target_offset: ${e.target_offset.map(_.toString).getOrElse("null")}\n")
      }
    }
    sb.result()
  }
}

object OffsetResetPlan {
  /** Build the plan by mapping each committed offset through J1. */
  def build(committed: Seq[(String, String, Int, Long)],
            mapping: OffsetMapping): OffsetResetPlan =
    OffsetResetPlan(committed.map { case (g, t, p, off) =>
      OffsetResetEntry(g, t, p, off, mapping.lookupTargetOffset(t, p, off))
    })
}

/** Round-trip parser for [[OffsetResetPlan.toCsv]] output — the bulk-reset
  * CLI consumes the plan file three-phase-restore emits. Quote-aware: the
  * same adversarial group/topic names the export escapes must parse back
  * verbatim.
  */
object OffsetResetPlanCsv {

  def parse(csv: String): OffsetResetPlan = {
    val records = splitCsvRecords(csv).filter(_ != Vector(""))
    require(records.nonEmpty && records.head.headOption.contains("group_id"),
      "not a reset-plan CSV (missing group_id header)")
    OffsetResetPlan(records.tail.map { f =>
      require(f.length == 5, s"bad reset-plan row: ${f.mkString(",")}")
      OffsetResetEntry(f(0), f(1), f(2).toInt, f(3).toLong,
        if (f(4).isEmpty) None else Some(f(4).toLong))
    })
  }

  /** Full quote-aware tokenizer: record separators are newlines OUTSIDE
    * quotes, so a quoted group/topic containing an embedded newline — which
    * toCsv deliberately preserves — round-trips instead of shearing into two
    * unparseable fragments.
    */
  private def splitCsvRecords(csv: String): Vector[Vector[String]] = {
    val records = Vector.newBuilder[Vector[String]]
    var fields = Vector.newBuilder[String]
    var nFields = 0
    val cur = new StringBuilder
    var i = 0
    var inQuotes = false
    def endField(): Unit = { fields += cur.result(); nFields += 1; cur.clear() }
    def endRecord(): Unit = {
      endField(); records += fields.result(); fields = Vector.newBuilder; nFields = 0
    }
    while (i < csv.length) {
      val c = csv.charAt(i)
      if (inQuotes) {
        if (c == '"') {
          if (i + 1 < csv.length && csv.charAt(i + 1) == '"') { cur.append('"'); i += 1 }
          else inQuotes = false
        } else cur.append(c)
      } else c match {
        case '"' => inQuotes = true
        case ',' => endField()
        case '\n' => endRecord()
        // \r\n ends the record at the \n; a LONE \r is field content (toCsv
        // quotes names containing it, but be lossless for foreign CSVs too)
        case '\r' if i + 1 < csv.length && csv.charAt(i + 1) == '\n' => ()
        case _ => cur.append(c)
      }
      i += 1
    }
    if (cur.nonEmpty || nFields > 0) endRecord()
    records.result()
  }
}

/** Bulk DataFrame forms of the same joins, for when the mapping itself is
  * large (restore of a million-partition estate): as-of join via union +
  * running last() window, partitioned by (topic, partition) — scales out,
  * no driver state.
  */
object OffsetMappingDF {

  /** mapping: (topic, partition, source_offset, target_offset[, timestamp]).
    * probes: (topic, partition, source_offset). Returns probes + `target`
    * column: nearest-≤ pair + delta, matching J1's detailed path.
    */
  def lookupTargets(mapping: DataFrame, probes: DataFrame): DataFrame = {
    val m = mapping.select(col("topic"), col("partition"),
      col("source_offset").as("k"), col("source_offset").as("m_src"),
      col("target_offset").as("m_tgt"), lit(1).as("is_m"))
    val p = probes.select(col("topic"), col("partition"),
      col("source_offset").as("k"), lit(null).cast("bigint").as("m_src"),
      lit(null).cast("bigint").as("m_tgt"), lit(0).as("is_m"))
    val w = Window.partitionBy("topic", "partition")
      .orderBy(col("k"), col("is_m").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    m.unionByName(p)
      .withColumn("asof_src", last("m_src", ignoreNulls = true).over(w))
      .withColumn("asof_tgt", last("m_tgt", ignoreNulls = true).over(w))
      .filter(col("is_m") === 0)
      .select(col("topic"), col("partition"), col("k").as("source_offset"),
        (col("asof_tgt") + (col("k") - col("asof_src"))).as("target_offset"))
  }

  /** J3 distributed consumer-group reset plan (restore/offset_reset.rs:251-335):
    * committed `(group_id, topic, partition, committed_offset)` × mapping
    * `(topic, partition, source_offset, target_offset)` → one plan row per
    * committed entry with a `target_offset`, WITHOUT replicating the mapping
    * per group.
    *
    * Scale shape (the crossJoin this replaces shipped G×M rows into the
    * window shuffle): (1) the mapping is pruned with a broadcast semi-join to
    * the (topic, partition) set the groups actually commit to — groups commit
    * to few partitions of a large estate; (2) the as-of window runs once per
    * DISTINCT (topic, partition, committed_offset) probe, so thousands of
    * groups sharing a committed offset share one lookup; (3) groups rejoin on
    * the probe key. The mapping is never replicated per group — locked by a
    * PlanSpec assertion (no cartesian/nested-loop join, mapping side pruned).
    * Unmappable entries (no mapping point ≤ committed) are dropped, matching
    * the reference's skip-with-warning behavior.
    */
  def resetPlan(committed: DataFrame, mapping: DataFrame): DataFrame = {
    val parts = committed.select("topic", "partition").distinct()
    val pruned = mapping.join(broadcast(parts), Seq("topic", "partition"), "left_semi")
    val probes = committed.select(col("topic"), col("partition"),
      col("committed_offset").as("source_offset")).distinct()
    val targets = lookupTargets(pruned, probes)
      .filter(col("target_offset").isNotNull)
      .withColumnRenamed("source_offset", "committed_offset")
    committed.join(targets, Seq("topic", "partition", "committed_offset"))
  }

  /** A6 range aggregation of a detailed mapping DF. */
  def rangeEntries(mapping: DataFrame): DataFrame =
    mapping.groupBy("topic", "partition")
      .agg(min("source_offset").as("source_first_offset"),
        max("source_offset").as("source_last_offset"),
        min_by(col("target_offset"), col("source_offset")).as("target_first_offset"),
        max_by(col("target_offset"), col("source_offset")).as("target_last_offset"),
        min("timestamp").as("first_timestamp"),
        max("timestamp").as("last_timestamp"))

  /** J9 rollback verify: expected snapshot vs actual committed — full outer
    * join, mismatches only (restore/offset_rollback.rs:579-668).
    */
  def rollbackVerify(expected: DataFrame, actual: DataFrame): DataFrame =
    expected.join(actual, Seq("group_id", "topic", "partition"), "full_outer")
      .filter(not(col("expected_offset") <=> col("actual_offset")))
}
