package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** One audit row: render the JSON the round artifact records AND decide
    * whether the measurement must FAIL the entry. `cell` is
    * None = empty result (no audit cell at all), Some(None) = NULL cell
    * (the entry ran above its measured-count gate — operator-only timing
    * regime, floor not demonstrable by design), Some(Some(v)) = measured.
    *
    * ENFORCED floors (r10 verdict task 2): a measured value below its
    * floor — or an empty result that leaves a configured floor
    * undemonstrated — returns fail=true, and the caller withholds the
    * entry's parquet dump so the driver's compare records an error row for
    * it. A recall regression fails the ROUND, instead of flipping an
    * `above_floor` boolean nobody gates on.
    */
  private[graft] def auditRow(column: String, cell: Option[Option[Double]],
                              floor: Option[Double]): (String, Boolean) = {
    val floorS = floor.map(_.toString).getOrElse("null")
    cell match {
      case Some(Some(v)) =>
        val above = floor.forall(v >= _)
        (s"""{"column":"$column","value":$v,"floor":$floorS,""" +
          s""""above_floor":$above,"gated":false""" +
          (if (above) "}" else ""","enforced":true}"""), !above)
      case Some(None) =>
        (s"""{"column":"$column","value":null,"floor":$floorS,""" +
          """"above_floor":true,"gated":true}""", false)
      case None =>
        // an empty result with a configured floor is NOT a pass — the
        // floor cannot be demonstrated, and greening it would mask a
        // regression that zeroed the operator's output
        val ok = floor.isEmpty
        (s"""{"column":"$column","value":null,"floor":$floorS,""" +
          s""""above_floor":$ok,"gated":false,"empty_result":true""" +
          (if (ok) "}" else ""","enforced":true}"""), !ok)
    }
  }

  private val LogLevel = "WARN"

  /** `graft.Verify <sfDir> <outDir> [entry,entry,...]`: the optional third
    * argument, for local iteration, dumps the named entries instead of the
    * full battery.
    */
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val only = if (args.length > 2) args(2).split(",").toSeq else Nil
    try run(Battery.session(LogLevel), sfDir, outDir, only)
    finally Battery.stop()
  }

  /** Dump `only` (every entry when empty) from `spark` under `outDir`: one
    * parquet directory per entry that ran and passed its audit floor, plus
    * `oracle_sql.json` and `audits.json`. A full run also copies the audits
    * to `AUDITS_r<round>.json` in the working directory. `spark` stays
    * running.
    */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          only: Seq[String]): Unit = {
    val entries = Battery.select(only)
    new java.io.File(outDir).mkdirs()
    // measured-quality surface for the no-oracle entries: each approximate
    // operator carries its audit as a constant result column
    // (exact_pair_recall / recall_at_k / holdout_acc); collect them here so
    // the round artifact (AUDITS_r<k>.json) records value, floor, and
    // above-floor verdict without anyone re-running Spark. Floors mirror
    // the ScalaTest floors (DataOpsSpec/QualityClassifierSpec); entries
    // with no spec floor record null and above_floor is vacuous-true.
    val auditColumns = Set("exact_pair_recall", "recall_at_k", "holdout_acc")
    // EVERY measured audit row carries an explicit floor (a null floor made
    // above_floor vacuous-true — a silent recall regression would have been
    // invisible in the round artifact). The four floors added in round 10
    // derive from their round-9 measured values, set just under them:
    //   d_semantic_prune   measured 0.3232 → 0.3  (clustering-miss recall of
    //     the min-id prune over semanticPairs; tracks d_semantic_dedup)
    //   d_semantic_dedup   measured 0.3899 → 0.35 (cross-cluster pair recall
    //     of the occupancy-scaled SemDeDup; 0.3848–0.3899 across rounds)
    //   m_phash_dups       measured 1.0    → 0.95 (banding is radius-complete
    //     by construction; <1.0 would mean the band math itself broke)
    //   d_incremental_minhash measured 1.0 → 0.9  (same MinHash family floor
    //     as d_minhash_pairs — the incremental split must not cost recall)
    val floors = Map(
      "a_ann_lsh" -> 0.4, "a_ann_lsh_bucketed" -> 0.3, "a_ann_ivf" -> 0.5,
      "a_ann_pq" -> 0.3, "a_ann_ivfpq" -> 0.3, "a_retrieval_ivf" -> 0.5,
      "a_retrieval_index" -> 0.5, "a_retrieval_ivfpq" -> 0.5,
      // ADC-only serve: quantization reaches the final ranks (no exact
      // re-rank), so the floor sits at the family's 0.5 against a 0.96
      // sf0.01 measurement
      "a_retrieval_ivfpq_adc" -> 0.5,
      // ingest-assembled index (models fit on the seed half only): the
      // family floor against a 1.0 sf0.01 measurement — frozen-fit
      // staleness plus any protocol dup/loss would both surface here
      "a_retrieval_ingest" -> 0.5,
      "d_minhash_pairs" -> 0.9, "d_simhash_pairs" -> 0.5,
      "d_embedding_dups" -> 0.35, "d_quality_classifier" -> 0.8,
      "d_semantic_prune" -> 0.3, "d_semantic_dedup" -> 0.35,
      "m_phash_dups" -> 0.95, "d_incremental_minhash" -> 0.9)
    val audits = scala.collection.mutable.LinkedHashMap[String, String]()
    Battery.each(spark, entries, "verify", LogLevel) { (spark, name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        val res = spark.read.parquet(s"$outDir/$name")
        res.columns.find(auditColumns).foreach { c =>
          // constant audit column: one cell decides; a NULL means the entry
          // ran above its measured-count gate (operator-only timing regime).
          // A zero-row result has no cell — record it rather than letting
          // head() throw and misreport a successful dump as a failure
          val cell = res.select(c).limit(1).collect().headOption.map(r =>
            if (r.isNullAt(0)) None else Some(r.getDouble(0)))
          val (row, fail) = auditRow(c, cell, floors.get(name))
          audits(name) = row
          if (fail) {
            // ENFORCEMENT: withhold the dump so the driver's compare
            // records an error row for this entry — the regression fails
            // the round, loudly and per-entry
            System.err.println(s"[verify] $name FAILED its audit floor " +
              s"(${floors.get(name).getOrElse("?")}): $row — " +
              "withholding the dump so the round records the regression")
            org.apache.commons.io.FileUtils.deleteDirectory(
              new java.io.File(s"$outDir/$name"))
          }
        }
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // no dump for a failed entry, not even an earlier run's
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$outDir/$name"))
      }
    }
    // JSON string escape (shared util): a tab or CR in builder-authored SQL
    // would otherwise make the driver's json.load fail and silently zero the
    // round's correctness.
    def q(s: String): String = graft.util.Json.escape(s)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // no-oracle entries with no in-result audit column are spec-verified;
    // record the basis so the audits file covers every no-oracle row
    val specBasis = Map(
      "d_bpe_train" -> ("merge-for-merge equality vs an independent " +
        "reference implementation (BpeTrainerSpec); pair statistics " +
        "oracled by d_bpe_pairs"),
      "d_unigram_train" -> ("piece-for-piece equality vs an independent " +
        "reference implementation (UnigramTrainerSpec); seed substring " +
        "statistics oracled by d_unigram_seeds"),
      "p_backup_throughput" -> ("end-to-end pipeline; counts oracled by " +
        "p_roundtrip_counts, MB/s recorded in the bench artifact"),
      "q_murmur2_partition" -> ("bit-exact golden vectors vs Kafka's " +
        "murmur2 (KHashSpec)"))
    specBasis.foreach { case (name, basis) =>
      if (entries.exists(_._1 == name) && !audits.contains(name))
        audits(name) = s"""{"basis":${q(basis)}}"""
    }
    if (audits.nonEmpty) {
      val auditsJson = audits
        .map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/audits.json"), auditsJson)
      // repo-root round copy next to BENCH_r<k>: the driver stamps
      // CORRECTNESS_r<k> at round END, so the in-flight round is max+1
      if (only.isEmpty) try {
        val prior = Option(new java.io.File(".").listFiles()).getOrElse(Array())
          .flatMap(f => "CORRECTNESS_r(\\d+)\\.json".r
            .findFirstMatchIn(f.getName).map(_.group(1).toInt))
        val round = if (prior.isEmpty) 0 else prior.max + 1
        Files.writeString(Paths.get(f"AUDITS_r$round%02d.json"), auditsJson)
      } catch { case e: Throwable =>
        System.err.println(s"[verify] audits round copy failed: $e")
      }
    }
  }
}
