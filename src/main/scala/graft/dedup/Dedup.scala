package graft.dedup

import graft.text.TextFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, each designed for the
  * 100 TB shape:
  *
  *  - exact: one hash-shuffle on a 16-byte digest (not the full text);
  *  - MinHash+LSH: signatures are fixed-width arrays built map-side; only the
  *    (band, hash) pairs shuffle, so the join state is O(docs × bands), never
  *    O(docs²);
  *  - SimHash: 64-bit signature, candidate pairs via maxHamming+1 band
  *    buckets (pigeonhole: ≤ maxHamming differing bits leave one band
  *    exact-matching);
  *  - n-gram Jaccard: inverted-index self-join on shingles with per-shingle
  *    frequency cap to bound skew (a stopword shingle would otherwise create
  *    a quadratic bucket);
  *  - embedding cosine: random-hyperplane LSH buckets, exact cosine verify
  *    inside buckets only.
  */
object Dedup {

  /** Exact dedup on a normalized digest of `textCol`. Keeps the smallest
    * `idCol` per group (deterministic winner); NULL-text rows pass through
    * untouched (they are absent documents, not duplicates of each other).
    * Shuffles (digest → partition) once; the digest is computed map-side so
    * the exchange carries 16 bytes + id, not the document body.
    */
  /** THE exact-dedup digest — every batch and streaming form (exact /
    * exactIndex / incrementalExact / StreamingText.incrementalDedupStream)
    * must key on this one definition, or a persisted index silently stops
    * matching future batches.
    */
  def dupKey(text: Column): Column = md5(lower(trim(text)))

  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    require(!df.columns.contains("graft_dup_key") && !df.columns.contains("graft_rn"),
      "input already has a graft_dup_key/graft_rn column — rename it first")
    // NULL-text rows never enter the window: they are kept unconditionally,
    // and partitionBy(null-key) would otherwise funnel every absent-text row
    // of the corpus through ONE reducer just to discard its row_number
    val keyed = df.withColumn("graft_dup_key", dupKey(col(textCol)))
    val w = Window.partitionBy("graft_dup_key").orderBy(col(idCol))
    keyed.filter(col("graft_dup_key").isNotNull)
      .withColumn("graft_rn", row_number().over(w))
      .filter(col("graft_rn") === 1)
      .drop("graft_rn")
      .unionByName(keyed.filter(col("graft_dup_key").isNull))
      .drop("graft_dup_key")
  }

  /** Digest index of a corpus: one row per id with `dup_key =
    * md5(lower(trim(text)))` — the durable artifact an incremental ingest
    * run anti-joins new batches against (persist it as parquet, ideally
    * bucketed by `dup_key` so the recurring join never re-shuffles the
    * historical side). NULL-text rows carry a NULL key: absent documents
    * index nothing, and anti-join equality never matches a NULL anyway.
    */
  def exactIndex(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), dupKey(col(textCol)).as("dup_key"))

  /** Persist an [[exactIndex]] table BUCKETED by `dup_key` — the layout a
    * recurring ingest wants: [[incrementalExact]] against
    * `spark.table(tableName)` then plans with NO exchange on the historical
    * side (the scan's hash-bucketing already satisfies the join's
    * distribution), so at 100 TB only the day's batch ever shuffles, sized
    * to the bucket count. `sortBy` additionally pre-sorts each bucket file,
    * removing the index-side sort under a sort-merge join. Bucketing needs a
    * catalog entry (`saveAsTable` + explicit `path` → external table); the
    * files land in `dir` and survive the catalog, and re-registration on a
    * new session is one `CREATE TABLE ... USING parquet LOCATION` away.
    */
  def writeExactIndexBucketed(index: DataFrame, tableName: String, dir: String,
                              buckets: Int): Unit =
    index.write.mode("overwrite")
      .bucketBy(buckets, "dup_key").sortBy("dup_key")
      .option("path", dir)
      .format("parquet")
      .saveAsTable(tableName)

  /** Compact a live bucketed digest index plus a new batch of digests into
    * a FRESH table + directory — the safe rotation that
    * [[graft.streaming.StreamingText.incrementalDedupStream]]'s freshness
    * note demands (rewriting the live directory under a running stream
    * serves a stale file listing or fails on deleted files; a new location
    * + reader swap + restart is the only safe order). `newIndex` is an
    * [[exactIndex]] over the newly-ingested SURVIVORS (ids disjoint from
    * the old index by construction — they passed the anti-join); its
    * columns must match the old table's (same id column name). Null-digest
    * rows are dropped — they index nothing and would bloat every future
    * compaction. The merged rows are repartitioned to exactly the bucket
    * count on `dup_key` before the bucketed write, so the compacted table
    * lands as ONE file per bucket (the accumulated
    * tasks×buckets small-file debt of incremental appends is the reason
    * compactions run at all); the exchange moves only (id, 16-byte digest)
    * rows. Swap order for callers: point readers at `newTable`, restart
    * streams, then delete the old directory.
    */
  def compactExactIndex(spark: SparkSession, oldTable: String,
                        newIndex: DataFrame, newTable: String, newDir: String,
                        buckets: Int): Unit = {
    val merged = spark.table(oldTable)
      .unionByName(newIndex)
      .filter(col("dup_key").isNotNull)
      .repartition(buckets, col("dup_key"))
    writeExactIndexBucketed(merged, newTable, newDir, buckets)
  }

  /** Incremental exact dedup — the "ingest day N against days 1..N-1" op:
    * keeps rows of `batch` whose normalized digest appears neither in
    * `index` (an [[exactIndex]] table) nor earlier in the batch itself;
    * NULL-text batch rows pass through untouched as in [[exact]].
    *
    * Scale shape: the index is typically 1000× the batch, so the anti-join
    * deliberately moves only the index's (16-byte digest) column — never a
    * document body — and does NOT pre-`distinct` the index (anti-join
    * semantics ignore right-side duplicates; a distinct would be a full
    * historical-corpus shuffle for nothing). With a digest-bucketed index
    * the exchange on the historical side disappears entirely.
    */
  def incrementalExact(batch: DataFrame, idCol: String, textCol: String,
      index: DataFrame): DataFrame = {
    require(!batch.columns.contains("graft_dup_key") && !batch.columns.contains("graft_rn"),
      "batch already has a graft_dup_key/graft_rn column — rename it first")
    val keyed = batch.withColumn("graft_dup_key", dupKey(col(textCol)))
    val w = Window.partitionBy("graft_dup_key").orderBy(col(idCol))
    keyed.filter(col("graft_dup_key").isNotNull)
      .join(index.select(col("dup_key").as("graft_dup_key")), Seq("graft_dup_key"), "left_anti")
      .withColumn("graft_rn", row_number().over(w))
      .filter(col("graft_rn") === 1)
      .drop("graft_rn")
      .unionByName(keyed.filter(col("graft_dup_key").isNull))
      .drop("graft_dup_key")
  }

  /** MinHash signatures for a whole corpus: (id, sig array<long> of length k).
    *
    * One narrow map: the native [[graft.functions.MinHashSig]] kernel
    * computes all k running minima in a single pass over the shingle array —
    * NO explode, NO shuffle, no aggregation state. (The previous shape —
    * explode + k map-side min-aggregates — was already shuffle-light, but it
    * still paid a groupBy exchange; hash-compatible by construction, so
    * signatures are bit-identical. The tempting pure-HOF alternative,
    * k × array_min(transform(...)), re-evaluates the shingle expression per
    * slot and is quadratic in practice.)
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        shingleN: Int, k: Int): DataFrame =
    df.select(col(idCol).as("id"),
      graft.functions.KFunctions.minhash_sig(
        TextFunctions.shingles(col(textCol), shingleN), k).as("sig"))

  /** LSH banding: signature of length k split into `bands` bands of k/bands
    * rows; each band hashed to one bucket key. Docs sharing any band bucket
    * are candidate pairs.
    */
  def lshBands(signature: Column, bands: Int, k: Int): Column = {
    require(k % bands == 0,
      s"bands must divide k exactly — k=$k, bands=$bands would silently ignore the last ${k % bands} signature slots")
    val r = k / bands
    array((0 until bands).map(b =>
      struct(lit(b).as("band"),
        xxhash64(concat_ws(",", transform(slice(signature, b * r + 1, r),
          x => x.cast("string")))).as("bucket"))): _*)
  }

  /** MinHash+LSH near-duplicate candidate pairs with exact Jaccard verify on
    * the candidates (estimated via signature agreement). Returns
    * (id_a, id_b, jaccard_est) with id_a < id_b, deduplicated across bands.
    */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   shingleN: Int = 3, k: Int = 64, bands: Int = 16,
                   threshold: Double = 0.5): DataFrame =
    minhashPairsFromSigs(minhashSignatures(df, idCol, textCol, shingleN, k),
      k, bands, threshold)

  /** The pair leg of [[minhashPairs]] over an already-computed — typically
    * PERSISTED — `(id, sig)` signature table: banding, the
    * signature-agreement Jaccard estimate, the threshold, and the
    * cross-band dedup. Split out because the signatures are engine-native
    * (the [[graft.functions.MinHashSig]] xxhash kernel, golden-vector
    * spec-pinned) while everything from here on is pure relational logic
    * any engine must agree on — the fixture-based DuckDB oracle
    * (`d_minhash_band_pairs`) hash-checks exactly this half.
    */
  def minhashPairsFromSigs(sigs0: DataFrame, k: Int = 64, bands: Int = 16,
                           threshold: Double = 0.5): DataFrame = {
    val sigs = sigs0.toDF("id", "sig")
    // docs shorter than the shingle width have no shingle set — they all
    // share the sentinel signature and would pair quadratically as false
    // jaccard-1.0 "duplicates"; shingle-based dedup simply doesn't apply.
    // Materialized: both band-join sides read this table — lazy, each side
    // re-ran the MinHashSig kernel (k xxhash folds per document's shingle
    // set) over the corpus. k longs per doc — the standard signature proxy
    // size, same class as hammingPairs' groups table.
    val pairable = sigs.filter(element_at(col("sig"), 1) =!= Long.MaxValue)
      .localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val banded = pairable.select(col("id"), col("sig"),
        explode(lshBands(col("sig"), bands, k)).as("bb"))
      .select(col("id"), col("sig"), col("bb.band"), col("bb.bucket"))
    val a = banded.select(col("band"), col("bucket"), col("id").as("id_a"),
      col("sig").as("sig_a"))
    val b = banded.select(col("band"), col("bucket"), col("id").as("id_b"),
      col("sig").as("sig_b"))
    // score FIRST (native, cheap), dedup LAST: the dropDuplicates shuffle
    // then carries only the pairs that pass the threshold — at a 0.2+
    // threshold that is orders of magnitude fewer rows than all candidates
    a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("jaccard_est",
        graft.functions.KFunctions.array_eq_count(col("sig_a"), col("sig_b"))
          .cast("double") / k)
      .filter(col("jaccard_est") >= threshold)
      .dropDuplicates("id_a", "id_b")
      .select(col("id_a"), col("id_b"), round(col("jaccard_est"), 6).as("jaccard_est"))
  }

  /** Cross-corpus MinHash near-dup candidates — the approximate sibling of
    * [[incrementalExact]]: (batch_id, corpus_id, jaccard_est) for batch docs
    * that collide with the historical corpus in ≥ 1 LSH band and agree on ≥
    * `threshold` of signature slots. Both inputs are [[minhashSignatures]]
    * tables — the corpus side is a persisted artifact (k longs per doc), so
    * the historical TEXT is never re-read or re-hashed; bands are recomputed
    * map-side from the stored signature. Unlike the self-join, no id_a<id_b
    * ordering applies (the sides are distinct tables) and only batch×corpus
    * collisions survive, never corpus×corpus.
    */
  def minhashIncrementalPairs(batchSigs: DataFrame, corpusSigs: DataFrame,
                              k: Int = 64, bands: Int = 16,
                              threshold: Double = 0.5): DataFrame = {
    def banded(sigs: DataFrame, idAs: String, sigAs: String): DataFrame =
      sigs.filter(element_at(col("sig"), 1) =!= Long.MaxValue)
        .select(col("id"), col("sig"), explode(lshBands(col("sig"), bands, k)).as("bb"))
        .select(col("id").as(idAs), col("sig").as(sigAs),
          col("bb.band"), col("bb.bucket"))
    banded(batchSigs, "batch_id", "sig_b")
      .join(banded(corpusSigs, "corpus_id", "sig_c"), Seq("band", "bucket"))
      .withColumn("jaccard_est",
        graft.functions.KFunctions.array_eq_count(col("sig_b"), col("sig_c"))
          .cast("double") / k)
      .filter(col("jaccard_est") >= threshold)
      .dropDuplicates("batch_id", "corpus_id")
      .select(col("batch_id"), col("corpus_id"),
        round(col("jaccard_est"), 6).as("jaccard_est"))
  }

  /** 64-bit SimHash of a text column — same native kernel as
    * [[simhashSignatures]] (NULL for empty documents).
    */
  def simhash(text: Column): Column =
    graft.functions.KFunctions.simhash_sig(TextFunctions.tokens(text))

  /** Corpus SimHash as ONE narrow map via the native
    * [[graft.functions.SimHashSig]] kernel — no explode, no shuffle, no
    * 64-column vote aggregation. Empty documents get a NULL signature (they
    * must not all collide on one value); hash-compatible with the per-token
    * xxhash64 bit-vote formulation it replaces.
    */
  def simhashSignatures(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      graft.functions.KFunctions.simhash_sig(
        TextFunctions.tokens(col(textCol))).as("sig"))

  /** SimHash near-dup candidates: `maxHamming + 1` bands over the 64-bit
    * signature — with that many disjoint bands, ≤ maxHamming differing bits
    * always leave at least one band untouched (pigeonhole), so candidate
    * recall is COMPLETE for the requested radius; a fixed band count would
    * silently miss pairs whenever the radius exceeds bands−1. Exact Hamming
    * verify inside buckets. Wider radii mean narrower bands (64/(h+1) bits)
    * and therefore denser buckets — the standard recall/candidate-count
    * trade of banded LSH, paid explicitly. The band join sees one row per
    * DISTINCT signature — duplicate groups expand only on the output side.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame =
    hammingPairs(simhashSignatures(df, idCol, textCol), maxHamming)

  /** All `(id_a, id_b, hamming)` pairs with Hamming distance ≤ `maxHamming`
    * over 64-bit signatures `(id, sig)` — the banded machinery shared by
    * [[simhashPairs]] (text simhash) and
    * [[graft.multimodal.Multimodal.perceptualHash]] (image dHash). EXACT
    * for the given radius by pigeonhole: 64 bits split into maxHamming+1
    * bands, so any pair within the radius agrees on at least one whole
    * band. Null signatures (empty docs/payloads) are excluded.
    */
  def hammingPairs(sigs0: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 32,
      s"maxHamming must be in [0, 32) — got $maxHamming (bands of < 2 bits bucket everything together)")
    val sigs = sigs0.toDF("id", "sig")
      .filter(col("sig").isNotNull) // empty docs can't pair
    // Collapse to DISTINCT signatures before banding. Duplicate-heavy corpora
    // (boilerplate, mirrored pages — the normal shape at scale) otherwise turn
    // each 16-bit band bucket into a quadratic self-join over repeated rows:
    // the sf0.1→sf1 scaling run measured 67× on 10× data for the naive form.
    // After the collapse the band join runs over unique signatures only, and
    // group membership re-enters on the OUTPUT side, where pair count is the
    // answer's own size.
    // MATERIALIZED (eager localCheckpoint): five consumers read this table
    // (the hamming-0 cliques, both band-join sides, and the two id-rejoin
    // sides of the cross pairs) — lazy, each re-ran the whole signature
    // upstream (a simhash/dHash kernel pass over text, or a payload decode
    // for the media callers) per consumer. The table is the distinct-sig
    // proxy: 8-byte sigs + the id lists (O(input rows) longs), exactly the
    // "decide with small rows" shape — orders of magnitude below the
    // payloads it replaces at any scale.
    val groups = sigs.groupBy("sig")
      .agg(collect_list(col("id")).as("ids"))
      .localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.DISK_ONLY)

    // hamming-0 cliques off the identical-sig groups via CHAINED explodes —
    // generators stream, so a clique of n duplicates costs n² output rows but
    // never builds an n² in-memory pair array (a 65k-duplicate group is 2.1e9
    // pairs; any array form would overflow or OOM a single task)
    val samePairs = groups
      .filter(size(col("ids")) > 1)
      .select(explode(col("ids")).as("ia"), col("ids"))
      .select(col("ia"), explode(col("ids")).as("ib"))
      .filter(col("ia") < col("ib"))
      .select(col("ia").as("id_a"), col("ib").as("id_b"), lit(0).as("hamming"))

    // the band join moves BARE signatures (8-byte rows, no id payload — the
    // ids arrays rejoin only after the sig-pair dedup, once per side).
    // 64 bits split into maxHamming+1 contiguous bands, as even as possible
    val nBands = maxHamming + 1
    val widths = Array.tabulate(nBands)(i =>
      64 / nBands + (if (i < 64 % nBands) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    val banded = groups.select(col("sig"),
      explode(array((0 until nBands).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("sig"), offsets(b))
            .bitwiseAND((1L << widths(b)) - 1L).as("bucket"))): _*)).as("bb"))
      .select(col("sig"), col("bb.band"), col("bb.bucket"))
    val a = banded.select(col("band"), col("bucket"), col("sig").as("sig_a"))
    val b = banded.select(col("band"), col("bucket"), col("sig").as("sig_b"))
    // filter on Hamming BEFORE the dedup shuffle; dedup by SIG pair (an id
    // pair maps to exactly one sig pair, so no per-id dedup is needed)
    val sigPairs = a.join(b, Seq("band", "bucket"))
      .filter(col("sig_a") < col("sig_b"))
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("sig_a", "sig_b")
    val crossPairs = sigPairs
      .join(groups.select(col("sig").as("sig_a"), col("ids").as("ids_a")), Seq("sig_a"))
      .join(groups.select(col("sig").as("sig_b"), col("ids").as("ids_b")), Seq("sig_b"))
      .select(explode(col("ids_a")).as("ia"), col("ids_b"), col("hamming"))
      .select(col("ia"), explode(col("ids_b")).as("ib"), col("hamming"))
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"), col("hamming"))

    samePairs.unionByName(crossPairs)
  }

  /** Connected components over Hamming-≤-radius signature pairs WITHOUT
    * clique expansion — the clustering-shaped consumer of
    * [[hammingPairs]]'s machinery: `(id, component)` with component = the
    * group's minimum id.
    *
    * [[hammingPairs]] rightly emits every pair (pair count is the
    * answer's own size there), but a duplicate group of g identical
    * payloads is g² edges — feeding cliques to the components loop made
    * the clustering entry scale quadratically in dup-group size (measured
    * 21× on 10× data on the replicated corpus). Here identical signatures
    * collapse to their min-id REPRESENTATIVE first, components run on the
    * distinct-signature graph (edges = distinct-sig pairs only), and
    * membership re-enters by one sig join — the same collapse-then-rejoin
    * discipline as the band join itself. Component labels are identical
    * to running [[graft.dedup.Clusters.connectedComponents]] over the full
    * clique expansion (each sig's members are trivially one component, and
    * min-over-reps = min-over-ids because each rep IS its sig's min;
    * spec-pinned equal).
    */
  def hammingClusters(sigs0: DataFrame, maxHamming: Int = 3,
                      checkpointDir: Option[String] = None): DataFrame = {
    // materialized like hammingPairs' groups table, for the same reason:
    // sigs feeds the rep collapse, the pair leg, and the membership
    // re-entry join — lazy, each re-ran the signature kernel upstream
    val sigs = sigs0.toDF("id", "sig").filter(col("sig").isNotNull)
      .localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val reps = sigs.groupBy("sig").agg(min("id").as("rep"))
    val pairs = hammingPairs(reps.select(col("rep").as("id"), col("sig")),
        maxHamming)
      .select("id_a", "id_b")
    val comps = Clusters.connectedComponents(pairs,
        checkpointDir = checkpointDir)
      .withColumnRenamed("id", "rep")
    sigs.join(reps, Seq("sig"))
      .join(comps, Seq("rep"), "left")
      .select(col("id"), coalesce(col("component"), col("rep")).as("component"))
  }

  /** Exact n-gram Jaccard over an inverted-index self-join. `maxDocFreq`
    * drops ubiquitous shingles before the join — the skew guard that keeps
    * the biggest bucket bounded at scale.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 3, threshold: Double = 0.3,
                        maxDocFreq: Int = 1000): DataFrame = {
    // one shuffle builds the inverted index; pairs are expanded INSIDE each
    // shingle bucket with array expressions, so the shingle column is
    // evaluated exactly once and no self-join rescans the corpus
    val inv = df.select(col(idCol).as("id"),
      explode(array_distinct(TextFunctions.shingles(col(textCol), shingleN)))
        .as("shingle"))
    // |shingle set| per doc straight off the array — a narrow map, where
    // groupBy-counting the exploded index would pay a whole extra shuffle
    val sizes = df.select(col(idCol).as("id"),
      size(array_distinct(TextFunctions.shingles(col(textCol), shingleN))).as("n"))
    val buckets = inv.groupBy("shingle")
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .filter(size(col("ids")) >= 2 && size(col("ids")) <= maxDocFreq)
    // all (i < j) combinations within a bucket — native kernel; the nested
    // transform-of-slices form evaluated an interpreted lambda per PAIR
    val pairs = buckets
      .select(explode(graft.functions.KFunctions.sorted_id_pairs(col("ids"))).as("p"))
      .groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n", "n_a"), Seq("id_a"))
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n", "n_b"), Seq("id_b"))
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Edit-distance confirmation of candidate pairs — the verify leg that
    * runs AFTER a candidate generator (MinHash/SimHash/Jaccard buckets):
    * keep only pairs whose text prefixes are within `maxDist` Levenshtein
    * edits. Confirming on a `prefixLen` prefix is the scale contract —
    * Levenshtein is O(len²) per pair, so the bound must come from the
    * operator, not the data; near-dup docs agree early, and a pair that
    * diverges inside the prefix was never a near-dup. Output: the input
    * pair columns + `edit_dist`.
    *
    * Scale shape: two id joins attach prefixes to the PAIR set (post-LSH —
    * orders of magnitude smaller than the corpus); the docs side ships only
    * (id, prefix ≤ prefixLen chars). The distance runs through Spark's
    * thresholded `levenshtein(l, r, maxDist)` codegen built-in, which
    * early-exits the DP once the band exceeds the threshold — O(len×maxDist)
    * per pair instead of O(len²).
    */
  def confirmPairsEditDistance(pairs: DataFrame, docs: DataFrame,
                               maxDist: Int, prefixLen: Int = 256,
                               idCol: String = "doc_id",
                               textCol: String = "text"): DataFrame = {
    require(maxDist >= 0, "maxDist must be >= 0")
    require(prefixLen > 0, "prefixLen must be positive")
    val pfx = docs.select(col(idCol).as("__cid"),
      substring(col(textCol), 1, prefixLen).as("__pfx"))
    pairs
      .join(pfx.select(col("__cid").as("id_a"), col("__pfx").as("__pfx_a")), Seq("id_a"))
      .join(pfx.select(col("__cid").as("id_b"), col("__pfx").as("__pfx_b")), Seq("id_b"))
      .withColumn("edit_dist",
        levenshtein(col("__pfx_a"), col("__pfx_b"), maxDist))
      // the thresholded form returns -1 for "further than maxDist"
      .where(col("edit_dist") >= 0 && col("edit_dist") <= maxDist)
      .drop("__pfx_a", "__pfx_b")
  }

  /** Cosine similarity of two float-array columns as a single aggregate
    * expression (dot / norms), codegen-friendly. NULL (not a DIVIDE_BY_ZERO
    * crash under Spark's default ANSI mode) when either vector is all-zero —
    * padded/failed embedding rows must not abort the job.
    */
  def cosine(a: Column, b: Column): Column = {
    import graft.functions.KFunctions.array_dot
    // defensive cast: the native dot kernel is array<double>-only; callers
    // passing the raw float embedding column keep working (no-op when the
    // input is already double)
    val ad = a.cast("array<double>")
    val bd = b.cast("array<double>")
    val dot = array_dot(ad, bd)
    val na = sqrt(array_dot(ad, ad))
    val nb = sqrt(array_dot(bd, bd))
    when(na * nb =!= 0.0d, dot / (na * nb))
  }

  /** Random-hyperplane LSH signature for cosine similarity: `bits` sign bits
    * from fixed pseudo-random hyperplanes (deterministic from dimension index
    * via a hash-based pseudo-random projection). `table` selects an
    * INDEPENDENT hyperplane set (multi-table LSH); table 0 is bit-identical
    * to the historical single-table signature, so persisted bucket layouts
    * and golden vectors stay valid.
    */
  def hyperplaneSignature(vec: Column, dim: Int, bits: Int,
                          table: Int = 0): Column = {
    require(table >= 0 && table < (1 << 14), s"table out of range: $table")
    val sig = (0 until bits).map { b =>
      // pseudo-random ±1 projection weights, fixed at plan time from (bit,
      // dim) through a real mixer — a weak parity-style derivation makes
      // plane b+8 the exact negation of plane b, collapsing 2^bits buckets
      // to 2^(bits/…) and skewing Hamming-probe recall. The table id is
      // folded above the bit index (bits < 256 always), so distinct tables
      // draw disjoint plane families and table 0 reproduces the (b, i)
      // derivation byte-for-byte
      def weight(i: Int): Double = {
        val h = graft.functions.KHash.murmur2(
          java.nio.ByteBuffer.allocate(8).putInt(b + (table << 8)).putInt(i).array())
        if ((h & 1) == 0) 1.0 else -1.0
      }
      val dot = graft.functions.KFunctions.array_dot(vec,
        array((0 until dim).map(i => lit(weight(i))): _*))
      when(dot >= 0, lit(1L << b)).otherwise(0L)
    }
    sig.reduce((a: Column, b: Column) => a.bitwiseOR(b))
  }

  /** The unit-vector projection every embedding pair path starts from:
    * `(id, vec, norm, unit)`, with `vec` the input cast to `array<double>`
    * and `unit = vec / norm`. Normalizing once per ROW makes each candidate
    * pair cost a single dot product instead of dot + two norms. Zero
    * vectors can't cosine-pair (ANSI division by 0), and a NaN norm (any
    * NaN element) would pass `=!= 0`, get an all-ones signature (NaN
    * compares greater than everything in Spark SQL), bucket every broken
    * row together and emit cosine = NaN pairs — both are excluded here.
    */
  private[graft] def unitVectors(df: DataFrame, idCol: String,
                                 vecCol: String): DataFrame = {
    val vd = col(vecCol).cast("array<double>")
    df.select(col(idCol).as("id"), vd.as("vec"))
      .withColumn("norm",
        sqrt(graft.functions.KFunctions.array_dot(col("vec"), col("vec"))))
      .filter(col("norm") =!= 0.0d && !isnan(col("norm")))
      .withColumn("unit", transform(col("vec"), x => x / col("norm")))
  }

  /** The exact-cosine pair cut of every embedding pair path: rows carrying
    * `(id_a, id_b, unit_a, unit_b)` become `(id_a, id_b, cosine)`, the unit
    * dot rounded to 6 dp (deterministic, so a pair found several times
    * carries one cosine) and kept at or above `threshold`.
    */
  private[graft] def cosineCut(pairs: DataFrame, threshold: Double): DataFrame =
    pairs.withColumn("cosine", round(
        graft.functions.KFunctions.array_dot(col("unit_a"), col("unit_b")), 6))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")

  /** Within-cell cosine pairs over an `(id, unit, list)` assignment: a
    * self-join on the cell id `list`, each unordered pair once
    * (`id_a < id_b`), then [[cosineCut]]. The exchange partitions by cell,
    * so each task's pair expansion is bounded by its cells' |c|².
    */
  private[dedup] def cellPairs(assigned: DataFrame, threshold: Double): DataFrame = {
    val a = assigned.select(col("list"), col("id").as("id_a"), col("unit").as("unit_a"))
    val b = assigned.select(col("list"), col("id").as("id_b"), col("unit").as("unit_b"))
    cosineCut(a.join(b, Seq("list")).filter(col("id_a") < col("id_b")), threshold)
  }

  /** The band rows of the LSH candidate stage: one row per (vector, table
    * in `tables`) with `carry` plus `(tbl, bucket)` — `tbl` is the position
    * in `tables` (any key that separates the batch's plane families works),
    * `bucket` the [[hyperplaneSignature]] of `vec` in that table's plane
    * family. A pure map: posexplode is row-local.
    */
  private def bandRows(units: DataFrame, dim: Int, bits: Int, tables: Seq[Int],
                       carry: Column*): DataFrame =
    units.select(carry :+ posexplode(array(tables.map(t =>
      hyperplaneSignature(col("vec"), dim, bits, table = t)): _*))
      .as(Seq("tbl", "bucket")): _*)

  /** The buckets a PROBE-side band row visits: its own first, then one per
    * flip bit with that bit XOR-toggled (1-bit multi-probe). The corpus
    * side keeps its own bucket only — probing is one-directional, query
    * onto stored. A pair differing in one flipped bit is found from both
    * orientations; `id_a < id_b` keeps one.
    */
  private def probeBuckets(bucket: Column, flipBits: Seq[Int]): Column =
    array(bucket +: flipBits.map(j => bucket.bitwiseXOR(lit(1L << j))): _*)

  /** The banded, probe-expanded LSH signature rows of [[embeddingPairs]]'
    * candidate stage as a persistable table `(id, tbl, bucket, is_probe)`,
    * built by the mining path's own [[unitVectors]], [[bandRows]] and
    * [[probeBuckets]]: one raw row per (vector, table) plus — PROBE side
    * only — one row per flip bit with that bit XOR-toggled. Signatures are
    * engine-native (the murmur2-derived hyperplanes); the relational half
    * downstream of this table is [[bandPairsFromSigs]], which the
    * fixture-based DuckDB oracle (`d_embedding_band_pairs`) hash-checks.
    */
  def embeddingBandSignatures(df: DataFrame, idCol: String, vecCol: String,
                              dim: Int, bits: Int, tables: Int,
                              flipBits: Seq[Int]): DataFrame = {
    require(tables >= 1, "tables must be >= 1")
    require(flipBits.forall(j => j >= 0 && j < bits),
      s"flip bits $flipBits must lie in [0, $bits)")
    bandRows(unitVectors(df, idCol, vecCol), dim, bits, 0 until tables, col("id"))
      .select(col("id"), col("tbl"),
        posexplode(probeBuckets(col("bucket"), flipBits)).as(Seq("probe", "bucket")))
      .select(col("id"), col("tbl"), col("bucket"), (col("probe") > 0).as("is_probe"))
  }

  /** The asymmetric band join over an [[embeddingBandSignatures]] table —
    * the candidate pair expansion of [[embeddingPairs]] in isolation:
    * probe side = raw + flipped rows, corpus side = raw rows only (probing
    * is one-directional, query-onto-stored), candidates distinct on the
    * ordered id pair. Output `(id_a, id_b)`.
    */
  def bandPairsFromSigs(sigs: DataFrame): DataFrame = {
    val a = sigs.select(col("tbl"), col("bucket"), col("id").as("id_a"))
    val b = sigs.filter(!col("is_probe"))
      .select(col("tbl"), col("bucket"), col("id").as("id_b"))
    a.join(b, Seq("tbl", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  /** Occupancy-aware signature width: a FIXED 2^bits bucket count cannot
    * survive corpus growth — the bucket self-join is O(n²/2^bits), and the
    * sf1→sf10 scaling run measured 31× cost on 10× data at bits=5. Widen
    * until expected occupancy stays near `targetBucketSize`; true duplicates
    * (identical/near-identical vectors) still collide at any width, while
    * borderline-similarity recall narrows — the standard LSH precision knob.
    */
  private[graft] def effectiveBits(n: Long, bits: Int, targetBucketSize: Int): Int = {
    val needed = math.ceil(
      math.log((n.toDouble / targetBucketSize).max(1.0)) / math.log(2)).toInt
    math.min(math.max(bits, needed), 30)
  }

  /** Embedding near-duplicate pairs `(id_a, id_b, cosine)` at exact cosine
    * `>= threshold`, mined in one filter-and-refine skeleton:
    *  1. unit vectors ([[unitVectors]]) with their int16 payload;
    *  2. per-table sign-LSH band rows ([[bandRows]]), the probe side
    *     expanded by the one flip policy ([[probeBuckets]]);
    *  3. a band join on `(tbl, bucket)` that carries the int16 payload;
    *  4. the `threshold − margin` prefilter on the quantized dot;
    *  5. `distinct` over the surviving id pairs (a pair found by several
    *     tables or probes collapses here);
    *  6. the exact-cosine finish ([[cosineCut]]) on full unit vectors
    *     re-attached by id.
    * Only same-(table, bucket) pairs shuffle; `bits` trades recall for
    * bucket size. The prefilter is exact by construction (see `margin`),
    * so the output equals brute-force exact cosine over the LSH candidates.
    *
    * @param bits requested signature width; occupancy widening
    *   ([[effectiveBits]]) may raise it so buckets stay near
    *   `targetBucketSize` rows
    * @param threshold exact cosine (6 dp) at or above which a candidate
    *   pair is kept
    * @param targetBucketSize expected bucket occupancy the width aims at
    * @param multiProbe force 1-bit multi-probe on every bit; it also turns
    *   on automatically, over the widened bits only, whenever occupancy
    *   widening raises the signature width past `bits`, so default-recall
    *   behavior survives corpus growth (pairs differing in one widened bit
    *   stay candidates; ≥2-bit differences are the accepted LSH miss at any
    *   width)
    * @param knownCount corpus row count if the caller already has it; when
    *   absent the width heuristic runs an eager `df.count()`, which executes
    *   the full upstream pipeline once before the real job — pass it for
    *   expensive inputs
    * @param tables number of INDEPENDENT hyperplane tables (classic
    *   multi-table LSH). One table recalls p^bits of pairs at hyperplane
    *   agreement probability p = 1 - θ/π — fine for true near-dups (p ≈ 1)
    *   but structurally blind to borderline similarity (measured 9% recall
    *   at cosine 0.3, bits 5). L tables union their candidates:
    *   recall = 1-(1-p^bits)^L at L× the candidate volume. Table 0 is the
    *   historical single-table signature.
    * @param stagedTableBatch 0 (default) mines all tables in one band
    *   join; 1 ≤ N < tables mines N tables per EAGER batch job,
    *   distinct-unioning exact pairs into a checkpointed accumulator —
    *   bounds peak scratch-disk spill at N/tables of the one-shot plan for
    *   spill-constrained tiers (pair set identical, spec-pinned). The
    *   returned accumulator is DISK_ONLY checkpoint blocks; callers drop it
    *   when done.
    */
  def embeddingPairs(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                     bits: Int = 12, threshold: Double = 0.95,
                     targetBucketSize: Int = 1024,
                     multiProbe: Boolean = false,
                     knownCount: Option[Long] = None,
                     tables: Int = 1,
                     stagedTableBatch: Int = 0): DataFrame = {
    require(tables >= 1, "tables must be >= 1")
    require(stagedTableBatch >= 0, "stagedTableBatch must be >= 0")
    val effBits = effectiveBits(knownCount.getOrElse(df.count()), bits, targetBucketSize)
    // ONE flip policy: explicit multiProbe flips every bit; the automatic
    // occupancy-widening companion flips only the widened bits
    // [bits, effBits) — precisely the candidates the widening removed (pairs
    // equal on the requested bits, off by one widened sign), at
    // (effBits-bits+1)× candidate volume instead of (effBits+1)×
    val flipBits = if (multiProbe) 0 until effBits else bits until effBits
    // The band join is the dominant exchange: every vector ships once per
    // (table, probe) — 8 tables × 4 probes of a 64-dim double array is
    // ~16 KB of exchange per vector, the int16 payload ~4 KB. The prefilter
    // scores candidates on the packed shorts (native BinaryDot16) and keeps
    // any pair whose quantized cosine clears `threshold − margin`, where
    // margin bounds the quantization error ANALYTICALLY for unit vectors:
    // with s = max|x|/32767 ≤ 1/32767, |e_i| ≤ s/2, ‖x‖₁ ≤ √d, the error
    // telescopes to
    //   margin(d) = (√d + d/65534)/32767 + d/(4·32767²)
    //   (≈ 0.000245 at d=64),
    // plus 1e-6 for the final 6-dp rounding — so every pair the exact finish
    // would keep survives the prefilter (spec-pinned equality). int16, not
    // int8, is a measured scale decision: the int8 margin (≈ 0.066 at d=64)
    // left a candidate-scale [thr − margin, thr) shoulder of false survivors
    // on a near-orthogonal corpus, whose distinct() sort was the measured
    // 60 GB spill at sf10; the ~250× tighter int16 margin collapses
    // survivors to output scale for 2× the band-join payload (SCALING.md)
    val margin = (math.sqrt(dim) + dim / 65534.0) / 32767.0 +
      dim / (4.0 * 32767.0 * 32767.0) + 1e-6
    val staged = stagedTableBatch > 0 && stagedTableBatch < tables
    val diskOnly = org.apache.spark.storage.StorageLevel.DISK_ONLY
    // Staged mining consumes this projection ~3× PER BATCH (the batch's
    // signature scan plus its finish's two unit joins). One DISK_ONLY
    // materialization replaces them: it is corpus-ROW-sized and constant in
    // the batch count, so it cannot grow with the staging depth; disk-only
    // because the staged tier's executor memory belongs to the band-join
    // sorts. Freed after the last batch.
    val units = {
      val q = unitVectors(df, idCol, vecCol)
        .withColumn("qb", graft.functions.KFunctions.pack_unit_int16(col("unit")))
        .withColumn("qs", array_max(transform(col("unit"), x => abs(x))) / 32767.0d)
      if (staged) q.persist(diskOnly) else q
    }
    // steps 2-5 for a subset of the tables: distinct quantized-survivor
    // id pairs
    def survivors(ts: Seq[Int]): DataFrame = {
      val sigs = bandRows(units, dim, effBits, ts, col("id"), col("qb"), col("qs"))
      val a = sigs.select(col("tbl"),
        if (flipBits.isEmpty) col("bucket")
        else explode(probeBuckets(col("bucket"), flipBits)).as("bucket"),
        col("id").as("id_a"), col("qb").as("qb_a"), col("qs").as("qs_a"))
      val b = sigs.select(col("tbl"), col("bucket"),
        col("id").as("id_b"), col("qb").as("qb_b"), col("qs").as("qs_b"))
      a.join(b, Seq("tbl", "bucket"))
        .filter(col("id_a") < col("id_b"))
        .filter(graft.functions.KFunctions.binary_dot16(col("qb_a"), col("qb_b"))
          .cast("double") * col("qs_a") * col("qs_b") >= threshold - margin)
        .select("id_a", "id_b")
        .distinct()
    }
    // step 6: full unit vectors re-attached BY ID to the distinct survivor
    // pairs (output-sized, not candidate-sized); Catalyst prunes the
    // quantized columns away on the unpersisted path
    def finish(pairs: DataFrame): DataFrame = cosineCut(pairs
      .join(units.select(col("id").as("id_a"), col("unit").as("unit_a")), Seq("id_a"))
      .join(units.select(col("id").as("id_b"), col("unit").as("unit_b")), Seq("id_b")),
      threshold)
    if (!staged) return finish(survivors(0 until tables))
    // Staged mining (the bounded-spill configuration): each table batch is
    // its own EAGER job, its exact pairs distinct-unioned into a checkpointed
    // accumulator. The band-join sort's scratch-disk spill — the resource
    // that exhausted the 78 GB tier at sf10 (SCALING.md) — peaks at
    // batch/tables of the one-shot plan's, for one corpus scan per batch.
    // The finish runs PER BATCH so the accumulator holds exact pairs only
    // (a deferred finish over all raw survivors measured 60+ GB of spill in
    // its single final stage at sf10); the pair set equals the one-shot
    // plan's (union-distinct over an exact partition of the candidates,
    // deterministic 6-dp cosine — spec-pinned). DISK_ONLY checkpoints: the
    // default level unrolled each batch's pairs in the memory store while
    // the band-join sorts held their pages (a measured heap OOM at sf10).
    var acc: DataFrame = null
    for (g <- (0 until tables).grouped(stagedTableBatch)) {
      val s = finish(survivors(g))
      val prev = acc
      acc = (if (prev == null) s else prev.union(s).distinct())
        .localCheckpoint(true, diskOnly)
      if (prev != null) graft.util.Checkpoints.free(prev)
      // release the finished batch's SHUFFLE FILES now: ContextCleaner frees
      // them only when the ShuffleDependency is garbage-collected, and an
      // unpressured driver heap may not GC for the whole loop — the
      // per-batch scratch then ACCUMULATES on disk (measured: 16 bounded
      // batches climbed to a 95 GB peak on a 78 GB tier that one batch fits
      // in comfortably)
      System.gc()
    }
    units.unpersist(false)
    acc
  }

  /** SemDeDup-style semantic near-dup candidates (Abbas et al. 2023,
    * arXiv:2303.09540): k-means-cluster the embedding space (the same coarse
    * quantizer as [[graft.ann.Ann.ivfAssign]], fixed seed), then compare
    * pairs ONLY within a cluster — (id_a, id_b, cosine) for within-cluster
    * pairs at `cosine >= threshold`. Compose with
    * [[Clusters.dropDuplicateGroups]] to keep one canonical doc per
    * semantic-dup group.
    *
    * Fit and assignment are [[SemDedup.fitAssign]]'s (so the zero-norm/NaN
    * exclusion of [[unitVectors]] runs before the fit, and a single cell,
    * k = 1, takes the mean centroid instead of Spark ML's k ≥ 2 k-means);
    * the pair search is [[cellPairs]].
    *
    * Scale shape: the quadratic term is Σ clusterSize², bounded by the
    * caller through `nClusters` (size ≈ n/k for k-means' roughly balanced
    * cells — the paper's own tractability argument). The cluster id is the
    * join key, so the only data-sized exchange is one hash shuffle of the
    * UNIT-normalized vectors on `list`. Unlike the hyperplane-LSH path this
    * misses only CROSS-cluster pairs (no banding loss inside a cell) — audit
    * with the measured `exact_pair_recall` column like every approximate
    * family here.
    *
    * Canonical-winner note: the paper keeps the member farthest from the
    * cluster centroid; this repo keeps the MINIMUM id everywhere (the
    * [[exact]] / [[Clusters]] rule) so survivor sets are deterministic and
    * re-shard-invariant, which a centroid-distance tie-break is not (it
    * inherits k-means' floating-point partition-order sensitivity).
    *
    * K-means determinism: fixed `seed` makes training deterministic for a
    * FIXED input partitioning; across different shard layouts centroids can
    * drift in low-order bits and borderline points can change cells. Treat
    * the pair list as approximate (it is), not as a stable artifact; persist
    * survivors, not cluster ids.
    *
    * Occupancy & cost model (the part that decides 100 TB viability):
    *  - cell count auto-scales: k = clamp(n/targetCellSize, nClusters,
    *    maxClusters), so the within-cell quadratic term stays ~n ×
    *    targetCellSize/2 dots instead of n²/k — a FIXED k silently goes
    *    quadratic as the corpus grows (measured: 16 cells at 500k vectors =
    *    15G candidate pairs);
    *  - training is sampled (`maxTrainRows`) and iteration-bounded
    *    (`maxIter`): Lloyd is O(rows × k × dim) per iteration, so fitting on
    *    the full corpus at scaled k would itself be the quadratic term. The
    *    assign pass stays one O(n × k × dim) map — that's the structural IVF
    *    cost and the reason for the `maxClusters` cap: past n ≈ maxClusters
    *    × targetCellSize cells grow beyond target again; raise the cap (and
    *    pay assign cost) or shard the corpus first (per-language/per-source
    *    clustering — the paper's own practice) before this one k-means sees
    *    100 TB.
    */
  def semanticPairs(df: DataFrame, idCol: String, vecCol: String,
                    nClusters: Int, threshold: Double = 0.95,
                    seed: Long = 42L, targetCellSize: Int = 1024,
                    maxClusters: Int = 512,
                    knownCount: Option[Long] = None,
                    maxTrainRows: Int = 200000, maxIter: Int = 10): DataFrame = {
    val (assigned, _) = SemDedup.fitAssign(df, idCol, vecCol, nClusters, seed,
      targetCellSize, maxClusters, maxTrainRows, maxIter, knownCount)
    cellPairs(assigned, threshold)
  }

  /** Substring-level duplication surface — the span-granular counterpart of
    * the document-level families above (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better", approximated at token
    * n-gram window granularity instead of a suffix array: a span is
    * "duplicated" when its `windowN`-token window also appears in at least
    * `minDocFreq` distinct documents). Output, one row per document:
    * `n_tokens`, `dup_windows` (window positions whose gram is shared),
    * `covered_tokens` (length of the UNION of those [pos, pos+windowN)
    * intervals — overlapping windows are not double-counted), and
    * `dup_fraction` = covered/n_tokens. Downstream policy (drop doc, trim
    * spans, weight down) acts on the fraction.
    *
    * Scale shape: positions come from ONE narrow pass (native shingle
    * kernel + posexplode — never a positions self-join); gram doc-frequency
    * is a two-phase partial aggregation on the gram key; duplicated grams
    * flag positions by a semi-join (shuffle on gram, AQE-handled skew — a
    * boilerplate gram present in millions of docs contributes one
    * dupGrams row, not a pair explosion, which is why there is no
    * maxDocFreq cap here unlike [[ngramJaccardPairs]]); interval union is
    * a per-document window (sorted by position, bounded by document
    * length) using the closed form |union| = W + Σ min(W, gap_i). Grams
    * key the exchanges as a 128-bit hash pair (16 B, not the ~100 B
    * string; a both-halves collision — birthday bound ~2^64 distinct
    * grams — would flag a non-duplicated window, the one departure from
    * exact-string semantics).
    */
  /** The actionable form of [[dupSpans]]: REMOVE duplicated spans from the
    * text, keeping exactly one canonical occurrence corpus-wide (Lee et al.
    * 2022 trim semantics at window granularity). For every duplicated gram
    * (same `windowN`/`minDocFreq` criterion as [[dupSpans]]) the canonical
    * occurrence is the lexicographically smallest (doc_id, pos); a token is
    * dropped when a NON-canonical occurrence of some duplicated window
    * covers it and no canonical window does — the canonical-cover exemption
    * guarantees the canonical copy of every duplicated span survives even
    * where non-canonical windows of OTHER grams overlap it.
    * Output: (idCol, text, n_tokens, n_dropped) — `text` is the trimmed
    * token sequence re-joined by single spaces (tokenization is the
    * whitespace convention, so re-joining loses only whitespace shape).
    *
    * Deterministic by construction: the canonical choice is a total order
    * over occurrences, so any partitioning and any retry produces the
    * identical corpus. Grams group by a 128-bit hash pair rather than the
    * gram string (the exchanges carry 16 B, not ~100 B per position); a
    * cross-gram collision on BOTH halves — birthday bound ~2^64 grams,
    * see the inline derivation — would trim a non-duplicated span, the
    * one departure from exact-string semantics. Scale shape: the covered-position
    * explode is bounded by (redundant windows × windowN) — the duplicated
    * MINORITY of positions, not the corpus — followed by a per-doc distinct
    * and one anti-join back onto token positions; everything else is the
    * same narrow shingle pass + gram-key partial aggregation as
    * [[dupSpans]].
    */
  def trimDupSpans(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text", windowN: Int = 13,
                   minDocFreq: Int = 2): DataFrame = {
    require(windowN >= 1, "windowN must be >= 1")
    require(minDocFreq >= 2, "minDocFreq must be >= 2 (1 flags everything)")
    val toks = docs.select(col(idCol),
      TextFunctions.tokens(col(textCol)).as("t"))
    // the ~100 B 13-token gram string never enters an exchange: both the
    // doc-frequency aggregation and the canonical join shuffle a 16 B
    // 128-bit key instead (two seed-chained xxhash64 views — not an
    // independent hash family, but empirically uncorrelated across the
    // seed split). One 64-bit hash collides at real corpus scale
    // (birthday at ~2^32 ≈ 4e9 grams) and a collision silently trims a
    // non-duplicated span; the 128-bit pair pushes the birthday bound to
    // ~2^64 grams — comfortably past any corpus (10^12 grams ≈ 2^40 gives
    // a ~2^-48 collision probability). Measured 105 → 58 s on the sf10
    // d_curation_pipeline whose profile this stage dominated at 86%.
    // NOT staged, on measurement (r15): checkpointing this hashed-position
    // table DISK_ONLY to fuse its two consumers was A/B'd at sf1 and LOST
    // (d_dup_spans 28.1 -> 47.9 CPU-s, trim 27.9 -> 35.0, curation
    // 83.5 -> 101.6): the table is corpus-position-sized, and serializing
    // + writing + re-reading it costs more than the tokenize/shingle/hash
    // recompute it saves — the ratio is scale-invariant (both sides grow
    // linearly in corpus tokens), so the double evaluation stays.
    val pos = toks
      .where(size(col("t")) >= windowN)
      .select(col(idCol), posexplode(
        graft.functions.KFunctions.word_shingles(col("t"), windowN)))
      .toDF(idCol, "pos", "gram")
      .select(col(idCol), col("pos"), xxhash64(col("gram")).as("gh1"),
        xxhash64(lit("graft:gram"), col("gram")).as("gh2"))
    // duplicated grams with their canonical (min doc, then min pos) owner —
    // one partial-agg pass: min(struct(doc, pos)) IS the lexicographic min
    val dupCanon = pos.groupBy("gh1", "gh2")
      .agg(countDistinct(col(idCol)).as("df"),
        min(struct(col(idCol).as("cid"), col("pos").as("cpos"))).as("canon"))
      .where(col("df") >= minDocFreq)
      .select(col("gh1"), col("gh2"), col("canon.cid").as("cid"),
        col("canon.cpos").as("cpos"))
    // drop a position iff some non-canonical duplicated window covers it
    // AND no canonical window does: without the canonical-cover exemption,
    // overlapping non-canonical windows of OTHER grams could destroy a
    // canonical occurrence and the last copy of a duplicated span would
    // vanish from the corpus — violating keep-one trim semantics. One
    // groupBy(doc, position) with bool_or(is_canon) decides both at once
    val dropped = pos.join(dupCanon, Seq("gh1", "gh2"))
      .select(col(idCol),
        (col(idCol) === col("cid") && col("pos") === col("cpos")).as("is_canon"),
        explode(sequence(col("pos"), col("pos") + lit(windowN - 1))).as("p"))
      .groupBy(col(idCol), col("p"))
      .agg(max(col("is_canon")).as("protected"))
      .where(!col("protected"))
      .groupBy(idCol)
      .agg(collect_set(col("p")).as("drop_ps"))
    // rebuild: kept indices via array_except (hash-set, O(n + dropped) per
    // doc — not a per-token array_contains scan), then index back into the
    // token array. sequence() is guarded because sequence(0, -1) DESCENDS.
    val idxs = when(size(col("t")) >= 1,
      sequence(lit(0), size(col("t")) - 1)).otherwise(array().cast("array<int>"))
    toks.join(dropped, Seq(idCol), "left")
      .select(col(idCol), col("t"),
        coalesce(col("drop_ps"), array().cast("array<int>")).as("drop_ps"))
      .select(col(idCol),
        when(col("t").isNotNull, concat_ws(" ",
          transform(array_except(idxs, col("drop_ps")),
            i => element_at(col("t"), i + 1)))).as("text"),
        coalesce(size(col("t")), lit(0)).as("n_tokens"),
        size(col("drop_ps")).as("n_dropped"))
  }

  def dupSpans(docs: DataFrame, idCol: String = "doc_id",
               textCol: String = "text", windowN: Int = 13,
               minDocFreq: Int = 2): DataFrame = {
    require(windowN >= 1, "windowN must be >= 1")
    require(minDocFreq >= 2, "minDocFreq must be >= 2 (1 flags everything)")
    val toks = docs.select(col(idCol),
      TextFunctions.tokens(col(textCol)).as("t"))
    val nTok = toks.select(col(idCol),
      coalesce(size(col("t")), lit(0)).as("n_tokens"))
    // same 128-bit gram-key narrowing as [[trimDupSpans]]: the gram string
    // stays inside the scan stage, exchanges carry 16 B keys
    // NOT staged, on measurement (r15): checkpointing this hashed-position
    // table DISK_ONLY to fuse its two consumers was A/B'd at sf1 and LOST
    // (d_dup_spans 28.1 -> 47.9 CPU-s, trim 27.9 -> 35.0, curation
    // 83.5 -> 101.6): the table is corpus-position-sized, and serializing
    // + writing + re-reading it costs more than the tokenize/shingle/hash
    // recompute it saves — the ratio is scale-invariant (both sides grow
    // linearly in corpus tokens), so the double evaluation stays.
    val pos = toks
      .where(size(col("t")) >= windowN)
      .select(col(idCol), posexplode(
        graft.functions.KFunctions.word_shingles(col("t"), windowN)))
      .toDF(idCol, "pos", "gram")
      .select(col(idCol), col("pos"), xxhash64(col("gram")).as("gh1"),
        xxhash64(lit("graft:gram"), col("gram")).as("gh2"))
    val dupGrams = pos.select("gh1", "gh2", idCol).distinct()
      .groupBy("gh1", "gh2").agg(count(lit(1)).as("df"))
      .where(col("df") >= minDocFreq)
      .select("gh1", "gh2")
    val w = Window.partitionBy(idCol).orderBy("pos")
    val cov = pos.join(dupGrams, Seq("gh1", "gh2"), "left_semi")
      .withColumn("prev", lag("pos", 1).over(w))
      .groupBy(idCol)
      .agg(count(lit(1)).as("dup_windows"),
        sum(when(col("prev").isNull, windowN)
          .otherwise(least(lit(windowN), col("pos") - col("prev"))))
          .as("covered_tokens"))
    nTok.join(cov, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("dup_windows"), lit(0L)).as("dup_windows"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        round(coalesce(col("covered_tokens"), lit(0L)) /
          greatest(col("n_tokens"), lit(1)), 6).as("dup_fraction"))
  }

  /** Cross-group duplicate overlap: for every unordered pair of `groupCol`
    * values, how many exact-dup groups ([[dupKey]] digests) have at least
    * one document in BOTH — the report behind two curation questions:
    *  - `groupCol = source`: which sources copy from each other (crawl
    *    overlap matrix, the Dolma/Pile-style corpus diff);
    *  - `groupCol = split`: train/test leakage — a digest straddling splits
    *    means the eval split contains a training document verbatim (run it
    *    on [[graft.text.Sampling.assignSplits]] output as a release gate).
    *
    * Output: `(group_a, group_b, n_shared)` with `group_a < group_b`,
    * pairs with no overlap absent. NULL-text rows index nothing (NULL
    * digest) and NULL groups are dropped — both would otherwise fabricate
    * an "overlap" out of absent data. `key` overrides the digest (e.g. a
    * prefix digest to catch near-verbatim heads, or a MinHash band key to
    * lift the same report to near-dup granularity).
    *
    * Scale shape: the corpus collapses map-side to DISTINCT (digest, group)
    * — the only full-width exchange, carrying 16 bytes + group per row. The
    * self-join is digest-partitioned and each digest matches at most
    * |groups| rows per side (distinct!), so the pair expansion is bounded
    * by |groups|² per digest — no mega-group quadratic blowup, because
    * group multiplicity was collapsed before the join. The final pair
    * rollup has ≤ |groups|² rows.
    */
  def crossGroupOverlap(df: DataFrame, groupCol: String,
                        textCol: String = "text",
                        key: Option[Column] = None): DataFrame = {
    val keyed = df
      .where(col(textCol).isNotNull && col(groupCol).isNotNull)
      .select(key.getOrElse(dupKey(col(textCol))).as("graft_dup_key"),
        col(groupCol).cast("string").as("graft_group"))
      .distinct()
    val a = keyed.select(col("graft_dup_key"), col("graft_group").as("group_a"))
    val b = keyed.select(col("graft_dup_key"), col("graft_group").as("group_b"))
    a.join(b, Seq("graft_dup_key"))
      .where(col("group_a") < col("group_b"))
      .groupBy("group_a", "group_b")
      .agg(count(lit(1)).as("n_shared"))
  }
}
