package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over near-duplicate pair lists, and the
  * canonical-document selection built on it — the stage that turns the pair
  * families ([[Dedup.minhashPairs]], [[Dedup.simhashPairs]],
  * [[Dedup.ngramJaccardPairs]], [[Dedup.embeddingPairs]]) into "keep one doc
  * per duplicate group". Pairs are not enough at corpus scale: near-dup
  * relations chain (A~B, B~C but not A~C), and dropping `id_b` of every pair
  * over-deletes — the correct grouping is the transitive closure.
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC 2014). Each round is
  * a groupBy-min plus a key-partitioned join — no driver-side state, state
  * size O(edges) throughout, worst-case O(log² n) rounds on path-shaped
  * graphs and 2–3 rounds on the near-clique graphs LSH families emit. Every
  * round ends in an eager `localCheckpoint` so round k's plan does not
  * replay rounds 1..k-1 and the lineage stays constant-size — the standard
  * requirement for iterative DataFrame algorithms at scale.
  */
object Clusters {

  /** Unpersist the RDD behind a locally-checkpointed DataFrame (best-effort:
    * a no-op if the plan isn't the expected LogicalRDD shape).
    */
  private def freeCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false)
      case _ => ()
    }

  /** Component id (= the minimum member id) for every id that appears in
    * `pairs`. Output columns: `id`, `component`. Ids not mentioned in any
    * pair are absent (they are their own singleton component — see
    * [[assignComponents]] for the corpus-complete form).
    *
    * @param maxRounds safety bound; the algorithm converges (edge set reaches
    *   its star-graph fixed point) long before this on real graphs. Throws if
    *   the bound is hit un-converged rather than returning a wrong grouping.
    * @param checkpointDir when set, per-round state is checkpointed RELIABLY
    *   to this path (object store / DFS) instead of executor-local storage.
    *   Local checkpoints are faster but die with their executor — on a real
    *   cluster a lost executor mid-loop fails the whole job, and a long
    *   dedup-closure job over billions of edges should pay the write for
    *   restartable state. The caller owns the directory's lifecycle.
    *
    * '''Session-scoped side effects:''' for the duration of the loop this
    * method narrows `spark.sql.shuffle.partitions` (and, on small graphs,
    * disables AQE) and, when `checkpointDir` is set, redirects the context
    * checkpoint dir — all restored in `finally`, including on failure. Other
    * queries running CONCURRENTLY on the same session during the loop would
    * observe those settings; run the closure on a dedicated session
    * (`spark.newSession()`) if the application shares one session across
    * threads.
    * @param driverMaxEdges hybrid-execution gate, decided on the MEASURED
    *   edge count (known exactly from the initial checkpoint, never an
    *   estimate): at or below it the closure runs as a single-pass
    *   union-find on the driver — the same size-based strategy switch as a
    *   broadcast join, since a graph that small is broadcast-sized by
    *   definition — above it the distributed large-star/small-star loop
    *   runs. The default (1M edges ≈ 16 MB) is far below driver heap and
    *   far above what per-round stage scheduling costs would dominate.
    *   Both paths produce the identical grouping (spec-pinned).
    */
  def connectedComponents(pairs: DataFrame, idA: String = "id_a",
                          idB: String = "id_b", maxRounds: Int = 30,
                          checkpointDir: Option[String] = None,
                          driverMaxEdges: Long = 1000000L): DataFrame = {
    val spark = pairs.sparkSession
    // canonical direction (big, small); self-pairs carry no information
    // convergence signature: the canonical edge set is stable. Two scalars —
    // count + an order-independent hash sum — not an except() diff. Collected
    // via `observe` DURING the checkpoint materialization, so the check adds
    // zero extra passes at any scale; decimal sum because an ANSI-mode long
    // sum of 64-bit hashes overflows.
    // context-global setting: remember the caller's dir and restore on exit —
    // leaving ours behind would silently redirect the application's own
    // checkpoint() calls (and their durability choice) to our scratch path
    val priorCheckpointDir = pairs.sparkSession.sparkContext.getCheckpointDir
    checkpointDir.foreach(pairs.sparkSession.sparkContext.setCheckpointDir)
    // everything below runs with the dir redirected: restore it in ONE outer
    // finally so a mid-loop failure (or the convergence require) can't leave
    // the session's checkpoint() calls silently pointed at our scratch path
    try {
    var obsId = 0
    def checkpointWithSig(e: DataFrame): (DataFrame, (Long, java.math.BigDecimal)) = {
      obsId += 1
      val obs = new org.apache.spark.sql.Observation(s"cc_sig_$obsId")
      val observed = e.observe(obs, count(lit(1)).as("n"), coalesce(
          sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)")).as("h"))
      val out = if (checkpointDir.isDefined) observed.checkpoint(true)
        else observed.localCheckpoint(true)
      val m = obs.get
      (out, (m("n").asInstanceOf[Long],
        m("h").asInstanceOf[java.math.BigDecimal]))
    }
    var (edges, edgesSig) = checkpointWithSig(
      pairs.select(
          greatest(col(idA), col(idB)).as("u"), least(col(idA), col(idB)).as("v"))
        .where(col("u") =!= col("v"))
        .distinct())

    // checkpointDir callers asked for restartable distributed state — honor
    // that literally and never shortcut, even on a tiny graph. The driver
    // path is Long-typed (union-find over primitive ids; output schema
    // bigint) — non-long id columns always take the type-generic loop, so
    // behavior never depends on data size for them.
    val longIds = edges.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    if (edgesSig._1 <= driverMaxEdges && checkpointDir.isEmpty && longIds) {
      // broadcast-sized graph: one collect + union-find beats N iterations'
      // stage-scheduling latency (each distributed round is a full job).
      // The collect is bounded by driverMaxEdges — this is the "small side
      // of a broadcast join" amount of driver data, not a data-sized pull.
      val es = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
      freeCheckpoint(edges)
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var root = x
        while (parent.getOrDefault(root, root) != root)
          root = parent.getOrDefault(root, root)
        var cur = x // path compression
        while (cur != root) { val nxt = parent.get(cur); parent.put(cur, root); cur = nxt }
        root
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { // union by min id keeps the canonical-winner rule
          if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
        }
        parent.putIfAbsent(a, find(a)); parent.putIfAbsent(b, find(b))
      }
      val ids = es.iterator.flatMap { case (a, b) => Iterator(a, b) }.toSet
      import spark.implicits._
      return ids.toSeq.map(id => (id, find(id))).toDF("id", "component")
        .repartition(1).localCheckpoint(true)
    }

    var round = 0
    var converged = edgesSig._1 == 0L
    // Size the loop's shuffles to the MEASURED edge count (known exactly from
    // the initial checkpoint): each round is ~6 exchanges, and running them
    // at the session's scan-sized partition count costs a stage-latency tax
    // per round that dwarfs the work when the pair graph is small — near-dup
    // graphs usually are, relative to the corpus that produced them. Clamped
    // to the session default so a billions-of-edges graph still gets full
    // cluster width. Session-scoped conf: restored in the finally below
    // (queries running concurrently in the same session would see it; the
    // loop is short-lived and the setting only shrinks, never widens).
    val defaultParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val loopParts = math.max(1L, math.min(defaultParts.toLong,
      edgesSig._1 / 2000000L + 1L)).toInt
    spark.conf.set("spark.sql.shuffle.partitions", loopParts)
    // On a small graph (loop narrower than the session) AQE only adds a
    // planning round-trip per exchange — 3-4 extra driver jobs per iteration
    // that dwarf the sub-second work. A full-width graph keeps AQE for its
    // skew handling.
    val defaultAqe = spark.conf.get("spark.sql.adaptive.enabled")
    if (loopParts < defaultParts) spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
    while (!converged && round < maxRounds) {
      // large-star: every neighbor v > u links to min(Γ⁺(u)). No distinct
      // here — duplicates are bounded by one round's emissions and the
      // small-star output below dedups; skipping it saves a shuffle per round
      val symm = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      val lsMin = symm.groupBy("u")
        .agg(least(min("v"), first("u")).as("m"))
      val ls = symm.join(lsMin, "u").where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
      // small-star: every neighbor v < u (and u itself) links to min(N≤(u))
      val lsSymm = ls.union(ls.select(col("v").as("u"), col("u").as("v")))
      val down = lsSymm.where(col("v") < col("u")).distinct()
      val ssMin = down.groupBy("u").agg(min("v").as("m"))
      val (next, nextSig) = checkpointWithSig(
        down.join(ssMin, "u").where(col("v") =!= col("m"))
          .select(col("v").as("u"), col("m").as("v"))
          .union(ssMin.select(col("u"), col("m").as("v")))
          .distinct())
      converged = nextSig == edgesSig
      // the superseded round's checkpoint blocks are dead the moment `edges`
      // moves on — drop them now instead of waiting for GC-driven cleanup,
      // so an N-round run holds one round of state, not N (and doesn't leak
      // block-manager memory into whatever the caller runs next). A local
      // checkpoint persists at the RDD layer, so Dataset.unpersist (cache-
      // manager scoped) can't see it — unpersist the LogicalRDD's rdd.
      freeCheckpoint(edges)
      edges = next
      edgesSig = nextSig
      round += 1
    }
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", defaultParts)
      spark.conf.set("spark.sql.adaptive.enabled", defaultAqe)
    }
    require(converged, s"connectedComponents did not converge in $maxRounds rounds")
    // fixed point is a star graph: u -> root, roots implicit. Materialize the
    // (id, component) map — it's the small output of the loop — and free the
    // last round's edge checkpoint too, so a finished call retains exactly
    // its result and nothing of the iteration.
    val resultPlan = edges.select(col("u").as("id"), col("v").as("component"))
      .union(edges.select(col("v").as("id"), col("v").as("component")).distinct())
    val result =
      if (checkpointDir.isDefined) resultPlan.checkpoint(true)
      else resultPlan.localCheckpoint(true)
    freeCheckpoint(edges)
    result
    } finally {
      if (checkpointDir.isDefined) // restore the caller's (possibly unset) dir
        spark.sparkContext.setCheckpointDir(priorCheckpointDir.orNull)
    }
  }

  /** Every row of `df` labeled with its duplicate-group component: the min
    * member id for ids in some pair, the id itself for singletons. One
    * broadcast-or-shuffle left join against the (small) component map.
    */
  def assignComponents(df: DataFrame, idCol: String, pairs: DataFrame,
                       idA: String = "id_a", idB: String = "id_b",
                       maxRounds: Int = 30): DataFrame = {
    val cc = connectedComponents(pairs, idA, idB, maxRounds)
    // drop by the JOINED side's reference: a bare drop("id") would also
    // delete the caller's own "id" column (or fail outright when idCol is
    // itself "id" — two ambiguous columns after the join)
    df.join(cc, df(idCol) === cc("id"), "left")
      .drop(cc("id"))
      .withColumn("component", coalesce(col("component"), df(idCol)))
  }

  /** Keep exactly one document per duplicate group (the minimum id — the
    * same canonical-winner rule as [[Dedup.exact]]); singletons survive.
    */
  def dropDuplicateGroups(df: DataFrame, idCol: String, pairs: DataFrame,
                          idA: String = "id_a", idB: String = "id_b"): DataFrame =
    assignComponents(df, idCol, pairs, idA, idB)
      .where(col(idCol) === col("component"))
      .drop("component")

  /** Quality-priority canonical selection (the FineWeb/RefinedWeb refinement
    * of [[dropDuplicateGroups]]): one survivor per duplicate group, but the
    * winner is the group's BEST document by `qualityCol` (descending; NULL
    * quality ranks last), id ascending as the deterministic tiebreak —
    * min-id keeps an arbitrary member, a curation pipeline wants to keep the
    * highest-quality one and drop its lower-quality near-duplicates.
    *
    * Output: every input row + `component` + `kept_id` (the group winner)
    * + `is_kept`; filter on `is_kept` for the survivor corpus (kept here so
    * provenance reports can show what each dropped doc lost to).
    *
    * Scale shape: on top of [[assignComponents]]' closure, winner selection
    * is one `groupBy(component).min(struct(-quality, id))` — partial
    * aggregation collapses a mega-cluster map-side, the shuffle carries one
    * metadata-sized row per component, and the winner attaches back as a
    * component-keyed join (broadcast-eligible under AQE when the component
    * table is small); document text never rides any of it.
    */
  def keepBestPerGroup(df: DataFrame, idCol: String, pairs: DataFrame,
                       qualityCol: String,
                       idA: String = "id_a", idB: String = "id_b"): DataFrame = {
    val assigned = assignComponents(df, idCol, pairs, idA, idB)
    // -quality ranks best-first under min(); NULL quality → MaxValue (last).
    // Longs below 2^53 stay exact through the double cast.
    val winners = assigned.groupBy("component")
      .agg(min(struct(
        coalesce(-col(qualityCol).cast("double"), lit(Double.MaxValue))
          .as("neg_q"),
        col(idCol).as("id"))).as("w"))
      .select(col("component"), col("w.id").as("kept_id"))
    assigned.join(winners, Seq("component"))
      .withColumn("is_kept", col(idCol) === col("kept_id"))
  }
}
