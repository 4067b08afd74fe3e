package graft.operators

import graft.core.ConfScope
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Parameters, defaults from the reference CLI
  * (PageRankDriver.java:67-70; Giraph twin PageRankDriver.java:46-56).
  */
final case class PageRankConfig(
    damping: Double = 0.85,
    maxIter: Int = 10,
    tol: Double = 1e-6,
    minIter: Int = 5,
    /** The reference treats edges as a SET (GraphBuilderReducer.java:17,
      * LinkedHashSet; NetworkX-aligned). Dedup is applied here by default
      * so multi-edge inputs can't skew out-degrees; set false to skip the
      * one-time distinct shuffle when the input is known deduped.
      */
    dedupEdges: Boolean = true,
    /** Broadcast the (id, outdeg, rank) state into the scatter/gather
      * joins while its ESTIMATED SIZE (N × [[PageRank.stateRowBytes]])
      * stays under this cap — the edge side then never shuffles and each
      * iteration runs with a single exchange (the contribution combine).
      * Above the cap the joins fall back to co-partitioned shuffles.
      * The driver knows N exactly, so this beats relying on AQE stats
      * (which are lost at the per-iteration checkpoint boundary). A
      * size bound, not a row-count bound: what actually limits a
      * broadcast is executor memory for the hash relation, and at the
      * old 10M-row bound the per-iteration broadcast was already
      * hundreds of MB per executor.
      */
    broadcastStateMaxBytes: Long = 64L << 20,
    /** Two-phase salted contribution aggregation for EXTREME in-degree
      * skew (a single dst key with more rows than fit one partition —
      * think a site-wide "home" vertex at 100 TB). 0/1 = off (default):
      * one shuffle keyed by dst. S > 1: partial sums keyed by
      * (dst, hash(src) mod S) — the hot key fans out over S reducers —
      * then a final (tiny, ≤S rows per dst) re-aggregation keyed by dst.
      * Costs a second (small) shuffle, so keep it off at web-graph skew;
      * the differential test pins salted ≡ unsalted to ≤1e-12.
      */
    saltBuckets: Int = 0,
    /** Explicit partition count for the one-time edge repartition (and
      * thus the cached edge frame the per-iteration scatter join probes).
      * `None` (default) sizes it from Catalyst row-count statistics
      * targeting ~1M edges/partition — see [[PageRank.estimateEdgeParts]].
      * Set it when the estimate is unavailable (exotic sources) or when a
      * measured sweep on the actual cluster says otherwise; the README
      * records such a sweep on the S3 bench shape.
      */
    edgePartitions: Option[Int] = None,
    /** Attach a per-run stage listener and record per-iteration executor
      * run/CPU time and shuffle bytes into the [[IterationStat]] trace.
      * Off by default: the listener quiesce adds ~100 ms per iteration,
      * which the oracle-scale queries shouldn't pay. The bench fixtures
      * turn it on — per-iteration CPU vs wall is what separates "the
      * engine got slower" from "the host was busy", and per-iteration
      * shuffle bytes pin whether the plan changed.
      */
    traceResources: Boolean = false)

/** Per-iteration trace — the numeric part of the reference's
  * performance_report / _timings.csv side channel
  * (PerformanceMonitor.java, PageRankMasterCompute.java:125-143).
  */
final case class IterationStat(
    iteration: Int,
    danglingSum: Double,
    avgDiff: Double,
    totalPR: Double,
    millis: Long,
    // resource columns, populated only when PageRankConfig.traceResources
    // is on: task wall-time, task CPU-time, shuffle volume of the
    // iteration — the signals that distinguish a plan regression (shuffle
    // bytes move) from host contention (run inflates, cpu doesn't)
    executorRunMs: Long = 0L,
    executorCpuMs: Long = 0L,
    shuffleReadMB: Double = 0.0,
    shuffleWriteMB: Double = 0.0)

final case class PageRankResult(
    ranks: DataFrame, // id LONG, rank DOUBLE
    iterations: Int,
    trace: Seq[IterationStat])

/** NetworkX-aligned PageRank with dangling-mass redistribution, expressed
  * as a pure DataFrame iteration.
  *
  * Semantics reproduced exactly from the reference (SURVEY.md §2.3):
  *   - `PR'(v) = (1−d)/N + d·danglingSum_prev/N + d·Σ_{u→v} PR(u)/outdeg(u)`
  *     (PageRankReducer.java:100-110, PageRankVertex.java:40-41)
  *   - **dangling lag**: the dangling mass applied in iteration i is summed
  *     over iteration i−1's ranks; the initial mass is pre-scanned before
  *     iteration 1 (PageRankDriver.java:112-114, 194-199)
  *   - init PR = 1/N uniform (PageRankDriver.java:102-105)
  *   - stop when (Σ|ΔPR|)/N ≤ tol AND iteration ≥ minIter, else cap at
  *     maxIter (PageRankDriver.java:211-216)
  *
  * Scale design (the part the reference gets wrong — SURVEY.md §4.1):
  *   - The edge frame is partitioned by `src` ONCE before the loop and
  *     persisted; the per-iteration join ships only the (id, rank) state to
  *     the edges (|V| rows, not |E|), and only (dst, contrib) pairs shuffle.
  *     The reference re-ships the whole adjacency through the shuffle every
  *     iteration (PageRankMapper.java:71-81).
  *   - Contribution aggregation gets map-side partial aggregation for free
  *     (the reference configures no combiner, paying full shuffle).
  *   - All three global metrics (Σ PR, Σ|Δ|, dangling sum) fold into ONE
  *     aggregation action per iteration over the new state — one pass,
  *     mirroring the reference's piggybacked counters without the
  *     scaled-long quantization quirk. They are doubles, so they keep
  *     that action instead of being observed inside the checkpoint's
  *     job (see [[CacheScope.rotate]]'s exactness rule).
  *   - Lineage is cut with a lazy localCheckpoint every iteration,
  *     materialized by the metrics action — the Spark analogue of the
  *     reference's iteration-dir rotation; without it the plan tree
  *     doubles per iteration. The lazy checkpoint still posts its own
  *     SQL execution, so an iteration costs two (LoopCostSpec pins it
  *     on the broadcast and the shuffled path).
  */
object PageRank {

  /** Estimated broadcast bytes per state row: three 8-byte fields plus
    * UnsafeRow + broadcast-hash-relation overhead. Deliberately
    * conservative — underestimating would OOM executors at scale.
    */
  val stateRowBytes: Long = 64L

  /** Shuffle-partition count for the one-time edge repartition+dedup,
    * sized so each task's working set (dedup hash table, then the
    * per-iteration shuffle-hash probe over the cached partition) stays
    * ~40 MB (~750k edge rows). The target is MEASURED, not guessed: a
    * partition sweep on the 69M-edge S3 bench shape (README
    * "Edge-partition sizing") put the 1M-row target (70 partitions) at
    * 134–296 cpu-s/iteration versus a steady ~100 at 750k rows (93
    * partitions) and ~flat beyond — identical shuffle bytes, so the
    * cliff is per-task memory pressure (spill + GC), not data movement.
    * Row count is ESTIMATED from Catalyst statistics of the pruned
    * (src, dst) projection — a plan inspection, no job runs. `rowCount`
    * is preferred when the optimizer carries it (cached relations and
    * LocalRelation populate it — and a cached relation's `sizeInBytes`
    * reports COMPRESSED columnar bytes, which under the 12 B/row divisor
    * would under-count rows and undersize the very hash tables this
    * sizing protects). Otherwise rows are derived from `sizeInBytes` at
    * 12 bytes/row, deliberately undershooting the ~24 B Catalyst charges
    * a two-long row: overestimating rows only adds (cheap) partitions,
    * while underestimating them overfills the per-task dedup tables.
    * File scans land on file bytes, the same signal
    * `files.maxPartitionBytes` sizes scans with. Join-derived inputs can
    * carry wildly multiplicative size estimates, and the count feeds a
    * USER-NUMBERED repartition that AQE does NOT coalesce (that
    * stability is exactly what Parallelism.spreadBy relies on), so the
    * CAP is the only backstop: 2048 partitions bounds a runaway estimate
    * at ~2048 (cheap, empty-ish) tasks while still covering ~1.5B edges
    * per loop at the 750k-row target — beyond that, callers at genuine
    * 100 TB scale set `spark.sql.shuffle.partitions` for their cluster
    * and the max() below honors it.
    */
  private[graft] def estimateEdgeParts(edgesRaw: DataFrame): Int = {
    val estRows =
      PlanScope.estimateRows(edgesRaw.select(col("src"), col("dst")))
    math.max(
      edgesRaw.sparkSession.sessionState.conf.numShufflePartitions,
      math.min((estRows / 750000L) + 1L, 2048L).toInt)
  }

  /** @param teleport optional personalization: `(id LONG, w DOUBLE)`
    *   positive weights, normalized internally to the teleport
    *   distribution p. NetworkX-aligned personalized PageRank: both the
    *   (1−d) restart mass AND the dangling mass redistribute to p
    *   (instead of uniformly), init stays uniform 1/N. Vertices absent
    *   from `teleport` get p = 0 — reachable only via links. Teleport
    *   entries whose id is NOT in the graph are ignored (weights are
    *   normalized over the in-graph ids only, so Σp = 1 and total rank
    *   mass stays 1). `None` (default) is the reference's uniform mode,
    *   bit-identical to before (the literal expression tree is untouched).
    * @param initRanks optional WARM-START state: `(id LONG, rank DOUBLE)`,
    *   one row per id (duplicate ids would fan out the seed join — the
    *   caller dedups, same contract as the reference's state rows). The
    *   loop re-enters from these ranks instead of the uniform 1/N init —
    *   the incremental-computation path for a daily-refreshed graph,
    *   where seeding from yesterday's converged ranks after a small edge
    *   delta converges in a fraction of the iterations (differential-
    *   tested). Mirrors the reference's iteration-state-as-table model
    *   (PageRankDriver.java:121-122,177-185 — every iteration dir is a
    *   resumable snapshot; [[graft.sources.IterationStateIO]] round-trips
    *   that exact format). Semantics: vertices of the CURRENT graph
    *   missing from `initRanks` (new this refresh) seed at 1/N; ranks for
    *   ids no longer in the graph are dropped; the seeded vector is then
    *   NORMALIZED to total mass 1 (one setup-time aggregate), preserving
    *   the O15 invariant every downstream expression assumes. The initial
    *   dangling scan runs over the seeded state, preserving the
    *   reference's one-iteration dangling lag from the new starting
    *   point: warm-starting from iteration i's saved state reproduces the
    *   cold run's iterations i+1, i+2, … exactly (spec-locked).
    *   `None` (default) is the uniform init, bit-identical to before.
    * @param weightCol optional edge-weight column (positive DOUBLE) for
    *   NetworkX-aligned WEIGHTED PageRank: u's rank flows to v in
    *   proportion w(u,v)/Σ_x w(u,x) instead of 1/outdeg. "outdeg" in the
    *   state becomes the out-weight sum (dangling test `= 0` is
    *   unchanged — positive weights sum to 0 iff no out-edges), the
    *   dedup shuffle aggregates duplicate (src, dst) weights by SUM (the
    *   multigraph → weighted-graph reduction), and everything else —
    *   formula, dangling lag, convergence, salting, broadcast/shuffle
    *   mode — is the identical code path. `None` (default) leaves the
    *   unweighted expression tree untouched: uniform weights are
    *   bit-identical to unweighted (differential-tested), because
    *   `sum(1.0) ≡ count(*)` exactly for any realistic edge count.
    */
  def run(
      spark: SparkSession,
      edgesRaw: DataFrame,
      cfg: PageRankConfig = PageRankConfig(),
      explicitVertices: Option[DataFrame] = None,
      teleport: Option[DataFrame] = None,
      weightCol: Option[String] = None,
      initRanks: Option[DataFrame] = None): PageRankResult = {

    val d = cfg.damping
    val weighted = weightCol.isDefined

    // Narrowed planning for tiny graphs (see PlanScope): queries that
    // run the reference loop on fixture-sized graphs (a vocabulary
    // co-occurrence graph, a 400-vertex feature fixture) otherwise pay
    // the session width in sub-millisecond tasks every iteration. The
    // bench-scale graphs (S3, power-law, the orders co-occurrence
    // graph) estimate far above the ~8k-rows-per-reducer target, so
    // the flagship loop's width — and its five-rounds-byte-identical
    // per-iteration shuffle — is untouched; at 100 TB this is the
    // identity. Rank sums stay oracle-exact at the pinned roundings:
    // the DuckDB oracle already re-accumulates every sum in a
    // different order than ANY Spark partitioning, so a fixture whose
    // hash survives the engine swap survives a width change (gated by
    // the full sf0.001 + sf0.01 replay).
    PlanScope.narrowFor(edgesRaw) {

    // One-time structure build; edges partitioned by src so every
    // iteration's contribution join reuses this exchange. Dedup is FUSED
    // into the same shuffle: after repartition(src), every (src, dst)
    // duplicate is colocated (HashPartitioning(src) satisfies the
    // distinct's ClusteredDistribution(src, dst)), so dropDuplicates
    // plans as a partial+final hash-agg with NO second exchange — one
    // full-edge shuffle total instead of two.
    //
    // Partition COUNT is sized from the relation's ESTIMATED row count,
    // not left at spark.sql.shuffle.partitions: the dedup hash table is
    // per TASK (~56 B per distinct edge), so at 69M edges on 32
    // partitions each task holds a ~120 MB table — past the execution
    // pool that means sort-based fallback, i.e. the whole edge set spills
    // (measured ~15 GB at the S3 bench shape). ~750k rows per partition
    // keeps every table ~40 MB. The estimate comes from Catalyst stats
    // (free — no action, no extra input scan; a full count() here used to
    // cost a complete pass over the raw edges before any work).
    val edgeParts = cfg.edgePartitions.getOrElse(estimateEdgeParts(edgesRaw))
    val repartitioned = edgesRaw
      .select(
        col("src") +: col("dst") +:
          weightCol.toSeq.map(w => col(w).cast("double").as("w")): _*)
      .repartition(edgeParts, col("src"))
    // weighted dedup SUMS duplicate (src, dst) weights — same fused
    // shuffle property as dropDuplicates: HashPartitioning(src) satisfies
    // the group's ClusteredDistribution(src, dst), partial+final hash-agg,
    // no second exchange
    val edges = (if (!cfg.dedupEdges) repartitioned
                 else if (weighted)
                   repartitioned.groupBy(col("src"), col("dst"))
                     .agg(sum(col("w")).as("w"))
                 else repartitioned.dropDuplicates())
      .persist(StorageLevel.MEMORY_AND_DISK)

    // Vertex universe: src ∪ dst, plus any caller-supplied isolated
    // vertices (an edge list alone cannot represent a vertex with no
    // edges at all — FIXTURES.md F2).
    val verts = explicitVertices match {
      case Some(v) =>
        v.select(col("id")).union(GraphBuilder.vertices(edges)).distinct()
      case None => GraphBuilder.vertices(edges)
    }

    // state: id, outdeg[, p] — partitioned by id (same hash space as src).
    // Weighted mode: "outdeg" is the out-WEIGHT sum (double) — the
    // dangling test and every downstream expression are unchanged.
    val deg =
      if (weighted)
        edges.groupBy(col("src").as("id")).agg(sum(col("w")).as("outdeg"))
      else edges.groupBy(col("src").as("id")).agg(count("*").as("outdeg"))
    // personalization: normalized teleport weights joined into the state
    // once (vertices not in the teleport set get p = 0); `carry` threads
    // the column through every per-iteration projection below
    val pJoin: DataFrame => DataFrame = teleport match {
      case Some(tw) =>
        // normalize over the teleport ids PRESENT IN THE GRAPH: weights
        // on absent vertices are dropped by the state join below, so
        // normalizing over the raw input would silently deflate total
        // rank mass below 1 (mass teleporting to vertices that don't
        // exist). One setup-time semi join + scalar agg, not per-iteration.
        val twInGraph = tw.join(verts, Seq("id")).select(col("id"), col("w"))
        val tot =
          twInGraph.agg(coalesce(sum(col("w")), lit(0.0))).first().getDouble(0)
        CacheScope.releaseOnThrow(edges) {
          require(
            tot > 0,
            "teleport weights must have a positive sum over vertices " +
              "present in the graph")
        }
        // no broadcast hint: a seed set broadcasts on its own size
        // estimate, while a full |V|-sized personalization vector must
        // be allowed to shuffle-join — this happens ONCE at setup, not
        // per iteration (p rides the state frame thereafter)
        val pNorm = twInGraph.select(col("id"), (col("w") / tot).as("p"))
        st =>
          st.join(pNorm, Seq("id"), "left_outer")
            .withColumn("p", coalesce(col("p"), lit(0.0)))
      case None => identity
    }
    val carry: Seq[org.apache.spark.sql.Column] =
      if (teleport.isDefined) Seq(col("p")) else Seq.empty
    val state0 = pJoin(
      verts
        .join(deg, Seq("id"), "left_outer")
        .select(
          col("id"),
          coalesce(col("outdeg"), if (weighted) lit(0.0) else lit(0L))
            .as("outdeg")))
      .repartition(col("id"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    val n = state0.count() // action: materializes edges + state; N for formula
    CacheScope.releaseOnThrow(edges, state0)(require(n > 0, "empty graph"))
    val bcast = n * stateRowBytes <= cfg.broadcastStateMaxBytes

    // init: uniform 1/N (PageRankDriver.java:102-108; NetworkX keeps the
    // uniform start even in personalized mode), or the WARM-START seed
    // when the caller supplies prior ranks. The None branch keeps the
    // literal 1/N expression tree untouched (bit-identical to the
    // oracle-pinned cold runs).
    var warmTmp: DataFrame = null // seeded pre-normalization frame to drop
    var state = (initRanks match {
      case None =>
        state0.select(
          col("id") +: col("outdeg") +: carry :+ lit(1.0 / n).as("rank"): _*)
      case Some(prior) =>
        // left join onto the CURRENT vertex universe: new vertices seed
        // at 1/N, departed ids drop with the join; then ONE setup-time
        // aggregate renormalizes total mass to 1 (O15) — prior mass on
        // departed vertices redistributes proportionally instead of
        // leaking out of the system
        val pr = prior.select(
          col("id"), col("rank").cast("double").as("_prior"))
        val seeded = state0
          .join(pr, Seq("id"), "left_outer")
          .select(
            col("id") +: col("outdeg") +: carry :+
              coalesce(col("_prior"), lit(1.0 / n)).as("rank"): _*)
          .persist(StorageLevel.MEMORY_AND_DISK)
        warmTmp = seeded
        val tot = seeded
          .agg(coalesce(sum(col("rank")), lit(0.0))).first().getDouble(0)
        CacheScope.releaseOnThrow(edges, state0, seeded) {
          require(
            tot > 0,
            "warm-start ranks must carry positive total mass over the " +
              "current graph's vertices")
        }
        seeded.select(
          col("id") +: col("outdeg") +: carry :+
            (col("rank") / tot).as("rank"): _*)
    }).persist(StorageLevel.MEMORY_AND_DISK)

    // initial dangling scan (PageRankDriver.java:112-114) — this also
    // materializes the init frame, after which the pre-init state frame is
    // dead weight; dropping it here (not at the end) keeps ONE |V|-sized
    // frame resident instead of two for the whole run (a 10-query bench
    // session leaked a |V| frame per graph query before this)
    var danglingSum: Double = state
      .filter(col("outdeg") === 0)
      .agg(coalesce(sum(col("rank")), lit(0.0)))
      .first()
      .getDouble(0)
    state0.unpersist(false)
    if (warmTmp != null) warmTmp.unpersist(false)

    val trace = scala.collection.mutable.ArrayBuffer.empty[IterationStat]
    var iter = 0
    var converged = false
    var prevCheckpoint: DataFrame = null // last iteration's blocks to drop

    // per-iteration resource accounting (opt-in, see
    // PageRankConfig.traceResources) — detached in the finally below
    val resListener =
      if (cfg.traceResources)
        Some(graft.metrics.ResourceMetrics.attach(spark.sparkContext))
      else None
    def resSnap(): Option[graft.metrics.ResourceSnapshot] =
      resListener.map { l => l.quiesce(); l.snapshot }

    // In broadcast mode the per-iteration plan is fully determined (two
    // broadcast joins + one exchange) — AQE's stage-by-stage
    // materialization only adds a scheduling barrier per exchange,
    // measured ~15% of iteration wall-clock at sf0.1. Suppress it for
    // the loop (ConfScope: overlapping runs on a shared session restore
    // the ORIGINAL value only when the last loop exits, so interleaved
    // save/restore can't leave AQE permanently off). The shuffle
    // fallback path keeps AQE: there runtime re-planning (skew-join
    // splitting, partition coalescing) is exactly what we want at scale.
    val noAqe =
      if (bcast) Seq("spark.sql.adaptive.enabled" -> "false") else Seq.empty
    ConfScope(spark, noAqe: _*) {
    try {

    while (iter < cfg.maxIter && !converged) {
      val snap0 = resSnap() // before t0: the quiesce wait is not engine time
      val t0 = System.nanoTime()

      // Scatter: only sources with outdeg>0 appear in edges, so no filter
      // is needed. Broadcast mode hash-joins against the broadcast state
      // — the edge side never shuffles. Fallback mode is a co-partitioned
      // SHUFFLE_HASH join building on the (|V|-sized) state side: the
      // cached edge frame is already hash-partitioned by src, so the big
      // side neither re-shuffles NOR re-sorts per iteration — the
      // sort-merge default would sort all |E| rows every iteration
      // (measured 33 GB of sort spill over 2 iterations at the 69M-edge
      // S3 shape before this hint).
      val scattered = edges
        .join(
          if (bcast) broadcast(state) else state.hint("shuffle_hash"),
          edges("src") === state("id"))
        .select(
          (col("dst").as("cid") +:
            (if (weighted) (col("rank") * col("w") / col("outdeg"))
             else col("rank") / col("outdeg")).as("share") +:
            // salt derives from src (spreads WITHIN a hot dst key) and is
            // computed here so the fallback shuffle never carries src
            // itself; unsalted plans don't pay the extra column at all
            (if (cfg.saltBuckets > 1 && !bcast)
               Seq(pmod(xxhash64(col("src")), lit(cfg.saltBuckets))
                 .as("_salt"))
             else Seq.empty)): _*)
      // Combine strategy differs by mode. Broadcast (small graph): plain
      // groupBy → map-side partial agg combines before the one exchange.
      // Fallback (big graph): repartition FIRST so both agg phases run
      // post-shuffle — a map-side combine over a high-cardinality dst
      // domain builds a per-task hash table proportional to |V|, which
      // at S3 shape overflowed the execution pool and sort-spilled all
      // |E| partial rows every iteration (~6 GB/iter measured); raw
      // pairs shuffle a similar byte volume (power-law dst means little
      // map-side reduction anyway) and aggregate into small
      // post-shuffle tables. Extreme single-hub in-degrees (rows per
      // key ≫ a partition) would call for salted two-level aggregation
      // instead; at web-graph skew (max in-degree ≪ partition rows) the
      // hash spread over dst is already balanced.
      val contribs =
        if (cfg.saltBuckets > 1 && !bcast) {
          // salted two-phase: the hot dst's rows split across S reducer
          // keys (salt = hash(src) mod S — deterministic, spreads within
          // a key because a hub's in-edges come from many sources), then
          // the ≤S partials per dst re-aggregate in a second, tiny
          // exchange. repartition-first for the same reason as below.
          scattered
            .repartition(col("cid"), col("_salt"))
            .groupBy(col("cid"), col("_salt"))
            .agg(sum(col("share")).as("psum"))
            .groupBy(col("cid"))
            .agg(sum(col("psum")).as("contrib"))
        } else
          (if (bcast) scattered else scattered.repartition(col("cid")))
            .groupBy(col("cid"))
            .agg(sum(col("share")).as("contrib"))

      // Gather + apply (left_outer: vertices with no in-links get 0 contrib
      // — the reference gets this via the STRUCT record owning the group,
      // PageRankReducer.java:95-98).
      //
      // Eager localCheckpoint each iteration: truncates the logical plan to
      // a LogicalRDD. Without it the plan tree doubles per iteration and
      // analysis/codegen costs explode long before execution does. This is
      // the Spark analogue of the reference's iteration-dir rotation
      // (PageRankDriver.java:121-122,177-185); on a real cluster swap in
      // reliable `checkpoint()` for fault-tolerance of long chains.
      // Uniform mode keeps the reference's literal expression tree
      // untouched (bit-identical to the oracle-pinned runs); personalized
      // mode redirects BOTH the restart and dangling mass to p
      // (NetworkX personalized semantics).
      val rankExpr =
        if (teleport.isDefined)
          (lit(1.0 - d) + lit(d * danglingSum)) * col("p") +
            lit(d) * coalesce(col("contrib"), lit(0.0))
        else
          lit((1.0 - d) / n) + lit(d * danglingSum / n) +
            lit(d) * coalesce(col("contrib"), lit(0.0))
      val newState = state
        .join(
          if (bcast) broadcast(contribs) else contribs.hint("shuffle_hash"),
          state("id") === contribs("cid"),
          "left_outer")
        .select(
          col("id") +: col("outdeg") +: carry :+
            rankExpr.as("rank") :+ col("rank").as("prev_rank"): _*)
        .localCheckpoint(false) // lazy: the metrics pass below
      // materializes it. The call still posts a SQL execution of its
      // own, so an iteration runs two: this one and the metrics .first()

      // One pass for all three global metrics + next iteration's dangling
      // mass (preserving the reference's one-iteration lag).
      val m = newState
        .agg(
          sum(abs(col("rank") - col("prev_rank"))).as("l1"),
          sum(col("rank")).as("total"),
          coalesce(sum(when(col("outdeg") === 0, col("rank"))), lit(0.0))
            .as("dangling"))
        .first()

      val l1 = m.getDouble(0)
      val totalPR = m.getDouble(1)
      danglingSum = m.getDouble(2)
      val avgDiff = l1 / n

      val old = state
      // projection over the checkpointed RDD — plan stays O(1) size;
      // resetStats drops the carried size ESTIMATE too (localCheckpoint
      // preserves it, and the join-shaped iteration would double its
      // bit length every round — the long-fixpoint overflow CacheScope
      // .rotate documents; the metrics .first() above has already
      // materialized the lazy checkpoint, so the rebuild is zero-copy)
      state = org.apache.spark.sql.classic.GraftSqlBridge.resetStats(
        newState.select(
          col("id") +: col("outdeg") +: carry :+ col("rank"): _*))
      old.unpersist(false)
      if (prevCheckpoint != null) prevCheckpoint.unpersist(false)
      prevCheckpoint = newState

      iter += 1
      val iterMs = (System.nanoTime() - t0) / 1000000
      val delta = (resSnap(), snap0) match {
        case (Some(a), Some(b)) => Some(a - b)
        case _                  => None
      }
      trace += IterationStat(
        iter, danglingSum, avgDiff, totalPR, iterMs,
        executorRunMs = delta.map(_.executorRunMs).getOrElse(0L),
        executorCpuMs = delta.map(_.executorCpuMs).getOrElse(0L),
        shuffleReadMB = delta
          .map(d => math.round(d.shuffleReadBytes / 1048576.0 * 10) / 10.0)
          .getOrElse(0.0),
        shuffleWriteMB = delta
          .map(d => math.round(d.shuffleWriteBytes / 1048576.0 * 10) / 10.0)
          .getOrElse(0.0))

      // convergence guard (PageRankDriver.java:211-216): threshold AND
      // min-iteration floor
      if (avgDiff <= cfg.tol && iter >= cfg.minIter) converged = true
    }

    } finally resListener.foreach(spark.sparkContext.removeSparkListener)
    }

    edges.unpersist(false)
    PageRankResult(state.select(col("id"), col("rank")), iter, trace.toSeq)
    }
  }

  /** Fixed-k variant for oracle checking (Q5): always runs exactly k
    * iterations, no convergence test.
    */
  def runFixed(
      spark: SparkSession,
      edges: DataFrame,
      k: Int,
      damping: Double = 0.85,
      initRanks: Option[DataFrame] = None): PageRankResult =
    run(
      spark,
      edges,
      PageRankConfig(
        damping = damping, maxIter = k, tol = -1.0, minIter = k),
      initRanks = initRanks)

  /** Top-K by rank, descending, deterministic tie-break on id — Catalyst
    * plans this as TakeOrderedAndProject, the same bounded-heap + merge the
    * reference hand-rolls (PageRankDriver.java:352-384).
    */
  def topK(ranks: DataFrame, k: Int = 50): DataFrame =
    ranks.orderBy(desc("rank"), asc("id")).limit(k)
}
