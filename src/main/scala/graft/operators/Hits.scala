package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** HITS hubs-and-authorities (Kleinberg), k synchronous power-iteration
  * rounds with normalization DEFERRED to the end: the recurrence
  * `araw_i(v) = Σ_{(u,v)} h_{i-1}(u)`, `hraw_i(u) = Σ_{(u,v)} araw_i(v)`
  * is linear in the state, so intermediate L1 scaling only rescales —
  * dividing once by the final sums yields exactly the per-step-normalized
  * fixpoint trajectory, with two fewer global scalar barriers PER
  * ITERATION (the loop runs with no driver action at all; the two
  * normalizing sums are 1-row frames crossed into the final projection).
  * With the all-ones init every intermediate value is an INTEGER sum of
  * integer products, so both engines agree bit-for-bit until the single
  * final division — which is why the oracle can hash-match the scores.
  * Overflow headroom: values grow ~(avg_deg)^{2k}; doubles hold exact
  * integers to 2^53 and stay well inside range far beyond that, and the
  * final ratios are scale-free.
  *
  * Scale shape (100 TB): the edge set shuffles TWICE at setup (one copy
  * hash-partitioned by src for the authority gather, one by dst for the
  * hub gather — same one-time-exchange discipline as the PageRank loop)
  * and never again; each round ships only the |V|-sized state to the
  * persisted edge sides and both gathers are map-side-combined sums.
  * State is sparse (zero-score vertices drop out of the joins and are
  * rematerialized as 0 only in the final projection). Per-round lineage
  * is cut with the same eager localCheckpoint rotation as PageRank/LPA.
  *
  * On the bipartite customer→supplier graph this is directly meaningful:
  * supplier authority = demand-weighted popularity, customer hub =
  * breadth of high-authority sourcing.
  */
object Hits {

  /** [[runConverged]]'s loop with the stop test off, so the oracle can
    * unroll it; no driver action runs per round.
    * @param edgesRaw `src LONG, dst LONG` (deduped internally)
    * @param k fixed iteration count
    * @return `id, auth DOUBLE, hub DOUBLE` over the full vertex
    *   universe, each column L1-normalized (sums to 1)
    */
  def run(edgesRaw: DataFrame, k: Int): DataFrame =
    powerLoop(edgesRaw, k, stopOnStable = false, tol = 0.0, minIter = 1)._1

  /** [[run]] TO CONVERGENCE on a NORMALIZED-score L1 delta — the
    * O14/O16 early-stop discipline for the last fixed-round loop that
    * lacked one. Raw scores grow without bound (normalization is
    * deferred), so the stopping rule compares what the caller actually
    * consumes: per iteration, Σ_v |ĥ_i(v) − ĥ_{i-1}(v)| where
    * ĥ = h/Σh (ĥ_0 = 1/N uniform — the normalized all-ones init); stop
    * when the delta ≤ `tol` AND `i ≥ minIter` (the g6 guard against a
    * deceptively-quiet first step), else cap at `maxK`. This form pays
    * ONE driver action per round (a single aggregate emitting the
    * round's Σh and delta together), exactly the per-round scalar class
    * of the PageRank loop. The returned scores at stop depth n are
    * identical to [[run]](edges, n) — which is how the g24b oracle
    * replays the rule: unroll to maxK, recompute every delta, select
    * the chosen iteration. `tol` must be chosen with numeric margin:
    * deltas are double sums whose accumulation order differs across
    * engines (the g6b discipline — pick a threshold with wide gaps to
    * the neighbouring iterations' deltas).
    * @return (scores as in [[run]], iterations actually run)
    */
  def runConverged(
      edgesRaw: DataFrame,
      maxK: Int,
      tol: Double,
      minIter: Int = 2): (DataFrame, Int) = {
    require(minIter >= 1 && minIter <= maxK, "need 1 <= minIter <= maxK")
    powerLoop(edgesRaw, maxK, stopOnStable = true, tol, minIter)
  }

  private def powerLoop(
      edgesRaw: DataFrame,
      maxK: Int,
      stopOnStable: Boolean,
      tol: Double,
      minIter: Int): (DataFrame, Int) = {
    require(maxK >= 1, "k must be >= 1")
    // narrowed planning for tiny graphs (see PlanScope): every round
    // plans 2 gather exchanges; on a fixture-sized graph the session
    // width schedules hundreds of sub-millisecond tasks per round. At
    // scale the estimate keeps the session width (narrowFor only
    // narrows). Values are unchanged: integer sums are exact under any
    // partitioning.
    PlanScope.narrowFor(edgesRaw) {
    val (eSrc, eDst) = edgeCopies(edgesRaw)
    val verts = GraphBuilder.vertices(eSrc)
      .persist(StorageLevel.MEMORY_AND_DISK)
    var h = verts.select(col("id"), lit(1.0).as("h"))
      .transform(CacheScope.rotate)
    var prevSh = 0.0
    if (stopOnStable) {
      prevSh = verts.count().toDouble // Σh_0 = N
      // fail loudly on an edgeless graph (the family's require style):
      // the per-round metric aggregate would otherwise yield NULL sums
      // and NPE at getDouble, and the Σh normalization divides by 0
      // (ADVICE r13); the count above already ran, so this guard costs
      // nothing
      CacheScope.releaseOnThrow(eSrc, eDst, verts) {
        require(prevSh > 0,
          "HITS requires a non-empty edge set (no vertices to score)")
      }
    }
    var araw: DataFrame = null
    var iters = 0
    var stop = false
    while (iters < maxK && !stop) {
      iters += 1
      val ar = authGather(eSrc, h)
      // the authority frame of a round that can be the last feeds BOTH
      // the hub gather and the final projection — checkpoint it so the
      // plan is shared, not recomputed
      val arShared =
        if (stopOnStable || iters == maxK) ar.transform(CacheScope.rotate) else ar
      val next = hubGather(eDst, arShared)
        .transform(CacheScope.rotate) // eager: truncates the per-round lineage
      if (stopOnStable) {
        // one action per round: Σh_i and the normalized delta together
        // (the 1-row Σh frame rides the plan via crossJoin — no second
        // job). full_outer: support(h_i) excludes outdeg-0 vertices the
        // init covered, and both coalesce to 0 in the diff.
        val shF = next.agg(sum(col("h")).as("sh"))
        val row = next.withColumnRenamed("h", "hn")
          .join(h.withColumnRenamed("h", "hp"), Seq("id"), "full_outer")
          .crossJoin(shF)
          .agg(
            sum(abs(
              coalesce(col("hn"), lit(0.0)) / col("sh") -
                coalesce(col("hp"), lit(0.0)) / lit(prevSh))).as("delta"),
            first(col("sh")).as("sh"))
          .first()
        prevSh = row.getDouble(1)
        stop = iters >= minIter && row.getDouble(0) <= tol
      }
      if (araw != null) araw.unpersist(false)
      h.unpersist(false)
      h = next
      araw = arShared
    }
    val sa = araw.agg(sum(col("a")).as("sa"))
    val sh = h.agg(sum(col("h")).as("sh"))
    val out = verts
      .join(araw.withColumnRenamed("a", "araw"), Seq("id"), "left_outer")
      .join(h.withColumnRenamed("h", "hraw"), Seq("id"), "left_outer")
      .crossJoin(sa)
      .crossJoin(sh)
      .select(
        col("id"),
        (coalesce(col("araw"), lit(0.0)) / col("sa")).as("auth"),
        (coalesce(col("hraw"), lit(0.0)) / col("sh")).as("hub"))
    (CacheScope.sealAfter(out, eSrc, eDst, verts, araw, h), iters)
    }
  }

  /** The loop's two pre-partitioned persisted edge copies (one by src
    * for the authority gather, one by dst for the hub gather) — also
    * the PlanSpec exchange audit's setup.
    */
  private[graft] def edgeCopies(edgesRaw: DataFrame): (DataFrame, DataFrame) = {
    val e = edgesRaw.select(col("src"), col("dst")).dropDuplicates()
    (e.repartition(col("src")).persist(StorageLevel.MEMORY_AND_DISK),
      e.repartition(col("dst")).persist(StorageLevel.MEMORY_AND_DISK))
  }

  /** Authority gather: sum incoming hub scores per destination over the
    * src-partitioned cached edge copy — the state frame exchanges to
    * the edge side's partitioning, never the reverse, and the sum is
    * map-side-combined (plan-asserted in PlanSpec).
    */
  private[graft] def authGather(eSrc: DataFrame, h: DataFrame): DataFrame =
    eSrc
      .join(h.withColumnRenamed("id", "src"), Seq("src"))
      .groupBy(col("dst").as("id"))
      .agg(sum(col("h")).as("a"))

  /** Hub gather: sum gathered authority per source over the
    * dst-partitioned cached edge copy (same exchange discipline as
    * [[authGather]]).
    */
  private[graft] def hubGather(eDst: DataFrame, a: DataFrame): DataFrame =
    eDst
      .join(a.withColumnRenamed("id", "dst"), Seq("dst"))
      .groupBy(col("src").as("id"))
      .agg(sum(col("a")).as("h"))
}
