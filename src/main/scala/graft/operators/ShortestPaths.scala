package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** k-round weighted single-source shortest paths (Bellman–Ford
  * relaxation) over an `edges(src, dst, w)` frame.
  *
  * The reference engine has no weighted-path operator; this extends the
  * graph surface the same way weighted PageRank does (g21): identical
  * iterative loop discipline (per-round lineage cut, persisted
  * src-partitioned edge side), different per-round algebra. Round
  * semantics are the textbook recurrence
  * `dist_{i+1}(v) = min(dist_i(v), min_{(u,v)∈E} dist_i(u) + w(u,v))`,
  * so after k rounds every vertex holds the cheapest path cost over
  * paths of ≤ k edges — exactly reproducible by an unrolled SQL chain,
  * which is what the g23 oracle does. `min` over doubles is exact (no
  * accumulation-order sensitivity), so results hash-match across any
  * partitioning.
  *
  * Scale shape (100 TB): the edge frame shuffles ONCE to
  * hash-partition by `src` and is persisted; each round ships only the
  * (id, dist) state — |reached| rows, not |E| — to the edges, and the
  * min-recombine gets map-side partial aggregation for free. The state
  * is sparse: unreached vertices are simply absent, so early rounds
  * move frontier-sized data only. Lineage is truncated per round with
  * the same eager localCheckpoint rotation as the PageRank/LPA loops.
  */
object ShortestPaths {

  /** [[runConverged]]'s loop with the stop test off, so the oracle can
    * unroll it.
    * @param edges `src LONG, dst LONG, w DOUBLE` (positive weights;
    *   duplicate (src, dst) rows are fine — min relaxation absorbs them)
    * @param sources `id LONG` seed vertices, all starting at distance 0
    * @param rounds fixed relaxation-round count (path length bound)
    * @return `id LONG, dist DOUBLE` for every vertex reachable within
    *   `rounds` edges of a seed
    */
  def run(edges: DataFrame, sources: DataFrame, rounds: Int): DataFrame =
    relaxLoop(edges, sources, rounds, stopOnStable = false)._1

  /** [[run]] TO CONVERGENCE — stop when a relaxation round improves
    * ZERO distances (no new vertex reached, no distance lowered): the
    * O14/O16 early-stop discipline the fixed-round form leaves to the
    * caller. Distances are monotone non-increasing and the reached set
    * monotone non-decreasing, so a zero-improvement round is a fixpoint
    * of the deterministic update — every later round no-ops, which is
    * why the converged result equals [[run]] for ANY `rounds` ≥ the
    * stop depth (the g22b/g25b oracle argument; the g23b differential
    * pins it). The stability check is one count per round over the
    * |reached|-sized state (prev joined back on the co-partitioned id),
    * the same per-round driver-scalar class as the PageRank loop's
    * convergence sum. Bounded by `maxRounds` — with positive weights
    * true convergence needs at most |V|−1 rounds.
    * @return (distances as in [[run]], rounds actually run — the last
    *   being the no-op round that proved stability, unless `maxRounds`
    *   cut the loop first)
    */
  def runConverged(
      edges: DataFrame,
      sources: DataFrame,
      maxRounds: Int = 50): (DataFrame, Int) = {
    // fail loudly instead of silently returning an empty frame (the
    // Hits.runConverged guard's sibling, ADVICE r13): an empty seed set
    // is a caller bug, not a graph with no reachable vertices
    require(!sources.isEmpty,
      "SSSP requires a non-empty source set")
    relaxLoop(edges, sources, maxRounds, stopOnStable = true)
  }

  private def relaxLoop(
      edges: DataFrame,
      sources: DataFrame,
      maxRounds: Int,
      stopOnStable: Boolean): (DataFrame, Int) = {
    require(maxRounds >= 1, "rounds must be >= 1")
    // narrowed planning for tiny graphs (see PlanScope): each round
    // plans a join + min-agg exchange pair; fixture-sized graphs pay
    // scheduling, not data, at the session width. min over doubles is
    // exact, so values are partition-count independent. At scale the
    // estimate keeps full width.
    PlanScope.narrowFor(edges) {
    val e = edges
      .select(col("src").as("id"), col("dst"), col("w").cast("double").as("w"))
      .repartition(col("id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var dist = sources.select(col("id"), lit(0.0).as("dist"))
      .transform(CacheScope.rotate)
    var rounds = 0
    var stable = false
    while (rounds < maxRounds && !stable) {
      val relaxed = dist
        .join(e, Seq("id"))
        .select(col("dst").as("id"), (col("dist") + col("w")).as("dist"))
      val next = dist
        .union(relaxed)
        .groupBy(col("id"))
        .agg(min(col("dist")).as("dist"))
        .transform(CacheScope.rotate) // eager: truncates the per-round lineage
      rounds += 1
      if (stopOnStable) {
        // improved = newly reached OR strictly lowered; min over doubles
        // is exact (no accumulation), so zero-improved is a crisp fixpoint
        stable = next
          .join(dist.withColumnRenamed("dist", "prev"), Seq("id"), "left_outer")
          .filter(col("prev").isNull || col("dist") < col("prev"))
          .count() == 0L
      }
      dist.unpersist(false)
      dist = next
    }
    e.unpersist(false)
    (dist, rounds)
    }
  }

  /** BATCHED multi-source min-hop BFS: hop distances from EVERY seed in
    * ONE loop over the edge set — the sparse `(seed, id, dist)` state
    * pattern ([[MultiPpr]]'s batching) applied to reachability. The
    * landmark-distance shape: |S| BFS layers computed without rescanning
    * the edges per source (the inputs to eccentricity/diameter estimates
    * and distance features). All-integer hop counts ⇒ hash-exact across
    * engines and partitionings. Per round: the state joins the
    * src-partitioned persisted edges on the co-partitioned key, relaxed
    * frontiers are min-recombined per (seed, id) with map-side combine —
    * exchange volume is state-sized, the edge side never moves.
    * Output: `seed LONG, id LONG, hops LONG` for every (seed, vertex)
    * pair within `rounds` hops.
    */
  def multiSourceHops(
      edges: DataFrame, seeds: Seq[Long], rounds: Int): DataFrame = {
    require(seeds.nonEmpty, "need at least one seed")
    require(rounds >= 1, "rounds must be >= 1")
    val spark = edges.sparkSession
    import spark.implicits._
    // narrowed planning for tiny graphs — see [[run]]'s note
    PlanScope.narrowFor(edges) {
    val e = edges
      .select(col("src").as("id"), col("dst"))
      .dropDuplicates()
      .repartition(col("id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var dist = seeds.toDF("seed")
      .select(col("seed"), col("seed").as("id"), lit(0L).as("hops"))
    var prevCp: DataFrame = null
    for (_ <- 1 to rounds) {
      val next = multiRelaxOnce(e, dist)
        .transform(CacheScope.rotate) // eager: truncates the per-round lineage
      if (prevCp != null) prevCp.unpersist(false)
      prevCp = next
      dist = next
    }
    e.unpersist(false)
    dist
    }
  }

  /** One multi-source BFS relaxation round — exposed for the PlanSpec
    * exchange audit: the state joins the cached src-partitioned edges
    * on the co-partitioned key (edge side never moves) and the min
    * recombine is map-side combined.
    */
  private[graft] def multiRelaxOnce(e: DataFrame, dist: DataFrame): DataFrame = {
    val relaxed = dist
      .join(e, Seq("id"))
      .select(col("seed"), col("dst").as("id"), (col("hops") + 1L).as("hops"))
    dist
      .union(relaxed)
      .groupBy(col("seed"), col("id"))
      .agg(min(col("hops")).as("hops"))
  }
}
