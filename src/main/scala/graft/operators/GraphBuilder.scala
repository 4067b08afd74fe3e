package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph-structure derivations from a deduped `edges(src, dst)` frame.
  *
  * Mirrors the reference's preprocess stage (GraphBuilderMapper/Reducer:
  * vertex-universe closure via the `"!"` placeholder emission, adjacency
  * build, N count) but keeps everything normalized-columnar instead of the
  * reference's packed `id\tPR|outlinks` strings — packed strings defeat
  * column pruning and predicate pushdown (SURVEY.md §4.2).
  *
  * All shapes here are one-shuffle aggregations over the edge set; at scale
  * the edge frame is the big input and every derivation is a map-side
  * partial + exchange on the group key, which is the minimum possible.
  */
object GraphBuilder {

  /** Vertex universe = sources ∪ destinations (sink-only vertices included —
    * reference GraphBuilderMapper.java:40-43). Schema: `id LONG`.
    */
  def vertices(edges: DataFrame): DataFrame =
    edges
      .select(col("src").as("id"))
      .union(edges.select(col("dst").as("id")))
      .distinct()

  /** Out-degree per vertex over the *deduped* edge set; vertices with no
    * out-edges (dangling) carry outdeg=0. Schema: `id LONG, outdeg LONG`.
    */
  def outDegrees(edges: DataFrame): DataFrame = {
    val deg = edges.groupBy(col("src").as("id")).agg(count("*").as("outdeg"))
    vertices(edges)
      .join(deg, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("outdeg"), lit(0L)).as("outdeg"))
  }

  /** In- and out-degree per vertex (the README's degree-distribution
    * analysis, reference README.md:410-416).
    * Schema: `id, outdeg, indeg`.
    */
  def degrees(edges: DataFrame): DataFrame = {
    val out = edges.groupBy(col("src").as("id")).agg(count("*").as("outdeg"))
    val in = edges.groupBy(col("dst").as("id")).agg(count("*").as("indeg"))
    vertices(edges)
      .join(out, Seq("id"), "left_outer")
      .join(in, Seq("id"), "left_outer")
      .select(
        col("id"),
        coalesce(col("outdeg"), lit(0L)).as("outdeg"),
        coalesce(col("indeg"), lit(0L)).as("indeg"))
  }

  /** Adjacency as `id, outlinks ARRAY<LONG>` with the list sorted for
    * deterministic output (the reference's LinkedHashSet preserves
    * first-seen order, which is not reproducible under parallel reads;
    * SURVEY.md §2.1 O4 canonicalizes with array_sort). Dangling vertices
    * get an empty array, matching the reference's `id\tPR|` rows.
    */
  def adjacency(edges: DataFrame): DataFrame = {
    val adj = edges
      .groupBy(col("src").as("id"))
      .agg(array_sort(collect_list(col("dst"))).as("outlinks"))
    vertices(edges)
      .join(adj, Seq("id"), "left_outer")
      .select(
        col("id"),
        coalesce(col("outlinks"), array().cast("array<long>")).as("outlinks"))
  }

  /** Dangling vertices (outdeg == 0): appear only as destinations. */
  def danglingVertices(edges: DataFrame): DataFrame =
    outDegrees(edges).filter(col("outdeg") === 0).select(col("id"))

  /** Minimum-hop distances from `source` over the DIRECTED edge set —
    * frontier BFS as a GraphX Pregel program (one message per improved
    * edge per round, the optimal distributed shape; a DataFrame
    * self-join-per-hop would rescan the full edge set every round).
    * `maxHops` bounds the rounds, mirroring the depth bound the
    * recursive-CTE oracle needs to terminate. Unreached vertices are
    * omitted. Schema: `id LONG, hops LONG`.
    */
  def bfsHops(edges: DataFrame, source: Long, maxHops: Int): DataFrame = {
    import org.apache.spark.graphx._
    val spark = edges.sparkSession
    val edgeRdd = edges
      .select(col("src"), col("dst"))
      .distinct()
      .rdd
      .map(r => Edge(r.getLong(0), r.getLong(1), ()))
    val unreached = Long.MaxValue
    val g = Graph
      .fromEdges(edgeRdd, unreached)
      .mapVertices((id, _) => if (id == source) 0L else unreached)
    val res = Pregel(
      g, initialMsg = unreached, maxIterations = maxHops,
      activeDirection = EdgeDirection.Out)(
      (_, d, msg) => math.min(d, msg),
      t =>
        if (t.srcAttr != unreached && t.srcAttr + 1 < t.dstAttr)
          Iterator((t.dstId, t.srcAttr + 1))
        else Iterator.empty,
      (a, b) => math.min(a, b))
    val sp = spark
    import sp.implicits._
    val out = res.vertices
      .filter { case (_, d) => d != unreached }
      .map { case (id, d) => (id, d) }
      .toDF("id", "hops")
    g.unpersist(false)
    out
  }

  /** Per-vertex triangle counts over the UNDIRECTED simple graph
    * underlying `edges` (direction and self-loops dropped, multi-edges
    * collapse). Vertices in no triangle report 0.
    *
    * DEGREE-ORDERED listing (Schank–Wagner / Cohen's MapReduce plan, the
    * orientation every at-scale triangle engine uses): rank vertices by
    * `(degree, id)` — a total order — and orient each undirected edge
    * from its lower- to its higher-ranked endpoint. Every triangle then
    * has exactly one vertex with two out-edges (its lowest-ranked
    * corner), so enumerating wedges at out-edge pairs `x→y1, x→y2` with
    * `rank(y1) < rank(y2)` and closing on `y1→y2` lists each triangle
    * once. The wedge count is Σ_x C(outdeg⁺(x), 2) where every oriented
    * out-degree is O(√m) — a hub of degree d generates ZERO wedges
    * (all its edges orient inward) instead of the ≈d²/4 the naive
    * id-ordering pays at a mid-range-id hub. On the g20 bench fixture
    * (hub degree ≈19.6k at a middle id) that is ≈9.6·10⁷ id-ordered
    * wedge rows vs ≈7·10⁵, measured idle at sf0.1 as ≈8.5–11 s vs
    * ≈3.1–3.8 s per run.
    *
    * Cost shape: one degree aggregation + two broadcast-or-shuffle
    * degree joins to orient, then the same two shuffled equi-joins as
    * any exact listing — the extra orientation pass is linear and buys
    * the m^1.5 wedge bound that makes the plan survive skew.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val ue = undirectedSimple(edges)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // degree over the undirected simple graph (= the rank key)
    val deg = ue.select(col("u").as("id"))
      .union(ue.select(col("v").as("id")))
      .groupBy(col("id")).agg(count("*").as("d"))
    // orient low-rank → high-rank; carry the head's rank key so the
    // wedge join can order its two distal endpoints without re-joining
    val du = col("du")
    val dv = col("dv")
    val uLower = du < dv || (du === dv && col("u") < col("v"))
    val oriented = ue
      .join(deg.select(col("id").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("id").as("v"), col("d").as("dv")), Seq("v"))
      .select(
        when(uLower, col("u")).otherwise(col("v")).as("x"),
        when(uLower, col("v")).otherwise(col("u")).as("y"),
        when(uLower, dv).otherwise(du).as("yd"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tris = oriented.as("e1")
      .join(
        oriented.as("e2"),
        col("e1.x") === col("e2.x") &&
          (col("e1.yd") < col("e2.yd") ||
            (col("e1.yd") === col("e2.yd") && col("e1.y") < col("e2.y"))))
      .join(
        oriented.as("e3"),
        col("e3.x") === col("e1.y") && col("e3.y") === col("e2.y"))
      .select(col("e1.x").as("a"), col("e1.y").as("b"), col("e2.y").as("c"))
    val out = perVertexTriangles(edges, tris)
    CacheScope.sealAfter(out, ue, oriented)
  }

  /** The naive id-ordered listing (canonicalize u < v, wedge at the
    * middle vertex of `a→b→c`). Correct and one pass cheaper on
    * unskewed graphs, but its wedge count at a low-id hub is C(d, 2) —
    * kept as the differential baseline for [[triangleCounts]] and as
    * the id-ordered side of the g20 skew bench pair.
    */
  def triangleCountsIdOrdered(edges: DataFrame): DataFrame = {
    val ue = undirectedSimple(edges)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tris = ue.as("e1")
      .join(ue.as("e2"), col("e1.v") === col("e2.u"))
      .join(
        ue.as("e3"),
        col("e3.u") === col("e1.u") && col("e3.v") === col("e2.v"))
      .select(col("e1.u").as("a"), col("e1.v").as("b"), col("e2.v").as("c"))
    val out = perVertexTriangles(edges, tris)
    CacheScope.sealAfter(out, ue)
  }

  /** Synchronous label propagation (community detection) over the
    * UNDIRECTED simple graph, fully DETERMINISTIC: labels start as the
    * vertex id; in each of `k` fixed iterations every vertex adopts the
    * most frequent label among its neighbors, ties broken by the
    * SMALLEST label, isolated vertices keep theirs. Synchronous update
    * + fixed iteration count + total-order tie-break is the
    * oracle-checkable formulation — asynchronous LPA (the textbook
    * variant) is schedule-dependent and cannot be certified against
    * another engine. This is [[labelPropagationConverged]]'s loop with
    * the stop test off, so the oracle can unroll it.
    *
    * Plan per iteration: one shuffle join of the (cached,
    * nbr-partitioned) adjacency stream against the |V|-sized label
    * frame, a (vtx, lbl) count aggregate, and an argmax that folds
    * inside the hash aggregate via max_by — no window sort anywhere.
    * Labels are checkpointed per iteration (same lineage-rotation
    * pattern as the PageRank loop). At 100 TB the per-iteration cost is
    * the same class as one PageRank iteration: shuffle bytes ∝ |E| for
    * the label fan-out, map-side-combined aggregation down to |V|.
    */
  def labelPropagation(edges: DataFrame, k: Int): DataFrame =
    lpaLoop(edges, k, stopOnStable = false)._1

  /** [[labelPropagation]] run TO LABEL STABILITY — the early-stop twin
    * (O14/O16 discipline, PageRankDriver.java:207-216): iterate the
    * identical synchronous update until NO vertex changes its label,
    * bounded by `maxIter`. A stable labelling is a fixpoint of the
    * deterministic synchronous update (every later round recomputes the
    * same argmax from the same neighbor labels), so the converged result
    * equals the fixed-k result for any k ≥ the convergence depth — which
    * keeps the unrolled oracle valid without the caller hand-picking k.
    * (Synchronous LPA can 2-cycle on near-bipartite structures; `maxIter`
    * bounds that case and the caller sees the depth it stopped at.)
    * Costs one |V|-sized join + count per round — the same one driver
    * action per iteration as the PageRank convergence loop. Returns the
    * labels plus the number of update rounds run, the last of which is
    * the no-op round that proved stability.
    */
  def labelPropagationConverged(
      edges: DataFrame, maxIter: Int = 100): (DataFrame, Int) =
    lpaLoop(edges, maxIter, stopOnStable = true)

  private def lpaLoop(
      edges: DataFrame,
      maxIter: Int,
      stopOnStable: Boolean): (DataFrame, Int) = {
    require(maxIter >= 1, "k must be >= 1")
    // narrowed planning for tiny graphs (see PlanScope) — the argmax
    // algebra is exact-integer, partition-count independent
    PlanScope.narrowFor(edges) {
    val ue = undirectedSimple(edges)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val und = ue.select(col("u").as("vtx"), col("v").as("nbr"))
      .union(ue.select(col("v").as("vtx"), col("u").as("nbr")))
      .repartition(col("nbr"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // persisted: the |V|-sized universe re-enters every iteration's
    // left-outer recombine — unpersisted it would recompute the
    // 2·|E|-scan distinct once per round
    val verts = vertices(edges)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = verts.select(col("id"), col("id").as("lbl")).transform(CacheScope.rotate)
    var iters = 0
    var stable = false
    while (!stable && iters < maxIter) {
      val adopted = und
        .join(labels.select(col("id").as("nbr"), col("lbl")), Seq("nbr"))
        .groupBy(col("vtx"), col("lbl"))
        .agg(count("*").as("cnt"))
        .groupBy(col("vtx"))
        // argmax (cnt, -lbl): highest count, then smallest label
        .agg(max_by(col("lbl"), struct(col("cnt"), -col("lbl")))
          .as("new_lbl"))
      val next = verts
        .join(
          adopted.select(col("vtx").as("id"), col("new_lbl")),
          Seq("id"), "left_outer")
        .select(col("id"), coalesce(col("new_lbl"), col("id")).as("lbl"))
        .transform(CacheScope.rotate) // eager: truncates lineage, feeds the change count
      iters += 1
      if (stopOnStable) {
        // one |V|-sized co-keyed join: zero changed labels == fixpoint
        stable = next
          .join(labels.withColumnRenamed("lbl", "prev_lbl"), Seq("id"))
          .filter(col("lbl") =!= col("prev_lbl"))
          .count() == 0L
      }
      labels.unpersist(false)
      labels = next
    }
    ue.unpersist(false)
    und.unpersist(false)
    verts.unpersist(false)
    (labels, iters)
    }
  }

  /** DataFrame-NATIVE connected components by HashMin label diffusion
    * with early stop — the GraphX-free scale path for the dedup
    * pipeline's grouping primitive ([[Dedup.componentsFromPairs]] is
    * the row-object GraphX twin; a differential spec pins them equal):
    * every vertex starts as its own label, each round adopts
    * `min(own, min over neighbors)`, a zero-change round is the
    * fixpoint. Converges in O(diameter) rounds; per round the cost
    * class is one PageRank iteration — one |E|-row join against the
    * once-partitioned symmetric adjacency + one map-side-combined min
    * aggregate, per-round lineage cut by localCheckpoint, one driver
    * count for the stop test (the O14/O16 discipline). Star-contraction
    * (large-star/small-star) would cut rounds to O(log n) on
    * pathological-diameter graphs by mutating the edge set; HashMin
    * keeps the edge frame IMMUTABLE and cached, which wins on the
    * short-diameter graphs dedup actually produces. Returns
    * (`id, component_id` labels, rounds run).
    *
    * @param initLabels optional WARM START (g57 — the g56 incremental
    *   discipline applied to components): `(id, component_id)` from a
    *   prior run seeds the diffusion instead of identity labels; new
    *   vertices seed as themselves. SOUND FOR GROW-ONLY DELTAS ONLY
    *   (edge/vertex ADDITIONS — the streaming-CC assumption): old
    *   components only merge, so the min over a new component of the
    *   warm labels is exactly its true min vertex id, and the
    *   diffusion needs only the rounds of the MERGE structure, not the
    *   full graph diameter (differential-tested). After REMOVALS a
    *   split component would keep its old (now too-small) label
    *   forever — warm labels can never grow under HashMin — so a
    *   shrinking delta requires a cold run; spec-pinned as the
    *   documented failure mode, not silently wrong.
    */
  def connectedComponentsDF(
      edges: DataFrame,
      maxRounds: Int = 100,
      initLabels: Option[DataFrame] = None): (DataFrame, Int) = {
    require(maxRounds >= 1, "maxRounds must be >= 1")
    PlanScope.narrowFor(edges) {
    val (ue, sym) = ccAdjacency(edges)
    val verts = vertices(edges)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = (initLabels match {
      case None => verts.select(col("id"), col("id").as("lbl"))
      case Some(prior) =>
        verts
          .join(
            prior.select(
              col("id"), col(prior.columns(1)).as("_warm")),
            Seq("id"), "left_outer")
          .select(
            col("id"), coalesce(col("_warm"), col("id")).as("lbl"))
    }).transform(CacheScope.rotate)
    var rounds = 0
    var stable = false
    while (!stable && rounds < maxRounds) {
      val next = ccRound(sym, verts, labels)
        .transform(CacheScope.rotate) // eager: truncates lineage, feeds the stop test
      rounds += 1
      val changed = next
        .join(labels.withColumnRenamed("lbl", "prev_lbl"), Seq("id"))
        .filter(col("lbl") =!= col("prev_lbl"))
        .count()
      labels.unpersist(false)
      labels = next
      if (changed == 0L) stable = true
    }
    ue.unpersist(false)
    sym.unpersist(false)
    verts.unpersist(false)
    (labels.select(col("id"), col("lbl").as("component_id")), rounds)
    }
  }

  /** Connected components by STAR CONTRACTION — the alternating
    * large-star/small-star algorithm (Kiveris et al., "Connected
    * Components in MapReduce and Beyond"): the O(log n)-round
    * alternative to [[connectedComponentsDF]]'s O(diameter) HashMin
    * diffusion, the right choice when the graph's diameter is the
    * hazard (long paths, chain-shaped similarity graphs) rather than
    * its size. Each round REWRITES the edge set —
    *
    *   large-star at u: every neighbor v > u re-attaches to
    *     m(u) = min(N(u) ∪ {u}) (each undirected edge processed at its
    *     smaller endpoint);
    *   small-star at u: every neighbor v < u re-attaches to m(u), and
    *     u itself links to m(u) (each edge processed at its larger
    *     endpoint)
    *
    * — until the set is stable, at which point every component is a
    * star centered at its minimum vertex and the labeling reads off
    * the edges. The trade vs HashMin is explicit: contraction mutates
    * and re-shuffles the edge frame every round (no immutable cached
    * adjacency to stream against) but needs exponentially fewer
    * rounds on high-diameter graphs — a 200-vertex path converges in
    * ~7 rounds where HashMin needs 199 (unit-locked). Stability is
    * detected by an exact set comparison (two except-counts), never a
    * hash heuristic; the operator fails loudly if `maxRounds` is hit.
    * All-integer labels ⇒ hash-exact across engines (the oracle is the
    * same reachability closure g44 uses).
    */
  def connectedComponentsStar(
      edges: DataFrame, maxRounds: Int = 50): (DataFrame, Int) = {
    require(maxRounds >= 1, "maxRounds must be >= 1")
    PlanScope.narrowFor(edges) {
    val verts = vertices(edges)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def canon(df: DataFrame): DataFrame = df
      .select(
        least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    def starPass(e: DataFrame, large: Boolean): DataFrame = {
      val nbrs = e.select(col("u").as("x"), col("v").as("y"))
        .union(e.select(col("v").as("x"), col("u").as("y")))
      val m = nbrs.groupBy(col("x"))
        .agg(min(col("y")).as("my"))
        .select(col("x"), least(col("x"), col("my")).as("m"))
      val rewired = nbrs
        .join(m.hint("shuffle_hash"), Seq("x"))
        .filter(if (large) col("y") > col("x") else col("y") < col("x"))
        .select(col("y").as("u"), col("m").as("v"))
      val self =
        if (large) rewired
        else rewired.unionByName(
          m.select(col("x").as("u"), col("m").as("v")))
      canon(self)
    }
    var e = canon(edges.select(
        col("src").as("u"), col("dst").as("v")))
      .transform(CacheScope.rotate)
    var rounds = 0
    var stable = false
    while (!stable && rounds < maxRounds) {
      val next = starPass(starPass(e, large = true), large = false)
        .transform(CacheScope.rotate) // eager: cuts the per-round lineage
      rounds += 1
      // exact set equality, not a hash heuristic: a silent false
      // "stable" would ship a partial contraction as final labels
      val gone = e.exceptAll(next).count()
      val born = next.exceptAll(e).count()
      e = next
      if (gone == 0L && born == 0L) stable = true
    }
    require(stable,
      s"star contraction did not converge within $maxRounds rounds")
    // stars: every surviving edge (c, v) has c = the component min
    val labels = verts
      .join(
        e.select(col("v").as("id"), col("u").as("component_id")),
        Seq("id"), "left_outer")
      .select(
        col("id"),
        coalesce(col("component_id"), col("id")).as("component_id"))
    val out = CacheScope.sealAfter(labels, verts)
    (out, rounds)
    }
  }

  /** The once-built frames [[connectedComponentsDF]] loops over: the
    * canonical undirected edge set and its symmetrized adjacency,
    * hash-partitioned by `nbr` and persisted — the label frame ships TO
    * this partitioning every round. Exposed (like [[kCoreAdjacency]])
    * so PlanSpec can populate the cache the round audit walks.
    */
  private[graft] def ccAdjacency(edges: DataFrame): (DataFrame, DataFrame) = {
    val ue = undirectedSimple(edges)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sym = ue.select(col("u").as("vtx"), col("v").as("nbr"))
      .union(ue.select(col("v").as("vtx"), col("u").as("nbr")))
      .repartition(col("nbr"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (ue, sym)
  }

  /** ONE HashMin diffusion round of [[connectedComponentsDF]], exposed
    * (pre-checkpoint) so PlanSpec can audit the exchange discipline the
    * loop claims: the nbr-partitioned cached `sym` never re-exchanges —
    * the |V|-row label frame ships TO it (shuffle_hash keeps the cached
    * side streaming, no per-round re-sort), the min folds map-side
    * before the per-vtx exchange, and the recombine joins |V|-sized
    * frames only.
    */
  private[graft] def ccRound(
      sym: DataFrame, verts: DataFrame, labels: DataFrame): DataFrame = {
    val nbrMin = sym
      .join(
        labels.select(col("id").as("nbr"), col("lbl")).hint("shuffle_hash"),
        Seq("nbr"))
      .groupBy(col("vtx"))
      .agg(min(col("lbl")).as("nmin"))
    // recombine joins are |V|-sized on both sides: shuffle_hash skips
    // the per-round sort a SortMergeJoin fallback would pay
    verts
      .join(
        nbrMin.select(col("vtx").as("id"), col("nmin")).hint("shuffle_hash"),
        Seq("id"), "left_outer")
      .join(
        labels.withColumnRenamed("lbl", "prev").hint("shuffle_hash"),
        Seq("id"))
      .select(
        col("id"),
        least(col("prev"), coalesce(col("nmin"), col("prev"))).as("lbl"))
  }

  /** k-core decomposition by fixed-round peeling: each round recomputes
    * every surviving vertex's degree WITHIN the surviving set and drops
    * vertices below `k`; after `rounds` peels the survivors are reported
    * with their final internal degree. This is [[kCoreConverged]]'s
    * loop with the stop test off, so the oracle can unroll it — pick
    * `rounds` ≥ the peel depth of the graph and the result IS the k-core
    * (peeling is monotone, so extra rounds are no-ops). All-integer
    * degree arithmetic ⇒ hash-exact across engines and partitionings.
    *
    * Scale shape (100 TB): the undirected adjacency is built,
    * hash-partitioned by `nbr`, and persisted ONCE; each round
    * ([[kCoreInternalDeg]]) the cached edge frame never moves — the only
    * exchanges are the survivor set shipped to the adjacency's
    * partitioning (survivor-sized), the per-vtx MAP-SIDE-COMBINED degree
    * partials (≤ |V| rows after combine, never edge-sized), and the
    * survivor set again for the final semi-join — and the survivor frame
    * only shrinks. Plan-asserted in PlanSpec: no exchange in the peel
    * round re-shuffles edge-sized rows. Per-round lineage is cut with
    * the same eager localCheckpoint rotation as the other iterative
    * loops. Output: `id LONG, core_deg LONG` (survivors only).
    */
  def kCore(edges: DataFrame, k: Int, rounds: Int): DataFrame =
    kCoreLoop(edges, k, rounds, stopOnStable = false)._1

  /** k-core run TO FIXPOINT — [[kCore]]'s peel with the reference's
    * early-stop discipline (convergence loop O14/O16,
    * PageRankDriver.java:207-216) instead of a caller-guessed round
    * count: peel until the survivor count stops shrinking. Peeling is
    * monotone (survivor sets only shrink), so a stable COUNT is a
    * stable SET is the fixpoint — no vertex can drop in a later round.
    * The survivor count is observed inside each round's rotation
    * ([[CacheScope.rotate]]'s observed form), so a round costs one SQL
    * execution, as in the fixed form; `maxRounds` bounds
    * the loop defensively (the fixpoint is reached in ≤ |V| rounds on
    * any graph). Returns the converged core plus the number of peel
    * rounds run (reported like the PageRank result's iteration count),
    * the last of which is the no-op round that proved stability.
    */
  def kCoreConverged(
      edges: DataFrame, k: Int, maxRounds: Int = 1000): (DataFrame, Int) =
    kCoreLoop(edges, k, maxRounds, stopOnStable = true)

  private def kCoreLoop(
      edges: DataFrame,
      k: Int,
      maxRounds: Int,
      stopOnStable: Boolean): (DataFrame, Int) = {
    require(k >= 1 && maxRounds >= 1, "need k >= 1 and rounds >= 1")
    // narrowed planning for tiny graphs (see PlanScope): the peel is a
    // set-valued fixpoint (degrees are integer counts), partition-count
    // independent; at scale the estimate keeps full width.
    PlanScope.narrowFor(edges) {
    val (ue, und) = kCoreAdjacency(edges)
    var s = vertices(edges)
    var prevCount = -1L
    var rounds = 0
    var stable = false
    while (!stable && rounds < maxRounds) {
      val peeled = kCoreInternalDeg(und, s)
        .filter(col("deg") >= k)
        .select(col("id"))
      rounds += 1
      val next =
        if (!stopOnStable) CacheScope.rotate(peeled)
        else {
          val (rotated, seen) = CacheScope.rotate(peeled, count(lit(1)))
          val c = seen.getLong(0)
          stable = c == prevCount
          prevCount = c
          rotated
        }
      s.unpersist(false)
      s = next
    }
    val out = kCoreInternalDeg(und, s)
      .select(col("id"), col("deg").as("core_deg"))
    (CacheScope.sealAfter(out, ue, und, s), rounds)
    }
  }

  /** The peel loops' shared adjacency: canonical undirected simple edges
    * (persisted — feeds both directions) and the directed fan-out copy
    * hash-partitioned by `nbr`, the side every round's survivor
    * semi-join keys on.
    */
  private[graft] def kCoreAdjacency(edges: DataFrame): (DataFrame, DataFrame) = {
    val ue = undirectedSimple(edges)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val und = ue.select(col("u").as("vtx"), col("v").as("nbr"))
      .union(ue.select(col("v").as("vtx"), col("u").as("nbr")))
      .repartition(col("nbr"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (ue, und)
  }

  /** One peel round's degree stage: the internal degree of every
    * SURVIVING vertex within the surviving set. Ordered so the cached
    * edge frame is never re-shuffled: (1) semi-join the survivors onto
    * the `nbr`-partitioned adjacency (co-partitioned — only the
    * survivor frame exchanges; shuffle_hash pinned so the cached side
    * streams instead of re-sorting, the PageRank loop's discipline),
    * (2) count per `vtx` with a map-side-combined hash aggregate (the
    * exchange carries ≤ |V| partial counts, not edge rows), (3)
    * semi-join the survivors again on `vtx` (the aggregate output is
    * already vtx-partitioned). Output: `id, deg`.
    */
  private[graft] def kCoreInternalDeg(und: DataFrame, s: DataFrame): DataFrame =
    und
      .join(s.withColumnRenamed("id", "nbr").hint("shuffle_hash"), Seq("nbr"))
      .groupBy(col("vtx"))
      .agg(count("*").as("deg"))
      .join(s.withColumnRenamed("id", "vtx").hint("shuffle_hash"), Seq("vtx"))
      .select(col("vtx").as("id"), col("deg"))

  /** FULL core decomposition — every vertex's CORENESS number (the max
    * k with v ∈ k-core), by iterated neighbor h-index (Montresor–De
    * Pellegrini–Miorandi 2013, "Distributed k-core decomposition"):
    * `c_0(v) = deg(v)`, then
    * `c_{i+1}(v) = H({c_i(u) : u ∈ N(v)})` where H is the h-index
    * (largest k such that ≥ k neighbors hold value ≥ k). With the
    * degree init the sequence is monotone non-increasing per vertex
    * and converges exactly to the coreness — so unlike [[kCore]]
    * (one membership question per k), ONE loop prices the entire peel
    * ladder, which is what a feature pipeline materializing coreness
    * as a column actually wants. Every value is an integer ⇒
    * hash-exact across engines/partitionings, and each round is a
    * pure function of the previous values ⇒ the SQL oracle unrolls
    * the recurrence (converged ≡ fixed-k for any k ≥ the stop depth —
    * the g22b argument).
    *
    * Scale shape: the symmetrized adjacency is built/partitioned ONCE
    * ([[kCoreAdjacency]]); per round the |V|-row value frame ships to
    * it (shuffle_hash, cached side never moves), then the h-index
    * needs ORDER STATISTICS of each vertex's neighbor values — one
    * per-vtx window (rank by value desc) over the |E|-row joined
    * stream, frames bounded by degree (never a global sort), then
    * `max(least(rank, value))` folds in a map-side-combined hash
    * aggregate. The window is the intrinsic price of h-index; it is
    * what replaces kCore's |K| separate peel LOOPS with one loop.
    * Vertices with no (non-self-loop) neighbors report 0.
    */
  def corenessRounds(edges: DataFrame, rounds: Int): DataFrame =
    corenessLoop(edges, rounds, stopOnStable = false)._1

  /** [[corenessRounds]] run TO STABILITY (zero value changes — the
    * O14/O16 early-stop discipline), bounded by `maxRounds`; returns
    * the coreness frame plus rounds run, the last being the no-op
    * round that proved the fixpoint.
    */
  def corenessConverged(
      edges: DataFrame, maxRounds: Int = 100): (DataFrame, Int) =
    corenessLoop(edges, maxRounds, stopOnStable = true)

  /** ONE h-index round of [[corenessRounds]] (pre-checkpoint), exposed
    * for the PlanSpec round audit: the cached nbr-partitioned
    * adjacency never re-exchanges (the |V|-row value frame ships TO
    * it, shuffle_hash pinned), the per-vtx neighbor-value rank is the
    * degree-bounded window h-index intrinsically needs, and the
    * `max(least(rank, value))` fold is map-side combined.
    */
  private[graft] def corenessRound(
      und: DataFrame, verts: DataFrame, c: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("vtx"))
      .orderBy(desc("nval"), asc("nbr"))
    val h = und
      .join(
        c.select(col("id").as("nbr"), col("val").as("nval"))
          .hint("shuffle_hash"),
        Seq("nbr"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .groupBy(col("vtx"))
      .agg(max(least(col("rn"), col("nval"))).as("hval"))
    verts
      .join(h.withColumnRenamed("vtx", "id"), Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("hval"), lit(0L)).as("val"))
  }

  private def corenessLoop(
      edges: DataFrame,
      maxRounds: Int,
      stopOnStable: Boolean): (DataFrame, Int) = {
    require(maxRounds >= 1, "maxRounds must be >= 1")
    import org.apache.spark.sql.expressions.Window
    // narrowed planning for tiny graphs — see [[kCore]]'s note
    PlanScope.narrowFor(edges) {
    val (ue, und) = kCoreAdjacency(edges)
    val verts = vertices(edges)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var c = verts
      .join(
        und.groupBy(col("vtx")).agg(count(lit(1)).as("val"))
          .withColumnRenamed("vtx", "id"),
        Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("val"), lit(0L)).as("val"))
      .transform(CacheScope.rotate)
    var rounds = 0
    var stable = false
    while (rounds < maxRounds && !stable) {
      val next = corenessRound(und, verts, c).transform(CacheScope.rotate)
      rounds += 1
      if (stopOnStable) {
        val changed = next
          .join(c.withColumnRenamed("val", "prev"), Seq("id"))
          .filter(col("val") =!= col("prev"))
          .count()
        if (changed == 0L) stable = true
      }
      c.unpersist(false)
      c = next
    }
    val out = c.select(col("id"), col("val").as("coreness"))
    (CacheScope.sealAfter(out, ue, und, verts), rounds)
    }
  }

  /** WEIGHTED s-core by fixed-round peeling — [[kCore]]'s generalization
    * to weighted degrees (strength): each round drops survivors whose
    * total edge weight WITHIN the surviving set falls below
    * `minStrength`. On integer-valued weights (e.g. co-occurrence
    * counts) every strength is an exact double sum, so the result is
    * hash-exact across engines and partitionings like the unweighted
    * core. Same plan discipline as [[kCoreInternalDeg]] — the
    * symmetrized weighted adjacency is nbr-partitioned and persisted
    * ONCE, each round exchanges only the survivor set and the
    * map-side-combined strength partials (≤ |V|), never edge-sized
    * rows. Input `src, dst, w` is treated as directed and symmetrized
    * (both (u,v) and (v,u) contribute their weights). Output:
    * `id LONG, core_strength DOUBLE` (survivors only).
    */
  def kCoreWeighted(
      edges: DataFrame, minStrength: Double, rounds: Int): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    // narrowed planning for tiny graphs — see [[kCore]]'s note
    PlanScope.narrowFor(edges) {
    val und = kCoreWeightedAdjacency(edges)
    var s = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id")))
      .distinct()
    var prevCp: DataFrame = null
    for (_ <- 1 to rounds) {
      val next = kCoreStrength(und, s)
        .filter(col("st") >= minStrength)
        .select(col("id"))
        .transform(CacheScope.rotate) // eager: truncates the per-round lineage
      if (prevCp != null) prevCp.unpersist(false)
      prevCp = next
      s = next
    }
    val out = kCoreStrength(und, s).select(col("id"), col("st").as("core_strength"))
    CacheScope.sealAfter(out, und, s)
    }
  }

  /** The weighted peel's symmetrized, nbr-partitioned persisted
    * adjacency (the [[kCoreAdjacency]] discipline with weights).
    */
  private[graft] def kCoreWeightedAdjacency(edges: DataFrame): DataFrame =
    edges
      .select(col("src").as("vtx"), col("dst").as("nbr"), col("w"))
      .union(
        edges.select(col("dst").as("vtx"), col("src").as("nbr"), col("w")))
      .repartition(col("nbr"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** One weighted peel round's strength stage — [[kCoreInternalDeg]]'s
    * exchange discipline with `sum(w)` in place of the count
    * (plan-asserted in PlanSpec alongside g25's).
    */
  private[graft] def kCoreStrength(und: DataFrame, s: DataFrame): DataFrame =
    und
      .join(s.withColumnRenamed("id", "nbr").hint("shuffle_hash"), Seq("nbr"))
      .groupBy(col("vtx"))
      .agg(sum(col("w")).as("st"))
      .join(s.withColumnRenamed("id", "vtx").hint("shuffle_hash"), Seq("vtx"))
      .select(col("vtx").as("id"), col("st"))

  /** k-truss by fixed-round edge peeling: each round recomputes every
    * surviving EDGE's support (the number of triangles containing it
    * within the surviving edge set) and drops edges below `k − 2`;
    * after `rounds` peels the survivors are reported with their final
    * support. The edge analogue of [[kCore]]'s vertex peel, one level
    * up the cohesion ladder (every k-truss lives inside the (k−1)-core)
    * — the community-core primitive at 100 TB where vertex cores are
    * too loose. This is [[kTrussConverged]]'s loop with the stop test
    * off, so the oracle can unroll it (peeling is monotone: rounds ≥ the
    * cascade depth ⇒ THE k-truss; extra rounds are no-ops).
    * All-integer supports ⇒ hash-exact across engines/partitionings.
    *
    * Per-round cost is a triangle listing on the SHRINKING edge set,
    * using the same degree-ordered orientation as [[triangleCounts]]
    * (Σ C(outdeg⁺, 2) wedges — the m^1.5 bound that survives skew),
    * plus one exploded per-edge count; this is what an exact k-truss
    * costs anywhere. Output: `u LONG, v LONG, support LONG`
    * (survivors, u < v, support within the truss).
    */
  def kTruss(edges: DataFrame, k: Int, rounds: Int): DataFrame =
    kTrussLoop(edges, k, rounds, stopOnStable = false)._1

  /** [[kTruss]] run TO FIXPOINT — peel until the surviving edge count
    * is stable (monotone peeling ⇒ stable count = stable set = the
    * k-truss), bounded by `maxRounds`; the O14/O16 early-stop
    * discipline, like [[kCoreConverged]]. Returns the truss plus the
    * number of peel rounds run, the last being the no-op round that
    * proved stability.
    */
  def kTrussConverged(
      edges: DataFrame, k: Int, maxRounds: Int = 1000): (DataFrame, Int) =
    kTrussLoop(edges, k, maxRounds, stopOnStable = true)

  private def kTrussLoop(
      edges: DataFrame,
      k: Int,
      maxRounds: Int,
      stopOnStable: Boolean): (DataFrame, Int) = {
    require(k >= 3 && maxRounds >= 1, "need k >= 3 and rounds >= 1")
    // narrowed planning for tiny graphs — see [[kCore]]'s note
    PlanScope.narrowFor(edges) {
    var ue = undirectedSimple(edges).transform(CacheScope.rotate)
    var prev = -1L
    var rounds = 0
    var stable = false
    while (!stable && rounds < maxRounds) {
      ue = edgeSupport(ue)
        .filter(col("support") >= k - 2)
        .select(col("u"), col("v")) // eager: edgeSupport seals each round
      rounds += 1
      if (stopOnStable) {
        val c = ue.count()
        stable = c == prev
        prev = c
      }
    }
    (edgeSupport(ue), rounds)
    }
  }

  /** Per-edge triangle support over a canonical (u < v) simple edge
    * set: degree-ordered triangle listing (the [[triangleCounts]]
    * orientation — every triangle listed exactly once at its
    * lowest-ranked corner), exploded into its 3 canonical edges and
    * counted; edges in no triangle report 0. Eagerly sealed
    * ([[CacheScope.sealAfter]]) so per-round intermediates never
    * outlive the round. Output: `u, v, support`.
    */
  private[graft] def edgeSupport(ue0: DataFrame): DataFrame = {
    val ue = ue0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = ue.select(col("u").as("id"))
      .union(ue.select(col("v").as("id")))
      .groupBy(col("id")).agg(count("*").as("d"))
    val du = col("du")
    val dv = col("dv")
    val uLower = du < dv || (du === dv && col("u") < col("v"))
    val oriented = ue
      .join(deg.select(col("id").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("id").as("v"), col("d").as("dv")), Seq("v"))
      .select(
        when(uLower, col("u")).otherwise(col("v")).as("x"),
        when(uLower, col("v")).otherwise(col("u")).as("y"),
        when(uLower, dv).otherwise(du).as("yd"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tris = oriented.as("e1")
      .join(
        oriented.as("e2"),
        col("e1.x") === col("e2.x") &&
          (col("e1.yd") < col("e2.yd") ||
            (col("e1.yd") === col("e2.yd") && col("e1.y") < col("e2.y"))))
      .join(
        oriented.as("e3"),
        col("e3.x") === col("e1.y") && col("e3.y") === col("e2.y"))
      .select(col("e1.x").as("a"), col("e1.y").as("b"), col("e2.y").as("c"))
    val sup = tris
      .select(explode(array(
        struct(least(col("a"), col("b")).as("u"),
          greatest(col("a"), col("b")).as("v")),
        struct(least(col("a"), col("c")).as("u"),
          greatest(col("a"), col("c")).as("v")),
        struct(least(col("b"), col("c")).as("u"),
          greatest(col("b"), col("c")).as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .groupBy(col("u"), col("v"))
      .agg(count("*").as("support"))
    val out = ue
      .join(sup, Seq("u", "v"), "left_outer")
      .select(
        col("u"), col("v"),
        coalesce(col("support"), lit(0L)).as("support"))
    CacheScope.sealAfter(out, ue, oriented)
  }

  /** Link prediction over the UNDIRECTED simple graph: for every
    * non-adjacent vertex pair at distance 2, the three classic
    * neighborhood scores — common-neighbor count, neighborhood Jaccard
    * `cn / (du + dv − cn)`, and Adamic–Adar `Σ_w 1/ln(deg w)` over the
    * common neighbors — reported as the top-`topN` candidate edges by
    * Adamic–Adar (the standard ranking; ties by rounded score then pair
    * id, so the cut is reproducible cross-engine).
    *
    * Plan: ONE wedge enumeration at each middle vertex (self-join of the
    * symmetrized adjacency on the middle key, distal pair canonicalized
    * a < b), each wedge already carrying the middle's degree from the
    * degree join — so cn AND aa fold in the SAME map-side-combined hash
    * aggregate keyed (a, b); existing edges leave via one left-anti
    * join; the endpoint degrees arrive by two |V|-sized joins; the cut
    * is a TakeOrderedAndProject (never a full sort). The wedge stream is
    * Σ_w C(deg w, 2) rows — intrinsic to EXACT common-neighbor scores
    * (every common neighbor must be witnessed; orientation tricks that
    * bound triangle listing don't apply because the wedge itself is the
    * signal). At 100 TB that sum is the operator's real cost, and the
    * operator OWNS the standard mitigation: `maxDeg` caps the wedge
    * MIDDLES — a vertex whose degree exceeds the cap contributes no
    * wedges (the SNAP-standard degree cutoff; on a power-law graph the
    * 10⁶-degree hub would otherwise emit ~C(10⁶,2) ≈ 5·10¹¹ wedge rows
    * and kill the stage). Capping makes the scores APPROXIMATE —
    * cn/aa/jac count only common neighbors of degree ≤ maxDeg (the
    * approximate-Adamic–Adar variant; a hub is the least informative
    * common neighbor, which is exactly why aa down-weights it by
    * 1/ln(deg)) — while endpoint degrees in the Jaccard denominator stay
    * EXACT (the |V|-sized degree frame is cheap; only the wedge stream
    * is the hazard). `None` (default) is the exact operator. The cap is
    * a ONE-line filter on the degree-decorated adjacency BEFORE the
    * self-join, so the bound is Σ_{deg w ≤ maxDeg} C(deg w, 2) ≤
    * |V|·C(maxDeg, 2) — independent of hub size.
    *
    * Why aa survives a hash gate: the per-wedge terms `1/ln(deg w)` sum
    * in engine-dependent order, so the reported `aa_r` is rounded to
    * 6 dp (the d23 float-sum discipline); `jac_r` is a single division
    * of exact integers, rounded at 9.
    */
  def linkPrediction(
      edges: DataFrame, topN: Int, maxDeg: Option[Int] = None): DataFrame = {
    require(maxDeg.forall(_ >= 2),
      "maxDeg < 2 leaves no wedge middles (a wedge needs degree >= 2)")
    val ue = undirectedSimple(edges)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val und = ue.select(col("u").as("vtx"), col("v").as("nbr"))
      .union(ue.select(col("v").as("vtx"), col("u").as("nbr")))
    // persisted: consumed three times (the wedge decoration and both
    // endpoint-degree joins) — unpersisted, each use re-scans the edge
    // set for the same |V|-sized aggregate
    val deg = und.groupBy(col("vtx")).agg(count("*").as("d"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // wedge at middle w: (w, a) × (w, b), a < b; the middle's degree
    // rides along so aa needs no second join. maxDeg filters MIDDLES
    // here — before the self-join — so a capped hub never reaches the
    // quadratic stage at all (endpoint degrees da/db stay exact: they
    // come from the uncapped `deg` frame below)
    val withDeg = maxDeg
      .foldLeft(und.join(deg, Seq("vtx")))((d, cap) =>
        d.filter(col("d") <= cap))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = withDeg.as("l")
      .join(withDeg.as("r"), col("l.vtx") === col("r.vtx") &&
        col("l.nbr") < col("r.nbr"))
      .select(
        col("l.nbr").as("a"), col("r.nbr").as("b"),
        (lit(1.0) / log(col("l.d").cast("double"))).as("aa_term"))
      .groupBy(col("a"), col("b"))
      .agg(count("*").as("cn"), sum(col("aa_term")).as("aa"))
      .join(ue, col("a") === col("u") && col("b") === col("v"), "left_anti")
    val out = pairs
      .join(deg.select(col("vtx").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("vtx").as("b"), col("d").as("db")), Seq("b"))
      .select(
        col("a").as("u"), col("b").as("v"), col("cn"),
        round(col("cn") / (col("da") + col("db") - col("cn")), 9)
          .as("jac_r"),
        round(col("aa"), 6).as("aa_r"))
      .orderBy(desc("aa_r"), asc("u"), asc("v"))
      .limit(topN)
    CacheScope.sealAfter(out, ue, deg, withDeg)
  }

  /** Newman modularity of a community partition `labels(id, lbl)` over
    * the UNDIRECTED simple graph underlying `edges` — the quality score
    * that makes [[labelPropagation]]'s output judgeable:
    * `Q = Σ_c [ m_c/m − (D_c/2m)² ]`, rewritten over EXACT integer
    * sufficient sums as `intra/m − Σ_c D_c² / (4m²)` (the g29 closed-form
    * discipline: every aggregate is an integer, the one double division
    * happens once, so the score is hash-exact across engines and
    * partitionings — no float-summation-order exposure at all).
    *
    * Plan: two label lookups on the canonical edge set — broadcast
    * joins while the |V|-sized label frame fits (statistics decide, no
    * hint: the d17 discipline), degenerating to one edge re-key per
    * endpoint when it doesn't (the same two-lookup cost
    * [[triangleCounts]]' orientation pays — intrinsic to decorating
    * edges with per-endpoint data); then one edge-count aggregate, one
    * per-community degree sum off the |V|-sized degree frame, and a
    * 1-row cross join. Output (one row):
    * `n_comms, m_edges, intra_edges, sum_deg_sq, q_r`.
    */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val ue = undirectedSimple(edges)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val lbl = labels.select(col("id"), col("lbl"))
    val labeled = ue
      .join(lbl.select(col("id").as("u"), col("lbl").as("lu")), Seq("u"))
      .join(lbl.select(col("id").as("v"), col("lbl").as("lv")), Seq("v"))
    val edgeSums = labeled.agg(
      count("*").as("m_edges"),
      sum(when(col("lu") === col("lv"), 1L).otherwise(0L))
        .as("intra_edges"))
    // degree within the undirected simple graph, summed per community;
    // Σ_c D_c² stays integer-exact
    val degSums = ue.select(col("u").as("id"))
      .union(ue.select(col("v").as("id")))
      .join(lbl, Seq("id"))
      .groupBy(col("lbl"))
      .agg(count("*").as("dc"))
      .agg(
        count("*").as("n_comms"),
        sum(col("dc") * col("dc")).as("sum_deg_sq"))
    val out = edgeSums.crossJoin(degSums)
      .select(
        col("n_comms"), col("m_edges"), col("intra_edges"),
        col("sum_deg_sq"),
        round(
          col("intra_edges").cast("double") / col("m_edges") -
            col("sum_deg_sq").cast("double") /
              (lit(4.0) * col("m_edges") * col("m_edges")),
          9).as("q_r"))
    CacheScope.sealAfter(out, ue)
  }

  /** Per-vertex local clustering coefficient over the UNDIRECTED simple
    * graph: `lcc = 2·tri / (d·(d−1))` for degree ≥ 2, else 0 — the
    * closed neighborhood density that, with [[triangleCounts]], makes
    * the triangle census interpretable per vertex. Exactly the
    * [[triangleCounts]] plan (degree-ordered listing, m^1.5 wedge
    * bound) plus one |V|-sized degree join and a single exact integer
    * division (rounded at 9 — deterministic, no float sums). Output:
    * `id, n_triangles, deg, lcc_r`.
    */
  def clusteringCoefficients(edges: DataFrame): DataFrame = {
    val tri = triangleCounts(edges) // sealed, self-contained
    val ue = undirectedSimple(edges)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = ue.select(col("u").as("id"))
      .union(ue.select(col("v").as("id")))
      .groupBy(col("id")).agg(count("*").as("deg"))
    val out = tri
      .join(deg, Seq("id"), "left_outer")
      .select(
        col("id"), col("n_triangles"),
        coalesce(col("deg"), lit(0L)).as("deg"),
        when(coalesce(col("deg"), lit(0L)) >= 2,
          round(
            lit(2.0) * col("n_triangles") /
              (col("deg") * (col("deg") - 1)), 9))
          .otherwise(lit(0.0)).as("lcc_r"))
    CacheScope.sealAfter(out, ue)
  }

  /** Community COARSENING (the contraction step of multilevel graph
    * processing — Louvain's aggregation phase, METIS-style multilevel
    * partitioning): contract every community of `labels(id, lbl)` to a
    * supervertex and aggregate the undirected simple edges between
    * them. Output: `lu, lv, n_edges` with `lu ≤ lv`; `lu = lv` rows
    * carry each community's INTRA-edge count (the self-loop weight the
    * next coarsening level needs). With [[labelPropagation]] +
    * [[modularity]] this closes the multilevel loop: detect → score →
    * contract → recurse on a graph |communities| wide.
    *
    * Plan: the same two label lookups as [[modularity]] (broadcast while
    * the label frame fits, one edge re-key per endpoint when it
    * doesn't — the intrinsic cost of decorating edges with endpoint
    * data) and ONE map-side-combined count keyed (lu, lv) — the output
    * is |communities|²-bounded and in practice near-linear in
    * |communities|. All-integer ⇒ hash-exact.
    */
  def coarsen(edges: DataFrame, labels: DataFrame): DataFrame = {
    val ue = undirectedSimple(edges)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val lbl = labels.select(col("id"), col("lbl"))
    val out = ue
      .join(lbl.select(col("id").as("u"), col("lbl").as("la")), Seq("u"))
      .join(lbl.select(col("id").as("v"), col("lbl").as("lb")), Seq("v"))
      .groupBy(
        least(col("la"), col("lb")).as("lu"),
        greatest(col("la"), col("lb")).as("lv"))
      .agg(count("*").as("n_edges"))
    CacheScope.sealAfter(out, ue)
  }

  /** Two-layer NEIGHBOR FEATURE AGGREGATION (the GraphSAGE/GNN
    * message-passing data-prep primitive: each layer replaces a vertex's
    * features with an aggregate of its neighbors'): layer 1 aggregates
    * every vertex's directed degrees over its undirected neighbors;
    * layer 2 aggregates layer 1's sums the same way, giving the 2-hop
    * receptive field. All sums are EXACT integers and the one mean is a
    * rounded integer ratio — hash-exact, zero float-sum exposure.
    *
    * Scale shape = one GNN layer's: per hop ONE join of the |E|-row
    * symmetrized adjacency against the |V|-row feature frame and one
    * map-side-combined sum keyed on the vertex — features never
    * materialize per-edge beyond the join, and hops chain without
    * widening. Output: `id, outdeg, indeg, deg, s1_out, s1_in, s2_out,
    * s2_in, avg1_out_r` (isolated vertices report 0 everywhere).
    */
  def neighborAgg(edges: DataFrame): DataFrame = {
    // feat and h1 each feed TWO consumers (the next hop and the final
    // assembly) — persisted so neither layer's aggregation re-runs
    val feat = degrees(edges)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ue = undirectedSimple(edges)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val und = ue.select(col("u").as("vtx"), col("v").as("nbr"))
      .union(ue.select(col("v").as("vtx"), col("u").as("nbr")))
    val h1 = und
      .join(feat.withColumnRenamed("id", "nbr"), Seq("nbr"))
      .groupBy(col("vtx"))
      .agg(
        count("*").as("deg"),
        sum(col("outdeg")).as("s1_out"),
        sum(col("indeg")).as("s1_in"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val h2 = und
      .join(h1.withColumnRenamed("vtx", "nbr"), Seq("nbr"))
      .groupBy(col("vtx"))
      .agg(sum(col("s1_out")).as("s2_out"), sum(col("s1_in")).as("s2_in"))
    val out = feat
      .join(h1.withColumnRenamed("vtx", "id"), Seq("id"), "left_outer")
      .join(h2.withColumnRenamed("vtx", "id"), Seq("id"), "left_outer")
      .select(
        col("id"), col("outdeg"), col("indeg"),
        coalesce(col("deg"), lit(0L)).as("deg"),
        coalesce(col("s1_out"), lit(0L)).as("s1_out"),
        coalesce(col("s1_in"), lit(0L)).as("s1_in"),
        coalesce(col("s2_out"), lit(0L)).as("s2_out"),
        coalesce(col("s2_in"), lit(0L)).as("s2_in"),
        when(coalesce(col("deg"), lit(0L)) > 0,
          round(col("s1_out").cast("double") / col("deg"), 9))
          .otherwise(lit(0.0)).as("avg1_out_r"))
    CacheScope.sealAfter(out, feat, ue, h1)
  }

  /** Canonical undirected simple edge set: u < v, self-loops dropped,
    * multi-edges and reversals collapsed.
    */
  private[operators] def undirectedSimple(edges: DataFrame): DataFrame =
    edges
      .select(
        least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()

  /** Explode listed triangles to per-vertex counts over the full vertex
    * universe (triangle-free vertices report 0).
    */
  private def perVertexTriangles(
      edges: DataFrame, tris: DataFrame): DataFrame = {
    val perVertex = tris
      .select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy(col("id"))
      .agg(count("*").as("n_triangles"))
    vertices(edges)
      .join(perVertex, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
  }
}
