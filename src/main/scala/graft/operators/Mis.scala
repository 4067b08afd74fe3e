package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Luby's maximal independent set (Luby 1986) — the symmetry-breaking
  * primitive distributed scheduling, graph coloring, and parallel
  * matching build on. Each round every ACTIVE vertex draws a priority;
  * a vertex enters the MIS iff its (priority, id) beats every active
  * neighbor's, then winners and their neighborhoods retire. Expected
  * O(log n) rounds.
  *
  * The repo's determinism discipline replaces Luby's random draws with
  * md5 priorities keyed by (vertex, round, salt) — the d12/portable-
  * graph trick — so the WHOLE fixpoint is a pure function of the edge
  * set: replayable across engines (the g48 oracle unrolls the exact
  * rounds in SQL), reruns, and any cluster layout. The lexicographic
  * (priority, id) compare breaks md5 ties, so no round ever stalls.
  *
  * Scale shape: the symmetrized adjacency partitions by src ONCE and
  * never re-exchanges (the g15/g25 loop discipline — each round ships
  * the |active|-row priority frame to it shuffle-hash); the
  * min-neighbor fold is a map-side-combined aggregate keyed by dst;
  * active/MIS state rotates through [[CacheScope.rotate]]. Rounds
  * shrink geometrically in expectation, so late rounds are
  * near-free. Fails loudly if `maxRounds` is hit with vertices still
  * active rather than returning a non-maximal set.
  *
  * Output: `id LONG, in_mis BOOLEAN` over the vertex universe
  * (src ∪ dst; self-loops are ignored as edges, so a vertex with only
  * a self-loop is effectively isolated and always enters).
  */
object Mis {

  private def prio(id: Column, r: Int, salt: String): Column =
    conv(
      substring(
        md5(concat_ws(":", id.cast("string"), lit(r.toString), lit(salt))),
        1, 15),
      16, 10).cast("long")

  /** Self-loop-free symmetric adjacency, src-partitioned and persisted
    * — the one cached frame every fixpoint here streams against.
    * Callers own the unpersist (via sealAfter or explicitly).
    */
  private def symmetrize(edges: DataFrame): DataFrame = {
    val sym = edges.filter(col("src") =!= col("dst"))
    sym.select(col("src"), col("dst"))
      .union(sym.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** Canonical (u < v) self-loop-free edge set, lineage-rotated. */
  private def canonEdges(edges: DataFrame): DataFrame =
    edges.filter(col("src") =!= col("dst"))
      .select(
        least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct()
      .transform(CacheScope.rotate)

  def lubyMis(
      edges: DataFrame,
      salt: String = "mis-v1",
      maxRounds: Int = 64): DataFrame = PlanScope.narrowFor(edges) {
    val und = symmetrize(edges)
    val verts = GraphBuilder.vertices(edges)
    val misFlag = misOn(und, verts, salt, maxRounds)
      .withColumn("in_mis", lit(true))
    val out = verts
      .join(misFlag, Seq("id"), "left")
      .select(
        col("id"), coalesce(col("in_mis"), lit(false)).as("in_mis"))
    CacheScope.sealAfter(out, und)
  }

  /** The MIS fixpoint over an arbitrary starting vertex set — the
    * induced-subgraph form [[lubyColoring]] iterates: edges to
    * vertices OUTSIDE `verts` never constrain anyone because only
    * active vertices enter the priority frame. Returns the MIS ids
    * (possibly empty frame when `verts` is empty).
    */
  private def misOn(
      und: DataFrame,
      verts: DataFrame,
      salt: String,
      maxRounds: Int): DataFrame =
    misOnCounted(und, verts, salt, maxRounds)._1

  /** The loops' state rotation with its row count, observed inside
    * the rotation's own job: a stop test that costs no second action.
    */
  private def rotateCounted(state: DataFrame): (DataFrame, Long) = {
    val (out, seen) = CacheScope.rotate(state, count(lit(1)))
    (out, seen.getLong(0))
  }

  /** [[misOn]] plus the fixpoint depth it used — the depth feeds the
    * oracle unroll-bound assertions.
    */
  private def misOnCounted(
      und: DataFrame,
      verts: DataFrame,
      salt: String,
      maxRounds: Int): (DataFrame, Int) = {
    var (active, nActive) = rotateCounted(verts)
    var mis: DataFrame = null
    var r = 0
    while (nActive > 0) {
      require(r < maxRounds,
        s"lubyMis: $nActive vertices still active after $maxRounds " +
          "rounds — refusing to return a non-maximal set")
      val ap = active.select(col("id"), prio(col("id"), r, salt).as("p"))
      val nbrMin = misNbrMin(und, ap)
      val winners = ap
        .join(nbrMin, col("id") === col("dst"), "left")
        .filter(
          col("min_nbr").isNull
            || struct(col("p"), col("id")) < col("min_nbr"))
        .select(col("id"))
        .transform(CacheScope.rotate)
      mis = if (mis == null) winners else mis.unionByName(winners)
      val removed = winners.unionByName(
        winners.join(und.hint("shuffle_hash"), col("id") === col("src"))
          .select(col("dst").as("id")))
        .distinct()
      val (left, n) =
        rotateCounted(active.join(removed, Seq("id"), "left_anti"))
      active = left
      nActive = n
      r += 1
    }
    (if (mis == null) verts.limit(0) else mis, r)
  }

  /** GRAPH COLORING by iterated MIS (the Luby route to a
    * (Δ+1)-bounded proper coloring): color k is the MIS of the
    * residual graph under salt `salt:k`; its members retire, the rest
    * continue. Two properties fall out by construction and are
    * unit-locked: the coloring is PROPER (each color class is an
    * independent set), and every vertex of color k has, for EVERY
    * j < k, a neighbor of color j (MIS maximality — so no vertex
    * could take a smaller color under this schedule). Deterministic
    * end to end; the g50 oracle unrolls colors × rounds in SQL.
    *
    * Scale shape: the symmetrized adjacency partitions ONCE and is
    * shared by every color's fixpoint (the residual graph is implicit
    * — inactive vertices simply never enter a priority frame, so no
    * edge rewrite ever happens); expected total rounds
    * O(colors · log n).
    *
    * Output: `id LONG, color LONG`.
    */
  def lubyColoring(
      edges: DataFrame,
      salt: String = "color-v1",
      maxColors: Int = 64,
      maxRounds: Int = 64): DataFrame = PlanScope.narrowFor(edges) {
    val und = symmetrize(edges)
    var (remaining, nRem) = rotateCounted(GraphBuilder.vertices(edges))
    var colored: DataFrame = null
    var k = 0
    while (nRem > 0) {
      require(k < maxColors,
        s"lubyColoring: $nRem vertices uncolored after $maxColors " +
          "colors — refusing to return a partial coloring")
      val misK = misOn(und, remaining, s"$salt:$k", maxRounds)
      val ck = misK.withColumn("color", lit(k.toLong))
      colored = if (colored == null) ck else colored.unionByName(ck)
      val (left, n) =
        rotateCounted(remaining.join(misK, Seq("id"), "left_anti"))
      remaining = left
      nRem = n
      k += 1
    }
    CacheScope.sealAfter(
      if (colored == null)
        remaining.limit(0).withColumn("color", lit(0L))
      else colored,
      und)
  }

  /** [[lubyColoring]]'s (colors, max inner fixpoint depth) — test-only,
    * for the oracle unroll-depth assertions.
    */
  private[graft] def coloringDepth(
      edges: DataFrame, salt: String = "color-v1"): (Int, Int) = {
    val und = symmetrize(edges)
    var remaining = GraphBuilder.vertices(edges)
      .transform(CacheScope.rotate)
    var k = 0
    var maxDepth = 0
    while (remaining.count() > 0 && k < 64) {
      val (misK, depth) = misOnCounted(und, remaining, s"$salt:$k", 64)
      maxDepth = math.max(maxDepth, depth)
      remaining = remaining.join(misK, Seq("id"), "left_anti")
        .transform(CacheScope.rotate)
      k += 1
    }
    und.unpersist(false)
    (k, maxDepth)
  }

  /** ONE round's min-neighbor fold, exposed for the PlanSpec exchange
    * audit: the src-partitioned cached adjacency never re-exchanges —
    * only the |active|-row priority frame ships to it (shuffle_hash:
    * the cached side streams, no per-round re-sort), and the
    * (priority, id) min folds map-side keyed by dst.
    */
  private[graft] def misNbrMin(und: DataFrame, ap: DataFrame): DataFrame =
    ap.join(und.hint("shuffle_hash"), col("id") === col("src"))
      .select(col("dst"), struct(col("p"), col("id")).as("ps"))
      .groupBy(col("dst"))
      .agg(min(col("ps")).as("min_nbr"))

  /** MAXIMAL MATCHING by the same symmetry-breaking recipe ([[lubyMis]]
    * on the line graph, computed directly): each round every ACTIVE
    * edge draws an md5 priority keyed by (u, v, round, salt); an edge
    * enters the matching iff it is the (priority, u, v)-minimum at
    * BOTH endpoints (strictly better than every active edge it shares
    * a vertex with — ties impossible under the total order), then
    * matched vertices retire all their edges. The global-minimum
    * active edge always wins its round, so the loop provably
    * terminates; expected O(log n) rounds. Deterministic end to end —
    * the g49 oracle unrolls the rounds in SQL.
    *
    * Scale shape per round: one 2·|active| endpoint explode into a
    * map-side-combined min aggregate keyed by vertex, then two
    * |active|-row joins back — everything is bounded by the shrinking
    * active set; state rotates via [[CacheScope.rotate]]. Fails loudly
    * at `maxRounds` rather than returning a non-maximal matching.
    *
    * Output: `u LONG, v LONG, in_matching BOOLEAN` over the canonical
    * (u < v, self-loops dropped) edge set.
    */
  def lubyMatching(
      edges: DataFrame,
      salt: String = "match-v1",
      maxRounds: Int = 64): DataFrame = PlanScope.narrowFor(edges) {
    val canon = canonEdges(edges)
    val mFlag = matchOnCounted(canon, salt, maxRounds)._1
      .withColumn("in_matching", lit(true))
    canon
      .join(mFlag, Seq("u", "v"), "left")
      .select(
        col("u"), col("v"),
        coalesce(col("in_matching"), lit(false)).as("in_matching"))
  }

  private def edgePrio(r: Int, salt: String): Column =
    conv(
      substring(
        md5(concat_ws(":",
          col("u").cast("string"), col("v").cast("string"),
          lit(r.toString), lit(salt))),
        1, 15),
      16, 10).cast("long")

  /** ONE matching round's per-vertex minimum, exposed for the PlanSpec
    * audit: the endpoint explode is a zero-join union projection and
    * the (p, u, v) min folds map-side keyed by vertex.
    */
  private[graft] def matchVertexMin(ap: DataFrame): DataFrame = {
    val ps = struct(col("p"), col("u"), col("v")).as("ps")
    ap.select(col("u").as("x"), ps)
      .unionByName(ap.select(col("v").as("x"), ps))
      .groupBy(col("x"))
      .agg(min(col("ps")).as("min_ps"))
  }

  /** [[lubyMatching]]'s fixpoint depth — test-only, same purpose as
    * [[roundsNeeded]].
    */
  /** The matching fixpoint over a canonical edge set, plus its depth —
    * THE production loop (lubyMatching and the depth assertion both
    * call it, so the oracle unroll bound is always measured against
    * the real logic).
    */
  private def matchOnCounted(
      canon: DataFrame,
      salt: String,
      maxRounds: Int): (DataFrame, Int) = {
    var active = canon
    var matched: DataFrame = null
    var r = 0
    var nActive = active.count()
    while (nActive > 0) {
      require(r < maxRounds,
        s"lubyMatching: $nActive edges still active after $maxRounds " +
          "rounds — refusing to return a non-maximal matching")
      val ap = active.withColumn("p", edgePrio(r, salt))
      val vmin = matchVertexMin(ap)
      val winners = ap
        .join(
          vmin.select(col("x").as("u"), col("min_ps").as("mu")),
          Seq("u"))
        .join(
          vmin.select(col("x").as("v"), col("min_ps").as("mv")),
          Seq("v"))
        .filter(
          struct(col("p"), col("u"), col("v")) === col("mu")
            && struct(col("p"), col("u"), col("v")) === col("mv"))
        .select(col("u"), col("v"))
        .transform(CacheScope.rotate)
      matched =
        if (matched == null) winners else matched.unionByName(winners)
      val mVtx = winners.select(col("u").as("x"))
        .union(winners.select(col("v").as("x"))).distinct()
      val (left, n) = rotateCounted(active
        .join(mVtx.withColumnRenamed("x", "u"), Seq("u"), "left_anti")
        .join(mVtx.withColumnRenamed("x", "v"), Seq("v"), "left_anti"))
      active = left
      nActive = n
      r += 1
    }
    (if (matched == null) canon.limit(0) else matched, r)
  }

  private[graft] def matchingRoundsNeeded(
      edges: DataFrame, salt: String = "match-v1"): Int =
    matchOnCounted(canonEdges(edges), salt, 64)._2

  /** Rounds the fixpoint needed on `edges` — exposed so the oracle's
    * unroll depth can be asserted ≥ the real depth (an unrolled round
    * past termination is a no-op, so oracle depth only needs to be an
    * upper bound).
    */
  private[graft] def roundsNeeded(
      edges: DataFrame, salt: String = "mis-v1"): Int = {
    val und = symmetrize(edges)
    try misOnCounted(und, GraphBuilder.vertices(edges), salt, 64)._2
    finally { und.unpersist(false); () }
  }
}
