package perfbench

/** Plain-Scala references that run on the driver over the generated
  * inputs. They share no code with graft, so a check that compares the
  * two is independent of the code under test.
  */
object Reference {

  final case class PageRankRef(
      ids: Array[Long], // ascending
      ranks: Array[Double], // ranks(i) belongs to ids(i)
      iterations: Int) {
    def rankOf(id: Long): Double = ranks(java.util.Arrays.binarySearch(ids, id))
  }

  /** PageRank with the reference driver's semantics: edges are a set,
    * the vertices are the edge endpoints, ranks start at 1/N, and
    *
    *   PR'(v) = (1−d)/N + d·dangling/N + d·Σ_{u→v} PR(u)/outdeg(u)
    *
    * where `dangling` is the rank mass on out-degree-0 vertices summed
    * over the previous iteration's ranks (the initial ranks before
    * iteration 1). The loop stops once Σ|ΔPR|/N ≤ tol and at least
    * `minIter` iterations ran, or after `maxIter`.
    */
  def pageRank(e: Edges, maxIter: Int = 10, tol: Double = 1e-6,
      minIter: Int = 5, d: Double = 0.85): PageRankRef = {
    // edge set: sort packed (src, dst) keys and drop repeats
    val keys = Array.tabulate(e.size) { i =>
      require(e.src(i) >= 0 && e.src(i) < (1L << 31) &&
        e.dst(i) >= 0 && e.dst(i) < (1L << 31), "ids must fit 31 bits")
      (e.src(i) << 32) | e.dst(i)
    }
    java.util.Arrays.sort(keys)
    val uniq = if (keys.isEmpty) keys else {
      val b = Array.newBuilder[Long]
      var i = 0
      while (i < keys.length) {
        if (i == 0 || keys(i) != keys(i - 1)) b += keys(i)
        i += 1
      }
      b.result()
    }
    val ids = (uniq.map(_ >>> 32) ++ uniq.map(_ & 0xffffffffL)).distinct.sorted
    val n = ids.length
    require(n > 0, "empty graph")
    def ix(id: Long) = java.util.Arrays.binarySearch(ids, id)
    val es = uniq.map(k => ix(k >>> 32))
    val ed = uniq.map(k => ix(k & 0xffffffffL))
    val outdeg = new Array[Long](n)
    es.foreach(s => outdeg(s) += 1)

    var rank = Array.fill(n)(1.0 / n)
    def danglingOf(r: Array[Double]) = {
      var s = 0.0; var i = 0
      while (i < n) { if (outdeg(i) == 0) s += r(i); i += 1 }
      s
    }
    var dangling = danglingOf(rank)
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val contrib = new Array[Double](n)
      var j = 0
      while (j < es.length) {
        contrib(ed(j)) += rank(es(j)) / outdeg(es(j))
        j += 1
      }
      val base = (1.0 - d) / n + d * dangling / n
      val next = Array.tabulate(n)(v => base + d * contrib(v))
      var l1 = 0.0; var v = 0
      while (v < n) { l1 += math.abs(next(v) - rank(v)); v += 1 }
      rank = next
      dangling = danglingOf(rank)
      iter += 1
      if (l1 / n <= tol && iter >= minIter) converged = true
    }
    PageRankRef(ids, rank, iter)
  }

  /** Top `k` (id, rank) by rank descending, ties by id ascending. */
  def topK(ref: PageRankRef, k: Int): Seq[(Long, Double)] =
    ref.ids.indices.sortBy(i => (-ref.ranks(i), ref.ids(i))).take(k)
      .map(i => (ref.ids(i), ref.ranks(i)))

  /** The undirected simple graph of `e` (orientation and duplicates
    * collapse, self-loops drop) as `(min, max)` pairs.
    */
  def undirected(e: Edges): Seq[(Long, Long)] =
    e.pairs.collect { case (a, b) if a != b => (math.min(a, b), math.max(a, b)) }
      .distinct

  /** One level of graft's synchronous Louvain move phase, from singleton
    * communities on the undirected simple graph of `e` (unit weights),
    * as the `Louvain` object documents it: round r (from 1) lets the
    * vertices with `id % 2 == r % 2` move; each moves to the neighbouring
    * community with the largest positive integer gain
    * `2m·(k_vb − k_va) − k_v·(D_b − D_a + k_v)`, ties to the smaller
    * label, where a singleton may join another singleton only if that
    * one has the smaller label. All moves of a round use the labels it
    * started with. It stops after `maxRounds` rounds, or once two
    * rounds in a row moved nothing. Returns the labels.
    */
  def louvainLevel(e: Edges, maxRounds: Int): Map[Long, Long] = {
    val und = undirected(e)
    val m = und.size.toLong
    val nbrs = (und ++ und.map(_.swap)).groupMap(_._1)(_._2)
    val k = nbrs.map { case (v, ns) => v -> ns.size.toLong }
    var lbl: Map[Long, Long] = k.keys.map(v => v -> v).toMap
    var round = 0
    var quiet = false
    var stable = false
    while (round < maxRounds && !stable) {
      round += 1
      val d = k.toSeq.groupMapReduce(vk => lbl(vk._1))(_._2)(_ + _)
      val size = lbl.values.groupMapReduce(identity)(_ => 1L)(_ + _)
      val moves = k.keys.filter(v => math.floorMod(v, 2L) == round % 2).flatMap { v =>
        val a = lbl(v)
        val kvc = nbrs(v).groupMapReduce(lbl)(_ => 1L)(_ + _)
        val kva = kvc.getOrElse(a, 0L)
        val best = kvc.toSeq.collect {
          case (b, kvb) if b != a && !(size(a) == 1 && size(b) == 1 && b > a) =>
            (2 * m * (kvb - kva) - k(v) * (d(b) - d(a) + k(v)), b)
        }.filter(_._1 > 0)
        if (best.isEmpty) None
        else Some(v -> best.maxBy { case (g, b) => (g, -b) }._2)
      }.toMap
      val changed = moves.count { case (v, b) => b != lbl(v) }
      lbl = lbl ++ moves
      stable = changed == 0 && quiet
      quiet = changed == 0
    }
    lbl
  }

  /** Newman modularity of `labels` on the undirected simple graph of `e`
    * (orientation and duplicates collapse, self-loops drop):
    * Q = Σ_c [ e_c/m − (D_c/2m)² ].
    */
  def modularity(e: Edges, labels: Map[Long, Long]): Double = {
    val und = undirected(e)
    val m = und.size.toDouble
    require(m > 0, "no edges")
    val intra = und.count { case (a, b) => labels(a) == labels(b) }
    val degSum = scala.collection.mutable.Map.empty[Long, Double]
      .withDefaultValue(0.0)
    und.foreach { case (a, b) =>
      degSum(labels(a)) += 1; degSum(labels(b)) += 1
    }
    intra / m - degSum.values.map(x => x * x).sum / (4 * m * m)
  }
}
