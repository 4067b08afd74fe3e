package perfbench

import java.io.{BufferedWriter, File, FileWriter}

/** SplitMix64 (Steele, Lea, Flood 2014): a fixed, JDK-independent
  * stream, so a seed names the same inputs on every host and JVM.
  */
final class SplitMix64(seed: Long) {
  private var s = seed
  def nextLong(): Long = {
    s += 0x9e3779b97f4a7c15L
    var z = s
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  /** Uniform in [0, 1). */
  def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
  /** Uniform in [0, n). */
  def nextBelow(n: Long): Long = java.lang.Long.remainderUnsigned(nextLong(), n)
}

/** A directed edge list held on the driver; duplicates and self-loops
  * are kept, as a raw SNAP file would hold them.
  */
final case class Edges(src: Array[Long], dst: Array[Long]) {
  require(src.length == dst.length)
  def size: Int = src.length
  def pairs: Seq[(Long, Long)] = src.indices.map(i => (src(i), dst(i)))
}

/** The benchmark's input generators. Every generator is a pure function
  * of its arguments, the seed included.
  */
object Gen {

  /** The exponent `k` that gives the top rank of `n` a share `share` of
    * the edges in [[powerLaw]]: `n^(-1/k) = share`.
    */
  def kForTopShare(n: Int, share: Double): Double =
    math.log(n.toDouble) / -math.log(share)

  /** web-Google's largest in-degree (6,326) and out-degree (456) as
    * shares of its 5,105,039 edges.
    */
  val WebGoogleTopIn: Double = 6326.0 / 5105039
  val WebGoogleTopOut: Double = 456.0 / 5105039

  /** A web-graph-shaped power-law edge list over ids `[0, n)`.
    *
    * Each endpoint is drawn by rank: `r = floor(n · u^k)` for uniform u,
    * so `P(rank ≤ x) = (x/n)^(1/k)`. The top rank receives a share
    * `n^(-1/k)` of the edges. By default `k` is fitted at this `n` so
    * that the largest in- and out-degree take the shares of the edges
    * they take in web-Google. Ranks are then scattered over the id space
    * by a seeded bijection, so hubs are not simply the smallest ids. Ids
    * that are drawn only as a destination are dangling vertices.
    */
  def powerLaw(seed: Long, n: Int, m: Int): Edges =
    powerLaw(seed, n, m, kForTopShare(n, WebGoogleTopOut),
      kForTopShare(n, WebGoogleTopIn))

  def powerLaw(seed: Long, n: Int, m: Int, srcK: Double,
      dstK: Double): Edges = {
    val rng = new SplitMix64(seed)
    // 2654435761 is prime and larger than n, so r -> r·P + off (mod n)
    // is a bijection on [0, n)
    val off = rng.nextBelow(n)
    def endpoint(k: Double): Long = {
      val r = math.min(n - 1L, (n * math.pow(rng.nextDouble(), k)).toLong)
      (r * 2654435761L + off) % n
    }
    val src = new Array[Long](m)
    val dst = new Array[Long](m)
    var i = 0
    while (i < m) {
      src(i) = endpoint(srcK)
      dst(i) = endpoint(dstK)
      i += 1
    }
    Edges(src, dst)
  }

  /** A uniform random digraph with `m` edges over ids `[base, base+n)`. */
  def uniform(seed: Long, n: Int, m: Int, base: Long = 0L): Edges = {
    val rng = new SplitMix64(seed)
    val src = new Array[Long](m)
    val dst = new Array[Long](m)
    var i = 0
    while (i < m) {
      src(i) = base + rng.nextBelow(n)
      dst(i) = base + rng.nextBelow(n)
      i += 1
    }
    Edges(src, dst)
  }

  /** Two disjoint uniform blocks (ids `[0, nB)` and `[nB, 2·nB)`, `mB`
    * edges each) with no edge between them: the ground truth a
    * community detector must not merge.
    */
  def plantedBlocks(seed: Long, nB: Int, mB: Int): Edges = {
    val a = uniform(seed ^ 0xa11ceL, nB, mB)
    val b = uniform(seed ^ 0xb0bL, nB, mB, base = nB.toLong)
    Edges(a.src ++ b.src, a.dst ++ b.dst)
  }

  /** Writes `e` as SNAP text: `#` header lines, then `src<TAB>dst`. */
  def writeSnap(e: Edges, f: File, title: String): Unit = {
    f.getParentFile.mkdirs()
    val w = new BufferedWriter(new FileWriter(f), 1 << 16)
    try {
      w.write(s"# Directed graph: $title\n")
      w.write(s"# Generated by perfbench; duplicate edges are kept\n")
      w.write(s"# Edges: ${e.size}\n")
      w.write("# FromNodeId\tToNodeId\n")
      var i = 0
      while (i < e.size) {
        w.write(java.lang.Long.toString(e.src(i)))
        w.write('\t')
        w.write(java.lang.Long.toString(e.dst(i)))
        w.write('\n')
        i += 1
      }
    } finally w.close()
  }
}
