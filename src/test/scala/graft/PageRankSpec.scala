package graft

import graft.core.GraftSession
import graft.operators._
import graft.sources.EdgeListReader
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session; suites run forked
  * in the same test JVM).
  */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local("graft-test", 4)
}

/** Golden fixtures from FIXTURES.md §3 — lock the NetworkX-aligned
  * semantics (dangling lag, 1/N init, minIter guard) analytically.
  */
class PageRankSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  def edges(pairs: (Long, Long)*): DataFrame = {
    val sp = spark
    import sp.implicits._
    pairs.toDF("src", "dst")
  }

  def ranksMap(r: PageRankResult): Map[Long, Double] =
    r.ranks.collect().map(row => row.getLong(0) -> row.getDouble(1)).toMap

  // F1 tiny3: 1→2, 2→1, 2→3; node 3 dangling. Exact iteration-1 values
  // (FIXTURES.md F1) — catches any dangling-lag off-by-one.
  test("F1 tiny3: exact iteration-1 ranks, dangling lag, trace") {
    val e = edges(1L -> 2L, 2L -> 1L, 2L -> 3L)
    val res = PageRank.runFixed(spark, e, k = 1)
    val m = ranksMap(res)
    assert(math.abs(m(1L) - 103.0 / 360.0) < 1e-12)
    assert(math.abs(m(2L) - 77.0 / 180.0) < 1e-12)
    assert(math.abs(m(3L) - 103.0 / 360.0) < 1e-12)
    assert(res.iterations == 1)
    val st = res.trace.head
    assert(math.abs(st.totalPR - 1.0) < 1e-12)
    assert(math.abs(st.avgDiff - 17.0 / 270.0) < 1e-12)
    // next danglingSum = new PR(3) = 103/360
    assert(math.abs(st.danglingSum - 103.0 / 360.0) < 1e-12)
  }

  test("F1 tiny3: mass conserved over 10 iterations") {
    val e = edges(1L -> 2L, 2L -> 1L, 2L -> 3L)
    val res = PageRank.runFixed(spark, e, k = 10)
    res.trace.foreach(st => assert(math.abs(st.totalPR - 1.0) < 1e-9))
  }

  test("weighted: uniform weights are bit-identical to unweighted") {
    val sp = spark
    import sp.implicits._
    val e = edges(1L -> 2L, 2L -> 1L, 2L -> 3L, 3L -> 1L, 1L -> 3L)
    val ew = e.withColumn("w", org.apache.spark.sql.functions.lit(1.0))
    val a = ranksMap(PageRank.runFixed(spark, e, k = 4))
    val b = ranksMap(PageRank.run(
      spark, ew, PageRankConfig(maxIter = 4, tol = -1.0, minIter = 4),
      weightCol = Some("w")))
    // sum(1.0) ≡ count(*) exactly and rank*1.0 ≡ rank, so the weighted
    // path at w=1 must reproduce the unweighted doubles bit for bit
    a.foreach { case (id, r) => assert(r == b(id), s"id=$id: $r != ${b(id)}") }
  }

  test("weighted: rank flows proportionally to edge weight") {
    val sp = spark
    import sp.implicits._
    // 1 splits 3:1 between 2 and 3; 2 and 3 both return to 1.
    // After ONE iteration from uniform 1/3 (no dangling):
    //   PR(2) = (1-d)/3 + d·(1/3)·(3/4); PR(3) = (1-d)/3 + d·(1/3)·(1/4)
    val ew = Seq(
      (1L, 2L, 3.0), (1L, 3L, 1.0), (2L, 1L, 1.0), (3L, 1L, 1.0))
      .toDF("src", "dst", "w")
    val m = ranksMap(PageRank.run(
      spark, ew, PageRankConfig(maxIter = 1, tol = -1.0, minIter = 1),
      weightCol = Some("w")))
    val d = 0.85
    assert(math.abs(m(2L) - ((1 - d) / 3 + d / 3 * 0.75)) < 1e-12)
    assert(math.abs(m(3L) - ((1 - d) / 3 + d / 3 * 0.25)) < 1e-12)
    assert(math.abs(m.values.sum - 1.0) < 1e-12)
  }

  test("weighted: duplicate (src,dst) edges aggregate weights by sum") {
    val sp = spark
    import sp.implicits._
    val dup = Seq(
      (1L, 2L, 1.5), (1L, 2L, 1.5), (1L, 3L, 1.0),
      (2L, 1L, 1.0), (3L, 1L, 1.0)).toDF("src", "dst", "w")
    val merged = Seq(
      (1L, 2L, 3.0), (1L, 3L, 1.0), (2L, 1L, 1.0), (3L, 1L, 1.0))
      .toDF("src", "dst", "w")
    val cfg = PageRankConfig(maxIter = 2, tol = -1.0, minIter = 2)
    val a = ranksMap(PageRank.run(spark, dup, cfg, weightCol = Some("w")))
    val b = ranksMap(PageRank.run(spark, merged, cfg, weightCol = Some("w")))
    a.foreach { case (id, r) => assert(math.abs(r - b(id)) < 1e-12) }
  }

  // F2 single vertex, no edges: PR stays exactly 1.0; converges at minIter.
  test("F2 single: PR stays 1.0, stops at minIter") {
    val sp = spark
    import sp.implicits._
    val verts = Seq(7L).toDF("id")
    val e = edges() // empty
    val res =
      PageRank.run(spark, e, PageRankConfig(), explicitVertices = Some(verts))
    val m = ranksMap(res)
    assert(math.abs(m(7L) - 1.0) < 1e-12)
    assert(res.iterations == 5) // minIter floor, not 1
  }

  // F3 two-cycle: fixed point from iteration 1 but early stop must wait
  // for minIter=5 (PageRankDriver.java:211).
  test("F3 two-cycle: symmetric fixed point, minIter guard") {
    val e = edges(1L -> 2L, 2L -> 1L)
    val res = PageRank.run(spark, e, PageRankConfig())
    val m = ranksMap(res)
    assert(math.abs(m(1L) - 0.5) < 1e-12)
    assert(math.abs(m(2L) - 0.5) < 1e-12)
    assert(res.iterations == 5)
  }

  // F4 star5: hub with in-only node 1 (dangling); sink materialization.
  test("F4 star5: sink materialized, hub aggregation") {
    val e = edges(2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L)
    val res = PageRank.runFixed(spark, e, k = 1)
    val m = ranksMap(res)
    assert(m.size == 5) // node 1 exists though only ever a dst
    // iteration 1: spokes get (1-d)/5 + d*(1/5)/5 = 0.03+0.034 = 0.064
    assert(math.abs(m(2L) - 0.064) < 1e-12)
    // hub gets 0.064 + d * 4*(1/5) = 0.064 + 0.68
    assert(math.abs(m(1L) - 0.744) < 1e-12)
    assert(math.abs(m.values.sum - 1.0) < 1e-12)
  }

  test("fixed-k never early-stops") {
    val e = edges(1L -> 2L, 2L -> 1L)
    val res = PageRank.runFixed(spark, e, k = 8)
    assert(res.iterations == 8)
  }

  test("topK deterministic ordering with ties") {
    val e = edges(1L -> 2L, 2L -> 1L)
    val res = PageRank.runFixed(spark, e, k = 3)
    val top = PageRank.topK(res.ranks, 2).collect()
    assert(top.map(_.getLong(0)).toSeq == Seq(1L, 2L)) // tie → id asc
  }

  test("checkpoint cadence survives 12 iterations") {
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 1L, 3L -> 2L)
    val res = PageRank.runFixed(spark, e, k = 12)
    assert(res.iterations == 12)
    assert(math.abs(ranksMap(res).values.sum - 1.0) < 1e-9)
  }

  test("shuffle-join fallback (broadcast cap forced to 0) matches broadcast path") {
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 1L, 3L -> 2L, 4L -> 1L)
    val cfgB = PageRankConfig(maxIter = 4, tol = -1, minIter = 4)
    val cfgS = cfgB.copy(broadcastStateMaxBytes = 0L) // large-N code path
    val a = ranksMap(PageRank.run(spark, e, cfgB))
    val b = ranksMap(PageRank.run(spark, e, cfgS))
    assert(a.keySet == b.keySet)
    a.foreach { case (k, v) => assert(math.abs(v - b(k)) < 1e-15) }
  }

  test("personalized PageRank: uniform teleport ≡ default; mass conserved; seeds favored") {
    val sp = spark
    import sp.implicits._
    val e = Seq(
      1L -> 2L, 2L -> 3L, 3L -> 1L, 3L -> 4L, 4L -> 5L, 5L -> 1L,
      6L -> 1L, 7L -> 3L).toDF("src", "dst")
    val cfg = PageRankConfig(maxIter = 6, tol = -1, minIter = 6)
    // uniform teleport weights must reproduce the default run (same
    // semantics, different expression tree → 1e-12, not bit-equal)
    val uni = (1L to 7L).map((_, 1.0)).toDF("id", "w")
    val a = ranksMap(PageRank.run(spark, e, cfg))
    val b = ranksMap(PageRank.run(spark, e, cfg, teleport = Some(uni)))
    assert(a.keySet == b.keySet)
    a.foreach { case (k, v) => assert(math.abs(v - b(k)) < 1e-12) }
    // seed-restricted teleport: mass conserved, seed outranks its uniform self
    val seeds = Seq((6L, 1.0)).toDF("id", "w")
    val p = ranksMap(PageRank.run(spark, e, cfg, teleport = Some(seeds)))
    assert(math.abs(p.values.sum - 1.0) < 1e-9, s"mass=${p.values.sum}")
    assert(p(6L) > a(6L) * 2, s"seed rank ${p(6L)} vs uniform ${a(6L)}")
  }

  test("personalized teleport ignores ids absent from the graph; mass stays 1") {
    val sp = spark
    import sp.implicits._
    val e = edges(1L -> 2L, 2L -> 1L, 2L -> 3L)
    val cfg = PageRankConfig(maxIter = 4, tol = -1, minIter = 4)
    // id 99 does not exist in the graph: its weight must not deflate the
    // teleport distribution (normalization happens over in-graph ids)
    val withGhost = Seq((1L, 1.0), (99L, 3.0)).toDF("id", "w")
    val p = ranksMap(PageRank.run(spark, e, cfg, teleport = Some(withGhost)))
    assert(math.abs(p.values.sum - 1.0) < 1e-9, s"mass=${p.values.sum}")
    // and equals the run seeded on id 1 alone (any positive weight)
    val clean = Seq((1L, 2.5)).toDF("id", "w")
    val q = ranksMap(PageRank.run(spark, e, cfg, teleport = Some(clean)))
    assert(p.keySet == q.keySet)
    p.foreach { case (k, v) => assert(math.abs(v - q(k)) < 1e-12) }
    // an all-ghost teleport is an error, not a silent zero-division;
    // like every setup guard it releases what it persisted before throwing
    sp.sharedState.cacheManager.clearCache()
    val ghostOnly = Seq((99L, 1.0)).toDF("id", "w")
    intercept[IllegalArgumentException] {
      PageRank.run(spark, e, cfg, teleport = Some(ghostOnly))
    }
    assert(sp.sharedState.cacheManager.isEmpty,
      "all-ghost teleport failure leaked cache entries")
    val ex = intercept[IllegalArgumentException] {
      PageRank.run(spark, edges(), cfg)
    }
    assert(ex.getMessage.contains("empty graph"), ex.getMessage)
    assert(sp.sharedState.cacheManager.isEmpty,
      "empty-graph failure leaked cache entries")
    val massless = Seq((1L, 0.0), (2L, 0.0), (3L, 0.0)).toDF("id", "rank")
    intercept[IllegalArgumentException] {
      PageRank.run(spark, e, cfg, initRanks = Some(massless))
    }
    assert(sp.sharedState.cacheManager.isEmpty,
      "zero-mass warm-start failure leaked cache entries")
  }

  test("estimateEdgeParts inspects stats without running a job") {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    sc.addSparkListener(l)
    try {
      val tiny = edges(1L -> 2L, 2L -> 3L)
      val s3 = graft.sources.SyntheticGraph.powerLaw(spark, 4850000L, 69000000L)
      val p1 = PageRank.estimateEdgeParts(tiny)
      val p2 = PageRank.estimateEdgeParts(s3)
      // listener events are async; give the bus a beat before asserting
      Thread.sleep(300)
      assert(jobs.get() == 0, s"stats estimation ran ${jobs.get()} job(s)")
      assert(p1 >= spark.sessionState.conf.numShufflePartitions)
      // ~69M synthetic edges → ~750k-row partitions (93): the measured
      // sweet spot from the README's edge-partition sweep
      assert(p2 >= 40 && p2 <= 200, s"p2=$p2")
    } finally sc.removeSparkListener(l)
  }

  test("estimateEdgeParts is leaf-bounded on join-derived edge sources") {
    // A join's size estimate is multiplicative (left × right bytes): two
    // 200k-row sides estimate as terabytes, which used to slam the cap
    // and size iterations at 2048 near-empty tasks (g21: 48s → 8.7s).
    // The leaf-sum bound must keep this at the parallelism floor.
    import org.apache.spark.sql.functions.col
    val a = spark.range(200000L).select(col("id").as("src"),
      (col("id") % 1000L).as("k"))
    val b = spark.range(200000L).select((col("id") % 1000L).as("k"),
      col("id").as("dst"))
    val joined = a.join(b, "k").select(col("src"), col("dst"))
    val top = joined.select(col("src"), col("dst"))
      .queryExecution.optimizedPlan.stats.sizeInBytes
    assert(top / 12 > 2048L * 750000L,
      s"fixture no longer triggers the multiplicative estimate: top=$top")
    val p = PageRank.estimateEdgeParts(joined)
    assert(p == spark.sessionState.conf.numShufflePartitions, s"p=$p")
  }

  test("hits: deferred-normalization scores match the hand-computed fixpoint") {
    // 1→10, 2→10, 2→11 with all-ones init, k=2:
    // a1 = {10:2, 11:1}; h1 = {1:2, 2:3}
    // a2 = {10:5, 11:3}; h2 = {1:5, 2:8}; sa=8, sh=13
    val e = edges(1L -> 10L, 2L -> 10L, 2L -> 11L)
    val got = Hits.run(e, k = 2)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2))))
      .toMap
    val want = Map(
      1L -> ((0.0, 5.0 / 13)), 2L -> ((0.0, 8.0 / 13)),
      10L -> ((5.0 / 8, 0.0)), 11L -> ((3.0 / 8, 0.0)))
    assert(got.keySet == want.keySet, s"$got")
    want.foreach { case (id, (a, h)) =>
      assert(math.abs(got(id)._1 - a) < 1e-12, s"auth($id): $got")
      assert(math.abs(got(id)._2 - h) < 1e-12, s"hub($id): $got")
    }
    // both score columns are L1-normalized
    assert(math.abs(got.values.map(_._1).sum - 1.0) < 1e-12)
    assert(math.abs(got.values.map(_._2).sum - 1.0) < 1e-12)
  }

  test("salted aggregation on a single-hub graph matches unsalted to 1e-12") {
    // the dedicated skew fixture: half of all edges into vertex 0
    val hub = graft.sources.SyntheticGraph.singleHub(spark, 500L, 3000L)
    val base = PageRankConfig(
      maxIter = 2, tol = -1, minIter = 2, broadcastStateMaxBytes = 0L)
    val a = ranksMap(PageRank.run(spark, hub, base))
    val b = ranksMap(PageRank.run(spark, hub, base.copy(saltBuckets = 32)))
    assert(a.keySet == b.keySet && a.nonEmpty)
    a.foreach { case (k, v) => assert(math.abs(v - b(k)) < 1e-12) }
  }

  test("salted two-phase aggregation matches unsalted to 1e-12") {
    // hub-heavy graph: vertex 1 receives from everyone (the skew shape
    // salting exists for); salted runs in fallback mode so the salt path
    // is actually exercised
    val sp = spark
    import sp.implicits._
    val e = ((2L to 40L).map(i => i -> 1L) ++
      (2L to 40L).map(i => 1L -> (i % 7 + 2)) ++
      Seq(1L -> 2L, 5L -> 6L, 6L -> 5L)).toDF("src", "dst")
    val base = PageRankConfig(maxIter = 5, tol = -1, minIter = 5)
    val a = ranksMap(PageRank.run(spark, e, base))
    val b = ranksMap(PageRank.run(spark, e,
      base.copy(broadcastStateMaxBytes = 0L, saltBuckets = 8)))
    assert(a.keySet == b.keySet)
    a.foreach { case (k, v) => assert(math.abs(v - b(k)) < 1e-12) }
  }

  test("broadcast-mode iterations run without AQE; the shuffle fallback keeps it") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.util.QueryExecutionListener
    val e = edges(1L -> 2L, 2L -> 1L, 2L -> 3L, 3L -> 1L)
    val before = spark.conf.getAll
    // each iteration runs two queries, the only ones that touch
    // prev_rank: the state checkpoint and the metrics pass
    def iterationPlansAdaptive(cfg: PageRankConfig): Seq[Boolean] = {
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
      val listener = new QueryExecutionListener {
        def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
        def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try {
        PageRank.run(spark, e, cfg)
        def iters = seen.toArray(Array.empty[QueryExecution]).toSeq
          .filter(_.analyzed.toString.contains("prev_rank"))
        // the listener bus is asynchronous
        val deadline = System.nanoTime() + 10000000000L
        while (iters.size < 2 * cfg.maxIter && System.nanoTime() < deadline)
          Thread.sleep(20)
        iters.map(_.executedPlan.isInstanceOf[AdaptiveSparkPlanExec])
      } finally spark.listenerManager.unregister(listener)
    }
    val base = PageRankConfig(maxIter = 2, tol = -1, minIter = 2)
    val bcast = iterationPlansAdaptive(base)
    assert(bcast.size == 4 && bcast.forall(!_), bcast)
    val fallback =
      iterationPlansAdaptive(base.copy(broadcastStateMaxBytes = 0L))
    assert(fallback.size == 4 && fallback.forall(identity), fallback)
    assert(spark.conf.getAll == before)
  }
}

/** Differential: DataFrame impl vs GraphX BSP twin must agree to 1e-12
  * (mirrors the reference's MR-vs-Giraph duality).
  */
class DifferentialSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  test("DataFrame and GraphX agree on a messy graph") {
    val sp = spark
    import sp.implicits._
    val e = Seq(
      1L -> 2L, 2L -> 1L, 2L -> 3L, 3L -> 3L, 4L -> 1L, 5L -> 2L,
      5L -> 6L, 6L -> 7L, 8L -> 1L)
      .toDF("src", "dst")
    val a = PageRank.run(spark, e, PageRankConfig(maxIter = 7, tol = -1, minIter = 7))
    val b = GraphXPageRank.run(spark, e, PageRankConfig(maxIter = 7, tol = -1, minIter = 7))
    assert(a.iterations == b.iterations)
    val ma = a.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val mb = b.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ma.keySet == mb.keySet)
    ma.foreach { case (k, v) => assert(math.abs(v - mb(k)) < 1e-12) }
    // traces agree too
    a.trace.zip(b.trace).foreach { case (x, y) =>
      assert(math.abs(x.danglingSum - y.danglingSum) < 1e-12)
      assert(math.abs(x.avgDiff - y.avgDiff) < 1e-12)
    }
  }

  test("convergence mode: both engines stop at the same iteration") {
    val sp = spark
    import sp.implicits._
    val e = Seq(
      1L -> 2L, 2L -> 1L, 2L -> 3L, 3L -> 3L, 4L -> 1L, 5L -> 2L,
      5L -> 6L, 6L -> 7L, 8L -> 1L)
      .toDF("src", "dst")
    // tol in the avgDiff decay range so the early stop fires mid-run
    val cfg = PageRankConfig(maxIter = 20, tol = 1e-3, minIter = 5)
    val a = PageRank.run(spark, e, cfg)
    val b = GraphXPageRank.run(spark, e, cfg)
    assert(a.iterations == b.iterations)
    assert(a.iterations > 5 && a.iterations < 20,
      s"early stop must fire mid-run, got ${a.iterations}")
    val ma = a.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val mb = b.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    ma.foreach { case (k, v) => assert(math.abs(v - mb(k)) < 1e-12) }
  }
}

/** F5 messy-input parsing (FIXTURES.md §1.1/§3 F5). */
class EdgeListReaderSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  test("F5 messy input: comments, blanks, dups, self-loop, extra tokens") {
    val sp = spark
    import sp.implicits._
    val lines = Seq(
      "# Directed graph: example",
      "# FromNodeId\tToNodeId",
      "",
      "1\t2",
      "2 1",
      "  2\t 3",
      "1\t2", // duplicate
      "3 3 99", // self-loop + trailing token
      "   ",
      "justonetoken").toDF("value")
    val e = EdgeListReader.fromLines(lines)
    val got = e.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L), (2L, 1L), (2L, 3L), (3L, 3L)))
    // self-loop makes node 3 non-dangling
    assert(GraphBuilder.danglingVertices(e).count() == 0)
    assert(GraphBuilder.vertices(e).count() == 3)
  }

  test("degrees: in/out with dangling zero-fill") {
    val sp = spark
    import sp.implicits._
    val e = Seq(1L -> 2L, 2L -> 1L, 2L -> 3L).toDF("src", "dst")
    val d = GraphBuilder
      .degrees(e)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(d(1L) == ((1L, 1L)))
    assert(d(2L) == ((2L, 1L)))
    assert(d(3L) == ((0L, 1L)))
  }

  test("giraph adjacency format flattens to edges") {
    val sp = spark
    val tmp = java.nio.file.Files.createTempFile("adj", ".txt")
    java.nio.file.Files.writeString(tmp, "1 2 3\n2 1\n3\n")
    val e = EdgeListReader.giraphAdjacency(sp, tmp.toString)
    val got = e.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L), (1L, 3L), (2L, 1L)))
  }

  test("fromOrdersCached: per-session reuse; release unpersists and rebuilds") {
    val dir = "/root/testdata/sf0.001"
    val s2 = spark.newSession()
    val df1 = EdgeListReader.fromOrdersCached(s2, dir)
    // same session + dir reuses the same frame instance
    assert(EdgeListReader.fromOrdersCached(s2, dir) eq df1)
    assert(df1.storageLevel.useMemory, "derived frame must be cached")
    EdgeListReader.release(s2)
    assert(!df1.storageLevel.useMemory, "release must unpersist")
    // next call rebuilds (fresh instance, cached again)
    val df2 = EdgeListReader.fromOrdersCached(s2, dir)
    assert(!(df2 eq df1) && df2.storageLevel.useMemory)
    EdgeListReader.release(s2)
  }

  test("fromOrdersCached: the map never pins a dropped DataFrame") {
    // The weak-KEY side (a dead session's entry expunging) can't be
    // black-box tested on a shared SparkContext: Spark's own scheduler
    // state (shuffle-stage reuse, RDD lineage → FileScanRDD.sparkSession)
    // legitimately pins a session that has executed jobs until the
    // context cleaner runs. What the cache must guarantee — and what the
    // old applicationId-keyed map violated — is that IT holds the heavy
    // object (the cached DataFrame) weakly, so dropping the last caller
    // reference makes the frame collectable instead of JVM-immortal.
    val dir = "/root/testdata/sf0.001"
    val s2 = spark.newSession()
    var df: org.apache.spark.sql.DataFrame =
      EdgeListReader.fromOrdersCached(s2, dir)
    df.unpersist(true) // release the CacheManager's (plan-keyed) pin too
    assert(EdgeListReader.liveValueCount(s2) == 1)
    df = null
    var ok = false
    var i = 0
    while (!ok && i < 50) {
      System.gc()
      Thread.sleep(50)
      ok = EdgeListReader.liveValueCount(s2) == 0
      i += 1
    }
    assert(ok, "weak value was never collected — the cache pins DataFrames")
    // a later call must rebuild rather than hand out a dead reference
    val df2 = EdgeListReader.fromOrdersCached(s2, dir)
    assert(df2.storageLevel.useMemory)
    EdgeListReader.release(s2)
  }
}
