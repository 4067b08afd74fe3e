package graft

import graft.operators.{Profiler, TemporalJoins}
import graft.operators.Profiler.RowCheck
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-14 advice hardening: the fold-compact completed-retry guard,
  * the empty-interval contract, the uniqueness null-key semantics pin,
  * the approx-uniqueness expectation (q51c), and the converged-loop
  * empty-input guards.
  */
class DvFoldRetryGuardSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  private def withDirs(f: (String, String, String) => Unit): Unit = {
    val dirs = Seq("dvg_base", "dvg_dv", "dvg_comp")
      .map(p => java.nio.file.Files.createTempDirectory(p).toString)
    try f(dirs(0), dirs(1), dirs(2))
    finally {
      import scala.jdk.CollectionConverters._
      dirs.foreach { d =>
        java.nio.file.Files.walk(java.nio.file.Paths.get(d))
          .iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      }
    }
  }

  test("retry after a COMPLETED fold no-ops — no resurrection") {
    val sp = spark
    import sp.implicits._
    withDirs { (base, dv, comp) =>
      (1L to 10L).map(k => (k, s"v$k")).toDF("k", "v")
        .write.mode("overwrite").parquet(base)
      graft.sources.DeletionVectors.appendDeletes(Seq(3L, 7L).toDF("k"), dv)
      graft.sources.DeletionVectors.foldCompact(spark, base, dv, "k", comp)
      val once = spark.read.parquet(comp)
        .collect().map(_.getLong(0)).toSet
      assert(once == (1L to 10L).toSet -- Set(3L, 7L))
      // the ADVICE r13 window: the caller (or an orchestrator) retries
      // the SAME foldCompact call after the truncation completed — the
      // sidecar is empty and re-folding the ORIGINAL base would
      // overwrite comp with rows 3 and 7 resurrected. Must no-op.
      graft.sources.DeletionVectors.foldCompact(spark, base, dv, "k", comp)
      val again = spark.read.parquet(comp)
        .collect().map(_.getLong(0)).toSet
      assert(again == once, "completed-fold retry must not resurrect rows")
    }
  }

  test("empty sidecar onto a FRESH dir still folds (plain copy)") {
    val sp = spark
    import sp.implicits._
    withDirs { (base, dv, comp) =>
      (1L to 5L).map(k => (k, s"v$k")).toDF("k", "v")
        .write.mode("overwrite").parquet(base)
      // an appended-then-folded-elsewhere lifecycle can leave a
      // zero-row sidecar; folding into a NEW dir is a copy, not a no-op
      graft.sources.DeletionVectors.appendDeletes(
        Seq.empty[Long].toDF("k"), dv)
      graft.sources.DeletionVectors.foldCompact(spark, base, dv, "k", comp)
      assert(spark.read.parquet(comp).count() == 5L)
    }
  }
}

class IntervalContractSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  test("an EMPTY interval fails fast and names the side") {
    val sp = spark
    import sp.implicits._
    val l = Seq((1L, 10L, 10L)).toDF("k", "llo", "lhi") // [10, 10) = ∅
    val r = Seq((1L, 0L, 100L)).toDF("k", "rlo", "rhi")
    val ex = intercept[Exception] {
      TemporalJoins.bucketedIntervalJoin(
        l, r, "k", "llo", "lhi", "rlo", "rhi", bucketWidth = 1000L)
        .collect()
    }
    val msg = Option(ex.getMessage).getOrElse("") +
      Option(ex.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("left interval empty"),
      s"expected the left empty-interval error, got: $msg")
  }

  test("empty interval on the RIGHT side also fails, names right") {
    val sp = spark
    import sp.implicits._
    val l = Seq((1L, 0L, 100L)).toDF("k", "llo", "lhi")
    val r = Seq((1L, 50L, 50L)).toDF("k", "rlo", "rhi")
    val ex = intercept[Exception] {
      TemporalJoins.bucketedIntervalJoin(
        l, r, "k", "llo", "lhi", "rlo", "rhi", bucketWidth = 1000L)
        .collect()
    }
    val msg = Option(ex.getMessage).getOrElse("") +
      Option(ex.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("right interval empty"),
      s"expected the right empty-interval error, got: $msg")
  }
}

/** Uniqueness null-key semantics (exact) and the q51c approximate twin. */
class ApproxUniqueSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  test("exact uniqueness: every null-key-component row is a violation") {
    val sp = spark
    import sp.implicits._
    // 5 rows; (a, b) tuples: (1,x), (1,x) dup, (2,y), (null,z), (3,null)
    // → non-null-distinct 2, so violations = 5 − 2 = 3: the dup surplus
    // (1) + BOTH null-component rows — the PK reading the Scaladoc pins
    val df = Seq(
      (Option(1L), Option("x")), (Option(1L), Option("x")),
      (Option(2L), Option("y")), (Option.empty[Long], Option("z")),
      (Option(3L), Option.empty[String])).toDF("a", "b")
    val got = Profiler.expectations(
      df, rowChecks = Nil, uniqueKeys = Seq(("pk_ab", Seq("a", "b"))))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
    assert(got.toSeq == Seq(("pk_ab", 3L, false)))
  }

  test("approx twin agrees with exact within rsd; both verdicts match") {
    val sp = spark
    import sp.implicits._
    val rsd = 0.02
    // clean key: 2000 distinct longs — must pass even when the sketch
    // undershoots (the noise-floor threshold, never == 0)
    val clean = (1L to 2000L).toDF("k")
    val cRow = Profiler.expectationsApproxUnique(
      clean, Seq(("uk", Seq("k"))), rsd).collect().head
    assert(cRow.getBoolean(2), s"clean key must pass, est=${cRow.getLong(1)}")
    // the estimate is rsd-bounded: |est_violations| = |n − approx_nd|
    // ≤ 5·rsd·n with wide margin (HLL++ rsd is a standard error)
    assert(math.abs(cRow.getLong(1)) <= (5 * rsd * 2000).toLong,
      s"estimate drift ${cRow.getLong(1)} beyond 5·rsd·n")
    // dirty key: 2000 rows over 1000 distinct — a 100% surplus is far
    // beyond any sketch noise; must FAIL
    val dirty = (1L to 2000L).map(i => i % 1000L).toDF("k")
    val dRow = Profiler.expectationsApproxUnique(
      dirty, Seq(("uk", Seq("k"))), rsd).collect().head
    assert(!dRow.getBoolean(2), "a 2× duplicated key must fail the sketch")
    assert(math.abs(dRow.getLong(1) - 1000L) <= (5 * rsd * 1000).toLong,
      s"surplus estimate ${dRow.getLong(1)} should be ~1000 within rsd")
  }

  test("false-pass price is rsd-bounded: sub-noise surplus reads clean") {
    val sp = spark
    import sp.implicits._
    val rsd = 0.02
    // 2000 rows with a surplus of 10 — well UNDER the noise floor
    // ceil(3·0.02·~1990) ≈ 120, so the drift signal stays quiet: the
    // documented false pass, bounded by noiseFactor·rsd·nd. The exact
    // gate (q51) is the correctness instrument for surpluses this size.
    val tiny = ((1L to 1990L) ++ (1L to 10L)).toDF("k")
    val row = Profiler.expectationsApproxUnique(
      tiny, Seq(("uk", Seq("k"))), rsd).collect().head
    assert(row.getBoolean(2),
      s"sub-noise surplus must read clean (est=${row.getLong(1)})")
    // and the exact form catches it — the differential that prices the
    // trade: sketch for drift, exact for gating
    val exact = Profiler.expectations(
      tiny, rowChecks = Nil, uniqueKeys = Seq(("uk", Seq("k"))))
      .collect().head
    assert(exact.getLong(1) == 10L && !exact.getBoolean(2))
  }

  test("approx twin mirrors the exact null semantics; one scan for all keys") {
    val sp = spark
    import sp.implicits._
    val df = Seq(
      (Option(1L), Option(10L)), (Option(1L), Option(10L)),
      (Option.empty[Long], Option(20L))).toDF("a", "b")
    val got = Profiler.expectationsApproxUnique(
      df, Seq(("pk_ab", Seq("a", "b")), ("uk_b", Seq("b"))), rsd = 0.01)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // pk_ab: 3 rows, 1 distinct non-null tuple → 2 (dup + null row);
    // tiny cardinalities are exact in HLL++ (dense below threshold)
    assert(got("pk_ab") == 2L)
    assert(got("uk_b") == 1L) // the duplicated 10
    // all sketches ride ONE aggregate over ONE scan: no Expand (the
    // exact multi-distinct would add one), exactly one scan node
    val wide = df.agg(
      (count(lit(1)) - approx_count_distinct(struct(col("a"), col("b"))))
        .as("v0"),
      (count(lit(1)) - approx_count_distinct(col("b"))).as("v1"))
    val plan = wide.queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), "HLL sketches must not force Expand")
  }
}

/** g56 incremental warm-start PageRank: continuation exactness, the
  * fewer-iterations payoff, mass renormalization with a vertex delta.
  */
class WarmStartSpec extends AnyFunSuite {
  import graft.operators.{PageRank, PageRankConfig}
  lazy val spark: SparkSession = TestSpark.spark

  /** Deterministic pseudo-random digraph: 300 vertices, 900 edges from
    * an LCG (self-loops skipped by construction offset).
    */
  private def edges(n: Int, m: Int, seed: Long) = {
    val sp = spark
    import sp.implicits._
    var x = seed
    def nxt(): Long = { x = x * 6364136223846793005L + 1442695040888963407L; x }
    (1 to m).map { _ =>
      val s = math.floorMod(nxt(), n.toLong)
      val d = (s + 1 + math.floorMod(nxt(), (n - 1).toLong)) % n
      (s, d)
    }.toDF("src", "dst")
  }

  test("warm continuation from iteration-3 state reproduces cold k=5") {
    val g = edges(300, 900, seed = 42L)
    val r3 = PageRank.runFixed(spark, g, k = 3).ranks
    val warm = PageRank.runFixed(spark, g, k = 2, initRanks = Some(r3))
      .ranks.withColumnRenamed("rank", "rw")
    val cold = PageRank.runFixed(spark, g, k = 5)
      .ranks.withColumnRenamed("rank", "rc")
    val maxDiff = warm.join(cold, Seq("id"))
      .agg(max(abs(col("rw") - col("rc")))).first().getDouble(0)
    // the only divergence is the warm path's renormalization by the
    // saved state's total mass (≈ 1 up to float accumulation)
    assert(maxDiff <= 1e-12, s"continuation diverged by $maxDiff")
  }

  test("warm start from converged ranks beats cold on a perturbed graph") {
    val sp = spark
    import sp.implicits._
    val gNew = edges(300, 930, seed = 42L)
    // yesterday's graph: ~3% of today's edges missing (every 30th),
    // which also drops a few vertices entirely — exercising the
    // new-vertex 1/N seed and the renormalization
    val gOld = gNew.withColumn(
      "rn", monotonically_increasing_id())
      .filter(pmod(col("rn"), lit(30)) =!= 0).drop("rn")
    val cfg = PageRankConfig(tol = 1e-9, minIter = 1, maxIter = 60)
    val prior = PageRank.run(spark, gOld, cfg)
    val cold = PageRank.run(spark, gNew, cfg)
    val warm = PageRank.run(
      spark, gNew, cfg, initRanks = Some(prior.ranks))
    assert(warm.iterations < cold.iterations,
      s"warm ${warm.iterations} must beat cold ${cold.iterations}")
    // both stopped on the same rule — the fixpoints agree within the
    // tolerance scale (L1/N ≤ tol each, so pointwise gap is tiny)
    val gap = warm.ranks.withColumnRenamed("rank", "rw")
      .join(cold.ranks.withColumnRenamed("rank", "rc"), Seq("id"))
      .agg(max(abs(col("rw") - col("rc")))).first().getDouble(0)
    assert(gap <= 1e-6, s"warm and cold fixpoints diverged by $gap")
    // the mass invariant holds from the first warm iteration: the seed
    // was renormalized to 1 even though the vertex sets differ
    warm.trace.foreach(t =>
      assert(math.abs(t.totalPR - 1.0) <= 1e-9,
        s"iter ${t.iteration} mass ${t.totalPR}"))
  }

  test("warm-start mass renormalizes even from unnormalized ranks") {
    val sp = spark
    import sp.implicits._
    val g = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    // a user feeds raw scores (sum = 60) — the seed must renormalize
    val prior = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "rank")
    val res = PageRank.runFixed(spark, g, k = 1, initRanks = Some(prior))
    val tot = res.trace.head.totalPR
    assert(math.abs(tot - 1.0) <= 1e-12, s"mass $tot after seeding")
  }
}

/** st24 stream-stream as-of join: out-of-order replay equals the batch
  * ASOF contract, and flushed quotes compact to one survivor that still
  * serves purchases hours later (the bounded-state eviction path).
  */
class StreamAsofSpec extends AnyFunSuite {
  import graft.streaming.EventStreams
  import graft.streaming.EventStreams.Event
  lazy val spark: SparkSession = TestSpark.spark

  private def ev(id: Long, sec: Long, uid: Long, typ: String) =
    Event(id, new java.sql.Timestamp(sec * 1000L), uid, typ, 0.0)

  test("out-of-order replay resolves to the batch as-of; state compacts") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val ms = MemoryStream[Event]
    val q = EventStreams.asofEnrichStream(ms.toDS(), "1 second")
      .writeStream.format("memory").queryName("asof_t")
      .outputMode("append").start()
    try {
      // batch 1 deliberately SCRAMBLED: the purchase at 150 arrives
      // before the click at 100 that must win it; u2's purchase has no
      // click at all; the click at 250 ties another click at 250 —
      // min id (5) must win for the purchase at 260
      ms.addData(Seq(
        ev(10, 150, 1, "purchase"),
        ev(2, 200, 1, "click"),
        ev(1, 100, 1, "click"),
        ev(12, 100, 2, "purchase"),
        ev(6, 250, 1, "click"),
        ev(5, 250, 1, "click"),
        ev(11, 260, 1, "purchase")))
      q.processAllAvailable()
      // sentinel flushes everything ≤ 300 (two batches: the watermark
      // advances in one, timeouts fire in the next)
      ms.addData(ev(-1, 400, -1, "sentinel")); q.processAllAvailable()
      ms.addData(ev(-1, 500, -1, "sentinel")); q.processAllAvailable()
      // hours later: a purchase must still find the COMPACTED click
      // (250/id-5 — every older quote was evicted at the flush, and
      // the kept survivor must be the right one)
      ms.addData(ev(13, 10000, 1, "purchase")); q.processAllAvailable()
      ms.addData(ev(-1, 20000, -1, "sentinel")); q.processAllAvailable()
      ms.addData(ev(-1, 30000, -1, "sentinel")); q.processAllAvailable()
      val got = spark.table("asof_t")
        .filter(col("user_id") >= 0)
        .collect()
        .map(r => r.getAs[Long]("p_id") ->
          ((r.getAs[Long]("c_id"), r.getAs[Long]("c_us"))))
        .toMap
      assert(got(10L) == ((1L, 100000000L)),
        s"purchase 150 must match the out-of-order click 100: ${got(10L)}")
      assert(got(11L) == ((5L, 250000000L)),
        s"tie at 250 must resolve to min id 5: ${got(11L)}")
      assert(got(12L) == ((-1L, -1L)), s"no click for u2: ${got(12L)}")
      assert(got(13L) == ((5L, 250000000L)),
        s"late purchase must hit the compacted quote: ${got(13L)}")
      assert(got.size == 4)
    } finally {
      q.stop()
      spark.catalog.dropTempView("asof_t")
    }
  }

  test("streaming replay of the full events table equals the batch asofJoin") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val events = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
    val all = events
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect()
    val scrambled = all.sortBy(e =>
      java.lang.Long.rotateLeft(e.event_id * 0x9E3779B97F4A7C15L, 11))
    val maxMs = all.iterator.map(_.ts.getTime).max
    val ms = MemoryStream[Event]
    val q = EventStreams.asofEnrichStream(ms.toDS())
      .writeStream.format("memory").queryName("asof_full")
      .outputMode("append").start()
    try {
      // one batch: the watermark advances between batches, so a split
      // replay would drop the older half as late data
      ms.addData(scrambled.toIndexedSeq); q.processAllAvailable()
      ms.addData(Event(-1, new java.sql.Timestamp(maxMs + 4L * 3600 * 1000),
        -1, "sentinel", 0.0)); q.processAllAvailable()
      ms.addData(Event(-1, new java.sql.Timestamp(maxMs + 8L * 3600 * 1000),
        -1, "sentinel", 0.0)); q.processAllAvailable()
      val stream = spark.table("asof_full")
        .filter(col("user_id") >= 0)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      // batch twin: the q15 composition over TemporalJoins.asofJoin
      val probes = events.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("p_us"),
          col("event_id").as("p_id"))
      val quotes = events.filter(col("event_type") === "click")
        .select(col("user_id"), unix_micros(col("ts")).as("c_us"),
          col("event_id"))
        .groupBy(col("user_id"), col("c_us"))
        .agg(min(col("event_id")).as("c_id"))
      val batch = graft.operators.TemporalJoins
        .asofJoin(probes, quotes, "user_id", "p_us", "c_us",
          payload = Seq("c_id", "c_us"))
        .select(col("user_id"), col("p_us"), col("p_id"),
          coalesce(col("c_id"), lit(-1L)).as("c_id"),
          coalesce(col("c_us"), lit(-1L)).as("c_us"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      assert(stream == batch,
        s"stream−batch=${(stream -- batch).take(3)} " +
          s"batch−stream=${(batch -- stream).take(3)}")
    } finally {
      q.stop()
      spark.catalog.dropTempView("asof_full")
    }
  }
}

/** Louvain fixed-point weight rescale: similarity-weighted near-dup
  * graphs cluster; the overflow bound is re-checked on the rescaled
  * graph; sub-half-ulp weights drop.
  */
class LouvainRescaleSpec extends AnyFunSuite {
  import graft.operators.Louvain
  lazy val spark: SparkSession = TestSpark.spark

  test("similarity-weighted two-cluster graph recovers both communities") {
    val sp = spark
    import sp.implicits._
    // two 4-cliques with cosine-like weights 0.82..0.95, one weak
    // 0.08 bridge — the d5/e3 near-dup graph shape
    def clique(ids: Seq[Long], base: Double) =
      for {
        i <- ids.indices; j <- (i + 1) until ids.size
      } yield (ids(i), ids(j), base + 0.01 * (i + j))
    val a = clique(Seq(0L, 1L, 2L, 3L), 0.82)
    val b = clique(Seq(10L, 11L, 12L, 13L), 0.85)
    val wedges = (a ++ b :+ ((3L, 10L, 0.08)))
      .map { case (u, v, w) => (math.min(u, v), math.max(u, v), w) }
      .toDF("u", "v", "w")
    // fractional weights fail loudly without the rescale...
    val ex = intercept[Exception] {
      Louvain.moveRoundsWeighted(wedges, 2).collect()
    }
    assert(ex.getMessage.contains("integral edge weights"))
    // ...and cluster perfectly with it: one move level + one
    // contraction level (the multilevel ladder's first rung — a single
    // synchronous move phase legitimately stops at two sub-communities
    // per clique)
    val rescaled = Louvain.rescaleWeights(wedges, 3)
    val l1 = Louvain.moveRoundsWeighted(rescaled, 6)
    val l2 = Louvain.moveRoundsWeighted(
      Louvain.contractWeighted(rescaled, l1), 6)
    val labels = l1.select(col("id"), col("lbl").as("l1"))
      .join(l2.select(col("id").as("l1"), col("lbl")), Seq("l1"))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("lbl")).toMap
    val ca = Seq(0L, 1L, 2L, 3L).map(labels).distinct
    val cb = Seq(10L, 11L, 12L, 13L).map(labels).distinct
    assert(ca.size == 1 && cb.size == 1 && ca != cb,
      s"expected the two planted similarity clusters, got $labels")
  }

  test("overflow bound re-checked on the rescaled graph, fails loudly") {
    val sp = spark
    import sp.implicits._
    // one edge of astronomic weight: at decimals=6 the rescaled
    // m·k_max breaks 4·m·k ≤ 2^63−1 — must be caught at SETUP
    // (1e9 chosen so decimals=0 sits just INSIDE the bound: 4e18 < 2^63)
    val heavy = Seq((1L, 2L, 1.0e9)).toDF("u", "v", "w")
    val ex = intercept[IllegalArgumentException] {
      Louvain.rescaleWeights(heavy, decimals = 6)
    }
    assert(ex.getMessage.contains("overflows the exact gain algebra"))
    // the same graph at coarser quantization passes the bound
    assert(Louvain.rescaleWeights(heavy, decimals = 0).count() == 1L)
  }

  test("sub-half-ulp weights drop; all-zero rescale fails loudly") {
    val sp = spark
    import sp.implicits._
    val mixed = Seq((1L, 2L, 0.9), (2L, 3L, 0.0001)).toDF("u", "v", "w")
    val kept = Louvain.rescaleWeights(mixed, decimals = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(kept.toSeq == Seq((1L, 2L, 900L)),
      "the 0.0001 edge rounds to zero mass and must drop")
    val tiny = Seq((1L, 2L, 1.0e-9)).toDF("u", "v", "w")
    val ex = intercept[IllegalArgumentException] {
      Louvain.rescaleWeights(tiny, decimals = 3)
    }
    assert(ex.getMessage.contains("all weights rounded to zero"))
  }
}

/** g57 warm-start connected components + io14 incremental consumption. */
class WarmCcSpec extends AnyFunSuite {
  import graft.operators.GraphBuilder
  lazy val spark: SparkSession = TestSpark.spark

  test("grow-only warm start: same labels, strictly fewer rounds") {
    val sp = spark
    import sp.implicits._
    // a 60-vertex path: worst-case diameter for HashMin — the shape
    // where warm start pays off most
    val full = (0L until 59L).map(i => (i, i + 1)).toDF("src", "dst")
    // yesterday: the path minus one bridge edge (29–30) = two halves
    val old = full.filter(!(col("src") === 29L))
    val (prior, _) = GraphBuilder.connectedComponentsDF(old)
    val (coldL, coldR) = GraphBuilder.connectedComponentsDF(full)
    val (warmL, warmR) = GraphBuilder.connectedComponentsDF(
      full, initLabels = Some(prior))
    assert(warmR < coldR, s"warm $warmR rounds vs cold $coldR")
    val cold = coldL.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val warm = warmL.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(warm == cold, "warm labels must equal the cold fixpoint")
    assert(warm.values.toSet == Set(0L), "one merged component labeled 0")
  }

  test("new vertices in the delta seed as themselves and join correctly") {
    val sp = spark
    import sp.implicits._
    val old = Seq((1L, 2L), (3L, 4L)).toDF("src", "dst")
    val (prior, _) = GraphBuilder.connectedComponentsDF(old)
    // delta adds vertex 9 bridging both components
    val full = old.union(Seq((2L, 9L), (9L, 3L)).toDF("src", "dst"))
    val (warmL, _) = GraphBuilder.connectedComponentsDF(
      full, initLabels = Some(prior))
    val labels = warmL.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.values.toSet == Set(1L),
      s"all five vertices must merge under min id 1: $labels")
  }

  test("REMOVAL delta is the documented failure mode: labels go stale") {
    val sp = spark
    import sp.implicits._
    val old = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val (prior, _) = GraphBuilder.connectedComponentsDF(old)
    // today the 2–3 edge is GONE and 3 pairs with new vertex 5: the
    // true component {3, 5} has min id 3, but 3's warm label (1) can
    // never grow under HashMin — the contract violation the Scaladoc
    // pins (a shrinking delta needs a cold run)
    val shrunk = Seq((1L, 2L), (3L, 5L)).toDF("src", "dst")
    val (warmL, _) = GraphBuilder.connectedComponentsDF(
      shrunk, initLabels = Some(prior))
    val labels = warmL.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels(3L) == 1L && labels(5L) == 1L,
      "stale labels expected — this PIN documents why removals need a " +
        s"cold run (got $labels)")
    val (coldL, _) = GraphBuilder.connectedComponentsDF(shrunk)
    val cold = coldL.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cold(3L) == 3L && cold(5L) == 3L, "the cold run is the fix")
  }

  test("changesSince reads only the delta; past-head poll is empty") {
    val sp = spark
    import sp.implicits._
    val root = java.nio.file.Files.createTempDirectory("io14t").toString
    try {
      graft.sources.Snapshots.commit(Seq(1L, 2L).toDF("k"), root, 1)
      graft.sources.Snapshots.commit(Seq(3L).toDF("k"), root, 2)
      graft.sources.Snapshots.commit(Seq(4L).toDF("k"), root, 3)
      val delta = graft.sources.Snapshots.changesSince(spark, root, 1, 3)
        .collect().map(_.getLong(0)).toSet
      assert(delta == Set(3L, 4L), s"only batches 2 and 3: $delta")
      val empty = graft.sources.Snapshots.changesSince(spark, root, 3, 7)
      assert(empty.count() == 0L && empty.columns.toSeq == Seq("k"),
        "past-head poll: zero rows, schema intact")
      intercept[IllegalArgumentException] {
        graft.sources.Snapshots.changesSince(spark, root, 5, 4)
      }
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(root))
        .iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }
}

class ConvergedEmptyGuardSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  test("HITS converged fails loudly on an edgeless input") {
    val sp = spark
    import sp.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    sp.sharedState.cacheManager.clearCache()
    val ex = intercept[IllegalArgumentException] {
      graft.operators.Hits.runConverged(empty, maxK = 5, tol = 1e-6)
    }
    assert(ex.getMessage.contains("non-empty edge set"))
    assert(sp.sharedState.cacheManager.isEmpty,
      "edgeless-graph failure leaked cache entries")
  }

  test("SSSP converged fails loudly on an empty source set") {
    val sp = spark
    import sp.implicits._
    val edges = Seq((1L, 2L, 1.0)).toDF("src", "dst", "w")
    val noSeeds = Seq.empty[Long].toDF("id")
    val ex = intercept[IllegalArgumentException] {
      graft.operators.ShortestPaths.runConverged(edges, noSeeds)
    }
    assert(ex.getMessage.contains("non-empty source set"))
  }
}
