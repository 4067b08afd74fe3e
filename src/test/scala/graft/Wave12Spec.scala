package graft

import graft.operators.{Louvain, TemporalJoins}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-13 advice hardening: the Louvain integral-weight contract and
  * the as-of internal-name defenses.
  */
class LouvainWeightContractSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  test("fractional weights fail loudly, not silently truncate to m=0") {
    val sp = spark
    import sp.implicits._
    val frac = Seq((0L, 1L, 0.5), (1L, 2L, 0.25)).toDF("u", "v", "w")
    sp.sharedState.cacheManager.clearCache()
    val ex = intercept[Exception] {
      Louvain.moveRoundsWeighted(frac, 1).collect()
    }
    assert(ex.getMessage.contains("integral edge weights"),
      s"expected the integral-weight error, got: ${ex.getMessage}")
    assert(sp.sharedState.cacheManager.isEmpty,
      "fractional-weight failure leaked cache entries")
    val ex2 = intercept[IllegalArgumentException] {
      Louvain.moveRoundsWeighted(
        Seq.empty[(Long, Long, Long)].toDF("u", "v", "w"), 1)
    }
    assert(ex2.getMessage.contains("empty graph"), ex2.getMessage)
    assert(sp.sharedState.cacheManager.isEmpty,
      "empty-graph failure leaked cache entries")
  }

  test("integral double weights pass the guard and run") {
    val sp = spark
    import sp.implicits._
    // two triangles joined by a bridge, weights 2.0 (integral doubles)
    val w = Seq((0L, 1L, 2.0), (1L, 2L, 2.0), (0L, 2L, 2.0),
      (3L, 4L, 2.0), (4L, 5L, 2.0), (3L, 5L, 2.0), (2L, 3L, 2.0))
      .toDF("u", "v", "w")
    val labels = Louvain.moveRoundsWeighted(w, 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doubling every weight rescales m and every k uniformly — the
    // trajectory matches the w=1 run: two communities, one per triangle
    assert(labels.values.toSet.size == 2)
    assert(Set(0L, 1L, 2L).map(labels) != Set(3L, 4L, 5L).map(labels))
  }
}

/** g23b/g24b: the converged twins equal their fixed-round forms at/past
  * the stop depth, the stop itself is honest (earlier rounds differ),
  * and maxRounds caps the loop.
  */
class ConvergedTwinsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  private def weightedPath: org.apache.spark.sql.DataFrame = {
    val sp = spark
    import sp.implicits._
    // 0→1→2→3→4 path (so convergence needs exactly 4 relaxations) plus
    // a costly shortcut 0→4 that an early round takes and a later round
    // must IMPROVE — distances keep changing until the true fixpoint
    Seq((0L, 1L, 1.0), (1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 4L, 1.0),
      (0L, 4L, 10.0)).toDF("src", "dst", "w")
  }

  private def dists(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
    df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("sssp converged ≡ fixed past the stop; earlier rounds differ") {
    val sp = spark
    import sp.implicits._
    val seeds = Seq(0L).toDF("id")
    val (conv, n) = graft.operators.ShortestPaths
      .runConverged(weightedPath, seeds, maxRounds = 20)
    // rounds 1..4 improve something; round 5 proves stability
    assert(n == 5, s"expected stop at round 5 (4 improving + proof), got $n")
    val fix4 = dists(graft.operators.ShortestPaths.run(weightedPath, seeds, 4))
    val fix9 = dists(graft.operators.ShortestPaths.run(weightedPath, seeds, 9))
    assert(dists(conv) == fix4 && fix4 == fix9)
    assert(fix4(4L) == 4.0, "the shortcut must be improved away")
    // an unroll BEFORE the stop disagrees — the stop is not vacuous
    val fix2 = dists(graft.operators.ShortestPaths.run(weightedPath, seeds, 2))
    assert(fix2 != fix4 && fix2(4L) == 10.0)
  }

  test("sssp maxRounds caps the loop honestly") {
    val sp = spark
    import sp.implicits._
    val seeds = Seq(0L).toDF("id")
    val (capped, n) = graft.operators.ShortestPaths
      .runConverged(weightedPath, seeds, maxRounds = 2)
    assert(n == 2)
    assert(dists(capped) ==
      dists(graft.operators.ShortestPaths.run(weightedPath, seeds, 2)))
  }

  test("hits converged scores ≡ fixed run at the reported stop depth") {
    val e = graft.sources.SyntheticGraph.portable(spark, 60, 180, "g24b")
    val (conv, n) = graft.operators.Hits.runConverged(
      e, maxK = 12, tol = 1e-9, minIter = 2)
    assert(n >= 2 && n <= 12)
    def scores(df: org.apache.spark.sql.DataFrame) =
      df.collect()
        .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    val fixed = scores(graft.operators.Hits.run(e, n))
    val got = scores(conv)
    assert(got.keySet == fixed.keySet)
    got.foreach { case (id, (a, h)) =>
      assert(math.abs(a - fixed(id)._1) < 1e-12 &&
        math.abs(h - fixed(id)._2) < 1e-12, s"id $id diverges")
    }
    // the stop is real: one iteration earlier the delta was above tol,
    // i.e. the scores at n-1 differ from n by more than tol in L1
    val prev = scores(graft.operators.Hits.run(e, n - 1))
    val l1 = got.keySet.map(id =>
      math.abs(got(id)._2 - prev(id)._2)).sum
    assert(l1 > 1e-9, s"stop at $n must be the FIRST quiet iteration")
  }

  test("hits minIter guard defers a deceptively-quiet early stop") {
    val e = graft.sources.SyntheticGraph.portable(spark, 60, 180, "g24b")
    // a huge tol would stop at iteration 1; the guard forces minIter
    val (_, n) = graft.operators.Hits.runConverged(
      e, maxK = 6, tol = 1e9, minIter = 4)
    assert(n == 4)
  }
}

/** q52 interval-overlap join: bucketed ≡ naive theta, half-open edges,
  * shared-bucket dedup, width fail-fast.
  */
class IntervalOverlapSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("touching intervals do NOT overlap; shared-bucket pairs count once") {
    val sp = spark
    import sp.implicits._
    // W=10. a1=[5,15) crosses the bucket edge; b1=[8,18) also crosses —
    // they share BOTH buckets 0 and 1 (the double-match case). b2=[15,20)
    // TOUCHES a1 (a1.hi == b2.lo): half-open ⇒ no overlap.
    val left = Seq((1L, 1L, 5L, 15L)).toDF("k", "a_id", "a_lo", "a_hi")
    val right = Seq((1L, 1L, 8L, 18L), (1L, 2L, 15L, 20L))
      .toDF("k", "b_id", "b_lo", "b_hi")
    val got = graft.operators.TemporalJoins.bucketedIntervalJoin(
      left, right, "k", "a_lo", "a_hi", "b_lo", "b_hi", bucketWidth = 10L)
    assert(pairs(got) == Set((1L, 1L)), got.collect().mkString("|"))
    assert(got.count() == 1L, "shared-bucket pair must count exactly once")
  }

  test("bucketed equals naive theta join on random intervals") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(52)
    def gen(n: Int) = (1 to n).map { i =>
      val lo = rnd.nextInt(1000).toLong
      (rnd.nextInt(4).toLong, i.toLong, lo, lo + 1 + rnd.nextInt(49))
    }
    val left = gen(120).toDF("k", "a_id", "a_lo", "a_hi")
    val right = gen(120).toDF("k", "b_id", "b_lo", "b_hi")
      .withColumnRenamed("k", "k2")
    val naive = left.join(
      right,
      col("k") === col("k2") &&
        col("a_lo") < col("b_hi") && col("b_lo") < col("a_hi"))
    val got = graft.operators.TemporalJoins.bucketedIntervalJoin(
      left, right.withColumnRenamed("k2", "k"),
      "k", "a_lo", "a_hi", "b_lo", "b_hi", bucketWidth = 50L)
    assert(pairs(got) == pairs(naive))
    assert(got.count() == naive.count(), "no double-counted pairs")
  }

  test("an interval wider than the bucket fails fast, names the side") {
    val sp = spark
    import sp.implicits._
    val left = Seq((1L, 1L, 0L, 100L)).toDF("k", "a_id", "a_lo", "a_hi")
    val right = Seq((1L, 1L, 0L, 5L)).toDF("k", "b_id", "b_lo", "b_hi")
    val ex = intercept[Exception] {
      graft.operators.TemporalJoins.bucketedIntervalJoin(
        left, right, "k", "a_lo", "a_hi", "b_lo", "b_hi",
        bucketWidth = 10L).collect()
    }
    assert(ex.getMessage.contains("left interval wider"), ex.getMessage)
  }
}

/** q51 expectations: null-violates rule, uniqueness surplus math, FK
  * null exemption, and the quarantine first-failing-reason order.
  */
class ExpectationsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  import graft.operators.Profiler
  import graft.operators.Profiler.RowCheck

  private def summary(df: org.apache.spark.sql.DataFrame)
      : Map[String, (Long, Boolean)] =
    df.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap

  test("row checks: nulls violate; one scan covers all checks") {
    val sp = spark
    import sp.implicits._
    val df = Seq(
      (1L, Some(10.0)), (2L, Some(200.0)), (3L, Option.empty[Double]))
      .toDF("k", "v")
    val got = summary(Profiler.expectations(
      df, Seq(
        RowCheck("v_max", col("v") > 100.0), // null row ALSO violates
        RowCheck("k_pos", col("k") <= 0L))))
    assert(got == Map(
      "v_max" -> ((2L, false)), // the 200 row + the null row
      "k_pos" -> ((0L, true))))
  }

  test("uniqueness surplus and FK orphan count; null FK keys exempt") {
    val sp = spark
    import sp.implicits._
    val fact = Seq(
      (1L, Option(10L)), (1L, Option(11L)), (2L, Option(99L)),
      (3L, Option.empty[Long]))
      .toDF("k", "fk")
    val dim = Seq(10L, 11L).toDF("id")
    val got = summary(Profiler.expectations(
      fact,
      rowChecks = Nil,
      uniqueKeys = Seq(("uk_k", Seq("k"))),
      foreignKeys = Seq(("fk_dim", "fk", dim, "id"))))
    // k has 4 rows, 3 distinct → 1 surplus; fk: 99 orphan, null exempt
    assert(got == Map(
      "uk_k" -> ((1L, false)),
      "fk_dim" -> ((1L, false))))
  }

  test("quarantine labels the FIRST failing check, keeps clean rows out") {
    val sp = spark
    import sp.implicits._
    val df = Seq((1L, 200.0), (2L, -5.0), (3L, 50.0)).toDF("k", "v")
    val got = Profiler.quarantineRows(
      df, Seq(
        RowCheck("too_big", col("v") > 100.0),
        RowCheck("negative", col("v") < 0.0),
        RowCheck("also_big", col("v") > 150.0))) // never wins: declared later
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got == Map(1L -> "too_big", 2L -> "negative"))
  }
}

/** io13 deletion-vector folding compaction: fold ≡ pre-fold MoR view,
  * sidecar truncated, refold idempotent, pushdown on the compacted base.
  */
class DvFoldCompactSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  private def withDirs(f: (String, String, String) => Unit): Unit = {
    val dirs = Seq("base", "dv", "comp")
      .map(n => java.nio.file.Files.createTempDirectory(s"dvf_$n").toString)
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

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
    df.collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).toSet

  test("fold rewrites survivors, empties the sidecar, stays readable") {
    val sp = spark
    import sp.implicits._
    withDirs { (base, dv, comp) =>
      (1L to 20L).map(k => (k, s"v$k")).toDF("k", "v")
        .repartition(3).write.mode("overwrite").parquet(base)
      graft.sources.DeletionVectors.appendDeletes(
        Seq(2L, 4L).toDF("k"), dv)
      graft.sources.DeletionVectors.appendDeletes(
        Seq(4L, 6L).toDF("k"), dv) // overlap: 4 deleted twice
      val preFold = rows(
        graft.sources.DeletionVectors.readMergeOnRead(spark, base, dv, "k"))
      graft.sources.DeletionVectors.foldCompact(spark, base, dv, "k", comp)
      // sidecar: zero rows, schema intact
      val dvAfter = spark.read.parquet(dv)
      assert(dvAfter.count() == 0 && dvAfter.columns.toSeq == Seq("k"))
      // compacted base alone IS the view; MoR over it is identical
      assert(rows(spark.read.parquet(comp)) == preFold)
      assert(rows(graft.sources.DeletionVectors
        .readMergeOnRead(spark, comp, dv, "k")) == preFold)
      assert(!preFold.exists(r => Set(2L, 4L, 6L).contains(r._1)))
      // new deletes accumulate against the compacted base as before
      graft.sources.DeletionVectors.appendDeletes(Seq(10L).toDF("k"), dv)
      assert(rows(graft.sources.DeletionVectors
        .readMergeOnRead(spark, comp, dv, "k")) ==
        preFold.filterNot(_._1 == 10L))
    }
  }

  test("refold is idempotent; pushdown survives on the compacted base") {
    val sp = spark
    import sp.implicits._
    withDirs { (base, dv, comp) =>
      (1L to 12L).map(k => (k, s"v$k")).toDF("k", "v")
        .write.mode("overwrite").parquet(base)
      graft.sources.DeletionVectors.appendDeletes(Seq(5L).toDF("k"), dv)
      graft.sources.DeletionVectors.foldCompact(spark, base, dv, "k", comp)
      val once = rows(spark.read.parquet(comp))
      // refold of the compacted dir with the emptied sidecar: no-op view
      val comp2 = java.nio.file.Files
        .createTempDirectory("dvf_comp2").toString
      try {
        graft.sources.DeletionVectors.foldCompact(spark, comp, dv, "k", comp2)
        assert(rows(spark.read.parquet(comp2)) == once)
      } finally {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(java.nio.file.Paths.get(comp2))
          .iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      }
      // the compacted base is a plain parquet dir: predicates reach the
      // scan as PushedFilters (the io11 plan contract, post-fold)
      val q = graft.sources.DeletionVectors
        .readMergeOnRead(spark, comp, dv, "k")
        .filter(col("k") > 6L)
      q.collect()
      // two parquet scans (compacted base + sidecar); each FileScan
      // renders on one line carrying both Location and PushedFilters —
      // the COMPACTED dir's line must carry the pushed predicate
      val planText = q.queryExecution.executedPlan.toString
      val baseLine = planText.linesIterator
        .find(l => l.contains("FileScan") && l.contains(
          java.nio.file.Paths.get(comp).getFileName.toString))
      assert(baseLine.isDefined, s"base scan line not found:\n$planText")
      assert(baseLine.get.contains("GreaterThan(k,6)"), baseLine.get)
    }
  }
}

/** m8 clip near-dup: distinct-fingerprint counting, the ubiquity cap,
  * and the minShared threshold edge.
  */
class ClipNearDupSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  private def frames(rows: (Long, Long, String)*) = {
    val sp = spark
    import sp.implicits._
    rows.toDF("media_id", "frame_no", "fp")
  }

  private def pairs(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap

  test("shared distinct fingerprints counted once; threshold is ≥") {
    // clips 1/2 share fps a,b (b twice in clip 1 — counts once);
    // clips 1/3 share only a
    val f = frames(
      (1L, 0L, "a"), (1L, 1L, "b"), (1L, 2L, "b"), (1L, 3L, "c"),
      (2L, 0L, "a"), (2L, 1L, "b"),
      (3L, 0L, "a"), (3L, 1L, "z"))
    val got2 = pairs(graft.operators.Multimodal.clipNearDupPairs(
      f, minShared = 2, maxDf = 10))
    assert(got2 == Map((1L, 2L) -> 2L))
    val got1 = pairs(graft.operators.Multimodal.clipNearDupPairs(
      f, minShared = 1, maxDf = 10))
    assert(got1 == Map((1L, 2L) -> 2L, (1L, 3L) -> 1L, (2L, 3L) -> 1L))
  }

  test("ubiquitous fingerprints are dropped before pairing") {
    // fp "title" appears in ALL four clips (the title-card frame) —
    // with maxDf = 3 it must not create any pair on its own
    val f = frames(
      (1L, 0L, "title"), (2L, 0L, "title"), (3L, 0L, "title"),
      (4L, 0L, "title"),
      (1L, 1L, "x"), (2L, 1L, "x"))
    val got = pairs(graft.operators.Multimodal.clipNearDupPairs(
      f, minShared = 1, maxDf = 3))
    assert(got == Map((1L, 2L) -> 1L), s"got $got")
  }
}

/** st23 gated ingest: the two-sink split is exhaustive and disjoint,
  * and a replayed batch stays exactly-once across BOTH sinks.
  */
class GatedIngestSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  import graft.operators.Profiler.RowCheck
  import graft.streaming.EventStreams

  private def withDirs(f: (String, String) => Unit): Unit = {
    val dirs = Seq("clean", "dlq")
      .map(n => java.nio.file.Files.createTempDirectory(s"gate_$n").toString)
    try f(dirs(0), dirs(1))
    finally {
      import scala.jdk.CollectionConverters._
      dirs.foreach { d =>
        java.nio.file.Files.walk(java.nio.file.Paths.get(d))
          .iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      }
    }
  }

  private val checks = Seq(
    RowCheck("error_event", col("event_type") === "error"),
    RowCheck("value_too_big", col("value") > 300.0))

  test("streamed gate: clean ∪ dlq = input, disjoint; replay stays once") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ev(id: Long, tpe: String, v: Double) = EventStreams.Event(
      id, new java.sql.Timestamp(1700000000000L + id), 1L, tpe, v)
    val rows = Seq(
      ev(1, "click", 10.0), ev(2, "error", 5.0), ev(3, "view", 999.0),
      ev(4, "purchase", 20.0), ev(5, "error", 500.0))
    withDirs { (clean, dlq) =>
      val ms = MemoryStream[EventStreams.Event]
      val q = EventStreams.gatedIngest(ms.toDS().toDF(), checks, clean, dlq)
      try {
        // deterministic batch boundaries: drain between adds, so batch 0
        // holds exactly rows 1-3 (the replay below re-delivers it)
        ms.addData(rows.take(3): _*)
        q.processAllAvailable()
        ms.addData(rows.drop(3): _*)
        q.processAllAvailable()
      } finally q.stop()
      def ids(path: String) = spark.read.parquet(path)
        .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(ids(clean) == Seq(1L, 4L))
      assert(ids(dlq) == Seq(2L, 3L, 5L))
      // both-checks row 5 gets the FIRST reason
      val reasons = spark.read.parquet(dlq)
        .select("event_id", "gate_reason").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(reasons == Map(
        2L -> "error_event", 3L -> "value_too_big", 5L -> "error_event"))
      // REPLAY: the at-least-once window — re-running a batch id must
      // overwrite its own partitions in BOTH sinks, duplicating nothing
      EventStreams.gatedIngestBatch(
        rows.take(3).toDF(), checks, batchId = 0L, clean, dlq)
      assert(ids(clean) == Seq(1L, 4L), "replay duplicated clean rows")
      assert(ids(dlq) == Seq(2L, 3L, 5L), "replay duplicated dlq rows")
    }
  }
}

/** q53 forward as-of: earliest at-or-after quote, inclusive instant,
  * left-outer semantics, and the backward/forward mirror differential.
  */
class AsofForwardSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  private def fwd(
      probes: Seq[(Long, Long)], quotes: Seq[(Long, Long, String)]) = {
    val sp = spark
    import sp.implicits._
    TemporalJoins
      .asofJoinForward(
        probes.toDF("k", "pt"),
        quotes.toDF("k", "qt", "v"),
        key = "k", leftTs = "pt", rightTs = "qt", payload = Seq("v", "qt"))
      .collect()
      .map(r =>
        (r.getAs[Long]("k"), r.getAs[Long]("pt"), r.getAs[String]("v"),
          Option(r.getAs[java.lang.Long]("qt")).map(_.toLong)))
      .sortBy(t => (t._1, t._2))
      .toSeq
  }

  test("forward picks the earliest at-or-after quote, per key") {
    val out = fwd(
      probes = Seq((1L, 10L), (1L, 25L), (2L, 60L)),
      quotes = Seq((1L, 5L, "old"), (1L, 20L, "b"), (1L, 30L, "c"),
        (2L, 50L, "z")))
    assert(out == Seq(
      (1L, 10L, "b", Some(20L)), // 5 is behind, 20 is the next
      (1L, 25L, "c", Some(30L)),
      (2L, 60L, null, None))) // no quote follows ⇒ left-outer null
  }

  test("forward is inclusive: quote exactly at the probe instant wins") {
    val out = fwd(
      probes = Seq((1L, 10L)),
      quotes = Seq((1L, 10L, "now"), (1L, 15L, "later")))
    assert(out == Seq((1L, 10L, "now", Some(10L))))
  }

  test("backward/forward mirror: reversing time swaps the directions") {
    val sp = spark
    import sp.implicits._
    val probes = Seq((1L, 10L), (1L, 25L), (1L, 40L))
    val quotes = Seq((1L, 5L, "a"), (1L, 20L, "b"), (1L, 35L, "c"))
    val f = fwd(probes, quotes).map(t => (t._1, t._2, t._4))
    // negate every timestamp: forward(t) ≡ backward(−t) negated back
    val b = TemporalJoins.asofJoin(
      probes.map(p => (p._1, -p._2)).toDF("k", "pt"),
      quotes.map(q => (q._1, -q._2, q._3)).toDF("k", "qt", "v"),
      "k", "pt", "qt", Seq("v", "qt"))
      .collect()
      .map(r => (r.getAs[Long]("k"), -r.getAs[Long]("pt"),
        Option(r.getAs[java.lang.Long]("qt")).map(x => -x.toLong)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(f == b)
  }
}

class AsofReservedNamesSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  test("asofJoinNearest rejects _qt payload and _p/_t/_tag columns") {
    val sp = spark
    import sp.implicits._
    val left = Seq((1L, 10L)).toDF("k", "pt")
    val right = Seq((1L, 5L, "a")).toDF("k", "qt", "v")
    val exQt = intercept[IllegalArgumentException] {
      TemporalJoins.asofJoinNearest(
        left, right.withColumnRenamed("v", "_qt"),
        "k", "pt", "qt", payload = Seq("_qt"))
    }
    assert(exQt.getMessage.contains("_qt"))
    val exTag = intercept[IllegalArgumentException] {
      TemporalJoins.asofJoinNearest(
        left.withColumnRenamed("pt", "_tag").withColumn("pt", lit(1L)),
        right, "k", "pt", "qt", payload = Seq("v"))
    }
    assert(exTag.getMessage.contains("_tag"))
    val exRight = intercept[IllegalArgumentException] {
      TemporalJoins.asofJoinNearest(
        left, right.withColumn("_p", lit(1)),
        "k", "pt", "qt", payload = Seq("v"))
    }
    assert(exRight.getMessage.contains("_p"))
  }

  test("asofJoin rejects _p/_t/_tag on either side") {
    val sp = spark
    import sp.implicits._
    val left = Seq((1L, 10L)).toDF("k", "pt")
    val right = Seq((1L, 5L, "a")).toDF("k", "qt", "v")
    val ex = intercept[IllegalArgumentException] {
      TemporalJoins.asofJoin(
        left.withColumn("_t", lit(0)), right,
        "k", "pt", "qt", payload = Seq("v"))
    }
    assert(ex.getMessage.contains("_t"))
  }
}
