package graft

import graft.core.ConfScope
import graft.operators._
import graft.sources.IterationStateIO
import graft.streaming.EventStreams
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class IterationStateIOSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  test("reference state format round-trip (id\\tPR|links)") {
    val sp = spark
    import sp.implicits._
    val lines = Seq(
      "0\t0.2500000000|1,2",
      "1\t0.2500000000|2",
      "2\t0.2500000000|2",
      "3\t0.2500000000|", // dangling
      "bad line with no tab",
      "9\tnopipe").toDF("value")
    val st = IterationStateIO.fromLines(lines).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getSeq[Long](2)))
      .sortBy(_._1)
    assert(st.length == 4)
    assert(st(3) == ((3L, 0.25, Seq())))
    assert(st(0) == ((0L, 0.25, Seq(1L, 2L))))

    val out = IterationStateIO
      .toLines(IterationStateIO.fromLines(lines))
      .collect().map(_.getString(0)).sorted
    assert(out.contains("0\t0.2500000000|1,2"))
    assert(out.contains("3\t0.2500000000|"))
  }
}

class DedupSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  def docs(rows: (Long, String, String)*) = {
    val sp = spark
    import sp.implicits._
    rows.toDF("doc_id", "text", "source")
  }

  test("minhash LSH finds near-identical docs, skips unrelated") {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val d = docs(
      (1L, base, "s"),
      (2L, base + " extra", "s"),
      (3L, "completely different words about spark catalyst optimizer rules", "s"))
    val pairs = Dedup
      .minhashDedupPairs(d, threshold = 0.3, k = 64, bands = 16)
      .collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }

  test("portable LSH banding finds the same near-dup as the engine-local form") {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val d = docs(
      (1L, base, "s"),
      (2L, base + " extra", "s"),
      (3L, "completely different words about spark catalyst optimizer rules", "s"))
    val portable = Dedup.lshCandidatePairsPortable(d, k = 16, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // near-identical docs must bucket together; the unrelated doc may or
    // may not collide into SOME band (hash family dependent), but the
    // (1,2) pair is the recall contract both forms share
    assert(portable.contains((1L, 2L)), s"got $portable")
  }

  test("simhash: identical docs equal, near docs close, far docs far") {
    val d = docs(
      (1L, "alpha beta gamma delta epsilon zeta eta theta", "s"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota", "s"),
      (3L, "one two three four five six seven eight", "s"))
    val sig = Dedup.simhashSignatures(d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sig(1L), sig(2L)) < ham(sig(1L), sig(3L)))
  }

  test("exact dedup keeps min doc_id per text") {
    val d = docs((5L, "same", "s"), (2L, "same", "s"), (9L, "other", "s"))
    val kept = TextOps.dedupExact(d).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 9L))
  }

  test("hll approx distinct stays within rsd bounds") {
    val sp = spark
    import sp.implicits._
    // cardinality must be large enough to leave HLL++'s exact sparse
    // representation and exercise the dense estimator — a small fixture
    // (e.g. 15 users) would pass for ANY implementation
    val big = sp.range(300000L).select(
      (col("id") % 3).as("grp"),
      // REAL multiplicities (not a bijection): 100k rows per group fold
      // onto 60k distinct users — ids 0..39999 twice, 40000..59999 once —
      // so the sketch's merge-over-duplicate-values path is exercised and
      // exact distinct (60000) ≠ per-group row count (100000)
      ((col("id") / 3).cast("long") % 60000).as("user"))
    val rows = big.groupBy(col("grp"))
      .agg(
        org.apache.spark.sql.functions
          .approx_count_distinct(col("user"), 0.02).as("approx"),
        countDistinct(col("user")).as("exact"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (approx, exact) = (r.getLong(1).toDouble, r.getLong(2).toDouble)
      assert(exact > 50000, "fixture must exceed the sparse threshold")
      // the contract q14 advertises: 3·rsd = 6% at rsd 0.02
      assert(math.abs(approx - exact) / exact <= 0.06,
        s"grp=${r.getLong(0)}: approx=$approx exact=$exact")
    }
  }

  test("tfidf ranks a document's distinctive token above ubiquitous ones") {
    val d = docs(
      (1L, "common common rare", "s"),
      (2L, "common common common", "s"),
      (3L, "common other other", "s"))
    val top = TextOps.tfidfKeywords(d, k = 1).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // "common" appears in every doc (idf = ln(1) = 0) — never a keyword
    assert(top(1L) == "rare")
    assert(top(3L) == "other")
  }

  test("pipeline operators release their caches (CacheScope seal)") {
    val sp = spark
    import sp.implicits._
    val d = docs(
      (1L, "alpha beta gamma delta epsilon zeta", "s"),
      (2L, "alpha beta gamma delta epsilon eta", "s"),
      (3L, "one two three four five six", "t"))
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.5f), "x"),
      (2L, Array(0.9f, 0.1f, 0.5f), "x"),
      (3L, Array(0.0f, 1.0f, 0.0f), "y"))
      .toDF("vec_id", "embedding", "label")
    // suites run sequentially in the forked test JVM, so clearing the
    // shared CacheManager is race-free; the only deliberate cross-query
    // cache (fromOrdersCached) merely recomputes afterwards — correct,
    // just uncached
    def cacheManagerEmpty: Boolean = spark
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty
    spark.catalog.clearCache()
    assert(cacheManagerEmpty)
    // every sealed pipeline: run + consume, then assert nothing remains
    def check(label: String)(run: => Long): Unit = {
      assert(run >= 0)
      assert(cacheManagerEmpty, s"$label left entries in the CacheManager")
    }
    check("minhashDedupPairs") {
      Dedup.minhashDedupPairs(d, threshold = 0.1, k = 16, bands = 4).count()
    }
    check("lshCandidatePairsPortable") {
      Dedup.lshCandidatePairsPortable(d, k = 16, bands = 4).count()
    }
    check("blockedJaccardPairs") {
      Dedup.blockedJaccardPairs(d, "source", 0.5).count()
    }
    check("verifiedJaccardPairs") {
      Dedup.verifiedJaccardPairs(
        d, Dedup.blockCandidatePairs(d, "source"), 0.01).count()
    }
    check("blockedNearDupPairs") {
      Similarity.blockedNearDupPairs(emb, "label", 0.3).count()
    }
    check("knnIvf") {
      Similarity.knnIvf(emb, 1L, 2, nList = 2, nProbe = 2).count()
    }
    check("nearDupPairs") {
      Similarity.nearDupPairs(emb, 0.3, bits = 2).count()
    }
    check("tfidfKeywords") { TextOps.tfidfKeywords(d, k = 2).count() }
    // the iterative operators: the fixed and the converged form of each loop
    val g = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 3L),
      (5L, 6L)).toDF("src", "dst")
    val wg = g.withColumn("w", lit(1.0))
    val seed = Seq(1L).toDF("id")
    val prior = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L))
      .toDF("id", "lbl")
    check("labelPropagation") { GraphBuilder.labelPropagation(g, 2).count() }
    check("labelPropagationConverged") {
      GraphBuilder.labelPropagationConverged(g)._1.count()
    }
    check("kCore") { GraphBuilder.kCore(g, 2, 3).count() }
    check("kCoreConverged") { GraphBuilder.kCoreConverged(g, 2)._1.count() }
    check("kTruss") { GraphBuilder.kTruss(g, 3, 2).count() }
    check("kTrussConverged") { GraphBuilder.kTrussConverged(g, 3)._1.count() }
    check("ShortestPaths.run") { ShortestPaths.run(wg, seed, 3).count() }
    check("ShortestPaths.runConverged") {
      ShortestPaths.runConverged(wg, seed)._1.count()
    }
    check("Hits.run") { Hits.run(g, 3).count() }
    check("Hits.runConverged") { Hits.runConverged(g, 10, 1e-9)._1.count() }
    check("Louvain.multilevel") { Louvain.multilevel(g, 3, 2).count() }
    check("Louvain.multilevelConverged") {
      Louvain.multilevelConverged(g, 3, 3)._1.count()
    }
    check("Louvain.multilevelWarm") {
      Louvain.multilevelWarm(g, prior, 3, 2).count()
    }
    check("Louvain.multilevelConvergedWarm") {
      Louvain.multilevelConvergedWarm(g, prior, 3, 3)._1.count()
    }
  }

  test("near-dup components: chain merges, min doc_id is the label") {
    val sp = spark
    import sp.implicits._
    val pairs = Seq((2L, 1L), (2L, 3L), (7L, 9L)).toDF("id_a", "id_b")
    val comp = Dedup.componentsFromPairs(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
  }
}

/** Convergence (early-stop) variants of the iterative graph ops: the
  * fixpoint result must equal the fixed-round result at any depth ≥ the
  * convergence depth, and the detected depth must be the true one.
  */
class HeavyHitterSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  test("MgState: classic decrement keeps every item above N/(capacity+1)") {
    // stream: 'a'×50, 'b'×30, 60 distinct one-off fillers; N=140,
    // capacity=4 → undercount ≤ 140/5 = 28 < 30, so a and b MUST survive
    val st = new graft.functions.MgState(4)
    val stream = new scala.util.Random(7).shuffle(
      Seq.fill(50)("a") ++ Seq.fill(30)("b") ++
        (0 until 60).map(i => s"f$i"))
    stream.foreach(st.add)
    assert(st.items.contains("a") && st.items.contains("b"), st.items.toSeq)
    assert(st.counts.size <= 4)
  }

  test("MgState: merge preserves the guarantee across adversarial splits") {
    // worst case for a merge tree: the heavy item is spread thin across
    // many partial states, each dominated by local noise
    val rng = new scala.util.Random(13)
    val parts = (0 until 8).map { p =>
      val st = new graft.functions.MgState(6)
      val local = rng.shuffle(
        Seq.fill(10)("hot") ++ (0 until 30).map(i => s"p${p}_$i"))
      local.foreach(st.add)
      st
    }
    // N = 8·40 = 320, capacity 6 → undercount ≤ 320/7 ≈ 45.7 < 80
    val acc = parts.head
    parts.tail.foreach(acc.mergeFrom)
    assert(acc.items.contains("hot"), acc.items.toSeq)
    assert(acc.counts.size <= 6)
  }

  test("heavyHitters equals the exact groupBy+threshold answer") {
    val sp = spark
    import sp.implicits._
    // 'the' 40×, 'cat' 25×, tail of uniques; frac 0.1 of N
    val words =
      Seq.fill(40)("the") ++ Seq.fill(25)("cat") ++
        (0 until 100).map(i => s"w$i")
    val docs = words.grouped(11).zipWithIndex
      .map { case (g, i) => (i.toLong, g.mkString(" "), 0L) }.toSeq
      .toDF("doc_id", "text", "n_chars")
    val got = TextOps.heavyHitters(docs, frac = 0.1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // N = 165, thresh = ceil(16.5) = 17 → exactly {the:40, cat:25}
    assert(got == Map("the" -> 40L, "cat" -> 25L), got)
  }

  test("heavyHitters is partitioning-independent") {
    val sp = spark
    import sp.implicits._
    val words = Seq.fill(60)("hot") ++ (0 until 300).map(i => s"u$i")
    val docs = words.grouped(7).zipWithIndex
      .map { case (g, i) => (i.toLong, g.mkString(" "), 0L) }.toSeq
      .toDF("doc_id", "text", "n_chars")
    val a = TextOps.heavyHitters(docs.repartition(1), frac = 0.05)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val b = TextOps.heavyHitters(docs.repartition(13), frac = 0.05)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(a == b)
    assert(a.contains(("hot", 60L)))
  }
}

class FilterGateSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  test("each rule fires in order; first failure is the reason") {
    val sp = spark
    import sp.implicits._
    val docs = Seq(
      (0L, "the cat sat on the mat today and it is fine.", 44L),
      (1L, "too short", 9L), // 2 tokens < 5
      (2L, "the a of pneumonoultramicroscopicsilicovolcanoconiosis" +
        " pneumonoultramicroscopicsilicovolcanoconiosis" +
        " pneumonoultramicroscopicsilicovolcanoconiosis xx", 1L), // avg len
      (3L, "purple monkey dishwasher quantum banana firetruck", 49L), // no stopwords
      (4L, "the cat... is;;; very,,, loud!!! okay???", 40L), // punct heavy
      (5L, "the spam spam spam spam spam spam spam spam spam is", 52L) // dup
    ).toDF("doc_id", "text", "n_chars")
    val got = TextOps.filterPipeline(docs)
      .collect().map(r => r.getLong(0) -> (r.getBoolean(1), r.getString(2)))
      .toMap
    assert(got(0L) == ((true, "ok")))
    assert(got(1L) == ((false, "too_short")))
    assert(got(2L) == ((false, "long_tokens")))
    assert(got(3L) == ((false, "low_stopword")))
    assert(got(4L) == ((false, "high_punct")))
    assert(got(5L) == ((false, "repetitive")))
  }

  test("rule order: a doc failing several rules reports the FIRST") {
    val sp = spark
    import sp.implicits._
    // fails too_short AND low_stopword AND high_punct → too_short wins
    val docs = Seq((0L, "x!!!;;;", 7L)).toDF("doc_id", "text", "n_chars")
    val got = TextOps.filterPipeline(docs).collect()(0)
    assert(got.getString(2) == "too_short")
  }

  test("charEntropy: hand-computed values, repetition scores low") {
    val sp = spark
    import sp.implicits._
    val docs = Seq(
      (0L, "aaaa", 4L), // single symbol: entropy 0
      (1L, "abab", 4L), // two symbols 50/50: ln 2
      (2L, "abcd", 4L) // uniform over 4: ln 4
    ).toDF("doc_id", "text", "n_chars")
    val got = TextOps.charEntropy(docs)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got(0L) == ((1L, 0.0)))
    assert(got(1L)._1 == 2L &&
      math.abs(got(1L)._2 - math.log(2)) < 1e-6, got(1L))
    assert(got(2L)._1 == 4L &&
      math.abs(got(2L)._2 - math.log(4)) < 1e-6, got(2L))
  }

  test("vocabCoverage: shares sum to cumulative, last covers everything") {
    val sp = spark
    import sp.implicits._
    val docs = Seq(
      (0L, "a a a b b c", 11L),
      (1L, "a b", 3L)).toDF("doc_id", "text", "n_chars")
    // counts: a=4, b=3, c=1; N=8
    val rows = TextOps.vocabCoverage(docs, topK = 10)
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(rows.map(t => (t._2, t._3)).toSeq ==
      Seq(("a", 4L), ("b", 3L), ("c", 1L)))
    assert(rows.last._5 == 1.0, "full vocab must cover the whole stream")
    // cumulative is the running sum of shares (both rounded from the
    // same integer ratios)
    assert(math.abs(rows.map(_._4).sum - rows.last._5) < 1e-9)
  }
}

class GraphConvergenceSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  def edges(pairs: (Long, Long)*) = {
    val sp = spark
    import sp.implicits._
    pairs.toDF("src", "dst")
  }

  test("kCoreConverged finds the exact 2-core without a round count") {
    // triangle 0-1-2 with a pendant path 2-3-4: the 2-core is the
    // triangle, reached after peeling 4 then 3 (depth 2; round 3 proves
    // stability)
    val e = edges((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L), (3L, 4L))
    val (core, rounds) = GraphBuilder.kCoreConverged(e, k = 2)
    val got = core.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 2L, 1L -> 2L, 2L -> 2L))
    assert(rounds == 3, s"expected depth 2 + proof round, got $rounds")
  }

  test("kCoreConverged empties when no k-core exists") {
    val e = edges((0L, 1L), (1L, 2L), (2L, 3L)) // a path: max core is 1
    val (core, rounds) = GraphBuilder.kCoreConverged(e, k = 2)
    assert(core.count() == 0)
    assert(rounds >= 2)
  }

  test("kCoreConverged ≡ kCore at any rounds ≥ its detected depth") {
    val g = graft.sources.SyntheticGraph.portable(spark, 400, 1200, "g25b")
    val (conv, rounds) = GraphBuilder.kCoreConverged(g, k = 3)
    val fixed = GraphBuilder.kCore(g, k = 3, rounds = rounds + 2)
    assert(
      conv.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
        fixed.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq)
  }

  test("MultiPpr: mass conserved per seed, dangling returns to seed, sparse state") {
    // seed 0 → 1 → 2 (2 dangling): after k=1, r = 0.15·e0 + 0.85·(P^T e0
    // + 0·e0) = {0: 0.15, 1: 0.85}; vertex 9→0 is upstream and must
    // stay UNREACHED (sparse state, no |V|-dense rows)
    val e = edges((0L, 1L), (1L, 2L), (9L, 0L))
    val r1 = MultiPpr.run(e, Seq(0L), k = 1)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(r1.keySet == Set(0L, 1L))
    assert(math.abs(r1(0L) - 0.15) < 1e-12 && math.abs(r1(1L) - 0.85) < 1e-12, r1)
    // k=2: 0.85 parked on 1 flows to dangling 2; mass still exactly 1
    val r2 = MultiPpr.run(e, Seq(0L), k = 2)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(math.abs(r2.values.sum - 1.0) < 1e-12, r2)
    assert(r2.keySet == Set(0L, 1L, 2L))
    assert(math.abs(r2(2L) - 0.85 * 0.85) < 1e-12) // via 0→1→2
    // k=3: 2's dangling mass returns to the seed; per-seed isolation
    val multi = MultiPpr.run(e, Seq(0L, 9L), k = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    val bySeed = multi.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    assert(bySeed.values.forall(v => math.abs(v - 1.0) < 1e-12), bySeed)
    // seed 9 reaches 0 (9→0) but seed 0 never reaches 9
    assert(multi.contains((9L, 0L)) && !multi.contains((0L, 9L)))
  }

  test("kCoreWeighted peels by strength and cascades") {
    // triangle with heavy edges + a light pendant: strengths at W=3
    // peel the pendant (strength 1 each side), then the triangle holds
    val sp = spark
    import sp.implicits._
    val we = Seq(
      (0L, 1L, 2.0), (1L, 2L, 2.0), (2L, 0L, 2.0), // triangle, strength 4
      (2L, 3L, 1.0) // pendant: 3 has strength 1; 2 has 5 until 3 drops
    ).toDF("src", "dst", "w")
    val got = GraphBuilder.kCoreWeighted(we, minStrength = 3.0, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(0L -> 4.0, 1L -> 4.0, 2L -> 4.0), got)
  }

  test("multiSourceHops: per-seed BFS layers, sparse, directional") {
    // path 0→1→2 and isolated-from-0 edge 9→0
    val e = edges((0L, 1L), (1L, 2L), (9L, 0L))
    val got = ShortestPaths.multiSourceHops(e, Seq(0L, 9L), rounds = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
      .toMap
    assert(got == Map(
      (0L, 0L) -> 0L, (0L, 1L) -> 1L, (0L, 2L) -> 2L,
      (9L, 9L) -> 0L, (9L, 0L) -> 1L, (9L, 1L) -> 2L, (9L, 2L) -> 3L), got)
  }

  test("labelPropagationConverged recovers planted communities and stops") {
    val g = graft.sources.SyntheticGraph.portableBlocks(spark, 200, 600, "lpaT")
    val (lbl, iters) = GraphBuilder.labelPropagationConverged(g, maxIter = 50)
    assert(iters < 50, "fixture must converge before the cap")
    // no cross-block label: every block-A vertex (< 200) labeled < 200,
    // every block-B vertex (≥ 200) labeled ≥ 200
    val rows = lbl.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.forall { case (id, l) => (id < 200) == (l < 200) })
    // converged ⇒ one more synchronous round changes nothing
    val once = GraphBuilder.labelPropagation(g, k = iters)
    assert(
      rows.sorted.toSeq ==
        once.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq)
  }
}

class MultimodalSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  test("feature extraction preserves ids, emits scalar feature columns") {
    val media = Multimodal.syntheticMedia(spark, "/root/testdata/sf0.001")
    val feats = Multimodal.extractFeatures(media)
    val row = feats.orderBy("media_id").first()
    assert(feats.count() == media.count())
    assert(feats.columns.toSeq ==
      Seq("media_id", "kind", "f_len", "f_mean", "f_min", "f_max"))
    // f_len equals payload length (= n_chars for ASCII text)
    val nb = media.orderBy("media_id").select(col("meta.n_bytes")).first().getLong(0)
    assert(row.getDouble(2) == nb.toDouble)
    // byte stats are internally consistent
    assert(row.getDouble(4) <= row.getDouble(3) && row.getDouble(3) <= row.getDouble(5))
  }

  test("metadata-only query does not read payload bytes (column pruning)") {
    val media = Multimodal.syntheticMedia(spark, "/root/testdata/sf0.001")
    val plan = Multimodal.metadataStats(media)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("payload"), "payload column must be pruned")
  }

  test("frame sampling emits duration/10s + 1 frames per video") {
    val media = Multimodal.syntheticMedia(spark, "/root/testdata/sf0.001")
    val frames = Multimodal.sampleFrames(media)
    val one = media
      .filter(col("kind") === "video")
      .select(col("media_id"), col("meta.duration_ms")).first()
    val expected = one.getLong(1) / 10000 + 1
    val got = frames.filter(col("media_id") === one.getLong(0)).count()
    assert(got == expected)
  }
}

class StreamingSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** Run a streaming frame to a memory sink and return the emitted table. */
  private def runToMemory(
      stream: org.apache.spark.sql.DataFrame,
      name: String): org.apache.spark.sql.DataFrame = {
    val q = stream.writeStream
      .format("memory").queryName(name).outputMode("append").start()
    try q.processAllAvailable()
    finally q.stop()
    spark.table(name)
  }

  test("native session_window agrees with the lag form at the exact gap boundary") {
    val sp = spark
    import sp.implicits._
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    // events 0 and 30min: EXACTLY the gap apart — Spark merges touching
    // windows, so this stays ONE session in both forms (diff > gap rule);
    // the 61min event is > gap from 35min and starts session 2
    val ev = Seq(
      (1L, ts(0), 7L, "click", 1.0, "{}"),
      (2L, ts(30), 7L, "click", 2.0, "{}"),
      (3L, ts(35), 7L, "click", 4.0, "{}"),
      (4L, ts(66), 7L, "click", 8.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val native = EventStreams.sessionizeNative(ev)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    val lagForm = EventStreams.sessionizeBatch(ev)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(native.toSeq == Seq((1L, 3L, 7.0), (2L, 1L, 8.0)), native.toSeq)
    assert(lagForm.toSeq == native.toSeq)
  }

  test("native session_window ≡ lag-form sessionization on the full events table") {
    // beyond the hand-built boundary fixture: the two formulations must
    // agree session-for-session on real data (same counts and sums per
    // (user, session_no))
    val ev = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .sortBy(t => (t._1, t._2)).toSeq
    val native = canon(EventStreams.sessionizeNative(ev)
      .select("user_id", "session_no", "n_events", "sum_value"))
    val lagForm = canon(EventStreams.sessionizeBatch(ev)
      .select("user_id", "session_no", "n_events", "sum_value"))
    assert(native == lagForm)
    assert(native.nonEmpty)
  }

  test("dropDuplicatesWithinWatermark suppresses within and across batches") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    def ts(min: Long) = new java.sql.Timestamp(3600000L + min * 60000L)
    val ms = MemoryStream[(Long, java.sql.Timestamp)]
    val q = EventStreams
      .dedupWithinWatermark(ms.toDS().toDF("event_id", "ts"), delay = "1 hour")
      .writeStream.format("memory").queryName("st10_unit")
      .outputMode("append").start()
    try {
      // in-batch duplicate suppressed
      ms.addData((1L, ts(0)), (1L, ts(0)), (2L, ts(5)))
      q.processAllAvailable()
      // cross-batch duplicate within the watermark window suppressed;
      // the new key passes
      ms.addData((1L, ts(0)), (3L, ts(10)))
      q.processAllAvailable()
      val got = spark.table("st10_unit").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime)).toSet
      assert(got == Set(
        (1L, ts(0).getTime), (2L, ts(5).getTime), (3L, ts(10).getTime)), got)
    } finally q.stop()
  }

  test("streaming top-k heap state converges to the batch twin out of order") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val rows = Seq(
      (1L, "a", 5.0), (2L, "a", 9.0), (3L, "a", 7.0), (4L, "a", 9.0),
      (5L, "b", 1.0), (6L, "b", 2.0), (7L, "a", 3.0), (8L, "b", 8.0))
    val ms = MemoryStream[(Long, String, Double)]
    val q = EventStreams.topValuesStream(
      ms.toDS().toDF("event_id", "event_type", "value"), k = 3)
      .writeStream.format("memory").queryName("st15_unit")
      .outputMode("complete").start()
    try {
      // replay shuffled across three micro-batches: the k-capped heap
      // folds and merges order-insensitively
      ms.addData(rows(7), rows(0), rows(3))
      q.processAllAvailable()
      // mid-stream state: only seen rows rank
      val mid = spark.table("st15_unit").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(mid == Set(("a", 4L), ("a", 1L), ("b", 8L)), mid)
      ms.addData(rows(2), rows(5), rows(1))
      ms.addData(rows(4), rows(6))
      q.processAllAvailable()
      val got = spark.table("st15_unit").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      val batch = EventStreams.topValuesStream(
        rows.toDF("event_id", "event_type", "value"), k = 3)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .toSet
      // ties at 9.0: smaller event_id (2) outranks 4; both stay in top-3
      assert(got == batch, s"stream $got vs batch $batch")
      assert(got == Set(
        ("a", 2L, 9.0), ("a", 4L, 9.0), ("a", 3L, 7.0),
        ("b", 8L, 8.0), ("b", 6L, 2.0), ("b", 5L, 1.0)), got)
    } finally q.stop()
  }

  test("streaming top-k state survives on the RocksDB backend") {
    // production streaming runs RocksDB state stores (bounded JVM heap,
    // spill to local disk) — the custom TypedImperativeAggregate's
    // serialized heap must round-trip through it identically to the
    // default HDFS-backed store
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    ConfScope(spark, "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      val rows = Seq(
        (1L, "a", 5.0), (2L, "a", 9.0), (3L, "a", 7.0),
        (4L, "b", 1.0), (5L, "b", 8.0))
      val ms = MemoryStream[(Long, String, Double)]
      val q = EventStreams.topValuesStream(
        ms.toDS().toDF("event_id", "event_type", "value"), k = 2)
        .writeStream.format("memory").queryName("st15_rocks")
        .outputMode("complete").start()
      try {
        ms.addData(rows(0), rows(3))
        q.processAllAvailable()
        ms.addData(rows(1), rows(4), rows(2))
        q.processAllAvailable()
        val got = spark.table("st15_rocks").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
        assert(got == Set(
          ("a", 2L, 9.0), ("a", 3L, 7.0),
          ("b", 5L, 8.0), ("b", 4L, 1.0)), got)
      } finally q.stop()
    }
  }

  test("transformWithState ledger accumulates ValueState across batches") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    ConfScope(spark, "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      def ev(id: Long, u: Long, v: Double) = EventStreams.Event(
        id, new java.sql.Timestamp(1700000000000L + id), u, "view", v)
      val ms = MemoryStream[EventStreams.Event]
      val q = EventStreams.spendLedger(ms.toDS())
        .writeStream.format("memory").queryName("st17_unit")
        .outputMode("update").start()
      try {
        ms.addData(ev(1, 1, 2.0), ev(2, 1, 3.0), ev(3, 2, 7.0))
        q.processAllAvailable()
        val mid = spark.table("st17_unit").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        assert(mid == Set((1L, 2L, 5.0), (2L, 1L, 7.0)), mid)
        // batch 2 continues FROM the stored state, not from zero
        ms.addData(ev(4, 1, 10.0))
        q.processAllAvailable()
        val last = spark.table("st17_unit").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          .groupBy(_._1).map { case (u, rows) => rows.maxBy(_._2) }.toSet
        assert(last == Set((1L, 3L, 15.0), (2L, 1L, 7.0)), last)
      } finally q.stop()
    }
  }

  test("streaming dedup registry accumulates across micro-batches") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val ms = MemoryStream[(Long, String)]
    val q = EventStreams.dedupDocsStream(ms.toDS().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("st8_unit")
      .outputMode("complete").start()
    def registry(): Map[String, (Long, Long)] =
      spark.table("st8_unit").collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    try {
      // batch 1: two distinct texts, one duplicated
      ms.addData((5L, "alpha"), (3L, "alpha"), (7L, "beta"))
      q.processAllAvailable()
      val r1 = registry()
      assert(r1.size == 2)
      assert(r1.values.toSet == Set((3L, 2L), (7L, 1L)))
      // batch 2: a LOWER id duplicate of alpha arrives late + a new text
      ms.addData((1L, "alpha"), (9L, "gamma"))
      q.processAllAvailable()
      val r2 = registry()
      assert(r2.size == 3)
      // representative flips to the new minimum; multiplicity grows
      assert(r2.values.toSet == Set((1L, 3L), (7L, 1L), (9L, 1L)))
    } finally q.stop()
  }

  /** Assert the streaming output agrees with the batch frame on every
    * emitted (key, value) row — and that the comparison actually matched
    * rows, so a key-format drift can't pass vacuously.
    */
  private def assertAgreesOnEmitted(
      got: org.apache.spark.sql.DataFrame,
      batch: org.apache.spark.sql.DataFrame,
      keys: Seq[String],
      valueCols: Seq[String]): Unit = {
    val joined = got.join(batch, keys)
    val nJoined = joined.count()
    assert(nJoined > 0, "zero matched buckets: key drift between twins")
    // streaming emits a subset (watermark-withheld tail) — every emitted
    // key must exist in batch...
    assert(got.join(batch, keys, "left_anti").count() == 0,
      "streaming emitted a bucket the batch twin does not have")
    // ...and agree on every value column
    valueCols.foreach { c =>
      val mismatch = joined.filter(got(c) =!= batch(c)).count()
      assert(mismatch == 0, s"$mismatch buckets disagree on $c")
    }
  }

  test("windowed agg over file stream matches batch groupBy") {
    val sfDir = "/root/testdata/sf0.001"
    val got = runToMemory(
      EventStreams.windowedAgg(
        EventStreams.readEvents(spark, sfDir), "1 hour", "1 hour", "2 hours"),
      "winagg")
      .select(col("window.start").as("ws"), col("event_type"), col("n_events"))
    val batch = graft.sources.Tables.events(spark, sfDir)
      .groupBy(date_trunc("hour", col("ts")).as("ws"), col("event_type"))
      .agg(count("*").as("n_events"))
    assertAgreesOnEmitted(got, batch, Seq("ws", "event_type"), Seq("n_events"))
  }

  test("sliding streaming windows match the overlapping batch twin") {
    val sfDir = "/root/testdata/sf0.001"
    val got = runToMemory(
      EventStreams.windowedAgg(
        EventStreams.readEvents(spark, sfDir),
        "10 minutes", "5 minutes", "20 minutes"),
      "slidewin")
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("win_start"),
        col("event_type"), col("n_events"),
        round(col("sum_value"), 4).as("sum_value"))
    val batch = EventStreams.slidingWindowAggBatch(
      graft.sources.Tables.events(spark, sfDir))
    assertAgreesOnEmitted(
      got, batch, Seq("win_start", "event_type"),
      Seq("n_events", "sum_value"))
  }

  test("streaming dedup drops duplicate event_ids") {
    val sp = spark
    import sp.implicits._
    val sfDir = "/root/testdata/sf0.001"
    val events = EventStreams.readEvents(spark, sfDir)
    val q = EventStreams.dedupEvents(events).writeStream
      .format("memory").queryName("dedup").outputMode("append").start()
    try q.processAllAvailable()
    finally q.stop()
    val n = spark.table("dedup").count()
    val distinct = graft.sources.Tables.events(spark, sfDir)
      .select("event_id", "ts").distinct().count()
    assert(n == distinct)
  }

  test("approx_percentile stays within rank-error bound of exact") {
    val sp = spark
    import sp.implicits._
    // skewed values so rank error translates into visible value error if
    // the sketch is wrong; accuracy=1000 ⇒ rank error ≤ 0.1% of n
    val vals = (0 until 200000).map(i => math.pow(i.toDouble, 1.5)).toDF("v")
    val row = vals.agg(
      expr("approx_percentile(v, 0.5, 1000)").as("am"),
      expr("percentile(v, 0.5)").as("xm"),
      expr("approx_percentile(v, 0.9, 1000)").as("a90"),
      expr("percentile(v, 0.9)").as("x90")).first()
    // rank error 1e-3 on v = i^1.5 ⇒ value error ≤ ~1.5e-3 relative;
    // assert 3× margin
    assert(math.abs(row.getAs[Double]("am") / row.getAs[Double]("xm") - 1) < 0.005)
    assert(math.abs(row.getAs[Double]("a90") / row.getAs[Double]("x90") - 1) < 0.005)
  }

  test("stream-stream attribution join matches batch twin on out-of-order feed") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val base = 1700000000000L
    def ev(id: Long, u: Long, tpe: String, sec: Long) = EventStreams.Event(
      id, new java.sql.Timestamp(base + sec * 1000L), u, tpe, 1.0)
    val rows = Seq(
      ev(1, 1, "click", 100), //    inside window of purchase 10
      ev(2, 1, "click", 3000), //   inside
      ev(10, 1, "purchase", 3600),
      ev(3, 1, "click", 3600), //   NOT < p_ts (same instant) ⇒ excluded
      ev(4, 2, "click", 50), //     other user
      ev(11, 2, "purchase", 7300), // click 4 is > 1h before ⇒ excluded
      ev(5, 1, "click", 4000)) //   after purchase ⇒ excluded
    val ms = MemoryStream[EventStreams.Event]
    // feed OUT OF ORDER across two batches
    ms.addData(rows(2), rows(0))
    ms.addData(rows.drop(3) :+ rows(1): _*)
    val q = EventStreams.attributionJoin(ms.toDS().toDF()).writeStream
      .format("memory").queryName("attr").outputMode("append").start()
    try q.processAllAvailable()
    finally q.stop()
    val got = spark.table("attr")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val batch = EventStreams.attributionJoin(rows.toDF())
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(batch == Set((10L, 1L), (10L, 2L)))
    assert(got == batch)
  }

  test("stream-static enrichment matches batch twin and keeps unmatched events") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val base = 1700000000000L
    def ev(id: Long, u: Long, tpe: String) = EventStreams.Event(
      id, new java.sql.Timestamp(base + id * 1000L), u, tpe, id * 1.5)
    val dim = Seq(
      (1L, 0, 9000.0), (2L, 3, 100.0), (3L, 7, -50.0))
      .toDF("c_custkey", "c_nationkey", "c_acctbal")
    val rows = Seq(ev(1, 1, "click"), ev(2, 2, "view"),
      ev(3, 3, "click"), ev(4, 99, "view")) // 99: no dim row
    val ms = MemoryStream[EventStreams.Event]
    ms.addData(rows.take(2): _*)
    ms.addData(rows.drop(2): _*)
    val q = EventStreams.enrichEvents(ms.toDS().toDF(), dim).writeStream
      .format("memory").queryName("enrich").outputMode("append").start()
    try q.processAllAvailable()
    finally q.stop()
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0),
        Option(r.getAs[java.lang.Integer]("c_nationkey")).map(_.toInt),
        Option(r.getAs[String]("acct_tier")))).toSet
    val got = snap(spark.table("enrich"))
    val batch = snap(EventStreams.enrichEvents(rows.toDF(), dim))
    assert(batch == Set(
      (1L, Some(0), Some("high")), (2L, Some(3), Some("mid")),
      (3L, Some(7), Some("neg")), (4L, None, None)))
    assert(got == batch)
    spark.sql("DROP TABLE IF EXISTS enrich")
  }

  test("stateful streaming sessionization emits closed sessions") {
    val sp = spark
    import sp.implicits._
    val sfDir = "/root/testdata/sf0.001"
    val events = EventStreams.readEvents(spark, sfDir)
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[EventStreams.Event]
    val q = EventStreams.sessionize(
      events, gapMs = 30 * 60 * 1000L,
      timeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)
      .writeStream.format("memory").queryName("sess")
      .outputMode("append").start()
    try q.processAllAvailable()
    finally q.stop()
    val closed = spark.table("sess")
    // one batch: every session closed by an observed gap is emitted; each
    // user's final session stays open in state → batch twin count minus
    // one per user
    val batchTotal = EventStreams
      .sessionizeBatch(graft.sources.Tables.events(spark, sfDir))
      .count()
    val users = graft.sources.Tables.events(spark, sfDir)
      .select("user_id").distinct().count()
    assert(closed.count() == batchTotal - users)
    assert(closed.filter(col("n_events") <= 0).count() == 0)
  }

  test("event-time sessionization: out-of-order replay, watermark closes sessions") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val base = 1700000000000L
    def ev(u: Long, sec: Long, v: Double) = EventStreams.Event(
      u * 100000 + sec, new java.sql.Timestamp(base + sec * 1000L), u, "c", v)
    val ms = MemoryStream[EventStreams.Event]
    // batch 1: user 1 out of order WITHIN the batch; user 2 opens
    ms.addData(ev(1, 5, 2.0), ev(1, 0, 1.0), ev(2, 3, 10.0))
    val q = EventStreams.sessionizeEventTime(
        ms.toDS(), gapMs = 30000L, watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("etsess")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // batch 2: a LATE event for user 1 (ts=8s, within watermark horizon)
      // extends the open session instead of starting a new one
      ms.addData(ev(1, 8, 4.0))
      q.processAllAvailable()
      assert(spark.table("etsess").count() == 0,
        "no session may close before the watermark passes its gap horizon")
      // batch 3: ts=100s pushes the watermark past 8s+30s → user 1's
      // first session must close (events 0,5,8 merged despite disorder)
      ms.addData(ev(1, 100, 7.0))
      q.processAllAvailable()
      // timeout fires on the batch AFTER the horizon passes (the timeout
      // timestamp is clamped above the watermark) → one more batch
      ms.addData(ev(2, 200, 1.0))
      q.processAllAvailable()
      val closed = spark.table("etsess").as[EventStreams.Session]
        .collect().sortBy(s => (s.user_id, s.start_ts.getTime))
      // by now the watermark (200s) has passed BOTH of user 1's horizons
      val u1 = closed.filter(_.user_id == 1L)
      assert(u1.length == 2, s"expected both user-1 sessions closed: ${closed.toSeq}")
      assert(u1.head.n_events == 3L && u1.head.sum_value == 7.0)
      assert(u1.head.start_ts.getTime == base && u1.head.end_ts.getTime == base + 8000L)
      // agree with the batch twin on the same replayed events
      val batchDf = Seq(ev(1, 5, 2.0), ev(1, 0, 1.0), ev(1, 8, 4.0)).toDF()
      val twin = EventStreams.sessionizeBatch(batchDf, gapMs = 30000L)
        .filter(col("user_id") === 1L).collect()
      assert(twin.length == 1)
      assert(twin.head.getAs[Long]("n_events") == u1.head.n_events
        && twin.head.getAs[Double]("sum_value") == u1.head.sum_value)
    } finally q.stop()
  }

  test("st6: event-time streaming sessions, fully flushed, equal batch gap sessions") {
    val sfDir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("st6_eventtime_sessions")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val batch = EventStreams
      .sessionizeBatch(graft.sources.Tables.events(spark, sfDir))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got.nonEmpty)
    assert(got == batch)
  }

  test("stream replays drop their memory-sink views and return frames that still evaluate") {
    val sfDir = "/root/testdata/sf0.001"
    def memViews(): Set[String] = spark.catalog.listTables().collect()
      .filter(_.isTemporary).map(_.name).filter(_.contains("_mem_")).toSet
    val before = memViews()
    Seq(
      "st6_eventtime_sessions", "st8_stream_dedup", "st10_watermark_dedup",
      "st14_stream_funnel", "st17_tws_ledger", "st19_stream_cms",
      "st20_stream_native_session", "st24_stream_asof",
      "st27_stream_asof_fwd", "st28_stream_asof_near").foreach { q =>
      val out = SparkEntry.queries(q)(spark, sfDir)
      assert(memViews() == before, s"$q left its memory-sink view registered")
      assert(out.count() > 0, s"$q returned no rows after its view was dropped")
    }
  }

  test("batch sessionization: session count and sums are gap-consistent") {
    val sp = spark
    import sp.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def t(min: Long) = new java.sql.Timestamp(base.getTime + min * 60000)
    val df = Seq(
      (1L, t(0), 7L, "click", 1.0, "{}"),
      (2L, t(10), 7L, "click", 2.0, "{}"),
      (3L, t(70), 7L, "click", 4.0, "{}"), // >30min gap → new session
      (4L, t(5), 8L, "view", 8.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val sessions = EventStreams.sessionizeBatch(df).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(sessions == Set(
      (7L, 1L, 2L, 3.0), (7L, 2L, 1L, 4.0), (8L, 1L, 1L, 8.0)))
  }
}

/** The native codegen'd dot product must be bit-identical to the HOF
  * composition it replaced — IEEE addition order included.
  */
class DotProductSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  test("native dot is bit-identical to the HOF fold on random vectors") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (0 until 300).map { i =>
      val n = 1 + rnd.nextInt(24)
      (i.toLong,
        Array.fill(n)(rnd.nextDouble() * 2 - 1),
        Array.fill(n)(rnd.nextDouble() * 2 - 1))
    }
    val cmp = rows.toDF("id", "a", "b").select(
      Similarity.dot(col("a"), col("b")).as("nat"),
      Similarity.dotFold(col("a"), col("b")).as("hof"))
      .collect()
    assert(cmp.nonEmpty)
    cmp.foreach { r =>
      assert(
        java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
          java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
        s"native=${r.getDouble(0)} hof=${r.getDouble(1)}")
    }
  }

  test("native dot null semantics match zip_with padding") {
    // length mismatch (zip_with pads with null → null sum) and a null
    // element (null product poisons the fold) must both yield NULL in
    // both forms; the interpreted eval path is covered via constant
    // folding of literal inputs
    val df = spark.range(1).selectExpr(
      "array(1.0d, 2.0d) AS a2",
      "array(3.0d) AS b1",
      "array(3.0d, cast(null as double)) AS bn",
      "array(3.0d, 4.0d) AS b2")
    val r = df.select(
      Similarity.dot(col("a2"), col("b1")).as("mismatch_nat"),
      Similarity.dotFold(col("a2"), col("b1")).as("mismatch_hof"),
      Similarity.dot(col("a2"), col("bn")).as("null_nat"),
      Similarity.dotFold(col("a2"), col("bn")).as("null_hof"),
      Similarity.dot(col("a2"), col("b2")).as("ok")).collect().head
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3))
    assert(r.getDouble(4) == 1.0 * 3.0 + 2.0 * 4.0)
  }
}

/** The native codegen'd hyperplane-LSH signature must be bit-identical to
  * the HOF composition it replaced — seeded sign hashes, IEEE addition
  * order, and the null/empty poisoning semantics included.
  */
class HyperplaneSigSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  private def both(bits: Int, seed: Long) = {
    import graft.functions.VectorFunctions
    (df: org.apache.spark.sql.DataFrame) =>
      df.select(
        VectorFunctions
          .hyperplaneSig(col("v").cast("array<double>"), bits, seed)
          .as("nat"),
        Similarity
          .hyperplaneSigFold(
            col("v").cast("array<double>"), col("v"), bits, seed)
          .as("hof"))
        .collect()
        .map(r => (r.getString(0), r.getString(1)))
  }

  test("native signature equals HOF signature on random vectors") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(11)
    for (bits <- Seq(4, 12); seed <- Seq(42L, 7L)) {
      val rows = (0 until 200).map { i =>
        val n = 1 + rnd.nextInt(24)
        (i.toLong, Array.fill(n)(rnd.nextDouble() * 2 - 1))
      }
      val cmp = both(bits, seed)(rows.toDF("id", "v"))
      assert(cmp.nonEmpty)
      cmp.foreach { case (nat, hof) =>
        assert(nat == hof, s"bits=$bits seed=$seed: native=$nat hof=$hof")
        assert(nat.length == bits)
      }
    }
  }

  test("native signature matches HOF on null / empty / null-element vectors") {
    // all three poison every per-bit fold in the HOF form → all-'0'
    // buckets; the native expression must reproduce that, not return NULL
    val df = spark.range(1).selectExpr(
      "cast(null as array<double>) AS nullv",
      "array() AS emptyv",
      "array(1.0d, cast(null as double)) AS nelem",
      "array(0.5d) AS ok")
    val r = df.select(
      Seq("nullv", "emptyv", "nelem", "ok").flatMap { c =>
        Seq(
          graft.functions.VectorFunctions
            .hyperplaneSig(col(c).cast("array<double>"), 6, 42L)
            .as(s"${c}_nat"),
          Similarity
            .hyperplaneSigFold(
              col(c).cast("array<double>"), col(c), 6, 42L)
            .as(s"${c}_hof"))
      }: _*).collect().head
    for (i <- 0 until 8 by 2) {
      val nat = r.getString(i)
      val hof = r.getString(i + 1)
      assert(nat == hof, s"col $i: native=$nat hof=$hof")
    }
    assert(r.getString(0) == "000000") // null vector → all-zeros bucket
    assert(r.getString(2) == "000000") // empty vector → all-zeros bucket
  }

  test("native expressions are SQL-callable after registration") {
    graft.functions.VectorFunctions.registerSqlFunctions(spark)
    val r = spark.sql(
      """SELECT
        |  graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d,
        |  graft_proj(array(0.5d, -0.25d, 1.5d), 6, 42) AS p""".stripMargin)
      .collect().head
    assert(r.getDouble(0) == 11.0)
    // the SQL form must equal the Column-API form exactly
    val viaColumn = spark.range(1)
      .select(
        graft.functions.VectorFunctions.hyperplaneSig(
          expr("array(0.5d, -0.25d, 1.5d)"), 6, 42L).as("p"))
      .collect().head.getString(0)
    assert(r.getString(1) == viaColumn)
    // bits/seed parameterize codegen, so non-literal arguments must be
    // rejected at analysis time
    intercept[Exception] {
      spark.sql("SELECT graft_proj(array(1.0d), cast(id AS int), 42) FROM range(1)")
        .collect()
    }
    // the bounded top-k AGGREGATE is SQL-callable too: per-group k best
    // (score DESC, id ASC) as an array of structs
    val tk = spark.sql(
      """SELECT g, graft_topk(s, i, 2) AS t FROM VALUES
        |  (0, 1.0d, 10L), (0, 3.0d, 11L), (0, 2.0d, 12L),
        |  (1, 5.0d, 20L), (1, 5.0d, 21L), (1, 7.0d, 22L)
        |  AS v(g, s, i)
        |GROUP BY g ORDER BY g""".stripMargin).collect()
    val t0 = tk(0).getSeq[org.apache.spark.sql.Row](1)
      .map(r => (r.getLong(0), r.getDouble(1)))
    val t1 = tk(1).getSeq[org.apache.spark.sql.Row](1)
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(t0 == Seq((11L, 3.0), (12L, 2.0)))
    assert(t1 == Seq((22L, 7.0), (20L, 5.0))) // tie at 5.0 → smaller id
    // the Misra-Gries candidate aggregate is SQL-callable: with enough
    // capacity it degenerates to the sorted distinct item set
    val mg = spark.sql(
      """SELECT graft_mg(w, 8) FROM VALUES
        |  ('b'), ('a'), ('b'), ('c') AS v(w)""".stripMargin)
      .collect().head.getSeq[String](0)
    assert(mg == Seq("a", "b", "c"))
    intercept[Exception] {
      spark.sql("SELECT graft_mg(cast(id AS string), cast(id AS int)) FROM range(3)")
        .collect()
    }
  }

  test("GraftExtensions injects both functions at session-build time") {
    // the builder-path injector: applying it to a fresh extensions bag
    // must register without error (a full new-session integration needs a
    // fresh JVM; the builders themselves are exercised via SQL above)
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    (new graft.functions.GraftExtensions)(ext)
  }

  test("e3 pipeline result is unchanged by the native signature") {
    // the full operator on real embeddings: pair set must be identical
    // when signatures are computed by the HOF form (a temporary twin
    // operator is overkill — equality of every signature suffices, since
    // bucketing and scoring are downstream of the signature only)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cmp = both(12, 42L)(emb.select(col("embedding").as("v")))
    assert(cmp.nonEmpty)
    cmp.foreach { case (nat, hof) => assert(nat == hof) }
  }
}
