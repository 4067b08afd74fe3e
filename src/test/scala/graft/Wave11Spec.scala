package graft

import graft.operators.{Multimodal, TextOps}
import graft.sources.DeletionVectors
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** d57 URL canonicalization: every variant class the canonicalizer
  * claims to fold, hand-checked, plus the dedup aggregate over aliases.
  */
class UrlCanonSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  private def canon(urls: String*): Seq[String] = {
    val sp = spark
    import sp.implicits._
    urls.toDF("url")
      .select(TextOps.canonicalizeUrl(col("url")).as("c"))
      .collect().map(_.getString(0)).toSeq
  }

  test("scheme/host case, default port, fragment, tracking params fold") {
    val variants = Seq(
      "https://example.com/a?id=1",
      "HTTPS://EXAMPLE.COM/a?id=1",
      "https://Example.com:443/a?id=1",
      "https://example.com/a/?id=1",
      "https://example.com/a?id=1#frag",
      "https://example.com/a?utm_source=x&id=1",
      "https://example.com/a?id=1&ref=home&utm_campaign=y")
    assert(canon(variants: _*).distinct == Seq("https://example.com/a?id=1"))
  }

  test("non-default port, http :80, root slash, param sort") {
    assert(canon("https://example.com:8443/a?id=1")
      == Seq("https://example.com:8443/a?id=1"))
    assert(canon("http://Example.com:80/a") == Seq("http://example.com/a"))
    // root "/" is length 1 — kept, never stripped
    assert(canon("https://example.com/?utm_source=x")
      == Seq("https://example.com/"))
    // surviving params sort; tracking stripped mid-list
    assert(canon("https://example.com/p?b=2&utm_source=x&a=1")
      == Seq("https://example.com/p?a=1&b=2"))
    // https :80 is NOT a default port — kept
    assert(canon("https://example.com:80/a") == Seq("https://example.com:80/a"))
  }

  test("urlDedup groups aliases under min doc_id") {
    val sp = spark
    import sp.implicits._
    val docs = Seq(
      (10L, "HTTPS://Site.com/a?id=1#x"),
      (7L, "https://site.com:443/a/?utm_source=f&id=1"),
      (3L, "https://site.com/b")).toDF("doc_id", "url")
    val got = TextOps.urlDedup(docs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(got == Seq(
      ("https://site.com/a?id=1", "site.com", 2L, 7L),
      ("https://site.com/b", "site.com", 1L, 3L)))
  }
}

/** d58 TextRank word graph: hand-computed window-2 co-occurrence
  * edges — symmetry, self-pair drop, multiplicity counting.
  */
class CooccurrenceSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  private def edges(texts: String*): Map[(String, String), Double] = {
    val sp = spark
    import sp.implicits._
    TextOps.cooccurrenceEdges(
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text"))
      .collect().map(r =>
        (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
  }

  test("window-2 pairs, symmetrized, counted with multiplicity") {
    // "a b c a": off1 (a,b)(b,c)(c,a); off2 (a,c)(b,a) — then mirrored
    val got = edges("a b c a")
    assert(got == Map(
      ("a", "b") -> 2.0, ("b", "a") -> 2.0,
      ("a", "c") -> 2.0, ("c", "a") -> 2.0,
      ("b", "c") -> 1.0, ("c", "b") -> 1.0))
  }

  test("self-pairs dropped; single-token and blank docs emit nothing") {
    assert(edges("a a b") == Map(("a", "b") -> 2.0, ("b", "a") -> 2.0))
    assert(edges("a").isEmpty)
    assert(edges("").isEmpty)
  }

  test("weights symmetric on a mixed corpus") {
    val got = edges("x y z", "z y x", "y y x")
    got.foreach { case ((u, v), w) =>
      assert(got(v -> u) == w, s"asymmetric at ($u,$v)")
    }
  }
}

/** m6 interleaved multimodal packing: hand-computed stride cuts with
  * mixed text/image costs, shard independence, zero-image reduction to
  * the d19 rule.
  */
class InterleavedPackSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  private def docs(rows: (Long, String, String, Long)*): DataFrame = {
    val sp = spark
    import sp.implicits._
    rows.toDF("doc_id", "source", "text", "n_img")
  }

  private def packed(df: DataFrame, budget: Int, imgTok: Int)
      : Seq[(String, Long, Long, Long, Long, Long)] =
    Multimodal.interleavedPack(df, col("n_img"), budget, imgTok)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
      .sortBy(x => (x._1, x._2)).toSeq

  test("image cost lands docs in the right stride") {
    // costs: d1 = 2 + 10·1 = 12, d2 = 3, d3 = 2 + 10·2 = 22
    // offsets: 0, 12, 15 at budget 16 → seqs 0, 0, 0? no: floor(0/16)=0,
    // floor(12/16)=0, floor(15/16)=0 — all seq 0; raise: budget 10 →
    // seqs 0, 1, 1
    val got = packed(docs(
      (1L, "s", "a b", 1L), (2L, "s", "a b c", 0L), (3L, "s", "a b", 2L)),
      budget = 10, imgTok = 10)
    assert(got == Seq(
      ("s", 0L, 1L, 2L, 1L, 12L),
      ("s", 1L, 2L, 5L, 2L, 25L)))
  }

  test("shards pack independently; zero images reduces to token packing") {
    val got = packed(docs(
      (1L, "s0", "a b c d", 0L), (2L, "s0", "e f", 0L),
      (3L, "s1", "g", 0L)), budget = 4, imgTok = 576)
    // s0: offsets 0, 4 → seqs 0, 1; s1: offset 0 → seq 0
    assert(got == Seq(
      ("s0", 0L, 1L, 4L, 0L, 4L),
      ("s0", 1L, 1L, 2L, 0L, 2L),
      ("s1", 0L, 1L, 1L, 0L, 1L)))
  }
}

/** q49 nearest as-of: every direction case hand-checked — backward
  * win, forward win, exact tie (backward), probe before any quote
  * (forward only), keys with no quotes (null payload).
  */
class AsofNearestSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  test("nearest picks min |dt|, ties backward, edges fall back") {
    val sp = spark
    import sp.implicits._
    val probes = Seq(
      (1L, 10L, "p_a"), // quotes at 7, 12: |3| vs |2| -> forward 12
      (1L, 8L, "p_b"),  // |1| vs |4| -> backward 7
      (1L, 17L, "p_c"), // quotes 12, 22 equidistant -> backward 12
      (1L, 7L, "p_d"),  // exact-instant quote -> itself (distance 0)
      (1L, 2L, "p_e"),  // before every quote -> forward 7
      (2L, 5L, "p_f"))  // key with no quotes -> null
      .toDF("k", "t", "name")
    val quotes = Seq((1L, 7L, "q7"), (1L, 12L, "q12"), (1L, 22L, "q22"))
      .toDF("k", "qt", "qv")
    val got = graft.operators.TemporalJoins
      .asofJoinNearest(probes, quotes, "k", "t", "qt", Seq("qv"))
      .collect()
      .map(r => (r.getString(2), Option(r.getString(3)).getOrElse("-")))
      .toMap
    assert(got == Map(
      "p_a" -> "q12", "p_b" -> "q7", "p_c" -> "q12",
      "p_d" -> "q7", "p_e" -> "q7", "p_f" -> "-"))
  }
}

/** Generative invariants for the round's projections (the PropertySpec
  * discipline — seeded Random, no flaky reruns): URL canonicalization
  * is an idempotent normal form with the advertised absences; packing
  * conserves documents and token mass under any random corpus.
  */
class UrlCanonPropertySpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  test("canonical form is idempotent, clean, and sorted (300 random URLs)") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(57L)
    val schemes = Seq("http", "HTTP", "https", "HTTPS", "Https")
    val hosts = Seq("a.Example.COM", "b.example.com", "WWW.SITE.ORG")
    val ports = Seq("", ":443", ":80", ":8080")
    val paths = Seq("", "/", "/a", "/a/b", "/a/b/")
    val frags = Seq("", "#x", "#sec2")
    val params = Seq("id=1", "utm_source=x", "ref=home", "b=2", "a=3",
      "gclid=z", "fbclid=f")
    val urls = (1 to 300).map { _ =>
      val q = rnd.shuffle(params).take(rnd.nextInt(params.size + 1))
      schemes(rnd.nextInt(schemes.size)) + "://" +
        hosts(rnd.nextInt(hosts.size)) + ports(rnd.nextInt(ports.size)) +
        paths(rnd.nextInt(paths.size)) +
        (if (q.nonEmpty) "?" + q.mkString("&") else "") +
        frags(rnd.nextInt(frags.size))
    }
    def canonAll(in: Seq[String]): Seq[String] =
      in.toDF("url")
        .select(graft.operators.TextOps.canonicalizeUrl(col("url")).as("c"))
        .collect().map(_.getString(0)).toSeq
    val once = canonAll(urls)
    // idempotence: the canonical form is a fixed point
    assert(canonAll(once) == once)
    once.foreach { c =>
      assert(!c.contains("#"), c)
      // no DEFAULT port survives (https:443 / http:80); non-default
      // ports (https:80, :8080) are kept by design
      val hp = c.dropWhile(_ != '/').drop(2).takeWhile(x => x != '/' && x != '?')
      if (c.startsWith("https://")) assert(!hp.endsWith(":443"), c)
      if (c.startsWith("http://")) assert(!hp.endsWith(":80"), c)
      assert(!c.contains("utm_") && !c.contains("ref=") &&
        !c.contains("gclid=") && !c.contains("fbclid="), c)
      val sh = c.takeWhile(_ != '?')
      assert(sh == sh.toLowerCase, c) // scheme+host+path... host lowered
      if (c.contains("?")) {
        val ps = c.dropWhile(_ != '?').drop(1).split("&").toSeq
        assert(ps == ps.sorted, c)
      }
    }
  }
}

class PackConservationSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  test("packing conserves docs, images and token mass (6 random corpora)") {
    val sp = spark
    import sp.implicits._
    (1L to 6L).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val docs = (1 to 50).map { i =>
        val words = Seq.fill(1 + rnd.nextInt(30))("w").mkString(" ")
        (i.toLong, s"s${rnd.nextInt(3)}", words, rnd.nextInt(4).toLong)
      }
      val df = docs.toDF("doc_id", "source", "text", "n_img")
      val budget = 8 + rnd.nextInt(64)
      val imgTok = 1 + rnd.nextInt(20)
      val packed = Multimodal.interleavedPack(df, col("n_img"), budget, imgTok)
        .collect()
      val expTokens = docs.map { case (_, _, t, img) =>
        t.split("\\s+").length.toLong + imgTok * img
      }.sum
      assert(packed.map(_.getLong(2)).sum == docs.size) // n_docs
      assert(packed.map(_.getLong(4)).sum == docs.map(_._4).sum) // images
      assert(packed.map(_.getLong(5)).sum == expTokens, s"seed=$seed")
    }
  }
}

/** st21 late-event audit: the micro-batch watermark rule hand-checked
  * — batch 0 unbounded, watermark = prev-batch running max − delay,
  * strict < gate.
  */
class LateAuditSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  test("between-batch watermark advances on running max; first batch free") {
    val sp = spark
    import sp.implicits._
    // (event time, arrival time): arrival windows of 10 make batches
    // {0,1}, {2}, {3,4,5}; watermark = prev batches' max EVENT time
    val df = Seq(
      (0L, 10L, 5L), (1L, 5L, 7L),   // batch 0
      (2L, 3L, 15L), (3L, 12L, 17L), // batch 1, wm = 10
      (4L, 11L, 25L), (5L, 12L, 22L)) // batch 2, wm = max(10,12) = 12
      .toDF("event_id", "us", "arr")
      .select(
        col("event_id"), timestamp_micros(col("us")).as("ts"), col("arr"))
    val got = graft.streaming.EventStreams
      .lateEventAudit(df, delayMs = 0L, arrivalUs = col("arr"),
        batchWindowUs = 10L)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getInt(3)))).toMap
    assert(got == Map(
      0L -> ((-1L, 0)), 1L -> ((-1L, 0)), // first batch: no watermark
      2L -> ((10L, 1)),                   // event time 3 < wm 10 -> late
      3L -> ((10L, 0)),                   // 12 >= 10
      4L -> ((12L, 1)),                   // wm advanced to 12; 11 < 12
      5L -> ((12L, 0))))                  // equal is NOT late (strict <)
  }
}

/** m7 audio segmentation: independent driver-side run-grouping over
  * the same active frames must reproduce every segment; threshold
  * edges (0 ⇒ one wall-to-wall segment per clip, 256 ⇒ none).
  */
class AudioSegmentsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  private def media = Multimodal.syntheticMedia(spark, "/root/testdata/sf0.001")

  test("segments == independently grouped active-frame runs") {
    val segs = Multimodal.audioSegments(media, frameMs = 1000L, threshold = 128)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    // recompute active frames with the operator's published energy rule,
    // then group runs IN THE DRIVER (textbook two-pointer, no windows)
    val active = media.filter(col("kind") === "audio")
      .select(col("media_id"),
        explode(sequence(lit(0L),
          floor((col("meta.duration_ms") - 1) / 1000).cast("long")))
          .as("frame"))
      .withColumn("e", conv(substring(md5(concat_ws(":",
        col("media_id").cast("string"), col("frame").cast("string"),
        lit("m7"))), 1, 2), 16, 10).cast("int"))
      .filter(col("e") >= 128)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expect = active.groupBy(_._1).flatMap { case (id, rows) =>
      val fs = rows.map(_._2).sorted
      val runs = scala.collection.mutable.ListBuffer[(Long, Long)]()
      for (f <- fs) {
        if (runs.nonEmpty && runs.last._2 == f - 1)
          runs(runs.length - 1) = (runs.last._1, f)
        else runs += ((f, f))
      }
      runs.map { case (a, b) => (id, a * 1000L, b * 1000L + 1000L, b - a + 1) }
    }.toSet
    assert(segs == expect)
  }

  test("threshold edges: 0 gives wall-to-wall segments, 256 gives none") {
    val all = Multimodal.audioSegments(media, threshold = 0)
    val durs = media.filter(col("kind") === "audio")
      .select(col("media_id"), col("meta.duration_ms")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = all.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got.size == durs.size) // one segment per clip
    got.foreach { case (id, s, e) =>
      assert(s == 0L && e == (((durs(id) - 1) / 1000) + 1) * 1000)
    }
    assert(Multimodal.audioSegments(media, threshold = 256).count() == 0)
  }
}

/** g55 Monte-Carlo PPR: fixed (deterministic-walk) error vs the exact
  * personalized loop, endpoint-mass conservation, sink absorption.
  */
class McPprSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  test("MC estimate tracks the exact personalized loop; mass conserved") {
    val sp = spark
    import sp.implicits._
    val edges = graft.sources.SyntheticGraph.portable(sp, 400, 1200, "g55")
    val mc = graft.operators.Walks
      .mcPersonalizedPageRank(
        edges, seed = 7L, walks = 1000, maxSteps = 20, salt = "g55w")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // every walk ends somewhere exactly once
    assert(math.abs(mc.values.sum - 1.0) < 1e-9)
    val exact = graft.operators.PageRank.run(
      sp, edges,
      graft.operators.PageRankConfig(
        maxIter = 60, tol = 1e-12, minIter = 10),
      teleport = Some(Seq((7L, 1.0)).toDF("id", "w")))
      .ranks.collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    // the walks are salted md5 draws, so this error is a FIXED number
    // (re-runs reproduce it bit for bit), not a flaky sample
    val keys = mc.keySet ++ exact.filter(_._2 > 1e-6).keys
    val maxErr = keys.map(k =>
      math.abs(mc.getOrElse(k, 0.0) - exact.getOrElse(k, 0.0))).max
    assert(maxErr < 0.05, s"maxErr=$maxErr")
  }

  test("a sink seed absorbs every walk at itself") {
    val sp = spark
    import sp.implicits._
    val got = graft.operators.Walks
      .mcPersonalizedPageRank(
        Seq((1L, 2L)).toDF("src", "dst"), seed = 2L, walks = 50,
        maxSteps = 5, salt = "t")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    assert(got == Seq((2L, 50L, 1.0)))
  }
}

/** io11 deletion vectors: accumulate-and-union delete batches, exact
  * survivors, double-delete idempotence, and the plan contract (base
  * scan keeps pushdown; the DV side broadcasts as LEFT ANTI).
  */
class DeletionVectorsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  private def withDirs(f: (String, String) => Unit): Unit = {
    val base = java.nio.file.Files.createTempDirectory("dv_base").toString
    val dv = java.nio.file.Files.createTempDirectory("dv_dv").toString
    try f(base, dv)
    finally {
      import scala.jdk.CollectionConverters._
      Seq(base, dv).foreach { d =>
        java.nio.file.Files.walk(java.nio.file.Paths.get(d))
          .iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      }
    }
  }

  test("batches union; double delete is idempotent; survivors exact") {
    val sp = spark
    import sp.implicits._
    withDirs { (base, dv) =>
      (1L to 10L).map(i => (i, s"v$i")).toDF("k", "v")
        .write.mode("overwrite").parquet(base)
      DeletionVectors.appendDeletes(Seq(2L, 4L).toDF("k"), dv)
      DeletionVectors.appendDeletes(Seq(4L, 7L).toDF("k"), dv) // 4 twice
      val got = DeletionVectors.readMergeOnRead(spark, base, dv, "k")
        .select("k").collect().map(_.getLong(0)).sorted.toSeq
      assert(got == Seq(1L, 3L, 5L, 6L, 8L, 9L, 10L))
    }
  }

  test("read plan: broadcast LEFT ANTI, base-scan pushdown survives") {
    val sp = spark
    import sp.implicits._
    withDirs { (base, dv) =>
      (1L to 100L).map(i => (i, i % 5, s"v$i")).toDF("k", "g", "v")
        .write.mode("overwrite").parquet(base)
      DeletionVectors.appendDeletes(Seq(2L, 8L).toDF("k"), dv)
      val q = DeletionVectors.readMergeOnRead(spark, base, dv, "k")
        .filter(col("g") === 2)
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
      assert(p.contains("PushedFilters: [IsNotNull(g), EqualTo(g,2)"), p)
      assert(q.count() == 19) // 20 with g=2, minus deleted k=2
    }
  }
}
