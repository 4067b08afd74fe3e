package graft

import graft.core.ConfScope
import graft.operators.{PageRank, PageRankConfig, PlanScope}
import graft.sources.{ClaimTimeoutException, CommitClaim, LakeTable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-17: the SQL graph verbs (PAGERANK/COMPONENTS — plumbing over
  * the audited operators), the offset-relative CHANGES … CONSUMER verb,
  * the tiny-graph planning scope, and claim ownership + heartbeat.
  */
class SqlGraphVerbSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def r9(df: DataFrame): DataFrame =
    df.select(col("id"), round(col("rank"), 9).as("r"))

  test("PAGERANK USING ≡ PageRank.run (options parsed, order-free)") {
    val sel = "SELECT * FROM VALUES (0L,1L),(1L,2L),(2L,0L),(2L,3L) " +
      "AS t(src, dst)"
    val viaSql = GraftSql.exec(spark, sfDir,
      s"PAGERANK DAMPING 0.5 MAXITER 3 USING $sel")
    val direct = PageRank.run(
      spark, spark.sql(sel), PageRankConfig(damping = 0.5, maxIter = 3))
    assert(r9(viaSql).exceptAll(r9(direct.ranks)).count() == 0)
    assert(r9(direct.ranks).exceptAll(r9(viaSql)).count() == 0)
  }

  test("COMPONENTS USING ≡ componentsFromPairs") {
    val sel = "SELECT * FROM VALUES (0L,1L),(2L,3L),(3L,4L),(9L,9L) " +
      "AS t(src, dst)"
    val viaSql = GraftSql.exec(spark, sfDir, s"COMPONENTS USING $sel")
    val direct = graft.operators.Dedup.componentsFromPairs(
      spark.sql(sel).select(col("src").as("id_a"), col("dst").as("id_b")))
      .select(col("doc_id").as("id"), col("group_id").as("component_id"))
    assert(viaSql.exceptAll(direct).count() == 0)
    assert(direct.exceptAll(viaSql).count() == 0)
  }

  test("graph verbs fail LOUDLY off-grammar and off-contract") {
    // body without src/dst: the contract in the message
    val e1 = intercept[IllegalArgumentException](
      GraftSql.exec(spark, sfDir, "PAGERANK USING SELECT 1 AS a"))
    assert(e1.getMessage.contains("src, dst"))
    // unknown option name never half-parses
    val e2 = intercept[RuntimeException](
      GraftSql.exec(spark, sfDir,
        "PAGERANK WIBBLE 3 USING SELECT 1L AS src, 2L AS dst"))
    assert(e2.getMessage.contains("Supported forms"))
    val e3 = intercept[RuntimeException](
      GraftSql.exec(spark, sfDir, "COMPONENTS FRM LAKE 'x'"))
    assert(e3.getMessage.contains("Supported forms"))
  }

  test("CHANGES … CONSUMER: bootstrap, delta, caught-up, offset commit") {
    val root = java.nio.file.Files.createTempDirectory("w17_cons").toString
    val cons = java.nio.file.Files.createTempDirectory("w17_consd").toString
    try {
      val sp = spark
      import sp.implicits._
      LakeTable.append(
        Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v"), root, "k")
      // bootstrap: full head snapshot as insert rows, offset commits
      val hop1 = GraftSql.exec(spark, sfDir,
        s"CHANGES FROM LAKE '$root' KEY k CONSUMER '$cons'")
      assert(hop1.count() == 3)
      assert(hop1.filter(col("_change_type") =!= "insert").count() == 0)
      val gen1 = graft.streaming.LakeChangeFeed.committedGen(spark, cons)
      assert(gen1.isDefined, "bootstrap must commit the offset")
      // caught up: empty frame, offset untouched
      val hop2 = GraftSql.exec(spark, sfDir,
        s"CHANGES FROM LAKE '$root' KEY k CONSUMER '$cons'")
      assert(hop2.count() == 0)
      assert(graft.streaming.LakeChangeFeed.committedGen(spark, cons) == gen1)
      // a merge lands; the next hop reads EXACTLY the delta
      LakeTable.merge(
        Seq((2L, 21L), (4L, 40L)).toDF("k", "v"), root, "k")
      val hop3 = GraftSql.exec(spark, sfDir,
        s"CHANGES FROM LAKE '$root' KEY k CONSUMER '$cons'")
      val byType = hop3.groupBy(col("_change_type")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(byType == Map(
        "insert" -> 1L, "update_pre" -> 1L, "update_post" -> 1L))
      assert(
        graft.streaming.LakeChangeFeed.committedGen(spark, cons) != gen1)
    } finally {
      import scala.jdk.CollectionConverters._
      Seq(root, cons).foreach { d =>
        java.nio.file.Files.walk(java.nio.file.Paths.get(d))
          .iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      }
    }
  }
}

class PlanScopeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  private val key = "spark.sql.shuffle.partitions"

  test("narrow sets, nests (refcounted), and restores on every path") {
    val before = spark.conf.get(key)
    PlanScope.narrowShufflePartitions(spark, 1) {
      assert(spark.conf.get(key) == "1")
      PlanScope.narrowShufflePartitions(spark, 1) {
        assert(spark.conf.get(key) == "1")
      }
      assert(spark.conf.get(key) == "1", "inner exit must not restore")
    }
    assert(spark.conf.get(key) == before)
    // exception path restores too
    intercept[RuntimeException](
      PlanScope.narrowShufflePartitions(spark, 1) {
        sys.error("boom")
      })
    assert(spark.conf.get(key) == before)
  }

  test("the scope only NARROWS — a wide target is the identity") {
    val before = spark.conf.get(key)
    PlanScope.narrowShufflePartitions(spark, 10000) {
      assert(spark.conf.get(key) == before)
    }
    assert(spark.conf.get(key) == before)
  }

  test("narrowTarget: ~8k rows per reducer, floored at 1, capped at session") {
    assert(PlanScope.narrowTarget(spark, 0L) == 1)
    assert(PlanScope.narrowTarget(spark, 1200L) == 1)
    assert(PlanScope.narrowTarget(spark, 20000L) == 3)
    val w = spark.sessionState.conf.numShufflePartitions
    assert(PlanScope.narrowTarget(spark, Long.MaxValue / 2) == w)
  }

  test("Louvain labels are IDENTICAL at different shuffle widths") {
    // the narrowing is perf-only: the exact-integer decision algebra
    // must produce the same trajectory at any partition count (an
    // outer explicit scope pins the width — the inner narrowFor
    // refcounts into it without re-narrowing)
    val e = graft.sources.SyntheticGraph.portable(spark, 80, 240, "w17")
    def labelsAt(width: Int): Seq[(Long, Long)] =
      PlanScope.narrowShufflePartitions(spark, width) {
        graft.operators.Louvain.moveRounds(e, 3).collect()
          .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      }
    assert(labelsAt(1) == labelsAt(3))
  }

  // ConfScope, the save/set/restore under PlanScope and PageRank's AQE
  // scope: refcounted per (session, key), restored from getAll
  private val aqeKey = "spark.sql.adaptive.enabled"

  test("ConfScope: two keys nested (narrowing outside, AQE inside) restore independently") {
    val before = spark.conf.getAll
    val (width0, aqe0) = (spark.conf.get(key), spark.conf.get(aqeKey))
    PlanScope.narrowShufflePartitions(spark, 1) {
      ConfScope(spark, aqeKey -> "false") {
        assert(spark.conf.get(key) == "1")
        assert(spark.conf.get(aqeKey) == "false")
      }
      assert(spark.conf.get(aqeKey) == aqe0, "inner exit restores its own key")
      assert(spark.conf.get(key) == "1", "inner exit must not touch the outer key")
    }
    assert(spark.conf.get(key) == width0)
    assert(spark.conf.getAll == before)
  }

  test("ConfScope: a nested scope on the same key keeps the outer value") {
    val before = spark.conf.getAll
    ConfScope(spark, aqeKey -> "false") {
      ConfScope(spark, aqeKey -> "true") {
        assert(spark.conf.get(aqeKey) == "false", "the outer value wins")
      }
      assert(spark.conf.get(aqeKey) == "false", "inner exit must not restore")
    }
    assert(spark.conf.getAll == before)
  }

  test("ConfScope: a throwing body restores, and an unset key is unset again") {
    // a registered key with a default nothing in the engine sets:
    // getOption would report its default, getAll knows it is unset
    val unsetKey = "spark.sql.files.maxRecordsPerFile"
    val before = spark.conf.getAll
    assert(!before.contains(unsetKey))
    intercept[RuntimeException](
      ConfScope(spark, unsetKey -> "7", aqeKey -> "false") {
        assert(spark.conf.get(unsetKey) == "7")
        sys.error("boom")
      })
    assert(!spark.conf.getAll.contains(unsetKey))
    assert(spark.conf.getAll == before)
  }

  test("narrowForRows narrows by an exact count and restores") {
    val before = spark.conf.get(key)
    PlanScope.narrowForRows(spark, 500L) {
      assert(spark.conf.get(key) == "1")
    }
    assert(spark.conf.get(key) == before)
  }

  // The r17 wraps extend the Louvain differential above to the other
  // loop families: each wrapped operator's RESULT must be identical at
  // width 1 and width 3 (the values are partition-count-independent
  // algebra; the narrowing is scheduling-only).
  private def at[T](width: Int)(body: => T): T =
    PlanScope.narrowShufflePartitions(spark, width)(body)

  test("HITS scores are IDENTICAL at different shuffle widths") {
    val e = graft.sources.SyntheticGraph.portable(spark, 60, 180, "w17h")
    def scores(width: Int) = at(width) {
      graft.operators.Hits.run(e, k = 3).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
        .sortBy(_._1).toSeq
    }
    assert(scores(1) == scores(3))
  }

  test("SSSP distances are IDENTICAL at different shuffle widths") {
    import org.apache.spark.sql.functions._
    val e = graft.sources.SyntheticGraph.portable(spark, 60, 180, "w17s")
      .withColumn("w", (pmod(col("src") + col("dst"), lit(5)) + 1).cast("double"))
    val seed = e.agg(min(col("src")).as("id"))
    def dists(width: Int) = at(width) {
      graft.operators.ShortestPaths.runConverged(e, seed, maxRounds = 30)
        ._1.collect().map(r => (r.getLong(0), r.getDouble(1)))
        .sortBy(_._1).toSeq
    }
    assert(dists(1) == dists(3))
  }

  test("tiny-graph PageRank ranks are IDENTICAL at different widths") {
    // the r17 PageRank narrowing is gated on this: the 9-dp-rounded
    // ranks every caller hashes must not move with the plan width
    val e = graft.sources.SyntheticGraph.portable(spark, 60, 180, "w17p")
    def ranks(width: Int) = at(width) {
      PageRank.runFixed(spark, e, k = 4).ranks.collect()
        .map(r => (r.getLong(0), math.rint(r.getDouble(1) * 1e9)))
        .sortBy(_._1).toSeq
    }
    assert(ranks(1) == ranks(3))
  }

  test("PPJoin pairs are IDENTICAL at different shuffle widths") {
    val sp = spark
    import sp.implicits._
    val docs = Seq(
      (1L, "a b c d e"), (2L, "a b c d f"), (3L, "x y z w v"),
      (4L, "a b c d e"), (5L, "p q r s t")).toDF("doc_id", "text")
    def pairs(width: Int) = at(width) {
      graft.operators.Dedup.ppJoin(docs, tau = 0.5).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(p => (p._1, p._2)).toSeq
    }
    assert(pairs(1) == pairs(3))
  }
}

class ClaimOwnershipSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  private def withDir(f: String => Unit): Unit = {
    val d = java.nio.file.Files.createTempDirectory("w17_claim").toString
    try f(d)
    finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(d))
        .iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("release never deletes a claim that is not OURS (r16 advice #1)") {
    withDir { dir =>
      val claim = java.nio.file.Paths.get(s"$dir/_claim")
      CommitClaim.withClaim(spark, dir) {
        // simulate being stale-broken mid-section: our claim vanishes
        // and a NEW holder's claim lands in its place
        java.nio.file.Files.delete(claim)
        java.nio.file.Files.write(claim, "next-holder\n".getBytes("UTF-8"))
      }
      // the finally-release must have left the next holder's claim alone
      assert(java.nio.file.Files.exists(claim),
        "release stole the next holder's live claim")
      assert(new String(java.nio.file.Files.readAllBytes(claim), "UTF-8")
        .contains("next-holder"))
    }
  }

  test("heartbeat: a HEALTHY slow holder is never judged stale") {
    withDir { dir =>
      val staleMs = 900L
      val brokenIn = new java.util.concurrent.atomic.AtomicBoolean(false)
      val holder = new Thread(() => {
        CommitClaim.withClaim(spark, dir, staleMs = staleMs) {
          Thread.sleep(3 * staleMs) // well past staleMs — heartbeat case
        }
        ()
      })
      holder.start()
      Thread.sleep(200L) // let the holder acquire
      // a waiter with stale-break armed at the same staleMs: without the
      // heartbeat it would break the slow holder and enter; with it, the
      // mtime stays fresh and the waiter times out LOUDLY
      intercept[ClaimTimeoutException](
        CommitClaim.withClaim(
          spark, dir, staleMs = staleMs, timeoutMs = 2 * staleMs) {
          brokenIn.set(true)
        })
      holder.join()
      assert(!brokenIn.get(), "waiter broke a heartbeating healthy holder")
      // after the holder releases, the claim is free
      val r = CommitClaim.withClaim(spark, dir) { 7 }
      assert(r == 7)
    }
  }

  test("claim-wait timeout is TYPED (OCC callers count it a lost race)") {
    withDir { dir =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/_claim"), "foreign\n".getBytes)
      intercept[ClaimTimeoutException](
        CommitClaim.withClaim(
          spark, dir, staleMs = 60000L, timeoutMs = 250L) {
          fail("must not enter")
        })
    }
  }
}

/** Multi-column secondary stats (r16 verdict #6): compactZ's statCols,
  * per-column pruning, and bounds surviving merge/deleteRange.
  */
class MultiColStatsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  private def withRoot(f: String => Unit): Unit = {
    val d = java.nio.file.Files.createTempDirectory("w17_mc").toString
    try f(d)
    finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(d))
        .iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  // k the key, u a scattered second dim, d a key-correlated third dim
  private def table(): DataFrame = {
    val sp = spark
    import sp.implicits._
    (0L until 200L).map(k => (k, (k * 37L) % 200L, k / 10L, k * 2L))
      .toDF("k", "u", "d", "v")
  }

  test("compactZ statCols: three tracked columns, each prunable, " +
    "surviving merge AND deleteRange") {
    withRoot { root =>
      val t = table()
      LakeTable.append(t.filter(col("k") < 100L), root, "k")
      LakeTable.append(t.filter(col("k") >= 100L), root, "k")
      LakeTable.compactZ(spark, root, "k", "u", buckets = 4,
        statCols = Seq("d"))
      val rows = LakeTable.currentRows(spark, root)
      assert(rows.forall(b =>
        b.sec.exists(_.col2 == "u") && b.sec.exists(_.col2 == "d")),
        s"every bucket must carry BOTH tracked columns: $rows")
      // the key-correlated third column prunes (d in [0,4] ⇔ k < 50)
      val dRead = LakeTable.planPrunedOn(rows, "d", 0L, 4L).size
      assert(dRead < rows.size, s"no pruning on d: $dRead/${rows.size}")
      // an untracked column keeps everything (conservative)
      assert(LakeTable.planPrunedOn(rows, "v", 0L, 1L).size == rows.size)
      // a merge wave on low keys: bounds survive for BOTH columns
      val src = t.filter(col("k") < 25L && col("k") % 3L === 0L)
        .withColumn("v", col("v") + 1L)
      LakeTable.merge(src, root, "k")
      val post = LakeTable.currentRows(spark, root)
      val rewritten = post.filterNot(b => rows.exists(_.path == b.path))
      assert(rewritten.nonEmpty)
      assert(rewritten.forall(b =>
        b.sec.exists(_.col2 == "u") && b.sec.exists(_.col2 == "d")),
        s"merge dropped a tracked column: $rewritten")
      assert(LakeTable.planPrunedOn(post, "d", 0L, 4L).size < post.size)
      // readPrunedOn returns the exact slice post-merge
      val got = LakeTable.readPrunedOn(spark, root, "d", 0L, 4L)
        .agg(sum(col("v"))).collect()(0).getLong(0)
      val want = (0L until 50L)
        .map(k => if (k < 25L && k % 3L == 0L) 2L * k + 1L else 2L * k).sum
      assert(got == want)
      // deleteRange straddler: removal-only rewrite keeps both stats
      LakeTable.deleteRange(spark, root, "k", 95L, 105L)
      val afterDel = LakeTable.currentRows(spark, root)
      val delRewritten =
        afterDel.filterNot(b => post.exists(_.path == b.path))
      assert(delRewritten.forall(b =>
        b.sec.exists(_.col2 == "u") && b.sec.exists(_.col2 == "d")),
        s"deleteRange dropped a tracked column: $delRewritten")
    }
  }

  test("a column only SOME touched batches bound is dropped for the " +
    "rewrite; the others keep their stats") {
    withRoot { root =>
      val t = table()
      // batch 1 tracked (z-compacted), batch 2 appended AFTER — no sec
      LakeTable.append(t.filter(col("k") < 100L), root, "k")
      LakeTable.compactZ(spark, root, "k", "u", buckets = 2,
        statCols = Seq("d"))
      LakeTable.append(t.filter(col("k") >= 100L), root, "k")
      // merge touching a tracked AND the untracked batch: per-column
      // union needs EVERY touched batch bounded, so the rewrite batch
      // carries no stats — conservative, and the untouched tracked
      // batches keep theirs
      val src = t.filter(col("k").isin(0L, 150L))
        .withColumn("v", col("v") + 1L)
      LakeTable.merge(src, root, "k")
      val post = LakeTable.currentRows(spark, root)
      assert(post.exists(b => b.sec.exists(_.col2 == "d")),
        "untouched tracked batches must keep their stats")
      // correctness regardless: pruning keeps unbounded batches
      val full = LakeTable.readPrunedOn(spark, root, "d", 0L, 100L)
        .count()
      assert(full == 200L)
    }
  }
}

/** The graft-cdf streaming source (st30): checkpoint-integrated offsets
  * over the lake's row-level feed.
  */
class CdfSourceSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  private def withDirs(f: (String, String, String) => Unit): Unit = {
    val ds = Seq("w17cdf_l", "w17cdf_k", "w17cdf_o")
      .map(p => java.nio.file.Files.createTempDirectory(p).toString)
    try f(ds(0), ds(1), ds(2))
    finally {
      import scala.jdk.CollectionConverters._
      ds.foreach { d =>
        java.nio.file.Files.walk(java.nio.file.Paths.get(d))
          .iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      }
    }
  }

  test("bootstrap → kill → merge → restart-from-checkpoint reads the delta") {
    withDirs { (lake, ckpt, out) =>
      val sp = spark
      import sp.implicits._
      LakeTable.append(
        Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v"), lake, "k")
      def leg(): Unit = {
        val q = spark.readStream.format("graft-cdf")
          .option("key", "k").load(lake)
          .writeStream
          .option("checkpointLocation", ckpt)
          .foreachBatch { (df: DataFrame, _: Long) =>
            df.write.mode("overwrite")
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy("_generation")
              .parquet(out)
            ()
          }
          .start()
        try q.processAllAvailable()
        finally q.stop()
      }
      leg() // bootstrap: 3 insert rows at g1
      val boot = spark.read.parquet(out)
      assert(boot.count() == 3)
      assert(boot.filter(col("_change_type") =!= "insert").count() == 0)
      LakeTable.merge(Seq((2L, 21L), (4L, 40L)).toDF("k", "v"), lake, "k")
      leg() // a FRESH query on the same checkpoint: exactly the delta
      val all = spark.read.parquet(out)
      val byType = all.groupBy(col("_change_type")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(byType == Map(
        "insert" -> 4L, "update_pre" -> 1L, "update_post" -> 1L))
      // signed reconstruction equals the live state
      val rebuilt = all
        .withColumn("sign",
          when(col("_change_type").isin("insert", "update_post"), 1L)
            .otherwise(-1L))
        .groupBy(col("k"))
        .agg(sum(col("sign") * col("v")).as("v"))
        .filter(col("v").isNotNull)
      val live = LakeTable.read(spark, lake).select(col("k"), col("v"))
      assert(rebuilt.exceptAll(live).count() == 0)
      assert(live.exceptAll(rebuilt).count() == 0)
      leg() // caught up: nothing new lands in the sink
      assert(spark.read.parquet(out).count() == all.count())
    }
  }

  test("graft-cdf fails LOUDLY without a key option or a committed lake") {
    withDirs { (lake, _, _) =>
      val e1 = intercept[RuntimeException](
        spark.readStream.format("graft-cdf").load(lake))
      assert(e1.getMessage.contains("key"))
      val e2 = intercept[RuntimeException](
        spark.readStream.format("graft-cdf").option("key", "k").load(lake))
      assert(e2.getMessage.contains("nothing committed"))
    }
  }
}
