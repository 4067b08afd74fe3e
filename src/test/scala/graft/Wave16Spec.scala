package graft

import graft.sources.{CommitClaim, LakeTable, Snapshots}
import graft.streaming.LakeChangeFeed
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-16: manifest-recorded key enforcement (a wrong key must fail
  * loudly, never silently misprune), secondary-stat survival across
  * merge/delete/compact, overflow-safe z-scaling, the cross-process
  * commit claim, and the grace-gated Snapshots.sweep.
  */
class LakeKeyGuardSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  private def withRoot(f: String => Unit): Unit = {
    val root = java.nio.file.Files.createTempDirectory("w16_key").toString
    try f(root)
    finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(root))
        .iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  private def kv(pairs: (Long, Long)*): DataFrame = {
    val sp = spark
    import sp.implicits._
    pairs.toDF("k", "v")
  }

  test("every keyed op rejects a key other than the manifest's") {
    withRoot { root =>
      LakeTable.append(kv(1L -> 10L, 2L -> 20L), root, "k")
      def loud(f: => Any): Unit = {
        val e = intercept[IllegalArgumentException](f)
        assert(e.getMessage.contains("key mismatch"), e.getMessage)
      }
      loud(LakeTable.append(kv(3L -> 30L), root, "v"))
      loud(LakeTable.merge(kv(3L -> 30L), root, "v"))
      loud(LakeTable.applyChanges(
        kv(3L -> 30L).withColumn("op", lit("U")), root, "v"))
      loud(LakeTable.deleteRange(spark, root, "v", 0L, 5L))
      loud(LakeTable.readPruned(spark, root, "v", 0L, 5L))
      loud(LakeTable.compact(spark, root, "v", Seq(1L)))
      loud(LakeTable.compactZ(spark, root, "v", "k", 2))
      val g = LakeTable.currentName(spark, root).get
      loud(LakeTable.changesBetween(spark, root, "v", g, g))
      // the right key still works end to end after all the refusals
      LakeTable.merge(kv(2L -> 99L, 3L -> 30L), root, "k")
      assert(LakeTable.read(spark, root).count() == 3L)
    }
  }

  test("pre-field manifests accept any key and are stamped by the next publish") {
    withRoot { root =>
      LakeTable.append(kv(1L -> 10L, 2L -> 20L), root, "k")
      // simulate a manifest written before the kcol field existed
      val g = LakeTable.currentName(spark, root).get
      val manDir = s"$root/manifest/$g"
      val rows = spark.read.parquet(manDir).drop("kcol").collect()
      val schema = spark.read.parquet(manDir).drop("kcol").schema
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          java.util.Arrays.asList(rows: _*)), schema)
        .coalesce(1).write.mode("overwrite").parquet(manDir)
      // permissive: the legacy manifest can't vouch for any key
      LakeTable.merge(kv(3L -> 30L), root, "k")
      // ...but the merge's publish stamped it: now enforced
      val e = intercept[IllegalArgumentException](
        LakeTable.merge(kv(4L -> 40L), root, "v"))
      assert(e.getMessage.contains("key mismatch"))
      assert(LakeTable.read(spark, root).count() == 3L)
    }
  }

  test("a key-less publish over an unreadable live manifest fails loudly") {
    withRoot { root =>
      LakeTable.append(kv(1L -> 10L, 2L -> 20L), root, "k")
      val (rows, obs) = LakeTable.currentState(spark, root)
      // junk bytes in the live manifest's parquet file (checksums gone,
      // so the reader sees the junk itself)
      val manDir = new java.io.File(s"$root/manifest/${obs.get}")
      manDir.listFiles().filter(_.getName.endsWith(".crc"))
        .foreach(f => java.nio.file.Files.delete(f.toPath))
      manDir.listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(f => java.nio.file.Files.write(
          f.toPath, "not a parquet file".getBytes("UTF-8")))
      // the recorded key cannot be read: publishing without it would
      // drop the key guard, so the publish must fail, not go key-less
      intercept[Exception](
        LakeTable.publishIfCurrent(spark, root, rows, obs))
      assert(LakeTable.currentName(spark, root) == obs, "nothing published")
    }
  }

  test("a key-less publish over a swept observed generation is refused, not failed") {
    withRoot { root =>
      LakeTable.append(kv(1L -> 10L, 2L -> 20L), root, "k")
      val (rowsA, obsA) = LakeTable.currentState(spark, root)
      LakeTable.merge(kv(3L -> 30L), root, "k")
      LakeTable.sweep(spark, root, orphanGraceMs = 0L)
      assert(!new java.io.File(s"$root/manifest/${obsA.get}").exists())
      assert(!LakeTable.publishIfCurrent(spark, root, rowsA, obsA))
      // the live observation still publishes and keeps the recorded key
      val (rows, obs) = LakeTable.currentState(spark, root)
      assert(LakeTable.publishIfCurrent(spark, root, rows, obs))
      assert(LakeTable.currentStateKeyed(spark, root)._3.contains("k"))
      assert(LakeTable.read(spark, root).count() == 3L)
    }
  }

  test("secondary bounds survive merge, and pruning still skips batches") {
    withRoot { root =>
      val sp = spark
      import sp.implicits._
      // two well-separated v-clusters so z-buckets split them cleanly
      val df = (0L until 400L).map(i =>
        (i, if (i % 2 == 0) i else 1000000L + i)).toDF("k", "v")
      LakeTable.append(df, root, "k")
      LakeTable.compactZ(spark, root, "k", "v", buckets = 4)
      val before = LakeTable.currentRows(spark, root)
      assert(before.forall(_.sec.exists(_.col2 == "v")))
      val prunedBefore =
        LakeTable.planPrunedOn(before, "v", 0L, 500L).size
      assert(prunedBefore < before.size, "z layout must prune the probe")
      // a routine merge touching ONE cluster's keys
      LakeTable.merge(
        Seq((2L, 40L), (9000L, 123L)).toDF("k", "v"), root, "k")
      val after = LakeTable.currentRows(spark, root)
      val rewritten = after.filterNot(b => before.exists(_.path == b.path))
      assert(rewritten.nonEmpty)
      assert(rewritten.forall(_.sec.exists(_.col2 == "v")),
        "the merge rewrite must keep (widened) secondary bounds")
      assert(LakeTable.planPrunedOn(after, "v", 2000000L, 3000000L).size
        < after.size,
        "post-merge pruning must still skip provably-disjoint batches")
      // correctness: probe ≡ direct filter
      val got = LakeTable.readPrunedOn(spark, root, "v", 0L, 500L)
        .agg(sum(col("k"))).collect()(0).getLong(0)
      val want = LakeTable.read(spark, root)
        .filter(col("v") >= 0L && col("v") <= 500L)
        .agg(sum(col("k"))).collect()(0).getLong(0)
      assert(got == want)
    }
  }

  test("secondary bounds survive deleteRange straddlers and lex compact") {
    withRoot { root =>
      val sp = spark
      import sp.implicits._
      val df = (0L until 400L).map(i =>
        (i, if (i % 2 == 0) i else 1000000L + i)).toDF("k", "v")
      LakeTable.append(df, root, "k")
      LakeTable.compactZ(spark, root, "k", "v", buckets = 4)
      // a straddling retention delete: every surviving rewrite keeps
      // its (union) bounds
      LakeTable.deleteRange(spark, root, "k", 100L, 150L)
      val afterDel = LakeTable.currentRows(spark, root)
      assert(afterDel.forall(_.sec.exists(_.col2 == "v")))
      // a lex re-compact recomputes EXACT per-bucket bounds for the
      // tracked column in the same grouped agg
      LakeTable.compact(spark, root, "k", Seq(200L))
      val afterCmp = LakeTable.currentRows(spark, root)
      assert(afterCmp.size == 2)
      assert(afterCmp.forall(_.sec.exists(_.col2 == "v")))
      val got = LakeTable.readPrunedOn(spark, root, "v", 0L, 500L)
        .agg(sum(col("k"))).collect()(0).getLong(0)
      val want = LakeTable.read(spark, root)
        .filter(col("v") >= 0L && col("v") <= 500L)
        .agg(sum(col("k"))).collect()(0).getLong(0)
      assert(got == want)
    }
  }

  test("compactZ on a ~1e15 span clusters correctly (no overflow wrap)") {
    withRoot { root =>
      val sp = spark
      import sp.implicits._
      // two clusters a quadrillion apart: the old (c-lo)*65535 Long
      // arithmetic wrapped here and scattered them across buckets
      val df = (0L until 1000L).map(i =>
        (i, if (i % 2 == 0) -500000000000000L + i
            else 500000000000000L + i)).toDF("k", "wide")
      LakeTable.append(df, root, "k")
      LakeTable.compactZ(spark, root, "k", "wide", buckets = 2)
      val rows = LakeTable.currentRows(spark, root)
      // the low cluster's probe must PRUNE to a strict subset — wrapped
      // z-values would smear both clusters into every bucket
      val kept = LakeTable.planPrunedOn(
        rows, "wide", -500000000000000L, -499999999999000L)
      assert(kept.size < rows.size,
        s"wide-span z-clustering degraded: ${kept.size} of ${rows.size}")
      val got = LakeTable.readPrunedOn(
        spark, root, "wide", -500000000000000L, -499999999999000L).count()
      assert(got == 500L)
      // full-range guard fails loudly instead of wrapping
      val wild = Seq((1L, Long.MinValue), (2L, Long.MaxValue))
        .toDF("k", "wide")
      val root2 = java.nio.file.Files.createTempDirectory("w16_ovf").toString
      try {
        LakeTable.append(wild, root2, "k")
        val e = intercept[IllegalArgumentException](
          LakeTable.compactZ(spark, root2, "k", "wide", 2))
        assert(e.getMessage.contains("spans"))
      } finally {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(java.nio.file.Paths.get(root2))
          .iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      }
    }
  }

  test("fully-pruned probes return the post-evolution union schema") {
    withRoot { root =>
      val sp = spark
      import sp.implicits._
      LakeTable.append(kv(1L -> 10L, 2L -> 20L), root, "k")
      LakeTable.merge(
        Seq((100L, 1L, 7L)).toDF("k", "v", "extra"), root, "k",
        mergeSchema = true)
      val empty = LakeTable.readPruned(spark, root, "k", 500L, 600L)
      assert(empty.count() == 0L)
      assert(empty.columns.contains("extra"),
        "the empty frame must carry evolved columns")
    }
  }
}

/** The cross-process commit claim: create-exclusive mutual exclusion
  * with stale-claim breaking and a loud bounded wait.
  */
class CommitClaimSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  private def withDir(f: String => Unit): Unit = {
    val d = java.nio.file.Files.createTempDirectory("w16_claim").toString
    try f(d)
    finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(d))
        .iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("a stale claim (crashed holder) is broken, a fresh one waits") {
    withDir { dir =>
      val claim = new java.io.File(s"$dir/_claim")
      claim.getParentFile.mkdirs()
      assert(claim.createNewFile())
      claim.setLastModified(System.currentTimeMillis() - 700000L)
      // stale: broken and acquired
      val r = CommitClaim.withClaim(spark, dir) { 42 }
      assert(r == 42)
      assert(!claim.exists(), "claim must be released after the body")
      // fresh: the waiter times out LOUDLY instead of queueing forever
      assert(claim.createNewFile())
      val e = intercept[RuntimeException](
        CommitClaim.withClaim(spark, dir,
          staleMs = 60000L, timeoutMs = 300L) { fail("must not enter") })
      assert(e.getMessage.contains("claim"))
      claim.delete()
    }
  }

  test("racing breakers of one stale claim still exclude (atomic break)") {
    withDir { dir =>
      // the check-then-delete hazard: every waiter sees the SAME stale
      // corpse; a non-atomic break lets the second waiter delete the
      // first's fresh claim and both enter. The rename-break admits
      // exactly one at a time.
      val claim = new java.io.File(s"$dir/_claim")
      claim.getParentFile.mkdirs()
      assert(claim.createNewFile())
      claim.setLastModified(System.currentTimeMillis() - 700000L)
      val inside = new java.util.concurrent.atomic.AtomicInteger(0)
      val maxInside = new java.util.concurrent.atomic.AtomicInteger(0)
      val ths = (1 to 6).map { _ =>
        new Thread(() => {
          CommitClaim.withClaim(spark, dir) {
            val now = inside.incrementAndGet()
            maxInside.updateAndGet(m => math.max(m, now))
            Thread.sleep(20L)
            inside.decrementAndGet()
          }
          ()
        })
      }
      ths.foreach(_.start()); ths.foreach(_.join())
      assert(maxInside.get() == 1, s"overlap: ${maxInside.get()} inside")
    }
  }

  test("the claim serializes concurrent holders (no overlap)") {
    withDir { dir =>
      val inside = new java.util.concurrent.atomic.AtomicInteger(0)
      val maxInside = new java.util.concurrent.atomic.AtomicInteger(0)
      val ths = (1 to 4).map { _ =>
        new Thread(() => {
          CommitClaim.withClaim(spark, dir) {
            val now = inside.incrementAndGet()
            maxInside.updateAndGet(m => math.max(m, now))
            Thread.sleep(30L)
            inside.decrementAndGet()
          }
          ()
        })
      }
      ths.foreach(_.start()); ths.foreach(_.join())
      assert(maxInside.get() == 1, s"overlap: ${maxInside.get()} inside")
    }
  }
}

/** The grace-gated Snapshots.sweep: an in-flight appender's staged dir and a
  * young superseded generation survive a concurrent expire; grace 0 is
  * the single-writer collect-now mode the io12c row uses.
  */
class PtrSweepGraceSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  private def withRoot(f: String => Unit): Unit = {
    val root = java.nio.file.Files.createTempDirectory("w16_ps").toString
    try f(root)
    finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(root))
        .iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("expire racing live appenders never drops a committed version") {
    // the lost-update shape the optimistic expire exists for: a commit
    // landing between expire's checkpoint and its publish must survive
    // into the published manifest (pre-fix, the stale `kept` list
    // silently omitted it). Free-running appender vs repeated expires;
    // every acknowledged append must be readable at the end.
    val sp = spark
    import sp.implicits._
    withRoot { root =>
      Snapshots.commit(Seq(0L).toDF("k"), root, 1)
      val appended = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
      val appender = new Thread(() => {
        (1 to 8).foreach { i =>
          Snapshots.appendNext(Seq(100L + i).toDF("k"), root)
          appended.add(100L + i)
          ()
        }
      })
      appender.start()
      (1 to 3).foreach { _ =>
        Snapshots.expire(spark, root, cut = 1)
        Thread.sleep(30L)
      }
      appender.join()
      Snapshots.expire(spark, root, cut = 1)
      val live = Snapshots.readVersion(spark, root, Int.MaxValue)
        .select(col("k")).collect().map(_.getLong(0)).toSet
      import scala.jdk.CollectionConverters._
      val lost = appended.asScala.toSet -- live
      assert(lost.isEmpty, s"acknowledged appends dropped by expire: $lost")
    }
  }

  test("a young staged append dir survives expire; grace 0 collects it") {
    val sp = spark
    import sp.implicits._
    withRoot { root =>
      Snapshots.commit(Seq(1L, 2L).toDF("k"), root, 1)
      Snapshots.commit(Seq(3L).toDF("k"), root, 2)
      // an appendNext mid-stage: data written, lock not yet taken
      Seq(9L).toDF("k").write.parquet(s"$root/data/a=inflight")
      Snapshots.expire(spark, root, cut = 1)
      assert(new java.io.File(s"$root/data/a=inflight").exists(),
        "the default grace must protect an in-flight stager")
      // the published state reads right regardless
      assert(Snapshots.readVersion(spark, root, 2).count() == 3L)
      Snapshots.expire(spark, root, cut = 1, graceMs = 0L)
      assert(!new java.io.File(s"$root/data/a=inflight").exists(),
        "grace 0 is the single-writer collect-now mode")
    }
  }
}

/** st29's engine: the streaming consumer over the ROW-LEVEL lake feed —
  * bootstrap snapshot, delta-only polls, crash redelivery, the no-op
  * caught-up poll, and the loud stalled-past-retention failure.
  */
class LakeChangeFeedSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  private def withDirs(f: (String, String, String) => Unit): Unit = {
    val ds = Seq("w16_lk", "w16_cons", "w16_out")
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

  private def kv(pairs: (Long, Long)*): DataFrame = {
    val sp = spark
    import sp.implicits._
    pairs.toDF("k", "v")
  }

  private def sinkTo(out: String)(
      df: DataFrame, from: Option[String], to: String): Unit =
    df.withColumn("feed_to", lit(LakeTable.ordinal(to)))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("feed_to").parquet(out)

  /** Reconstruct state from signed contributions over the sink. */
  private def state(out: String): Map[Long, Long] =
    spark.read.parquet(out)
      .withColumn("sign",
        when(col("_change_type").isin("insert", "update_post"), 1L)
          .otherwise(-1L))
      .groupBy(col("k"))
      .agg(sum(col("sign")).as("n"), sum(col("sign") * col("v")).as("v"))
      .collect().filter(_.getLong(1) != 0L)
      .map(r => r.getLong(0) -> r.getLong(2)).toMap

  test("bootstrap → merge delta → crash redelivery → delete → caught up") {
    withDirs { (lake, cons, out) =>
      LakeTable.append(kv(1L -> 10L, 2L -> 20L), lake, "k")
      LakeTable.append(kv(5L -> 50L), lake, "k")
      // bootstrap: full head state as inserts, offset at head
      val r1 = LakeChangeFeed.poll(spark, lake, "k", cons)(sinkTo(out))
      assert(r1.exists(_._1.isEmpty))
      assert(state(out) == Map(1L -> 10L, 2L -> 20L, 5L -> 50L))
      // caught up: a no-op
      assert(LakeChangeFeed.poll(spark, lake, "k", cons)(sinkTo(out)).isEmpty)
      // merge wave, then the crash: processed but offset never moved
      LakeTable.merge(kv(2L -> 99L, 7L -> 70L), lake, "k")
      val from = LakeChangeFeed.committedGen(spark, cons).get
      val head = LakeTable.currentName(spark, lake).get
      sinkTo(out)(
        LakeTable.changesBetween(spark, lake, "k", from, head),
        Some(from), head)
      // the re-poll REDELIVERS the same range; the range-keyed sink
      // overwrites — state converges, never double-counts
      val r2 = LakeChangeFeed.poll(spark, lake, "k", cons)(sinkTo(out))
      assert(r2.contains((Some(from), head)))
      assert(state(out) == Map(1L -> 10L, 2L -> 99L, 5L -> 50L, 7L -> 70L))
      // a CDC delete wave flows as negative contributions
      LakeTable.applyChanges(
        kv(5L -> 0L).withColumn("op", lit("D")), lake, "k")
      LakeChangeFeed.poll(spark, lake, "k", cons)(sinkTo(out))
      assert(state(out) == Map(1L -> 10L, 2L -> 99L, 7L -> 70L))
      assert(LakeChangeFeed.committedGen(spark, cons)
        .contains(LakeTable.currentName(spark, lake).get))
    }
  }

  test("a consumer stalled past retention fails loudly, never skips rows") {
    withDirs { (lake, cons, out) =>
      LakeTable.append(kv(1L -> 10L), lake, "k")
      LakeChangeFeed.poll(spark, lake, "k", cons)(sinkTo(out))
      val stalled = LakeChangeFeed.committedGen(spark, cons).get
      LakeTable.merge(kv(2L -> 20L), lake, "k")
      // simulate the sweep aging the offset generation out
      val gdir = new java.io.File(s"$lake/manifest/$stalled")
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(gdir)
      val e = intercept[IllegalArgumentException](
        LakeChangeFeed.poll(spark, lake, "k", cons)(sinkTo(out)))
      assert(e.getMessage.contains("retention") ||
        e.getMessage.contains("not on disk"))
    }
  }

  test("the streaming form drives polls from ticks") {
    withDirs { (lake, cons, out) =>
      val sp = spark
      import sp.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
      LakeTable.append(kv(1L -> 10L), lake, "k")
      val ticks = MemoryStream[Int]
      val q = LakeChangeFeed.streamingConsumer(
        ticks.toDS().toDF(), lake, "k", cons)(sinkTo(out))
      try {
        ticks.addData(1); q.processAllAvailable()
        LakeTable.merge(kv(1L -> 11L, 3L -> 30L), lake, "k")
        ticks.addData(2); q.processAllAvailable()
        ticks.addData(3); q.processAllAvailable()
      } finally q.stop()
      assert(state(out) == Map(1L -> 11L, 3L -> 30L))
    }
  }
}

/** SQL surface additions: VERSION AS OF + GENERATIONS, and the DML
  * wrong-key scenario from the r15 advice now failing loudly.
  */
class SqlTimeTravelSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def withRoot(f: String => Unit): Unit = {
    val root = java.nio.file.Files.createTempDirectory("w16_sqltt").toString
    try f(root)
    finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(root))
        .iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  private def kv(pairs: (Long, Long)*): DataFrame = {
    val sp = spark
    import sp.implicits._
    pairs.toDF("k", "v")
  }

  test("VERSION AS OF reads the retained generation; live reads the head") {
    withRoot { root =>
      LakeTable.append(kv(1L -> 10L, 2L -> 20L), root, "k")
      val g = LakeTable.currentName(spark, root).get
      LakeTable.merge(kv(2L -> 99L, 3L -> 30L), root, "k")
      val asof = GraftSql.exec(spark, sfDir,
        s"SELECT sum(v) AS sv FROM LAKE '$root' VERSION AS OF '$g'")
        .collect()(0).getLong(0)
      assert(asof == 30L)
      val live = GraftSql.exec(spark, sfDir,
        s"SELECT sum(v) AS sv FROM LAKE '$root'")
        .collect()(0).getLong(0)
      assert(live == 139L)
      // both states joinable in ONE statement
      val both = GraftSql.exec(spark, sfDir,
        s"""SELECT a.sv AS asof_sv, b.sv AS live_sv FROM
           |(SELECT sum(v) AS sv FROM LAKE '$root' VERSION AS OF '$g') a
           |CROSS JOIN
           |(SELECT sum(v) AS sv FROM LAKE '$root') b""".stripMargin)
        .collect()(0)
      assert(both.getLong(0) == 30L && both.getLong(1) == 139L)
    }
  }

  test("plan lock: a filter over the LAKE table form reaches the scan") {
    withRoot { root =>
      LakeTable.append(kv(1L -> 10L, 2L -> 20L, 3L -> 30L), root, "k")
      // the rewrite substitutes a temp view — a THIN logical plan, so
      // Catalyst must still push the predicate into the parquet scan
      val df = GraftSql.exec(spark, sfDir,
        s"SELECT k, v FROM LAKE '$root' WHERE v > 15")
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("PushedFilters: [IsNotNull(v), GreaterThan(v,15)]")
        || p.contains("GreaterThan(v,15)"), p)
      assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
    }
  }

  test("GENERATIONS lists the retained lineage in ordinal order") {
    withRoot { root =>
      LakeTable.append(kv(1L -> 10L), root, "k")
      LakeTable.merge(kv(2L -> 20L), root, "k")
      val gens = GraftSql.exec(spark, sfDir,
        s"GENERATIONS FROM LAKE '$root'").collect()
      assert(gens.length == 2)
      assert(gens.map(_.getLong(1)).toSeq == Seq(1L, 2L))
      assert(gens.map(_.getString(0)).forall(_.startsWith("g=")))
    }
  }

  test("lake-to-lake MERGE: the USING body may read another LAKE table") {
    withRoot { target =>
      withRoot { src =>
        LakeTable.append(kv(1L -> 10L, 2L -> 20L), target, "k")
        LakeTable.append(kv(2L -> 99L, 3L -> 30L), src, "k")
        GraftSql.exec(spark, sfDir,
          s"MERGE INTO LAKE '$target' KEY k USING " +
            s"SELECT * FROM LAKE '$src'")
        val got = LakeTable.read(spark, target).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == Map(1L -> 10L, 2L -> 99L, 3L -> 30L))
      }
    }
  }

  test("wrong-key SQL DML fails loudly through the manifest key") {
    withRoot { root =>
      LakeTable.append(kv(1L -> 10L, 2L -> 20L), root, "k")
      val e = intercept[IllegalArgumentException](GraftSql.exec(
        spark, sfDir,
        s"DELETE FROM LAKE '$root' WHERE v BETWEEN 0 AND 100"))
      assert(e.getMessage.contains("key mismatch"))
      // the table is untouched by the refused delete
      assert(LakeTable.read(spark, root).count() == 2L)
    }
  }

  test("LAKE-shaped statements outside the grammar fail with the grammar") {
    withRoot { root =>
      LakeTable.append(kv(1L -> 10L), root, "k")
      val e = intercept[RuntimeException](GraftSql.exec(
        spark, sfDir, s"TRUNCATE LAKE '$root'"))
      assert(e.getMessage.contains("Supported forms") ||
        e.getMessage.contains("unsupported DML"))
    }
  }
}

/** OPTIMIZE/VACUUM from SQL text — the maintenance verbs that complete
  * the lake lifecycle's SQL surface, keyed by the MANIFEST (the
  * statement names no key; the recorded field vouches for it).
  */
class SqlMaintenanceSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def withRoot(f: String => Unit): Unit = {
    val root = java.nio.file.Files.createTempDirectory("w16_maint").toString
    try f(root)
    finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(root))
        .iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  private def seqKv(n: Long): DataFrame = {
    val sp = spark
    import sp.implicits._
    (0L until n).map(i => (i, i * 7L)).toDF("k", "v")
  }

  test("OPTIMIZE derives splits from the manifest and restores pruning") {
    withRoot { root =>
      val df = seqKv(400L)
      (0L to 3L).foreach(i =>
        LakeTable.append(df.filter(pmod(col("k"), lit(4L)) === i),
          root, "k"))
      // interleaved appends: every batch spans the key space, a range
      // probe must read all 4
      val before = LakeTable.currentRows(spark, root)
      assert(LakeTable.planPruned(before, 0L, 50L).size == 4)
      val rep = GraftSql.exec(spark, sfDir,
        s"OPTIMIZE LAKE '$root' BUCKETS 4").collect()(0)
      assert(rep.getLong(0) == 4L && rep.getLong(1) == 4L)
      val after = LakeTable.currentRows(spark, root)
      assert(LakeTable.planPruned(after, 0L, 50L).size == 1,
        "equal-width compaction must restore single-batch pruning")
      // state is compaction-invariant
      assert(LakeTable.read(spark, root)
        .agg(sum(col("v"))).collect()(0).getLong(0) ==
        (0L until 400L).map(_ * 7L).sum)
    }
  }

  test("OPTIMIZE ... ZORDER BY routes to compactZ with secondary bounds") {
    withRoot { root =>
      val sp = spark
      import sp.implicits._
      LakeTable.append(
        (0L until 400L).map(i =>
          (i, if (i % 2 == 0) i else 1000000L + i)).toDF("k", "v"),
        root, "k")
      GraftSql.exec(spark, sfDir,
        s"OPTIMIZE LAKE '$root' BUCKETS 4 ZORDER BY v")
      val rows = LakeTable.currentRows(spark, root)
      assert(rows.forall(_.sec.exists(_.col2 == "v")))
      assert(LakeTable.planPrunedOn(rows, "v", 0L, 500L).size < rows.size)
    }
  }

  test("OPTIMIZE fails loudly when the manifest predates key recording") {
    withRoot { root =>
      LakeTable.append(seqKv(10L), root, "k")
      val g = LakeTable.currentName(spark, root).get
      val manDir = s"$root/manifest/$g"
      val rows = spark.read.parquet(manDir).drop("kcol").collect()
      val schema = spark.read.parquet(manDir).drop("kcol").schema
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          java.util.Arrays.asList(rows: _*)), schema)
        .coalesce(1).write.mode("overwrite").parquet(manDir)
      val e = intercept[RuntimeException](GraftSql.exec(
        spark, sfDir, s"OPTIMIZE LAKE '$root' BUCKETS 2"))
      assert(e.getMessage.contains("predates key recording"))
    }
  }

  test("VACUUM RETAIN 0 collects history; the default retains it") {
    withRoot { root =>
      val df = seqKv(100L)
      LakeTable.append(df.filter(col("k") < 50L), root, "k")
      LakeTable.append(df.filter(col("k") >= 50L), root, "k")
      val gOld = LakeTable.currentName(spark, root).get
      LakeTable.merge(
        seqKv(100L).filter(col("k") < 10L)
          .withColumn("v", col("v") + 1L), root, "k")
      // default grace: nothing young is swept, time travel still works
      val r0 = GraftSql.exec(spark, sfDir, s"VACUUM LAKE '$root'")
        .collect()(0)
      assert(r0.getLong(0) == 0L && r0.getLong(1) == 0L)
      assert(LakeTable.readAt(spark, root, gOld).count() == 100L)
      // collect-now: 2 superseded generations + 1 replaced data dir
      val r1 = GraftSql.exec(spark, sfDir,
        s"VACUUM LAKE '$root' RETAIN 0 HOURS").collect()(0)
      assert(r1.getLong(0) == 2L, s"gens_swept=${r1.getLong(0)}")
      assert(r1.getLong(1) == 1L, s"dirs_swept=${r1.getLong(1)}")
      assert(r1.getLong(2) == 2L, s"batches_live=${r1.getLong(2)}")
      // live state unchanged; the vacuumed generation now fails loudly
      assert(LakeTable.read(spark, root).count() == 100L)
      val e = intercept[IllegalArgumentException](
        LakeTable.readAt(spark, root, gOld))
      assert(e.getMessage.contains("retention") ||
        e.getMessage.contains("not on disk"))
    }
  }

  test("compactAuto collapses duplicate splits on a tiny key span") {
    withRoot { root =>
      val sp = spark
      import sp.implicits._
      LakeTable.append(
        Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("k", "v"), root, "k")
      LakeTable.compactAuto(spark, root, "k", 4)
      assert(LakeTable.read(spark, root).count() == 3L)
      assert(LakeTable.currentRows(spark, root).size <= 3)
    }
  }
}
