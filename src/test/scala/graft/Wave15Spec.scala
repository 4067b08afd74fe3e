package graft

import graft.sources.LakeTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-15: the row-level change feed over retained LakeTable
  * generations (changesBetween — the medallion hop downstream of a
  * MERGE), time travel (readAt), and their composition with the write
  * path.
  */
class ChangeFeedBetweenSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  private def withRoot(f: String => Unit): Unit = {
    val root = java.nio.file.Files.createTempDirectory("cdf_t").toString
    try f(root)
    finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(root))
        .iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  private def kv(pairs: (Long, String)*): DataFrame = {
    val sp = spark
    import sp.implicits._
    pairs.toDF("k", "v")
  }

  private def gen(root: String): String =
    LakeTable.currentName(spark, root).get

  /** (change_type, k, v) triples of a feed, order-free. */
  private def feed(df: DataFrame): Set[(String, Long, String)] =
    df.select(col("_change_type"), col("k"), col("v")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet

  test("merge diff: insert + update pre/post; identical rewrites absent") {
    withRoot { root =>
      LakeTable.append(kv(1L -> "a", 5L -> "b"), root, "k")
      LakeTable.append(kv(100L -> "c", 200L -> "d"), root, "k")
      val g2 = gen(root)
      // touches only the low batch: 5 updated, 7 inserted; row 1 is
      // rewritten into the new batch BYTE-IDENTICAL — not a change
      LakeTable.merge(kv(5L -> "B", 7L -> "new"), root, "k")
      val g3 = gen(root)
      val ch = LakeTable.changesBetween(spark, root, "k", g2, g3)
      assert(feed(ch) == Set(
        ("update_pre", 5L, "b"), ("update_post", 5L, "B"),
        ("insert", 7L, "new")),
        "identical rewrite of key 1 must NOT appear in the feed")
      assert(ch.select("_generation").distinct().collect()
        .map(_.getLong(0)).toSeq == Seq(3L))
    }
  }

  test("carried batches contribute ZERO diff work (plan-locked)") {
    withRoot { root =>
      LakeTable.append(kv(1L -> "a", 5L -> "b"), root, "k")
      LakeTable.append(kv(100L -> "c", 200L -> "d"), root, "k")
      val g2 = gen(root)
      val highPath = LakeTable.currentRows(spark, root)
        .find(_.kmin == 100L).get.path
      LakeTable.merge(kv(5L -> "B", 7L -> "new"), root, "k")
      val g3 = gen(root)
      val plan = LakeTable.diffPlan(
        LakeTable.genRows(spark, root, g2),
        LakeTable.genRows(spark, root, g3))
      assert(plan.carried == Seq(highPath),
        "the untouched batch must be carried by path — never read")
      assert(plan.removed.size == 1 && plan.added.size == 1,
        "the diff reads exactly what the merge rewrote")
    }
  }

  test("deletes and metadata-only drops surface as delete rows") {
    withRoot { root =>
      LakeTable.append(kv(1L -> "a", 5L -> "b"), root, "k")
      LakeTable.append(kv(100L -> "c", 200L -> "d"), root, "k")
      val g2 = gen(root)
      // [1,5] is entirely inside → dropped metadata-only; [100,200]
      // straddles at 100 → rewritten
      LakeTable.deleteRange(spark, root, "k", 0L, 100L)
      val g3 = gen(root)
      assert(feed(LakeTable.changesBetween(spark, root, "k", g2, g3)) ==
        Set(("delete", 1L, "a"), ("delete", 5L, "b"),
          ("delete", 100L, "c")))
    }
  }

  test("net-diff across a multi-write span collapses intermediates") {
    withRoot { root =>
      LakeTable.append(kv(1L -> "a", 5L -> "b"), root, "k")
      val g1 = gen(root)
      LakeTable.merge(kv(7L -> "v1"), root, "k")       // insert 7
      LakeTable.merge(kv(7L -> "v2", 5L -> "B"), root, "k") // update both
      LakeTable.applyChanges(
        { val sp = spark; import sp.implicits._
          Seq((1L, "", "D")).toDF("k", "v", "op") }, root, "k")
      val gEnd = gen(root)
      // insert-then-update reads as ONE insert of the final row;
      // update-then-nothing as one update; delete of a FROM-state row
      assert(feed(LakeTable.changesBetween(spark, root, "k", g1, gEnd)) ==
        Set(("insert", 7L, "v2"),
          ("update_pre", 5L, "b"), ("update_post", 5L, "B"),
          ("delete", 1L, "a")))
    }
  }

  test("feeding the changes forward reconstructs the target state") {
    withRoot { root =>
      val sp = spark
      import sp.implicits._
      LakeTable.append(kv(1L -> "a", 5L -> "b"), root, "k")
      LakeTable.append(kv(100L -> "c"), root, "k")
      val gFrom = gen(root)
      LakeTable.merge(kv(5L -> "B", 7L -> "new"), root, "k")
      LakeTable.applyChanges(
        Seq((100L, "", "D"), (8L, "x", "U")).toDF("k", "v", "op"),
        root, "k")
      val gTo = gen(root)
      // seed a downstream copy from the FROM state, apply the feed as
      // CDC (update_post/insert → U, delete → D), compare to TO state
      val copy = java.nio.file.Files
        .createTempDirectory("cdf_copy").toString
      LakeTable.append(
        LakeTable.readAt(spark, root, gFrom), copy, "k")
      val cdc = LakeTable.changesBetween(spark, root, "k", gFrom, gTo)
        .filter(col("_change_type") =!= "update_pre")
        .withColumn("op",
          when(col("_change_type") === "delete", "D").otherwise("U"))
        .select(col("k"), col("v"), col("op"))
      LakeTable.applyChanges(cdc, copy, "k")
      val got = LakeTable.read(spark, copy)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val want = LakeTable.readAt(spark, root, gTo)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == want, "feed-forward must reconstruct the TO state")
    }
  }

  test("diff across a compaction is empty (full rewrite, no net change)") {
    withRoot { root =>
      LakeTable.append(kv(1L -> "a", 50L -> "b"), root, "k")
      LakeTable.append(kv(2L -> "c", 51L -> "d"), root, "k")
      val g2 = gen(root)
      LakeTable.compact(spark, root, "k", splits = Seq(40L))
      val g3 = gen(root)
      assert(
        LakeTable.changesBetween(spark, root, "k", g2, g3).count() == 0L,
        "compaction changes no rows — the feed must be empty")
    }
  }

  test("equal generations yield a typed empty feed") {
    withRoot { root =>
      LakeTable.append(kv(1L -> "a"), root, "k")
      val g = gen(root)
      val ch = LakeTable.changesBetween(spark, root, "k", g, g)
      assert(ch.count() == 0L)
      assert(ch.columns.toSeq ==
        Seq("k", "v", "_change_type", "_generation"))
    }
  }

  test("schema evolution rides the feed: pre rows null-fill new columns") {
    withRoot { root =>
      val sp = spark
      import sp.implicits._
      LakeTable.append(kv(1L -> "a", 5L -> "b"), root, "k")
      val g1 = gen(root)
      LakeTable.merge(
        Seq((5L, "B", 0.9)).toDF("k", "v", "q"), root, "k",
        mergeSchema = true)
      val g2 = gen(root)
      val ch = LakeTable.changesBetween(spark, root, "k", g1, g2)
        .select(col("_change_type"), col("k"), col("v"), col("q"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSet
      assert(ch == Set(
        ("update_pre", 5L, "b", None),
        ("update_post", 5L, "B", Some(0.9))))
    }
  }

  test("a generation past retention fails loudly, naming the cause") {
    withRoot { root =>
      LakeTable.append(kv(1L -> "a"), root, "k")
      val g1 = gen(root)
      LakeTable.merge(kv(1L -> "A"), root, "k")
      LakeTable.sweep(spark, root, orphanGraceMs = 0L)
      val e = intercept[IllegalArgumentException] {
        LakeTable.changesBetween(spark, root, "k", g1, gen(root))
      }
      assert(e.getMessage.contains("retention"))
      val e2 = intercept[IllegalArgumentException] {
        LakeTable.readAt(spark, root, g1)
      }
      assert(e2.getMessage.contains("retention"))
    }
  }

  test("sql dml: MERGE / APPLY CHANGES / DELETE route to the write path") {
    withRoot { root =>
      val dir = "/root/testdata/sf0.001"
      LakeTable.append(kv(1L -> "a", 5L -> "b"), root, "k")
      // MERGE via SQL text (values from the registered documents view)
      val rep = GraftSql.exec(spark, dir,
        s"""MERGE INTO LAKE '$root' KEY k USING
           |SELECT CAST(5 AS BIGINT) AS k, 'B' AS v
           |UNION ALL SELECT CAST(7 AS BIGINT), 'new'""".stripMargin)
      assert(rep.columns.toSeq ==
        Seq("touched_batches", "untouched_batches", "pure_insert"))
      assert(LakeTable.read(spark, root).count() == 3)
      // APPLY CHANGES via SQL text (delete 7, restate 1)
      GraftSql.exec(spark, dir,
        s"""APPLY CHANGES INTO LAKE '$root' KEY k OP op USING
           |SELECT CAST(7 AS BIGINT) AS k, '' AS v, 'D' AS op
           |UNION ALL SELECT CAST(1 AS BIGINT), 'A', 'U'""".stripMargin)
      // DELETE via SQL text
      val del = GraftSql.exec(spark, dir,
        s"DELETE FROM LAKE '$root' WHERE k BETWEEN 4 AND 6")
      assert(del.columns.contains("dropped_metadata_only"))
      val st = LakeTable.read(spark, root).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(st == Map(1L -> "A"))
    }
  }

  test("sql CHANGES FROM LAKE returns the row-level feed") {
    withRoot { root =>
      val dir = "/root/testdata/sf0.001"
      LakeTable.append(kv(1L -> "a", 5L -> "b"), root, "k")
      val g1 = gen(root)
      LakeTable.merge(kv(5L -> "B", 7L -> "new"), root, "k")
      val g2 = gen(root)
      val viaSql = GraftSql.exec(spark, dir,
        s"CHANGES FROM LAKE '$root' KEY k BETWEEN '$g1' AND '$g2'")
      assert(feed(viaSql) ==
        feed(LakeTable.changesBetween(spark, root, "k", g1, g2)))
      // malformed (unquoted generations) fails with the grammar
      val e = intercept[RuntimeException] {
        GraftSql.exec(spark, dir,
          s"CHANGES FROM LAKE '$root' KEY k BETWEEN $g1 AND $g2")
      }
      assert(e.getMessage.contains("Supported forms"))
    }
  }

  test("sql dml: unsupported clauses fail loudly with the grammar") {
    val dir = "/root/testdata/sf0.001"
    // standard-SQL MERGE shape (WHEN MATCHED...) is not the grammar
    val e1 = intercept[RuntimeException] {
      GraftSql.exec(spark, dir,
        "MERGE INTO t USING s ON t.k = s.k WHEN MATCHED THEN DELETE")
    }
    assert(e1.getMessage.contains("Supported forms"))
    // arbitrary-predicate DELETE is a caller-side applyChanges
    val e2 = intercept[RuntimeException] {
      GraftSql.exec(spark, dir, "DELETE FROM LAKE '/x' WHERE k < 5")
    }
    assert(e2.getMessage.contains("Supported forms"))
    // non-DML delegates to spark.sql unchanged
    assert(GraftSql.exec(spark, dir,
      "SELECT count(*) AS n FROM region").collect()(0).getLong(0) == 5L)
  }

  test("compactZ: both-dimension pruning; state untouched") {
    withRoot { root =>
      val sp = spark
      import sp.implicits._
      // (k, c) grid: k 0..99, c = (k * 37) % 100 — both dims spread
      val rows = (0L until 100L).map(k => (k, (k * 37L) % 100L, s"r$k"))
      val df = rows.toDF("k", "c", "v")
      (0L to 3L).foreach { i =>
        LakeTable.append(df.filter(pmod(col("k"), lit(4L)) === i),
          root, "k")
      }
      val stateBefore = LakeTable.read(spark, root)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      LakeTable.compactZ(spark, root, "k", "c", buckets = 4)
      assert(LakeTable.read(spark, root)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
        stateBefore, "compaction must not change state")
      val batches = LakeTable.currentRows(spark, root)
      assert(batches.forall(_.sec.exists(_.col2 == "c")),
        "every z batch must carry secondary bounds")
      // a selective probe on EITHER dimension prunes
      val kKept = LakeTable.planPruned(batches, 0L, 24L).size
      val cKept = LakeTable.planPrunedOn(batches, "c", 0L, 24L).size
      assert(kKept < batches.size, s"primary pruning: $kKept")
      assert(cKept < batches.size, s"secondary pruning: $cKept")
      // the pruned read returns exactly the filtered rows
      val got = LakeTable.readPrunedOn(spark, root, "c", 0L, 24L)
        .collect().map(_.getLong(0)).toSet
      assert(got == rows.filter(_._2 <= 24L).map(_._1).toSet)
    }
  }

  test("planPrunedOn keeps batches without stats for that column") {
    withRoot { root =>
      val sp = spark
      import sp.implicits._
      LakeTable.append(
        Seq((1L, 100L, "a")).toDF("k", "c", "v"), root, "k")
      LakeTable.compactZ(spark, root, "k", "c", buckets = 2)
      // a later plain append has NO secondary bounds — a c-probe that
      // would skip it by range must keep it (conservative)
      LakeTable.append(
        Seq((50L, 5L, "b")).toDF("k", "c", "v"), root, "k")
      val rows = LakeTable.currentRows(spark, root)
      val kept = LakeTable.planPrunedOn(rows, "c", 0L, 10L)
      assert(kept.exists(_.sec.isEmpty),
        "the stat-less batch must be kept")
      val got = LakeTable.readPrunedOn(spark, root, "c", 0L, 10L)
        .collect().map(_.getLong(0)).toSet
      assert(got == Set(50L))
      // and a probe on an unknown column keeps everything
      assert(LakeTable.planPrunedOn(rows, "nope", 0L, 1L).size ==
        rows.size)
    }
  }

  test("merge after compactZ drops the rewritten batch's sec stats") {
    withRoot { root =>
      val sp = spark
      import sp.implicits._
      LakeTable.append(
        Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("k", "c", "v"),
        root, "k")
      LakeTable.compactZ(spark, root, "k", "c", buckets = 2)
      LakeTable.merge(
        Seq((2L, 99L, "B")).toDF("k", "c", "v"), root, "k")
      val st = LakeTable.read(spark, root)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(st == Map(1L -> 10L, 2L -> 99L))
      // the merged rewrite has no c bounds — a c-probe keeps it
      val rows = LakeTable.currentRows(spark, root)
      assert(LakeTable.readPrunedOn(spark, root, "c", 99L, 99L)
        .count() == 1L)
    }
  }

  test("snapshots append path: 4 independent racing appenders all land") {
    // the io19 OCC race replayed on the APPEND-ONLY table (r14 verdict
    // #6): every appender lands exactly once, versions are consecutive,
    // nothing is lost or double-listed
    withRoot { root =>
      val sp = spark
      import sp.implicits._
      graft.sources.Snapshots.commit(
        Seq((0L, "base")).toDF("k", "v"), root, version = 1)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val got = new java.util.concurrent.ConcurrentLinkedQueue[Integer]
      val threads = (1 to 4).map { i =>
        new Thread(() =>
          try got.add(graft.sources.Snapshots.appendNext(
            Seq((i.toLong, s"w$i")).toDF("k", "v"), root))
          catch { case t: Throwable => errs.add(t); () })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      assert(errs.isEmpty, s"no appender may fail: ${errs.size} did")
      import scala.jdk.CollectionConverters._
      assert(got.asScala.map(_.toInt).toSet == Set(2, 3, 4, 5),
        "each appender must win exactly one consecutive version")
      assert(graft.sources.Snapshots.headVersion(spark, root)
        .contains(5))
      val all = graft.sources.Snapshots.readVersion(spark, root, 5)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(all == Map(0L -> "base", 1L -> "w1", 2L -> "w2",
        3L -> "w3", 4L -> "w4"),
        "every concurrent append must land exactly once")
    }
  }

  test("snapshots commitPtr: a retried same-version commit dedups") {
    withRoot { root =>
      val sp = spark
      import sp.implicits._
      val batch = Seq((1L, "a")).toDF("k", "v")
      graft.sources.Snapshots.commit(batch, root, version = 1)
      // the retry (crash-after-swap redelivery) converges: one manifest
      // row, one copy of the data
      graft.sources.Snapshots.commit(batch, root, version = 1)
      assert(graft.sources.Snapshots.readVersion(spark, root, 1)
        .count() == 1L)
      assert(graft.sources.Snapshots.headVersion(spark, root)
        .contains(1))
    }
  }

  test("plan lock: readPrunedOn pushes the residual filter to the scan") {
    withRoot { root =>
      val sp = spark
      import sp.implicits._
      val rows = (0L until 100L).map(k => (k, (k * 37L) % 100L, s"r$k"))
      (0L to 1L).foreach { i =>
        LakeTable.append(
          rows.toDF("k", "c", "v")
            .filter(pmod(col("k"), lit(2L)) === i), root, "k")
      }
      LakeTable.compactZ(spark, root, "k", "c", buckets = 4)
      val df = LakeTable.readPrunedOn(spark, root, "c", 10L, 30L)
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("PushedFilters: [IsNotNull(c), " +
        "GreaterThanOrEqual(c,10), LessThanOrEqual(c,30)]"), p)
    }
  }

  test("plan lock: changesBetween scans ONLY the symmetric difference") {
    withRoot { root =>
      LakeTable.append(kv(1L -> "a", 5L -> "b"), root, "k")
      LakeTable.append(kv(100L -> "c", 200L -> "d"), root, "k")
      val g2 = gen(root)
      val carriedPath = LakeTable.currentRows(spark, root)
        .find(_.kmin == 100L).get.path
      LakeTable.merge(kv(5L -> "B"), root, "k")
      val g3 = gen(root)
      val files = LakeTable.changesBetween(spark, root, "k", g2, g3)
        .inputFiles
      assert(files.nonEmpty)
      assert(!files.exists(_.startsWith(s"file:$carriedPath")),
        s"the carried batch must never be scanned: ${files.toSeq}")
    }
  }

  test("readAt serves every retained generation's state") {
    withRoot { root =>
      LakeTable.append(kv(1L -> "a"), root, "k")
      val g1 = gen(root)
      LakeTable.merge(kv(1L -> "A", 2L -> "b"), root, "k")
      val g2 = gen(root)
      LakeTable.merge(kv(2L -> "B2"), root, "k")
      def st(g: String) = LakeTable.readAt(spark, root, g)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(st(g1) == Map(1L -> "a"))
      assert(st(g2) == Map(1L -> "A", 2L -> "b"))
      assert(LakeTable.generations(spark, root).size == 3)
    }
  }
}
