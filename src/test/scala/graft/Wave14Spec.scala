package graft

import graft.sources.LakeTable
import graft.streaming.ChangeFeed
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-14 lake WRITE path: the stats-manifest keyed table (io16
  * pruned reads), copy-on-write MERGE (io15), and the streaming
  * change-feed consumer (st25) — plans, crash windows, contracts.
  */
class LakeTableSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  private def withRoot(f: String => Unit): Unit = {
    val root = java.nio.file.Files.createTempDirectory("lake_t").toString
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

  private def state(root: String): Map[Long, String] =
    LakeTable.read(spark, root).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

  test("append + read round-trips; stats ride the manifest") {
    withRoot { root =>
      LakeTable.append(kv(1L -> "a", 5L -> "b"), root, "k")
      LakeTable.append(kv(10L -> "c", 20L -> "d"), root, "k")
      assert(state(root) == Map(1L -> "a", 5L -> "b", 10L -> "c", 20L -> "d"))
      val rows = LakeTable.currentRows(spark, root).sortBy(_.batch)
      assert(rows.map(b => (b.kmin, b.kmax)) == Seq((1L, 5L), (10L, 20L)))
    }
  }

  test("append rejects empty, duplicate-key, and null-key batches") {
    withRoot { root =>
      val sp = spark
      import sp.implicits._
      intercept[IllegalArgumentException] {
        LakeTable.append(kv().limit(0), root, "k")
      }
      intercept[IllegalArgumentException] {
        LakeTable.append(kv(1L -> "a", 1L -> "b"), root, "k")
      }
      intercept[IllegalArgumentException] {
        LakeTable.append(
          Seq((Option.empty[Long], "a")).toDF("k", "v"), root, "k")
      }
    }
  }

  test("readPruned plans only intersecting batches and matches the filter") {
    withRoot { root =>
      LakeTable.append(kv(1L -> "a", 5L -> "b"), root, "k")
      LakeTable.append(kv(10L -> "c", 20L -> "d"), root, "k")
      LakeTable.append(kv(30L -> "e", 40L -> "f"), root, "k")
      val rows = LakeTable.currentRows(spark, root)
      assert(LakeTable.planPruned(rows, 8L, 25L).map(_.batch) == Seq(2))
      val pruned = LakeTable.readPruned(spark, root, "k", 8L, 25L)
        .collect().map(_.getLong(0)).toSet
      assert(pruned == Set(10L, 20L))
      // conservative plan, exact residual: a kept batch's non-matching
      // rows are filtered out
      val partial = LakeTable.readPruned(spark, root, "k", 5L, 10L)
        .collect().map(_.getLong(0)).toSet
      assert(partial == Set(5L, 10L))
      // no batch can match: empty frame, schema intact
      val none = LakeTable.readPruned(spark, root, "k", 50L, 60L)
      assert(none.count() == 0 && none.columns.toSeq == Seq("k", "v"))
    }
  }

  test("merge updates matched rows, inserts new ones, reports the plan") {
    withRoot { root =>
      LakeTable.append(kv(1L -> "a", 5L -> "b"), root, "k")
      LakeTable.append(kv(10L -> "c", 20L -> "d"), root, "k")
      val rep = LakeTable.merge(kv(5L -> "B", 7L -> "new"), root, "k")
      assert(rep.touched == Seq(1) && rep.untouched == Seq(2)
        && !rep.pureInsert)
      assert(state(root) ==
        Map(1L -> "a", 5L -> "B", 7L -> "new", 10L -> "c", 20L -> "d"))
    }
  }

  test("untouched batches are carried BY PATH — not rewritten") {
    withRoot { root =>
      LakeTable.append(kv(1L -> "a", 5L -> "b"), root, "k")
      LakeTable.append(kv(10L -> "c", 20L -> "d"), root, "k")
      val before = LakeTable.currentRows(spark, root)
        .find(_.batch == 2).get.path
      LakeTable.merge(kv(5L -> "B"), root, "k")
      val after = LakeTable.currentRows(spark, root)
        .find(_.kmin == 10L).get
      assert(after.path == before, "untouched batch must keep its path")
      assert(after.batch == 2)
    }
  }

  test("pure-insert fast path appends without touching any batch") {
    withRoot { root =>
      LakeTable.append(kv(1L -> "a", 5L -> "b"), root, "k")
      val pathsBefore = LakeTable.currentRows(spark, root).map(_.path).toSet
      val rep = LakeTable.merge(kv(100L -> "x", 200L -> "y"), root, "k")
      assert(rep.pureInsert && rep.touched.isEmpty)
      val rows = LakeTable.currentRows(spark, root)
      assert(pathsBefore.subsetOf(rows.map(_.path).toSet))
      assert(state(root) ==
        Map(1L -> "a", 5L -> "b", 100L -> "x", 200L -> "y"))
    }
  }

  test("merge is SET*: a null column in a matched source row wins") {
    withRoot { root =>
      val sp = spark
      import sp.implicits._
      LakeTable.append(kv(1L -> "a", 2L -> "b"), root, "k")
      LakeTable.merge(
        Seq((1L, Option.empty[String])).toDF("k", "v"), root, "k")
      val got = LakeTable.read(spark, root).collect()
        .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      assert(got == Map(1L -> None, 2L -> Some("b")))
    }
  }

  test("merge rejects duplicate source keys and schema drift; empty no-ops") {
    withRoot { root =>
      val sp = spark
      import sp.implicits._
      LakeTable.append(kv(1L -> "a"), root, "k")
      intercept[IllegalArgumentException] {
        LakeTable.merge(kv(2L -> "x", 2L -> "y"), root, "k")
      }
      intercept[IllegalArgumentException] {
        LakeTable.merge(
          Seq((2L, "x", 1)).toDF("k", "v", "extra"), root, "k")
      }
      val rep = LakeTable.merge(kv().limit(0), root, "k")
      assert(rep.touched.isEmpty && !rep.pureInsert)
      assert(state(root) == Map(1L -> "a"))
    }
  }

  test("merged-batch stats derive exactly from touched ∪ source") {
    withRoot { root =>
      LakeTable.append(kv(5L -> "a", 9L -> "b"), root, "k")
      LakeTable.merge(kv(9L -> "B", 2L -> "lo", 12L -> "hi"), root, "k")
      val stat = LakeTable.currentRows(spark, root)
      assert(stat.size == 1 && stat.head.kmin == 2L && stat.head.kmax == 12L)
      // and pruning still works off the derived stats
      assert(LakeTable.readPruned(spark, root, "k", 13L, 99L).count() == 0)
    }
  }

  test("crash window: merged batch written but pointer NOT swapped reads old") {
    withRoot { root =>
      LakeTable.append(kv(1L -> "a", 5L -> "b"), root, "k")
      // simulate the pre-publish crash: a stranded data dir the live
      // generation never references
      kv(1L -> "TORN", 99L -> "TORN").write.parquet(s"$root/data/v=7")
      assert(state(root) == Map(1L -> "a", 5L -> "b"))
      // the retry (a fresh merge) converges; the orphan is young, so
      // the merge's own sweep leaves it (it could be an in-flight
      // concurrent stager) — a zero-grace maintenance sweep collects it
      LakeTable.merge(kv(5L -> "B"), root, "k")
      assert(state(root) == Map(1L -> "a", 5L -> "B"))
      val before = new java.io.File(s"$root/data").listFiles().map(_.getName)
      assert(before.contains("v=7"), "young orphan must survive the grace")
      LakeTable.sweep(spark, root, orphanGraceMs = 0L)
      val dirs = new java.io.File(s"$root/data").listFiles().map(_.getName)
      assert(!dirs.contains("v=7"), "zero-grace sweep must collect the orphan")
      assert(state(root) == Map(1L -> "a", 5L -> "B"))
    }
  }

  test("deleteRange: inside batches drop metadata-only, straddlers rewrite") {
    withRoot { root =>
      LakeTable.append(kv(1L -> "a", 5L -> "b"), root, "k")
      LakeTable.append(kv(10L -> "c", 20L -> "d"), root, "k")
      LakeTable.append(kv(30L -> "e", 40L -> "f"), root, "k")
      val pathsBefore = LakeTable.currentRows(spark, root)
        .map(b => b.batch -> b.path).toMap
      val rep = LakeTable.deleteRange(spark, root, "k", 0L, 15L)
      assert(rep.droppedMetadataOnly == Seq(1), "batch [1,5] is inside")
      assert(rep.rewritten == Seq(2), "batch [10,20] straddles")
      assert(rep.untouched == Seq(3), "batch [30,40] is disjoint")
      assert(state(root) == Map(20L -> "d", 30L -> "e", 40L -> "f"))
      // the untouched batch kept its path; the rewrite has exact stats
      val rows = LakeTable.currentRows(spark, root)
      assert(rows.find(_.batch == 3).get.path == pathsBefore(3))
      assert(rows.find(_.kmin == 20L).get.kmax == 20L, "exact rewrite stats")
    }
  }

  test("deleteRange: no-op outside all ranges; emptied straddler omitted") {
    withRoot { root =>
      LakeTable.append(kv(1L -> "a", 5L -> "b"), root, "k")
      LakeTable.append(kv(10L -> "c"), root, "k")
      val rep = LakeTable.deleteRange(spark, root, "k", 50L, 99L)
      assert(rep.droppedMetadataOnly.isEmpty && rep.rewritten.isEmpty)
      assert(state(root) == Map(1L -> "a", 5L -> "b", 10L -> "c"))
      // [2, 7] straddles batch 1 and empties nothing... but [1, 9]
      // covers every key of batch 1 without covering its stats range?
      // no — [1,5] ⊆ [1,9] is inside. Straddle-and-empty needs a gap:
      // stats [1,5] with only keys 1,5; delete [1,5] is inside too.
      // Use [4, 12]: batch1 straddles (loses 5), batch2 inside (drops)
      val rep2 = LakeTable.deleteRange(spark, root, "k", 4L, 12L)
      assert(rep2.droppedMetadataOnly == Seq(2) && rep2.rewritten == Seq(1))
      assert(state(root) == Map(1L -> "a"))
    }
  }

  test("deleteRange refuses to empty the table") {
    withRoot { root =>
      LakeTable.append(kv(1L -> "a", 2L -> "b"), root, "k")
      intercept[IllegalArgumentException] {
        LakeTable.deleteRange(spark, root, "k", 0L, 9L)
      }
      assert(state(root) == Map(1L -> "a", 2L -> "b"))
    }
  }

  test("schema-evolving merge: new column rides the rewrite, nulls elsewhere") {
    withRoot { root =>
      val sp = spark
      import sp.implicits._
      LakeTable.append(kv(1L -> "a", 5L -> "b"), root, "k")
      LakeTable.append(kv(10L -> "c"), root, "k") // stays untouched
      val src = Seq((5L, "B", 0.9), (7L, "new", 0.5))
        .toDF("k", "v", "quality")
      // strict merge refuses the extra column
      intercept[IllegalArgumentException] {
        LakeTable.merge(src, root, "k")
      }
      val rep = LakeTable.merge(src, root, "k", mergeSchema = true)
      assert(rep.untouched == Seq(2))
      val got = LakeTable.read(spark, root)
        .select(col("k"), col("v"), col("quality"))
        .collect()
        .map(r => r.getLong(0) ->
          ((r.getString(1), Option(r.get(2)).map(_.toString))))
        .toMap
      assert(got == Map(
        1L -> (("a", None)),          // rewritten batch, no source row
        5L -> (("B", Some("0.9"))),   // updated with the new column
        7L -> (("new", Some("0.5"))), // inserted with the new column
        10L -> (("c", None))))        // old-schema batch carried by path
      // evolution may only add — a source DROPPING a column still fails
      intercept[IllegalArgumentException] {
        LakeTable.merge(
          Seq((1L, 0.1)).toDF("k", "quality"), root, "k",
          mergeSchema = true)
      }
    }
  }

  test("readPruned pushes the residual range down to the parquet scan") {
    withRoot { root =>
      LakeTable.append(kv(1L -> "a", 5L -> "b"), root, "k")
      LakeTable.append(kv(10L -> "c", 20L -> "d"), root, "k")
      val df = LakeTable.readPruned(spark, root, "k", 2L, 15L)
      val leaves = df.queryExecution.executedPlan.collectLeaves()
        .map(_.toString).mkString("\n")
      assert(
        leaves.contains("GreaterThanOrEqual(k,2)") &&
          leaves.contains("LessThanOrEqual(k,15)"),
        s"residual filter must reach PushedFilters:\n$leaves")
    }
  }

  test("occ: a stale observation cannot publish; the rebase lands") {
    withRoot { root =>
      LakeTable.append(kv(1L -> "a"), root, "k")
      // writer A observes, then writer B lands first
      val (rowsA, obsA) = LakeTable.currentState(spark, root)
      LakeTable.merge(kv(2L -> "b"), root, "k")
      assert(
        !LakeTable.publishIfCurrent(spark, root, rowsA, obsA),
        "a stale observation must be refused")
      assert(state(root) == Map(1L -> "a", 2L -> "b"),
        "B's commit must survive the refused publish")
      // A rebases: a plain merge re-observes and lands
      LakeTable.merge(kv(3L -> "c"), root, "k")
      assert(state(root) == Map(1L -> "a", 2L -> "b", 3L -> "c"))
    }
  }

  test("occ: concurrent disjoint merges all land — no lost updates") {
    withRoot { root =>
      LakeTable.append(kv(0L -> "z"), root, "k")
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val threads = (1 to 4).map { i =>
        new Thread(() =>
          try LakeTable.merge(kv(i.toLong -> s"w$i"), root, "k")
          catch { case t: Throwable => errs.add(t); () })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      assert(errs.isEmpty, s"no writer may fail: ${errs.size} did")
      assert(state(root) == Map(
        0L -> "z", 1L -> "w1", 2L -> "w2", 3L -> "w3", 4L -> "w4"),
        "every concurrent merge must land exactly once")
    }
  }

  test("merge RETAINS replaced batches within grace; zero-grace collects") {
    withRoot { root =>
      LakeTable.append(kv(1L -> "a"), root, "k")
      LakeTable.append(kv(10L -> "b"), root, "k")
      // a frame planned from the pre-merge generation, held across the
      // merge — the lazy-scan hazard retention exists for
      val held = LakeTable.read(spark, root)
      LakeTable.merge(kv(1L -> "A", 10L -> "B"), root, "k")
      // retention: superseded generations and the batches they
      // reference survive the merge's own (default-grace) sweep, so
      // the held reader still scans and time travel still works
      val dataDirs = new java.io.File(s"$root/data").listFiles()
        .map(_.getName).toSet
      assert(
        dataDirs.size == 3,
        s"replaced dirs must be RETAINED within the grace: $dataDirs")
      assert(held.collect().map(_.getLong(0)).toSet == Set(1L, 10L),
        "a held pre-merge frame must stay readable within retention")
      assert(state(root) == Map(1L -> "A", 10L -> "B"))
      // zero-grace maintenance sweep collects history (the VACUUM
      // tradeoff: forfeits time travel and invalidates held frames)
      LakeTable.sweep(spark, root, orphanGraceMs = 0L)
      val after = new java.io.File(s"$root/data").listFiles()
        .map(_.getName).toSet
      assert(
        after.size == 1 && after.head.startsWith("v=3-"),
        s"zero-grace sweep must collect replaced dirs: $after")
      val gens = new java.io.File(s"$root/manifest").listFiles()
        .count(f => f.isDirectory && f.getName.startsWith("g="))
      assert(gens == 1, "zero-grace sweep must collect superseded gens")
      assert(state(root) == Map(1L -> "A", 10L -> "B"))
    }
  }

  // ---- schema evolution composed with the maintenance ops ----
  // (the io21 layout — old-schema batches carried by path — fed
  // through compact / applyChanges / deleteRange: each must read with
  // mergeSchema, or Spark infers from one arbitrary file and can
  // silently DROP the evolved column from the rewrite)

  /** Two batches, then an evolving merge that touches only the HIGH
    * one: batch [1,5] stays carried-by-path on the OLD (k, v) schema,
    * the rewritten [100,200] batch carries the evolved (k, v, q)
    * schema with a NON-NULL q on key 200 — the heterogeneous layout
    * where a maintenance rewrite that infers its schema from the wrong
    * file silently drops q's values.
    */
  private def evolvedRoot(root: String): Unit = {
    val sp = spark
    import sp.implicits._
    LakeTable.append(kv(1L -> "a", 5L -> "b"), root, "k")
    LakeTable.append(kv(100L -> "c", 200L -> "d"), root, "k")
    LakeTable.merge(
      Seq((200L, "D", 0.9)).toDF("k", "v", "q"), root, "k",
      mergeSchema = true)
  }

  private def evolvedState(root: String): Map[Long, (String, Option[Double])] =
    LakeTable.read(spark, root).select("k", "v", "q").collect()
      .map(r => r.getLong(0) ->
        (r.getString(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap

  test("evolve then compact: the evolved column survives the rewrite") {
    withRoot { root =>
      evolvedRoot(root)
      // compact reads BOTH schemas into one rewrite
      LakeTable.compact(spark, root, "k", splits = Seq(50L))
      assert(evolvedState(root) == Map(
        1L -> ("a", None), 5L -> ("b", None),
        100L -> ("c", None), 200L -> ("D", Some(0.9))),
        "compact must carry the union schema, not one file's")
    }
  }

  test("evolve then applyChanges across mixed-schema batches keeps q") {
    withRoot { root =>
      val sp = spark
      import sp.implicits._
      evolvedRoot(root)
      // the change set speaks the UNION schema and touches BOTH the
      // old-schema low batch (update 1) and the evolved batch (delete
      // 100) — the survivor 200 must keep its non-null q through the
      // mixed-schema target read
      val rep = LakeTable.applyChanges(
        Seq((1L, "A", Option.empty[Double], "U"),
          (100L, "", Option.empty[Double], "D"))
          .toDF("k", "v", "q", "op"), root, "k")
      assert(rep.touched.sorted.size == 2)
      assert(evolvedState(root) == Map(
        1L -> ("A", None), 5L -> ("b", None), 200L -> ("D", Some(0.9))),
        "applyChanges must derive the union schema and null-fill")
    }
  }

  test("evolve then deleteRange straddler rewrites on the union schema") {
    withRoot { root =>
      evolvedRoot(root)
      // [3, 150] straddles BOTH batches: the old-schema [1,5] (keep 1)
      // and the evolved [100,200] (keep 200, whose q must survive the
      // mixed-schema straddler read)
      val rep = LakeTable.deleteRange(spark, root, "k", 3L, 150L)
      assert(rep.rewritten.size == 2)
      assert(evolvedState(root) == Map(
        1L -> ("a", None), 200L -> ("D", Some(0.9))),
        "the straddler rewrite must keep the evolved column's value")
    }
  }

  private def cdc(rows: (Long, String, String)*): DataFrame = {
    val sp = spark
    import sp.implicits._
    rows.toDF("k", "v", "op")
  }

  test("applyChanges: upserts replace/insert, deletes remove, absent-delete no-ops") {
    withRoot { root =>
      LakeTable.append(kv(1L -> "a", 5L -> "b"), root, "k")
      LakeTable.append(kv(10L -> "c", 20L -> "d"), root, "k")
      val rep = LakeTable.applyChanges(
        cdc((5L, "B", "U"), (10L, "", "D"), (7L, "new", "U"),
          (11L, "", "D")), root, "k")
      assert(rep.touched.sorted == Seq(1, 2))
      assert(state(root) == Map(1L -> "a", 5L -> "B", 7L -> "new", 20L -> "d"))
    }
  }

  test("applyChanges: delete-only change set against out-of-range keys no-ops") {
    withRoot { root =>
      LakeTable.append(kv(1L -> "a"), root, "k")
      val rep = LakeTable.applyChanges(cdc((99L, "", "D")), root, "k")
      assert(rep.touched.isEmpty && !rep.pureInsert)
      assert(state(root) == Map(1L -> "a"))
    }
  }

  test("applyChanges: out-of-range upserts take the pure-insert fast path") {
    withRoot { root =>
      LakeTable.append(kv(1L -> "a"), root, "k")
      val before = LakeTable.currentRows(spark, root).map(_.path).toSet
      val rep = LakeTable.applyChanges(
        cdc((99L, "x", "U"), (150L, "", "D")), root, "k")
      assert(rep.pureInsert)
      assert(before.subsetOf(
        LakeTable.currentRows(spark, root).map(_.path).toSet))
      assert(state(root) == Map(1L -> "a", 99L -> "x"))
    }
  }

  test("applyChanges: an all-delete rewrite drops the emptied batch") {
    withRoot { root =>
      LakeTable.append(kv(1L -> "a", 2L -> "b"), root, "k")
      LakeTable.append(kv(10L -> "c"), root, "k")
      LakeTable.applyChanges(cdc((1L, "", "D"), (2L, "", "D")), root, "k")
      assert(state(root) == Map(10L -> "c"))
      assert(LakeTable.currentRows(spark, root).map(_.batch) == Seq(2))
    }
  }

  test("applyChanges refuses to empty the table, bad ops, duplicate keys") {
    withRoot { root =>
      LakeTable.append(kv(1L -> "a"), root, "k")
      intercept[IllegalArgumentException] {
        LakeTable.applyChanges(cdc((1L, "", "D")), root, "k")
      }
      intercept[IllegalArgumentException] {
        LakeTable.applyChanges(cdc((2L, "x", "upsert")), root, "k")
      }
      intercept[IllegalArgumentException] {
        LakeTable.applyChanges(
          cdc((2L, "x", "U"), (2L, "", "D")), root, "k")
      }
      assert(state(root) == Map(1L -> "a"))
    }
  }

  test("compact clusters interleaved appends into disjoint ranges") {
    withRoot { root =>
      // three appends, each spanning the whole key space — pruning
      // can skip nothing
      LakeTable.append(kv(1L -> "a", 50L -> "b", 100L -> "c"), root, "k")
      LakeTable.append(kv(2L -> "d", 51L -> "e", 101L -> "f"), root, "k")
      LakeTable.append(kv(3L -> "g", 52L -> "h", 102L -> "i"), root, "k")
      val beforeKept =
        LakeTable.planPruned(LakeTable.currentRows(spark, root), 50L, 52L)
      assert(beforeKept.size == 3, "interleaved ranges prune nothing")
      val stateBefore = state(root)
      LakeTable.compact(spark, root, "k", splits = Seq(40L, 90L))
      assert(state(root) == stateBefore, "compaction must not change state")
      val rows = LakeTable.currentRows(spark, root)
      assert(rows.size == 3)
      assert(rows.map(b => (b.kmin, b.kmax)).sorted ==
        Seq((1L, 3L), (50L, 52L), (100L, 102L)), "exact per-bucket stats")
      val afterKept = LakeTable.planPruned(rows, 50L, 52L)
      assert(afterKept.size == 1, "disjoint ranges restore pruning")
      val got = LakeTable.readPruned(spark, root, "k", 50L, 52L)
        .collect().map(_.getLong(0)).toSet
      assert(got == Set(50L, 51L, 52L))
    }
  }

  test("compact drops empty buckets; merge after compact still works") {
    withRoot { root =>
      LakeTable.append(kv(1L -> "a", 100L -> "b"), root, "k")
      LakeTable.compact(spark, root, "k", splits = Seq(40L, 60L))
      val rows = LakeTable.currentRows(spark, root)
      assert(rows.size == 2, "the [40,60) bucket is empty and omitted")
      LakeTable.merge(kv(50L -> "mid", 100L -> "B"), root, "k")
      assert(state(root) == Map(1L -> "a", 50L -> "mid", 100L -> "B"))
      // sweep kept the staging dir that still hosts the live batch 1
      assert(LakeTable.read(spark, root).count() == 3)
    }
  }

  test("merge then merge: stats stay exact through generations") {
    withRoot { root =>
      LakeTable.append(kv(1L -> "a", 100L -> "b"), root, "k")
      LakeTable.merge(kv(50L -> "c"), root, "k")
      LakeTable.merge(kv(100L -> "B2", 150L -> "d"), root, "k")
      assert(state(root) ==
        Map(1L -> "a", 50L -> "c", 100L -> "B2", 150L -> "d"))
      val stat = LakeTable.currentRows(spark, root)
      assert(stat.map(b => (b.kmin, b.kmax)).toSet == Set((1L, 150L)))
    }
  }
}

class StreamAsofForwardSpec extends AnyFunSuite {
  import graft.streaming.EventStreams
  import graft.streaming.EventStreams.Event
  lazy val spark: SparkSession = TestSpark.spark

  private def ev(id: Long, sec: Long, uid: Long, typ: String) =
    Event(id, new java.sql.Timestamp(sec * 1000L), uid, typ, 0.0)

  test("forward resolve: earliest in-horizon click, ties to min id, -1 past horizon") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val ms = MemoryStream[Event]
    // horizon 200 s
    val q = EventStreams
      .asofEnrichStreamForward(ms.toDS(), 200L * 1000000L, "1 second")
      .writeStream.format("memory").queryName("fasof_t")
      .outputMode("append").start()
    try {
      // scrambled on purpose: the click at 200 arrives before the
      // purchase at 150 it must win; the 250-tie must go to id 5; the
      // purchase at 260 has no click in [260, 460] → -1; u2 has no
      // click at all → -1; the click at 100 is BEFORE the purchase and
      // must never match forward
      ms.addData(Seq(
        ev(2, 200, 1, "click"),
        ev(10, 150, 1, "purchase"),
        ev(1, 100, 1, "click"),
        ev(12, 100, 2, "purchase"),
        ev(6, 250, 1, "click"),
        ev(5, 250, 1, "click"),
        ev(11, 260, 1, "purchase"),
        ev(13, 240, 3, "purchase")))
      q.processAllAvailable()
      ms.addData(ev(-1, 5000, -1, "sentinel"))
      q.processAllAvailable()
      ms.addData(ev(-1, 9000, -1, "sentinel"))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("fasof_t").as[EventStreams.AsofMatch]
      .collect().filter(_.user_id >= 0)
      .map(m => (m.user_id, m.p_id) -> ((m.c_id, m.c_us))).toMap
    assert(got == Map(
      (1L, 10L) -> ((2L, 200L * 1000000L)),   // earliest ≥150 within 350
      (1L, 11L) -> ((-1L, -1L)),              // nothing in [260, 460]
      (2L, 12L) -> ((-1L, -1L)),              // no click at all
      (3L, 13L) -> ((-1L, -1L))))             // other user's clicks invisible
  }

  test("tie at the purchase instant matches inclusively; min id wins") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val ms = MemoryStream[Event]
    val q = EventStreams
      .asofEnrichStreamForward(ms.toDS(), 100L * 1000000L, "1 second")
      .writeStream.format("memory").queryName("fasof_tie")
      .outputMode("append").start()
    try {
      ms.addData(Seq(
        ev(7, 100, 1, "click"),
        ev(3, 100, 1, "click"),
        ev(9, 100, 1, "purchase")))
      q.processAllAvailable()
      ms.addData(ev(-1, 4000, -1, "sentinel"))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("fasof_tie").as[EventStreams.AsofMatch]
      .collect().filter(_.user_id >= 0)
    assert(got.length == 1 && got.head.c_id == 3L,
      s"same-instant click matches inclusively, min id: ${got.toSeq}")
  }

  test("a click exactly AT the watermark is late — resolving at ≤ is safe") {
    // Spark's late-row filter for stateful ops drops rows with
    // ts <= watermark (LessThanOrEqual in WatermarkSupport), so a
    // same-instant smaller-id click arriving after the watermark
    // reached best.c_us can never be admitted — resolution at
    // best.c_us <= wm cannot be undercut. This test PINS that
    // boundary: if Spark ever admitted ts == wm, the smaller id would
    // win the tie-break and this assertion would flip.
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val ms = MemoryStream[Event]
    val q = EventStreams
      .asofEnrichStreamForward(ms.toDS(), 500L * 1000000L, "1 second")
      .writeStream.format("memory").queryName("fasof_strict")
      .outputMode("append").start()
    try {
      // wm after this batch = 201 - 1 = 200 s == the held best's c_us
      ms.addData(Seq(
        ev(9, 100, 1, "purchase"),
        ev(10, 200, 1, "click"),
        ev(-1, 201, -1, "sentinel")))
      q.processAllAvailable()
      // same instant as the watermark, smaller id — DROPPED as late
      ms.addData(ev(5, 200, 1, "click"))
      q.processAllAvailable()
      ms.addData(ev(-1, 9000, -1, "sentinel"))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("fasof_strict").as[EventStreams.AsofMatch]
      .collect().filter(_.user_id >= 0)
    assert(got.length == 1 && got.head.c_id == 10L,
      s"the at-watermark click must have been dropped as late " +
        s"(ts <= wm): ${got.toSeq}")
  }

  test("full-table stream ≡ batch asofJoinForward under the same horizon") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val horizonUs = 4L * 3600L * 1000000L
    val all = graft.sources.Tables
      .events(spark, "/root/testdata/sf0.001")
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect()
    val scrambled = all.sortBy(e =>
      java.lang.Long.rotateLeft(e.event_id * 0x9E3779B97F4A7C15L, 17))
    val maxMs = all.iterator.map(_.ts.getTime).max
    val ms = MemoryStream[Event]
    val q = EventStreams
      .asofEnrichStreamForward(ms.toDS(), horizonUs)
      .writeStream.format("memory").queryName("fasof_full")
      .outputMode("append").start()
    try {
      ms.addData(scrambled.toIndexedSeq)
      q.processAllAvailable()
      ms.addData(Event(
        -1L, new java.sql.Timestamp(maxMs + 12L * 3600 * 1000), -1L,
        "sentinel", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("fasof_full")
      .filter(col("user_id") >= 0)
      .select("user_id", "p_us", "p_id", "c_id", "c_us")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val ev2 = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
    val probes = ev2.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("p_us"),
        col("event_id").as("p_id"))
    val quotes = ev2.filter(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts")).as("c_us"),
        col("event_id"))
      .groupBy(col("user_id"), col("c_us"))
      .agg(min(col("event_id")).as("c_id"))
    val batch = graft.operators.TemporalJoins
      .asofJoinForward(probes, quotes, "user_id", "p_us", "c_us",
        payload = Seq("c_id", "c_us"))
      .select(
        col("user_id"), col("p_us"), col("p_id"),
        when(col("c_us").isNotNull &&
          col("c_us") - col("p_us") <= horizonUs, col("c_id"))
          .otherwise(-1L).as("c_id"),
        when(col("c_us").isNotNull &&
          col("c_us") - col("p_us") <= horizonUs, col("c_us"))
          .otherwise(-1L).as("c_us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(streamed == batch,
      s"stream/batch diverge: ${(streamed -- batch).take(3)} vs " +
        s"${(batch -- streamed).take(3)}")
  }
}

class StreamAsofNearestSpec extends AnyFunSuite {
  import graft.streaming.EventStreams
  import graft.streaming.EventStreams.Event
  lazy val spark: SparkSession = TestSpark.spark

  private def ev(id: Long, sec: Long, uid: Long, typ: String) =
    Event(id, new java.sql.Timestamp(sec * 1000L), uid, typ, 0.0)

  test("nearest resolve: min distance, ties backward then min id, -1 outside") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val ms = MemoryStream[Event]
    val q = EventStreams
      .asofEnrichStreamNearest(ms.toDS(), 100L * 1000000L, "1 second")
      .writeStream.format("memory").queryName("nasof_t")
      .outputMode("append").start()
    try {
      // u1 p@200: clicks at 150 and 250 are both d=50 — BACKWARD (150,
      // id 4) must win the tie, even though id 3 (the forward click)
      // is smaller. u2 p@100: only a forward click at 150 → matches.
      // u3 p@500: nothing within 100 s → -1. u4 p@300 with a click AT
      // 300 → d=0 inclusive match.
      ms.addData(Seq(
        ev(3, 250, 1, "click"),
        ev(4, 150, 1, "click"),
        ev(10, 200, 1, "purchase"),
        ev(5, 150, 2, "click"),
        ev(11, 100, 2, "purchase"),
        ev(12, 500, 3, "purchase"),
        ev(6, 800, 3, "click"),
        ev(7, 300, 4, "click"),
        ev(13, 300, 4, "purchase")))
      q.processAllAvailable()
      ms.addData(ev(-1, 5000, -1, "sentinel"))
      q.processAllAvailable()
      ms.addData(ev(-1, 9000, -1, "sentinel"))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("nasof_t").as[EventStreams.AsofMatch]
      .collect().filter(_.user_id >= 0)
      .map(m => (m.user_id, m.p_id) -> ((m.c_id, m.c_us))).toMap
    assert(got == Map(
      (1L, 10L) -> ((4L, 150L * 1000000L)),
      (2L, 11L) -> ((5L, 150L * 1000000L)),
      (3L, 12L) -> ((-1L, -1L)),
      (4L, 13L) -> ((7L, 300L * 1000000L))), s"got $got")
  }

  test("full-table stream ≡ independent horizon-nearest computation") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.expressions.Window
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val horizonUs = 4L * 3600L * 1000000L
    val all = graft.sources.Tables
      .events(spark, "/root/testdata/sf0.001")
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect()
    val scrambled = all.sortBy(e =>
      java.lang.Long.rotateLeft(e.event_id * 0x9E3779B97F4A7C15L, 11))
    val maxMs = all.iterator.map(_.ts.getTime).max
    val ms = MemoryStream[Event]
    val q = EventStreams
      .asofEnrichStreamNearest(ms.toDS(), horizonUs)
      .writeStream.format("memory").queryName("nasof_full")
      .outputMode("append").start()
    try {
      ms.addData(scrambled.toIndexedSeq)
      q.processAllAvailable()
      ms.addData(Event(
        -1L, new java.sql.Timestamp(maxMs + 12L * 3600 * 1000), -1L,
        "sentinel", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("nasof_full")
      .filter(col("user_id") >= 0)
      .select("user_id", "p_us", "p_id", "c_id", "c_us")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    // independent path: explicit horizon join + argmin by
    // (distance, c_us, c_id)
    val ev2 = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
    val probes = ev2.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("p_us"),
        col("event_id").as("p_id"))
    val quotes = ev2.filter(col("event_type") === "click")
      .select(col("user_id").as("q_uid"),
        unix_micros(col("ts")).as("c_us"), col("event_id"))
      .groupBy(col("q_uid"), col("c_us"))
      .agg(min(col("event_id")).as("c_id"))
    val joined = probes.join(
      quotes,
      probes("user_id") === quotes("q_uid") &&
        quotes("c_us") >= probes("p_us") - horizonUs &&
        quotes("c_us") <= probes("p_us") + horizonUs,
      "left")
      .withColumn("d", abs(col("c_us") - col("p_us")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id"), col("p_id"))
          .orderBy(col("d").asc_nulls_last, col("c_us").asc,
            col("c_id").asc)))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("p_us"), col("p_id"),
        coalesce(col("c_id"), lit(-1L)).as("c_id"),
        coalesce(col("c_us"), lit(-1L)).as("c_us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(streamed == joined,
      s"diverge: ${(streamed -- joined).take(3)} vs ${(joined -- streamed).take(3)}")
  }
}

class ChangeFeedSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  private def withDirs(f: (String, String, String) => Unit): Unit = {
    val ds = Seq("cf_bronze", "cf_consumer", "cf_out")
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

  private def commitBronze(root: String, version: Int, ks: Long*): Unit = {
    val sp = spark
    import sp.implicits._
    graft.sources.Snapshots.commit(
      ks.map(k => (k, s"v$k")).toDF("k", "v"), root, version)
  }

  private def sinkRange(out: String)(
      df: DataFrame, from: Int, to: Int): Unit =
    df.withColumn("feed_to", lit(to))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("feed_to")
      .parquet(out)

  test("bootstrap poll reads the whole table; caught-up poll is None") {
    withDirs { (bronze, consumer, out) =>
      commitBronze(bronze, 1, 1L, 2L)
      commitBronze(bronze, 2, 3L)
      assert(ChangeFeed.committedOffset(spark, consumer) == 0)
      val r = ChangeFeed.poll(spark, bronze, consumer)(sinkRange(out))
      assert(r.contains((0, 2)))
      assert(ChangeFeed.committedOffset(spark, consumer) == 2)
      assert(ChangeFeed.poll(spark, bronze, consumer)(sinkRange(out)).isEmpty)
      val got = spark.read.parquet(out).select("k")
        .collect().map(_.getLong(0)).toSet
      assert(got == Set(1L, 2L, 3L))
    }
  }

  test("each poll reads only the delta; offsets advance monotonically") {
    withDirs { (bronze, consumer, out) =>
      commitBronze(bronze, 1, 1L)
      assert(ChangeFeed.poll(spark, bronze, consumer) { (df, _, _) =>
        assert(df.collect().map(_.getLong(0)).toSet == Set(1L))
      }.contains((0, 1)))
      commitBronze(bronze, 2, 2L)
      commitBronze(bronze, 3, 3L)
      assert(ChangeFeed.poll(spark, bronze, consumer) { (df, from, to) =>
        assert((from, to) == (1, 3))
        assert(df.collect().map(_.getLong(0)).toSet == Set(2L, 3L))
      }.contains((1, 3)))
    }
  }

  test("crash before offset commit redelivers; idempotent sink converges") {
    withDirs { (bronze, consumer, out) =>
      commitBronze(bronze, 1, 1L, 2L)
      // the crash: processing ran, offset commit never happened
      val delta = graft.sources.Snapshots.changesSince(spark, bronze, 0, 1)
      sinkRange(out)(delta, 0, 1)
      assert(ChangeFeed.committedOffset(spark, consumer) == 0)
      // the restarted consumer re-polls the SAME range — the sink's
      // range-keyed overwrite absorbs the redelivery
      ChangeFeed.poll(spark, bronze, consumer)(sinkRange(out))
      assert(ChangeFeed.committedOffset(spark, consumer) == 1)
      val rows = spark.read.parquet(out).select("k")
        .collect().map(_.getLong(0)).toSeq
      assert(rows.sorted == Seq(1L, 2L), s"redelivery must not duplicate: $rows")
    }
  }

  test("streaming consumer: ticks drive polls across live commits") {
    withDirs { (bronze, consumer, out) =>
      val sp = spark
      import sp.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
      commitBronze(bronze, 1, 1L, 2L)
      val ticks = MemoryStream[Int]
      val q = ChangeFeed.streamingConsumer(
        ticks.toDS().toDF(), bronze, consumer)(sinkRange(out))
      try {
        ticks.addData(1); q.processAllAvailable()
        commitBronze(bronze, 2, 3L)
        commitBronze(bronze, 3, 4L)
        ticks.addData(2); q.processAllAvailable()
        ticks.addData(3); q.processAllAvailable() // caught up: no-op tick
      } finally q.stop()
      assert(ChangeFeed.committedOffset(spark, consumer) == 3)
      val got = spark.read.parquet(out)
        .select("k", "feed_to").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(got == Set((1L, 1), (2L, 1), (3L, 3), (4L, 3)))
    }
  }

  test("cdc sink batch: bootstrap from upserts, replayed newest batch converges") {
    withDirs { (root, _, _) =>
      val sp = spark
      import sp.implicits._
      val t = root + "/t"
      def ch(rows: (Long, String, String)*) = rows.toDF("k", "v", "op")
      // bootstrap: deletes against an uninitialized table are no-ops
      ChangeFeed.applyCdcBatch(
        ch((1L, "a", "U"), (2L, "b", "U"), (9L, "", "D")), t, "k")
      val b2 = ch((2L, "B", "U"), (1L, "", "D"), (3L, "c", "U"))
      ChangeFeed.applyCdcBatch(b2, t, "k")
      def st = LakeTable.read(spark, t).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(st == Map(2L -> "B", 3L -> "c"))
      // the restart window: the newest batch is redelivered verbatim
      ChangeFeed.applyCdcBatch(b2, t, "k")
      assert(st == Map(2L -> "B", 3L -> "c"), "replay must converge")
    }
  }

  test("feed → LakeTable.merge: the medallion hop keeps latest-per-key") {
    withDirs { (bronze, consumer, silver) =>
      val sp = spark
      import sp.implicits._
      commitBronze(bronze, 1, 1L, 2L, 3L)
      var first = true
      def applyToSilver(df: DataFrame, from: Int, to: Int): Unit = {
        if (first) { LakeTable.append(df, silver + "/t", "k"); first = false }
        else LakeTable.merge(df, silver + "/t", "k")
      }
      ChangeFeed.poll(spark, bronze, consumer)(applyToSilver)
      // v2 re-states key 2 (an update flowing through the feed) and
      // adds key 4; the next poll merges just that delta
      graft.sources.Snapshots.commit(
        Seq((2L, "v2-NEW"), (4L, "v4")).toDF("k", "v"), bronze, 2)
      ChangeFeed.poll(spark, bronze, consumer)(applyToSilver)
      val got = LakeTable.read(spark, silver + "/t").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == Map(
        1L -> "v1", 2L -> "v2-NEW", 3L -> "v3", 4L -> "v4"))
    }
  }
}
