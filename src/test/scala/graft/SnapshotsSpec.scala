package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** io12 snapshots: version cuts exact, as-of reads byte-stable under
  * later commits, orphan data dirs (crash before manifest) invisible.
  */
class SnapshotsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  private def withRoot(f: String => Unit): Unit = {
    val root = java.nio.file.Files.createTempDirectory("snap").toString
    try f(root)
    finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(root))
        .iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  private def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select("k").collect().map(_.getLong(0)).sorted.toSeq

  test("as-of cuts exact; earlier versions stable under later commits") {
    val sp = spark
    import sp.implicits._
    withRoot { root =>
      graft.sources.Snapshots.commit(
        Seq(1L, 2L).toDF("k"), root, version = 1)
      graft.sources.Snapshots.commit(
        Seq(3L).toDF("k"), root, version = 2)
      val v2Before = ids(
        graft.sources.Snapshots.readVersion(spark, root, asOf = 2))
      assert(ids(graft.sources.Snapshots
        .readVersion(spark, root, asOf = 1)) == Seq(1L, 2L))
      assert(v2Before == Seq(1L, 2L, 3L))
      graft.sources.Snapshots.commit(
        Seq(4L, 5L).toDF("k"), root, version = 3)
      // snapshot isolation: the old as-of view is unchanged
      assert(ids(graft.sources.Snapshots
        .readVersion(spark, root, asOf = 2)) == v2Before)
      assert(ids(graft.sources.Snapshots
        .readVersion(spark, root, asOf = 3)) == Seq(1L, 2L, 3L, 4L, 5L))
      // asOf past the head reads the head (version <= asOf)
      assert(ids(graft.sources.Snapshots
        .readVersion(spark, root, asOf = 99)) == Seq(1L, 2L, 3L, 4L, 5L))
    }
  }

  test("orphan data dir (crash before manifest append) is invisible") {
    val sp = spark
    import sp.implicits._
    withRoot { root =>
      graft.sources.Snapshots.commit(Seq(1L).toDF("k"), root, version = 1)
      // simulate a crash: data files land, manifest row never does
      Seq(9L).toDF("k").write.parquet(s"$root/data/v=2")
      assert(ids(graft.sources.Snapshots
        .readVersion(spark, root, asOf = 2)) == Seq(1L))
      intercept[IllegalArgumentException] {
        graft.sources.Snapshots.readVersion(spark, root, asOf = 0)
      }
    }
  }
}

/** Round-13 advice hardening: the retried-commit manifest dedup. */
class SnapshotRetrySpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  private def withRoot(f: String => Unit): Unit = {
    val root = java.nio.file.Files.createTempDirectory("snapr").toString
    try f(root)
    finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(root))
        .iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("a retried commit (duplicate manifest row) does not double-read") {
    val sp = spark
    import sp.implicits._
    withRoot { root =>
      graft.sources.Snapshots.commit(Seq(1L, 2L).toDF("k"), root, 1)
      // the committer crashed AFTER the pointer swap and replayed the
      // whole commit — data dir idempotently overwritten; the new
      // generation dedups the (1, v=1) row it already holds instead of
      // listing the same path twice
      graft.sources.Snapshots.commit(Seq(1L, 2L).toDF("k"), root, 1)
      val got = graft.sources.Snapshots.readVersion(spark, root, asOf = 1)
        .select("k").collect().map(_.getLong(0)).sorted.toSeq
      assert(got == Seq(1L, 2L), "duplicate manifest path must scan once")
    }
  }
}

/** io12b snapshot expiration/VACUUM: retained as-of reads byte-stable,
  * expired reads fail loudly, orphan + expired dirs swept.
  */
class SnapshotExpireSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  private def withRoot(f: String => Unit): Unit = {
    val root = java.nio.file.Files.createTempDirectory("snapx").toString
    try f(root)
    finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(root))
        .iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  private def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select("k").collect().map(_.getLong(0)).sorted.toSeq

  private def dataDirs(root: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.list(java.nio.file.Paths.get(s"$root/data"))
      .iterator().asScala.map(_.getFileName.toString).toSet
  }

  test("expire checkpoints the cut, keeps later reads byte-stable") {
    val sp = spark
    import sp.implicits._
    withRoot { root =>
      graft.sources.Snapshots.commit(Seq(1L, 2L).toDF("k"), root, 1)
      graft.sources.Snapshots.commit(Seq(3L).toDF("k"), root, 2)
      graft.sources.Snapshots.commit(Seq(4L).toDF("k"), root, 3)
      // orphan from a crashed commit — expire must sweep it
      Seq(99L).toDF("k").write.parquet(s"$root/data/v=7")
      val v2Before = ids(graft.sources.Snapshots.readVersion(spark, root, 2))
      val v3Before = ids(graft.sources.Snapshots.readVersion(spark, root, 3))
      graft.sources.Snapshots.expire(spark, root, cut = 2, graceMs = 0L)
      // retained as-of views are byte-stable through the checkpoint
      assert(ids(graft.sources.Snapshots.readVersion(spark, root, 2))
        == v2Before)
      assert(ids(graft.sources.Snapshots.readVersion(spark, root, 3))
        == v3Before)
      // history below the cut is retired LOUDLY
      intercept[IllegalArgumentException] {
        graft.sources.Snapshots.readVersion(spark, root, asOf = 1)
      }
      // only the checkpoint and the retained batch dir remain; the
      // expired v=1, v=2 dirs and the v=7 orphan are gone
      assert(dataDirs(root) == Set("ckpt=2", "v=3"), dataDirs(root))
      // the table keeps working: a later commit appends past the cut
      graft.sources.Snapshots.commit(Seq(5L).toDF("k"), root, 4)
      assert(ids(graft.sources.Snapshots.readVersion(spark, root, 4))
        == Seq(1L, 2L, 3L, 4L, 5L))
    }
  }

  test("expire below the earliest commit fails; repeat expire is sound") {
    val sp = spark
    import sp.implicits._
    withRoot { root =>
      graft.sources.Snapshots.commit(Seq(1L).toDF("k"), root, 2)
      intercept[IllegalArgumentException] {
        graft.sources.Snapshots.expire(spark, root, cut = 1)
      }
      graft.sources.Snapshots.commit(Seq(2L).toDF("k"), root, 3)
      graft.sources.Snapshots.expire(spark, root, cut = 2)
      // re-expiring at the SAME cut is a no-op (must not read the
      // checkpoint dir while overwriting it)
      graft.sources.Snapshots.expire(spark, root, cut = 2)
      assert(ids(graft.sources.Snapshots.readVersion(spark, root, 3))
        == Seq(1L, 2L))
      // re-expiring at a later cut folds the previous checkpoint in
      graft.sources.Snapshots.expire(spark, root, cut = 3, graceMs = 0L)
      assert(ids(graft.sources.Snapshots.readVersion(spark, root, 3))
        == Seq(1L, 2L))
      assert(dataDirs(root) == Set("ckpt=3"), dataDirs(root))
    }
  }
}

/** Generative lifecycle invariants: random commit/expire schedules and
  * random delete-batch sequences must be indistinguishable from their
  * from-scratch ground truths.
  */
class LifecyclePropertySpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  private def withRoot(f: String => Unit): Unit = {
    val root = java.nio.file.Files.createTempDirectory("lcp").toString
    try f(root)
    finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(root))
        .iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("random commit/expire schedule: every retained as-of ≡ batch rule") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(13)
    (1 to 3).foreach { trial =>
      withRoot { root =>
        val nV = 5 + rnd.nextInt(3)
        val batches = (1 to nV).map { v =>
          v -> (0 until 1 + rnd.nextInt(4)).map(i => v * 100L + i)
        }.toMap
        var cut = 0
        (1 to nV).foreach { v =>
          graft.sources.Snapshots.commit(batches(v).toDF("k"), root, v)
          // occasionally expire at a random cut ≤ the committed head
          if (v >= 2 && rnd.nextBoolean()) {
            cut = math.max(cut, 1 + rnd.nextInt(v))
            graft.sources.Snapshots.expire(spark, root, cut)
          }
        }
        (math.max(cut, 1) to nV).foreach { asOf =>
          val want = (1 to asOf).flatMap(batches).sorted
          val got = graft.sources.Snapshots.readVersion(spark, root, asOf)
            .select("k").collect().map(_.getLong(0)).sorted.toSeq
          assert(got == want, s"trial $trial asOf $asOf after cut $cut")
        }
        if (cut >= 1) intercept[IllegalArgumentException] {
          graft.sources.Snapshots.readVersion(spark, root, cut - 1)
        }
      }
    }
  }

  test("random delete batches + fold points: view ≡ base minus all deletes") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(17)
    (1 to 3).foreach { trial =>
      val base0 = (1L to 60L).map(k => (k, s"v$k"))
      withRoot { root =>
        val baseDir = s"$root/base0"
        val dvDir = s"$root/dv"
        base0.toDF("k", "v").write.parquet(baseDir)
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(dvDir))
        var curBase = baseDir
        var gen = 0
        val deleted = scala.collection.mutable.Set[Long]()
        (1 to 5).foreach { step =>
          val batch = (0 until 1 + rnd.nextInt(5))
            .map(_ => 1L + rnd.nextInt(60)).distinct
          deleted ++= batch
          graft.sources.DeletionVectors.appendDeletes(
            batch.toDF("k"), dvDir)
          if (rnd.nextBoolean()) { // fold at random points
            gen += 1
            val next = s"$root/base$gen"
            graft.sources.DeletionVectors.foldCompact(
              spark, curBase, dvDir, "k", next)
            curBase = next
          }
          val got = graft.sources.DeletionVectors
            .readMergeOnRead(spark, curBase, dvDir, "k")
            .select("k").collect().map(_.getLong(0)).toSet
          val want = base0.map(_._1).toSet -- deleted
          assert(got == want, s"trial $trial step $step (folds: $gen)")
        }
      }
    }
  }
}

/** io12c atomic-pointer snapshots: every crash window of commit and
  * expire reads consistently; re-runs converge.
  */
class AtomicSnapshotSpec extends AnyFunSuite {
  import graft.sources.Snapshots
  lazy val spark: SparkSession = TestSpark.spark

  private def withRoot(f: String => Unit): Unit = {
    val root = java.nio.file.Files.createTempDirectory("snapc").toString
    try f(root)
    finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(root))
        .iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  private def ks(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("k").collect().map(_.getLong(0)).toSet

  private def commit3(root: String): Unit = {
    val sp = spark
    import sp.implicits._
    Snapshots.commit(Seq(1L, 2L).toDF("k"), root, 1)
    Snapshots.commit(Seq(3L, 4L).toDF("k"), root, 2)
    Snapshots.commit(Seq(5L, 6L).toDF("k"), root, 3)
  }

  test("commit/read/expire through the pointer round-trips") {
    withRoot { root =>
      commit3(root)
      assert(ks(Snapshots.readVersion(spark, root, 2)) == Set(1L, 2L, 3L, 4L))
      Snapshots.expire(spark, root, cut = 2, graceMs = 0L)
      assert(ks(Snapshots.readVersion(spark, root, 3)) ==
        Set(1L, 2L, 3L, 4L, 5L, 6L), "as-of-3 byte-stable after expiry")
      intercept[IllegalArgumentException] {
        Snapshots.readVersion(spark, root, 1) // history retired
      }
      // superseded generations swept: exactly one g= dir remains
      val gens = new java.io.File(s"$root/manifest").listFiles()
        .count(f => f.isDirectory && f.getName.startsWith("g="))
      assert(gens == 1)
    }
  }

  test("crash between checkpoint and publish: reads untouched, retry converges") {
    withRoot { root =>
      commit3(root)
      val before = ks(Snapshots.readVersion(spark, root, 3))
      // step 1 only — the writer dies before any generation is written
      Snapshots.checkpoint(spark, root, cut = 2)
      assert(ks(Snapshots.readVersion(spark, root, 3)) == before)
      assert(ks(Snapshots.readVersion(spark, root, 1)) == Set(1L, 2L),
        "pre-cut history must still read — nothing was published")
      // full retry from scratch converges
      Snapshots.expire(spark, root, cut = 2, graceMs = 0L)
      assert(ks(Snapshots.readVersion(spark, root, 3)) == before)
      intercept[IllegalArgumentException] {
        Snapshots.readVersion(spark, root, 1)
      }
    }
  }

  test("crash between generation write and pointer swap: invisible; retry converges") {
    withRoot { root =>
      commit3(root)
      val before = ks(Snapshots.readVersion(spark, root, 3))
      val kept = Snapshots.checkpoint(spark, root, cut = 2)
      val gen = Snapshots.currentGen(spark, root).get + 1L
      Snapshots.writeManifestGen(spark, root, gen, kept)
      // died HERE: the new generation exists but the pointer never moved
      assert(ks(Snapshots.readVersion(spark, root, 3)) == before)
      assert(ks(Snapshots.readVersion(spark, root, 1)) == Set(1L, 2L),
        "unswapped generation must be invisible")
      Snapshots.expire(spark, root, cut = 2, graceMs = 0L)
      assert(ks(Snapshots.readVersion(spark, root, 3)) == before)
    }
  }

  test("crash between swap and sweep: consistent; re-expire sweeps") {
    withRoot { root =>
      commit3(root)
      val before = ks(Snapshots.readVersion(spark, root, 3))
      val kept = Snapshots.checkpoint(spark, root, cut = 2)
      val gen = Snapshots.currentGen(spark, root).get + 1L
      Snapshots.writeManifestGen(spark, root, gen, kept)
      Snapshots.swapPointer(spark, root, gen)
      // died HERE: stale dirs + old generations remain on disk, but the
      // published manifest already reads exactly right
      assert(ks(Snapshots.readVersion(spark, root, 3)) == before)
      intercept[IllegalArgumentException] {
        Snapshots.readVersion(spark, root, 1)
      }
      // re-expire is the documented recovery: idempotent, sweeps
      Snapshots.expire(spark, root, cut = 2, graceMs = 0L)
      assert(ks(Snapshots.readVersion(spark, root, 3)) == before)
      val files = new java.io.File(s"$root/data").listFiles().map(_.getName)
      assert(files.sorted.toSeq == Seq("ckpt=2", "v=3"),
        s"sweep must leave only the checkpoint and v3: ${files.toSeq}")
    }
  }

  test("crashed commit (data dir, no publish) is invisible and swept") {
    val sp = spark
    import sp.implicits._
    withRoot { root =>
      commit3(root)
      Seq(99L).toDF("k").write.parquet(s"$root/data/v=9")
      assert(ks(Snapshots.readVersion(spark, root, 9)) ==
        Set(1L, 2L, 3L, 4L, 5L, 6L), "orphan must not be planned")
      Snapshots.expire(spark, root, cut = 1, graceMs = 0L)
      assert(!new java.io.File(s"$root/data/v=9").exists(),
        "expire must sweep crashed-commit orphans")
    }
  }

  test("retried commitPtr converges to one manifest row per version") {
    val sp = spark
    import sp.implicits._
    withRoot { root =>
      Snapshots.commit(Seq(1L).toDF("k"), root, 1)
      Snapshots.commit(Seq(1L).toDF("k"), root, 1) // full replay
      assert(ks(Snapshots.readVersion(spark, root, 1)) == Set(1L))
      val gen = Snapshots.currentGen(spark, root).get
      val rows = spark.read.parquet(s"$root/manifest/g=$gen").count()
      assert(rows == 1L, "retried commit must dedup, not double-list")
    }
  }
}

/** The pointer file every lake commit and feed offset goes through:
  * absent reads None, the last write wins, the tmp file is renamed
  * away, and values come back as `trim` defines.
  */
class PointerFileSpec extends AnyFunSuite {
  import graft.sources.PointerFile
  lazy val spark: SparkSession = TestSpark.spark

  private def withDir(f: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("ptr").toString
    try f(dir)
    finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("an absent pointer reads None") {
    withDir { dir =>
      assert(PointerFile.read(spark, s"$dir/_current").isEmpty)
    }
  }

  test("write then overwrite reads back the last value, trimmed") {
    withDir { dir =>
      PointerFile.write(spark, s"$dir/_current", "3")
      assert(PointerFile.read(spark, s"$dir/_current").contains("3"))
      PointerFile.write(spark, s"$dir/_current", " g=4-ab12cd34 ")
      assert(
        PointerFile.read(spark, s"$dir/_current").contains("g=4-ab12cd34"))
    }
  }

  test("no tmp file is left in the directory") {
    withDir { dir =>
      PointerFile.write(spark, s"$dir/sub/_offset", "1")
      PointerFile.write(spark, s"$dir/sub/_offset", "2")
      val names = new java.io.File(s"$dir/sub").listFiles().map(_.getName)
      assert(names.contains("_offset"), names.toSeq)
      assert(!names.exists(_.contains("tmp")), names.toSeq)
    }
  }

  test("a value holding a newline round-trips as trim defines") {
    withDir { dir =>
      PointerFile.write(spark, s"$dir/_current", "7\n")
      assert(PointerFile.read(spark, s"$dir/_current").contains("7"))
      PointerFile.write(spark, s"$dir/_current", "a\nb")
      assert(PointerFile.read(spark, s"$dir/_current").contains("a\nb"))
    }
  }
}
