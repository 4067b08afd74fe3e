package graft

import graft.core.ConfScope
import graft.operators.Similarity
import graft.sources.Sinks
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class AnnRecallSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("IVF kNN reaches ≥80% recall@10 of exact kNN and stays ordered") {
    // the build is fully deterministic (stride init + 3 fixed Lloyd
    // iterations, rounded means), so recall on this fixture is a fixed
    // number: 0.9 for probe 0 at nList=8/nProbe=4 (it was 0.5-0.7 under
    // the raw stride quantizer — the k-means upgrade is what bought the
    // tighter bound here)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val exact = Similarity.knnToProbe(emb, 0L, 10)
      .collect().map(_.getLong(0)).toSet
    val ivf = Similarity.knnIvf(emb, 0L, 10, nList = 8, nProbe = 4)
      .collect()
    val ids = ivf.map(_.getLong(0))
    val sims = ivf.map(_.getDouble(1))
    assert(sims.sorted.reverse.toSeq == sims.toSeq, "descending order")
    val recall = ids.toSet.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall=$recall")
  }

  test("k-means quantizer: 10-probe mean recall ≥0.65 and ≥ the stride sample") {
    // Both builds are deterministic, so both means are fixed numbers on
    // this fixture (kmeans3 ≈ 0.73; the raw stride sample sat lower) —
    // the comparative assert pins that the Lloyd refinement can never
    // silently fall below the quantizer it replaced
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val probes = (0L until 10L).toSeq
    val exact = Similarity.knnBatch(emb, probes, k = 10).collect()
      .groupBy(_.getLong(0)).map { case (p, rs) => p -> rs.map(_.getLong(1)).toSet }
    def meanRecall(kmIter: Int): Double = {
      val index = Similarity.buildIvfIndex(emb, nList = 8, kmeansIter = kmIter)
      try {
        val got = Similarity.probeIvfBatch(index, probes, k = 10, nProbe = 4)
          .collect()
          .groupBy(_.getLong(0)).map { case (p, rs) => p -> rs.map(_.getLong(1)).toSet }
        probes
          .map(p => got(p).intersect(exact(p)).size.toDouble / exact(p).size)
          .sum / probes.size
      } finally index.release()
    }
    val km = meanRecall(3)
    val stride = meanRecall(0)
    assert(km >= 0.65, s"kmeans mean recall=$km")
    assert(km >= stride, s"kmeans=$km below stride=$stride")
  }

  test("IVF with nProbe = nList equals exact kNN") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val exact = Similarity.knnToProbe(emb, 0L, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val full = Similarity.knnIvf(emb, 0L, 10, nList = 8, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(full == exact)
  }

  test("prebuilt index: batch probe with nProbe = nList equals exact knnBatch") {
    // the strongest check on the build/probe split: probing EVERY list of
    // a prebuilt index must reproduce the exact batched kNN bit-for-bit
    // (same rounded-sim ranking keys), for every probe in the set
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    // 32 vectors with odd ids 1, 3, …, 63: the id stride (every 4th id)
    // selects no seed at all, so the build must top the seeds up
    val oddIds = emb.filter(col("vec_id") < 32)
      .withColumn("vec_id", col("vec_id") * 2 + 1)
    for ((corpus, probes) <- Seq(
        emb -> Seq(0L, 1L, 2L, 3L, 4L), oddIds -> Seq(1L, 3L, 5L, 7L, 9L))) {
      val exact = Similarity.knnBatch(corpus, probes, k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val index = Similarity.buildIvfIndex(corpus, nList = 8)
      try {
        // at minCos = -1 the range prune keeps every centroid built
        assert(index.nList == 8)
        assert(Similarity.rangeListsScanned(index, probes.head, -1.0) == index.nList)
        val full = Similarity.probeIvfBatch(index, probes, k = 10, nProbe = 8)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        assert(full == exact)
      } finally index.release()
    }
  }

  test("disk index: round-trip probe equals in-memory probe and prunes partitions") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val probes = Seq(0L, 1L, 2L)
    val index = Similarity.buildIvfIndex(emb, nList = 8)
    val tmp = java.nio.file.Files.createTempDirectory("ivf_rt").toString
    try {
      Similarity.writeIvfIndex(index, tmp)
      val disk = Similarity.readIvfIndex(spark, tmp)
      assert(disk.nList == 8)
      // pruned disk probe ≡ in-memory batch probe at the same nProbe
      val mem = Similarity.probeIvfBatch(index, probes, k = 10, nProbe = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val viaDisk = Similarity.probeIvfPruned(disk, probes, k = 10, nProbe = 4)
      val got = viaDisk.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == mem)
      // the probed lists must be pruned at the FILE level: the literal
      // c_id IN predicate has to reach the scan's PartitionFilters
      val p = viaDisk.queryExecution.executedPlan.toString
      assert(p.contains("PartitionFilters: ["), p)
      assert(
        "PartitionFilters: \\[[^\\]]*c_id".r.findFirstIn(p).isDefined,
        "c_id pruning missing from scan: " + p)
      // ... on EVERY scan of the lists: the probe vectors ride the
      // (probe, list) collect, so scoring reads no list unpruned
      val listScans = p.split("\n")
        .filter(l => l.contains("FileScan parquet") && l.contains("/lists"))
      assert(listScans.nonEmpty, p)
      listScans.foreach(l => assert(
        "PartitionFilters: \\[[^\\]]*c_id".r.findFirstIn(l).isDefined,
        "unpruned lists scan: " + l))
      // and exactness through the round-trip at nProbe = nList
      val exact = Similarity.knnBatch(emb, probes, k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val full = Similarity.probeIvfPruned(disk, probes, k = 10, nProbe = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(full == exact)
    } finally {
      index.release()
      import scala.jdk.CollectionConverters._
      val root = java.nio.file.Paths.get(tmp)
      java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("IVF-SQ disk index: pruned ADC probe, rerank tail, smaller lists") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val probes = Seq(0L, 1L, 2L, 3L, 4L)
    val index = Similarity.buildIvfIndex(emb, nList = 8)
    val tmpF = java.nio.file.Files.createTempDirectory("ivf_f").toString
    val tmpQ = java.nio.file.Files.createTempDirectory("ivf_sq").toString
    try {
      Similarity.writeIvfIndex(index, tmpF)
      Similarity.writeIvfSqIndex(index, tmpQ)
      def dirBytes(p: String): Long = {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(java.nio.file.Paths.get(p))
          .iterator().asScala
          .filter(java.nio.file.Files.isRegularFile(_))
          .map(java.nio.file.Files.size(_)).sum
      }
      // the point of storing codes: the inverted lists a probe reads
      // must be materially smaller than the float layout's
      val (fb, qb) = (dirBytes(s"$tmpF/lists"), dirBytes(s"$tmpQ/lists"))
      assert(qb < fb * 0.6, s"sq lists $qb bytes vs float $fb")
      // exact recall bound at nProbe = nList: ADC loses only what
      // int8 dequantization loses (the e8 bound)
      val exact = Similarity.knnBatch(emb, probes, k = 10)
        .collect().groupBy(_.getLong(0))
        .map { case (p, rs) => p -> rs.map(_.getLong(1)).toSet }
      val adcFull = Similarity
        .probeIvfSqPruned(emb, tmpQ, probes, k = 10, nProbe = 8)
      def recall(m: Map[Long, Set[Long]]): Double =
        probes.map(p => m(p).intersect(exact(p)).size.toDouble / 10).sum /
          probes.size
      def sets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
        df.collect().groupBy(_.getLong(0))
          .map { case (p, rs) => p -> rs.map(_.getLong(1)).toSet }
      val rAdc = recall(sets(adcFull))
      assert(rAdc >= 0.7, s"ADC@nList recall=$rAdc")
      // pruning must reach the scan's PartitionFilters at nProbe < nList
      val pruned = Similarity
        .probeIvfSqPruned(emb, tmpQ, probes, k = 10, nProbe = 2)
      val plan = pruned.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: ["), plan)
      assert(
        "PartitionFilters: \\[[^\\]]*c_id".r.findFirstIn(plan).isDefined,
        "c_id pruning missing from scan: " + plan)
      // the rerank tail can only help: every exact neighbour the ADC
      // stage surfaces in its top-R survives an exact re-scoring
      val rRerank = recall(sets(Similarity.probeIvfSqReranked(
        emb, tmpQ, probes, k = 10, nProbe = 8, rerankR = 50)))
      assert(rRerank >= rAdc, s"rerank=$rRerank < adc=$rAdc")
    } finally {
      index.release()
      import scala.jdk.CollectionConverters._
      for (tmp <- Seq(tmpF, tmpQ)) {
        val root = java.nio.file.Paths.get(tmp)
        java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      }
    }
  }

  test("IVF append: batch-split invariant, pruning preserved") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val evens = emb.filter(col("vec_id") % 2 === 0)
    val odds = emb.filter(col("vec_id") % 2 === 1)
    val index = Similarity.buildIvfIndex(evens, nList = 8)
    val tmpA = java.nio.file.Files.createTempDirectory("ivf_app_a").toString
    val tmpB = java.nio.file.Files.createTempDirectory("ivf_app_b").toString
    try {
      Similarity.writeIvfIndex(index, tmpA)
      Similarity.writeIvfIndex(index, tmpB)
      // A: one append; B: the same rows in two batches
      Similarity.appendToIvfIndex(spark, tmpA, odds)
      Similarity.appendToIvfIndex(spark, tmpB, odds.filter(col("vec_id") < 500))
      Similarity.appendToIvfIndex(spark, tmpB, odds.filter(col("vec_id") >= 500))
      val probes = Seq(0L, 1L, 2L)
      def probe(path: String) = Similarity.probeIvfPruned(
        Similarity.readIvfIndex(spark, path), probes, k = 10, nProbe = 3)
      val a = probe(tmpA)
      val b = probe(tmpB)
      assert(
        a.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet ==
          b.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet)
      // pruning still reaches the scan over the appended layout
      val plan = a.queryExecution.executedPlan.toString
      assert("PartitionFilters: \\[[^\\]]*c_id".r.findFirstIn(plan).isDefined, plan)
    } finally {
      index.release()
      import scala.jdk.CollectionConverters._
      for (tmp <- Seq(tmpA, tmpB)) {
        val root = java.nio.file.Paths.get(tmp)
        java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      }
    }
  }

  test("bounded top-k aggregate form equals the window form exactly") {
    // same rounded-sim ranking keys, so the two plans must agree on the
    // full (probe_id, vec_id, cos_sim) set — including tie boundaries
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val probes = Seq(0L, 1L, 2L, 3L, 4L, 17L, 99L)
    val win = Similarity.knnBatch(emb, probes, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val agg = Similarity.knnBatchAgg(emb, probes, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(agg == win)
    assert(win.size == probes.size * 10)
  }

  test("top-k aggregate handles k larger than the group") {
    // fewer candidates than k: emit all of them, still fully sorted
    val emb = spark.read.parquet(s"$dir/embeddings.parquet").limit(5)
    val agg = Similarity.knnBatchAgg(emb, Seq(0L), k = 10).collect()
    assert(agg.length == 4) // 5 vectors minus the probe itself
    val sims = agg.map(_.getDouble(2)).toSeq
    assert(sims == sims.sorted.reverse, "descending order")
  }

  test("truncateRenorm: unit vectors, zero-prefix rows dropped, dot ranks") {
    val sp = spark
    import sp.implicits._
    // m=2 prefixes: 1→[1,0], 2→[1,1]/√2, 3→[0,1], 4→[0,0] (dropped)
    val emb = Seq(
      (0L, Seq(1f, 0f, 0f, 0f), 0),
      (1L, Seq(2f, 0f, 0f, 9f), 0),
      (2L, Seq(1f, 1f, 0f, 0f), 0),
      (3L, Seq(0f, 1f, 0f, 0f), 0),
      (4L, Seq(0f, 0f, 5f, 5f), 0)).toDF("vec_id", "embedding", "label")
    val tr = Similarity.truncateRenorm(emb, m = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](2)).toMap
    assert(tr.keySet == Set(0L, 1L, 2L, 3L), s"zero prefix must drop: $tr")
    tr.values.foreach { v =>
      assert(math.abs(v.map(x => x * x).sum - 1.0) < 1e-12, s"unit: $v")
    }
    val got = Similarity.knnTruncated(emb, probeId = 0L, k = 10, m = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L), s"rank order: ${got.toSeq}")
    assert(got(0)._2 == 1.0 && math.abs(got(1)._2 - 0.707107) < 1e-6 &&
      got(2)._2 == 0.0, s"${got.toSeq}")
  }

  test("funnel rerank recovers recall the truncated space loses") {
    // per-probe top-10 recall vs exact full-dim kNN. These synthetic
    // embeddings are RANDOM — no MRL training concentrates information
    // in the prefix, so absolute truncated-space recall is inherently
    // modest; what the funnel must guarantee is structural: (1) rerank
    // never loses to stopping in the truncated space, (2) widening the
    // shortlist monotonically buys recall, (3) a shortlist covering the
    // corpus IS the exact result (the funnel degrades gracefully to
    // exact kNN as rerankR → N). Deterministic fixture ⇒ fixed recalls.
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val n = emb.count().toInt
    val probes = Seq(0L, 1L, 2L, 3L, 4L)
    def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().groupBy(_.getLong(0))
        .map { case (p, rs) => p -> rs.map(_.getLong(1)).toSet }
    val exact = topSets(Similarity.knnBatch(emb, probes, k = 10))
    val funnel50 = topSets(
      Similarity.knnFunnel(emb, probes, k = 10, m = 16, rerankR = 50))
    val funnel200 = topSets(
      Similarity.knnFunnel(emb, probes, k = 10, m = 16, rerankR = 200))
    val funnelAll = topSets(
      Similarity.knnFunnel(emb, probes, k = 10, m = 16, rerankR = n))
    val truncOnly = probes.map { p =>
      p -> Similarity.knnTruncated(emb, p, k = 10, m = 16)
        .collect().map(_.getLong(0)).toSet
    }.toMap
    def recall(got: Map[Long, Set[Long]]): Double =
      probes.map(p => got(p).intersect(exact(p)).size.toDouble / 10).sum /
        probes.size
    val (rF50, rF200, rT) = (recall(funnel50), recall(funnel200), recall(truncOnly))
    assert(rF50 >= rT, s"funnel@50=$rF50 < truncated-only=$rT")
    assert(rF200 >= rF50, s"funnel@200=$rF200 < funnel@50=$rF50")
    assert(rF50 >= 0.4, s"funnel@50 recall=$rF50")
    assert(funnelAll == exact, "corpus-wide shortlist must BE exact kNN")
  }

  test("int8 quantization: codes in range, dequantized kNN keeps high recall") {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = Similarity.quantizeEmbeddings(emb)
    val codes = q.collect()
    assert(codes.nonEmpty)
    assert(codes.forall(r => r.getInt(2) >= 0 && r.getInt(2) <= 255))
    // reconstruct vectors from codes (mid-bucket) and check top-10
    // cosine recall vs the exact float path — int8 at 64 dims should
    // lose almost nothing
    val recon = q.groupBy(col("vec_id"))
      .agg(sort_array(collect_list(struct(col("d"), col("code"))))
        .as("sc"))
      .select(
        col("vec_id"),
        transform(col("sc"), s => s.getField("code")).as("codes"))
    // stats re-derived the same way the operator derived them
    val st = emb
      .select(posexplode(col("embedding").cast("array<double>"))
        .as(Seq("d", "x")))
      .groupBy(col("d"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    val mnArr = array(st.map(s => lit(s._2)).toSeq: _*)
    val rngArr = array(st.map(s => lit(s._3 - s._2)).toSeq: _*)
    val deq = recon.select(
      col("vec_id"),
      Similarity.dequantize(col("codes"), mnArr, rngArr).as("embedding"))
    val approx = Similarity.knnToProbe(deq, 0L, 10)
      .collect().map(_.getLong(0)).toSet
    val exact = Similarity.knnToProbe(emb, 0L, 10)
      .collect().map(_.getLong(0)).toSet
    val recall = approx.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.7, s"recall=$recall")
  }

  test("prebuilt index: repeated probes reuse one assignment, recall holds") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val index = Similarity.buildIvfIndex(emb, nList = 8)
    try {
      // two single probes + one batch against the SAME index handle; each
      // must match the one-shot operator's answer for that probe
      for (p <- Seq(0L, 7L)) {
        val viaIndex = Similarity.probeIvf(index, p, 10, nProbe = 4)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        val oneShot = Similarity.knnIvf(emb, p, 10, nList = 8, nProbe = 4)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(viaIndex == oneShot, s"probe $p diverged from one-shot IVF")
      }
      val batch = Similarity.probeIvfBatch(index, Seq(0L, 7L), 10, nProbe = 4)
        .collect()
      val exact0 = Similarity.knnToProbe(emb, 0L, 10)
        .collect().map(_.getLong(0)).toSet
      val got0 = batch.filter(_.getLong(0) == 0L).map(_.getLong(1)).toSet
      val recall = got0.intersect(exact0).size.toDouble / exact0.size
      // deterministic 0.9 on this fixture since the k-means quantizer
      assert(recall >= 0.8, s"recall=$recall")
    } finally index.release()
  }
}

class SinksSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  test("bucketed tables join with zero exchanges") {
    val sp = spark
    import sp.implicits._
    val a = (1L to 1000L).map(i => (i, s"a$i")).toDF("k", "va")
    val b = (1L to 1000L).map(i => (i, i * 2.0)).toDF("k", "vb")
    Seq("bkt_a", "bkt_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) {
        loc.listFiles().foreach(_.delete()); loc.delete()
      }
    }
    Sinks.writeBucketed(spark, a, "bkt_a", "k", 8)
    Sinks.writeBucketed(spark, b, "bkt_b", "k", 8)
    // disable broadcast so the join must use the bucket layout
    ConfScope(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val joined = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
      joined.collect() // force final AQE plan
      val plan = joined.queryExecution.executedPlan.toString
      assert(
        !plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n$plan")
      assert(joined.count() == 1000)
    }
  }

  test("partitioned write prunes directories on the partition predicate") {
    val sp = spark
    import sp.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("part").toString
    val df = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "a", 3.0))
      .toDF("id", "cat", "v")
    Sinks.writePartitioned(df, tmp, Seq("cat"))
    val read = spark.read.parquet(tmp).filter(col("cat") === "a")
    assert(read.count() == 2)
    val scan = read.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters"), scan)
  }

  test("single-file text sink writes exactly one part file") {
    val sp = spark
    import sp.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("single").toString + "/out"
    Sinks.writeSingleTextFile(Seq((1L, 0.5), (2L, 0.25)).toDF("id", "r"), tmp)
    val parts = new java.io.File(tmp).listFiles()
      .filter(f => f.getName.startsWith("part-"))
    assert(parts.length == 1)
  }
}
