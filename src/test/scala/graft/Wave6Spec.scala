package graft

import graft.core.ConfScope
import graft.operators.Cdc
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-9 wave: CDC SCD2 merge (q39), min/max data skipping (io8),
  * AQE skew join (q38).
  */
class CdcSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  private def scd2(rows: Seq[(Long, Long, String, Long)]): DataFrame = {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("valid_from"), col("event_id"))
    rows.toDF("user_id", "event_id", "event_type", "valid_from")
      .withColumn(
        "valid_to", coalesce(lead(col("valid_from"), 1).over(w), lit(-1L)))
      .withColumn("is_current", col("valid_to") === -1L)
  }

  private def batch(rows: Seq[(Long, Long, String, Long)]): DataFrame = {
    val sp = spark
    import sp.implicits._
    rows.toDF("user_id", "event_id", "event_type", "valid_from")
  }

  private def collectSet(df: DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
      r.getLong(3), r.getLong(4), r.getBoolean(5))).toSet

  test("merge closes the open interval and appends the new current row") {
    val t = scd2(Seq((1L, 10L, "signup", 100L)))
    val got = collectSet(Cdc.scd2Merge(t, batch(Seq((1L, 11L, "click", 200L)))))
    assert(got == Set(
      (1L, 10L, "signup", 100L, 200L, false),
      (1L, 11L, "click", 200L, -1L, true)))
  }

  test("replay is a no-op: merge(merge(t,b),b) == merge(t,b)") {
    val t = scd2(Seq(
      (1L, 10L, "signup", 100L), (1L, 11L, "view", 300L),
      (2L, 20L, "signup", 50L)))
    val b = batch(Seq((1L, 12L, "click", 400L), (3L, 30L, "signup", 10L)))
    val once = Cdc.scd2Merge(t, b)
    val twice = Cdc.scd2Merge(once, b)
    assert(collectSet(once) == collectSet(twice))
    // and a PARTIAL replay (one old version + one new) inserts only the
    // new version
    val partial = batch(Seq((1L, 12L, "click", 400L), (1L, 13L, "buy", 500L)))
    val got = collectSet(Cdc.scd2Merge(once, partial))
    assert(got == collectSet(Cdc.scd2Merge(t,
      batch(Seq((1L, 12L, "click", 400L), (1L, 13L, "buy", 500L),
        (3L, 30L, "signup", 10L))))))
    assert(got.count(r => r._1 == 1L && r._6) == 1)
    assert(got.exists(r => r._2 == 13L && r._5 == -1L && r._6))
  }

  test("untouched keys pass through unchanged") {
    val t = scd2(Seq(
      (1L, 10L, "signup", 100L), (1L, 11L, "view", 300L),
      (2L, 20L, "signup", 50L), (2L, 21L, "click", 60L)))
    val got = Cdc.scd2Merge(t, batch(Seq((1L, 12L, "buy", 400L))))
    assert(collectSet(got.filter(col("user_id") === 2L)) ==
      collectSet(t.filter(col("user_id") === 2L)))
  }

  test("out-of-order change splits the interval it lands in") {
    // existing: [100, 300) then [300, open); late row at 200 must yield
    // [100, 200), [200, 300), [300, open) — a from-scratch rebuild shape
    val t = scd2(Seq((1L, 10L, "signup", 100L), (1L, 12L, "buy", 300L)))
    val got = collectSet(Cdc.scd2Merge(t, batch(Seq((1L, 11L, "view", 200L)))))
    assert(got == Set(
      (1L, 10L, "signup", 100L, 200L, false),
      (1L, 11L, "view", 200L, 300L, false),
      (1L, 12L, "buy", 300L, -1L, true)))
  }

  test("profile handles dotted and backticked column names") {
    val sp = spark
    import sp.implicits._
    val df = Seq((1L, "x"), (2L, "y"), (2L, null))
      .toDF("a.b", "we`ird")
    val got = graft.operators.Profiler.profile(df, Seq("a.b", "we`ird"))
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .toMap
    assert(got("a.b") == ((3L, 3L, 2L, "1")))
    assert(got("we`ird") == ((3L, 2L, 2L, "x")))
  }

  test("merge of any batch split equals the from-scratch build") {
    val all = Seq(
      (1L, 10L, "a", 100L), (1L, 11L, "b", 200L), (1L, 12L, "c", 300L),
      (2L, 20L, "a", 50L), (2L, 21L, "b", 150L),
      (3L, 30L, "a", 10L))
    val fromScratch = collectSet(scd2(all))
    // split by event_id mod 3, batches applied in an arbitrary order
    // with a replay of the middle batch
    val parts = all.groupBy(t => t._2 % 3)
    val merged = Seq(parts(1L % 3), parts(2L % 3), parts(1L % 3))
      .map(p => batch(p))
      .foldLeft(scd2(parts(0L)))(Cdc.scd2Merge(_, _))
    assert(collectSet(merged) == fromScratch)
  }
}

/** io8: parquet min/max stats on a sort-ordered layout actually skip
  * row groups — the scan's own metrics prove bytes were never read.
  */
class MinMaxSkipSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("sorted layout: the pushed range predicate prunes row groups; round-robin layout reads everything") {
    val ev = graft.sources.Tables.events(spark, dir)
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("value"))
    val total = ev.count()
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_io8_spec").toString
    try {
      ev.repartitionByRange(8, col("ts_us"))
        .sortWithinPartitions(col("ts_us"))
        .write.mode("overwrite").parquet(s"$tmp/sorted")
      ev.repartition(8)
        .write.mode("overwrite").parquet(s"$tmp/rr")
      def scanRows(path: String): (Long, Long) = {
        val q = spark.read.parquet(path)
          .filter(col("ts_us") >= 1704326400000000L &&
            col("ts_us") < 1704585600000000L)
        val plan = q.queryExecution.executedPlan
        assert(plan.toString.contains("PushedFilters: [IsNotNull(ts_us)"),
          "range predicate must reach the parquet scan: " + plan)
        // execute THIS plan object — its metrics are what we read (a
        // separate q.count() would run a different physical plan)
        val n = plan.executeCollect().length.toLong
        val scan = plan.collectLeaves().collectFirst {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        }.get
        (scan.metrics("numOutputRows").value, n)
      }
      val (sortedScan, nSorted) = scanRows(s"$tmp/sorted")
      val (rrScan, nRr) = scanRows(s"$tmp/rr")
      // correctness: both layouts agree on the selected rows
      assert(nSorted == nRr && nSorted > 0)
      // the round-robin layout's row groups all straddle the predicate
      // range -> footer stats skip nothing, every row is decoded
      assert(rrScan == total, s"expected full read, got $rrScan of $total")
      // the sorted layout decodes only the row groups whose min/max
      // overlap the 3-of-30-day window: a fraction of the table
      assert(sortedScan * 2 <= total,
        s"min/max skipping did not bite: scan emitted $sortedScan of $total")
      assert(sortedScan >= nSorted)
    } finally {
      import scala.jdk.CollectionConverters._
      val root = java.nio.file.Paths.get(tmp)
      java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }
}

/** q38: AQE actually splits the hub partition when skew handling is on,
  * and both variants return identical results.
  */
class SkewJoinSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("skew-on final plan carries skew=true; on/off results identical") {
    val on = SparkEntry.queries("q38_skew_aqe")(spark, dir)
    // sealAfter already executed the join inside the tuned-conf scope;
    // the checkpointed frame carries the result, but the plan assert
    // needs a fresh execution we can inspect — rebuild under the same
    // confs by calling the entry again and walking the adaptive plan
    // of the pre-checkpoint join. Instead: assert on results here and
    // plan-shape below via a direct tuned-session run.
    val off = SparkEntry.queries("q38_skew_noaqe")(spark, dir)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(key(on) == key(off))
    assert(key(on).nonEmpty)
    // plan shape: rebuild the same skewed join with the tuned confs and
    // check the FINAL adaptive plan did split the hub partition
    ConfScope(spark,
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1m",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1m",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val ev = spark.read.parquet(s"$dir/events.parquet")
      // ×1024 multiplier (vs the entry's ×64): at sf0.001 the hub
      // partition must clear the same 1m skew threshold the entry's
      // confs use at verify/bench scale — the plan SHAPE is what this
      // test pins, the thresholds are scale knobs. Same construction as
      // the entry otherwise: distinct per-replica values (compressible
      // copies would hide the skew from the byte-based detector),
      // multi-mapper map side (split specs are map ranges), and a
      // materialized right side (the rule matches SMJ(Sort(stage),
      // Sort(stage)) only).
      val left = ev.repartition(32).select(
          when(pmod(col("event_id"), lit(2)) === 0, lit(0L))
            .otherwise(pmod(col("event_id"), lit(997))).as("jk"),
          col("value"),
          explode(sequence(lit(0), lit(1023))).as("rep"))
        .select(col("jk"), (col("value") + col("rep")).as("value"))
      val right = ev.groupBy(pmod(col("event_id"), lit(997)).as("jk"))
        .agg(count(lit(1)).as("r_n"))
        .localCheckpoint()
      // the aggregate must KEEP value (as the entry's does): a
      // count-only agg lets Catalyst prune value out of the join
      // shuffle, and the hub partition of bare near-constant keys
      // compresses below the skew threshold
      val joined = left.join(right, Seq("jk"))
        .groupBy(pmod(col("jk"), lit(16)).as("bucket"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("r_n")).as("sum_rn"),
          round(sum(col("value")), 2).as("sum_value"))
      joined.collect()
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        "AQE did not split the skewed partition: " + finalPlan)
    }
  }
}

/** e22/e23: the graph-ANN family — IVF-bucketed kNN-graph build +
  * deterministic NSW beam search.
  */
class GraphAnnSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"
  private def emb = spark.read.parquet(s"$dir/embeddings.parquet")

  test("gate config nProbe=nList: graph equals the exact kNN graph") {
    import graft.operators.Similarity
    val g = Similarity.knnGraphIvf(emb, m = 4, nList = 8, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact reference: brute-force per-src top-4 on (rounded cos, nbr)
    val e = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val exact = e.as("a").join(e.as("b"),
        col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("src"), col("b.vec_id").as("nbr"),
        round(graft.operators.Similarity.cosine(col("a.v"), col("b.v")), 6)
          .as("cs"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("src")).orderBy(desc("cs"), asc("nbr"))
    val exactSet = exact.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(g == exactSet)
  }

  test("approximate graph (nProbe < nList) keeps recall >= 0.5 vs exact") {
    import graft.operators.Similarity
    val approx = Similarity.knnGraphIvf(emb, m = 4, nList = 8, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Similarity.knnGraphIvf(emb, m = 4, nList = 8, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (approx & exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"graph recall $recall")
    // and the approximate candidate set can only shrink coverage, not
    // invent edges that beat the exact ranking's members
    assert(approx.size <= exact.size)
  }

  test("nsw search: recall >= 0.6 vs exact top-10; probe == entry point still answers") {
    import graft.operators.Similarity
    val g = Similarity.knnGraphIvf(emb, m = 8, nList = 8, nProbe = 8)
    val probeIds = Seq(0L, 1L, 2L)
    val got = Similarity.nswSearch(g, emb, probeIds, k = 10,
      beamWidth = 8, hops = 3)
    val rows = got.collect()
    // entry point is min(src) = 0, which is ALSO probe 0: it must still
    // return k rows and never report itself
    for (p <- probeIds) {
      val mine = rows.filter(_.getLong(0) == p)
      assert(mine.length == 10, s"probe $p returned ${mine.length} rows")
      assert(!mine.exists(_.getLong(1) == p), s"probe $p reported itself")
    }
    val exact = Similarity.knnBatch(emb, probeIds, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val gotSet = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (gotSet & exact).size.toDouble / exact.size
    assert(recall >= 0.6, s"nsw recall $recall")
  }

  test("beam-1 single hop on a hand graph walks greedily") {
    val sp = spark
    import sp.implicits._
    // vectors on a line: 0=(1,0), 1=(0.9,0.1), 2=(0,1) — probe (1,0)
    // enters at 0; its only graph neighbor is 1; one hop adds 1.
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val g = Seq((0L, 1L), (1L, 0L), (2L, 1L)).toDF("src", "nbr")
      .withColumn("cos_sim", lit(0.0))
    val got = graft.operators.Similarity
      .nswSearch(g, vecs, Seq(0L), k = 2, beamWidth = 1, hops = 1)
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    // probe 0: visited {0 (self), 1}; self excluded → exactly vec 1
    assert(got.map(_._1).toSeq == Seq(1L))
  }
}

/** d38: PII redaction — portable-regex scrubbing with audit counts. */
class PiiRedactSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  private def redact(texts: (Long, String)*) = {
    val sp = spark
    import sp.implicits._
    graft.operators.TextOps.redactPii(texts.toDF("doc_id", "text"))
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .toMap
  }

  test("emails, ips, phones are replaced and counted; clean text untouched") {
    val got = redact(
      (1L, "mail a.b%c@sub.example.org and x@y.io now"),
      (2L, "server 192.168.0.1 and 10.0.255.7 up"),
      (3L, "call +1 555 0100 or +44 20 7946 0958"),
      (4L, "no pii here, just words and 42"))
    assert(got(1L) == ((2L, 0L, 0L, "mail <EMAIL> and <EMAIL> now")))
    assert(got(2L) == ((0L, 2L, 0L, "server <IP> and <IP> up")))
    assert(got(3L) == ((0L, 0L, 2L, "call <PHONE> or <PHONE>")))
    assert(got(4L) == ((0L, 0L, 0L, "no pii here, just words and 42")))
  }

  test("mixed pii redacts in the fixed order without cross-matching") {
    val got = redact(
      (1L, "u@v.com at 8.8.8.8 call +1 555 0100 end"))
    assert(got(1L) == ((1L, 1L, 1L,
      "<EMAIL> at <IP> call <PHONE> end")))
  }
}

/** d39: native graft_nfc expression — Unicode NFC normalization. */
class NfcSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  import graft.functions.StringFunctions.nfc

  test("decomposed sequences compose; NFC text passes through; null stays null") {
    val sp = spark
    import sp.implicits._
    // explicit escapes: cafe\u0301 (decomposed) must compose to caf\u00E9
    val df = Seq(
      (1L, "cafe\u0301"), (2L, "caf\u00E9"), (3L, "A\u030Angstro\u0308m"),
      (4L, "plain ascii"), (5L, null)).toDF("id", "s")
    val got = df.select(col("id"), nfc(col("s")).as("n"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(got(1L) == "caf\u00E9")
    assert(got(2L) == "caf\u00E9")
    assert(got(3L) == "\u00C5ngstr\u00F6m")
    assert(got(4L) == "plain ascii")
    assert(got(5L) == null)
  }

  test("graft_nfc runs inside whole-stage codegen and is SQL-callable") {
    // parquet-backed input: a local relation would be constant-folded
    // by ConvertToLocalRelation before any codegen happens
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val p = docs.select(nfc(col("text")))
      .queryExecution.executedPlan.toString
    assert(p.contains("graft_nfc"), p)
    assert(p.contains("*(1) Project [graft_nfc"),
      "graft_nfc fell out of codegen: " + p)
    graft.functions.VectorFunctions.registerSqlFunctions(spark)
    val viaSql = spark.sql(
      "SELECT graft_nfc('cafe\u0301') AS n").collect().head.getString(0)
    assert(viaSql == "caf\u00E9")
  }
}

/** io9: z-order clustering skips on BOTH filter dimensions, where a
  * lexicographic sort skips only on its lead column.
  */
class ZOrderSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  test("morton interleave: known bit patterns") {
    val sp = spark
    import sp.implicits._
    val got = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (65535L, 65535L))
      .toDF("x", "y")
      .select(graft.operators.Layout.zValue16(col("x"), col("y")))
      .collect().map(_.getLong(0)).toSeq
    // z(3,5) = interleave(x=0b011, y=0b101) = y2x2 y1x1 y0x0 = 100111
    assert(got == Seq(0L, 1L, 2L, 39L, (1L << 32) - 1))
  }

  test("day predicate skips on the z layout, not on the (user, day) lex sort; user predicate skips on both") {
    val ev = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("event_id"), col("user_id"),
        dayofmonth(col("ts")).as("d"), col("value"))
    val total = ev.count()
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_io9_spec").toString
    try {
      ev.withColumn("z",
          graft.operators.Layout.zValue16(col("user_id"), col("d")))
        .repartitionByRange(16, col("z")).sortWithinPartitions(col("z"))
        .drop("z")
        .write.mode("overwrite").parquet(s"$tmp/zorder")
      ev.repartitionByRange(16, col("user_id"), col("d"))
        .sortWithinPartitions(col("user_id"), col("d"))
        .write.mode("overwrite").parquet(s"$tmp/lex")
      def scanned(path: String, pred: org.apache.spark.sql.Column): Long = {
        val q = spark.read.parquet(path).filter(pred)
        val plan = q.queryExecution.executedPlan
        plan.executeCollect()
        plan.collectLeaves().collectFirst {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        }.get.metrics("numOutputRows").value
      }
      val dayPred = col("d").between(4, 9)
      val userPred = col("user_id").between(3, 7)
      val zDay = scanned(s"$tmp/zorder", dayPred)
      val lexDay = scanned(s"$tmp/lex", dayPred)
      val zUser = scanned(s"$tmp/zorder", userPred)
      val lexUser = scanned(s"$tmp/lex", userPred)
      // day is the lex sort's SECOND column: its per-file min/max spans
      // the month, footer stats skip (almost) nothing
      assert(lexDay * 10 >= total * 9, s"lex day scan $lexDay of $total")
      // the z rectangles bound the day range per file: a material skip
      // (measured 442/1000 at this fixture)
      assert(zDay * 3 <= total * 2, s"z day scan $zDay of $total")
      assert(zDay < lexDay)
      // user is lex's lead column -> strong skip; z keeps a usable
      // fraction of that locality too (measured 437 vs 745 of 1000)
      assert(lexUser * 10 <= total * 6, s"lex user scan $lexUser of $total")
      assert(zUser * 10 <= total * 9, s"z user scan $zUser of $total")
    } finally {
      import scala.jdk.CollectionConverters._
      val root = java.nio.file.Paths.get(tmp)
      java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }
}

/** q40/d40: correlation matrix + rank-based feature binning. */
class FeatureStatsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  test("corr: exact +1/-1 on linear columns") {
    val sp = spark
    import sp.implicits._
    val df = (1 to 50).map(i => (i.toDouble, 2.0 * i + 3, -0.5 * i + 9))
      .toDF("a", "b", "c")
    val r = df.agg(
      round(corr(col("a"), col("b")), 6).as("ab"),
      round(corr(col("a"), col("c")), 6).as("ac")).collect().head
    assert(r.getDouble(0) == 1.0 && r.getDouble(1) == -1.0)
  }

  test("ntile(4) splits 10 rows 3/3/2/2 with rank ties broken by id") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("g")).orderBy(col("v"), col("id"))
    val df = (1 to 10).map(i => ("x", i.toLong, (i % 3).toDouble))
      .toDF("g", "id", "v")
    val sizes = df.withColumn("bin", ntile(4).over(w))
      .groupBy(col("bin")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(sizes == Map(1 -> 3L, 2 -> 3L, 3 -> 2L, 4 -> 2L))
  }
}

/** g47: star-contraction connected components — O(log n) rounds. */
class StarContractionSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  test("path-200: star contraction converges in O(log n) rounds, all labels 0") {
    val sp = spark
    import sp.implicits._
    val path = (0L until 199L).map(i => (i, i + 1)).toDF("src", "dst")
    val (starLabels, starRounds) =
      graft.operators.GraphBuilder.connectedComponentsStar(path)
    val labels = starLabels.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 200 && labels.values.forall(_ == 0L))
    assert(starRounds <= 12, s"star contraction took $starRounds rounds")
  }

  test("path-40: HashMin pays ~diameter rounds, star contraction a handful — same labels") {
    // the documented trade, kept test-sized: HashMin's 39 rounds are
    // each a full Spark job, so the O(n) leg runs on a short path
    val sp = spark
    import sp.implicits._
    val path = (0L until 39L).map(i => (i, i + 1)).toDF("src", "dst")
    val (starLabels, starRounds) =
      graft.operators.GraphBuilder.connectedComponentsStar(path)
    val (hmLabels, hmRounds) =
      graft.operators.GraphBuilder.connectedComponentsDF(path, maxRounds = 60)
    assert(hmRounds >= 35, s"expected ~diameter HashMin rounds, got $hmRounds")
    assert(starRounds <= 10, s"star took $starRounds rounds")
    assert(hmLabels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      == starLabels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
  }

  test("differential vs HashMin on the portable fixture; isolated vertices self-label") {
    val sp = spark
    import sp.implicits._
    val g = graft.sources.SyntheticGraph.portable(spark, 300, 150, "g47t")
    val star = graft.operators.GraphBuilder.connectedComponentsStar(g)._1
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hm = graft.operators.GraphBuilder.connectedComponentsDF(g)._1
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(star == hm)
    // self-loop-only vertex labels itself
    val lonely = Seq((5L, 5L)).toDF("src", "dst")
    val got = graft.operators.GraphBuilder.connectedComponentsStar(lonely)._1
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((5L, 5L)))
  }
}

/** CacheScope.rotate: the loop-state rotation must DROP carried size
  * estimates — localCheckpoint alone preserves them and a join-shaped
  * round doubles their bit length every iteration (the long-fixpoint
  * BigInteger overflow g47's path test originally hit).
  */
class LoopRotationSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  test("12 self-join rounds keep a constant-size stat; bare localCheckpoint grows exponentially") {
    val sp = spark
    import sp.implicits._
    def bits(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.stats.sizeInBytes.bitLength
    def round(df: org.apache.spark.sql.DataFrame) =
      df.as("a").join(df.as("b"), "id")
        .select(col("id"), col("a.lbl").as("lbl"))
    var rotated = spark.range(0, 20).selectExpr("id", "id as lbl")
      .transform(graft.operators.CacheScope.rotate)
    var bare = spark.range(0, 20).selectExpr("id", "id as lbl")
      .localCheckpoint()
    for (_ <- 1 to 12) {
      rotated = graft.operators.CacheScope.rotate(round(rotated))
      bare = round(bare).localCheckpoint()
    }
    assert(bits(rotated) < 128,
      s"rotated state stat grew to ${bits(rotated)} bits")
    assert(bits(bare) > 1000,
      s"expected exponential growth in the bare control, got ${bits(bare)}")
    // and the rotated frame still carries the right DATA
    assert(rotated.count() == 20)
  }
}

/** Hardening regressions: in-batch CDC duplicates; unknown NSW probes. */
class HardeningSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  test("a batch carrying the same change twice merges it once") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("valid_from"), col("event_id"))
    val t = Seq((1L, 10L, "signup", 100L))
      .toDF("user_id", "event_id", "event_type", "valid_from")
      .withColumn(
        "valid_to", coalesce(lead(col("valid_from"), 1).over(w), lit(-1L)))
      .withColumn("is_current", col("valid_to") === -1L)
    val dupBatch = Seq(
      (1L, 11L, "click", 200L), (1L, 11L, "click", 200L))
      .toDF("user_id", "event_id", "event_type", "valid_from")
    val got = graft.operators.Cdc.scd2Merge(t, dupBatch).collect()
      .map(r => (r.getLong(1), r.getLong(3), r.getLong(4))).toSet
    assert(got == Set((10L, 100L, 200L), (11L, 200L, -1L)),
      s"in-batch duplicate minted extra rows: $got")
  }

  test("nswSearch fails fast on an unknown probe id") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val g = graft.operators.Similarity.knnGraphIvf(emb, m = 4, nList = 4, nProbe = 4)
    val thrown = try {
      graft.operators.Similarity
        .nswSearch(g, emb, Seq(0L, -12345L), k = 5)
      false
    } catch { case _: IllegalArgumentException => true }
    assert(thrown)
  }

  test("nswSearch fails loudly on an edgeless graph, not with an NPE") {
    val sp = spark
    import sp.implicits._
    val oneVec = Seq((0L, Array(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val emptyGraph = Seq.empty[(Long, Long)].toDF("src", "nbr")
    val thrown = try {
      graft.operators.Similarity
        .nswSearch(emptyGraph, oneVec, Seq(0L), k = 1)
      false
    } catch {
      case e: IllegalArgumentException =>
        assert(e.getMessage.contains("no edges"), e.getMessage)
        true
    }
    assert(thrown)
  }

  test("nswSearch guard failures leave nothing persisted (release-on-throw)") {
    val sp = spark
    import sp.implicits._
    sp.sharedState.cacheManager.clearCache()
    val oneVec = Seq((0L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val emptyG = Seq.empty[(Long, Long)].toDF("src", "nbr")
    intercept[IllegalArgumentException] {
      graft.operators.Similarity.nswSearch(emptyG, oneVec, Seq(0L), k = 1)
    }
    assert(sp.sharedState.cacheManager.isEmpty,
      "edgeless-graph failure leaked cache entries")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val g = graft.operators.Similarity
      .knnGraphIvf(emb, m = 4, nList = 4, nProbe = 4)
    sp.sharedState.cacheManager.clearCache()
    intercept[IllegalArgumentException] {
      graft.operators.Similarity.nswSearch(g, emb, Seq(-12345L), k = 1)
    }
    assert(sp.sharedState.cacheManager.isEmpty,
      "unknown-probe failure leaked cache entries")
  }

  test("conflicting in-batch rows for one (key, version) resolve " +
    "deterministically to a single winner") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("valid_from"), col("event_id"))
    val t = Seq((1L, 10L, "signup", 100L))
      .toDF("user_id", "event_id", "event_type", "valid_from")
      .withColumn(
        "valid_to", coalesce(lead(col("valid_from"), 1).over(w), lit(-1L)))
      .withColumn("is_current", col("valid_to") === -1L)
    // same (key=1, version=11), three CONFLICTING payloads — distinct
    // alone keeps all three; the merge must keep exactly one, chosen by
    // RECENCY (latest seqCol wins: "view"@300 beats both 200s even
    // though "click" sorts first alphabetically), with the payload
    // order only breaking seqCol ties partitioning-independently
    val conflict = Seq(
      (1L, 11L, "view", 300L), (1L, 11L, "click", 200L),
      (1L, 11L, "buy", 200L))
      .toDF("user_id", "event_id", "event_type", "valid_from")
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Cdc.scd2Merge(t, df).collect()
        .map(r => (r.getLong(1), r.getString(2), r.getLong(3),
          r.getLong(4), r.getBoolean(5))).toSet
    val got = run(conflict)
    assert(got == Set(
      (10L, "signup", 100L, 300L, false),
      (11L, "view", 300L, -1L, true)),
      s"conflicting versions survived or winner nondeterministic: $got")
    assert(got == run(conflict.repartition(7)))
    // seqCol-tied conflicts still resolve deterministically (payload
    // total order as tiebreaker): "buy" < "click" at valid_from=200
    val tied = Seq((1L, 11L, "click", 200L), (1L, 11L, "buy", 200L))
      .toDF("user_id", "event_id", "event_type", "valid_from")
    val gotTied = run(tied)
    assert(gotTied == Set(
      (10L, "signup", 100L, 200L, false),
      (11L, "buy", 200L, -1L, true)),
      s"seq-tied conflict winner nondeterministic: $gotTied")
    assert(gotTied == run(tied.repartition(5)))
  }
}
