package graft

import graft.core.GraftSession
import graft.metrics.{RegressionRule, ResourceSnapshot}
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse}
import scala.util.control.NonFatal

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  * Queries are forced with a noop-sink write (every output row/column
  * evaluated, nothing collected — see the comment on `once`); no
  * driver-side result collection in the timed path.
  *
  * Every per-query JSON object is rendered from one [[Bench.Row]], every
  * line from one [[Bench.Report]], and the committed idle reference is
  * read back by one json4s parse ([[Bench.readIdle]]).
  */
object Bench {

  /** One measured query: its best wall in seconds (or the class of what
    * it threw), the resource delta over its first rep, the cached MB it
    * left behind, and the committed idle wall at this scale factor.
    */
  private[graft] final case class Row(
      name: String,
      wall: Either[String, Double],
      used: ResourceSnapshot,
      cacheMb: Double,
      idleWall: Option[Double]) {

    // A query that THROWS is reported as "err:<Exception>" — never as a
    // fake (fast) timing that would silently improve the bench total.
    def wallJson: JValue = wall.fold(e => JString("err:" + e), fixed(2))

    def cpuSec: Double = used.executorCpuMs / 1000.0

    /** The detail file's resource row, MB-denominated.
      * `executor_run_ms` is task WALL-clock (inflates on a CPU-contended
      * host); `executor_cpu_ms` is actual CPU time (it does not) — the
      * pair makes a contended run self-diagnosing. `cache_mb` is the
      * storage memory left behind (a query slow in the marathon but fast
      * alone usually sits downstream of a rising cache_mb staircase);
      * `idle_wall_sec`/`vs_idle` flag an idle-to-idle drift (the r11 g13
      * case: +38% with an unchanged plan) in the round's own detail file.
      */
    def resourceJson: JObject = JObject(List(
      "shuffle_read_mb" -> JDouble(mb(used.shuffleReadBytes)),
      "shuffle_write_mb" -> JDouble(mb(used.shuffleWriteBytes)),
      "spill_mb" -> JDouble(mb(used.memorySpillBytes + used.diskSpillBytes)),
      "input_mb" -> JDouble(mb(used.inputBytes)),
      // row counts are WORK INVARIANTS: they do not drift with host
      // speed, compression, or contention — the cross-round currency
      // the r14 verdict asked for when walls and CPU seconds both
      // inflated on identical plans
      "input_rows" -> JLong(used.inputRecords),
      "shuffle_rows" -> JLong(used.shuffleRecords),
      "executor_run_ms" -> JLong(used.executorRunMs),
      "executor_cpu_ms" -> JLong(used.executorCpuMs),
      "gc_ms" -> JLong(used.jvmGcMs),
      "cache_mb" -> JDouble(cacheMb)) ++ ((wall, idleWall) match {
      case (Right(v), Some(iw)) if iw > 0 =>
        List("idle_wall_sec" -> JDouble(iw), "vs_idle" -> fixed(2)(v / iw))
      case _ => Nil
    }))
  }

  /** One bench run: its rows, the four verdict lists, the headline
    * extras and run totals (in print order), and the run's setting.
    * Renders the early `queries` line (also `BENCH_QUERIES.json`), the
    * detail line (also the detail file) and the final contract line.
    */
  private[graft] final case class Report(
      rows: Seq[Row],
      flags: List[(String, Seq[String])],
      extras: List[JField],
      cpus: Int,
      sf: String) {
    private val ok = rows.flatMap(_.wall.toOption)
    private val total = ok.sum
    private val queries = "queries" -> JObject(rows.map(r => r.name -> r.wallJson).toList)
    private val errors = "errors" -> JLong(rows.count(_.wall.isLeft))
    private val flagFields: List[JField] =
      flags.map { case (k, names) => k -> JArray(names.map(JString(_)).toList) }

    private def line(metric: String, value: JValue, fields: List[JField]): String =
      compact(JObject(("metric" -> JString(metric)) :: ("value" -> value) ::
        ("unit" -> JString("sec")) :: fields ::: List("sf" -> JString(sf))))

    def queriesLine: String =
      line("queries", fixed(2)(total), List(queries, errors, "cpus" -> JLong(cpus)))

    def detailLine: String =
      line("total", JDouble(total), queries :: errors :: flagFields :::
        ("resources" -> JObject(rows.map(r => r.name -> r.resourceJson).toList)) :: extras)

    /** The CONTRACT line must survive a ~2000-char stdout tail window
      * whole — with 70+ queries the full per-query map alone exceeds it
      * (r3/r4's "parsed": null was the clipped front of the line, not a
      * format error). It carries every ERROR, the slowest queries (the
      * perf-triage signal), and the headline extras; the complete map is
      * in the detail file and the early stdout line.
      */
    def contractLine: String = {
      val errs = rows.collect { case r if r.wall.isLeft => r.name -> r.wallJson }
      // each slowest-N entry is [wall_sec, executor_cpu_sec]: task cpu
      // does not inflate under host CPU oversubscription while wall does,
      // so a contended query (wall up, cpu flat — the r5 d11 artifact:
      // 16.9 s wall for 1.8 s of engine) is identifiable from the
      // contract line alone, per query, without opening BENCH_DETAIL.
      // cpu spans the FIRST rep (the same window the resource delta
      // measures); wall is the min of both reps.
      val slow = rows.collect { case r @ Row(_, Right(v), _, _, _) => (r, v) }
        .sortBy(-_._2).take(slowestN)
        .map { case (r, v) => r.name -> JArray(List(fixed(2)(v), fixed(2)(r.cpuSec))) }
      line("total", fixed(2)(total),
        ("queries" -> JObject((errs ++ slow).toList)) ::
          ("queries_omitted" -> JLong(math.max(0, ok.size - slowestN))) ::
          errors :: flagFields ::: extras)
    }
  }

  private val slowestN = 15

  private def mb(b: Long): Double = math.round(b / 1048576.0 * 100) / 100.0

  /** A number printed with exactly `decimals` decimals. Per-query seconds
    * are rounded: the driver captures only the LAST ~2000 chars of
    * stdout, so the final contract line must be compact enough to survive
    * the tail window intact (the r2/r3 bench lines carried full-precision
    * doubles + the per-query resource map and were truncated into
    * unparseability). Locale.ROOT: under a comma-decimal default locale
    * the format would print 1,23. A non-finite value (a zero calibration
    * in the idle file) is written as a double instead of throwing.
    */
  private[graft] def fixed(decimals: Int)(v: Double): JValue =
    if (v.isNaN || v.isInfinite) JDouble(v)
    else JDecimal(BigDecimal(s"%.${decimals}f".formatLocal(java.util.Locale.ROOT, v)))

  /** The committed idle run, read back from its detail file. The walls
    * and [[RegressionRule.IdleRef]]s are kept only when the file's `sf`
    * is this run's (an sf0.01 iteration run must not be "discounted"
    * against sf0.1 walls); the idle run's host calibrations are engine-
    * and SF-independent and are kept whatever the `sf`. `unusable` names
    * why the idle comparisons are (partly) off this run.
    */
  private[graft] final case class IdleReference(
      walls: Map[String, Double],
      refs: Map[String, RegressionRule.IdleRef],
      calib1t: Option[Double],
      calibWide: Option[Double],
      unusable: Option[String])

  private def num(v: JValue): Option[Double] = v match {
    case JDouble(d) => Some(d)
    case JInt(i)    => Some(i.toDouble)
    case _          => None
  }

  private def fields(v: JValue): List[JField] = v match {
    case JObject(fs) => fs
    case _           => Nil
  }

  private[graft] def readIdle(path: Path, sf: String): IdleReference = {
    val off = "vs_idle, the 3x idle rule, the work-keyed ladder and the " +
      "idle-adjusted totals are off this run"
    val parsed =
      if (!Files.exists(path)) Left(s"$path is missing; $off")
      else try Right(parse(Files.readString(path)))
      catch { case NonFatal(e) =>
        Left(s"$path is unparseable (${e.getClass.getSimpleName}); $off")
      }
    val j = parsed.getOrElse(JNothing)
    val fileSf = j \ "sf" match { case JString(s) => s; case _ => "<none>" }
    val sfMatches = parsed.isRight && fileSf == sf
    val walls =
      if (!sfMatches) Map.empty[String, Double]
      else fields(j \ "queries").flatMap { case (k, v) => num(v).map(k -> _) }.toMap
    // (work MB, cpu sec, gc sec) per query — work keys the comparison
    // (bytes don't drift with host speed the way walls and even CPU
    // seconds do), cpu+gc are the evidence columns the RegressionRule
    // ladder reads
    val refs = fields(j \ "resources").flatMap { case (k, r) =>
      for {
        w <- walls.get(k)
        sr <- num(r \ "shuffle_read_mb")
        in <- num(r \ "input_mb")
        cpu <- num(r \ "executor_cpu_ms")
        gc <- num(r \ "gc_ms")
      } yield k -> RegressionRule.IdleRef(w, sr + in, cpu / 1000.0, gc / 1000.0)
    }.toMap
    val why = parsed.left.toOption
      .orElse(Option.when(!sfMatches)(s"$path is for sf $fileSf, not $sf; $off"))
      .orElse(Option.when(refs.isEmpty)(
        s"$path has no per-query resource rows; the work-keyed ladder is off this run"))
    IdleReference(walls, refs, num(j \ "calib_1t_sec"), num(j \ "calib_wide_sec"), why)
  }

  // supplementary signals lifted from already-computed results, in print
  // order. g13: the per-iteration shuffle-fallback trace (its result IS
  // the trace, a 4-row local frame — collect is free); the BASELINE.md
  // S3 comparison (Giraph ~17 s/superstep), wall, CPU and shuffle riding
  // together so a contended run (wall up, cpu+shuffle flat) is told
  // apart from an engine regression. g17: the GraphX/Pregel twin on the
  // S1 fixture (vs Giraph's published ~1.2 s/superstep).
  private val iterArrays = Seq(
    "g13_s3_pagerank" -> Seq("s3_iter_sec" -> "iter_sec",
      "s3_iter_cpu_sec" -> "cpu_sec", "s3_iter_shuffle_mb" -> "shuffle_mb"),
    "g17_graphx_s1" -> Seq("graphx_iter_sec" -> "iter_sec"))

  // g18: salted vs unsalted contribution aggregation on the single-hub
  // skew fixture — the one shape saltBuckets exists for (summed
  // iteration seconds)
  private val iterSums = Seq(
    "g18_hub_salt0" -> "hub_salt0_sec", "g18_hub_salt32" -> "hub_salt32_sec")

  // twin walls carried in the contract line even when the fast twin
  // misses the slowest-N map: g20 id- vs degree-ordered triangle listing
  // on the mid-id hub fixture (the orientation crossover); q38 AQE
  // skew-split on vs off on the hub-skewed fact-fact join (the
  // relational twin of g18); e23 graph-ANN beam search vs e5 exact
  // batched kNN at the same 5 probes / k=10; d46b/d46c full-matrix vs
  // banded thresholded Levenshtein (the cost of NOT using Ukkonen's
  // band); e11 exact vs funnel at 500 probes (the MRL cost-dial crossover)
  private val pairWalls = Seq(
    "g20_tri_skew_deg" -> "tri_deg_sec", "g20_tri_skew_id" -> "tri_id_sec",
    "q38_skew_aqe" -> "skew_aqe_sec", "q38_skew_noaqe" -> "skew_noaqe_sec",
    "e23_nsw_search" -> "nsw_sec", "e5_knn_batch" -> "exact_knn_sec",
    "d46b_lev_full" -> "lev_full_sec", "d46c_lev_banded" -> "lev_banded_sec",
    "e11_exact500" -> "exact500_sec", "e11_funnel500" -> "funnel500_sec")

  /** Worst |approx/exact − 1| over the groups `approx` and `exact` share
    * on `key`, across the (approx column, exact column) pairs.
    */
  private def maxRelErr(approx: DataFrame, exact: DataFrame, key: String,
      cols: (String, String)*): Double =
    approx.join(exact, key).collect().flatMap { r =>
      cols.map { case (a, x) =>
        math.abs(r.getAs[Number](a).doubleValue / r.getAs[Number](x).doubleValue - 1.0)
      }
    }.max

  private def writeSidecar(path: String, line: String): Unit =
    try Files.write(Paths.get(path), (line + "\n").getBytes("UTF-8"))
    catch { case NonFatal(e) =>
      System.err.println(s"[bench] $path write failed: ${e.getClass.getSimpleName}")
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    val spark = GraftSession.local("graft-bench", cpus)
    // warm the JVM once so timings measure the engine, not first-touch
    // codegen/JIT: one relational query (parquet+agg paths) and one tiny
    // synthetic PageRank (iteration join/agg/checkpoint paths)
    try {
      SparkEntry.queries.get("q1_pricing_summary").foreach(_(spark, sfDir).count())
      import spark.implicits._
      val tiny = (0L until 2000L).map(i => (i, (i * 7 + 1) % 2000)).toDF("src", "dst")
      graft.operators.PageRank.runFixed(spark, tiny, k = 2)
    } catch { case NonFatal(_) => () }
    // two reps, report the min: measures the engine's steady state
    // instead of JIT/GC noise (observed ±30% swings between identical
    // runs); the second rep is skipped for queries already over 30s so
    // a pathological query can't double the bench wall-clock.
    // Force with a noop-sink WRITE, not count(): count() lets Catalyst
    // prune every column, so a pure-projection query (tokenize/hash/
    // feature extraction with no agg) degenerates to a parquet metadata
    // row-count and the bench "measures" an empty plan. The noop sink
    // evaluates every output row/column and discards it — the honest
    // forcing function for projection-shaped operators.
    def once(fn: (SparkSession, String) => DataFrame): Either[String, (Double, DataFrame)] = {
      val t0 = System.nanoTime()
      try {
        val df = fn(spark, sfDir)
        df.write.format("noop").mode("overwrite").save()
        Right(((System.nanoTime() - t0) / 1e9, df))
      } catch {
        case NonFatal(e) => Left(e.getClass.getSimpleName)
      }
    }
    // stage-level resource accounting (shuffle/spill/input bytes) per
    // query — the scale signals wall-clock alone misses. Snapshots are
    // taken OUTSIDE the timed window (quiesce waits for async listener
    // events, it must not count against the query).
    val res = graft.metrics.ResourceMetrics.attach(spark.sparkContext)
    res.quiesce()
    val benchStart = res.snapshot // for whole-run cpu/exec totals
    // Host-speed CALIBRATION (engine-independent): a fixed-work integer
    // loop timed single-threaded and at full width. The r11→r12 g13
    // investigation burned a round-trip proving an idle-to-idle +38%
    // drift was the HOST (the r10 binary reproduced the slow number on
    // the new host bit-for-bit) — these two numbers make that diagnosis
    // a one-line diff: engine walls moved but calib didn't ⇒ code;
    // calib moved with them ⇒ host. xorshift64 keeps the loop
    // optimizer-proof (result is consumed); ~1 s total.
    def calibOnce(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9e3779b97f4a7c15L
      var i = 0
      while (i < 400000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        i += 1
      }
      if (x == 42) System.err.println("") // consume
      (System.nanoTime() - t0) / 1e9
    }
    val calib1t = calibOnce()
    val calibWide = {
      val t0 = System.nanoTime()
      val threads = (0 until cpus).map { _ =>
        val t = new Thread(() => { calibOnce(); () })
        t.start(); t
      }
      threads.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }
    // committed idle reference (BENCH_DETAIL.json is the idle reference
    // artifact): feeds the per-row vs_idle column, the 3× vsIdle
    // contention suspects, the work-keyed ladder and the adjusted totals.
    // An unusable reference is never silent.
    val idle = readIdle(Paths.get("BENCH_DETAIL.json"), sfDir)
    idle.unusable.foreach(why => System.err.println(s"[bench] idle reference: $why"))
    // SPARK_GRAFT_ONLY=g13_s3_pagerank[,name2,...] runs an isolation
    // subset in a fresh JVM — the suite-interaction bisection tool (a
    // query that is fast alone but slow in the marathon is feeling its
    // predecessors' cache/GC wake, not its own plan)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val measured = selected.map { case (name, fn) =>
      // stderr breadcrumb: when a run dies mid-bench (OOM, kill), the
      // log names the query that was executing — stdout stays reserved
      // for the contract lines
      System.err.println(s"[bench] running $name")
      res.quiesce(); res.resetPeak()
      // collect the PREDECESSORS' transient garbage OUTSIDE the timed
      // window: in the r15 idle run, queries following heavy newcomers
      // paid their heap debris as GC-wake (st14: 28 s of GC for 3.3 s
      // of engine CPU, a 10× wall at byte-identical work) — the
      // marathon must measure each query's engine, not its neighbor's
      // allocation history. periodicGC (30 s) bounds the steady state;
      // this bounds the per-query start state.
      System.gc()
      val snap0 = res.snapshot
      val first = once(fn)
      res.quiesce()
      // resource delta spans EXACTLY the first rep — comparable across
      // queries regardless of how many timing reps follow
      val used = res.snapshot - snap0
      val cacheMb = mb(spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum)
      val best = first match {
        case Right((f, df)) if f <= 30.0 =>
          once(fn) match {
            case Right((second, _)) => Right((math.min(f, second), df))
            case Left(e) =>
              // a transient second-rep failure must not discard the real
              // first-rep sample; it is still surfaced on stderr
              System.err.println(s"[bench] $name rep2 failed: $e")
              Right((f, df))
          }
        case other => other
      }
      // no clearCache needed: pipeline operators seal their own caches
      // (CacheScope.sealAfter) and PageRank.run unpersists its loop
      // state; the only cross-query cache is the deliberate shared edge
      // frame (fromOrdersCached). A cache-hygiene test locks this.
      (Row(name, best.map(_._1), used, cacheMb, idle.walls.get(name)),
        best.toOption.map(name -> _._2))
    }
    val rows = measured.map(_._1)
    val frames = measured.flatMap(_._2).toMap
    val walls = rows.flatMap(r => r.wall.toOption.map(r.name -> _)).toMap
    // no re-runs in the extras except the accuracy probes' small exact
    // reference queries
    val extras = scala.collection.mutable.ListBuffer[JField]()
    for ((q, cols) <- iterArrays; df <- frames.get(q)) {
      val iters = df.collect().sortBy(_.getInt(0))
      for ((key, c) <- cols)
        extras += key -> JArray(iters.map(r => fixed(1)(r.getAs[Double](c))).toList)
    }
    for ((q, key) <- iterSums; df <- frames.get(q))
      extras += key -> fixed(1)(df.collect().map(_.getAs[Double]("iter_sec")).sum)
    for ((q, key) <- pairWalls; v <- walls.get(q)) extras += key -> fixed(1)(v)
    // sketch accuracy vs the exact aggregate: exact is cheap at bench SF;
    // at 100 TB it wouldn't be, which is the point of the sketch
    def accuracy(q: String, key: String, decimals: Int)(err: DataFrame => Double): Unit =
      frames.get(q).foreach { df =>
        try extras += key -> fixed(decimals)(err(df))
        catch { case NonFatal(e) =>
          System.err.println(s"[bench] ${q.takeWhile(_ != '_')} accuracy probe failed: ${e.getClass.getSimpleName}")
        }
      }
    import org.apache.spark.sql.functions.{col, countDistinct, expr}
    // q14: worst error across event_types and both sketched columns
    accuracy("q14_approx_distinct", "q14_max_rel_err", 4) { df =>
      maxRelErr(df, graft.sources.Tables.events(spark, sfDir)
        .groupBy(col("event_type"))
        .agg(
          countDistinct(col("user_id")).as("xu"),
          countDistinct(col("event_id")).as("xe")),
        "event_type", "approx_users" -> "xu", "approx_events" -> "xe")
    }
    // q20: worst error across groups and both percentiles
    accuracy("q20_approx_percentiles", "q20_max_rel_err", 5) { df =>
      maxRelErr(df, spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile(l_extendedprice, 0.5)").as("xm"),
          expr("percentile(l_extendedprice, 0.9)").as("x90")),
        "l_returnflag", "median_price" -> "xm", "p90_price" -> "x90")
    }
    // self-labeling host contention (r7 advice): a query whose wall-clock
    // exceeds 2× its executor-cpu seconds did not get the host to itself
    // — task cpu does not inflate under CPU oversubscription while wall
    // does. Driver-heavy queries (index builds, iterative loops with
    // per-round actions) can trip this legitimately, so it is a WARNING
    // list for the reader to cross-check against an idle run, not an
    // error. Queries with under 1 s of executor cpu are exempt: their
    // wall is dominated by driver coordination or streaming micro-batch
    // timers (st14 tripped this on every idle run), so the ratio carries
    // no contention signal — the whole-run exec/cpu pair below still
    // catches a genuinely oversubscribed host.
    // The committed idle wall overrides the ratio when we have one: a
    // query running at (or near) its own idle wall is by definition
    // NOT contended, whatever its cpu ratio — streaming queries whose
    // wall is micro-batch-timer-dominated (st8: ~2.8 s wall, ~1.2 s
    // cpu on an IDLE host) tripped the ratio rule forever otherwise
    // (the r13 verdict's suspect-list false positive).
    val contended = rows.collect {
      case r @ Row(k, Right(v), u, _, _)
          if v > 2.0 && u.executorCpuMs >= 1000 && v > 2.0 * r.cpuSec &&
            r.idleWall.forall(iw => v > 1.5 * iw) => k
    }
    // second contention signal (r8 advice): wall > 3× the COMMITTED idle
    // wall for the same query. The cpu-ratio heuristic above misses
    // queries whose idle wall is itself cpu-light (d33's 12× inflation
    // in r8 went unflagged); the committed BENCH_DETAIL.json is the
    // idle reference every run can compare itself against. Sub-second
    // idle walls are exempt (3× of noise is noise).
    val vsIdle = rows.collect {
      case r @ Row(k, Right(v), _, _, _)
          if r.idleWall.exists(iw => iw >= 0.5 && v > 3.0 * iw) => k
    }
    val suspects = (contended ++ vsIdle).distinct
    // WORK-KEYED regression rule (r14 verdict #5 — walls compared only
    // at matching work, host-calibrated):
    //  - work_changed: this run's shuffle+input MB differs >25% AND
    //    >5 MB from the committed idle run's for the same query — the
    //    PLAN changed; that is a review signal in its own right and
    //    wall comparison for these queries is meaningless;
    //  - regressions: work MATCHED but the wall exceeds 2× the idle
    //    wall even after discounting the measured host-speed ratio
    //    (calib_vs_idle) — slow at identical work on a speed-adjusted
    //    clock is the one shape that is actually the engine's fault.
    val calibRatio = idle.calib1t.map(ic => calib1t / ic).getOrElse(1.0)
    // the WIDE ratio joins the clock discount (r15 verdict #2: six
    // "regressions" from one contended driver window, all clear at
    // idle — calib_1t missed the oversubscription calib_wide sees), and
    // per-query contention suspects are excluded outright: a wall the
    // run itself already attributes to the host is not an engine
    // regression, it is noise by construction.
    val calibWideRatio =
      idle.calibWide.map(ic => calibWide / ic).getOrElse(1.0)
    val hostRatio =
      math.max(1.0, math.max(calibRatio, calibWideRatio))
    def sample(name: String, wall: Double, u: ResourceSnapshot) =
      RegressionRule.Sample(name, wall,
        (u.shuffleReadBytes + u.inputBytes) / 1048576.0,
        u.executorCpuMs / 1000.0, u.jvmGcMs / 1000.0)
    // the full decision ladder lives in RegressionRule (pure, unit-
    // tested on the r16 false-flag window): work-changed → plan signal;
    // wall >2× at matched work then needs CPU evidence (cpu flat ⇒
    // scheduling delay; tiny cpu ⇒ noise; cpu up WITH a gc burst ⇒
    // co-tenant GC wake) before it is called an engine regression
    val ruleVerdict = RegressionRule.judge(
      rows.collect { case Row(k, Right(v), u, _, _) => sample(k, v, u) },
      idle.refs, hostRatio, suspects.toSet)
    // demoted rows are contention-shaped: count them as suspects so the
    // adjusted totals discount their walls to the idle reference
    val allSuspects = (suspects ++ ruleVerdict.demoted).distinct
    val allSuspectSet = allSuspects.toSet
    // SECOND-CHANCE pass (r17 verdict #6 — the ladder's one-round blind
    // spot): every demoted row is re-run once NOW, after the suite, and
    // the fresh sample re-judged. A contention burst has moved on by
    // this point, so a row that reproduces its slow wall at matched
    // work WITH cpu evidence is a confirmed regression and ships
    // flagged, not silently discounted; a row that recovers stays a
    // demotion. The re-runs land outside every timed window.
    val fnByName = selected.toMap
    val demotedConfirmed = ruleVerdict.demoted.filter { name =>
      (idle.refs.get(name), fnByName.get(name)) match {
        case (Some(iref), Some(fn)) =>
          System.err.println(s"[bench] re-running demoted $name")
          res.quiesce(); System.gc()
          val snap0 = res.snapshot
          once(fn) match {
            case Right((w, _)) =>
              res.quiesce()
              RegressionRule.confirmDemoted(
                sample(name, w, res.snapshot - snap0), iref, hostRatio)
            case Left(_) => true // a re-run that now FAILS is a flag
          }
        case _ => false
      }
    }
    val regressions =
      (ruleVerdict.regressions ++ demotedConfirmed).distinct
    // machine-readable contention DISCOUNT (r10 advice): re-total the
    // run with each suspect's wall replaced by its committed idle wall
    // (min-guarded so the substitution can only shrink), so a contended
    // driver run self-reports the number an idle host would have
    // produced instead of reading as a regression. idle_ref_n says how
    // many queries had an idle reference to discount against.
    val adjustedTotal = rows.collect { case r @ Row(k, Right(v), _, _, _) =>
      if (allSuspectSet.contains(k)) r.idleWall.map(math.min(v, _)).getOrElse(v)
      else v
    }.sum
    val idleRefN = rows.count(r => r.wall.isRight && r.idleWall.isDefined)
    // FULLY-idle-normalized total (r12 advice): the 3×-suspect discount
    // above under-adjusts when contention is UNIFORM (~1.4× across the
    // whole suite slips a 3× per-query gate entirely — r12 measured
    // 533.5 s contended vs 388.0 s idle with only g13 flagged). Since
    // every committed query has an idle wall at matching SF, re-total
    // with EVERY wall replaced by its idle reference (new queries keep
    // their own wall); alongside it, calib_vs_idle = this run's
    // single-thread calibration over the idle run's — the
    // engine-independent host-speed ratio that says which total to
    // trust (≈1.0 ⇒ this host matches the idle reference; >1 ⇒ the
    // idle-normalized number is the honest one).
    val idleNormTotal = rows.collect { case r @ Row(_, Right(v), _, _, _) =>
      r.idleWall.getOrElse(v)
    }.sum
    // whole-run executor totals: task wall-time inflates ~linearly with
    // host CPU oversubscription while cpu-time doesn't, so the pair makes
    // a wall-inflated bench (r4's 575 s artifact) self-diagnosing from
    // the contract line alone
    res.quiesce()
    val benchRes = res.snapshot - benchStart
    val report = Report(rows,
      // demotions are never silent: the contract line names them, and a
      // confirmed one is already inside `regressions`
      List("contention_suspects" -> allSuspects,
        "work_changed" -> ruleVerdict.workChanged,
        "regressions" -> regressions,
        "demoted" -> ruleVerdict.demoted),
      extras.toList ++ List(
        "exec_sec" -> fixed(2)(benchRes.executorRunMs / 1000.0),
        "cpu_sec" -> fixed(2)(benchRes.executorCpuMs / 1000.0),
        "gc_sec" -> fixed(2)(benchRes.jvmGcMs / 1000.0),
        "calib_1t_sec" -> fixed(2)(calib1t),
        "calib_wide_sec" -> fixed(2)(calibWide),
        "adjusted_total_sec" -> fixed(2)(adjustedTotal),
        "idle_norm_total_sec" -> fixed(2)(idleNormTotal),
        "idle_ref_n" -> JLong(idleRefN)) ++
        idle.calib1t.map(ic => "calib_vs_idle" -> fixed(2)(calib1t / ic)),
      cpus, sfDir)
    // FULL per-query wall map in a driver-visible SIDECAR + an early
    // stdout line (r17 verdict #2: PERF's per_query/scaling came back
    // empty because the tail-surviving contract line only carries the
    // slowest 15). The final line CANNOT carry 321 entries — the driver
    // captures only the last ~2000 chars of stdout and a front-clipped
    // line parses as nothing (BENCH_r01–r04) — so the complete map
    // rides its own compact artifact next to the detail file, written
    // every run at the same scale factor the contract line reports.
    writeSidecar("BENCH_QUERIES.json", report.queriesLine)
    println(report.queriesLine)
    // full-fidelity detail (resource accounting per query) goes to a
    // sidecar file + an EARLY stdout line; only the compact contract
    // line is printed last.
    // BENCH_EOD.json by default: the committed BENCH_DETAIL.json is the
    // IDLE reference artifact and the (contended) end-of-round driver
    // run must never overwrite it (it did in r7 AND r8). An explicitly
    // idle run opts in with SPARK_GRAFT_DETAIL_OUT=BENCH_DETAIL.json.
    writeSidecar(sys.env.getOrElse("SPARK_GRAFT_DETAIL_OUT", "BENCH_EOD.json"),
      report.detailLine)
    println(report.detailLine)
    println(report.contractLine)
    val nErr = rows.count(_.wall.isLeft)
    if (nErr > 0) System.err.println(s"[bench] $nErr queries FAILED")
    spark.stop()
  }
}
