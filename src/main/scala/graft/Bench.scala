package graft

import graft.core.GraftSession
import scala.util.control.NonFatal

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  * Queries are forced with a noop-sink write (every output row/column
  * evaluated, nothing collected — see the comment on `once`); no
  * driver-side result collection in the timed path.
  */
object Bench {
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
    // A query that THROWS is reported as "err:<Exception>" — never as a
    // fake (fast) timing that would silently improve the bench total.
    // Force with a noop-sink WRITE, not count(): count() lets Catalyst
    // prune every column, so a pure-projection query (tokenize/hash/
    // feature extraction with no agg) degenerates to a parquet metadata
    // row-count and the bench "measures" an empty plan. The noop sink
    // evaluates every output row/column and discards it — the honest
    // forcing function for projection-shaped operators.
    def once(fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Either[String, (Double, org.apache.spark.sql.DataFrame)] = {
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
    // SPARK_GRAFT_ONLY=g13_s3_pagerank[,name2,...] runs an isolation
    // subset in a fresh JVM — the suite-interaction bisection tool (a
    // query that is fast alone but slow in the marathon is feeling its
    // predecessors' cache/GC wake, not its own plan)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val cacheAfter = scala.collection.mutable.Map[String, Double]()
    val results = selected.map { case (name, fn) =>
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
      // storage-memory occupancy LEFT BEHIND after the query (cached
      // RDD bytes): the cross-query pressure signal — a query that is
      // slow in the marathon but fast alone usually sits downstream of
      // a rising cache_mb staircase, and this column names the stairs
      cacheAfter(name) = math.round(
        spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum
          / 1048576.0 * 100) / 100.0
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
      (name, best, used)
    }
    // supplementary signals lifted from already-computed results — no
    // re-runs in here except q14's small exact-distinct reference query
    val extras = scala.collection.mutable.ListBuffer[String]()
    def r1d(v: Double): String = "%.1f".formatLocal(java.util.Locale.ROOT, v)
    def iterArray(df: org.apache.spark.sql.DataFrame, col: String): String =
      df.collect().sortBy(_.getInt(0))
        .map(r => r1d(r.getAs[Double](col))).mkString("[", ",", "]")
    // g13: per-iteration shuffle-fallback trace (its result IS the
    // per-iteration trace, a 4-row local frame — collect is free). This
    // is the BASELINE.md S3 comparison: Giraph ~17 s/superstep. Wall,
    // CPU, and shuffle ride together so a contended-host run (wall up,
    // cpu+shuffle flat) is distinguishable from an engine regression.
    results.collectFirst { case ("g13_s3_pagerank", Right((_, df)), _) =>
      extras += "\"s3_iter_sec\":" + iterArray(df, "iter_sec")
      extras += "\"s3_iter_cpu_sec\":" + iterArray(df, "cpu_sec")
      extras += "\"s3_iter_shuffle_mb\":" + iterArray(df, "shuffle_mb")
    }
    // g17: the GraphX/Pregel twin on the S1 fixture (vs Giraph's
    // published ~1.2 s/superstep on the same web-Google shape)
    results.collectFirst { case ("g17_graphx_s1", Right((_, df)), _) =>
      extras += "\"graphx_iter_sec\":" + iterArray(df, "iter_sec")
    }
    // g18: salted vs unsalted contribution aggregation on the single-hub
    // skew fixture — the one shape saltBuckets exists for
    val hubSecs = results.collect {
      case (n @ ("g18_hub_salt0" | "g18_hub_salt32"), Right((_, df)), _) =>
        n -> df.collect().map(_.getAs[Double]("iter_sec")).sum
    }.toMap
    hubSecs.get("g18_hub_salt0").foreach(v =>
      extras += "\"hub_salt0_sec\":" + r1d(v))
    hubSecs.get("g18_hub_salt32").foreach(v =>
      extras += "\"hub_salt32_sec\":" + r1d(v))
    // g20: id-ordered vs degree-ordered triangle listing on the mid-id
    // hub fixture — the orientation crossover, visible from the contract
    // line even when the fast twin misses the slowest-N map
    results.collect {
      case (n @ ("g20_tri_skew_id" | "g20_tri_skew_deg"), Right((v, _)), _) =>
        extras += "\"" + (if (n.endsWith("_id")) "tri_id_sec"
                          else "tri_deg_sec") + "\":" + r1d(v)
    }
    // q38: AQE skew-split on vs off on the hub-skewed fact-fact join —
    // the relational twin of the g18 salting pair
    results.collect {
      case (n @ ("q38_skew_aqe" | "q38_skew_noaqe"), Right((v, _)), _) =>
        extras += "\"" + (if (n.endsWith("_aqe")) "skew_aqe_sec"
                          else "skew_noaqe_sec") + "\":" + r1d(v)
    }
    // e23 vs e5: the graph-ANN beam search against the exact batched
    // kNN at the same 5 probes / k=10 — the family's cost dial next to
    // the IVF and MRL pairs
    results.collect {
      case (n @ ("e23_nsw_search" | "e5_knn_batch"), Right((v, _)), _) =>
        extras += "\"" + (if (n.startsWith("e23")) "nsw_sec"
                          else "exact_knn_sec") + "\":" + r1d(v)
    }
    // d46b/d46c: full-matrix vs banded thresholded Levenshtein on the
    // src16 slice — the measured cost of NOT using Ukkonen's band
    results.collect {
      case (n @ ("d46b_lev_full" | "d46c_lev_banded"), Right((v, _)), _) =>
        extras += "\"" + (if (n.startsWith("d46b")) "lev_full_sec"
                          else "lev_banded_sec") + "\":" + r1d(v)
    }
    // e11 funnel-vs-exact pair at 500 probes: the measured MRL
    // cost-dial crossover, carried in the contract line like the
    // e9/g18/g20 pairs
    results.collect {
      case (n @ ("e11_funnel500" | "e11_exact500"), Right((v, _)), _) =>
        extras += "\"" + (if (n.endsWith("funnel500")) "funnel500_sec"
                          else "exact500_sec") + "\":" + r1d(v)
    }
    // q14: sketch accuracy vs exact distinct — worst |estimate/exact - 1|
    // across event_types and both sketched columns. Exact distinct on the
    // bench fixture is cheap; at 100 TB it wouldn't be, which is the
    // point of the sketch.
    results.collectFirst { case ("q14_approx_distinct", Right((_, df)), _) =>
      try {
        import org.apache.spark.sql.functions.{col, countDistinct}
        val exact = graft.sources.Tables.events(spark, sfDir)
          .groupBy(col("event_type"))
          .agg(
            countDistinct(col("user_id")).as("xu"),
            countDistinct(col("event_id")).as("xe"))
        val err = df.join(exact, "event_type").collect().flatMap { r =>
          Seq(
            math.abs(r.getAs[Long]("approx_users").toDouble / r.getAs[Long]("xu") - 1.0),
            math.abs(r.getAs[Long]("approx_events").toDouble / r.getAs[Long]("xe") - 1.0))
        }.max
        extras += "\"q14_max_rel_err\":" +
          "%.4f".formatLocal(java.util.Locale.ROOT, err)
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[bench] q14 accuracy probe failed: ${e.getClass.getSimpleName}")
      }
    }
    // Per-query seconds rounded to 2 decimals: the driver captures only
    // the LAST ~2000 chars of stdout, so the final contract line must be
    // compact enough to survive the tail window intact (the r2/r3 bench
    // lines carried full-precision doubles + the per-query resource map
    // and were truncated into unparseability).
    // Locale.ROOT: under a comma-decimal default locale an f-interpolator
    // would print 1,23 and break the JSON contract line
    def r2d(v: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    // q20: percentile-sketch accuracy vs the exact ordered-set aggregate
    // (cheap at bench SF; the sketch exists for the scale where exact is
    // not) — worst relative error across groups and both percentiles
    results.collectFirst { case ("q20_approx_percentiles", Right((_, df)), _) =>
      try {
        import org.apache.spark.sql.functions.{col, expr}
        val exact = spark.read.parquet(s"$sfDir/lineitem.parquet")
          .groupBy(col("l_returnflag"))
          .agg(
            expr("percentile(l_extendedprice, 0.5)").as("xm"),
            expr("percentile(l_extendedprice, 0.9)").as("x90"))
        val err = df.join(exact, "l_returnflag").collect().flatMap { r =>
          Seq(
            math.abs(r.getAs[Double]("median_price") / r.getAs[Double]("xm") - 1.0),
            math.abs(r.getAs[Double]("p90_price") / r.getAs[Double]("x90") - 1.0))
        }.max
        extras += "\"q20_max_rel_err\":" +
          "%.5f".formatLocal(java.util.Locale.ROOT, err)
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[bench] q20 accuracy probe failed: ${e.getClass.getSimpleName}")
      }
    }
    val qs = results.map {
      case (k, Right((v, _)), _) => "\"" + k + "\":" + r2d(v)
      case (k, Left(err), _)     => "\"" + k + "\":\"err:" + err + "\""
    }.mkString("{", ",", "}")
    // The CONTRACT line must survive a ~2000-char stdout tail window
    // whole — with 70+ queries the full per-query map alone exceeds it
    // (r3/r4's "parsed": null was the clipped front of the line, not a
    // format error). The tail-surviving line carries every ERROR, the
    // slowest queries (the perf-triage signal), and the headline extras;
    // the complete map is in BENCH_DETAIL.json and the early stdout line.
    val slowestN = 15
    val qsCompact = {
      val errs = results.collect { case (k, Left(err), _) =>
        "\"" + k + "\":\"err:" + err + "\""
      }
      // each slowest-N entry is [wall_sec, executor_cpu_sec]: task cpu
      // does not inflate under host CPU oversubscription while wall does,
      // so a contended query (wall up, cpu flat — the r5 d11 artifact:
      // 16.9 s wall for 1.8 s of engine) is identifiable from the
      // contract line alone, per query, without opening BENCH_DETAIL.
      // cpu spans the FIRST rep (the same window the resource delta
      // measures); wall is the min of both reps.
      val slow = results
        .collect { case (k, Right((v, _)), u) =>
          (k, v, u.executorCpuMs / 1000.0)
        }
        .sortBy(-_._2).take(slowestN)
        .map { case (k, v, c) =>
          "\"" + k + "\":[" + r2d(v) + "," + r2d(c) + "]"
        }
      (errs ++ slow).mkString("{", ",", "}")
    }
    // committed idle walls (BENCH_DETAIL.json is the idle reference
    // artifact): feeds the per-row vs_idle column below, the 3× vsIdle
    // contention suspects, and the adjusted-total discount
    val (idleWalls: Map[String, Double], idleCalib1t: Option[Double],
        idleCalibWide: Option[Double]) = try {
      val txt = new String(
        java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("BENCH_DETAIL.json")), "UTF-8")
      val qStart = txt.indexOf("\"queries\":{")
      // the idle run's own host-speed calibrations, for the
      // calib_vs_idle ratios below — engine- and SF-independent, so
      // they parse regardless of the scale-factor gate. The WIDE
      // calibration is the contention witness: a co-tenant stealing
      // parallel throughput inflates calib_wide while calib_1t stays
      // flat (measured 1.94 vs ~0.9 within one hour in r15).
      val calib = "\"calib_1t_sec\":([0-9.]+)".r.findFirstMatchIn(txt)
        .map(_.group(1).toDouble)
      val calibW = "\"calib_wide_sec\":([0-9.]+)".r.findFirstMatchIn(txt)
        .map(_.group(1).toDouble)
      // the walls are only comparable at the SAME scale factor — an
      // sf0.01 iteration run must not be "discounted" against sf0.1 walls
      val sfOk = txt.contains("\"sf\":\"" + sfDir + "\"")
      if (qStart < 0 || !sfOk) (Map.empty[String, Double], calib, calibW)
      else {
        val body = txt.substring(qStart + 11, txt.indexOf('}', qStart))
        val walls = "\"([A-Za-z0-9_]+)\":([0-9.]+)".r.findAllMatchIn(body)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
        (walls, calib, calibW)
      }
    } catch {
      case NonFatal(_) => (Map.empty[String, Double], None, None)
    }
    // committed idle WORK invariants (shuffle-read + input MB per
    // query, r14 verdict #5): bytes don't drift with host speed the
    // way walls and even CPU seconds do (g13's per-iteration shuffle
    // was byte-identical across rounds while its CPU inflated 2-3×),
    // so work is the cross-round comparison KEY: walls are compared
    // only at matching work, and a work CHANGE is its own signal (a
    // plan change — real, whatever the wall says)
    // (work MB, cpu sec, gc sec) per query — work keys the comparison
    // (bytes don't drift with host speed), cpu+gc are the r16 verdict
    // #4 evidence columns the RegressionRule ladder reads
    val idleWork: Map[String, (Double, Double, Double)] = try {
      val txt = new String(
        java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("BENCH_DETAIL.json")), "UTF-8")
      if (!txt.contains("\"sf\":\"" + sfDir + "\"")) Map.empty
      else {
        // per-query FLAT objects parsed field-by-field, not by field
        // ORDER (r15 advice #5: the ordered regex silently emptied the
        // map on any resource-row reshape, turning the work-keyed
        // rules off with no signal). Resource rows are the only
        // brace-valued entries keyed by query name.
        val field = (name: String, body: String) =>
          ("\"" + name + "\":([0-9.]+)").r.findFirstMatchIn(body)
            .map(_.group(1).toDouble)
        val parsed = "\"([A-Za-z0-9_]+)\":\\{([^{}]*)\\}".r
          .findAllMatchIn(txt)
          .flatMap { m =>
            for {
              sr <- field("shuffle_read_mb", m.group(2))
              in <- field("input_mb", m.group(2))
              cpu <- field("executor_cpu_ms", m.group(2))
              gc <- field("gc_ms", m.group(2))
            } yield m.group(1) -> (sr + in, cpu / 1000.0, gc / 1000.0)
          }.toMap
        if (parsed.isEmpty)
          System.err.println(
            "[bench] BENCH_DETAIL.json matches this sf but idleWork " +
              "parsed EMPTY — resource-row shape changed? work-keyed " +
              "regression rules are OFF this run")
        parsed
      }
    } catch { case NonFatal(_) => Map.empty }
    // per-query resource rows, augmented with (a) post-query cache
    // occupancy and (b) the committed idle wall + drift ratio, so an
    // idle-to-idle drift (the r11 g13 case: +38% with an unchanged
    // plan) is flagged IN the round's own detail file instead of two
    // snapshots later by a human diffing artifacts
    val rs = results.map { case (k, b, u) =>
      val cache = cacheAfter.get(k)
        .map(c => s""","cache_mb":$c""").getOrElse("")
      val idle = (b, idleWalls.get(k)) match {
        case (Right((v, _)), Some(iw)) if iw > 0 =>
          s""","idle_wall_sec":$iw,"vs_idle":${r2d(v / iw)}"""
        case _ => ""
      }
      "\"" + k + "\":" + u.toJson.dropRight(1) + cache + idle + "}"
    }.mkString("{", ",", "}")
    val ok = results.collect { case (_, Right((v, _)), _) => v }
    val nErr = results.count(_._2.isLeft)
    val total = ok.sum
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
    val contended = results.collect {
      case (k, Right((v, _)), u)
          if v > 2.0 && u.executorCpuMs >= 1000 &&
            v > 2.0 * (u.executorCpuMs / 1000.0) &&
            idleWalls.get(k).forall(iw => v > 1.5 * iw) => k
    }
    // second contention signal (r8 advice): wall > 3× the COMMITTED idle
    // wall for the same query. The cpu-ratio heuristic above misses
    // queries whose idle wall is itself cpu-light (d33's 12× inflation
    // in r8 went unflagged); the committed BENCH_DETAIL.json is the
    // idle reference every run can compare itself against. Sub-second
    // idle walls are exempt (3× of noise is noise).
    val vsIdle = results.collect {
      case (k, Right((v, _)), _)
          if idleWalls.get(k).exists(iw => iw >= 0.5 && v > 3.0 * iw) => k
    }
    val suspects = (contended ++ vsIdle).distinct
    val suspectSet = suspects.toSet
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
    val calibRatio = idleCalib1t.map(ic => calib1t / ic).getOrElse(1.0)
    // the WIDE ratio joins the clock discount (r15 verdict #2: six
    // "regressions" from one contended driver window, all clear at
    // idle — calib_1t missed the oversubscription calib_wide sees), and
    // per-query contention suspects are excluded outright: a wall the
    // run itself already attributes to the host is not an engine
    // regression, it is noise by construction.
    val calibWideRatio =
      idleCalibWide.map(ic => calibWide / ic).getOrElse(1.0)
    val hostRatio =
      math.max(1.0, math.max(calibRatio, calibWideRatio))
    def workOf(u: graft.metrics.ResourceSnapshot): Double =
      (u.shuffleReadBytes + u.inputBytes) / 1048576.0
    // the full decision ladder lives in RegressionRule (pure, unit-
    // tested on the r16 false-flag window): work-changed → plan signal;
    // wall >2× at matched work then needs CPU evidence (cpu flat ⇒
    // scheduling delay; tiny cpu ⇒ noise; cpu up WITH a gc burst ⇒
    // co-tenant GC wake) before it is called an engine regression
    val ruleSamples = results.collect { case (k, Right((v, _)), u) =>
      graft.metrics.RegressionRule.Sample(
        k, v, workOf(u), u.executorCpuMs / 1000.0, u.jvmGcMs / 1000.0)
    }
    val idleRefs = idleWork.flatMap { case (k, (w, cpu, gc)) =>
      idleWalls.get(k).map(iw =>
        k -> graft.metrics.RegressionRule.IdleRef(iw, w, cpu, gc))
    }
    val ruleVerdict = graft.metrics.RegressionRule.judge(
      ruleSamples, idleRefs, hostRatio, suspectSet)
    val workChanged = ruleVerdict.workChanged
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
      (idleRefs.get(name), fnByName.get(name)) match {
        case (Some(iref), Some(fn)) =>
          System.err.println(s"[bench] re-running demoted $name")
          res.quiesce(); System.gc()
          val snap0 = res.snapshot
          once(fn) match {
            case Right((w, _)) =>
              res.quiesce()
              val u = res.snapshot - snap0
              graft.metrics.RegressionRule.confirmDemoted(
                graft.metrics.RegressionRule.Sample(
                  name, w, workOf(u), u.executorCpuMs / 1000.0,
                  u.jvmGcMs / 1000.0),
                iref, hostRatio)
            case Left(_) => true // a re-run that now FAILS is a flag
          }
        case _ => false
      }
    }
    val regressions =
      (ruleVerdict.regressions ++ demotedConfirmed).distinct
    val workChangedJson =
      workChanged.map("\"" + _ + "\"").mkString("[", ",", "]")
    val regressionsJson =
      regressions.map("\"" + _ + "\"").mkString("[", ",", "]")
    // demotions are never silent: the contract line names them, and a
    // confirmed one is already inside `regressions` above
    val demotedJson =
      ruleVerdict.demoted.map("\"" + _ + "\"").mkString("[", ",", "]")
    // machine-readable contention DISCOUNT (r10 advice): re-total the
    // run with each suspect's wall replaced by its committed idle wall
    // (min-guarded so the substitution can only shrink), so a contended
    // driver run self-reports the number an idle host would have
    // produced instead of reading as a regression. idle_ref_n says how
    // many queries had an idle reference to discount against.
    val contendedJson =
      allSuspects.map("\"" + _ + "\"").mkString("[", ",", "]")
    val adjustedTotal = results.collect { case (k, Right((v, _)), _) =>
      if (allSuspectSet.contains(k))
        idleWalls.get(k).map(math.min(v, _)).getOrElse(v)
      else v
    }.sum
    val idleRefN = results.count {
      case (k, Right(_), _) => idleWalls.contains(k)
      case _                => false
    }
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
    val idleNormTotal = results.collect { case (k, Right((v, _)), _) =>
      idleWalls.getOrElse(k, v)
    }.sum
    // whole-run executor totals: task wall-time inflates ~linearly with
    // host CPU oversubscription while cpu-time doesn't, so the pair makes
    // a wall-inflated bench (r4's 575 s artifact) self-diagnosing from
    // the contract line alone
    res.quiesce()
    val benchRes = res.snapshot - benchStart
    val extraJson = (extras ++ Seq(
      "\"exec_sec\":" + r2d(benchRes.executorRunMs / 1000.0),
      "\"cpu_sec\":" + r2d(benchRes.executorCpuMs / 1000.0),
      "\"gc_sec\":" + r2d(benchRes.jvmGcMs / 1000.0),
      "\"calib_1t_sec\":" + r2d(calib1t),
      "\"calib_wide_sec\":" + r2d(calibWide),
      "\"adjusted_total_sec\":" + r2d(adjustedTotal),
      "\"idle_norm_total_sec\":" + r2d(idleNormTotal),
      "\"idle_ref_n\":" + idleRefN) ++
      idleCalib1t.map(ic => "\"calib_vs_idle\":" + r2d(calib1t / ic)))
      .mkString(",", ",", "")
    // full-fidelity detail (resource accounting per query) goes to a
    // sidecar file + an EARLY stdout line; only the compact contract
    // line is printed last
    val detail =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$nErr,"contention_suspects":$contendedJson,"work_changed":$workChangedJson,"regressions":$regressionsJson,"demoted":$demotedJson,"resources":$rs$extraJson,"sf":"$sfDir"}"""
    // FULL per-query wall map in a driver-visible SIDECAR + an early
    // stdout line (r17 verdict #2: PERF's per_query/scaling came back
    // empty because the tail-surviving contract line only carries the
    // slowest 15). The final line CANNOT carry 321 entries — the driver
    // captures only the last ~2000 chars of stdout and a front-clipped
    // line parses as nothing (BENCH_r01–r04) — so the complete map
    // rides its own compact artifact next to the detail file, written
    // every run at the same scale factor the contract line reports.
    val queriesLine =
      s"""{"metric":"queries","value":${r2d(total)},"unit":"sec","queries":$qs,"errors":$nErr,"cpus":$cpus,"sf":"$sfDir"}"""
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH_QUERIES.json"),
      (queriesLine + "\n").getBytes("UTF-8"))
    catch {
      case NonFatal(e) =>
        System.err.println(s"[bench] queries sidecar write failed: ${e.getClass.getSimpleName}")
    }
    println(queriesLine)
    // BENCH_EOD.json by default: the committed BENCH_DETAIL.json is the
    // IDLE reference artifact and the (contended) end-of-round driver
    // run must never overwrite it (it did in r7 AND r8). An explicitly
    // idle run opts in with SPARK_GRAFT_DETAIL_OUT=BENCH_DETAIL.json.
    val detailOut =
      sys.env.getOrElse("SPARK_GRAFT_DETAIL_OUT", "BENCH_EOD.json")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(detailOut),
      (detail + "\n").getBytes("UTF-8"))
    catch {
      case NonFatal(e) =>
        System.err.println(s"[bench] detail write failed: ${e.getClass.getSimpleName}")
    }
    println(detail)
    val nOmitted = math.max(0, ok.size - slowestN)
    println(
      s"""{"metric":"total","value":${r2d(total)},"unit":"sec",""" +
        s""""queries":$qsCompact,"queries_omitted":$nOmitted,""" +
        s""""errors":$nErr,"contention_suspects":$contendedJson,""" +
        s""""work_changed":$workChangedJson,""" +
        s""""regressions":$regressionsJson,"demoted":$demotedJson""" +
        s"""$extraJson,"sf":"$sfDir"}""")
    if (nErr > 0) System.err.println(s"[bench] $nErr queries FAILED")
    spark.stop()
  }
}
