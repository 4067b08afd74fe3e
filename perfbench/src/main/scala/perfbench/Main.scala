package perfbench

import java.io.File
import java.nio.file.Files

import graft.core.GraftSession
import org.apache.spark.BenchBridge
import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload, in one JVM at `local[2]` with one
  * closed-loop client: the next operation starts when the previous one
  * has returned and been checked.
  *
  * {{{
  *   perfbench.Main --workload <name> --seed <n> --seconds <s>
  *                  --trace <0|1> --out <dir>
  * }}}
  *
  * Writes `<out>/result.json` and, with `--trace 1`, the spans of every
  * traced operation to `<out>/spans.jsonl`. `run.py` starts this.
  */
object Main {
  /** Spark's cores (`local[2]`), half the host's four. At `local[4]` on
    * four shared vCPUs every stage waited for the slowest of four tasks:
    * one busy core from elsewhere slowed `pagerank_web` by 15%, and
    * co-tenant load that slowed the integer calibration by 10% slowed it
    * by 40%. With two vCPUs left for the driver, JIT, GC and other load,
    * the same busy core did not slow it. At these sizes an operation
    * takes about as long on two cores as on four.
    */
  val Cores = 2
  /** Threads of the wide host calibration: every vCPU. */
  val HostThreads = 4
  val Setups = 3
  /** Fewest operations per run; a traced run alternates untraced and
    * traced ones, starting and ending with an untraced one, and needs
    * `MinTracedOps` traced ones.
    */
  val MinOps = 3
  val MinTracedOps = 2

  /** The end-to-end metrics, with units, in report order. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "total_s" -> "s", "setup_s" -> "s", "iter_mean_s" -> "s",
    "cache_peak_mb" -> "MB")

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, out: File)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(
      s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", new File(need("--out")))
  }

  /** One measured operation. */
  final case class Sample(traced: Boolean, values: Map[String, Double],
      steps: Seq[Double], outputs: Option[File], errors: Seq[String])

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val wl = Workloads(a.workload)
    a.out.mkdirs()
    val jvmStart = Clock.nowMs()
    def log(msg: String) =
      System.err.println(f"perfbench +${(Clock.nowMs() - jvmStart) / 1e3}%.1fs $msg")
    val calib1t = Host.xorshiftSeconds(1)
    val calibWide = Host.xorshiftSeconds(HostThreads)
    log(f"host calibration $calib1t%.3f s on 1 thread, $calibWide%.3f s on $HostThreads")
    wl.prepare(a.seed, new File(a.out, "inputs"))
    log("inputs ready")

    // set-up: session build plus one warm-up operation on the run's
    // inputs, repeated; the last session stays up for the measured
    // operations. Warming up on the real inputs matters: on smaller ones
    // the JIT had not compiled the per-row paths, and the measured
    // operations were still getting faster through the whole window.
    // The warm-up goes through `measure`, so it runs what a measured
    // operation runs: the listener, the collections around it, and the
    // check, which also releases the inputs the operation cached (left
    // cached, the first measured operation would read them from there).
    var spark: SparkSession = null
    val setups = (1 to Setups).map { i =>
      val t0 = Clock.nowMs()
      spark = GraftSession.local("perfbench", Cores)
      val buildS = (Clock.nowMs() - t0) / 1e3
      val warm = measure(spark, wl, new Tracer(false), traced = false, run = -i)
      val s = buildS + warm.values.getOrElse("total_s", Double.NaN)
      if (i < Setups) spark.stop()
      log(f"set-up $i took $s%.3f s" + warm.errors.map("; " + _).mkString)
      s
    }

    val tracer = new Tracer(a.trace)
    val samples = scala.collection.mutable.ArrayBuffer.empty[Sample]
    val start = Clock.nowMs()
    def enough =
      if (a.trace) samples.count(_.traced) >= MinTracedOps && samples.size % 2 == 1
      else samples.size >= MinOps
    while (!enough || Clock.nowMs() - start < a.seconds * 1e3) {
      // alternate untraced and traced operations in a traced run, so
      // both see the same JVM and host state
      val traced = a.trace && samples.size % 2 == 1
      samples += measure(spark, wl, tracer, traced, samples.size)
      log(s"operation ${samples.size}: total_s ${samples.last.values.get("total_s")}, " +
        s"${samples.last.steps.size} steps, GC so far ${Jvm.gcMs()} ms")
    }
    spark.stop()
    log("measured")

    val all = samples.toSeq
    val untraced = all.filter(!_.traced)
    val traced = all.filter(_.traced)
    def med(ss: Seq[Sample], k: String) = Stats.median(ss.map(_.values(k)))
    val ok = all.filter(_.errors.isEmpty)
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace)
        EndToEnd.map {
          case ("setup_s", u) => ("setup_s", Stats.median(setups), u)
          // the median over every step of every operation: a PageRank
          // run gives 5 to 10 iterations, so this has many more samples
          // than the per-operation medians
          case ("iter_mean_s", u) =>
            ("iter_mean_s", Stats.median(ok.flatMap(_.steps)), u)
          case (k, u)         => (k, med(ok, k), u)
        }
      else {
        val okT = traced.filter(_.errors.isEmpty)
        Layers.all.filterNot(_._1.startsWith("host.copy")).map {
          case ("host.calib_1t_s", u)   => ("host.calib_1t_s", calib1t, u)
          case ("host.calib_wide_s", u) => ("host.calib_wide_s", calibWide, u)
          case ("trace.overhead_s", u) => ("trace.overhead_s", overhead(all), u)
          case (k, u) => (k, Stats.median(okT.map(_.values.getOrElse(k, 0.0))), u)
        }
      }
    val failed = all.count(_.errors.nonEmpty)
    val detail = Seq(
      "workload" -> Json.str(a.workload),
      "seed" -> a.seed.toString,
      "setups_s" -> Json.arr(setups),
      "calib_s" -> Json.arr(Seq(calib1t, calibWide)),
      "total_s_samples" -> Json.arr(untraced.map(_.values.getOrElse("total_s", Double.NaN))),
      "check_dirs" -> Json.strs(all.flatMap(_.outputs).map(_.getPath)),
      "errors" -> Json.strs(all.flatMap(_.errors).distinct.take(20)))
    val result = Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> all.size.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }),
      "detail" -> Json.obj(detail)))
    Files.writeString(new File(a.out, "result.json").toPath, result + "\n")
    if (a.trace) Files.writeString(new File(a.out, "spans.jsonl").toPath,
      tracer.spans.map(Json.span).mkString("", "\n", "\n"))
  }

  /** The cost of tracing: the median over traced operations of their
    * `total_s` minus the mean of the untraced operations on either side.
    * Comparing neighbours keeps the operations' drift over the run
    * (the JIT is still warming up) out of the difference.
    */
  def overhead(all: Seq[Sample]): Double =
    Stats.median(all.indices.collect {
      case i if all(i).traced && i > 0 && i + 1 < all.size &&
          Seq(i - 1, i, i + 1).forall(j => all(j).errors.isEmpty) =>
        def t(j: Int) = all(j).values("total_s")
        t(i) - (t(i - 1) + t(i + 1)) / 2
    })

  /** Runs and checks one operation; a throw counts as a failed check. */
  def measure(spark: SparkSession, wl: Workload, tracer: Tracer,
      traced: Boolean, run: Int): Sample = {
    val sc = spark.sparkContext
    System.gc() // each operation starts without the previous one's garbage
    BenchBridge.drain(sc)
    val listener = new BenchListener(full = traced)
    val planning = new PlanningListener
    sc.addSparkListener(listener)
    if (traced) spark.listenerManager.register(planning)
    val gc0 = Jvm.gcMs()
    tracer.run = run
    val t = if (traced) tracer else new Tracer(false)
    try {
      var gcMs = 0L
      // the collection right after the operation shows what it left live
      val (r, heapPeak) = Jvm.watch {
        val r = t.span("bench.op")(wl.op(spark, t))
        gcMs = Jvm.gcMs() - gc0
        System.gc()
        r
      }
      BenchBridge.drain(sc)
      val base = Map("total_s" -> r.totalS,
        "cache_peak_mb" -> listener.peakBytes / 1048576.0)
      val values =
        if (!traced) base
        else base ++ r.layer ++ Layers.fromListener(listener, planning, tracer,
          run, r, gcMs, heapPeak)
      Sample(traced, values, r.stepsS, r.outputs, r.check())
    } catch {
      case e: Exception =>
        Sample(traced, Map.empty, Nil, None,
          Seq(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
    } finally {
      sc.removeSparkListener(listener)
      if (traced) spark.listenerManager.unregister(planning)
    }
  }
}
