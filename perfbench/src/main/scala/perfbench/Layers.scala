package perfbench

/** The per-layer metrics of a traced operation. Layers are graft's
  * modules (`sources`, `pagerank`, `loops`, `pipeline`) and the parts of
  * Spark under them (`driver`, `exec`, `shuffle`, `jvm`), plus the host.
  */
object Layers {

  /** Every per-layer metric, with its unit, in report order. */
  val all: Seq[(String, String)] = Seq(
    "sources.ingest_s" -> "s", "sources.lines_in" -> "count",
    "sources.edges_out" -> "count", "sources.dedup_ratio" -> "ratio",
    "sources.input_mb" -> "MB",
    "pagerank.load_s" -> "s", "pagerank.build_s" -> "s",
    "pagerank.iterations" -> "count",
    "pagerank.vertices" -> "count", "pagerank.broadcast" -> "flag",
    "pagerank.jobs_per_iter" -> "count",
    "pagerank.shuffle_mb_per_iter" -> "MB", "pagerank.output_s" -> "s",
    "loops.louvain_s" -> "s", "loops.louvain_jobs" -> "count",
    "loops.louvain_levels" -> "count") ++
    PipelineWorkload.Queries.map(q => s"pipeline.${q}_s" -> "s") ++ Seq(
    "driver.busy_s" -> "s", "driver.share" -> "ratio",
    "driver.jobs" -> "count", "driver.sql_executions" -> "count",
    "driver.analysis_ms" -> "ms", "driver.optimization_ms" -> "ms",
    "driver.planning_ms" -> "ms", "driver.aqe_replans" -> "count",
    "exec.tasks" -> "count", "exec.stages" -> "count", "exec.run_s" -> "s",
    "exec.cpu_s" -> "s", "exec.sched_delay_s" -> "s", "exec.util" -> "ratio",
    "exec.failed_tasks" -> "count",
    "shuffle.write_mb" -> "MB", "shuffle.read_mb" -> "MB",
    "shuffle.rows" -> "count", "shuffle.fetch_wait_s" -> "s",
    "shuffle.spill_mb" -> "MB",
    "jvm.gc_s" -> "s", "jvm.heap_live_peak_mb" -> "MB",
    "self.bench_s" -> "s", "self.sources_s" -> "s", "self.pagerank_s" -> "s",
    "self.loops_s" -> "s", "self.pipeline_s" -> "s", "self.spark_s" -> "s",
    "host.calib_1t_s" -> "s", "host.calib_wide_s" -> "s",
    "host.copy_gbps_1t" -> "GB/s", "host.copy_gbps_wide" -> "GB/s",
    "trace.overhead_s" -> "s")

  private val MB = 1048576.0

  /** Per-layer values of operation `run` from what the listeners saw.
    * Adds each Spark job to the trace as a `spark.job` span.
    */
  def fromListener(l: BenchListener, p: PlanningListener, t: Tracer, run: Int,
      r: OpResult, gcMs: Long, heapPeakBytes: Long): Map[String, Double] = {
    val jobs = l.jobs.toSeq.map { case (id, (s, e)) => (id, s, e) }
    jobs.foreach { case (_, s, e) => t.addLeaf("spark.job", s, e, run) }
    val spans = t.spans.filter(_.run == run)
    val op = spans.find(_.name == "bench.op").get
    val wallS = op.durMs / 1e3
    val jobIv = jobs.map(j => (j._2, j._3))
    val busyS = (op.durMs - Intervals.unionLength(
      Intervals.clip(jobIv, op.startMs, op.endMs))) / 1e3
    val self = Intervals.selfTimes(spans)
    def selfOf(layer: String) =
      spans.filter(_.layer == layer).map(s => self(s.id)).sum / 1e3
    def jobsIn(lo: Double, hi: Double) = jobs.filter(j => j._2 >= lo && j._2 <= hi)
    def jobsUnder(name: String) =
      spans.filter(_.name == name).map(s => jobsIn(s.startMs, s.endMs).size).sum
    val perIter = r.loopWindowMs.map { case (lo, hi) =>
      val it = math.max(1.0, r.layer("pagerank.iterations"))
      val js = jobsIn(lo, hi)
      (js.size / it, js.map(j => l.shuffleWriteByJob(j._1)).sum / MB / it)
    }.getOrElse((0.0, 0.0))
    val runS = l.runMs / 1e3
    Map(
      "pagerank.jobs_per_iter" -> perIter._1,
      "pagerank.shuffle_mb_per_iter" -> perIter._2,
      "loops.louvain_jobs" -> jobsUnder("loops.louvain").toDouble,
      "driver.busy_s" -> busyS,
      "driver.share" -> busyS / wallS,
      "driver.jobs" -> jobs.size.toDouble,
      "driver.sql_executions" -> l.sqlExecutions.toDouble,
      "driver.analysis_ms" -> p.analysisMs.toDouble,
      "driver.optimization_ms" -> p.optimizationMs.toDouble,
      "driver.planning_ms" -> p.planningMs.toDouble,
      "driver.aqe_replans" -> l.aqeReplans.toDouble,
      "exec.tasks" -> l.tasks.toDouble,
      "exec.stages" -> l.stages.toDouble,
      "exec.run_s" -> runS,
      "exec.cpu_s" -> l.cpuNs / 1e9,
      "exec.sched_delay_s" -> l.waitMs / 1e3,
      "exec.util" -> runS / (wallS * Main.Cores),
      "exec.failed_tasks" -> l.failedTasks.toDouble,
      "shuffle.write_mb" -> l.shuffleWrite / MB,
      "shuffle.read_mb" -> l.shuffleRead / MB,
      "shuffle.rows" -> l.shuffleRows.toDouble,
      "shuffle.fetch_wait_s" -> l.fetchWaitMs / 1e3,
      "shuffle.spill_mb" -> l.spill / MB,
      "jvm.gc_s" -> gcMs / 1e3,
      "jvm.heap_live_peak_mb" -> heapPeakBytes / MB,
      "self.bench_s" -> selfOf("bench"),
      "self.sources_s" -> selfOf("sources"),
      "self.pagerank_s" -> selfOf("pagerank"),
      "self.loops_s" -> selfOf("loops"),
      "self.pipeline_s" -> selfOf("pipeline"),
      "self.spark_s" -> selfOf("spark"))
  }
}
