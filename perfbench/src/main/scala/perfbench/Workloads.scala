package perfbench

import java.io.File
import java.nio.file.Files

import graft.SparkEntry
import graft.operators.{Louvain, PageRank, PageRankConfig}
import graft.sources.EdgeListReader
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** What one operation measured, and its correctness check. The check
  * runs after the timed window, releases what the operation cached, and
  * returns the problems it found. `outputs` names a directory of outputs
  * that `run.py` checks after the JVM has exited.
  */
final case class OpResult(
    totalS: Double,
    stepsS: Seq[Double], // one step of the workload's loop, each
    layer: Map[String, Double], // per-layer values measured by the call
    loopWindowMs: Option[(Double, Double)], // pagerank iterations, epoch ms
    outputs: Option[File],
    check: () => Seq[String])

/** A workload: inputs generated from the seed, and one closed-loop
  * operation over them. The operation is what `total_s` times.
  */
trait Workload {
  def name: String
  /** Generates the inputs (untimed). */
  def prepare(seed: Long, dir: File): Unit
  def op(spark: SparkSession, t: Tracer): OpResult
}

object Workloads {
  val all: Seq[Workload] =
    Seq(new PageRankWorkload, new LoopsWorkload, new PipelineWorkload)

  def apply(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload $name (${all.map(_.name).mkString(", ")})"))

  private[perfbench] def secs(t0: Double): Double = (Clock.nowMs() - t0) / 1e3
}

/** The paper's job, as `graft.cli.PageRankMain` runs it: SNAP ingest,
  * PageRank with the reference CLI defaults, `final_scores` text write
  * and top-50, on a graph with web-Google's mean degree and hub shares
  * at 1/44 of its vertices. N×64 B is far under the 64 MiB cap, so
  * PageRank broadcasts its state every iteration.
  */
final class PageRankWorkload extends Workload {
  import Workloads.secs
  val name = "pagerank_web"
  private val n = 20000
  private val m = 120000
  private val cfg = PageRankConfig()

  private final case class Input(file: File, edges: Edges,
      ref: Reference.PageRankRef)
  private var in: Input = _
  private var out: String = _

  def prepare(seed: Long, dir: File): Unit = {
    val e = Gen.powerLaw(seed, n, m)
    val f = new File(dir, s"$name.txt")
    Gen.writeSnap(e, f, s"web-Google-shaped power law, seed $seed")
    in = Input(f, e,
      Reference.pageRank(e, cfg.maxIter, cfg.tol, cfg.minIter, cfg.damping))
    out = new File(dir.getParentFile, s"out/$name/final_scores").getPath
  }

  def op(spark: SparkSession, t: Tracer): OpResult = {
    val t0 = Clock.nowMs()
    val (edges, nEdges) = t.span("sources.ingest") {
      val e = EdgeListReader.snap(spark, in.file.getPath).cache()
      (e, e.count())
    }
    val ingestS = secs(t0)
    val t1 = Clock.nowMs()
    val res = t.span("pagerank.run")(PageRank.run(spark, edges, cfg))
    val runEnd = Clock.nowMs()
    val runS = (runEnd - t1) / 1e3
    val t2 = Clock.nowMs()
    val top = t.span("pagerank.output") {
      res.ranks
        .select(concat(col("id").cast("string"), lit("\t"),
          format_string("%.10f", col("rank"))).as("value"))
        .coalesce(1).write.mode("overwrite").text(out)
      PageRank.topK(res.ranks, 50).collect()
    }
    val outputS = secs(t2)
    val totalS = secs(t0)
    val iterMs = res.trace.map(_.millis).sum.toDouble

    def check(): Seq[String] = {
      val ranks = res.ranks.collect().map(r => (r.getLong(0), r.getDouble(1)))
      edges.unpersist()
      val ref = in.ref
      val errs = Seq.newBuilder[String]
      if (res.iterations != ref.iterations)
        errs += s"iterations ${res.iterations} != reference ${ref.iterations}"
      if (ranks.length != ref.ids.length)
        errs += s"${ranks.length} ranks for ${ref.ids.length} vertices"
      val worst = ranks.iterator.map { case (id, r) =>
        val i = java.util.Arrays.binarySearch(ref.ids, id)
        if (i < 0) Double.PositiveInfinity else math.abs(r - ref.ranks(i))
      }.foldLeft(0.0)(math.max)
      if (worst > 1e-12) errs += s"rank differs from reference by $worst"
      val mass = ranks.map(_._2).sum
      if (math.abs(mass - 1.0) > 1e-9) errs += s"rank mass $mass != 1"
      // top-50: same ids in the same order, except that ranks equal to
      // 1e-12 may come in either order
      val want = Reference.topK(ref, 50)
      val cut = want.last._2
      top.zip(want).foreach { case (row, (wid, wr)) =>
        val id = row.getLong(0)
        val i = java.util.Arrays.binarySearch(ref.ids, id)
        if (id != wid && (i < 0 || math.abs(ref.ranks(i) - wr) > 1e-12))
          errs += s"top-50 has $id where the reference has $wid"
        else if (i >= 0 && ref.ranks(i) < cut - 1e-12)
          errs += s"top-50 holds $id below the reference cut"
      }
      if (top.length != want.length) errs += s"top-50 has ${top.length} rows"
      val lines = Option(new File(out).listFiles()).getOrElse(Array.empty[File])
        .filter(_.getName.startsWith("part-"))
        .map(f => java.nio.file.Files.lines(f.toPath).count()).sum
      if (lines != ref.ids.length)
        errs += s"final_scores has $lines lines for ${ref.ids.length} vertices"
      errs.result()
    }

    OpResult(
      totalS,
      res.trace.map(_.millis / 1e3),
      Map(
        "sources.ingest_s" -> ingestS,
        "sources.lines_in" -> in.edges.size.toDouble,
        "sources.edges_out" -> nEdges.toDouble,
        "sources.dedup_ratio" -> nEdges.toDouble / in.edges.size,
        "sources.input_mb" -> in.file.length / 1048576.0,
        "pagerank.load_s" -> (ingestS + runS - iterMs / 1e3),
        "pagerank.build_s" -> (runS - iterMs / 1e3),
        "pagerank.iterations" -> res.iterations.toDouble,
        "pagerank.vertices" -> in.ref.ids.length.toDouble,
        "pagerank.broadcast" ->
          (if (in.ref.ids.length * PageRank.stateRowBytes <=
                 cfg.broadcastStateMaxBytes) 1.0 else 0.0),
        "pagerank.output_s" -> outputS),
      Some((runEnd - iterMs, runEnd)),
      None,
      () => check())
  }
}

/** Many tiny one-task jobs: one level of Louvain (two synchronous move
  * rounds) on a planted two-block graph of 2×60 vertices. Driver-side
  * analysis, planning and job submission dominate.
  */
final class LoopsWorkload extends Workload {
  import Workloads.secs
  val name = "tiny_loops"

  private final case class Input(blocks: Edges, nBlock: Long,
      louvain: Map[Long, Long])
  private var in: Input = _

  // A move phase from singletons cannot go quiet in its first two rounds,
  // so the round cap always binds and every seed runs the same rounds
  // and jobs.
  private val Rounds = 2

  def prepare(seed: Long, dir: File): Unit = {
    val b = Gen.plantedBlocks(seed, 60, 180)
    in = Input(b, 60, Reference.louvainLevel(b, Rounds))
  }

  def op(spark: SparkSession, t: Tracer): OpResult = {
    import spark.implicits._
    val t0 = Clock.nowMs()
    val blocks = t.span("loops.input") {
      val b = in.blocks.pairs.toDF("src", "dst").cache()
      b.count()
      b
    }
    val t1 = Clock.nowMs()
    val (lab, levels) = t.span("loops.louvain") {
      Louvain.multilevelConverged(blocks, maxRoundsPerLevel = Rounds,
        maxLevels = 1)
    }
    val louvainS = secs(t1)
    val labels = t.span("loops.output")(lab.select("id", "lbl").collect())
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val totalS = secs(t0)

    def check(): Seq[String] = {
      blocks.unpersist()
      val errs = Seq.newBuilder[String]
      if (labels != in.louvain) {
        val bad = in.louvain.count { case (v, c) => !labels.get(v).contains(c) }
        errs += s"Louvain labels differ from the reference on $bad of ${in.louvain.size} vertices"
      }
      val spanning = labels.groupBy(_._2).count { case (_, vs) =>
        vs.keys.exists(_ < in.nBlock) && vs.keys.exists(_ >= in.nBlock)
      }
      if (spanning > 0) errs += s"$spanning communities span both blocks"
      val q = Reference.modularity(in.blocks, labels)
      val q0 = Reference.modularity(in.blocks, labels.map(v => v._1 -> v._1))
      if (!(q > q0)) errs += s"modularity $q is not above the singletons' $q0"
      errs.result()
    }

    // the move rounds are not timed one by one: a step is their mean
    OpResult(
      totalS,
      Seq(louvainS / Rounds),
      Map(
        "loops.louvain_s" -> louvainS,
        "loops.louvain_levels" -> levels.toDouble),
      None,
      None,
      () => check())
  }
}

/** One-shot queries: registered `graft.SparkEntry` queries over seeded
  * parquet tables (written by `run.py` from the seed), each written out
  * as parquet. They cover the parquet scan, `graft.functions` and the
  * Dedup, Similarity and TextOps operators. `run.py` checks every
  * measured operation's outputs against the queries' DuckDB oracle SQL
  * after the JVM has exited.
  */
final class PipelineWorkload extends Workload {
  import Workloads.secs
  val name = "pipeline_mix"

  private var tables: String = _
  private var outRoot: File = _
  private var ops = 0

  def prepare(seed: Long, dir: File): Unit = {
    tables = new File(dir, "tables").getPath
    outRoot = new File(dir.getParentFile, "ops")
    val oracle = Json.obj(PipelineWorkload.Queries.map(q =>
      q -> Json.str(SparkEntry.oracleSql(q))))
    Files.writeString(new File(dir.getParentFile, "oracle_sql.json").toPath,
      oracle + "\n")
  }

  def op(spark: SparkSession, t: Tracer): OpResult = {
    ops += 1
    val out = new File(outRoot, ops.toString)
    val t0 = Clock.nowMs()
    val walls = PipelineWorkload.Queries.map { q =>
      val t1 = Clock.nowMs()
      t.span(s"pipeline.$q") {
        SparkEntry.queries(q)(spark, tables)
          .write.mode("overwrite").parquet(new File(out, q).getPath)
      }
      secs(t1)
    }
    val totalS = secs(t0)
    // the queries differ too much in cost for a median over all of them
    // to be steady: a step is their mean
    OpResult(
      totalS,
      Seq(totalS / walls.size),
      PipelineWorkload.Queries.zip(walls).map { case (q, w) =>
        s"pipeline.${q}_s" -> w
      }.toMap,
      None,
      Some(out),
      () => Nil)
  }
}

object PipelineWorkload {
  /** One query per module: the parquet scan and aggregation, Dedup,
    * TextOps and Similarity (the last two through `graft.functions`).
    */
  val Queries: Seq[String] = Seq(
    "q1_pricing_summary", "d6_blocked_jaccard", "d11_tfidf", "e5_knn_batch")
}
