package graft

import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** SQL-execution counting shared by the loop-cost and rotation specs. */
object LoopCostSpec {
  private val markers = new java.util.concurrent.atomic.AtomicInteger(0)

  /** SQL executions `run` triggers. The listener bus is asynchronous
    * and delivers in order, so the count is what arrives between two
    * marker queries run before and after `run`.
    */
  def executions(spark: SparkSession)(run: => Any): Int = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
      def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit = seen.add(qe)
    }
    def marker(): String = {
      val m = s"<loop-cost-marker ${markers.incrementAndGet()}>"
      spark.range(1).select(lit(m)).collect()
      m
    }
    def at(m: String): Int =
      seen.asScala.toSeq.indexWhere(_.analyzed.toString.contains(m))
    spark.listenerManager.register(listener)
    try {
      val start = marker()
      run
      val end = marker()
      val deadline = System.nanoTime() + 30000000000L
      while (at(end) < 0 && System.nanoTime() < deadline) Thread.sleep(20)
      assert(at(start) >= 0 && at(end) >= 0, "markers never reached the listener")
      at(end) - at(start) - 1
    } finally spark.listenerManager.unregister(listener)
  }
}

/** Per-round driver cost of every iterative operator, in SQL executions
  * (job counts vary under AQE, executions do not): the difference
  * between a run of k and one of k + 1 rounds is one round's cost. The
  * fixed form must pay no stop-test action. A converged form run with a
  * cap that binds pays its stop action on top when the test joins or
  * aggregates the state (LPA, k-truss, SSSP, HITS); where the test is a
  * count of the rotated state (Louvain, k-core), the count is observed
  * inside the rotation's own job and the round costs what a fixed round
  * costs.
  */
class LoopCostSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  private def executions(run: => Any): Int =
    LoopCostSpec.executions(spark)(run)

  /** executions(run(k + 1)) − executions(run(k)) */
  private def perRound(k: Int)(run: Int => Any): Int =
    executions(run(k + 1)) - executions(run(k))

  private def edges(pairs: (Long, Long)*): DataFrame = {
    val sp = spark
    import sp.implicits._
    pairs.toDF("src", "dst")
  }

  // 0-1-…-11: the 2-core peel and the SSSP frontier take ~6 and 11 rounds
  private def path = edges((0L until 11L).map(i => i -> (i + 1)): _*)
  // a triangle strip: its 4-truss cascade empties it over two rounds
  private def strip =
    edges((0L until 8L).flatMap(i => Seq(i -> (i + 1), i -> (i + 2))): _*)
  // two triangles joined by a bridge
  private def bridged =
    edges(0L -> 1L, 1L -> 2L, 0L -> 2L, 3L -> 4L, 4L -> 5L, 3L -> 5L, 2L -> 3L)

  test("LPA: one execution per fixed round, two per converged round") {
    // one edge: synchronous LPA swaps the two labels forever
    val e = edges(1L -> 2L)
    assert(perRound(2)(GraphBuilder.labelPropagation(e, _)) == 1)
    assert(perRound(2)(GraphBuilder.labelPropagationConverged(e, _)) == 2)
  }

  test("k-core: one execution per round, fixed or converged") {
    assert(perRound(2)(GraphBuilder.kCore(path, 2, _)) == 1)
    assert(perRound(2)(GraphBuilder.kCoreConverged(path, 2, _)) == 1)
  }

  test("k-truss: one execution per fixed round, two per converged round") {
    assert(perRound(1)(GraphBuilder.kTruss(strip, 4, _)) == 1)
    assert(perRound(1)(GraphBuilder.kTrussConverged(strip, 4, _)) == 2)
  }

  test("SSSP: one execution per fixed round, two per converged round") {
    val w = path.withColumn("w", lit(1.0))
    val seed = path.select(lit(0L).as("id")).limit(1)
    assert(perRound(2)(ShortestPaths.run(w, seed, _)) == 1)
    assert(perRound(2)(ShortestPaths.runConverged(w, seed, _)) == 2)
  }

  test("HITS: one execution per fixed round, three per converged round") {
    // tol < 0: the delta test never passes, so the cap binds
    assert(perRound(2)(Hits.run(bridged, _)) == 1)
    assert(perRound(2)(k =>
      Hits.runConverged(bridged, k, tol = -1.0, minIter = 1)) == 3)
  }

  test("Louvain ladder: one execution per round, fixed or converged, " +
    "and a fixed cost per level") {
    // round 1 moves, so neither one nor two rounds can prove stability
    assert(perRound(1)(Louvain.multilevel(bridged, _, 1)) == 1)
    assert(perRound(1)(r => Louvain.multilevelConverged(bridged, r, 1)) == 1)
    // a second level: m, the initial rotation, two rounds, the mapping
    // rotation; converged adds the rotation of the contraction the
    // second level reads (the top level contracts nothing)
    assert(perRound(1)(Louvain.multilevel(bridged, 2, _)) == 5)
    assert(perRound(1)(l => Louvain.multilevelConverged(bridged, 2, l)) == 6)
  }

  test("PageRank: two executions per iteration, broadcast or shuffled " +
    "state") {
    // the lazy localCheckpoint posts its own execution, the metrics
    // .first() a second; tol < 0 never converges, so maxIter binds
    def pr(cfg: PageRankConfig)(k: Int) =
      PageRank.run(spark, bridged,
        cfg.copy(maxIter = k, tol = -1.0, minIter = k)).ranks.collect()
    assert(perRound(2)(pr(PageRankConfig())) == 2)
    assert(perRound(2)(pr(PageRankConfig(broadcastStateMaxBytes = 0L))) == 2)
  }
}
