package perfbench

import graft.core.GraftSession
import graft.operators.{Louvain, PageRank}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class ReferenceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  override def beforeAll(): Unit = spark = GraftSession.local("perfbench-test", 2)
  override def afterAll(): Unit = spark.stop()

  private def edges(ps: (Long, Long)*) = Edges(ps.map(_._1).toArray, ps.map(_._2).toArray)

  /** Fixed-k ranks from graft, for comparison with the reference. */
  private def graftRanks(e: Edges, k: Int): Map[Long, Double] = {
    val s = spark
    import s.implicits._
    PageRank.runFixed(spark, e.pairs.toDF("src", "dst"), k).ranks.collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
  }

  private def assertSame(e: Edges, k: Int): Unit = {
    val ref = Reference.pageRank(e, maxIter = k, tol = -1.0, minIter = k)
    assert(ref.iterations == k)
    val got = graftRanks(e, k)
    assert(got.keySet == ref.ids.toSet)
    ref.ids.indices.foreach { i =>
      assert(math.abs(got(ref.ids(i)) - ref.ranks(i)) <= 1e-12, s"vertex ${ref.ids(i)}")
    }
    assert(math.abs(ref.ranks.sum - 1.0) <= 1e-12)
  }

  test("reference PageRank equals graft's runFixed with a dangling vertex") {
    // 3 has no out-edge; a duplicate edge must count once
    assertSame(edges(1L -> 2L, 2L -> 1L, 1L -> 3L, 2L -> 3L, 2L -> 3L), 6)
  }

  test("reference PageRank equals runFixed with sink-only vertices and a self-loop") {
    // 4 and 5 are only ever destinations; 6 links to itself
    assertSame(edges(1L -> 2L, 2L -> 4L, 2L -> 5L, 3L -> 1L, 6L -> 6L, 6L -> 5L), 10)
  }

  test("reference PageRank equals runFixed on a generated power-law graph") {
    assertSame(Gen.powerLaw(3, 500, 2500), 5)
  }

  test("the stop rule waits for minIter even when already converged") {
    val e = edges(1L -> 2L, 2L -> 1L) // the uniform start is the fixpoint
    assert(Reference.pageRank(e, maxIter = 10, tol = 1e-6, minIter = 5).iterations == 5)
    assert(Reference.pageRank(e, maxIter = 3, tol = 1e-6, minIter = 5).iterations == 3)
  }

  test("top-k breaks rank ties by ascending id") {
    val ref = Reference.pageRank(edges(5L -> 7L, 7L -> 5L, 1L -> 2L, 2L -> 1L))
    assert(Reference.topK(ref, 4).map(_._1) == Seq(1L, 2L, 5L, 7L))
  }

  test("reference Louvain level equals graft's one-level multilevelConverged") {
    val s = spark
    import s.implicits._
    for ((seed, rounds) <- Seq((5L, 2), (6L, 5))) {
      val e = Gen.plantedBlocks(seed, 20, 60)
      val (lab, levels) = Louvain.multilevelConverged(
        e.pairs.toDF("src", "dst"), maxRoundsPerLevel = rounds, maxLevels = 1)
      assert(levels == 1)
      val got = lab.select("id", "lbl").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Reference.louvainLevel(e, rounds), s"seed $seed")
    }
  }

  test("modularity of two disjoint triangles split apart is 1/2") {
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 1L, 4L -> 5L, 5L -> 6L, 6L -> 4L, 1L -> 1L)
    val two = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 4L)
    assert(math.abs(Reference.modularity(e, two) - 0.5) < 1e-15)
    assert(math.abs(Reference.modularity(e, two.map(_._1 -> 0L))) < 1e-15)
  }
}
