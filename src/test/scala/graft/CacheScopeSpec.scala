package graft

import graft.operators.CacheScope
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** CacheScope.rotate's observed form: the same rows as the eager
  * rotation, metrics equal to a separate aggregate, one SQL execution
  * for both, and a failing frame that fails the call instead of
  * leaving it waiting on the observation.
  */
class CacheScopeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  // 40 rows over 3 partitions: k = id % 7, some nulls in v
  private def state: DataFrame =
    spark.range(0L, 40L, 1L, 3).select(
      col("id"), (col("id") % 7L).as("k"),
      when(col("id") % 5L =!= 0L, col("id") * 3L).as("v"))

  private def metrics = Seq(
    count(lit(1)), count(when(col("k") === 0L, 1)), sum(col("v")))

  private def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet

  test("observed rotate keeps the eager rotate's rows and schema") {
    val (out, _) = CacheScope.rotate(state, metrics.head, metrics.tail: _*)
    val eager = CacheScope.rotate(state)
    assert(out.schema == eager.schema)
    assert(rows(out) == rows(eager))
    assert(rows(out).size == 40)
  }

  test("observed metrics equal a separate aggregate over the frame") {
    val (_, seen) = CacheScope.rotate(state, metrics.head, metrics.tail: _*)
    assert(seen.toSeq == state.agg(metrics.head, metrics.tail: _*).first().toSeq)
    assert(seen.getLong(0) == 40L && seen.getLong(1) == 6L)
    // an empty frame still reports its counts
    val (empty, none) =
      CacheScope.rotate(state.filter(col("id") < 0L), count(lit(1)))
    assert(none.getLong(0) == 0L && empty.isEmpty)
  }

  test("observed rotate costs one SQL execution") {
    val s = state
    assert(LoopCostSpec.executions(spark)(CacheScope.rotate(s)) == 1)
    assert(LoopCostSpec.executions(spark)(
      CacheScope.rotate(s, count(lit(1)))) == 1)
  }

  test("consecutive observed rotations of one lineage do not collide") {
    val s = state
    val (a, first) = CacheScope.rotate(s, count(lit(1)))
    val (_, again) = CacheScope.rotate(s, count(lit(1)))
    val (_, next) = CacheScope.rotate(
      a.filter(col("k") =!= 0L), count(lit(1)))
    assert(first.getLong(0) == 40L && again.getLong(0) == 40L)
    assert(next.getLong(0) == 34L)
  }

  test("a frame that fails at execution rethrows, it does not block") {
    val bad = state.select(col("id"),
      when(col("id") === 17L, raise_error(lit("rotate-probe failure")))
        .otherwise(col("k")).as("k"))
    val err = intercept[Exception](CacheScope.rotate(bad, count(lit(1))))
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage)
        .contains("rotate-probe failure")))
  }
}
