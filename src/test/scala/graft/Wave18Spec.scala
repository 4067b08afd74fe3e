package graft

import graft.operators.PlanScope
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Round-18 optimization specs: the tiny-loop conf set that rides the
  * PlanScope narrowing (bloom-filter injection off while a loop is
  * provably fixture-sized), and its restore discipline.
  */
class Wave18Spec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  private val widthKey = "spark.sql.shuffle.partitions"
  private val bloomKey = "spark.sql.optimizer.runtime.bloomFilter.enabled"

  test("tiny-loop scope disables runtime bloom filters and restores") {
    val before = spark.conf.getOption(bloomKey)
    PlanScope.narrowShufflePartitions(spark, 1) {
      assert(spark.conf.get(bloomKey) == "false",
        "narrowed scope must switch runtime bloom-filter injection off")
      // nested scope keeps it off, restores only at the outermost exit
      PlanScope.narrowShufflePartitions(spark, 1) {
        assert(spark.conf.get(bloomKey) == "false")
      }
      assert(spark.conf.get(bloomKey) == "false")
    }
    assert(spark.conf.getOption(bloomKey) == before,
      "outermost exit must restore the session's bloom-filter setting")
    // exception path restores too
    intercept[RuntimeException](
      PlanScope.narrowShufflePartitions(spark, 1)(sys.error("boom")))
    assert(spark.conf.getOption(bloomKey) == before)
  }

  test("a WIDE target flips nothing — tiny-loop confs are narrowing-gated") {
    val beforeBloom = spark.conf.getOption(bloomKey)
    val beforeWidth = spark.conf.get(widthKey)
    PlanScope.narrowShufflePartitions(spark, 10000) {
      assert(spark.conf.get(widthKey) == beforeWidth)
      assert(spark.conf.getOption(bloomKey) == beforeBloom,
        "at-scale (wide) loops must keep runtime bloom filters available")
    }
    assert(spark.conf.getOption(bloomKey) == beforeBloom)
  }

  test("an explicit session bloom setting survives the scope round-trip") {
    // set by hand, not through ConfScope: an outer ConfScope would hold
    // the key, and the narrowing scope under test would then leave it
    // alone. getAll, not getOption, so an unset key is unset again.
    val before = spark.conf.getAll.get(bloomKey)
    try {
      spark.conf.set(bloomKey, "true")
      PlanScope.narrowShufflePartitions(spark, 1) {
        assert(spark.conf.get(bloomKey) == "false")
      }
      assert(spark.conf.get(bloomKey) == "true")
    } finally before match {
      case Some(v) => spark.conf.set(bloomKey, v)
      case None    => spark.conf.unset(bloomKey)
    }
  }
}
