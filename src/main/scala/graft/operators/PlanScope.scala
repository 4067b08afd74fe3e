package graft.operators

import graft.core.ConfScope
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scoped, refcounted NARROWING of `spark.sql.shuffle.partitions` for
  * tiny-graph iterative loops — the r16 verdict's 108 s Louvain budget,
  * measured to the root cause: on a 200-vertex fixture every gain round
  * plans ~6 exchanges at the session's 32 reducers, so each of the
  * ladder's ~100 rounds schedules hundreds of sub-millisecond tasks —
  * scheduling, not data (53.5 s → 31.0 s for the same converged ladder
  * by narrowing to ≤4 partitions; values bit-identical, the decision
  * algebra is partition-count independent). At real scale the guard
  * never fires: narrowing applies only when the ESTIMATED edge count is
  * small enough that the per-reducer row target (~8k) undercuts the
  * session width — a 100 TB graph keeps its full parallelism, and the
  * estimate comes free from Catalyst statistics (no input pass).
  *
  * The save/set/restore is [[graft.core.ConfScope]]'s, refcounted per
  * (session, key): the first entering loop narrows, nested loops leave
  * the width alone, the last exit restores. While a tiny-graph loop
  * runs, OTHER queries on the same session also plan at the narrowed
  * width (the ConfScope caveat).
  */
private[graft] object PlanScope {

  private val widthKey = "spark.sql.shuffle.partitions"

  /** Set together with the narrowed width, and only when it is set (so
    * at real scale it never moves): runtime Bloom-filter injection, pure
    * per-round overhead once the loop is PROVABLY tiny. Every gain/relax
    * round joins a localCheckpoint-rotated state frame, whose
    * `ExistingRDD` scan carries no size statistic — Spark's injection
    * heuristic reads "unknown" as "huge application side" and plants
    * `bloom_filter_agg`/`might_contain` pairs on fixture-sized joins
    * (measured: THREE 8M-bit BitArrays built, serialized and broadcast
    * per 200-vertex Louvain round — a megabyte of filter per kilobyte of
    * data, plus one subquery job each). At real scale the filters are
    * useful and stay on.
    */
  private val bloomKey = "spark.sql.optimizer.runtime.bloomFilter.enabled"

  /** Catalyst row-count estimate of `df`, no job run: `rowCount` when
    * the optimizer carries it, else `sizeInBytes` at 12 bytes/row,
    * bounded by the sum of the plan's LEAF estimates. A join-derived
    * source (e.g. the orders ⋈ lineitem co-occurrence graph) carries a
    * MULTIPLICATIVE size estimate — measured 1.1 TB for a 587k-edge
    * graph. A row must be scanned before it can be joined, and the
    * working sets sized from this estimate are keyed by (near-)distinct
    * rows, which track leaf scale, not join-output scale. min(top,
    * Σ leaves) repairs the join case and is the identity on file-scan
    * plans (such a plan IS its leaf). Also sizes
    * [[PageRank.estimateEdgeParts]].
    */
  private[graft] def estimateRows(df: DataFrame): Long = {
    val plan = df.queryExecution.optimizedPlan
    val stats = plan.stats
    stats.rowCount
      .getOrElse {
        val top = stats.sizeInBytes / 12
        val leaves = plan.collectLeaves()
          .map(l => l.stats.rowCount.getOrElse(l.stats.sizeInBytes / 12))
          .sum
        top.min(leaves)
      }
      .min(BigInt(Long.MaxValue)).toLong
  }

  /** The narrowed width for an iterative loop over ~`estRows`-row
    * frames: ~8k rows per reducer (below that a task costs more to
    * schedule than to run), never below 1, never ABOVE the session
    * width (this scope only narrows).
    */
  private[graft] def narrowTarget(spark: SparkSession, estRows: Long): Int =
    math.max(1L, math.min(
      estRows / 8192L + 1L,
      spark.sessionState.conf.numShufflePartitions.toLong)).toInt

  /** Run `body` with the session's shuffle width narrowed to `target`.
    * A target ≥ the current width pins the current values of both keys
    * instead, so a nested, narrower scope does nothing: the outermost
    * loop decides. Re-entrant per session; exceptions restore on every
    * path.
    */
  def narrowShufflePartitions[T](
      spark: SparkSession, target: Int)(body: => T): T = {
    val confs =
      if (target < spark.sessionState.conf.numShufflePartitions)
        Seq(widthKey -> target.toString, bloomKey -> "false")
      else Seq(widthKey, bloomKey).map(k => k -> spark.conf.get(k))
    ConfScope(spark, confs: _*)(body)
  }

  /** [[narrowShufflePartitions]] sized from `frame`'s own Catalyst
    * estimate — the one-liner loop entry points use.
    */
  def narrowFor[T](frame: DataFrame)(body: => T): T = {
    val spark = frame.sparkSession
    narrowShufflePartitions(
      spark, narrowTarget(spark, estimateRows(frame)))(body)
  }

  /** [[narrowShufflePartitions]] sized from an EXACT row count the
    * caller already holds (e.g. a replayed stream's collected event
    * array) — same ~8k rows/reducer target, same only-narrows contract.
    * The streaming fixtures use this around the drive-the-stream block:
    * each stateful operator otherwise commits one state-store instance
    * PER shuffle partition PER micro-batch, a fixed cost that dwarfs
    * fixture-sized state; at scale the row count keeps the session
    * width.
    */
  def narrowForRows[T](spark: SparkSession, nRows: Long)(body: => T): T =
    narrowShufflePartitions(spark, narrowTarget(spark, nRows))(body)
}
