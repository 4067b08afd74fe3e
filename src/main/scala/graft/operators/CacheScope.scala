package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import scala.concurrent.Await
import scala.concurrent.duration.Duration
import scala.util.control.NonFatal

/** Deterministic cache lifetimes for multi-stage operator pipelines.
  *
  * The LSH/ANN/TF-IDF pipelines persist intermediates (signature
  * matrices, token sets, IVF assignments) because Catalyst would
  * otherwise inline the expensive projection into both sides of a
  * self-join (measured 50-100× slowdowns). But a `persist` held through
  * the CacheManager lives until an explicit `unpersist` — returning a
  * lazy frame that depends on the cache means the operator can never
  * release it, and a long-lived session accumulates dead cache blocks.
  *
  * [[sealAfter]] resolves the tension: materialize the (small, final)
  * result eagerly via `localCheckpoint`, then drop every intermediate.
  * The returned frame is self-contained — consumers can run any number
  * of actions without recomputation — and the checkpoint blocks
  * themselves are lifecycle-managed by Spark's ContextCleaner (freed
  * when the frame is garbage-collected), not parked in the CacheManager
  * forever. The cost is that pipeline operators become EAGER (one job
  * runs at call time), which is the right trade for pipeline terminals
  * whose output is orders of magnitude smaller than their inputs.
  * On a real cluster, swap `localCheckpoint` for reliable `checkpoint`
  * if the result must survive executor loss beyond the consuming job.
  */
private[graft] object CacheScope {

  /** Eagerly materialize `result`, then unpersist `intermediates`.
    * After this returns, the operator has left nothing in the
    * CacheManager.
    */
  def sealAfter(result: DataFrame, intermediates: DataFrame*): DataFrame = {
    val out = result.localCheckpoint() // eager: materializes in this job
    intermediates.foreach(_.unpersist(false))
    out
  }

  /** Runs `body`; if it throws, unpersists `held` and rethrows — for
    * guards and setup actions that can fail after an operator persisted
    * its frames, so a failed call leaves nothing in the CacheManager.
    */
  def releaseOnThrow[T](held: DataFrame*)(body: => T): T =
    try body
    catch { case NonFatal(e) => held.foreach(_.unpersist(false)); throw e }

  /** The LOOP-STATE rotation: eager localCheckpoint (cuts lineage,
    * materializes for the round's driver action) PLUS a statistics
    * reset. `localCheckpoint` alone preserves the origin plan's size
    * estimate, and a join-shaped round MULTIPLIES child estimates — so
    * across rounds the carried estimate's bit length DOUBLES and a
    * long fixpoint (a 39-round HashMin on a path graph) first slows
    * planning exponentially, then overflows Catalyst's BigInteger
    * range outright. Every iterative loop's carried state must rotate
    * through this instead of bare localCheckpoint.
    */
  def rotate(state: DataFrame): DataFrame =
    org.apache.spark.sql.classic.GraftSqlBridge
      .resetStats(state.localCheckpoint())

  /** [[rotate]] that also returns `metrics` (aggregate columns)
    * evaluated over `state`'s rows, in the order given. The metrics
    * ride the rotation's own checkpoint job through a fresh
    * [[org.apache.spark.sql.Observation]] (uniquely named per call, so
    * repeated rotations never collide), so a loop's stop test costs no
    * second SQL execution. If the checkpoint fails, its error is
    * rethrown here before any wait on the observation.
    *
    * EXACTNESS RULE: pass only integral counts or sums. The
    * `CollectMetrics` node sits at the plan root, in the result stage,
    * and Spark merges that stage's accumulator updates once per
    * partition — so a count or an integer sum is exact. A floating sum
    * would be merged in task-completion order, which varies from run to
    * run; such metrics must keep their own aggregate action.
    */
  def rotate(
      state: DataFrame, metric: Column, metrics: Column*): (DataFrame, Row) = {
    val seen = Observation()
    val out = rotate(state.observe(seen, metric, metrics: _*))
    (out, Await.result(seen.future, Duration.Inf))
  }
}
