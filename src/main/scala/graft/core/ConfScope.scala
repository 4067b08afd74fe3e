package graft.core

import org.apache.spark.sql.SparkSession

/** Scoped session conf: `ConfScope(spark, k -> v, ...)(body)` runs `body`
  * with the given keys set and restores them on every exit path. The one
  * home of `spark.conf.set`/`unset` in the engine.
  *
  * Refcounted per (session, key), because overlapping loops on a shared
  * session (parallel test suites, an embedded CLI) enter and leave in any
  * order:
  *  - the first active scope that holds a key sets it;
  *  - a nested or overlapping scope on the same key leaves it alone (so
  *    an outer scope's value wins);
  *  - the last exit restores the value saved on entry. The saved value
  *    comes from `spark.conf.getAll`, which holds only explicitly set
  *    keys (`getOption` would return defaults), so a key that was unset
  *    before the scope is unset again afterwards.
  *
  * While a scope is active, OTHER queries on the same session also plan
  * under its values: a local-mode latency trade on shared sessions, never
  * a correctness problem, since every scope in the engine sets only
  * planning and execution knobs that leave results unchanged.
  */
private[graft] object ConfScope {

  private val lock = new Object
  // (session, key) -> (active scopes holding it, value saved on entry)
  private val held =
    scala.collection.mutable.Map.empty[(SparkSession, String), (Int, Option[String])]

  def apply[T](spark: SparkSession, confs: (String, String)*)(body: => T): T = {
    var entered = List.empty[String] // released in the finally, even on a failed set
    try {
      lock.synchronized {
        lazy val explicit = spark.conf.getAll
        confs.foreach { case (k, v) =>
          held.get((spark, k)) match {
            case Some((n, saved)) => held((spark, k)) = (n + 1, saved)
            case None =>
              val saved = explicit.get(k)
              spark.conf.set(k, v)
              held((spark, k)) = (1, saved)
          }
          entered ::= k
        }
      }
      body
    } finally lock.synchronized {
      entered.foreach { k =>
        held((spark, k)) match {
          case (1, saved) =>
            held.remove((spark, k))
            saved match {
              case Some(v) => spark.conf.set(k, v)
              case None    => spark.conf.unset(k)
            }
          case (n, saved) => held((spark, k)) = (n - 1, saved)
        }
      }
    }
  }
}
