package org.apache.spark

/** Access to the one listener-bus call the benchmark needs that Spark
  * keeps package-private.
  */
object BenchBridge {

  /** Blocks until every event posted so far has reached every listener,
    * so counts read afterwards include all jobs that have returned.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
