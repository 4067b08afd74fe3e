package graft.core

import org.apache.spark.sql.SparkSession

/** SparkSession factory for the engine.
  *
  * The settings are the ones that matter on a real cluster too: AQE on
  * (runtime re-planning, skew-join splitting, dynamic coalescing of
  * shuffle partitions), UTC session time zone (oracle parity with
  * DuckDB), and a shuffle-partition count sized to the actual
  * parallelism instead of the 200 default.
  */
object GraftSession {

  /** Local parallelism: `SPARK_GRAFT_CPUS` when set, else the cores the
    * JVM sees.
    */
  def cpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))

  /** A set `SPARK_GRAFT_CPUS` must be a positive integer; anything else
    * fails naming the variable instead of starting `local[0]`.
    */
  private[graft] def parseCpus(raw: Option[String]): Int = raw match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(v) =>
      v.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
  }

  def local(appName: String = "graft", nCpus: Int = cpus): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$nCpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", nCpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // TIMESTAMP(NANOS) parquet (the events table) is rejected by the
      // vectorized reader unless surfaced as LONG nanos. Set ONCE at
      // session build so readers (Tables.events, EventStreams) stay
      // side-effect-free — a reader must never silently flip global
      // parquet semantics mid-session.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // localCheckpoint blocks (sealAfter, loop rotations) are freed by
      // the ContextCleaner only when their RDDs are GC'd; the default
      // periodic-GC interval (30 min) is longer than a whole bench run,
      // so a long-lived session (the Bench query marathon, the shared
      // test session, a pipeline CLI) accretes dead blocks in the heap
      // until late queries feel the pressure (observed in Bench: a
      // tail-end OOM and inflated g13 late iterations). 30 s keeps the
      // floor flat.
      .config("spark.cleaner.periodicGC.interval", "30s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
