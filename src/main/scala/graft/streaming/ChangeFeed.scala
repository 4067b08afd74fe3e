package graft.streaming

import graft.sources.{PointerFile, Snapshots}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** STREAMING CONSUMPTION of the snapshot change feed (st25 — the Delta
  * streaming-source / Kafka-consumer-group shape over the engine's own
  * table format): a downstream job that keeps a COMMITTED OFFSET (the
  * highest bronze version it has fully processed) and per poll reads
  * exactly `(offset, head]` through `Snapshots.changesSince` — delta
  * bytes, never the table — then advances the offset, a
  * [[graft.sources.PointerFile]] at `consumerDir/_offset`, with one
  * atomic rename. The driver of each poll does manifest-sized work only.
  *
  * Delivery contract (the Kafka one): offsets commit AFTER processing,
  * so a crash inside the window between "sink wrote" and "offset
  * committed" REDELIVERS that range — at-least-once from the feed's
  * side; pair the processor with a range-keyed idempotent sink
  * (`EventStreams.writeBatchIdempotent` discipline — the redelivered
  * range overwrites its own directory) and the composition is
  * exactly-once end to end. Both crash windows are spec-locked:
  * crash-before-commit redelivers and converges, re-poll-after-commit
  * is a no-op.
  *
  * [[streamingConsumer]] runs the poll loop as a real Structured
  * Streaming job: a tick stream (rate source in production, MemoryStream
  * in tests) drives one [[poll]] per micro-batch via foreachBatch — the
  * standard recipe for streaming over a source that exposes snapshots
  * rather than offsets natively.
  *
  * ONE CONSUMER per `consumerDir` assumed (the Kafka
  * one-owner-per-partition discipline): the offset commit is atomic but
  * not compare-and-swap, so two pollers sharing a dir could both read
  * the same range — harmless with the range-keyed idempotent sink, but
  * wasted work. Independent consumers use independent dirs, exactly like
  * consumer groups.
  */
object ChangeFeed {

  private def offsetPath(consumerDir: String) = s"$consumerDir/_offset"

  /** The consumer's committed offset: the highest version fully
    * processed; 0 before the first commit (versions start at 1 — the
    * bootstrap poll reads the whole table as its first delta, the
    * Delta streaming-source initial-snapshot behavior).
    */
  def committedOffset(spark: SparkSession, consumerDir: String): Int =
    PointerFile.read(spark, offsetPath(consumerDir)).map(_.toInt).getOrElse(0)

  /** Advance the committed offset with one atomic pointer-file rename
    * (a reader/crasher never sees a torn offset).
    */
  private[graft] def commitOffset(
      spark: SparkSession, consumerDir: String, version: Int): Unit =
    PointerFile.write(spark, offsetPath(consumerDir), version.toString)

  /** One poll: if the bronze head moved past the committed offset, hand
    * `(offset, head]`'s rows to `process` and THEN commit `head`.
    * Returns the polled range, or None when caught up (a normal
    * result). `process` receives (delta, fromExclusive, toInclusive) —
    * the range is what a range-keyed idempotent sink partitions by.
    */
  def poll(
      spark: SparkSession,
      bronzeRoot: String,
      consumerDir: String)(
      process: (DataFrame, Int, Int) => Unit): Option[(Int, Int)] = {
    val from = committedOffset(spark, consumerDir)
    val head = Snapshots.headVersion(spark, bronzeRoot)
      .getOrElse(sys.error(s"nothing committed under $bronzeRoot"))
    if (head <= from) None
    else {
      val delta = Snapshots.changesSince(spark, bronzeRoot, from, head)
      process(delta, from, head)
      commitOffset(spark, consumerDir, head)
      Some((from, head))
    }
  }

  /** One micro-batch of the STREAMING CDC UPSERT SINK ([[cdcSink]]'s
    * foreachBatch body, exposed for the restart/replay path and its
    * test): apply a change micro-batch (table columns + `opCol` ∈
    * {'U','D'}) into the keyed LakeTable — the first batch initializes
    * the table from its upserts (deletes against nothing are the
    * documented CDC no-op), every later batch goes through
    * `LakeTable.applyChanges`. REPLAYING the newest batch (restart
    * between sink commit and checkpoint commit — foreachBatch's
    * at-least-once window) converges: re-upserts restate the same
    * values, re-deletes find nothing — CDC apply is idempotent against
    * the state it already produced. Batches must be latest-per-key
    * (reduce multi-statement batches by `_commit_version`/sequence
    * first — the p13 discipline; duplicate keys fail loudly).
    */
  def applyCdcBatch(
      changes: org.apache.spark.sql.DataFrame,
      root: String,
      key: String,
      opCol: String = "op"): Unit = {
    val spark = changes.sparkSession
    if (!graft.sources.LakeTable.isInitialized(spark, root)) {
      val ups = changes.filter(org.apache.spark.sql.functions.col(opCol)
        === "U").drop(opCol)
      if (ups.limit(1).count() > 0L)
        graft.sources.LakeTable.append(ups, root, key)
    } else {
      graft.sources.LakeTable.applyChanges(changes, root, key, opCol)
      ()
    }
  }

  /** The CDC stream applied into a keyed LakeTable — the write half of
    * the medallion hop run as a real streaming job (Delta's streaming
    * MERGE recipe: foreachBatch + upsert).
    */
  def cdcSink(
      changes: org.apache.spark.sql.DataFrame,
      root: String,
      key: String,
      opCol: String = "op")
      : org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .foreachBatch {
        (df: org.apache.spark.sql.DataFrame, _: Long) =>
          applyCdcBatch(df, root, key, opCol)
      }
      .start()

  /** The poll loop as a Structured Streaming job: each tick micro-batch
    * runs one [[poll]]. Ticks carry no data — they are the schedule
    * (rate source in production; MemoryStream in the spec and the st25
    * row, where the test commits bronze versions BETWEEN ticks and
    * replays a crashed poll).
    */
  def streamingConsumer(
      ticks: DataFrame,
      bronzeRoot: String,
      consumerDir: String)(
      process: (DataFrame, Int, Int) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    ticks.writeStream
      .foreachBatch { (_: DataFrame, _: Long) =>
        poll(ticks.sparkSession, bronzeRoot, consumerDir)(process)
        ()
      }
      .start()
}
