package graft.streaming

import graft.operators.PlanScope
import graft.streaming.EventStreams.Event
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

/** Deterministic stream replays: a collected table history driven
  * through a real streaming query in micro-batches. The one home of the
  * replay that the registry's replayed streaming queries share (the
  * tick-driven feed consumers drive their own `MemoryStream`):
  *  - [[scramble]] fixes an out-of-order arrival, [[batches]] cuts it
  *    into micro-batches and [[sentinels]] builds the watermark-advancing
  *    flush batches;
  *  - [[drive]] runs the query over `history ++ flush`, planning under
  *    [[PlanScope.narrowForRows]] on the history's row count (flush rows
  *    are not counted), and stops it on every exit path;
  *  - [[toMemory]] drives a query into a uniquely named memory sink,
  *    reads the sink back and drops its view on every exit path. Dataset
  *    analysis is eager, so the frame `read` returns has already resolved
  *    the view to the sink's rows and stays valid after the drop.
  */
private[graft] object Replay {

  /** The events table as typed rows, in table order. */
  def events(spark: SparkSession, dir: String): Array[Event] = {
    import spark.implicits._
    graft.sources.Tables.events(spark, dir)
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Event]
      .collect()
  }

  /** `rows` in a fixed pseudo-random arrival order: sorted by a rotation
    * of the golden-ratio hash of each row's id. Each query keeps its own
    * `rotation`, and so its own order.
    */
  def scramble[T](rows: Array[T], rotation: Int)(id: T => Long): Array[T] =
    rows.sortBy(r => java.lang.Long.rotateLeft(id(r) * 0x9E3779B97F4A7C15L, rotation))

  /** `rows` cut into consecutive micro-batches of `rows.length / n` rows
    * (at least one); a remainder makes one more, smaller batch.
    */
  def batches[T](rows: Array[T], n: Int): Seq[Seq[T]] =
    rows.grouped(math.max(rows.length / n, 1)).map(_.toSeq).toSeq

  /** One single-row batch per offset: a sentinel event of user -1 that
    * many hours after the latest event of `history`, advancing the
    * watermark so buffered state flushes. Queries filter user -1 out.
    */
  def sentinels(history: Array[Event], hoursAfter: Long*): Seq[Seq[Event]] = {
    val maxMs = history.iterator.map(_.ts.getTime).max
    hoursAfter.map(h => Seq(Event(
      -1L, new java.sql.Timestamp(maxMs + h * 3600 * 1000), -1L, "sentinel", 0.0)))
  }

  /** Starts `start` over a fresh `MemoryStream`, then adds each batch of
    * `history ++ flush` and processes it before the next. Planning is
    * narrowed to the history's row count: a stateful operator commits
    * one state store per shuffle partition per micro-batch, so
    * fixture-sized state at session width pays fixed store overhead,
    * not data; at scale the count keeps the full width.
    */
  def drive[T: Encoder](
      spark: SparkSession, history: Seq[Seq[T]], flush: Seq[Seq[T]] = Nil)(
      start: Dataset[T] => StreamingQuery): Unit = {
    implicit val sqlCtx: SQLContext = spark.sqlContext
    val ms = MemoryStream[T]
    PlanScope.narrowForRows(spark, history.iterator.map(_.size.toLong).sum) {
      val q = start(ms.toDS())
      try (history ++ flush).foreach { b =>
        ms.addData(b)
        q.processAllAvailable()
      }
      finally q.stop()
    }
  }

  /** [[drive]] with `query`'s output written to a memory sink named
    * `<name>_mem_<uuid>` in `outputMode`; returns `read` of the sink.
    */
  def toMemory[T: Encoder](
      spark: SparkSession, name: String, outputMode: String,
      history: Seq[Seq[T]], flush: Seq[Seq[T]] = Nil)(
      query: Dataset[T] => Dataset[_])(
      read: DataFrame => DataFrame): DataFrame = {
    val qname = name + "_mem_" + java.util.UUID.randomUUID().toString.replace("-", "")
    try {
      drive(spark, history, flush) { ds =>
        query(ds).writeStream.format("memory").queryName(qname)
          .outputMode(outputMode).start()
      }
      read(spark.table(qname))
    } finally spark.catalog.dropTempView(qname)
  }
}
