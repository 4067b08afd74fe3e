package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming operators over the `events` table shape
  * (`event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING,
  * value DOUBLE, props STRING`).
  *
  * The reference is strictly batch-iterative (SURVEY.md §2.2 "Streaming:
  * absent") — this is the extended surface the north star asks for:
  * watermarked windowed aggregation, late-data-tolerant dedup, and
  * stateful sessionization, all expressed on the streaming Dataset API so
  * the same code runs over Kafka/files in production and over the testdata
  * parquet in tests (file source + memory sink).
  */
object EventStreams {

  /** Logical events schema; `ts`'s physical parquet encoding varies by
    * testdata generation (LONG nanos under `nanosAsLong`, or
    * TIMESTAMP_NTZ micros) and is resolved per-directory in
    * [[readEvents]].
    */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-source stream over the testdata events parquet. A streaming
    * source needs a declared schema, so resolve `ts`'s physical type from
    * the parquet footer with one driver-side metadata read, declare THAT
    * type, then normalize through the same type-adaptive conversion the
    * batch reader uses (graft.sources.Tables.normalizeEventTs) so both
    * paths emit identical session-zoned TIMESTAMP instants.
    *
    * ASSUMPTION (single encoding per directory): the one-footer probe
    * speaks for every file the glob matches. True for the
    * driver-generated testdata (one file) and for any sanely-written
    * table; a directory mixing LONG-nanos and TIMESTAMP_NTZ files would
    * mismatch the declared type on some files. If mixed encodings ever
    * appear, normalize per-file at write time — a stream cannot
    * re-declare its schema mid-run. The LongType branch's nano-unit
    * guard in normalizeEventTs also fires here (same expression).
    */
  def readEvents(spark: SparkSession, sfDir: String): DataFrame = {
    val physicalTs =
      spark.read.parquet(s"$sfDir/events.parquet").schema("ts").dataType
    val physicalSchema = StructType(eventSchema.map(f =>
      if (f.name == "ts") f.copy(dataType = physicalTs) else f))
    graft.sources.Tables.normalizeEventTs(
      spark.readStream
        .schema(physicalSchema)
        // the file stream source requires a directory; glob down to the
        // events table inside the sf dir
        .option("pathGlobFilter", "events.parquet")
        .parquet(sfDir))
  }

  /** Sliding-window aggregation with a watermark: counts + value sums per
    * (window, event_type). Late rows beyond the watermark are dropped —
    * state is bounded, which is what makes this runnable forever at
    * production rates.
    */
  def windowedAgg(
      events: DataFrame,
      window: String = "5 minutes",
      slide: String = "5 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(
        org.apache.spark.sql.functions.window(col("ts"), window, slide),
        col("event_type"))
      .agg(count("*").as("n_events"), sum(col("value")).as("sum_value"))

  /** Exactly-once-per-id dedup within the watermark horizon (the
    * streaming twin of TextOps.dedupExact).
    */
  def dedupEvents(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark).dropDuplicates("event_id", "ts")

  /** The idempotent write one micro-batch of an EXACTLY-ONCE parquet
    * sink performs ([[sinkExactlyOnce]]'s foreachBatch body, exposed for
    * the restart/retry path and its test): the batch lands under its
    * own `batch_id=N` partition directory with DYNAMIC partition
    * overwrite, so a REPLAYED batch (failure between sink write and
    * checkpoint commit — the at-least-once window every foreachBatch
    * sink has) overwrites its own directory instead of appending
    * duplicates. Idempotence from layout, no transaction log needed —
    * the standard exactly-once recipe for a plain-parquet sink.
    */
  def writeBatchIdempotent(
      df: DataFrame, batchId: Long, path: String): Unit =
    df.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(path)

  /** Streaming parquet sink with exactly-once delivery via
    * [[writeBatchIdempotent]] — `foreachBatch` supplies the batch id
    * Spark replays deterministically after a restart.
    */
  def sinkExactlyOnce(
      stream: DataFrame,
      path: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        writeBatchIdempotent(df, batchId, path)
      }
      .start()

  /** The GATE SPLIT one micro-batch of [[gatedIngest]] performs, and
    * the batch twin the st23 oracle checks (SAME expression — the
    * split rides [[graft.operators.Profiler.quarantineReason]], so the
    * batch and streaming paths cannot drift): every row tagged with
    * its first-failing constraint, NULL ⇔ clean. Stateless
    * zero-exchange projection.
    */
  def gateSplit(
      events: DataFrame,
      rowChecks: Seq[graft.operators.Profiler.RowCheck]): DataFrame =
    events.withColumn(
      "gate_reason", graft.operators.Profiler.quarantineReason(rowChecks))

  /** STREAMING INGEST GATE with DEAD-LETTERING (st23 — the q51
    * expectations suite at ingest time): each micro-batch splits on
    * [[gateSplit]]'s reason, clean rows land in `cleanPath` and
    * offenders (reason attached) in `dlqPath`, BOTH through
    * [[writeBatchIdempotent]]'s batch_id-partition overwrite. The
    * crash window between the two writes is covered by the same
    * idempotence that makes each sink exactly-once alone: a replayed
    * batch overwrites its OWN partition in both dirs, so the pair
    * converges to exactly-once together — no row is ever in both
    * sinks, none in neither (replay-tested in Wave12).
    */
  def gatedIngest(
      stream: DataFrame,
      rowChecks: Seq[graft.operators.Profiler.RowCheck],
      cleanPath: String,
      dlqPath: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        gatedIngestBatch(df, rowChecks, batchId, cleanPath, dlqPath)
      }
      .start()

  /** One micro-batch of [[gatedIngest]], exposed for the replay test:
    * tag once, write the two partitions idempotently.
    */
  def gatedIngestBatch(
      df: DataFrame,
      rowChecks: Seq[graft.operators.Profiler.RowCheck],
      batchId: Long,
      cleanPath: String,
      dlqPath: String): Unit = {
    val tagged = gateSplit(df, rowChecks)
    writeBatchIdempotent(
      tagged.filter(col("gate_reason").isNull).drop("gate_reason"),
      batchId, cleanPath)
    writeBatchIdempotent(
      tagged.filter(col("gate_reason").isNotNull),
      batchId, dlqPath)
  }

  /** Streaming per-key TOP-K through the engine's own bounded aggregate
    * (`graft_topk`, the `TypedImperativeAggregate` behind e9/e11): the
    * k-capped heap IS the streaming state — each micro-batch folds its
    * rows into the stored heap and the state per key stays k pairs
    * FOREVER, where a window/row_number formulation would need every
    * row retained. Complete output mode (the leaderboard shape: emit
    * the current top-k each trigger); heap fold and merge are
    * arrival-order-insensitive, so a fully-replayed stream equals the
    * batch twin exactly — this is ALSO the batch code path (the gate
    * query runs it on the full frame; the oracle re-ranks per type).
    * Output: `event_type, event_id, val_r` (value rounded 6 — ranking
    * key and emitted value are the same rounded number, the e5
    * discipline).
    */
  def topValuesStream(events: DataFrame, k: Int = 10): DataFrame =
    events
      .groupBy(col("event_type"))
      .agg(graft.functions.VectorFunctions
        .topK(round(col("value"), 6), col("event_id"), k).as("topk"))
      .select(col("event_type"), explode(col("topk")).as("t"))
      .select(
        col("event_type"),
        col("t.vec_id").as("event_id"),
        col("t.cos_sim").as("val_r"))

  /** Watermarked windowed APPROXIMATE distinct-user count per
    * (window, event_type) — the cardinality question a streaming
    * dashboard actually asks at 100 TB/day rates, where exact distinct
    * state is user-cardinality-sized per window and the HLL++ sketch
    * (`approx_count_distinct`, rsd 0.01) is CONSTANT per group. Runs
    * unchanged on a batch frame (the oracle/differential path: the
    * sketch is deterministic for a given input set, so a fully-flushed
    * stream equals the batch twin exactly — unit-tested); exact count
    * rides beside it in the batch form's test to pin the rsd contract.
    * Output: `win_start STRING, event_type, approx_users LONG`.
    */
  def windowedApproxDistinct(
      events: DataFrame,
      window: String = "5 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(
        org.apache.spark.sql.functions.window(col("ts"), window),
        col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.01).as("approx_users"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("win_start"),
        col("event_type"), col("approx_users"))

  /** Batch twin of [[windowedAgg]] for oracle checking: identical tumbling
    * `window()` aggregation minus the watermark (batch input is complete —
    * no late data to bound). Window starts align to the epoch in both
    * Spark and the SQL oracle, and are emitted as formatted strings for
    * cross-engine comparison.
    */
  def windowedAggBatch(events: DataFrame, window: String = "5 minutes"): DataFrame =
    slidingWindowAggBatch(events, window, slide = window)

  /** SLIDING-window batch twin (overlap = each event lands in
    * window/slide windows): the semantics that separate a streaming
    * window operator from a plain `date_trunc` group-by. Epoch-aligned
    * starts, so an SQL oracle can regenerate the window set per event.
    * `slide == window` degenerates to tumbling — [[windowedAggBatch]]
    * delegates here so the output contract (round-4 sums, formatted
    * epoch-aligned `win_start`) lives in exactly one place.
    */
  def slidingWindowAggBatch(
      events: DataFrame,
      window: String = "10 minutes",
      slide: String = "5 minutes"): DataFrame =
    events
      .groupBy(
        org.apache.spark.sql.functions.window(col("ts"), window, slide),
        col("event_type"))
      .agg(count("*").as("n_events"), round(sum(col("value")), 4).as("sum_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("win_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Streaming INGEST DEDUP registry: the exact-dedup aggregation
    * (digest → representative id + multiplicity, `TextOps
    * .exactDedupGroups`'s plan) over a STREAMING document frame. This is
    * the state a streaming training-data ingest pipeline maintains: one
    * state-store row per distinct content digest, updated as micro-
    * batches arrive, order-insensitive (min/count are commutative) — so
    * the converged registry equals the batch aggregation over the same
    * documents no matter how the stream was chunked or shuffled, which
    * is exactly what the d1 oracle certifies through st8. Keys are
    * 128-bit digests, never full texts: state size is content-count
    * bounded, not byte-count bounded.
    */
  def dedupDocsStream(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(col("text")).as("text_md5"))
      .agg(min(col("doc_id")).as("keep_id"), count("*").as("n_copies"))

  /** Watermark-expiring streaming dedup through Spark's NATIVE
    * `dropDuplicatesWithinWatermark` — the modern bounded-state dedup
    * primitive (state for a key is dropped once the watermark passes
    * it, so an endless stream cannot accumulate endless state; the
    * older `dropDuplicates` keeps keys forever). The input is projected
    * to the KEY COLUMNS ONLY before dedup, so the output is
    * survivor-independent: whichever duplicate arrives first, the
    * emitted (event_id, ts) set equals the distinct key set — which is
    * what lets a batch oracle hash-check a stream whose arrival order
    * is scrambled. Watermark generous enough that no late replayed key
    * is dropped on the bounded test stream.
    */
  def dedupWithinWatermark(events: DataFrame, delay: String = "24 hours"): DataFrame =
    events
      .select(col("event_id"), col("ts"))
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("event_id", "ts")

  /** Batch twin of [[dedupEvents]]: one survivor per (event_id, ts) key,
    * then a per-type summary. The streaming form keeps the FIRST arrival
    * per key (arrival order is meaningful on a stream); a batch input has
    * no arrival order, so the twin keeps the lexicographically smallest
    * (event_type, user_id) — a deterministic rule both engines express
    * identically (`min` over a struct orders lexicographically in Spark
    * and DuckDB), which keeps the oracle honest even when true duplicate
    * keys with differing payloads appear.
    */
  def dedupEventsBatch(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_id"), col("ts"))
      .agg(min(struct(col("event_type"), col("user_id"))).as("m"))
      .groupBy(col("m.event_type").as("event_type"))
      .agg(
        count("*").as("n_events"),
        count_distinct(col("m.user_id")).as("n_users"))

  /** Stream-static enrichment: the most common production streaming
    * shape — every event picks up dimension attributes (here: the
    * customer's nation and an account tier) from a static table. The
    * static side BROADCASTS (dimension tables are small by nature) and
    * the join is stateless: no watermark, no state store, each
    * micro-batch joins against the broadcast snapshot — so throughput
    * is the map-stage rate, identical at 100 TB/day. Unmatched events
    * pass through with NULL enrichment (left-outer: an enricher must
    * never drop events). Works unchanged on a batch frame, which is
    * how the oracle checks it (st7).
    */
  def enrichEvents(events: DataFrame, customers: DataFrame): DataFrame =
    events
      .join(
        broadcast(customers.select(
          col("c_custkey").as("user_id"),
          col("c_nationkey"),
          col("c_acctbal"))),
        Seq("user_id"),
        "left_outer")
      .select(
        col("event_id"),
        col("user_id"),
        col("event_type"),
        col("value"),
        col("c_nationkey"),
        when(col("c_acctbal").isNull, lit(null).cast("string"))
          .when(col("c_acctbal") >= 5000, lit("high"))
          .when(col("c_acctbal") >= 0, lit("mid"))
          .otherwise(lit("neg")).as("acct_tier"))

  // ---- stream-stream interval join (attribution) ----

  /** Click→purchase attribution as a STREAM-STREAM interval join: for
    * each purchase, every click by the same user in the preceding
    * `windowSec` seconds (`[p − W, p)`, half-open — the same contract as
    * the batch `TemporalJoins.bucketedRangeJoin` q16 runs). Both sides
    * carry watermarks and the join predicate bounds event-time distance,
    * which is exactly what lets Spark EXPIRE buffered state: a click
    * older than `watermark + windowSec` can never match a future
    * purchase and is dropped from the state store — the property that
    * makes the join runnable forever. Works unchanged on a batch frame
    * (watermarks are a no-op there), which is how the oracle checks it.
    */
  def attributionJoin(events: DataFrame, windowSec: Long = 3600L): DataFrame = {
    val purchases = events
      .filter(col("event_type") === "purchase")
      .select(
        col("event_id").as("p_id"),
        col("user_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "30 minutes")
    val clicks = events
      .filter(col("event_type") === "click")
      .select(
        col("event_id").as("c_id"),
        col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "30 minutes")
    purchases
      .join(
        clicks,
        col("user_id") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr(s"INTERVAL $windowSec SECONDS") &&
          col("c_ts") < col("p_ts"))
      .select(col("p_id"), col("user_id"), col("c_id"))
  }

  /** [[attributionJoin]]'s LEFT OUTER twin: every purchase emits, with
    * NULL `c_id` when no click by the same user preceded it inside the
    * window — the "unattributed conversion" row an attribution pipeline
    * must surface, not drop. In streaming mode the unmatched purchases
    * are emitted by WATERMARK EXPIRY: a purchase leaves the state store
    * (and emits its null row) only once the watermark proves no
    * qualifying click can still arrive — the join stays runnable
    * forever with the same bounded state as the inner form. Inner
    * matches emit immediately; only the null rows wait for the
    * watermark. Works unchanged on a batch frame (plain left-outer
    * interval join), which is how the oracle checks it; the streaming
    * path (out-of-order replay + sentinel watermark flush) runs in
    * StreamingSpec.
    */
  def attributionJoinOuter(
      events: DataFrame, windowSec: Long = 3600L): DataFrame = {
    val purchases = events
      .filter(col("event_type") === "purchase")
      .select(
        col("event_id").as("p_id"),
        col("user_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "30 minutes")
    val clicks = events
      .filter(col("event_type") === "click")
      .select(
        col("event_id").as("c_id"),
        col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "30 minutes")
    purchases
      .join(
        clicks,
        col("user_id") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr(s"INTERVAL $windowSec SECONDS") &&
          col("c_ts") < col("p_ts"),
        "left_outer")
      .select(col("p_id"), col("user_id"), col("c_id"))
  }

  /** FULL OUTER stream-stream interval join — completes the streaming
    * join family (st5 inner, st11 left): unattributed purchases AND
    * orphan clicks both surface with NULLs on the missing side, each
    * emitted by its own side's watermark expiry (state leaves the store
    * only when no qualifying partner can still arrive — bounded state
    * on both sides, runnable forever; matches emit immediately). Batch
    * twin IS the same code path. Output: `p_id, user_id, c_id` (either
    * id NULL for the unmatched side; user_id coalesced across sides).
    */
  def attributionJoinFull(
      events: DataFrame, windowSec: Long = 3600L): DataFrame = {
    val purchases = events
      .filter(col("event_type") === "purchase")
      .select(
        col("event_id").as("p_id"),
        col("user_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "30 minutes")
    val clicks = events
      .filter(col("event_type") === "click")
      .select(
        col("event_id").as("c_id"),
        col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "30 minutes")
    purchases
      .join(
        clicks,
        col("user_id") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr(s"INTERVAL $windowSec SECONDS") &&
          col("c_ts") < col("p_ts"),
        "full_outer")
      .select(
        col("p_id"),
        coalesce(col("user_id"), col("c_user")).as("user_id"),
        col("c_id"))
  }

  /** RIGHT OUTER stream-stream interval join — the fourth and last SQL
    * form of the family (st5 inner, st11 left, st16 full): every CLICK
    * survives, with NULL `p_id` when no purchase by the same user
    * followed it inside the window — the "click that never converted"
    * row a funnel analysis reads, without the full form's unmatched
    * purchases. In streaming mode the orphan clicks are emitted by the
    * click side's watermark expiry (a click leaves the state store and
    * emits its null row only once the watermark proves no qualifying
    * purchase can still arrive — bounded state, runnable forever;
    * matches emit immediately). Symmetric to [[attributionJoinOuter]]
    * with the surviving side swapped; batch twin IS the same code path,
    * which is how the st22 oracle checks it. Output: `p_id, user_id,
    * c_id` (`p_id` NULL for unconverted clicks; user_id from the
    * always-present click side).
    */
  def attributionJoinRight(
      events: DataFrame, windowSec: Long = 3600L): DataFrame = {
    val purchases = events
      .filter(col("event_type") === "purchase")
      .select(
        col("event_id").as("p_id"),
        col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "30 minutes")
    val clicks = events
      .filter(col("event_type") === "click")
      .select(
        col("event_id").as("c_id"),
        col("user_id"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "30 minutes")
    purchases
      .join(
        clicks,
        col("p_user") === col("user_id") &&
          col("c_ts") >= col("p_ts") - expr(s"INTERVAL $windowSec SECONDS") &&
          col("c_ts") < col("p_ts"),
        "right_outer")
      .select(col("p_id"), col("user_id"), col("c_id"))
  }

  final case class UserTotals(
      user_id: Long, n_events: Long, total_spend: Double)
  final case class LedgerState(n: Long, spend: Double)

  /** Per-user running LEDGER through Spark 4's `transformWithState` —
    * the NEW arbitrary-state API (successor to flatMapGroupsWithState:
    * typed per-key state primitives, TTL, timers, RocksDB-only
    * execution): a `ValueState[LedgerState]` accumulates each user's
    * event count and spend, every micro-batch emitting the user's
    * updated totals (Update mode — the live-dashboard ledger shape).
    * Count/sum folds are arrival-order-insensitive up to float
    * association, so a fully-replayed stream converges to the batch
    * GROUP BY (the per-user row with the highest n_events IS the
    * converged ledger — the count is monotone).
    */
  private class SpendLedgerProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Event, UserTotals] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TTLConfig}
    @transient private var st:
        org.apache.spark.sql.streaming.ValueState[LedgerState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[LedgerState](
        "totals", org.apache.spark.sql.Encoders.product[LedgerState],
        TTLConfig.NONE)
    override def handleInputRows(
        key: Long, rows: Iterator[Event],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[UserTotals] = {
      var acc = if (st.exists()) st.get() else LedgerState(0L, 0.0)
      rows.foreach(e => acc = LedgerState(acc.n + 1, acc.spend + e.value))
      st.update(acc)
      Iterator.single(UserTotals(key, acc.n, acc.spend))
    }
  }

  /** Stream entry for the ledger: `transformWithState` in Update mode,
    * TimeMode.None (pure accumulation — no event-time timers needed).
    * Requires the RocksDB state-store provider (the only backend the
    * new API runs on).
    */
  def spendLedger(events: org.apache.spark.sql.Dataset[Event]): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    implicit val enc: org.apache.spark.sql.Encoder[UserTotals] =
      org.apache.spark.sql.Encoders.product[UserTotals]
    events
      .groupByKey(_.user_id)(org.apache.spark.sql.Encoders.scalaLong)
      .transformWithState(
        new SpendLedgerProcessor, TimeMode.None(), OutputMode.Update())
      .toDF()
  }

  // ---- sessionization via explicit state (mapGroupsWithState) ----

  final case class Event(
      event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class SessionState(
      start: Long, lastTs: Long, nEvents: Long, sumValue: Double)

  final case class Session(
      user_id: Long, start_ts: java.sql.Timestamp,
      end_ts: java.sql.Timestamp, n_events: Long, sum_value: Double)

  /** Shared per-batch session advance: fold this batch's (sorted) events
    * into the current state, closing a session whenever a gap > gapMs is
    * observed WITHIN the data. Returns (closed sessions, open state).
    */
  private def advanceSessions(
      userId: Long,
      it: Iterator[Event],
      prior: Option[SessionState],
      gapMs: Long): (Seq[Session], Option[SessionState]) = {
    val sorted = it.toSeq.sortBy(_.ts.getTime)
    var cur = prior
    val closed = Seq.newBuilder[Session]
    sorted.foreach { e =>
      val t = e.ts.getTime
      cur match {
        case Some(s) if t - s.lastTs <= gapMs =>
          // late events may arrive out of order across batches:
          // never move the session window backwards
          cur = Some(s.copy(
            start = math.min(s.start, t),
            lastTs = math.max(s.lastTs, t),
            nEvents = s.nEvents + 1,
            sumValue = s.sumValue + e.value))
        case Some(s) =>
          closed += Session(
            userId, new java.sql.Timestamp(s.start),
            new java.sql.Timestamp(s.lastTs), s.nEvents, s.sumValue)
          cur = Some(SessionState(t, t, 1L, e.value))
        case None =>
          cur = Some(SessionState(t, t, 1L, e.value))
      }
    }
    (closed.result(), cur)
  }

  private def toSession(userId: Long, s: SessionState): Session =
    Session(
      userId, new java.sql.Timestamp(s.start),
      new java.sql.Timestamp(s.lastTs), s.nEvents, s.sumValue)

  // ---- streaming funnel (stateful staged minima) ----

  final case class FunnelState(
      minView: Long, clicks: List[Long], purchases: List[Long])

  final case class FunnelResult(user_id: Long, stage: Long)

  /** STREAMING ordered funnel with per-stage conversion windows (q29's
    * strictly-later view → click → purchase, each stage within
    * `windowMs` of the previous — the form real funnels run, because an
    * unboundedly-late conversion is not a conversion): per user a
    * flatMapGroupsWithState fold that is ARRIVAL-ORDER-SAFE — the first
    * stage's min(ts) is order-insensitive, and later stages can't be
    * folded incrementally (a late earlier view shifts every window), so
    * their candidate timestamps buffer in state and the staged minima
    * are resolved ONCE, at watermark-driven flush. Emits
    * `(user_id, stage)` with stage ∈ 0..3 = deepest stage reached.
    *
    * State per user is the view-minimum plus the click/purchase
    * timestamp lists still inside the watermark horizon — bounded by a
    * user's conversion-event count within the horizon (the same
    * boundedness class as [[sessionizeEventTime]]'s in-flight buffer);
    * a production deployment would additionally compact candidates
    * older than `minView + 2·windowMs`, which the flush-time resolution
    * makes safe. Out-of-order replay + sentinel flush is hash-checked
    * against the DuckDB oracle's staged-minima recomputation (st14).
    *
    * OUTPUT CONTRACT (Append-mode re-emission): state is REMOVED at
    * watermark flush, so a user whose events straddle a flush —
    * late-but-valid rows arriving after the timeout already fired —
    * starts a fresh state and yields a SECOND `(user_id, stage)` row at
    * the next flush. Append mode cannot retract the first row (that is
    * the mode's definition, not a defect), so a consumer keying on
    * `user_id` over a stream with multiple flush horizons must reduce
    * by `max(stage)` per user; within one horizon (the st14 replay
    * shape, where every event precedes the sentinel flush) the output
    * is one row per user and no reduction is needed. A tombstone kept
    * in state would suppress the re-emission but never expire —
    * unbounded state for a correctness property the downstream
    * `max(stage)` reduction provides for free.
    */
  def funnelEventTime(
      events: Dataset[Event],
      windowMs: Long = 2 * 3600 * 1000L,
      watermarkDelay: String = "10 minutes"): Dataset[FunnelResult] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelResult](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (userId, it, state: GroupState[FunnelState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(FunnelResult(userId, resolveFunnel(s, windowMs)))
          } else {
            val prior = state.getOption
              .getOrElse(FunnelState(Long.MaxValue, Nil, Nil))
            val next = it.foldLeft(prior) { (st, e) =>
              val t = e.ts.getTime
              e.event_type match {
                case "view" => st.copy(minView = math.min(st.minView, t))
                case "click" => st.copy(clicks = t :: st.clicks)
                case "purchase" => st.copy(purchases = t :: st.purchases)
                case _ => st
              }
            }
            state.update(next)
            // resolve when the watermark passes the horizon; stays
            // above the current watermark (Spark rejects expired
            // timestamps), so a quiet user flushes one batch later
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 1L)
            Iterator.empty
          }
      }
  }

  /** Flush-time staged-minima resolution: t1 = min view; t2 = min click
    * in (t1, t1+W]; t3 = min purchase in (t2, t2+W]. Pure function of
    * the buffered state — arrival order can no longer matter.
    */
  private def resolveFunnel(s: FunnelState, windowMs: Long): Long = {
    if (s.minView == Long.MaxValue) return 0L
    val t2 = s.clicks
      .filter(t => t > s.minView && t <= s.minView + windowMs)
      .sorted.headOption
    t2 match {
      case None => 1L
      case Some(c) =>
        val t3 = s.purchases.exists(t => t > c && t <= c + windowMs)
        if (t3) 3L else 2L
    }
  }

  // ---- stream-stream FORWARD as-of join (st27) ----

  final case class FwdAsofState(
      quotes: List[(Long, Long)], trades: List[(Long, Long)])

  /** STREAM-STREAM FORWARD AS-OF join with TOLERANCE (st27 — pandas
    * `merge_asof(direction='forward', tolerance=H)`, the streaming twin
    * of [[graft.operators.TemporalJoins.asofJoinForward]] / q53 with
    * the bounded-wait contract a stream needs): for every purchase,
    * the EARLIEST click by the same user in `[p_us, p_us + H]`
    * (inclusive both ends, ties to min event_id — the q53 dedup rule);
    * no click within the horizon ⇒ `-1` sentinels. The horizon is what
    * makes the question answerable on a stream at all — "the next
    * click, whenever it comes" can never resolve before end-of-stream —
    * and it bounds state by construction.
    *
    * The st24 buffer-then-resolve discipline, mirrored forward:
    *
    *  - clicks and purchases buffer per user; arrival order never
    *    matters (the fully-flushed result is a pure function of the
    *    event set — differential-locked against the batch twin);
    *  - a purchase RESOLVES TO ITS MATCH once the watermark reaches
    *    its best candidate (`best.c_us ≤ wm`): any later-arriving
    *    click must satisfy `c_us > wm ≥ best.c_us` — Spark's late-row
    *    filter drops `ts ≤ watermark` (a LessThanOrEqual predicate in
    *    WatermarkSupport), so even an equal-timestamp smaller-id click
    *    can no longer be admitted (pinned empirically in
    *    StreamAsofForwardSpec) — nothing can undercut the best;
    *  - a purchase RESOLVES AT THE HORIZON (`wm > p_us + H`): every
    *    candidate has arrived, match-or-`-1` is final;
    *  - clicks BELOW the watermark then EVICT: a held purchase with a
    *    sub-watermark candidate would already have resolved (its best
    *    would be ≤ wm), and every FUTURE purchase has `p_us ≥ wm`, so
    *    a sub-watermark click can never be looked back at — state per
    *    user is the in-horizon purchases plus the above-watermark
    *    clicks, bounded forever.
    */
  def asofEnrichStreamForward(
      events: Dataset[Event],
      horizonUs: Long,
      watermarkDelay: String = "10 minutes"): Dataset[AsofMatch] = {
    import events.sparkSession.implicits._
    require(horizonUs > 0, s"horizon must be positive: $horizonUs")
    def us(t: java.sql.Timestamp): Long =
      t.getTime * 1000L + (t.getNanos / 1000) % 1000L
    // earlier click wins; at equal c_us the SMALLER id wins (q53 rule)
    def better(a: (Long, Long), b: (Long, Long)): (Long, Long) =
      if (a._1 < b._1 || (a._1 == b._1 && a._2 < b._2)) a else b
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FwdAsofState, AsofMatch](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, it, state: GroupState[FwdAsofState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            val wmUs = state.getCurrentWatermarkMs() * 1000L
            val decided = s.trades.map { case (pUs, pId) =>
              val cands = s.quotes
                .filter(q => q._1 >= pUs && q._1 <= pUs + horizonUs)
              val bestOpt =
                if (cands.isEmpty) None else Some(cands.reduce(better))
              // `<=` is safe at the boundary: Spark's late-row filter
              // for stateful ops drops rows with ts <= watermark
              // (WatermarkSupport builds a LessThanOrEqual predicate),
              // so once best.c_us == wm no admissible future click can
              // tie it — equality cannot be undercut even by a
              // smaller event_id (pinned empirically in
              // StreamAsofForwardSpec's at-watermark test)
              val ripe = bestOpt.exists(_._1 <= wmUs) ||
                wmUs > pUs + horizonUs
              ((pUs, pId), bestOpt, ripe)
            }
            val results = decided.collect {
              case ((pUs, pId), Some((cUs, cId)), true) =>
                AsofMatch(uid, pUs, pId, cId, cUs)
              case ((pUs, pId), None, true) =>
                AsofMatch(uid, pUs, pId, -1L, -1L)
            }
            val keepT = decided.collect { case (t, _, false) => t }
            val keepQ = s.quotes.filter(_._1 >= wmUs)
            if (keepT.isEmpty && keepQ.isEmpty) state.remove()
            else {
              state.update(FwdAsofState(keepQ, keepT))
              state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 1L)
            }
            results.iterator
          } else {
            val prior = state.getOption.getOrElse(FwdAsofState(Nil, Nil))
            val next = it.foldLeft(prior) { (st, e) =>
              e.event_type match {
                case "click" =>
                  st.copy(quotes = (us(e.ts), e.event_id) :: st.quotes)
                case "purchase" =>
                  st.copy(trades = (us(e.ts), e.event_id) :: st.trades)
                case _ => st
              }
            }
            state.update(next)
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 1L)
            Iterator.empty
          }
      }
  }

  /** STREAM-STREAM NEAREST AS-OF join with TOLERANCE (st28 — pandas
    * `merge_asof(direction='nearest', tolerance=H)`, completing the
    * streaming direction family: st24 backward, st27 forward): for
    * every purchase, the click by the same user in `[p_us - H, p_us +
    * H]` with the SMALLEST distance — ties to the BACKWARD side
    * (smaller c_us, the batch [[graft.operators.TemporalJoins
    * .asofJoinNearest]] rule: `≤` prefers the preceding quote), then
    * min event_id; nothing in the window ⇒ `-1` sentinels.
    *
    * Resolution is horizon-uniform: a purchase resolves once
    * `wm > p_us + H` — by then every candidate on BOTH sides has
    * arrived (a late click would be below the watermark and dropped).
    * Clicks evict once they fall below `min(oldest held purchase, wm)
    * − H`: no held purchase reaches further back, and a future
    * purchase arrives at `p ≥ wm`, so its backward window starts at
    * `wm − H` or later. State per user = in-horizon purchases + the
    * eviction-front clicks, bounded forever.
    */
  def asofEnrichStreamNearest(
      events: Dataset[Event],
      horizonUs: Long,
      watermarkDelay: String = "10 minutes"): Dataset[AsofMatch] = {
    import events.sparkSession.implicits._
    require(horizonUs > 0, s"horizon must be positive: $horizonUs")
    def us(t: java.sql.Timestamp): Long =
      t.getTime * 1000L + (t.getNanos / 1000) % 1000L
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FwdAsofState, AsofMatch](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, it, state: GroupState[FwdAsofState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            val wmUs = state.getCurrentWatermarkMs() * 1000L
            val (ripe, held) = s.trades.partition(_._1 + horizonUs < wmUs)
            val results = ripe.map { case (pUs, pId) =>
              // smaller distance wins; tie → smaller c_us (backward,
              // the batch nearest rule); tie → min id
              def better(a: (Long, Long), b: (Long, Long)) = {
                val (da, db) = (math.abs(a._1 - pUs), math.abs(b._1 - pUs))
                if (da < db || (da == db && a._1 < b._1) ||
                  (da == db && a._1 == b._1 && a._2 < b._2)) a
                else b
              }
              val cands = s.quotes.filter(q =>
                q._1 >= pUs - horizonUs && q._1 <= pUs + horizonUs)
              if (cands.isEmpty) AsofMatch(uid, pUs, pId, -1L, -1L)
              else {
                val best = cands.reduce(better)
                AsofMatch(uid, pUs, pId, best._2, best._1)
              }
            }
            val front = math.min(
              held.map(_._1).foldLeft(wmUs)(math.min), wmUs) - horizonUs
            val keepQ = s.quotes.filter(_._1 >= front)
            if (held.isEmpty && keepQ.isEmpty) state.remove()
            else {
              state.update(FwdAsofState(keepQ, held))
              state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 1L)
            }
            results.iterator
          } else {
            val prior = state.getOption.getOrElse(FwdAsofState(Nil, Nil))
            val next = it.foldLeft(prior) { (st, e) =>
              e.event_type match {
                case "click" =>
                  st.copy(quotes = (us(e.ts), e.event_id) :: st.quotes)
                case "purchase" =>
                  st.copy(trades = (us(e.ts), e.event_id) :: st.trades)
                case _ => st
              }
            }
            state.update(next)
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 1L)
            Iterator.empty
          }
      }
  }

  // ---- stream-stream AS-OF join (st24) ----

  final case class AsofState(
      lastCus: Long, lastCid: Long,
      quotes: List[(Long, Long)], trades: List[(Long, Long)])

  final case class AsofMatch(
      user_id: Long, p_us: Long, p_id: Long, c_id: Long, c_us: Long)

  /** STREAM-STREAM AS-OF join — the single most common streaming
    * enrichment after stream-static: for every purchase, the LATEST
    * click by the same user at or before it (inclusive), exactly the
    * batch [[graft.operators.TemporalJoins.asofJoin]] / q15 contract
    * (quote ties at one instant resolve to the min event_id — the q15
    * dedup rule applied at resolution). Unmatched purchases emit with
    * `-1` sentinels, the q15 shape.
    *
    * Watermarked interval joins cannot express "latest" (an aggregate
    * over the match set is not append-expressible after a stream-stream
    * join), so this is a per-user `flatMapGroupsWithState` fold with
    * the st14 discipline — buffer, resolve at watermark flush, so
    * arrival order cannot matter:
    *
    *  - incoming clicks and purchases buffer in per-user state;
    *  - when the watermark passes a purchase's timestamp no earlier
    *    click can still arrive (it would be late beyond the watermark),
    *    so the purchase RESOLVES: max `c_us ≤ p_us`, ties to min id;
    *  - quotes at or before the watermark then COMPACT to the single
    *    latest one (min id at ties): every future purchase has
    *    `p_us > wm ≥` any dropped quote, and the kept quote dominates
    *    all dropped ones — so state per user is ONE compacted quote
    *    plus the in-horizon buffer, bounded forever (the eviction the
    *    st24 spec exercises: a purchase hours later still finds the
    *    compacted quote, never the discarded ones).
    *
    * State works in epoch MICROS (recovered from the Timestamp's
    * millis + sub-milli nanos), matching the batch twin's
    * `unix_micros` carriers exactly.
    */
  def asofEnrichStream(
      events: Dataset[Event],
      watermarkDelay: String = "10 minutes"): Dataset[AsofMatch] = {
    import events.sparkSession.implicits._
    def us(t: java.sql.Timestamp): Long =
      t.getTime * 1000L + (t.getNanos / 1000) % 1000L
    // earlier quote first ⇒ later quote wins; at equal c_us the SMALLER
    // id wins (q15's min-event_id dedup)
    def better(a: (Long, Long), b: (Long, Long)): (Long, Long) =
      if (a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)) a else b
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AsofState, AsofMatch](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, it, state: GroupState[AsofState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            val wmUs = state.getCurrentWatermarkMs() * 1000L
            val (ripe, waiting) = s.trades.partition(_._1 <= wmUs)
            val lastOpt =
              if (s.lastCus >= 0) List((s.lastCus, s.lastCid)) else Nil
            val results = ripe.map { case (pUs, pId) =>
              val cands = lastOpt ++ s.quotes.filter(_._1 <= pUs)
              if (cands.isEmpty) AsofMatch(uid, pUs, pId, -1L, -1L)
              else {
                val best = cands.reduce(better)
                AsofMatch(uid, pUs, pId, best._2, best._1)
              }
            }
            // compact: quotes at or before the watermark fold into ONE
            val (oldQ, newQ) = s.quotes.partition(_._1 <= wmUs)
            val (nCus, nCid) = (lastOpt ++ oldQ) match {
              case Nil => (-1L, -1L)
              case cs  => cs.reduce(better)
            }
            if (newQ.isEmpty && waiting.isEmpty && nCus < 0) state.remove()
            else {
              state.update(AsofState(nCus, nCid, newQ, waiting))
              state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 1L)
            }
            results.iterator
          } else {
            val prior = state.getOption
              .getOrElse(AsofState(-1L, -1L, Nil, Nil))
            val next = it.foldLeft(prior) { (st, e) =>
              e.event_type match {
                case "click" =>
                  st.copy(quotes = (us(e.ts), e.event_id) :: st.quotes)
                case "purchase" =>
                  st.copy(trades = (us(e.ts), e.event_id) :: st.trades)
                case _ => st
              }
            }
            state.update(next)
            // flush when the watermark advances; must stay above the
            // current watermark (Spark rejects expired timestamps)
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 1L)
            Iterator.empty
          }
      }
  }

  /** Gap-based sessionization: a user's session closes after `gapMs` of
    * inactivity (processing-time timeout so sessions also close when the
    * stream goes quiet). State per user is O(1) — four numbers — so the
    * operator holds at any user cardinality that fits the state store.
    * For history replay where wall-clock is meaningless, use
    * [[sessionizeEventTime]] (watermark-driven closure).
    */
  def sessionize(
      events: Dataset[Event],
      gapMs: Long = 30 * 60 * 1000L,
      // ProcessingTimeTimeout closes idle sessions on live streams; pass
      // NoTimeout for bounded inputs (timeout-armed state keeps the query
      // scheduling wake-up batches, so processAllAvailable never settles)
      timeout: GroupStateTimeout = GroupStateTimeout.ProcessingTimeTimeout)
      : Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, timeout) {
        case (userId, it, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(toSession(userId, s))
          } else {
            val (closed, cur) =
              advanceSessions(userId, it, state.getOption, gapMs)
            cur.foreach(state.update)
            if (timeout == GroupStateTimeout.ProcessingTimeTimeout)
              state.setTimeoutDuration(gapMs)
            closed.iterator
          }
      }
  }

  /** EVENT-TIME sessionization: sessions close when the WATERMARK (not
    * wall-clock) passes `lastTs + gapMs` — the semantics a production
    * pipeline replaying history needs, where processing time is
    * meaningless and out-of-order arrival is the norm. Late events within
    * the watermark horizon extend or backfill their session; events older
    * than the watermark are dropped by the watermark itself before
    * reaching the state function (standard late-data policy).
    *
    * Differences from [[sessionize]] (processing-time form):
    *   - deterministic given the event stream + watermark sequence: no
    *     dependence on when batches happen to execute
    *   - a quiet stream does NOT close sessions (the watermark only
    *     advances with new data); on a live feed that's what a heartbeat
    *     source is for
    * State per user is the same O(1) four numbers.
    */
  def sessionizeEventTime(
      events: Dataset[Event],
      gapMs: Long = 30 * 60 * 1000L,
      watermarkDelay: String = "10 minutes"): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (userId, it, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(toSession(userId, s))
          } else {
            val (closed, cur) =
              advanceSessions(userId, it, state.getOption, gapMs)
            cur.foreach { s =>
              state.update(s)
              // close when the watermark passes the gap horizon; the
              // timeout timestamp must stay ABOVE the current watermark
              // (Spark rejects an already-expired timestamp), so a
              // session whose horizon has passed closes one batch later
              state.setTimeoutTimestamp(
                math.max(
                  s.lastTs + gapMs, state.getCurrentWatermarkMs() + 1L))
            }
            closed.iterator
          }
      }
  }

  /** Batch twin of [[sessionize]] for oracle checking: gap-based sessions
    * via a window lag — same semantics, expressible in DuckDB.
    */
  def sessionizeBatch(events: DataFrame, gapMs: Long = 30 * 60 * 1000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn(
        "new_session",
        when(
          col("prev_ts").isNull ||
            (unix_millis(col("ts")) - unix_millis(col("prev_ts"))) > gapMs,
          1L).otherwise(0L))
      .withColumn(
        "session_no",
        sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_no"))
      .agg(
        count("*").as("n_events"),
        round(sum(col("value")), 4).as("sum_value"))
  }

  /** Gap sessionization through Spark's NATIVE `session_window`
    * aggregation — the built-in the hand-rolled lag/cumsum form
    * ([[sessionizeBatch]]) and the stateful form ([[sessionizeEventTime]])
    * should be compared against (same code runs streaming with a
    * watermark, where the native operator also gets state-store session
    * merging for free). Boundary semantics verified by unit test:
    * Spark merges TOUCHING `[ts, ts+gap)` windows, so an event exactly
    * `gap` after its predecessor stays in the SAME session — the
    * identical diff > gap rule as the lag form, hence the identical
    * oracle. Sessions are numbered per user by window start for a
    * deterministic, window-free output schema. Plan: one session-window
    * hash aggregate (map-side combined) + a per-user rank over
    * session-count-sized rows.
    */
  def sessionizeNative(
      events: DataFrame, gap: String = "30 minutes"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("sw.start"))
    events
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("sw"))
      .agg(
        count("*").as("n_events"),
        round(sum(col("value")), 4).as("sum_value"))
      .withColumn("session_no", row_number().over(w).cast("long"))
      .select(
        col("user_id"), col("session_no"),
        col("n_events"), col("sum_value"))
  }

  /** [[sessionizeNative]]'s STREAMING form — the same native
    * `session_window` aggregate made watermark-driven, so the state
    * store merges open sessions across micro-batches (including
    * merging two open fragments when a late event bridges them — the
    * semantics only the streaming path exercises). Append mode: a
    * session emits once the watermark passes its end + gap. Returns
    * the un-numbered `(user_id, start_ts, n_events, sum_value)` frame
    * (a rank over a streaming aggregate is not append-expressible;
    * callers number sessions after the flush, as the st20 gate row
    * does). State per key is one open session struct — bounded
    * regardless of stream length.
    */
  def sessionizeNativeStream(
      events: DataFrame,
      gap: String = "30 minutes",
      delay: String = "0 seconds"): DataFrame =
    events
      .withWatermark("ts", delay)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("sw"))
      .agg(
        count("*").as("n_events"),
        round(sum(col("value")), 4).as("sum_value"))
      .select(
        col("user_id"), col("sw.start").as("start_ts"),
        col("n_events"), col("sum_value"))

  /** LATE-EVENT WATERMARK AUDIT — the what-if table a team reads
    * before choosing a watermark delay: replay the corpus through
    * Structured Streaming's watermark rule under a caller-supplied
    * ARRIVAL time (`arrivalUs` — event time itself for an in-order
    * log; event time plus a bounded deterministic jitter to simulate
    * out-of-order delivery, the registered query's md5 draw) and flag
    * every event the chosen delay would drop. Micro-batches are
    * `batchWindowUs`-wide arrival windows — a stateless projection,
    * never a global arrival sort. Semantics mirror micro-batch
    * watermarking exactly: the watermark seen by batch k is `max(event
    * time over earlier batches) − delay` (watermarks advance BETWEEN
    * micro-batches, never within one), an event is late iff its EVENT
    * time is strictly below its batch's watermark, and the first batch
    * has no watermark (nothing is late).
    *
    * 100 TB shape: one map-side-combined per-batch max, a running max
    * over the BATCH-COUNT-sized frame (thousands of rows, not the
    * corpus), broadcast back onto the events — the corpus itself never
    * sorts globally. Output: `event_id, batch, wm_us (−1 for the first
    * batch), late 0/1`.
    */
  def lateEventAudit(
      events: DataFrame,
      delayMs: Long,
      arrivalUs: org.apache.spark.sql.Column,
      batchWindowUs: Long = 3600000000L): DataFrame = {
    require(delayMs >= 0 && batchWindowUs >= 1,
      "delayMs >= 0, batchWindowUs >= 1")
    import org.apache.spark.sql.expressions.Window
    val ev = events.select(
      col("event_id"),
      unix_micros(col("ts")).as("ts_us"),
      floor(arrivalUs / batchWindowUs).cast("long").as("batch"))
    val wmW = Window.orderBy(col("batch"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wm = ev.groupBy(col("batch"))
      .agg(max(col("ts_us")).as("bmax"))
      .withColumn("wm_us", max(col("bmax")).over(wmW) - delayMs * 1000L)
      .select(col("batch"), col("wm_us"))
    ev.join(broadcast(wm), Seq("batch"))
      .select(
        col("event_id"), col("batch"),
        coalesce(col("wm_us"), lit(-1L)).as("wm_us"),
        when(col("wm_us").isNotNull && col("ts_us") < col("wm_us"), 1)
          .otherwise(0).as("late"))
  }
}
