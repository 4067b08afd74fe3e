package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal join operators the reference lacks entirely (its only join is
  * the PageRank reduce-side equi-join, PageRankReducer.java:45-92) but a
  * training-data pipeline needs constantly: as-of joins ("the latest
  * signal at or before this timestamp") and bounded-range joins ("all
  * events within a window around this timestamp").
  *
  * Both are expressed as compositions of existing Catalyst operators —
  * the preferred extension path (brief: compose > custom Expression >
  * custom SparkPlan) — with plans that survive 100× scale-up:
  *
  *   - [[asofJoin]] avoids the naive per-probe range scan (a theta join:
  *     O(|L|·|R|) pairs before the "latest" filter) by UNIONING both
  *     sides and running one `last(ignoreNulls)` window over
  *     (key, time): a single hash exchange on the key plus a
  *     per-partition sort — the same cost class as any windowed
  *     aggregation, independent of match fan-out.
  *   - [[bucketedRangeJoin]] turns an inequality join predicate into an
  *     equi-join on (key, time-bucket): each probe interval of width ≤ W
  *     overlaps at most 2 width-W buckets, so the join is a plain
  *     shuffled hash join with 2× probe duplication, then an exact
  *     residual filter. No broadcast-nested-loop, no cartesian corner.
  */
object TemporalJoins {

  /** For every left row, attach the payload of the right row with the
    * greatest `rightTs <= leftTs` for the same `key` (inclusive as-of;
    * ties on the timestamp must be pre-deduplicated by the caller if
    * determinism is required). Null payload when no right row precedes.
    *
    * All payload columns ride the window in ONE struct, so every payload
    * value comes from the SAME (latest) right row — including its NULLs.
    * Per-column backfill would tear rows: a NULL in one payload column of
    * the latest quote would be filled from an OLDER quote while the other
    * columns came from the newer one, diverging from ASOF semantics.
    *
    * @param left      probe side; must carry `key` and `leftTs`
    * @param right     quote side; must carry `key`, `rightTs`, payload
    * @param payload   right-side columns to carry onto matches; must not
    *                  collide with any left-side column name
    */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTs: String,
      rightTs: String,
      payload: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    require(
      payload.nonEmpty && !payload.contains(key),
      "payload must be non-empty right-side value columns")
    val clash = payload.intersect(leftCols)
    require(
      clash.isEmpty,
      s"payload columns [${clash.mkString(", ")}] collide with left-side " +
        "columns — rename one side before joining")
    // same internal-name defense as [[asofJoinNearest]]
    val reservedA = (leftCols ++ right.columns).toSet
      .intersect(Set("_p", "_t", "_tag"))
    require(
      reservedA.isEmpty,
      s"columns [${reservedA.toSeq.sorted.mkString(", ")}] collide with " +
        "asofJoin's internal working names (_p, _t, _tag) — rename them " +
        "before joining")

    // tag 0 sorts before tag 1 at equal timestamps, so a quote exactly at
    // the probe instant is visible to it (inclusive semantics).
    val extra = leftCols.filterNot(c => c == key || c == leftTs)
    val pType = org.apache.spark.sql.types.StructType(
      payload.map(c => right.schema(c)))
    val qFull = right.select(
      (col(key) +: lit(0).as("_tag") +: col(rightTs).as("_t") +:
        struct(payload.map(col): _*).as("_p") +:
        extra.map(c => lit(null).cast(left.schema(c).dataType).as(c))): _*)
    val pFull = left.select(
      (col(key) +: lit(1).as("_tag") +: col(leftTs).as("_t") +:
        lit(null).cast(pType).as("_p") +:
        extra.map(col)): _*)
    // union by name: probe rows carry their own columns, quote rows nulls
    val unioned = qFull.unionByName(pFull)

    val w = Window
      .partitionBy(col(key))
      .orderBy(col("_t").asc, col("_tag").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    unioned
      // probe rows carry a NULL struct (never a struct of nulls), so
      // last(ignoreNulls) lands on the latest QUOTE row as a unit
      .withColumn("_p", last(col("_p"), ignoreNulls = true).over(w))
      .filter(col("_tag") === 1)
      .select(
        (col(key) +: col("_t").as(leftTs) +: extra.map(col) ++:
          payload.map(c => col("_p").getField(c).as(c))): _*)
  }

  /** FORWARD as-of: for every left row, the payload of the EARLIEST
    * right row with `rightTs >= leftTs` for the same key (pandas
    * `merge_asof(direction='forward')`) — the "next scheduled event
    * after this instant" lookup ([[asofJoin]] is the backward form,
    * [[asofJoinNearest]] the tie-broken union of both). Inclusive: a
    * quote exactly at the probe instant matches. Same cost class as
    * its siblings: ONE hash exchange on the key, one per-partition
    * sort, the candidate found by a `first(ignoreNulls)` window over
    * the FOLLOWING frame — no self-join, cost independent of match
    * fan-out. Right rows tied on (key, rightTs) must be
    * pre-deduplicated by the caller. Null payload when no right row
    * follows.
    */
  def asofJoinForward(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTs: String,
      rightTs: String,
      payload: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    require(
      payload.nonEmpty && !payload.contains(key),
      "payload must be non-empty right-side value columns")
    val clash = payload.intersect(leftCols)
    require(
      clash.isEmpty,
      s"payload columns [${clash.mkString(", ")}] collide with left-side " +
        "columns — rename one side before joining")
    val reservedF = (leftCols ++ right.columns).toSet
      .intersect(Set("_p", "_t", "_tag"))
    require(
      reservedF.isEmpty,
      s"columns [${reservedF.toSeq.sorted.mkString(", ")}] collide with " +
        "asofJoinForward's internal working names (_p, _t, _tag) — " +
        "rename them before joining")

    val extra = leftCols.filterNot(c => c == key || c == leftTs)
    val pType = org.apache.spark.sql.types.StructType(
      payload.map(c => right.schema(c)))
    val qFull = right.select(
      (col(key) +: lit(1).as("_tag") +: col(rightTs).as("_t") +:
        struct(payload.map(col): _*).as("_p") +:
        extra.map(c => lit(null).cast(left.schema(c).dataType).as(c))): _*)
    val pFull = left.select(
      (col(key) +: lit(0).as("_tag") +: col(leftTs).as("_t") +:
        lit(null).cast(pType).as("_p") +:
        extra.map(col)): _*)
    val unioned = qFull.unionByName(pFull)

    // probe tag 0 sorts BEFORE quote tag 1 at equal instants, so an
    // exact-instant quote sits in the probe's following frame
    // (inclusive forward semantics — the mirror of asofJoin's ordering)
    val w = Window
      .partitionBy(col(key))
      .orderBy(col("_t").asc, col("_tag").asc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    unioned
      .withColumn("_p", first(col("_p"), ignoreNulls = true).over(w))
      .filter(col("_tag") === 0)
      .select(
        (col(key) +: col("_t").as(leftTs) +: extra.map(col) ++:
          payload.map(c => col("_p").getField(c).as(c))): _*)
  }

  /** NEAREST as-of: for every left row, the payload of the right row
    * minimizing `|rightTs − leftTs|` within the key (pandas
    * `merge_asof(direction='nearest')`); equidistant candidates take
    * the BACKWARD row — the deterministic completion of [[asofJoin]]'s
    * inclusive-backward semantics. Same cost class as [[asofJoin]]:
    * ONE hash exchange on the key and one per-partition sort; the
    * backward (running last-before) and forward (running first-after)
    * candidates are two frames over the SAME window ordering, so Spark
    * evaluates both in the single sorted pass — no second shuffle, no
    * self-join. Timestamps must be numeric (the registered query uses
    * epoch micros). Right rows tied on (key, rightTs) must be
    * pre-deduplicated by the caller, as in [[asofJoin]]. Null payload
    * only when the key has no right rows at all.
    */
  def asofJoinNearest(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTs: String,
      rightTs: String,
      payload: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    require(
      payload.nonEmpty && !payload.contains(key),
      "payload must be non-empty right-side value columns")
    val clash = payload.intersect(leftCols)
    require(
      clash.isEmpty,
      s"payload columns [${clash.mkString(", ")}] collide with left-side " +
        "columns — rename one side before joining")
    // internal working names: _qt rides inside the payload struct, and
    // _p/_t/_tag are the union frame's columns — a user column with one
    // of these names would silently corrupt the join, so reject loudly
    require(
      !payload.contains("_qt"),
      "payload column _qt collides with the internal quote-ts struct " +
        "field — rename it before joining")
    val reserved = (leftCols ++ right.columns).toSet
      .intersect(Set("_p", "_t", "_tag"))
    require(
      reserved.isEmpty,
      s"columns [${reserved.toSeq.sorted.mkString(", ")}] collide with " +
        "asofJoinNearest's internal working names (_p, _t, _tag) — " +
        "rename them before joining")

    val extra = leftCols.filterNot(c => c == key || c == leftTs)
    // quote timestamp rides INSIDE the struct so the distance compare
    // and the payload always come from the same candidate row
    val pType = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types
        .StructField("_qt", right.schema(rightTs).dataType) +:
        payload.map(c => right.schema(c)))
    val qFull = right.select(
      (col(key) +: lit(0).as("_tag") +: col(rightTs).as("_t") +:
        struct((col(rightTs).as("_qt") +: payload.map(col)): _*).as("_p") +:
        extra.map(c => lit(null).cast(left.schema(c).dataType).as(c))): _*)
    val pFull = left.select(
      (col(key) +: lit(1).as("_tag") +: col(leftTs).as("_t") +:
        lit(null).cast(pType).as("_p") +:
        extra.map(col)): _*)
    val unioned = qFull.unionByName(pFull)

    // quote tag 0 sorts before probe tag 1 at equal instants: an
    // exact-instant quote is a BACKWARD candidate at distance 0 (and
    // wins every tie), never double-counted by the forward frame
    val ord = Window
      .partitionBy(col(key))
      .orderBy(col("_t").asc, col("_tag").asc)
    val wb = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    unioned
      .withColumn("_pb", last(col("_p"), ignoreNulls = true).over(wb))
      .withColumn("_pf", first(col("_p"), ignoreNulls = true).over(wf))
      .filter(col("_tag") === 1)
      .withColumn(
        "_p",
        when(col("_pb").isNull, col("_pf"))
          .when(col("_pf").isNull, col("_pb"))
          .when(
            col("_t") - col("_pb._qt") <= col("_pf._qt") - col("_t"),
            col("_pb"))
          .otherwise(col("_pf")))
      .select(
        (col(key) +: col("_t").as(leftTs) +: extra.map(col) ++:
          payload.map(c => col("_p").getField(c).as(c))): _*)
  }

  /** Inner equi-join of `right` point rows onto `left` interval rows
    * (`[loCol, hiCol)`, half-open) sharing `key`, via time-bucketing.
    * Caller guarantees every interval's width is ≤ `bucketWidth` (checked
    * per row with a fail-fast expression), so each interval overlaps at
    * most two buckets: the probe side is exploded to 2 bucket keys and
    * joined on (key, bucket) — a plain shuffled equi-join — then the
    * exact `[lo, hi)` residual predicate filters false candidates.
    */
  def bucketedRangeJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      loCol: String,
      hiCol: String,
      rightTs: String,
      bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    // the width guard lives INSIDE the bucket expression (not a separate
    // dropped column, which column pruning would silently remove): a row
    // violating the ≤ bucketWidth contract fails the query instead of
    // silently losing matches beyond the second bucket
    val hiBucket = when(
      col(hiCol) - col(loCol) <= bucketWidth,
      floor((col(hiCol) - 1) / bucketWidth))
      .otherwise(raise_error(concat(
        lit("bucketedRangeJoin: interval wider than bucketWidth at "),
        col(loCol).cast("string"))).cast("long"))
    val probes = left.withColumn(
      "_bucket",
      explode(array_distinct(array(floor(col(loCol) / bucketWidth), hiBucket))))
    val points = right.withColumn("_bucket", floor(col(rightTs) / bucketWidth))
    probes
      .join(points, Seq(key, "_bucket"))
      .filter(col(rightTs) >= col(loCol) && col(rightTs) < col(hiCol))
      .drop("_bucket")
  }

  /** INTERVAL-OVERLAP equi-bucketed join — [[bucketedRangeJoin]]'s
    * two-interval-set generalization (the ad-exposure × session /
    * downtime × incident shape): every pair of same-key intervals with
    * `[lLo, lHi) ∩ [rLo, rHi) ≠ ∅` (half-open — touching intervals do
    * NOT overlap). Both sides' intervals must be NON-EMPTY (`lo < hi` —
    * an empty `[x, x)` overlaps nothing, but the pairwise residual
    * alone would match it against any enclosing interval) and of width
    * ≤ `bucketWidth`; both contracts fail fast inside the bucket
    * expression (the [[bucketedRangeJoin]] guard style), so each
    * interval spans ≤ 2 buckets; both sides explode to
    * their bucket keys and the join is a plain shuffled equi-join on
    * (key, bucket) with the exact overlap residual. A pair whose
    * intervals share BOTH buckets would match twice, so the match is
    * ATTRIBUTED to one canonical bucket — the one containing the
    * overlap's start, `floor(max(lLo, rLo)/W)` — a pure predicate
    * instead of a dedup exchange. No theta join, no
    * broadcast-nested-loop, no cartesian corner; 2×2 probe duplication
    * at worst.
    */
  def bucketedIntervalJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      lLo: String,
      lHi: String,
      rLo: String,
      rHi: String,
      bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    def buckets(lo: String, hi: String, side: String) = {
      // both contract guards live INSIDE the bucket expression (never a
      // separate dropped column — column pruning would remove it): a
      // too-wide interval would silently lose matches beyond the second
      // bucket, and an EMPTY interval `[x, x)` would silently GAIN
      // matches (lLo < rHi && rLo < lHi passes against any enclosing
      // interval even though ∅ overlaps nothing) — both fail the query
      // loudly instead (ADVICE r13 for the empty case)
      val hiBucket = when(
        col(lo) >= col(hi),
        raise_error(concat(
          lit(s"bucketedIntervalJoin: $side interval empty (lo >= hi) at "),
          col(lo).cast("string"))).cast("long"))
        .when(
          col(hi) - col(lo) <= bucketWidth,
          floor((col(hi) - 1) / bucketWidth))
        .otherwise(raise_error(concat(
          lit(s"bucketedIntervalJoin: $side interval wider than "),
          lit("bucketWidth at "),
          col(lo).cast("string"))).cast("long"))
      explode(array_distinct(
        array(floor(col(lo) / bucketWidth), hiBucket)))
    }
    val l = left.withColumn("_bucket", buckets(lLo, lHi, "left"))
    val r = right.withColumn("_bucket", buckets(rLo, rHi, "right"))
    l.join(r, Seq(key, "_bucket"))
      .filter(col(lLo) < col(rHi) && col(rLo) < col(lHi))
      // canonical attribution: count the pair only in the bucket where
      // the overlap STARTS — the both-buckets-shared double match drops
      // without a distinct
      .filter(
        col("_bucket") === floor(greatest(col(lLo), col(rLo)) / bucketWidth))
      .drop("_bucket")
  }

  /** POINT-IN-TIME state join (the feature-store correctness primitive):
    * every event becomes an SCD2 validity interval `[ts, next_ts)` per
    * user (q24's lead-window build), and each probe row joins the
    * interval STRICTLY BEFORE its own timestamp —
    * `valid_from < t AND (open OR valid_to ≥ t)` selects exactly the
    * predecessor (same-ts ties produce zero-width intervals that
    * self-exclude), never the probe's own row: no feature leakage into
    * training labels. Probes with no prior state survive with
    * sentinels. One user-keyed equi join carrying a residual range
    * predicate; the interval build is one window per user partition.
    * Output: `probe_id, user_id, pts, state_event_id, state_type,
    * state_value`.
    */
  def pointInTimeState(events: DataFrame, probeType: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("valid_from"), col("event_id"))
    val scd = events.select(
        col("user_id"), col("event_id"), col("event_type"),
        col("value"), unix_micros(col("ts")).as("valid_from"))
      .withColumn(
        "valid_to", coalesce(lead(col("valid_from"), 1).over(w), lit(-1L)))
      .select(
        col("user_id"), col("event_id").as("state_event_id"),
        col("event_type").as("state_type"),
        col("value").as("state_value"),
        col("valid_from"), col("valid_to"))
    val probes = events.filter(col("event_type") === probeType)
      .select(
        col("event_id").as("probe_id"), col("user_id"),
        unix_micros(col("ts")).as("pts"))
    probes.join(
        scd,
        probes("user_id") === scd("user_id") &&
          col("valid_from") < col("pts") &&
          (col("valid_to") === -1L || col("valid_to") >= col("pts")),
        "left_outer")
      .select(
        col("probe_id"), probes("user_id").as("user_id"), col("pts"),
        coalesce(col("state_event_id"), lit(-1L)).as("state_event_id"),
        coalesce(col("state_type"), lit("none")).as("state_type"),
        round(coalesce(col("state_value"), lit(0.0)), 2).as("state_value"))
  }

  /** Time-series GAP FILL onto an explicit hourly grid: one row per
    * (user, hour) across the table's global hour span, carrying the
    * last event value at or before that hour (latest ts wins within an
    * hour, event_id breaks exact-ts ties), forward-filled with an
    * ignore-nulls running `last()`; hours before a user's first event
    * stay NULL. The resample/interpolate step between an irregular
    * event stream and the regular observations a model consumes.
    *
    * Scale shape: the grid is GENERATED (|users| × |hours| rows from a
    * 1-row broadcast bounds frame), never scanned; the per-hour
    * survivor is one map-side-combined max_by aggregate; the fill is
    * ONE window per user. Output: `user_id, hour_str, filled_value`.
    */
  def gapFillHourly(events: DataFrame): DataFrame = {
    val b = events.agg(
      date_trunc("hour", min(col("ts"))).as("mn"),
      date_trunc("hour", max(col("ts"))).as("mx"))
    val grid = events.select(col("user_id")).distinct()
      .crossJoin(broadcast(b))
      .select(
        col("user_id"),
        explode(sequence(col("mn"), col("mx"), expr("INTERVAL 1 HOUR")))
          .as("h"))
    val lastPerHour = events
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("h"))
      .agg(max_by(
        col("value"),
        struct(unix_micros(col("ts")), col("event_id"))).as("v0"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("h"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(lastPerHour, Seq("user_id", "h"), "left_outer")
      .withColumn("fv", last(col("v0"), ignoreNulls = true).over(w))
      .select(
        col("user_id"),
        date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hour_str"),
        round(col("fv"), 2).as("filled_value"))
  }
}
