package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream analytics over the `events` table (SURVEY §2.8 idiomatic
  * extension). Batch forms here are windowed/sessionized aggregations whose
  * streaming twins live in EventStream (same logic over readStream).
  *
  * `ts` arrives as BIGINT nanoseconds (parquet timestamp[ns] via
  * nanosAsLong); conversions use integer `div` so no precision is lost at
  * double range.
  */
object Sessions {

  /** ns → timestamp (µs precision). Exact: the ns value exceeds double's
    * 53-bit mantissa, so division goes through decimal + floor, not double.
    */
  def nsToTimestamp(ns: Column): Column =
    timestamp_micros(floor(ns.cast("decimal(25,0)") / 1000).cast("long"))

  /** Tumbling-window aggregation: events per (hour, event_type). */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .groupBy(
        date_trunc("hour", nsToTimestamp(col("ts"))).as("hour"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))

  /** ns → µs as exact integer arithmetic (see nsToTimestamp). */
  def nsToUs(ns: Column): Column =
    floor(ns.cast("decimal(25,0)") / 1000).cast("long")

  /** TIMESTAMP/TIMESTAMP_NTZ → epoch µs. The session timezone is pinned
    * to UTC in every GraftSession, so the NTZ→LTZ cast is numerically the
    * identity and this matches DuckDB's epoch_us over the same parquet.
    */
  def tsToUs(ts: Column): Column = unix_micros(ts.cast("timestamp"))

  /** Sessionization: per-user sessions split on inactivity gaps larger than
    * `gapMinutes`, over a µs-precision event time. One shuffle (by user) +
    * two window passes; at scale the window partitions by user, so skew only
    * matters for pathological single-user firehoses (then: pre-split by day).
    */
  /** Per-event session assignment: every event row gains `ts_us` and a
    * per-user `session_idx` (gap > `gapMinutes` starts a new session).
    * One shuffle on user; [[sessionize]] and [[topPaths]] both build on it.
    */
  def withSessionIds(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val gapUs = gapMinutes.toLong * 60L * 1000L * 1000L
    val byUser = Window.partitionBy("user_id").orderBy(col("ts_us").asc, col("event_id").asc)
    events
      .withColumn("ts_us", nsToUs(col("ts")))
      .withColumn("prev_ts", lag(col("ts_us"), 1).over(byUser))
      .withColumn(
        "is_new_session",
        when(col("prev_ts").isNull || col("ts_us") - col("prev_ts") > gapUs, 1L).otherwise(0L))
      .withColumn("session_idx", sum(col("is_new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, 0)))
  }

  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    withSessionIds(events, gapMinutes)
      .groupBy(col("user_id"), col("session_idx"))
      .agg(
        min(col("ts_us")).as("session_start_us"),
        max(col("ts_us")).as("session_end_us"),
        count(lit(1)).as("n_events"))
      .withColumn("duration_us", col("session_end_us") - col("session_start_us"))

  /** Top session path signatures: the first `maxSteps` event types of each
    * session joined with '>' (e.g. "view>click>purchase"), counted across
    * all sessions, top `k` by frequency — the journey-shape report that
    * tells a product team what sessions actually look like.
    *
    * Determinism: the per-session event order is (ts_us, event_id) — total
    * because event ids are unique — via a sort of the collected structs
    * (field order makes struct comparison equal that ordering). Scale: the
    * session grouping rides the same user shuffle as [[sessionize]]; the
    * path count aggregate combines map-side; the top-k is a distributed
    * TakeOrdered, never a global sort. Per-session memory is the session's
    * own event list — the bound sessionization already carries.
    */
  def topPaths(
      events: DataFrame, gapMinutes: Int = 30,
      maxSteps: Int = 5, k: Int = 20): DataFrame = {
    require(maxSteps >= 1 && k >= 1, "bad topPaths params")
    withSessionIds(events, gapMinutes)
      .groupBy(col("user_id"), col("session_idx"))
      .agg(sort_array(collect_list(
        struct(col("ts_us"), col("event_id"), col("event_type")))).as("evs"))
      .select(array_join(
        transform(slice(col("evs"), 1, maxSteps), e => e("event_type")), ">").as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path").asc)
      .limit(k)
  }
}
