package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * The per-minute analysis family (A5–A8, stream_processor.py:232-312).
 *
 * All four share the `date_trunc("minute", event_time)` bucketing and are
 * single hash-aggregates (partial+final map-side combine for free). Bounce
 * rate is the reference's two-level aggregate; note its quirk: a "bounce" is
 * a visitor with exactly one event **per minute**, not per session
 * (SURVEY.md §2.3 A8).
 */
object MinuteStats {

  private def withMinute(events: DataFrame): DataFrame =
    events.withColumn("minute", date_trunc("minute", col("event_time")))

  /** A5: events per minute → (minute, events_count). */
  def eventsPerMinute(events: DataFrame): DataFrame =
    withMinute(events)
      .groupBy(col("minute"))
      .agg(count(lit(1)).as("events_count"))

  /**
   * A6: active (distinct) users per minute — exact distinct, like the
   * reference (stream_processor.py:254-259).
   */
  def activeUsers(events: DataFrame): DataFrame =
    withMinute(events)
      .groupBy(col("minute"))
      .agg(countDistinct(col("visitorid")).as("active_users"))

  /**
   * A5, streaming-native (the upgrade the reference lacks, SURVEY §2.7):
   * event-time tumbling window + watermark, so late data is bounded and
   * state is evicted — instead of per-batch minute rows that consumers
   * must re-aggregate.
   */
  def eventsPerMinuteStreaming(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), "1 minute"))
      .agg(count(lit(1)).as("events_count"))
      .select(col("window.start").as("minute"), col("events_count"))

  /** A7: event-type distribution per minute → (minute, event, event_count). */
  def eventTypeDistribution(events: DataFrame): DataFrame =
    withMinute(events)
      .groupBy(col("minute"), col("event"))
      .agg(count(lit(1)).as("event_count"))

  /**
   * A8: bounce rate — level 1 counts events per (minute, visitor); level 2
   * counts visitors with exactly one event, per minute
   * (stream_processor.py:289-305).
   */
  def bounceRate(events: DataFrame): DataFrame =
    withMinute(events)
      .groupBy(col("minute"), col("visitorid"))
      .agg(count(lit(1)).as("events"))
      .groupBy(col("minute"))
      .agg(
        sum(when(col("events") === 1, 1).otherwise(0)).as("bounces"),
        count(lit(1)).as("total_users"))
      .withColumn("bounce_rate", col("bounces") / col("total_users"))

  /**
   * Sliding-window counts: per (10-minute window sliding every 5, event)
   * — Spark's native `window()` in batch mode. With width = 2×slide every
   * event lands in EXACTLY two windows; the grouping replicates rows per
   * covering window before the hash aggregate (map-side combine still
   * applies), which is why slide ratios stay small at scale: state and
   * shuffle grow with width/slide. Emits epoch-second window starts so
   * the oracle compares integers, not timestamp encodings.
   */
  def slidingEventCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("event_time"), "10 minutes", "5 minutes"), col("event"))
      .agg(count(lit(1)).as("n_events"))
      .select(unix_timestamp(col("window.start")).as("window_start"),
        col("event"), col("n_events"))

  /**
   * Event-time resampling to OHLC-style bars: per (event_type, 5-minute
   * bucket) the first/last `value` by event time plus high/low/volume —
   * the downsampling primitive that turns a raw event stream into a
   * fixed-grain series (monitoring rollups, feature windows).
   *
   * First/last are `min_by`/`max_by` over a composite `(epoch_micros,
   * event_id)` STRUCT key — lexicographic struct comparison equals
   * numeric order on the non-negative ids, and event_id uniqueness makes
   * the selection total-ordered, no tie nondeterminism. (The oracle keeps
   * its zero-padded string key — DuckDB's arg_min has no struct keys —
   * which orders identically, so the selected rows match; the engine
   * dropped the string form in r18 because formatting two 20-digit
   * strings per row was ~40 bytes of allocation per event in the hot
   * aggregate, for a key that exists only to be compared.) One hash
   * aggregate; map-side partial combine applies to every column
   * including the min_by/max_by pairs.
   *
   * Takes the raw events table (needs `value`), not the clickstream view.
   */
  def ohlcResample(events: DataFrame, bucketSeconds: Int = 300): DataFrame = {
    val key = struct(expr("ts DIV 1000").as("t"), col("event_id").as("e"))
    events
      .groupBy(col("event_type"),
        ((expr("ts DIV 1000000000") / bucketSeconds).cast("long") * bucketSeconds)
          .as("bucket_start"))
      .agg(
        min_by(col("value"), key).as("open_value"),
        max(col("value")).as("high_value"),
        min(col("value")).as("low_value"),
        max_by(col("value"), key).as("close_value"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).as("sv"))
      .select(col("event_type"), col("bucket_start"), col("open_value"),
        col("high_value"), col("low_value"), col("close_value"),
        col("n_events"), col("sv").cast("double").as("sum_value"))
  }

  /**
   * Traffic-anomaly score: population z-score of each minute's event count
   * against the global per-minute mean/stddev. The monitoring primitive on
   * top of A5 — |z| > 3 is the alert line, but thresholds belong to the
   * consumer so all minutes are emitted.
   *
   * Scale shape: the stats side is ONE 3-column row (count/sum/sum-of-
   * squares — all algebraic, map-side combinable) broadcast to the
   * per-minute frame; no second scan, no collect, no window over the whole
   * series. Determinism: n/s/s2 are exact integers and every double step
   * after them (two divisions, multiply, subtract, sqrt, subtract, divide)
   * is a single correctly-rounded IEEE op — bit-identical across engines.
   * `greatest(…, 0)` guards the catastrophic-cancellation case where
   * meansq − mean² rounds to a tiny negative.
   */
  def minuteAnomaly(events: DataFrame): DataFrame = {
    val pm = eventsPerMinute(events)
    val stats = pm.agg(
      count(lit(1)).as("n"),
      sum(col("events_count")).as("s"),
      sum(col("events_count") * col("events_count")).as("s2"))
    pm.crossJoin(broadcast(stats))
      .withColumn("mean", col("s").cast("double") / col("n").cast("double"))
      .withColumn("meansq", col("s2").cast("double") / col("n").cast("double"))
      .withColumn("stddev_pop",
        sqrt(greatest(col("meansq") - col("mean") * col("mean"), lit(0.0))))
      // nullif: perfectly uniform traffic (stddev 0) yields NULL z, not an
      // ANSI division error (the abTestEngagement lesson)
      .withColumn("z",
        (col("events_count").cast("double") - col("mean")) /
          nullif(col("stddev_pop"), lit(0.0)))
      .select("minute", "events_count", "mean", "stddev_pop", "z")
  }

  /**
   * EWMA-smoothed traffic level per (event type, day): the per-minute
   * count series of each day is folded left-to-right with
   * `acc' = α·x + (1−α)·acc` from 0 — the standard exponentially-weighted
   * moving average, reported at day close (the smoothed level the next
   * day's monitoring starts from).
   *
   * Scale shape: group cardinality is |event_types| × days (grows with
   * time, not traffic) and each group's series is ≤ 1440 elements, so the
   * collect + fold is bounded per group forever. Determinism: a sequential
   * double fold is bit-identical across engines (every step is two
   * multiplies + one add, all correctly rounded, in the same order) — the
   * same rule the cosine/norm folds rely on. Gap minutes (no events)
   * simply don't contribute a step, on both sides.
   */
  def ewmaMinuteCounts(events: DataFrame, alpha: Double = 0.2): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    val a = alpha.toString
    val b = (1 - alpha).toString
    withMinute(events)
      .groupBy(col("event"), date_trunc("day", col("event_time")).as("day"),
        col("minute"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("event"), col("day"))
      .agg(sort_array(collect_list(struct(col("minute"), col("cnt")))).as("series"))
      .withColumn("n_minutes", size(col("series")).cast("int"))
      .withColumn("ewma", expr(
        s"""aggregate(transform(series, s -> CAST(s.cnt AS DOUBLE)),
           | CAST(0.0 AS DOUBLE), (acc, x) -> $a * x + $b * acc)""".stripMargin))
      .select("event", "day", "n_minutes", "ewma")
  }
}
