package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Conversion-funnel analysis (A4/A12, stream_processor.py:186-229).
 *
 * Reference semantics quirk, reproduced deliberately: a session counts for a
 * step if the step's event is *present* in the session — step ORDER IS NOT
 * ENFORCED despite the docstring claiming an ordered list (SURVEY.md §2.3 A4,
 * FIXTURES.md §5). A session `[transaction, view]` increments both steps.
 */
object Funnel {

  /** Per-session step flags (0/1 int per step, via array_contains). */
  def sessionFlags(sessionized: DataFrame, steps: Seq[String]): DataFrame = {
    val base = sessionized
      .groupBy(col("visitorid"), col("session_id"))
      .agg(collect_list(col("event")).as("events"))
    steps.foldLeft(base) { (df, step) =>
      df.withColumn(step,
        when(array_contains(col("events"), step), 1).otherwise(0))
    }
  }

  /**
   * Global funnel counts: one row, one column per step = number of sessions
   * containing that step (A12 grand-total agg, stream_processor.py:214-216).
   * Column names are `n_<step>` (aliased identically in the oracle SQL).
   */
  def counts(sessionized: DataFrame, steps: Seq[String]): DataFrame = {
    val flags = sessionFlags(sessionized, steps)
    flags.agg(
      sum(col(steps.head)).as(s"n_${steps.head}"),
      steps.tail.map(s => sum(col(s)).as(s"n_$s")): _*)
  }

  /**
   * The ORDERED funnel the reference's docstring claims but does not
   * implement (stream_processor.py:195 vs the array_contains membership
   * check): a session counts for step k only if the steps' first
   * occurrences appear in order. Uses the time-ordered user path and
   * first-occurrence positions (array_position; 0 = absent).
   */
  def orderedCounts(sessionized: DataFrame, steps: Seq[String]): DataFrame = {
    val withPath = UserPaths(sessionized)
    val positions = steps.zipWithIndex.foldLeft(withPath) { case (df, (step, i)) =>
      df.withColumn(s"_p$i", array_position(col("user_path"), step))
    }
    val flags = steps.indices.foldLeft(positions) { (df, i) =>
      val inOrder =
        if (i == 0) col(s"_p0") > 0
        else col(s"_f${i - 1}") === 1 && col(s"_p$i") > col(s"_p${i - 1}")
      df.withColumn(s"_f$i", when(inOrder, 1).otherwise(0))
    }
    flags.agg(
      sum(col("_f0")).as(s"n_${steps.head}"),
      steps.indices.tail.map(i => sum(col(s"_f$i")).as(s"n_${steps(i)}")): _*)
  }

  /**
   * Stream-mode variant with the reference's provenance columns
   * (batch_id + analysis_time, stream_processor.py:219-221). Not
   * oracle-checkable (current_timestamp), used by the streaming job.
   */
  def countsWithProvenance(sessionized: DataFrame, steps: Seq[String], batchId: Long): DataFrame =
    counts(sessionized, steps)
      .withColumn("batch_id", lit(batchId))
      .withColumn("analysis_time", current_timestamp())

  /**
   * Per-visitor conversion latency: seconds from the FIRST `from` event to
   * the FIRST `to` event, for visitors where the latter does not precede
   * the former — the funnel-timing companion to [[counts]] (which only
   * counts memberships). One hash aggregate over the event stream
   * (conditional min is algebraic — map-side combinable), then a row
   * filter: no windows, no joins. The seconds arithmetic is the
   * floor-seconds difference the sessionize family uses
   * (`unix_timestamp` == DuckDB `epoch_us // 1e6`).
   */
  def conversionLatency(events: DataFrame, from: String = "view",
                        to: String = "purchase"): DataFrame =
    events.groupBy(col("visitorid"))
      .agg(
        min(when(col("event") === from, col("event_time"))).as("first_view"),
        min(when(col("event") === to, col("event_time"))).as("first_purchase"))
      .filter(col("first_view").isNotNull && col("first_purchase").isNotNull &&
        col("first_purchase") >= col("first_view"))
      .withColumn("seconds_to_convert",
        unix_timestamp(col("first_purchase")) - unix_timestamp(col("first_view")))

  /**
   * Time-constrained ordered funnel (the windowFunnel operator): per
   * visitor, the deepest strictly-time-increasing step chain
   * step1 < step2 < … completed within `windowSeconds` of the FIRST step1
   * event. Greedy-earliest semantics: each step anchors on its earliest
   * qualifying occurrence (min is algebraic, so every stage is a hash agg
   * with map-side combine).
   *
   * Scale shape: one filtered scan per step (the event filter pushes into
   * the parquet scan), each joined back on visitorid — |steps| keyed
   * joins, no windows, no per-visitor arrays, bot-proof (a million-event
   * visitor still reduces to one row per stage). Raw microsecond
   * timestamp comparisons, no floor; all types exact.
   */
  def windowFunnel(events: DataFrame, steps: Seq[String] = Seq("view", "click", "purchase"),
                   windowSeconds: Long = 1800): DataFrame = {
    require(steps.size >= 2, "windowFunnel needs at least 2 steps")
    val iv = expr(s"INTERVAL $windowSeconds SECOND")
    // every stage frame is PERSISTED (narrow visitor-grain: one
    // (visitorid, t_k) row per qualifying visitor): stage k's plan
    // references stage k−1 AND s1, and the final assembly references all
    // of them again, so without the pins each reference re-ran the whole
    // recursive lineage — 1+3+5 = NINE filtered event scans for 3 steps
    // (the r12 scan-census find; ReuseExchange does not unify them) where
    // the documented shape is one per step. The pins make the plan match
    // the scaladoc: |steps| filtered scans, each stage's agg computed
    // once. The LAST stage has a single consumer and stays unpinned.
    val s1 = events.filter(col("event") === steps.head)
      .groupBy(col("visitorid")).agg(min(col("event_time")).as("t1"))
      .persist()
    // fold the remaining steps: stage k needs t_{k-1} (strictly after) and
    // t1 (window bound), both joined back by visitor key
    val stages = steps.indices.tail.foldLeft(Vector(s1)) { (acc, i) =>
      val prev = acc.last
      val prevT = s"t$i"
      val next = events.filter(col("event") === steps(i))
        .join(prev.select(col("visitorid"), col(prevT)), "visitorid")
        .join(s1.select(col("visitorid"), col("t1").as("w1")), "visitorid")
        .filter(col("event_time") > col(prevT) && col("event_time") <= col("w1") + iv)
        .groupBy(col("visitorid")).agg(min(col("event_time")).as(s"t${i + 1}"))
      acc :+ (if (i == steps.indices.last) next else next.persist())
    }
    val joined = stages.tail.foldLeft(s1) { (acc, st) =>
      acc.join(st, Seq("visitorid"), "left")
    }
    val depth = steps.indices.tail.foldLeft(lit(1)) { (acc, i) =>
      when(col(s"t${i + 1}").isNotNull, i + 1).otherwise(acc)
    }
    joined.withColumn("depth", depth.cast("int"))
  }

  /**
   * Step-to-step drop-off summary of [[windowFunnel]]: per step, how many
   * visitors reached at least that depth and what fraction of them went
   * on to the next step. Each visitor row explodes to its 1..depth steps
   * (≤ |steps| rows) → a |steps|-row aggregate; the lead window runs on
   * |steps| rows, so its global ORDER BY is free at any scale.
   */
  def funnelDropoff(events: DataFrame, steps: Seq[String] = Seq("view", "click", "purchase"),
                    windowSeconds: Long = 1800): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("step"))
    windowFunnel(events, steps, windowSeconds)
      .select(explode(expr("sequence(1, depth)")).as("step"))
      .groupBy(col("step")).agg(count(lit(1)).as("reached"))
      .withColumn("next_reached", lead(col("reached"), 1).over(w))
      .withColumn("conversion_rate",
        col("next_reached").cast("double") / col("reached").cast("double"))
  }
}
