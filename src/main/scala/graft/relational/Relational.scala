package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/**
 * Relational extension surface over the TPC-H-ish driver testdata
 * (SURVEY.md §2.5 notes the reference has zero joins — this is the
 * engine-extension coverage: joins incl. broadcast/semi/anti, rollup,
 * windowed top-k, JSON extraction).
 *
 * Determinism: every floating-point SUM goes through a DECIMAL cast so the
 * result is independent of partial-aggregation order (Spark) vs sequential
 * order (DuckDB oracle); the final column is cast back to DOUBLE.
 *
 * Scale notes (100 TB):
 *  - dimension tables (customer/nation/region) are broadcast explicitly —
 *    no shuffle of the fact side;
 *  - fact-fact joins (lineitem⋈orders) shuffle on the join key once; at
 *    cluster scale these tables would be bucketed by orderkey to make the
 *    join shuffle-free;
 *  - top-k aggregates first (shrinking to |groups|), then windows.
 */
object Relational {

  private def dec(c: String, scale: Int = 2) = col(c).cast(s"decimal(18,$scale)")

  /** TPC-H Q1-style pricing summary over lineitem. */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec("l_quantity")).as("dq"),
        sum(dec("l_extendedprice")).as("dp"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast("decimal(18,4)")).as("ddp"),
        count(lit(1)).as("count_order"))
      .select(
        col("l_returnflag"), col("l_linestatus"),
        col("dq").cast("double").as("sum_qty"),
        col("dp").cast("double").as("sum_base_price"),
        col("ddp").cast("double").as("sum_disc_price"),
        (col("dq").cast("double") / col("count_order")).as("avg_qty"),
        col("count_order"))

  /** Revenue by market segment: broadcast customer ⋈ orders ⋈ lineitem. */
  def revenueBySegment(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(col("c_custkey"), col("c_mktsegment"))
    val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
    val l = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast("decimal(18,4)").as("rev"))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(sum(col("rev")).as("drev"), count(lit(1)).as("n_lineitems"))
      .select(col("c_mktsegment"), col("drev").cast("double").as("revenue"), col("n_lineitems"))
  }

  /** ROLLUP over order status × priority: counts + total price subtotals. */
  def ordersRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), sum(dec("o_totalprice")).as("dt"))
      .select(col("o_orderstatus"), col("o_orderpriority"), col("n_orders"),
        col("dt").cast("double").as("total_price"))

  /** Top-3 customers by order revenue within each market segment
    * (agg → broadcast dim join → window rank, deterministic tiebreak). */
  def topCustomersPerSegment(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val perCust = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(dec("o_totalprice")).as("drev"))
    val c = Tables.customer(spark, dir).select(col("c_custkey"), col("c_mktsegment"))
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("drev").desc, col("c_custkey").asc)
    perCust.join(broadcast(c), perCust("o_custkey") === c("c_custkey"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("c_mktsegment"), col("c_custkey"),
        col("drev").cast("double").as("revenue"), col("rank"))
  }

  /** Account-balance quartiles within each market segment (ntile window,
    * deterministic (balance, key) ordering) — the equal-frequency binning
    * primitive; partitioned by segment so no stratum is one reducer. */
  def customerQuartiles(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").asc, col("c_custkey").asc)
    Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      .withColumn("quartile", ntile(4).over(w))
  }

  /** Explicit GROUPING SETS (status-only, priority-only, grand total) with
    * per-column grouping flags — the census entry for the grouping-sets
    * surface beyond rollup/cube (flags instead of grouping_id: bit-order
    * is engine-specific, per-column flags are portable). */
  def ordersGroupingSets(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("orders_gs")
    spark.sql(
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(grouping(o_orderstatus) AS INT) AS g_status,
        |  CAST(grouping(o_orderpriority) AS INT) AS g_priority,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM orders_gs
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin)
  }

  /** percent_rank + cume_dist of account balance within each market
    * segment — the relative-standing window census entry (exact integer
    * ratios, deterministic (balance, key) ordering). */
  def customerBalanceStanding(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").asc, col("c_custkey").asc)
    Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      .withColumn("pct_rank", percent_rank().over(w))
      .withColumn("cume", cume_dist().over(w))
  }

  /** Orders with at least one lineitem, counted per priority (semi join). */
  def orderPriorityWithLineitems(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .join(Tables.lineitem(spark, dir).select(col("l_orderkey")),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))

  /** Customers with no big-ticket order (> threshold), per market segment —
    * anti join with the filter pushed into the build side's scan. */
  def customersWithoutOrders(spark: SparkSession, dir: String,
                             threshold: Double = 400000.0): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir)
          .filter(col("o_totalprice") > threshold).select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"))

  /** Customer counts per region/nation through the tiny dims (two broadcast
    * joins; the only shuffle is the final aggregation). */
  def customersPerRegionNation(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    Tables.customer(spark, dir)
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"), sum(dec("c_acctbal")).as("db"))
      .select(col("r_name"), col("n_name"), col("n_customers"),
        col("db").cast("double").as("total_acctbal"))
  }

  /** Gap in days between a customer's consecutive orders (lag + datediff). */
  def orderGaps(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
      .withColumn("prev_date", lag(col("o_orderdate"), 1).over(w))
      .withColumn("gap_days",
        datediff(col("o_orderdate").cast("date"), col("prev_date").cast("date")))
  }

  /**
   * As-of enrichment: every clickstream event tagged with the customer's
   * most recent order as of the event time ([[graft.operators.AsOfJoin]];
   * right side pre-aggregated to make (key, time) unique).
   */
  def eventsWithLastOrder(spark: SparkSession, dir: String): DataFrame = {
    val left = Tables.events(spark, dir).select(
      col("event_id"),
      col("user_id").cast("string").as("visitorid"),
      expr(Tables.eventTimeExpr).as("event_time"))
    val right = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max(col("o_orderkey")).as("okey"))
    graft.operators.AsOfJoin(left, right,
        leftKey = "visitorid", rightKey = "o_custkey",
        leftTime = "event_time", rightTime = "o_orderdate")
      .select(col("event_id"), col("visitorid"), col("event_time"),
        col("asof.okey").as("last_order_key"),
        col("asof.o_orderdate").as("last_order_date"))
  }

  /** Same as-of enrichment through the custom physical operator
    * ([[graft.plans.AsOfJoinExec]]) — 3-way validated: this plan, the
    * union+window composition, and DuckDB's native ASOF JOIN share one
    * oracle. */
  def eventsWithLastOrderExec(spark: SparkSession, dir: String): DataFrame = {
    val left = Tables.events(spark, dir).select(
      col("event_id"),
      col("user_id").cast("string").as("visitorid"),
      expr(Tables.eventTimeExpr).as("event_time"))
    val right = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max(col("o_orderkey")).as("okey"))
      .select(col("o_custkey").cast("string").as("ck"), col("o_orderdate"), col("okey"))
    graft.operators.AsOfJoin.planBased(left, right,
        leftKey = "visitorid", rightKey = "ck",
        leftTime = "event_time", rightTime = "o_orderdate")
      .select(col("event_id"), col("visitorid"), col("event_time"),
        col("okey").as("last_order_key"),
        col("o_orderdate").as("last_order_date"))
  }

  /** Range-join enrichment (the binned interval join,
    * [[graft.operators.RangeJoin]]): per event, how many orders — and the
    * latest — the visitor placed in the 7 days ending at the event.
    * Left-outer semantics come fused from the replicated left side: each
    * event's two bin replicas left-join the binned orders and the
    * null-ignoring aggregates collapse them to one row per event — events
    * with no recent order keep n=0 / null key, and the events table is
    * scanned exactly once (the r3 plan joined it a second time to restore
    * unmatched rows). */
  def eventsWithRecentOrders(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).select(
      col("event_id"),
      col("user_id").cast("string").as("visitorid"),
      expr(Tables.eventTimeExpr).as("event_time"))
    val o = Tables.orders(spark, dir).select(
      col("o_custkey").cast("string").as("ck"), col("o_orderdate"), col("o_orderkey"))
    graft.operators.RangeJoin.leftJoinReplicated(e, o,
        leftKey = "visitorid", rightKey = "ck",
        leftTime = "event_time", rightTime = "o_orderdate",
        windowSeconds = 7L * 86400L)
      // grain contract: event_id is the events table's primary key, so the
      // groupBy emits exactly one row per event row. Duplicated event_ids
      // (not representable in this dataset) would collapse here while the
      // oracle's join-back preserves them — callers re-joining user data
      // through this pattern must aggregate by a genuinely unique row key.
      .groupBy(col("event_id"), col("visitorid"), col("event_time"))
      .agg(count(col("o_orderkey")).as("n_recent_orders"),
        max(col("o_orderkey")).as("last_recent_key"))
      .select(col("event_id"), col("visitorid"), col("event_time"),
        col("n_recent_orders"), col("last_recent_key"))
  }

  /** Cross-table temporal relation: ship delay (days between order date and
    * each lineitem's ship date) aggregated per order priority — exact
    * integer day arithmetic on both engines. */
  def shipDelayByPriority(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_shipdate"))
      .join(Tables.orders(spark, dir).select(col("o_orderkey"), col("o_orderdate"),
        col("o_orderpriority")), col("l_orderkey") === col("o_orderkey"))
      .withColumn("delay_days",
        datediff(col("l_shipdate").cast("date"), col("o_orderdate").cast("date")))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_lineitems"),
        sum(col("delay_days")).cast("long").as("total_delay_days"),
        (sum(col("delay_days")).cast("double") / count(lit(1))).as("avg_delay_days"),
        max(col("delay_days")).as("max_delay_days"))

  /** CUBE over order status × priority (all grouping-set combinations). */
  def ordersCube(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), sum(dec("o_totalprice")).as("dt"))
      .select(col("o_orderstatus"), col("o_orderpriority"), col("n_orders"),
        col("dt").cast("double").as("total_price"))

  /** Pivot: per-minute event counts, one column per event type. */
  def eventPivot(spark: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val pivoted = Tables.clickstream(spark, dir)
      .withColumn("minute", date_trunc("minute", col("event_time")))
      .groupBy(col("minute"))
      .pivot("event", types)
      .count()
    types.foldLeft(pivoted) { (df, t) =>
      df.withColumn(s"n_$t", coalesce(col(t), lit(0L))).drop(t)
    }
  }

  /** Set ops: (visitor, minute) pairs with a view but no purchase in that
    * minute (EXCEPT at a grain where the difference is non-trivial —
    * user-lifetime grain saturates: every user eventually purchases). */
  def viewersWithoutPurchase(spark: SparkSession, dir: String): DataFrame = {
    val cs = Tables.clickstream(spark, dir)
      .withColumn("minute", date_trunc("minute", col("event_time")))
    cs.filter(col("event") === "view").select(col("visitorid"), col("minute")).distinct()
      .except(cs.filter(col("event") === "purchase")
        .select(col("visitorid"), col("minute")).distinct())
  }

  /** JSON property extraction from the events `props` column, aggregated
    * per event type (get_json_object → codegen'd JSON path, no UDF). */
  def propsSumByType(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"), get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"), count(col("k")).as("n_with_k"))

  /** Bloom-prefiltered exact semi join ([[graft.operators.BloomJoin]]):
    * lineitems of URGENT orders, summarized per return flag. The Bloom
    * probe kills non-matching lineitem rows at scan speed; the exact semi
    * join then only shuffles survivors — identical results to a plain
    * `IN (subquery)`, which is what the oracle runs. The sketch is
    * AUTO-sized from a count of the urgent-orders side (a fixed guess is
    * the scale trap: 30k fits sf0.1 but saturates at the 100× sweep's 3M
    * keys, FPP → 1); the sizing cache is transient inside semiJoin. */
  def urgentLineitemsBloom(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
    val urgent = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    graft.operators.BloomJoin.semiJoin(li, urgent, "l_orderkey", "o_orderkey")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_lines"), sum(dec("l_quantity")).as("dq"))
      .select(col("l_returnflag"), col("n_lines"),
        col("dq").cast("double").as("sum_qty"))
  }

  /** Numeric stats of the events `value` column per type (decimal-exact). */
  def valueStatsByType(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(sum(dec("value")).as("dv"), count(lit(1)).as("n"),
        min(col("value")).as("min_value"), max(col("value")).as("max_value"))
      .select(col("event_type"), col("dv").cast("double").as("sum_value"),
        (col("dv").cast("double") / col("n")).as("avg_value"),
        col("n").as("n_events"), col("min_value"), col("max_value"))

  /**
   * RFM (recency / frequency / monetary) customer scoring over orders —
   * the classic marketing segmentation: each dimension quartile-scored
   * with `ntile(4)` (1 = best: most recent, most frequent, highest spend),
   * combined into the 111..444 `rfm_cell`.
   *
   * Scale shape: one orders scan → per-customer hash agg (all-algebraic:
   * max/count/decimal-sum), the corpus-wide reference date is a 1-row
   * broadcast, and the three rank windows are global-ORDER-BY ntiles —
   * the one construct here that serializes. THIS FORM IS THE ORACLE-EXACT
   * PARITY PATH ONLY — [[rfmScoresBucketed]] (q_rfm_bucketed, broadcast
   * percentile bounds, no window at all) is the default at scale; the
   * ScaleSpec registry audit pins this pair as the only queries allowed
   * an unbounded global window. Every window carries the custkey
   * tiebreak so ranks are total-ordered.
   * Monetary routes through DECIMAL(18,2) (order-independent sum), cast
   * back to DOUBLE at the end.
   */
  def rfmScores(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    val ref = orders.agg(max(to_date(col("o_orderdate"))).as("ref_date"))
    val base = orders
      .groupBy(col("o_custkey"))
      .agg(
        max(to_date(col("o_orderdate"))).as("last_order"),
        count(lit(1)).as("frequency"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("monetary_d"))
      .crossJoin(broadcast(ref))
      .withColumn("recency_days", datediff(col("ref_date"), col("last_order")))
      .select(col("o_custkey"), col("recency_days"), col("frequency"),
        col("monetary_d"), col("monetary_d").cast("double").as("monetary"))
    base
      .withColumn("r_score", ntile(4).over(
        Window.orderBy(col("recency_days").asc, col("o_custkey").asc)))
      .withColumn("f_score", ntile(4).over(
        Window.orderBy(col("frequency").desc, col("o_custkey").asc)))
      .withColumn("m_score", ntile(4).over(
        Window.orderBy(col("monetary_d").desc, col("o_custkey").asc)))
      .withColumn("rfm_cell",
        col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
      .select("o_custkey", "recency_days", "frequency", "monetary",
        "r_score", "f_score", "m_score", "rfm_cell")
  }

  /**
   * Two-sample z-test on events-per-visitor between hash-split A/B
   * variants: visitors are deterministically assigned by the portable
   * 32-bit hash (the [[graft.ext.TextAnalysis.splitAssign]] rule) and the
   * engagement metric (event count per visitor) is compared with the
   * unpooled-variance z statistic. A proportion test degenerates on this
   * corpus (conversion is ~universal → zero pooled variance); the
   * engagement mean always carries variance.
   *
   * One events scan → per-visitor count → 2-row moment agg (n, Σx, Σx² —
   * all algebraic) → 1-row pivot. The z chain is the SAME literal
   * expression on both engines, each step one correctly-rounded IEEE op —
   * bit-identical; `nullif` turns the zero-variance corner into NULL
   * instead of an ANSI division error.
   */
  /**
   * Pareto / revenue-concentration analysis: customers ranked by revenue
   * (exact DECIMAL sums), cumulative revenue share, and the classic
   * "top-80 %-of-revenue" membership flag. The running sum is an exact
   * decimal window (order-independent); the only double ops are the final
   * two casts and one division — bit-identical. The global ORDER BY window
   * serializes like [[rfmScores]]' ntiles — THIS FORM IS THE ORACLE-EXACT
   * PARITY PATH ONLY; [[revenueConcentrationBucketed]]
   * (q_revenue_concentration_bucketed, percentile revenue bounds →
   * broadcast bucketing) is the default at scale, and the ScaleSpec
   * registry audit pins this pair as the only queries allowed an
   * unbounded global window. The total is a 1-row broadcast, not a
   * whole-frame window.
   */
  def revenueConcentration(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("revenue_d"))
    val w = Window.orderBy(col("revenue_d").desc, col("o_custkey").asc)
    rev
      .crossJoin(broadcast(rev.select(sum(col("revenue_d")).as("total_d"))))
      .withColumn("rank", row_number().over(w).cast("int"))
      .withColumn("cum_d", sum(col("revenue_d"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      // nullif: an all-zero-revenue frame yields NULL shares, not an ANSI
      // division error
      .withColumn("cum_share",
        col("cum_d").cast("double") / nullif(col("total_d").cast("double"), lit(0.0)))
      .withColumn("in_top80", when(col("cum_share") <= 0.8, 1).otherwise(0).cast("int"))
      .select(col("o_custkey"), col("revenue_d").cast("double").as("revenue"),
        col("rank"), col("cum_share"), col("in_top80"))
  }

  /**
   * Scale-safe RFM: the quartile-bound bucketing variant of [[rfmScores]] —
   * the "100 TB swap" its scaladoc documents, as a runnable path. Instead
   * of three global-ORDER-BY `ntile` windows (each an Exchange
   * SinglePartition — a serialization point at scale), the quartile CUT
   * POINTS are computed once as a 1-row aggregate and broadcast; each
   * customer row is then scored by three comparisons. No window anywhere
   * in the plan (ScaleSpec pins that), so the whole query is scan → hash
   * agg → map — embarrassingly parallel at any corpus size.
   *
   * Semantics differ from ntile at the margins by design: ntile splits
   * exact row COUNTS (remainder rows go to the leading buckets), bound
   * bucketing splits by VALUE against the interpolated quartiles, sending
   * boundary ties to the lower bucket. Bound parity with the oracle uses
   * the [[graft.ext.TextAnalysis.lengthBoundsFilter]] precedent: Spark's
   * exact `percentile` ≡ DuckDB `quantile_cont`, and an interpolated bound
   * only ever equals a data point when the interpolation fraction is zero
   * — where both engines return that exact value — so an ulp of
   * interpolation drift can never flip a `>` against real data.
   *
   * At true 100 TB the exact `percentile` agg would become
   * `approx_percentile` (mergeable KLL-style sketch, same 1-row shape);
   * exact is kept here because the oracle must reproduce the bounds
   * cross-engine, and the two calls are interchangeable in this plan.
   */
  def rfmScoresBucketed(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    val ref = orders.agg(max(to_date(col("o_orderdate"))).as("ref_date"))
    // customer-grain base (tiny vs orders) read twice: once for bounds,
    // once for scoring — persist instead of re-aggregating the fact table.
    // Cache lifetime is caller-owned (the session keeps it for reuse).
    val base = orders
      .groupBy(col("o_custkey"))
      .agg(
        max(to_date(col("o_orderdate"))).as("last_order"),
        count(lit(1)).as("frequency"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("monetary_d"))
      .crossJoin(broadcast(ref))
      .withColumn("recency_days", datediff(col("ref_date"), col("last_order")))
      .select(col("o_custkey"), col("recency_days"), col("frequency"),
        col("monetary_d").cast("double").as("monetary"))
      .persist()
    val bounds = base.agg(
      expr("percentile(recency_days, 0.25)").as("r25"),
      expr("percentile(recency_days, 0.50)").as("r50"),
      expr("percentile(recency_days, 0.75)").as("r75"),
      expr("percentile(frequency, 0.25)").as("f25"),
      expr("percentile(frequency, 0.50)").as("f50"),
      expr("percentile(frequency, 0.75)").as("f75"),
      expr("percentile(monetary, 0.25)").as("m25"),
      expr("percentile(monetary, 0.50)").as("m50"),
      expr("percentile(monetary, 0.75)").as("m75"))
    // 1 = best: for recency small is good (ascending score), for
    // frequency/monetary large is good (descending score); ties at a
    // bound land in the better bucket on both engines (strict comparisons)
    def asc(c: org.apache.spark.sql.Column, lo: String, mid: String, hi: String) =
      (lit(1) + (c > col(lo)).cast("int") + (c > col(mid)).cast("int") +
        (c > col(hi)).cast("int")).cast("int")
    def desc(c: org.apache.spark.sql.Column, lo: String, mid: String, hi: String) =
      (lit(1) + (c < col(hi)).cast("int") + (c < col(mid)).cast("int") +
        (c < col(lo)).cast("int")).cast("int")
    base.crossJoin(broadcast(bounds))
      .withColumn("r_score", asc(col("recency_days"), "r25", "r50", "r75"))
      .withColumn("f_score", desc(col("frequency"), "f25", "f50", "f75"))
      .withColumn("m_score", desc(col("monetary"), "m25", "m50", "m75"))
      .withColumn("rfm_cell",
        (col("r_score") * 100 + col("f_score") * 10 + col("m_score")).cast("int"))
      .select("o_custkey", "recency_days", "frequency", "monetary",
        "r_score", "f_score", "m_score", "rfm_cell")
  }

  /**
   * Scale-safe Pareto: the decile-bucketed variant of
   * [[revenueConcentration]] — its documented 100 TB swap as a runnable
   * path. Per-customer exact rank + running share is inherently one global
   * sort; the scalable formulation reports concentration at BUCKET grain:
   * customers are assigned to revenue deciles against broadcast
   * `percentile` cut points (1 = bottom, `buckets` = top), and the
   * cumulative-from-the-top share is computed over the bucket aggregate
   * with a triangular broadcast self-join — bucket cardinality is FIXED
   * (10), so the join is O(buckets²) rows regardless of corpus size and
   * the plan carries no WindowExec / SinglePartition at all (ScaleSpec
   * pins that). Revenue stays DECIMAL-exact until the final share
   * division.
   */
  def revenueConcentrationBucketed(spark: SparkSession, dir: String,
                                   buckets: Int = 10): DataFrame = {
    require(buckets > 1, s"need at least 2 buckets, got $buckets")
    val rev = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("revenue_d"))
      .persist() // customer grain, read twice (bounds + assignment)
    val ps = (1 until buckets).map(i => i.toDouble / buckets)
    val bounds = rev.agg(
      expr(s"percentile(CAST(revenue_d AS DOUBLE), array(${ps.mkString(", ")}))")
        .as("bounds"))
    val tot = rev.agg(sum(col("revenue_d")).as("total_d"))
    val assigned = rev.crossJoin(broadcast(bounds))
      .withColumn("revenue_decile",
        (lit(1) + expr(
          """aggregate(
            |  transform(bounds, x -> CASE WHEN CAST(revenue_d AS DOUBLE) > x
            |                              THEN 1 ELSE 0 END),
            |  0, (a, b) -> a + b)""".stripMargin)).cast("int"))
    val perBucket = assigned.groupBy(col("revenue_decile"))
      .agg(count(lit(1)).as("n_customers"), sum(col("revenue_d")).as("rev_d"))
    // running sum from the top WITHOUT a window: join every bucket with
    // all buckets at or above it — 10×10 broadcast, scale-independent
    val cum = perBucket
      .join(broadcast(perBucket.select(col("revenue_decile").as("d2"),
        col("rev_d").as("rev2"))), col("d2") >= col("revenue_decile"))
      .groupBy(col("revenue_decile"), col("n_customers"), col("rev_d"))
      .agg(sum(col("rev2")).as("cum_d"))
    cum.crossJoin(broadcast(tot))
      // nullif: all-zero-revenue frame → NULL shares, not a division error
      .withColumn("cum_share",
        col("cum_d").cast("double") / nullif(col("total_d").cast("double"), lit(0.0)))
      .select(col("revenue_decile"), col("n_customers"),
        col("rev_d").cast("double").as("bucket_revenue"), col("cum_share"),
        when(col("cum_share") <= 0.8, 1).otherwise(0).cast("int").as("in_top80"))
  }

  /**
   * TPC-H Q5 semantics (local supplier volume): revenue from lineitems
   * where the customer and supplier share a nation, per nation of one
   * region and one order-date year. The classic 6-table join:
   * region→nation→(customer, supplier) are broadcast dims; orders is
   * filtered by the pushed-down date range BEFORE joining lineitem, so
   * the one big shuffle join (orders ⋈ lineitem on orderkey) runs on the
   * filtered fraction; the customer-nation = supplier-nation condition
   * rides the join, never a post-filter cross product. Revenue follows
   * the pricingSummary money rule (per-row decimal cast, decimal sum).
   */
  def localSupplierVolume(spark: SparkSession, dir: String,
                          regionName: String = "ASIA", year: Int = 1996): DataFrame = {
    val nations = Tables.nation(spark, dir)
      .join(Tables.region(spark, dir).filter(col("r_name") === regionName),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val cust = Tables.customer(spark, dir)
      .join(broadcast(nations), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_nationkey"), col("n_name"))
    val supp = Tables.supplier(spark, dir)
      .select(col("s_suppkey"), col("s_nationkey"))
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit(s"$year-01-01") &&
        col("o_orderdate") < lit(s"${year + 1}-01-01"))
      .select(col("o_orderkey"), col("o_custkey"))
    ord
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_suppkey"), col("l_extendedprice"), col("l_discount")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supp),
        col("l_suppkey") === col("s_suppkey") && col("s_nationkey") === col("c_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(18,4)")).as("rd"),
        count(lit(1)).as("n_lineitems"))
      .select(col("n_name"), col("rd").cast("double").as("revenue"), col("n_lineitems"))
  }

  /**
   * Rolling 7-day revenue per customer — the RANGE-frame window census
   * entry (every other window in the engine is ROWS- or partition-framed):
   * per (customer, order day), revenue of that day plus the 6 preceding
   * days. The frame key is the integer epoch-day, so the RANGE bound is
   * exact integer arithmetic; sums are decimal end-to-end.
   */
  def rollingRevenue7d(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"),
        expr("CAST(unix_timestamp(o_orderdate) DIV 86400 AS BIGINT)").as("epoch_day"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("day_rev"))
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("epoch_day"))
      .rangeBetween(-6, Window.currentRow)
    daily
      .withColumn("rev_7d", sum(col("day_rev")).over(w))
      .select(col("o_custkey"), col("epoch_day"),
        col("day_rev").cast("double").as("day_revenue"),
        col("rev_7d").cast("double").as("revenue_7d"))
  }

  /** [[Profiler.profile]] over the events table (the oracle-gated entry;
    * the profiler itself is table-generic). */
  def profileEvents(spark: SparkSession, dir: String): DataFrame =
    Profiler.profile(Tables.events(spark, dir))

  def abTestEngagement(events: DataFrame): DataFrame = {
    val perUser = events
      .groupBy(col("visitorid")).agg(count(lit(1)).as("x"))
      .withColumn("variant",
        pmod(graft.ext.TextAnalysis.hash32(col("visitorid")), lit(2)))
    // ONE conditional aggregation computes both variants' moments. The
    // previous two-branch form (byVariant.filter(variant===0) crossJoin
    // byVariant.filter(variant===1)) planned the whole scan → per-user
    // shuffle → per-variant shuffle chain TWICE — ReuseExchange did not
    // unify the branches (verified on the executed plan: two parquet
    // scans, four exchanges) — a 2× tax a 100 TB events table cannot pay
    // for a 1-row result. Moments are algebraic, so the conditional form
    // is map-side-combined into one pass. The trailing filter preserves
    // the old form's one corner: a variant with ZERO users emitted zero
    // rows there (empty crossJoin side — and empties the oracle's a0×a1
    // the same way), where an unfiltered conditional agg would emit one
    // row of nulls.
    perUser
      .agg(
        count(when(col("variant") === 0, lit(1))).as("n0"),
        sum(when(col("variant") === 0, col("x"))).as("s0"),
        sum(when(col("variant") === 0, col("x") * col("x"))).as("s20"),
        count(when(col("variant") === 1, lit(1))).as("n1"),
        sum(when(col("variant") === 1, col("x"))).as("s1"),
        sum(when(col("variant") === 1, col("x") * col("x"))).as("s21"))
      .filter(col("n0") > 0 && col("n1") > 0)
      .selectExpr("n0", "s0", "n1", "s1",
        "CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS mean0",
        "CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS mean1",
        """(CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
          | / nullif(sqrt(
          |     greatest(CAST(s20 AS DOUBLE) / CAST(n0 AS DOUBLE)
          |       - (CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)) * (CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)), 0.0)
          |       / CAST(n0 AS DOUBLE)
          |   + greatest(CAST(s21 AS DOUBLE) / CAST(n1 AS DOUBLE)
          |       - (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) * (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)), 0.0)
          |       / CAST(n1 AS DOUBLE)), 0.0) AS z""".stripMargin)
  }
}
