package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Item co-occurrence with lift — the item-to-item collaborative-filtering
 * primitive over the event stream (the reference's item analyses,
 * stream_processor.py:306-330, stop at per-item counts; co-occurrence is
 * the pairwise extension every recommender bootstrap needs). "Item" here
 * is the integer `props.k` attribute of the raw events table.
 *
 * Scale shape: ONE user-keyed shuffle aggregates the event stream to a
 * per-user sorted DISTINCT item array, capped at `maxItemsPerUser`
 * (deterministic keep-smallest-k guard against bot users, the
 * [[userItems]] rule — AnalyticsSpec pins the two forms equal; the same
 * role as Dedup's bucket caps). Pairs are generated in-array per user —
 * |items-per-user|² work bounded by the cap, inside the task that holds
 * the row, with no self-join shuffle. The item-total and user-count
 * sides are tiny aggregates, broadcast — the big frame is scanned once.
 * Determinism: `lift` is one IEEE division of two exact integer products
 * (both ≤ n_users² ≤ 2^63 for any realistic corpus). The (user, item[])
 * frame is persisted for its three consumers; cache lifetime is
 * caller-owned (the [[graft.ext.SparseSim]] contract).
 */
object Cooccur {

  /**
   * Distinct (user_id, k) pairs from events' JSON props, capped per user.
   * The cap keeps the smallest item ids — an arbitrary-but-deterministic
   * rule, mirrored in the oracle.
   */
  def userItems(events: DataFrame, maxItemsPerUser: Int = 1000): DataFrame =
    events
      .select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .filter(col("k").isNotNull)
      .distinct()
      .withColumn("rn",
        row_number().over(Window.partitionBy(col("user_id")).orderBy(col("k"))))
      .filter(col("rn") <= maxItemsPerUser)
      .drop("rn")

  /**
   * (k1 < k2, both_users, users1, users2, lift) for item pairs co-occurring
   * in at least `minUsers` users' event histories.
   * lift = P(k1,k2) / (P(k1)·P(k2)) = both·N / (users1·users2).
   */
  def itemCooccurrence(events: DataFrame, minUsers: Long = 2,
                       maxItemsPerUser: Int = 1000): DataFrame = {
    // ONE user-keyed shuffle builds the per-user sorted item array:
    // collect_set + in-array sort_array/slice replaces the distinct +
    // rank-window chain this evolved from (two wide exchanges over the
    // same (user, item) rows — distinct hashes on (user_id, k), the cap
    // window re-hashes on user_id), and slice(sort_array(...), 1, cap)
    // IS the keep-smallest-k rule. Pairs are then generated IN-ARRAY per
    // user instead of via the user-keyed self-join (which shuffled the
    // frame twice more): same |items-per-user|² work, executed inside the
    // scan task that already holds the row. Every consumer below reads
    // the compact (user, ks) frame from one persist.
    val uk = events
      .select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .filter(col("k").isNotNull)
      .groupBy(col("user_id"))
      .agg(expr(s"slice(sort_array(collect_set(k)), 1, $maxItemsPerUser)").as("ks"))
      .persist()
    val totals = uk.select(explode(col("ks")).as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("users"))
    // uk is one row per user with >= 1 item — count(*) IS countDistinct
    val nUsers = uk.agg(count(lit(1)).as("n_users"))
    uk.select(explode(expr(
        "flatten(transform(ks, (x, i) -> " +
          "transform(slice(ks, i + 2, size(ks)), y -> named_struct('k1', x, 'k2', y))))"))
        .as("p"))
      .select(col("p.k1").as("k1"), col("p.k2").as("k2"))
      .groupBy(col("k1"), col("k2"))
      .agg(count(lit(1)).as("both_users"))
      .filter(col("both_users") >= minUsers)
      .join(broadcast(totals.select(col("k").as("k1"), col("users").as("users1"))), "k1")
      .join(broadcast(totals.select(col("k").as("k2"), col("users").as("users2"))), "k2")
      .crossJoin(broadcast(nUsers))
      .withColumn("lift",
        (col("both_users") * col("n_users")).cast("double") /
          (col("users1") * col("users2")).cast("double"))
      .select("k1", "k2", "both_users", "users1", "users2", "lift")
  }
}
