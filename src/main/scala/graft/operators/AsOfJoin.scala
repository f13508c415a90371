package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * As-of join: for every left row, attach the latest right row whose time is
 * <= the left row's time, per key — the classic event-stream enrichment
 * operator Spark has no built-in for.
 *
 * Implementation is the scale-correct composition (preference (a) of the
 * engine design — no custom physical operator needed): tag both sides,
 * union, and take `last(payload, ignoreNulls)` over a
 * (key, time, side-tag) ordered running window. Cost: ONE shuffle on the
 * key + an in-partition sort — never the m×n range-join blowup of the
 * naive `join + filter + max_by` formulation. Right rows sort before left
 * rows at equal times (tag 0 < 1), giving inclusive `<=` semantics —
 * matching DuckDB's ASOF JOIN, which the oracle uses as the independent
 * reference implementation.
 *
 * Determinism: callers must make (key, time) unique on the right side
 * (pre-aggregate) — with duplicates, "the" latest right row is undefined
 * in any as-of implementation.
 */
object AsOfJoin {

  /**
   * The custom-operator implementation ((c) path): plans through
   * [[graft.plans.AsOfJoinNode]] → [[graft.plans.AsOfJoinExec]], a
   * sort-merge physical operator (one shuffle + sort per side, O(n+m)
   * single-pass merge, one buffered right row). Plans only on a session
   * built with [[graft.plans.GraftExtensions]], which injects
   * [[graft.plans.AsOfJoinStrategy]]. Key columns must share a data type;
   * time columns must be long-backed and non-null on the right.
   */
  def planBased(left: DataFrame, right: DataFrame,
                leftKey: String, rightKey: String,
                leftTime: String, rightTime: String): DataFrame = {
    val spark = left.sparkSession
    val lp = left.queryExecution.analyzed
    // null right times have no as-of meaning (mirrors apply() and the DuckDB
    // oracle's `<=`, which is NULL on null), and a null right KEY can never
    // satisfy SQL equality — filter both before planning. A null-key LEFT
    // row then finds no equal right key in the merge (the exec's natural
    // ordering would otherwise treat null == null as a match, which SQL
    // equality never does) and emits unmatched, as required.
    val rp = right
      .filter(col(rightTime).isNotNull && col(rightKey).isNotNull)
      .queryExecution.analyzed
    def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, name: String) =
      p.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"column $name not found in ${p.output.map(_.name)}"))
    org.apache.spark.sql.graftshim.Shim.ofRows(spark,
      graft.plans.AsOfJoinNode(lp, rp,
        attr(lp, leftKey), attr(rp, rightKey), attr(lp, leftTime), attr(rp, rightTime)))
  }

  def apply(left: DataFrame, right: DataFrame,
            leftKey: String, rightKey: String,
            leftTime: String, rightTime: String): DataFrame = {
    val leftPayload = struct(left.columns.toIndexedSeq.map(col): _*)
    val rightPayload = struct(right.columns.toIndexedSeq.map(col): _*)

    val l = left.select(
      col(leftKey).cast("string").as("_k"), col(leftTime).as("_t"),
      lit(1).as("_typ"), leftPayload.as("_l"))
    // null right times sort nulls-first and would wrongly match as "latest";
    // ASOF semantics (and the DuckDB oracle's `<=` predicate) exclude them.
    // Null right keys are excluded too: the union's partitionBy groups null
    // keys together, but SQL equality (`l.key = r.key`) is never true for
    // nulls — a null-key left row must emit unmatched
    val r = right.filter(col(rightTime).isNotNull && col(rightKey).isNotNull).select(
      col(rightKey).cast("string").as("_k"), col(rightTime).as("_t"),
      lit(0).as("_typ"), rightPayload.as("_r"))

    val lAligned = l.withColumn("_r", lit(null).cast(r.schema("_r").dataType))
    val rAligned = r.withColumn("_l", lit(null).cast(l.schema("_l").dataType))
      .select(lAligned.columns.toIndexedSeq.map(col): _*)

    val w = Window.partitionBy(col("_k"))
      .orderBy(col("_t"), col("_typ"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    lAligned.union(rAligned)
      .withColumn("_asof", last(col("_r"), ignoreNulls = true).over(w))
      .filter(col("_typ") === 1)
      .select(col("_l.*"), col("_asof").as("asof"))
  }
}
