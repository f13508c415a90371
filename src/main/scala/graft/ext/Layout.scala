package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim

import graft.Tables
import graft.functions.ZOrder2

/**
 * Z-order data layout: multi-dimensional clustering for scan pruning.
 *
 * Writing a 100 TB fact table sorted by ONE key prunes scans on that key
 * only; range-partitioning + sorting by the Morton interleave of TWO keys
 * ([[graft.functions.ZOrder2]]) makes every written file a small rectangle
 * in (x, y) space, so parquet min/max stats prune selective scans on
 * EITHER or BOTH dimensions. This is the same layout idea as
 * Delta/Iceberg Z-ordering; a writer applies it with stock Spark
 * operators, `repartitionByRange(z)` + `sortWithinPartitions(z)` over
 * [[zValue]].
 */
object Layout {

  /** The z-value column: low-31-bit Morton interleave of two LONG dims. */
  def zValue(x: Column, y: Column): Column =
    Shim.column(ZOrder2(Shim.expression(x.cast("long")), Shim.expression(y.cast("long"))))

  /** Oracle-checked z-value computation over events: the (user, time)
    * pair — the canonical clickstream layout (point-lookups by user,
    * range scans by time, both pruned by one z-sorted layout). */
  def zorderEvents(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    // ts is long nanos (Tables.table reads TIMESTAMP(NANOS) as long);
    // floor to epoch seconds — DuckDB's epoch_us(ts)//1000000 equivalent
    e.select(col("event_id"),
      zValue(col("user_id"), expr("ts DIV 1000000000")).as("zval"))
  }
}
