package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is configured. Every main and the test
  * harness start from this builder, so Verify, Bench and the tools all
  * plan and run the same engine: `local[cpus]`, one shuffle partition per
  * core, UTC session time, no UI, and the shipped [[plans.GraftExtensions]]
  * (AQE stays at Spark's default, on). A caller that really differs adds
  * its settings to the returned builder. */
object Session {
  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new plans.GraftExtensions)

  /** Core count: `SPARK_GRAFT_CPUS` when set, else `default`. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.trim.toInt)
}
