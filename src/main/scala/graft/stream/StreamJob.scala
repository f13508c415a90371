package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.analytics._
import graft.clean.CleanStage

/**
 * The streaming wrapper (T1/T2, stream_processor.py:385-408): a Kafka (or
 * any streaming) source dispatched per micro-batch into the 10 batch
 * analyses, each written through a pluggable sink.
 *
 * Parity semantics reproduced deliberately (SURVEY.md §2.7): every analysis
 * sees ONLY the micro-batch, so sessions split at batch boundaries and
 * `session_id` collides across batches; per-minute tables get one row per
 * (minute, batch). [[GlobalSessions]] is the documented correct-mode
 * upgrade. One improvement over the reference is applied even in parity
 * mode: the sessionized frame is persisted and shared by its three
 * consumers instead of being recomputed (stream_processor.py:394-396).
 */
object StreamJob {

  /** Output table names, mirroring the reference's 10 PostgreSQL sinks. */
  val tables: Seq[String] = Seq(
    "sessions", "user_paths", "funnel_analysis", "events_per_minute",
    "active_users", "event_type_distribution", "bounce_rate",
    "top_items", "item_interactions", "most_viewed_items")

  /**
   * Per-micro-batch orchestration (== run_all_analyses). `sink(df, table)`
   * receives each result; production wires JDBC append, tests collect.
   *
   * The batch is persisted for the duration of the fan-out: a foreachBatch
   * DataFrame is a plan over the trigger's source slice, not materialized
   * rows, so each of the 8 analyses that consume `batch` directly would
   * otherwise re-read and re-parse the source per action. Measured at
   * sf10 (200k-event batches): 48.9k → 66.4k events/s end-to-end
   * (PLANS.md round-10 §7). MEMORY_AND_DISK spills rather than evicting
   * if a trigger outgrows executor storage.
   *
   * The analyses run one after another in [[tables]] order, as the
   * reference's run_all_analyses does. A sink that throws stops the
   * fan-out there: later tables are not computed, the exception
   * propagates unchanged, and both persisted frames are released.
   */
  def runAllAnalyses(batch: DataFrame, batchId: Long, steps: Seq[String])(
      sink: (DataFrame, String) => Unit): Unit = {
    val b = batch.persist()
    val sessionized = Sessionize(b).persist()
    val work: Seq[(String, () => DataFrame)] = Seq(
      "sessions" -> (() => Sessionize.sessionMetrics(sessionized)),
      "user_paths" -> (() => UserPaths(sessionized)),
      "funnel_analysis" -> (() => Funnel.countsWithProvenance(sessionized, steps, batchId)),
      "events_per_minute" -> (() => MinuteStats.eventsPerMinute(b)),
      "active_users" -> (() => MinuteStats.activeUsers(b)),
      "event_type_distribution" -> (() => MinuteStats.eventTypeDistribution(b)),
      "bounce_rate" -> (() => MinuteStats.bounceRate(b)),
      "top_items" -> (() => Items.topItemsPerMinute(b)),
      "item_interactions" -> (() => Items.itemInteractions(b)),
      "most_viewed_items" -> (() => Items.mostViewedItems(b)))
    try work.foreach { case (t, f) => sink(f(), t) }
    finally { sessionized.unpersist(); b.unpersist(); () }
  }

  /**
   * Kafka streaming source + envelope parse (S5 + P1 + P2,
   * stream_processor.py:55-70). Requires the spark-sql-kafka connector on
   * the classpath at runtime (not shipped in this test container — the
   * parse stage is batch-tested through [[CleanStage.parseKafkaEnvelope]]).
   */
  def readKafka(spark: SparkSession, bootstrapServers: String,
                topic: String = "clean_clickstream"): DataFrame = {
    val raw = spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .load()
    parseAndStamp(raw)
  }

  /**
   * File-backed envelope source: streams (key, value) JSONL dumps of the
   * clean topic — the broker-less twin of [[readKafka]] for object-store
   * backfill and replay (a topic archived to files re-enters the SAME
   * parse → enrich → analyses pipeline; only the connector line differs).
   * Also the piece that makes the full Kafka-shaped streaming DAG
   * executable end-to-end in environments without a broker, which is how
   * StreamingSpec exercises it.
   *
   * `maxFilesPerTrigger` paces replay: with the dump written as N
   * time-ranged slices, 1 file/trigger re-plays the archive as N
   * micro-batches in original event order — the knob perfbench's
   * `cap` and `sessions` drains use to feed the DAG a fixed backlog at a
   * controlled batch size.
   */
  def readEnvelopeFiles(spark: SparkSession, dir: String,
                        maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val kv = StructType(Seq(StructField("key", StringType), StructField("value", StringType)))
    val reader = spark.readStream.schema(kv)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    parseAndStamp(reader.json(dir))
  }

  /** The envelope parse plus the event-time stamp both readers share. */
  private def parseAndStamp(raw: DataFrame): DataFrame =
    CleanStage.parseKafkaEnvelope(raw)
      .withColumn("event_time",
        timestamp_millis(col("unix_timestamp").cast("long")))

  /** Start the foreachBatch pipeline over any streaming DataFrame. */
  def start(events: DataFrame, checkpointDir: String, steps: Seq[String])(
      sink: (DataFrame, String) => Unit): StreamingQuery =
    events.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        runAllAnalyses(batch, batchId, steps)(sink)
      }
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .start()

  /**
   * Stream-stream interval join: view→purchase attribution. Each view of
   * a visitor joins every purchase the SAME visitor makes inside
   * `[view_time, view_time + horizon]`.
   *
   * Both sides carry watermarks and the join condition bounds
   * `purchase_time` by `view_time` from BOTH directions, so Structured
   * Streaming can compute how long each side's rows can still match and
   * evict state: a view older than `watermark + horizon` and a purchase
   * older than `watermark` are dropped — state stays proportional to the
   * event rate × horizon, never to stream length. That bounded-state
   * range condition is the difference between a stream-stream join that
   * survives a year of uptime and one that OOMs; without it Spark rejects
   * the append-mode join outright.
   *
   * The same function applied to batch frames is the identical relational
   * join — q_view_purchase oracles exactly that against DuckDB.
   *
   * Skew note (batch form at corpus scale): output is views×purchases per
   * visitor inside the horizon, so a bot-grade hot visitor grows
   * quadratically. The mitigations compose upstream: quality-gate bot
   * visitors out, or decompose the time residual with the
   * [[graft.operators.RangeJoin]] binning so each (visitor, time-bucket)
   * pair bounds its match set.
   */
  def viewPurchaseAttribution(views: DataFrame, purchases: DataFrame,
                              horizon: String = "30 minutes",
                              watermark: String = "10 minutes",
                              streaming: Boolean = true,
                              joinType: String = "inner"): DataFrame = {
    val v0 = views.select(col("visitorid"), col("event_time").as("view_time"),
      col("itemid").as("view_item"))
    val p0 = purchases.select(col("visitorid").as("p_visitorid"),
      col("event_time").as("purchase_time"), col("itemid").as("purchase_item"))
    val (v, p) =
      if (streaming) (v0.withWatermark("view_time", watermark),
        p0.withWatermark("purchase_time", watermark))
      else (v0, p0)
    // left_outer: inner matches still emit eagerly; an UNMATCHED view can
    // only emit (with null purchase columns) once the watermark proves no
    // future purchase can land inside its horizon — output latency is the
    // price of a correct outer result on an unbounded stream
    v.join(p,
        col("visitorid") === col("p_visitorid") &&
          col("purchase_time") >= col("view_time") &&
          col("purchase_time") <= col("view_time") + expr(s"INTERVAL '$horizon'"),
        joinType)
      .select(col("visitorid"), col("view_item"), col("view_time"),
        col("purchase_item"), col("purchase_time"))
  }
}
