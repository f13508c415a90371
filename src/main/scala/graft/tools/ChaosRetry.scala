package graft.tools

import org.apache.spark.{ShuffleDependency, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
import org.apache.spark.sql.DataFrame

/**
 * Task-retry determinism probe — the locally-executable slice of the
 * ROADMAP Day-3 chaos plan. Full executor loss needs a real cluster, but
 * Spark's recomputation machinery (task re-attempt, upstream shuffle-
 * output reuse) is exercised by `local[N,F]` masters with F>1: a task
 * that throws on attempt 0 is re-launched, and the job's RESULT must be
 * identical to the uninjected run for every plan family we ship.
 *
 * Methodology note: both arms run the SAME wrapped plan (input routed
 * through an RDD hop), with injection merely toggled — comparing a
 * wrapped run to the bare parquet plan would also change partitioning
 * and double-sum evaluation order, conflating plan shape with retry
 * effects. A static counter (same-JVM local mode) certifies each
 * injected arm actually failed-and-retried at least once; accumulators
 * can't do this because failed-task updates are discarded.
 *
 * Families: window+running-sum (sessionize→metrics), join+agg (BM25),
 * iterative label propagation (near-dup components), shuffle agg (exact
 * dedup groups) — plus a final-stage injection on the sessionize family,
 * which retries the RESULT stage against reused shuffle map outputs.
 *
 * Usage: runMain graft.tools.ChaosRetry <sfDir>
 * Output: one JSON line per family {"family":…,"rows":…,"injected_failures":…,
 * "match":…}; exits nonzero on any mismatch or if an injection never fired.
 */
object ChaosRetry {

  /** Injection census — a static AtomicLong incremented from task
    * threads via closure capture. The capture only reaches THIS object's
    * field because local mode runs tasks in the driver JVM (guarded in
    * main); on a real master each executor would bump its own copy and
    * the driver-side count would stay 0, flagging every family as
    * "injection never fired". Atomic (not `@volatile var +=`) because
    * local[8] runs 8 task threads — a torn read-modify-write could
    * under-count and spuriously fail the `fired >= 1` gate. */
  val injectedFailures = new java.util.concurrent.atomic.AtomicLong

  private def firedCount: Long = injectedFailures.get()

  /** Route `df` through an RDD hop whose first-scheduled partition throws
    * on task attempt 0 when `inject` is set. The hop is present in BOTH
    * arms so the compared plans are identical; only the failure differs. */
  private def hop(df: DataFrame, inject: Boolean): DataFrame = {
    val schema = df.schema
    val doInject = inject // avoid capturing the DataFrame in the closure
    val rdd = df.rdd.mapPartitions { it =>
      val tc = TaskContext.get()
      if (doInject && tc.partitionId() == 0 && tc.attemptNumber() == 0) {
        injectedFailures.incrementAndGet()
        throw new RuntimeException("chaos: injected transient task failure")
      }
      it
    }
    df.sparkSession.createDataFrame(rdd, schema)
  }

  /** Shuffle ids the plan's RESULT stage reads: walk the RDD lineage from
    * the top, stopping at the first ShuffleDependency on each branch. */
  private def resultStageShuffles(rdd: RDD[_]): Seq[Int] =
    rdd.dependencies.flatMap {
      case s: ShuffleDependency[_, _, _] => Seq(s.shuffleId)
      case d => resultStageShuffles(d.rdd)
    }

  /** Route `df` through a reduce-side hop that, on the FIRST attempt of
    * the result stage, throws a real FetchFailedException naming the
    * upstream shuffle's (mapIndex 0, this block manager) output. The
    * DAGScheduler then unregisters that map output and RESUBMITS the map
    * stage — the machinery a lost executor triggers on a cluster, which
    * plain task-retry injection (RuntimeException) never reaches. The
    * throw is keyed on stageAttemptNumber == 0, so the resubmitted stage
    * passes through. `inject = false` builds the identical plan unfired. */
  private def fetchFailHop(df: DataFrame, inject: Boolean): DataFrame = {
    val schema = df.schema
    // .rdd finalizes the AQE plan, materializing every exchange: upstream
    // map outputs are computed and REGISTERED before the result job runs,
    // so the injected failure invalidates a genuinely reused output
    val base = df.rdd
    val shuffles = resultStageShuffles(base)
    require(shuffles.nonEmpty || !inject,
      "fetchFailHop needs a shuffle below the result stage")
    val doInject = inject
    val shuffleId = if (shuffles.nonEmpty) shuffles.head else -1
    val rdd = base.mapPartitions { it =>
      val tc = TaskContext.get()
      if (doInject && tc.partitionId() == 0 && tc.stageAttemptNumber() == 0) {
        injectedFailures.incrementAndGet()
        throw org.apache.spark.sql.graftshim.Shim.fetchFailed(shuffleId)
      }
      it
    }
    df.sparkSession.createDataFrame(rdd, schema)
  }

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = graft.Session.builder(8)
      // local[8,3]: 8 task threads, tasks may fail twice before the job
      // aborts — the injected attempt-0 throw is absorbed by a retry
      .master("local[8,3]")
      // The fetchfail families name THIS block manager in the injected
      // FetchFailedException, so the scheduler's executor-lost handling
      // deregisters the lone local block manager; any task result big
      // enough to ship as an indirect block (>1 MB default) then dies
      // with TaskResultLost on every retry. Direct-ship results instead —
      // collects here are a few MB, far under the RPC frame cap.
      .config("spark.task.maxDirectResultSize", "64m")
      .getOrCreate()
    // The whole injection-census scheme (closure-captured static counter)
    // only observes task-side increments because local mode shares one
    // JVM; a pre-existing session on a real master would leave the
    // counter at 0 and mis-report every family as "never fired".
    require(spark.sparkContext.isLocal,
      "ChaosRetry's injection counter requires a local master — " +
        s"got ${spark.sparkContext.master}")
    spark.sparkContext.setLogLevel("ERROR")

    val events = graft.Tables.clickstream(spark, dir)
    val docs = graft.Tables.documents(spark, dir)

    // each family is (name, build): build wires the wrapped input through
    // the real operator; for the output-stage family the hop sits on the
    // RESULT instead, so the retried task re-fetches upstream shuffle
    // output rather than recomputing the scan
    val families: Seq[(String, Boolean => DataFrame)] = Seq(
      "window_sessionize" -> ((inject: Boolean) =>
        graft.analytics.Sessionize.sessionMetrics(
          graft.analytics.Sessionize(hop(events, inject)))),
      "join_bm25" -> ((inject: Boolean) =>
        graft.ext.TextAnalysis.bm25(hop(docs, inject))),
      "iterative_components" -> ((inject: Boolean) =>
        graft.ext.Dedup.nearDupComponents(hop(docs, inject))),
      "shuffle_agg_dedup" -> ((inject: Boolean) =>
        graft.ext.Dedup.exactGroups(hop(docs, inject))),
      "result_stage_sessionize" -> ((inject: Boolean) =>
        hop(graft.analytics.Sessionize.sessionMetrics(
          graft.analytics.Sessionize(events)), inject)))

    def rows(df: DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq

    var failed = false
    families.foreach { case (name, build) =>
      val clean = rows(build(false))
      val before = firedCount
      val chaotic = rows(build(true))
      val fired = firedCount - before
      val ok = clean == chaotic && fired >= 1
      if (!ok) failed = true
      println(s"""{"family":"$name","rows":${clean.size},""" +
        s""""injected_failures":$fired,"match":${clean == chaotic}}""")
      if (clean != chaotic)
        clean.zipAll(chaotic, "<missing>", "<missing>")
          .filter(p => p._1 != p._2).take(5)
          .foreach(p => System.err.println(s"[chaos] $name diff: ${p._1} <> ${p._2}"))
    }
    // -- FetchFailed-driven map-stage resubmission (was filed cluster-only;
    // the DAGScheduler path — unregister map output, resubmit map stage,
    // retry reduce — runs fine in one JVM when a reducer throws a real
    // FetchFailedException naming a registered shuffle output) --
    val stageRetries = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        if (s.stageInfo.attemptNumber() > 0) stageRetries.incrementAndGet()
    })
    val fetchFamilies: Seq[(String, Boolean => DataFrame)] = Seq(
      "fetchfail_sessionize" -> ((inject: Boolean) =>
        fetchFailHop(graft.analytics.Sessionize.sessionMetrics(
          graft.analytics.Sessionize(events)), inject)),
      "fetchfail_bm25" -> ((inject: Boolean) =>
        fetchFailHop(graft.ext.TextAnalysis.bm25(docs), inject)),
      "fetchfail_dedup" -> ((inject: Boolean) =>
        fetchFailHop(graft.ext.Dedup.exactGroups(docs), inject)),
      "fetchfail_components" -> ((inject: Boolean) =>
        fetchFailHop(graft.ext.Dedup.nearDupComponents(docs), inject)))
    fetchFamilies.foreach { case (name, build) =>
      val clean = rows(build(false))
      val beforeFired = firedCount
      val beforeRetries = stageRetries.get()
      val chaotic = rows(build(true))
      // listener events are posted asynchronously; drain before reading
      org.apache.spark.sql.graftshim.Shim.drainListenerBus(spark)
      val fired = firedCount - beforeFired
      val retries = stageRetries.get() - beforeRetries
      // fired ≥ 1 proves the FetchFailed was thrown; retries ≥ 1 proves
      // the scheduler actually resubmitted a stage in response (the map
      // stage, and typically the retried reduce stage too)
      val ok = clean == chaotic && fired >= 1 && retries >= 1
      if (!ok) failed = true
      println(s"""{"family":"$name","rows":${clean.size},""" +
        s""""injected_failures":$fired,"stage_retries":$retries,""" +
        s""""match":${clean == chaotic}}""")
      if (clean != chaotic)
        clean.zipAll(chaotic, "<missing>", "<missing>")
          .filter(p => p._1 != p._2).take(5)
          .foreach(p => System.err.println(s"[chaos] $name diff: ${p._1} <> ${p._2}"))
    }

    // -- Streaming stateful task retry: a task that fails INSIDE the
    // stateful stage (the mapPartitions hook below is narrow, so it lands
    // in the same post-shuffle stage as the flatMapGroupsWithState
    // operator) forces the state store to ABORT the uncommitted version
    // and the retried task to rebuild it — the exactly-once contract a
    // lost executor leans on. The gate: injected and clean runs emit
    // byte-identical session rows. --
    locally {
      import spark.implicits._
      val streamDir = java.nio.file.Files.createTempDirectory("chaos-stream").toString
      val evSlim = events.select(
        org.apache.spark.sql.functions.col("visitorid").cast("string"),
        org.apache.spark.sql.functions.col("event_time").cast("timestamp"))
      evSlim.write.mode("overwrite").parquet(streamDir)
      val schema = evSlim.schema

      def runStreaming(inject: Boolean): Seq[String] = {
        val src = spark.readStream.schema(schema).parquet(streamDir)
          .as[graft.stream.SessionEvent]
        val doInject = inject
        val hooked = graft.stream.GlobalSessions
          .flatMapGroupsWithStateSessions(spark, src)
          .mapPartitions { it =>
            // fires once per TASK (not per row): partition 0 must inject
            // even when it emits no closed session
            val tc = TaskContext.get()
            if (doInject && tc.partitionId() == 0 && tc.attemptNumber() == 0) {
              injectedFailures.incrementAndGet()
              throw new RuntimeException("chaos: injected stateful-task failure")
            }
            it
          }
        val out = scala.collection.mutable.Buffer[String]()
        val ckpt = java.nio.file.Files
          .createTempDirectory(s"chaos-stream-ckpt-$inject").toString
        val q = hooked.toDF().writeStream.outputMode("append")
          .foreachBatch { (b: DataFrame, _: Long) =>
            out.synchronized { out ++= b.collect().map(_.toString); () }
          }
          .option("checkpointLocation", ckpt).start()
        try q.processAllAvailable() finally q.stop()
        out.synchronized(out.sorted.toSeq)
      }

      val clean = runStreaming(inject = false)
      val before = firedCount
      val chaotic = runStreaming(inject = true)
      val fired = firedCount - before
      val ok = clean.nonEmpty && clean == chaotic && fired >= 1
      if (!ok) failed = true
      println(s"""{"family":"streaming_stateful_sessions","rows":${clean.size},""" +
        s""""injected_failures":$fired,"match":${clean == chaotic}}""")
      if (clean != chaotic)
        clean.zipAll(chaotic, "<missing>", "<missing>")
          .filter(p => p._1 != p._2).take(5)
          .foreach(p => System.err.println(s"[chaos] streaming diff: ${p._1} <> ${p._2}"))
    }

    spark.stop()
    if (failed) sys.exit(1)
  }
}
