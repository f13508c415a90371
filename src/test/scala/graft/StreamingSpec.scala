package graft

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

import graft.schema.Schemas
import graft.stream.{GlobalSessions, SessionEvent, StreamJob}

// Top-level (NOT nested in the suite): Janino can't call accessors on a
// case class declared inside a test class, so MemoryStream encoders fall
// back to interpreter mode with a WARN stack trace in every suite run —
// top level keeps the tests on the codegen path the product uses.
case class StreamingEv(visitorid: String, event_time: java.sql.Timestamp,
                       event: String, itemid: String)

/** Pins the per-batch parity semantics (SURVEY.md §2.7) and the
  * correct-mode cross-batch sessionization upgrades. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private type Ev = StreamingEv
  private val Ev = StreamingEv

  test("foreachBatch parity: sessions split at batch boundaries, ids collide") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val results = mutable.Map[String, mutable.Buffer[Row]]()
    val dir = java.nio.file.Files.createTempDirectory("ckpt").toString
    val q = StreamJob.start(ms.toDF(), dir, Schemas.testdataFunnelSteps) { (df, table) =>
      results.getOrElseUpdate(table, mutable.Buffer()) ++= df.collect()
    }
    try {
      // one visitor, continuous activity split across two micro-batches
      ms.addData(Ev("u1", ts(100), "view", "i1"), Ev("u1", ts(200), "click", "i2"))
      q.processAllAvailable()
      ms.addData(Ev("u1", ts(300), "purchase", "i3"))
      q.processAllAvailable()
    } finally q.stop()

    assert(StreamJob.tables.forall(results.contains))
    val sessions = results("sessions")
    // parity quirk: ONE logical session emitted as TWO rows with the SAME id
    assert(sessions.size === 2)
    assert(sessions.map(_.getAs[String]("session_id")).toSet === Set("u1_1"))
    // funnel provenance columns stamped per batch
    val batchIds = results("funnel_analysis").map(_.getAs[Long]("batch_id")).sorted
    assert(batchIds === mutable.Buffer(0L, 1L))
  }

  test("sequential fan-out: a failing sink stops at its table and releases the persisted frames") {
    // runAllAnalyses calls the sink once per table in StreamJob.tables
    // order. A sink that throws mid-way must surface its own exception,
    // leave every later table uncomputed, and (through the finally) leave
    // no persisted batch or sessionized frame behind.
    val batch = Seq(
      ("u1", ts(100), "view", "i1"), ("u1", ts(200), "click", "i2"),
      ("u2", ts(150), "view", "i1"), ("u2", ts(240), "purchase", "i3"))
      .toDF("visitorid", "event_time", "event", "itemid")
    val failAt = StreamJob.tables.indexOf("event_type_distribution")
    val boom = new RuntimeException("sink down")
    val called = mutable.Buffer[String]()
    var cachedDuringFanOut = Set.empty[Int]
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val thrown = intercept[RuntimeException] {
      StreamJob.runAllAnalyses(batch, 1L, Schemas.testdataFunnelSteps) { (df, table) =>
        called += table
        if (table == StreamJob.tables(failAt)) throw boom
        df.collect()
        cachedDuringFanOut ++= spark.sparkContext.getPersistentRDDs.keySet -- before
      }
    }
    assert(thrown eq boom)
    assert(called.toSeq === StreamJob.tables.take(failAt + 1))
    // the check below has teeth only if the fan-out really cached something
    assert(cachedDuringFanOut.nonEmpty)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"persisted RDDs left behind: $leaked")
  }

  test("session_window (batch mode) merges what per-batch processing split") {
    val df = Seq(
      ("u1", ts(100)), ("u1", ts(200)), ("u1", ts(300)),  // one session
      ("u1", ts(300 + 1801)))                              // gap > 1800 -> second
      .toDF("visitorid", "event_time")
    val out = GlobalSessions.sessionWindow(df, streaming = false)
      .orderBy("session_start").collect()
    assert(out.length === 2)
    assert(out.head.getAs[Long]("events_in_session") === 3L)
    assert(out(1).getAs[Long]("events_in_session") === 1L)
  }

  test("stream-stream interval join: purchase attributes to views within the horizon") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val src = ms.toDF()
    val q = StreamJob.viewPurchaseAttribution(
        src.filter($"event" === "view"), src.filter($"event" === "purchase"),
        horizon = "30 minutes", watermark = "10 minutes")
      .writeStream.outputMode("append").format("memory").queryName("attrib").start()
    try {
      // view at t=100000; matching purchase 600 s later (inside horizon);
      // a view whose purchase arrives NEXT batch — the join's buffered
      // state must carry it across the batch boundary. (Timestamps sit
      // well above epoch 0: the initial watermark is epoch 0 and rows AT
      // it never emit.)
      ms.addData(
        Ev("u1", ts(100000), "view", "i1"), Ev("u1", ts(100600), "purchase", "i9"),
        Ev("u2", ts(105000), "view", "i2"),
        Ev("u1", ts(102000), "purchase", "i8")) // 2000 s after the view > horizon → NO match
      q.processAllAvailable()
      ms.addData(Ev("u2", ts(106000), "purchase", "i7"), // 1000 s after u2's view → match
        Ev("u3", ts(106100), "purchase", "i6"))          // no view at all → no row
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("attrib").collect()
      .map(r => (r.getAs[String]("visitorid"), r.getAs[String]("view_item"),
        r.getAs[String]("purchase_item"))).toSet
    assert(got === Set(("u1", "i1", "i9"), ("u2", "i2", "i7")))
  }

  test("left-outer interval join: unmatched view emits nulls only after the watermark closes its horizon") {
    implicit val sqlCtx = spark.sqlContext
    val msv = MemoryStream[Ev]; val msp = MemoryStream[Ev]
    val q = StreamJob.viewPurchaseAttribution(msv.toDF(), msp.toDF(),
        horizon = "30 minutes", watermark = "10 minutes", joinType = "left_outer")
      .writeStream.outputMode("append").format("memory").queryName("attrib_outer").start()
    def rows() = spark.table("attrib_outer").collect()
      .map(r => (r.getAs[String]("visitorid"),
        Option(r.getAs[String]("purchase_item")).orNull)).toSet
    try {
      msv.addData(Ev("u1", ts(100000), "view", "i1"))
      msp.addData(Ev("u9", ts(100000), "purchase", "ix")) // advances purchase-side watermark only
      q.processAllAvailable()
      // horizon still open (watermark ~ t-600): the unmatched view must NOT have emitted
      assert(rows() === Set.empty)
      // push both watermarks past view_time + horizon + delay = 100000+1800+600
      msv.addData(Ev("u8", ts(110000), "view", "iy"))
      msp.addData(Ev("u9", ts(110000), "purchase", "iz"))
      q.processAllAvailable()
      // one more batch: outer results emit on the trigger AFTER the
      // watermark advances (state eviction happens at batch start)
      msv.addData(Ev("u8", ts(110001), "view", "iy"))
      q.processAllAvailable()
      assert(rows().contains(("u1", null)), s"got ${rows()}")
    } finally q.stop()
  }

  test("file-backed envelope source drives the full Kafka-shaped DAG end-to-end") {
    // the broker-less twin of readKafka: (key, value) JSONL → envelope
    // parse → event_time enrich → foreachBatch fan-out into all analyses.
    // Everything the Kafka path runs except the connector line itself.
    val dir = java.nio.file.Files.createTempDirectory("envelopes").toString
    val ckpt = java.nio.file.Files.createTempDirectory("env_ckpt").toString
    def writeFile(name: String, rows: Seq[(String, String, String, Long)]): Unit = {
      val lines = rows.map { case (vis, ev, item, ms) =>
        val value = s"""{\\"timestamp\\":\\"t\\",\\"visitorid\\":\\"$vis\\",\\"event\\":\\"$ev\\",\\"itemid\\":\\"$item\\",\\"transactionid\\":null,\\"event_category\\":\\"c\\",\\"unix_timestamp\\":\\"$ms\\"}"""
        s"""{"key":"$vis","value":"$value"}"""
      }
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/$name"),
        lines.mkString("\n").getBytes("UTF-8"))
    }
    writeFile("b0.json", Seq(
      ("u1", "view", "i1", 100000000L), ("u1", "click", "i2", 100060000L)))
    val results = mutable.Map[String, mutable.Buffer[Row]]()
    val q = StreamJob.start(
      StreamJob.readEnvelopeFiles(spark, dir), ckpt, Schemas.testdataFunnelSteps) {
      (df, table) => results.getOrElseUpdate(table, mutable.Buffer()) ++= df.collect()
    }
    try {
      q.processAllAvailable()
      writeFile("b1.json", Seq(("u1", "purchase", "i3", 100120000L)))
      q.processAllAvailable()
    } finally q.stop()
    assert(StreamJob.tables.forall(results.contains))
    // the parse really produced typed events: sessions carry the visitor id
    val sessions = results("sessions")
    assert(sessions.nonEmpty &&
      sessions.forall(_.getAs[String]("session_id").startsWith("u1_")))
    // two micro-batches flowed (one per file)
    val batchIds = results("funnel_analysis").map(_.getAs[Long]("batch_id")).distinct.sorted
    assert(batchIds === mutable.Buffer(0L, 1L))
  }

  test("AvailableNow backfill: the query drains existing envelope files and terminates itself") {
    // the backfill mode for readEnvelopeFiles: process everything present,
    // then stop — a bounded batch job driven through the streaming engine
    // (same code path, same checkpoint semantics as the live stream)
    val dir = java.nio.file.Files.createTempDirectory("backfill").toString
    val ckpt = java.nio.file.Files.createTempDirectory("backfill_ckpt").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/a.json"),
      ("""{"key":"u1","value":"{\"timestamp\":\"t\",\"visitorid\":\"u1\",\"event\":\"view\",""" +
        """\"itemid\":\"i1\",\"transactionid\":null,\"event_category\":\"c\",\"unix_timestamp\":\"100000000\"}"}""")
        .getBytes("UTF-8"))
    val q = StreamJob.readEnvelopeFiles(spark, dir)
      .writeStream.outputMode("append").format("memory").queryName("backfill_t")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(60000), "AvailableNow query must self-terminate")
    val got = spark.table("backfill_t").collect()
    assert(got.length === 1 && got.head.getAs[String]("visitorid") === "u1")
  }

  test("file-source restart: the archive replay resumes at the committed file offset") {
    // operational recovery on the production-shaped archive path: the
    // MemoryStream restart test below pins the engine contract, this one
    // pins FileStreamSource's file-offset log under readEnvelopeFiles —
    // a relaunched replay must process only files added after the stop,
    // and the batch counter must continue.
    val dir = java.nio.file.Files.createTempDirectory("fsrestart").toString
    val ckpt = java.nio.file.Files.createTempDirectory("fsrestart_ckpt").toString
    def writeFile(name: String, vis: String, ms: Long): Unit = {
      val value = s"""{\\"timestamp\\":\\"t\\",\\"visitorid\\":\\"$vis\\",\\"event\\":\\"view\\",\\"itemid\\":\\"i1\\",\\"transactionid\\":null,\\"event_category\\":\\"c\\",\\"unix_timestamp\\":\\"$ms\\"}"""
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/$name"),
        s"""{"key":"$vis","value":"$value"}""".getBytes("UTF-8"))
    }
    val seen = mutable.Buffer[(Long, String)]()
    def launch() = StreamJob.readEnvelopeFiles(spark, dir).writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        batch.collect().foreach(r => seen.synchronized {
          seen += ((id, r.getAs[String]("visitorid"))); ()
        })
      }
      .option("checkpointLocation", ckpt).start()

    writeFile("f0.json", "u1", 100000000L)
    val q1 = launch()
    try q1.processAllAvailable() finally q1.stop()

    writeFile("f1.json", "u2", 100060000L)
    val q2 = launch()
    try q2.processAllAvailable() finally q2.stop()

    // u1's file was committed before the stop — not reprocessed; the new
    // file arrives in a batch whose id continues from the first run
    assert(seen.count(_._2 == "u1") === 1, s"got $seen")
    assert(seen.count(_._2 == "u2") === 1, s"got $seen")
    assert(seen.find(_._2 == "u2").get._1 > seen.find(_._2 == "u1").get._1)
  }

  test("checkpoint restart: a relaunched query resumes offsets, no batch replays") {
    // operational recovery semantics (S9): stop the query, start a NEW one
    // on the same checkpoint — committed offsets must not reprocess, and
    // the micro-batch counter must continue, not reset
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("restart_ckpt").toString
    val ms = MemoryStream[Ev]
    val seen = mutable.Buffer[(Long, String)]()
    def launch() = ms.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        batch.collect().foreach(r => seen.synchronized {
          seen += ((id, r.getAs[String]("itemid")))
        })
      }
      .option("checkpointLocation", ckpt).start()
    val q1 = launch()
    try {
      ms.addData(Ev("u1", ts(10), "view", "i1"))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(seen.toSeq === Seq((0L, "i1")))
    val q2 = launch()
    try {
      ms.addData(Ev("u1", ts(20), "view", "i2"))
      q2.processAllAvailable()
    } finally q2.stop()
    // i1 not replayed; the new data arrived under the NEXT batch id
    assert(seen.toSeq === Seq((0L, "i1"), (1L, "i2")))
  }

  test("exact-gap boundary: session_window MERGES two events exactly 1800.000000s apart") {
    // pins the inclusivity rule the q_global_sessions oracle depends on:
    // session_window extends a session through an event at exactly
    // start+gap (window end is the merge boundary, and merging applies at
    // equality), matching the oracle's strict `diff > 1800000000` split
    // predicate — NOT a >= rule
    val t1 = new java.sql.Timestamp(0L)
    val t2 = new java.sql.Timestamp(1800000L) // exactly gap seconds later
    val df = Seq(("u1", t1), ("u1", t2)).toDF("visitorid", "event_time")
    val out = GlobalSessions.sessionWindow(df, streaming = false).collect()
    assert(out.length === 1)
    assert(out.head.getAs[Long]("events_in_session") === 2L)
  }

  test("fractional gap in (1800,1801): session_window splits, floor-seconds parity mode merges") {
    // real gap 1800.7s; floor-seconds diff = 1800 (not > 1800).
    // The two sessionization modes INTENTIONALLY diverge here:
    // session_window works at full timestamp precision, the reference's
    // parity mode floors to seconds (stream_processor.py:88-99 semantics).
    val t1 = new java.sql.Timestamp(200)      // 0.2s
    val t2 = new java.sql.Timestamp(1800900)  // 1800.9s
    val df = Seq(("u1", t1), ("u1", t2)).toDF("visitorid", "event_time")
    assert(GlobalSessions.sessionWindow(df, streaming = false).count() === 2)
    val parity = df.withColumn("event", org.apache.spark.sql.functions.lit("view"))
      .withColumn("itemid", org.apache.spark.sql.functions.lit("i"))
    assert(graft.analytics.Sessionize(parity)
      .agg(org.apache.spark.sql.functions.max("session_number")).collect().head.getLong(0) === 1L)
  }

  test("streaming windowed events-per-minute emits finalized minutes after watermark") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val agg = graft.analytics.MinuteStats.eventsPerMinuteStreaming(
      ms.toDF(), watermark = "0 seconds")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("epm").start()
    try {
      ms.addData(Ev("u1", ts(10), "view", "i1"), Ev("u1", ts(20), "view", "i2"))
      q.processAllAvailable()
      // advance watermark past minute 0 so its window finalizes
      ms.addData(Ev("u2", ts(200), "view", "i3"))
      q.processAllAvailable()
      ms.addData(Ev("u2", ts(400), "view", "i4"))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("epm").collect()
      .map(r => (r.getTimestamp(0).getTime / 1000, r.getLong(1))).toMap
    assert(out.get(0L) === Some(2L))   // minute 0 finalized with both events
  }

  test("flatMapGroupsWithState closes sessions across batches exactly once") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[SessionEvent]
    val sessions = GlobalSessions.flatMapGroupsWithStateSessions(
      spark, ms.toDS(), gapSeconds = 1800L, watermark = "0 seconds")
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("closed_sessions").start()
    try {
      // batch 1+2: continuous activity for u1 across the batch boundary
      ms.addData(SessionEvent("u1", ts(100)), SessionEvent("u1", ts(200)))
      q.processAllAvailable()
      ms.addData(SessionEvent("u1", ts(300)))
      q.processAllAvailable()
      // batch 3: far-future event advances the watermark past u1's gap
      ms.addData(SessionEvent("u2", ts(100000)))
      q.processAllAvailable()
      // batch 4: another batch so the event-time timeout fires
      ms.addData(SessionEvent("u2", ts(100001)))
      q.processAllAvailable()
    } finally q.stop()

    val out = spark.table("closed_sessions")
      .filter($"visitorid" === "u1").collect()
    // exactly ONE session despite the batch split (the parity-mode bug fixed)
    assert(out.length === 1)
    assert(out.head.getAs[Long]("events_in_session") === 3L)
    assert(out.head.getAs[Long]("session_length") === 200L)
  }

  test("flatMapGroupsWithState ignores events behind the watermark instead of crashing") {
    // flatMapGroupsWithState does NOT auto-drop late rows (built-in
    // stateful operators do): an event behind the watermark must be
    // filtered inside the state function — folding it in would produce a
    // session whose timeout precedes the watermark, which the state store
    // rejects with an exception. session_window's semantics (drop) are
    // the parity target.
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[SessionEvent]
    val sessions = GlobalSessions.flatMapGroupsWithStateSessions(
      spark, ms.toDS(), gapSeconds = 1800L, watermark = "0 seconds")
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("late_drop_sessions").start()
    try {
      ms.addData(SessionEvent("u1", ts(1000)))
      q.processAllAvailable()
      // far-future event: watermark jumps hours past u1's gap boundary
      ms.addData(SessionEvent("u2", ts(100000)))
      q.processAllAvailable()
      // u1 event BEHIND the watermark — must be ignored, not folded into
      // (or reopen) the stale session
      ms.addData(SessionEvent("u1", ts(1100)))
      q.processAllAvailable()
      // one more batch so u1's event-time timeout fires and emits
      ms.addData(SessionEvent("u2", ts(100001)))
      q.processAllAvailable()
    } finally q.stop()

    val u1 = spark.table("late_drop_sessions")
      .filter($"visitorid" === "u1").collect()
    assert(u1.length === 1)
    // the late ts(1100) event was dropped: 1 event, zero length
    assert(u1.head.getAs[Long]("events_in_session") === 1L)
    assert(u1.head.getAs[Long]("session_length") === 0L)
  }

  test("stateful sessionization state survives a query restart") {
    // operational recovery of the CORRECT-mode path: the open-session
    // state must be restored from the checkpoint's state store, so an
    // event arriving after the restart continues the same session
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("sess_restart_ckpt").toString
    val ms = MemoryStream[SessionEvent]
    val emitted = mutable.Buffer[Row]()
    // memory sink refuses checkpoint recovery (not fault-tolerant) —
    // collect through foreachBatch, which is
    def launch() = GlobalSessions.flatMapGroupsWithStateSessions(
        spark, ms.toDS(), gapSeconds = 1800L, watermark = "0 seconds")
      .toDF()
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.collect().foreach(r => emitted.synchronized { emitted += r; () })
      }
      .option("checkpointLocation", ckpt).start()

    val q1 = launch()
    try {
      ms.addData(SessionEvent("u1", ts(100)), SessionEvent("u1", ts(200)))
      q1.processAllAvailable()
    } finally q1.stop()

    val q2 = launch()
    try {
      // continues u1's checkpointed open session, not a fresh one
      ms.addData(SessionEvent("u1", ts(300)))
      q2.processAllAvailable()
      ms.addData(SessionEvent("u2", ts(100000)))
      q2.processAllAvailable()
      ms.addData(SessionEvent("u2", ts(100001)))
      q2.processAllAvailable()
    } finally q2.stop()

    val u1 = emitted.synchronized {
      emitted.filter(_.getAs[String]("visitorid") == "u1").toSeq
    }
    assert(u1.length === 1, s"got $u1")
    assert(u1.head.getAs[Long]("events_in_session") === 3L)
    assert(u1.head.getAs[Long]("session_length") === 200L)
  }

  test("stateful sessionization runs on the RocksDB state store") {
    // the 100 TB state backend: HDFSBackedStateStore holds state in
    // executor heap maps; RocksDB is the production provider when state
    // outgrows memory. Certify the fMGWS machine (case-class state,
    // event-time timeouts) against it end-to-end.
    implicit val sqlCtx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[SessionEvent]
      val q = GlobalSessions.flatMapGroupsWithStateSessions(
          spark, ms.toDS(), gapSeconds = 1800L, watermark = "0 seconds")
        .writeStream.outputMode("append")
        .format("memory").queryName("rocksdb_sessions")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("rocksdb_ckpt").toString)
        .start()
      try {
        ms.addData(SessionEvent("u1", ts(100)), SessionEvent("u1", ts(200)))
        q.processAllAvailable()
        ms.addData(SessionEvent("u1", ts(300)))
        q.processAllAvailable()
        ms.addData(SessionEvent("u2", ts(100000)))
        q.processAllAvailable()
        ms.addData(SessionEvent("u2", ts(100001)))
        q.processAllAvailable()
        // the state operator really ran RocksDB (provider-specific metrics)
        val so = q.lastProgress.stateOperators
        assert(so.nonEmpty && so.head.customMetrics.keySet.toString.contains("rocksdb"),
          s"expected rocksdb custom metrics, got ${so.headOption.map(_.customMetrics)}")
      } finally q.stop()

      val u1 = spark.table("rocksdb_sessions")
        .filter($"visitorid" === "u1").collect()
      assert(u1.length === 1)
      assert(u1.head.getAs[Long]("events_in_session") === 3L)
      assert(u1.head.getAs[Long]("session_length") === 200L)
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("streaming sessionization across forced micro-batch cuts equals the batch result") {
    // the one semantics the batch oracles cannot certify: the CROSS-BATCH
    // state merge. Drive the real sf0.001 clickstream through
    // flatMapGroupsWithStateSessions in 4 arbitrary time-ordered chunks
    // (cuts land mid-session for many visitors), flush open state via
    // watermark-bumping sentinel batches, and require the closed-session
    // table to equal q_global_sessions' batch output row-for-row.
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val batchDf = Tables.clickstream(spark, "/root/testdata/sf0.001")
      .select(col("visitorid"), col("event_time"))
    // MemoryStream timestamps are interpreted in session-local time while
    // the NTZ batch frame is wall-clock text — feed epoch-derived
    // Timestamps to BOTH sides so the comparison is representation-free
    def ntzMillis(v: Any): Long = v match {
      case ldt: java.time.LocalDateTime =>
        ldt.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
      case t: java.sql.Timestamp => t.getTime
    }
    val evs = batchDf.collect()
      .map(r => SessionEvent(r.getString(0),
        new java.sql.Timestamp(ntzMillis(r.get(1)))))
      .sortBy(e => (e.event_time.getTime, e.visitorid))
    assert(evs.length > 500, s"fixture too small: ${evs.length}")
    val chunks = evs.grouped(math.max(1, evs.length / 4 + 1)).toSeq
    assert(chunks.length >= 3, "need >= 3 forced micro-batch cuts")

    val ms = MemoryStream[SessionEvent]
    val closed = mutable.Buffer[Row]()
    val ckpt = java.nio.file.Files.createTempDirectory("gs_equiv").toString
    val out = GlobalSessions.flatMapGroupsWithStateSessions(spark, ms.toDS())
    val q = out.toDF().writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch((df: org.apache.spark.sql.DataFrame, _: Long) =>
        closed ++= df.collect(): Unit)
      .start()
    try {
      chunks.foreach { c => ms.addData(c.toSeq); q.processAllAvailable() }
      // flush: sentinel far past maxTime + gap + watermark advances the
      // watermark (batch N), the NEXT batch fires the event-time timeouts
      val maxT = evs.last.event_time.getTime
      val sentinel = maxT + (1800L + 3600L + 60L) * 1000L
      ms.addData(SessionEvent("~wm~", new java.sql.Timestamp(sentinel)))
      q.processAllAvailable()
      ms.addData(SessionEvent("~wm~", new java.sql.Timestamp(sentinel + 1000L)))
      q.processAllAvailable()
    } finally q.stop()

    val streamed = closed
      .filter(_.getAs[String]("visitorid") != "~wm~")
      .map { r =>
        (r.getAs[String]("visitorid"),
          r.getAs[java.sql.Timestamp]("session_start").getTime,
          // ClosedSession.session_end = last event; session_window's end =
          // last event + gap — align to the batch convention
          r.getAs[java.sql.Timestamp]("session_end").getTime + 1800L * 1000L,
          r.getAs[Long]("events_in_session"))
      }.sortBy(t => (t._1, t._2))
    val batch = GlobalSessions.sessionWindow(batchDf, streaming = false)
      .collect()
      .map { r =>
        (r.getAs[String]("visitorid"),
          ntzMillis(r.get(r.fieldIndex("session_start"))),
          ntzMillis(r.get(r.fieldIndex("session_end"))),
          r.getAs[Long]("events_in_session"))
      }.sortBy(t => (t._1, t._2)).toSeq
    assert(streamed.size === batch.size,
      s"session count diverged: stream=${streamed.size} batch=${batch.size}")
    streamed.zip(batch).foreach { case (s, b) => assert(s === b) }
  }

  // Crash recovery certification (VERDICT r14 item 4), on BOTH state
  // providers: the stream dies MID-BATCH — the sink throws after
  // materializing rows, before the batch commit, which from the
  // checkpoint's perspective equals a process kill at that instant
  // (offsets WAL'd, commit log and durable state version absent). The
  // relaunch must replay the dead batch against the rolled-back state
  // version, re-emit the identical rows, and the recovered session table
  // must equal the batch twin — no session lost, none doubled. The
  // wall-time leg of the same certification (sf0.1 and sf10, both
  // providers) is recorded in RECOVERY_r15*.json and PLANS.md round-15
  // §1; this spec carries the batch-oracle leg.
  Seq("hdfs", "rocksdb").foreach { provider =>
    test(s"crash mid-batch ($provider): checkpoint recovery loses no session, doubles none") {
      implicit val sqlCtx = spark.sqlContext
      val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      // no-data micro-batches OFF: after chunk 0's batch the watermark
      // advance would otherwise run an empty batch with id 1 and the
      // injected crash would fire there (outside the intercept, on a batch
      // with no state work to replay). With them off, batch ids map 1:1 to
      // data batches — the crash batch carries real session state — and
      // event-time timeouts fire on the sentinel DATA batches instead.
      spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      if (provider == "rocksdb") {
        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        // changelog checkpointing is the at-scale config: commits upload
        // deltas, snapshots go async — the recovery path that matters
        spark.conf.set(
          "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      }
      try {
        val batchDf = Tables.clickstream(spark, "/root/testdata/sf0.001")
          .select(col("visitorid"), col("event_time"))
        def ntzMillis(v: Any): Long = v match {
          case ldt: java.time.LocalDateTime =>
            ldt.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
          case t: java.sql.Timestamp => t.getTime
        }
        val evs = batchDf.collect()
          .map(r => SessionEvent(r.getString(0),
            new java.sql.Timestamp(ntzMillis(r.get(1)))))
          .sortBy(e => (e.event_time.getTime, e.visitorid))
        val chunks = evs.grouped(math.max(1, evs.length / 4 + 1)).toSeq
        assert(chunks.length >= 3, "need a batch after the crash batch")

        val ms = MemoryStream[SessionEvent]
        val perBatch = mutable.Map[Long, Seq[Row]]()
        val invocations = mutable.Map[Long, Int]()
        val crashArmed = new java.util.concurrent.atomic.AtomicBoolean(true)
        val ckpt = java.nio.file.Files.createTempDirectory(s"crash_ckpt_$provider").toString
        def launch() = GlobalSessions.flatMapGroupsWithStateSessions(spark, ms.toDS())
          .toDF().writeStream.outputMode("append")
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
            val rows = df.collect().toSeq
            perBatch.synchronized {
              // keyed overwrite = the idempotent sink foreachBatch requires
              perBatch(id) = rows
              invocations(id) = invocations.getOrElse(id, 0) + 1
            }
            if (id == 1L && crashArmed.getAndSet(false))
              throw new RuntimeException(
                "injected crash: sink wrote, batch never committed")
            ()
          }
          .option("checkpointLocation", ckpt).start()

        // batch 0 commits; batch 1 dies mid-flight after the sink's write
        val q1 = launch()
        try {
          ms.addData(chunks(0).toSeq); q1.processAllAvailable()
          ms.addData(chunks(1).toSeq)
          intercept[Exception] { q1.processAllAvailable() }
        } finally q1.stop()
        val (crashRows, crashCount) = perBatch.synchronized {
          (perBatch.get(1L), invocations.getOrElse(1L, 0))
        }
        assert(crashCount === 1, s"crash batch should have run once, ran $crashCount")

        // relaunch on the same checkpoint: batch 1 replays first (its
        // offsets are WAL'd, its commit is not), then the rest streams
        val q2 = launch()
        try {
          chunks.drop(2).foreach { c => ms.addData(c.toSeq); q2.processAllAvailable() }
          val maxT = evs.last.event_time.getTime
          val sentinel = maxT + (1800L + 3600L + 60L) * 1000L
          ms.addData(SessionEvent("~wm~", new java.sql.Timestamp(sentinel)))
          q2.processAllAvailable()
          ms.addData(SessionEvent("~wm~", new java.sql.Timestamp(sentinel + 1000L)))
          q2.processAllAvailable()
        } finally q2.stop()

        val (replayRows, totalCount) = perBatch.synchronized {
          (perBatch.get(1L), invocations.getOrElse(1L, 0))
        }
        // the dead batch really re-executed, and deterministically: same
        // input range + rolled-back state version => identical emissions
        assert(totalCount === 2, s"crash batch should have replayed, ran $totalCount")
        assert(replayRows.get.map(_.toString).sorted ===
          crashRows.get.map(_.toString).sorted, "replay emitted different rows")

        val streamed = perBatch.synchronized { perBatch.values.flatten.toSeq }
          .filter(_.getAs[String]("visitorid") != "~wm~")
          .map { r =>
            (r.getAs[String]("visitorid"),
              r.getAs[java.sql.Timestamp]("session_start").getTime,
              r.getAs[java.sql.Timestamp]("session_end").getTime + 1800L * 1000L,
              r.getAs[Long]("events_in_session"))
          }.sortBy(t => (t._1, t._2))
        assert(streamed.size === streamed.distinct.size, "a session was doubled")
        val batch = GlobalSessions.sessionWindow(batchDf, streaming = false)
          .collect()
          .map { r =>
            (r.getAs[String]("visitorid"),
              ntzMillis(r.get(r.fieldIndex("session_start"))),
              ntzMillis(r.get(r.fieldIndex("session_end"))),
              r.getAs[Long]("events_in_session"))
          }.sortBy(t => (t._1, t._2)).toSeq
        assert(streamed.size === batch.size,
          s"session count diverged after recovery: stream=${streamed.size} batch=${batch.size}")
        streamed.zip(batch).foreach { case (s, b) => assert(s === b) }
      } finally {
        spark.conf.unset("spark.sql.streaming.noDataMicroBatches.enabled")
        prev match {
          case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
          case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        }
        if (provider == "rocksdb")
          spark.conf.unset(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
      }
    }
  }
}
