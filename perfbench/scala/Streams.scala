package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.json4s.jackson.JsonMethods.parse

import graft.analytics.{Items, MinuteStats}
import graft.clean.CleanStage
import graft.schema.Schemas
import graft.sink.Sinks
import graft.sources.Replay
import graft.stream.{GlobalSessions, StreamJob}
import org.apache.spark.perfbenchshim.Bus

/** The `stream_reference` workload, three phases over two archives made
  * from the same generator: the open archive (one small file per release
  * slot) and the drain archive (a fixed number of larger files).
  *
  *  - `open`: the reference DAG through `StreamJob.start` (envelope parse →
  *    the ten analyses per micro-batch → JDBC append into embedded Derby)
  *    watches a directory; after a first trigger over a few drain files,
  *    an outside releaser moves one open-archive file into it per release
  *    slot, on a fixed schedule.
  *  - `cap`: the same DAG drains the drain archive pre-staged as a backlog,
  *    closed loop, at a fixed number of files per trigger.
  *  - `sessions`: correct-mode `GlobalSessions.sessionWindow` in streaming
  *    mode drains the same backlog (whose events arrive out of order, within
  *    the watermark) followed by two watermark-flush sentinels, so every
  *    session closes and the result can equal the batch twin. Its first
  *    trigger is also the query's first in the JVM.
  *
  * All reference phases append into one Derby database whose ten tables
  * the open phase's first trigger (over a few drain files, before the
  * release starts) creates; each phase's rows are read back for the checks
  * and deleted before the next phase starts.
  */
object Streams {
  import Harness._

  val Sentinel = "~wm~"
  val Sink: Sinks.JdbcConfig = Sinks.JdbcConfig("jdbc:derby:memory:perfbench;create=true", "", "",
    driver = "org.apache.derby.jdbc.EmbeddedDriver")

  /** Progress and sink-call records of one stream query, labelled with
    * the phase running when they happened. */
  final class Recorder(@volatile var phase: String) extends StreamingQueryListener {
    // (phase, StreamingQueryProgress.json)
    val progress = mutable.ArrayBuffer.empty[(String, String)]
    val sinkCalls = mutable.ArrayBuffer.empty[Map[String, Any]]
    val sessionRows = mutable.HashMap.empty[Long, Seq[String]]
    var persistPeak = 0L
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized { progress += ((phase, e.progress.json)) }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Clean the raw archives (`CleanStage`), stamp each open-archive event
    * with its release offset, wrap every event as a Kafka envelope
    * (`Replay.kafkaEnvelope`) and write one JSON-lines file per raw file
    * into `staging`. Returns the clean events with their `archive_file`. */
  def buildArchive(spark: SparkSession, rawDir: String, staging: File, intervalMs: Long): DataFrame = {
    val raw = Replay.readRawCsv(spark, s"$rawDir/*.csv")
      .withColumn("archive_file", regexp_extract(input_file_name(), "((slot|drain)-\\d+)\\.csv", 1))
    val clean = CleanStage(raw)
    val release = when(col("archive_file").startsWith("slot-"),
      substring(col("archive_file"), 6, 5).cast("long") * intervalMs)
    val stamped = clean.select(
      (Schemas.clean.fieldNames.toSeq.map(col) :+ release.as("release_offset_ms") :+ col("archive_file")): _*)
    val rows = Replay.kafkaEnvelope(stamped)
      .withColumn("archive_file", get_json_object(col("value"), "$.archive_file"))
      .collect()
    staging.mkdirs()
    rows.groupBy(_.getString(2)).foreach { case (file, rs) =>
      val lines = rs.map(r => toJson(Map("key" -> r.getString(0), "value" -> r.getString(1))))
      Files.write(new File(staging, s"$file.json").toPath, lines.toSeq.asJava)
    }
    clean
  }

  /** Envelope files carrying events far past the archive's end: they move
    * the watermark beyond every session, so all of them close. */
  def writeSentinels(staging: File, maxMs: Long, n: Int): Seq[String] = (0 until n).map { i =>
    val ms = maxMs + (1800L + 3600L + 60L + i) * 1000L
    val v = toJson(Map("timestamp" -> "t", "visitorid" -> Sentinel, "event" -> "view", "itemid" -> "i",
      "event_category" -> "Low Value", "unix_timestamp" -> ms.toString))
    val name = f"sentinel-$i%02d.json"
    Files.writeString(new File(staging, name).toPath, toJson(Map("key" -> Sentinel, "value" -> v)) + "\n")
    name
  }

  def startQuery(spark: SparkSession, sessions: Boolean, dir: File, ckpt: File,
                 maxFiles: Option[Int], rec: Recorder, trace: Boolean): StreamingQuery = {
    val sc = spark.sparkContext
    val events = StreamJob.readEnvelopeFiles(spark, dir.getPath, maxFiles)
    if (!sessions) {
      StreamJob.start(events, ckpt.getPath, Schemas.referenceFunnelSteps) { (df, table) =>
        val batch = Option(sc.getLocalProperty(BatchIdKey)).map(_.toLong).getOrElse(-1L)
        val phase = rec.phase
        if (trace) sc.setLocalProperty(SpanKey, s"sink:$phase:$batch:$table")
        val start = now()
        var ok = false
        try { Sinks.jdbcAppendArrays(df, table, Sink); ok = true }
        finally {
          val end = now()
          val cpu = cpuMs()
          if (trace) {
            sc.setLocalProperty(SpanKey, null)
            val cached = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
            rec.synchronized { rec.persistPeak = math.max(rec.persistPeak, cached) }
          }
          rec.synchronized {
            rec.sinkCalls += Map("phase" -> phase, "batch" -> batch, "table" -> table,
              "start" -> start, "end" -> end, "cpu_end" -> cpu, "ok" -> ok)
          }
        }
      }
    } else {
      GlobalSessions.sessionWindow(events.select(col("visitorid"), col("event_time")))
        .writeStream.outputMode("append")
        .foreachBatch { (df: DataFrame, batch: Long) =>
          val rows = canonRows(df)
          rec.synchronized { rec.sessionRows(batch) = rows }
          ()
        }
        .option("checkpointLocation", ckpt.getPath)
        .start()
    }
  }

  /** file name -> batch id, from the file source's metadata log. */
  def filesPerBatch(ckpt: File): Seq[(String, Long)] = {
    val log = new File(ckpt, "sources/0")
    val pat = """"path":"([^"]+)".*"batchId":(\d+)""".r
    Option(log.listFiles).toSeq.flatten.filter(f => f.isFile && !f.getName.startsWith(".")).flatMap { f =>
      Files.readAllLines(f.toPath).asScala.flatMap(l => pat.findFirstMatchIn(l)
        .map(m => (new File(new java.net.URI(m.group(1)).getPath).getName, m.group(2).toLong)))
    }.distinct
  }

  /** Copy `names` from `staging` into a fresh backlog directory with
    * increasing modification times, so the file source replays them in
    * order. */
  def copyBacklog(staging: File, backlog: File, names: Seq[String]): Unit = {
    backlog.mkdirs()
    val t0 = System.currentTimeMillis() - names.size
    names.zipWithIndex.foreach { case (name, i) =>
      val dst = new File(backlog, name)
      Files.copy(new File(staging, name).toPath, dst.toPath, StandardCopyOption.REPLACE_EXISTING)
      dst.setLastModified(t0 + i)
    }
  }

  /** Closed-loop drain of a pre-staged backlog; returns (seconds, records). */
  def drain(spark: SparkSession, sessions: Boolean, staging: File, work: File, phase: String,
            names: Seq[String], filesPerTrigger: Int, trace: Boolean): (Double, Recorder) = {
    val rec = new Recorder(phase)
    spark.streams.addListener(rec)
    val backlog = new File(work, s"$phase-backlog")
    copyBacklog(staging, backlog, names)
    val t0 = System.nanoTime()
    val q = startQuery(spark, sessions, backlog, new File(work, s"$phase-ckpt"),
      Some(filesPerTrigger), rec, trace)
    try q.processAllAvailable() finally q.stop()
    val secs = (System.nanoTime() - t0) / 1e9
    Bus.drain(spark)
    spark.streams.removeListener(rec)
    (secs, rec)
  }

  /** Run `f` on a connection to the sink database. */
  def withSink[T](f: java.sql.Statement => T): T = {
    val c = java.sql.DriverManager.getConnection(Sink.url)
    try f(c.createStatement()) finally c.close()
  }

  /** Each sink table whose rows add up over triggers: its keys, its count
    * column, and the batch computation the sum must equal. */
  val Additive: Seq[(String, Seq[String], String, DataFrame => DataFrame)] = Seq(
    ("events_per_minute", Seq("minute"), "events_count", MinuteStats.eventsPerMinute),
    ("event_type_distribution", Seq("minute", "event"), "event_count", MinuteStats.eventTypeDistribution),
    ("top_items", Seq("minute", "itemid"), "interactions", Items.topItemsPerMinute),
    ("item_interactions", Seq("itemid"), "interaction_count", Items.itemInteractions),
    ("most_viewed_items", Seq("itemid"), "view_count", Items.mostViewedItems(_)),
    ("sessions", Seq("visitorid"), "events_in_session",
      _.groupBy("visitorid").agg(count(lit(1)).as("events_in_session"))))

  def run(o: Opts, work: File, out: Out): Unit = {
    val trace = o("trace") == "1"
    val intervalMs = o("interval_ms").toLong
    val fpt = o.int("files_per_trigger")
    val slots = (0 until o.int("slots")).map(i => f"slot-$i%05d.json")
    val drainFiles = (0 until o.int("drain_files")).map(i => f"drain-$i%05d.json")
    val rawDir = new File(work, "raw").getPath
    val staging = new File(work, "staging")
    val outDir = new File(work, "outputs"); outDir.mkdirs()
    def dump(name: String, rows: Seq[String]): Unit =
      Files.write(new File(outDir, s"$name.txt").toPath, rows.asJava)
    val (spark, clean) = repeatedSetup(o.int("setups"), out) { () =>
      val s = session(o.int("cores"), work)
      s.range(1000000).selectExpr("sum(id)").collect()
      (s, buildArchive(s, rawDir, staging, intervalMs))
    }
    env(spark, out)
    val archive = clean.cache()
    // the open query first reads one trigger's worth of drain files, as warm-up
    val primer = drainFiles.take(fpt)
    val openEvents = archive.filter(col("archive_file").startsWith("slot-") ||
      col("archive_file").isin(primer.map(_.stripSuffix(".json")): _*))
    val drainEvents = archive.filter(col("archive_file").startsWith("drain-"))
    val maxMs = archive.agg(max(col("unix_timestamp").cast("long"))).head().getLong(0)
    val sentinels = writeSentinels(staging, maxMs, 2)
    // read a phase's sink rows back over JDBC, then empty the sink
    def dumpSink(phase: String): Unit = withSink { st =>
      Additive.foreach { case (table, keys, value, _) =>
        val cols = keys :+ value
        val rs = st.executeQuery(cols.map(c => "\"" + c + "\"").mkString("SELECT ", ", ", s" FROM $table"))
        val rows = mutable.ArrayBuffer.empty[String]
        // Spark's Derby dialect stores strings as CLOB
        def cell(i: Int): Any = rs.getObject(i) match {
          case c: java.sql.Clob => c.getSubString(1, c.length.toInt)
          case v => v
        }
        while (rs.next()) rows += cols.indices.map(i => canon(cell(i + 1))).mkString("|")
        dump(s"$phase.$table", rows.toSeq)
      }
      out(s"sink_rows_$phase") = StreamJob.tables.map { t =>
        val rs = st.executeQuery(s"SELECT COUNT(*) FROM $t"); rs.next(); t -> rs.getLong(1)
      }.toMap
      StreamJob.tables.foreach(t => st.executeUpdate(s"DELETE FROM $t"))
    }

    val tracer = if (trace) { val t = new Tracer(spark); t.install(); Some(t) } else None

    // open loop: the releaser moves files from `outbox` (hard links to the
    // archive) into `watch` on its own schedule
    val rec = new Recorder("open")
    spark.streams.addListener(rec)
    val watch = new File(work, "watch"); watch.mkdirs()
    val outbox = new File(work, "outbox"); outbox.mkdirs()
    slots.foreach(n => Files.createLink(new File(outbox, n).toPath, new File(staging, n).toPath))
    val openCkpt = new File(work, "open-ckpt")
    val q = startQuery(spark, sessions = false, watch, openCkpt, None, rec, trace)
    // before the release starts, the query's first trigger reads the primer
    // files: it pays the query's one-off start-up and compilation costs on
    // real data, and creates the sink tables
    primer.foreach(n => Files.createLink(new File(watch, n).toPath, new File(staging, n).toPath))
    q.processAllAvailable()
    val done = new File(work, "released.done")
    println("READY"); System.out.flush()
    val deadline = now() + o.int("seconds") * 3000L + 60000L
    while (!done.exists && now() < deadline && q.isActive) Thread.sleep(10)
    try q.processAllAvailable() finally q.stop()
    Bus.drain(spark)
    spark.streams.removeListener(rec)
    out("open_files") = filesPerBatch(openCkpt).map { case (f, b) => Seq(f, b) }
    dumpSink("open")

    // closed loop: the reference DAG, then sessions, drain the backlog
    val (capSecs, cap) = drain(spark, sessions = false, staging, work, "cap", drainFiles, fpt, trace)
    dumpSink("cap")
    val (sessSecs, sess) = drain(spark, sessions = true, staging, work, "sessions", drainFiles ++ sentinels,
      fpt, trace)
    out("cap_s") = capSecs
    out("sessions_s") = sessSecs
    out("events_open") = openEvents.count()
    out("events_drain") = drainEvents.count()
    out("checkpoint_bytes") = dirBytes(new File(work, "sessions-ckpt"))
    out("persist_peak_bytes") = math.max(rec.persistPeak, cap.persistPeak)
    out("progress") = (rec.progress ++ cap.progress ++ sess.progress).toSeq.map { case (phase, p) =>
      Map("phase" -> phase, "progress" -> parse(p))
    }
    out("sink_calls") = (rec.sinkCalls ++ cap.sinkCalls).toSeq
    tracer.foreach { t => t.drain(); t.writeJobs(out) }

    // the batch computations the stream outputs are checked against
    for ((archiveName, events) <- Seq("open" -> openEvents, "drain" -> drainEvents);
         (table, keys, value, batch) <- Additive) {
      dump(s"expected.$archiveName.$table", canonRows(batch(events).select((keys :+ value).map(col): _*)))
    }
    dump("expected.global_sessions", canonRows(GlobalSessions.sessionWindow(
      drainEvents.select(col("visitorid"), col("event_time")), streaming = false)))
    dump("sessions.global_sessions", sess.sessionRows.toSeq.sortBy(_._1).flatMap(_._2))
    spark.stop()

    // single-threaded baseline of the same drain (traced runs only)
    if (trace) {
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      val one = session(1, work)
      val (secs, _) = drain(one, sessions = false, staging, work, "local1", drainFiles, fpt, trace = false)
      out("local1_cap_s") = secs
      one.stop()
    }
  }
}
