package graft

import graft.sink.Sinks

/**
 * Executes the JDBC sink path end-to-end against embedded Derby (the one
 * JDBC engine shipped with Spark itself — /opt/spark/jars/derby*.jar), the
 * closest offline stand-in for the reference's PostgreSQL sink
 * (stream_processor.py:14-26,131-136). Covers append round-trip,
 * at-least-once duplicate semantics, batch_id stamping, and the
 * array-column strategy (SURVEY §7.4 risk 4): the JSON-string fallback leg
 * executes against Derby here; only the native Postgres `text[]` leg still
 * needs a live server.
 */
class SinksSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dbDir = {
    val d = java.nio.file.Files.createTempDirectory("graft_derby").toString
    // keep derby.log out of the repo working directory
    System.setProperty("derby.system.home", d)
    d
  }

  private lazy val cfg = Sinks.JdbcConfig(
    url = s"jdbc:derby:$dbDir/db;create=true",
    user = "app", password = "app",
    driver = "org.apache.derby.jdbc.EmbeddedDriver")

  private def readTable(table: String) =
    spark.read.format("jdbc")
      .option("url", cfg.url)
      .option("dbtable", table)
      .option("driver", cfg.driver)
      .load()

  test("jdbcAppend round-trips rows and re-append duplicates (at-least-once parity)") {
    val df = Seq((1L, "view"), (2L, "addtocart")).toDF("id", "event_type")
    Sinks.jdbcAppend(df, "events_t", cfg)
    val once = readTable("events_t").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(once.toSeq === Seq((1L, "view"), (2L, "addtocart")))
    // replaying the same batch appends again — the documented at-least-once
    // contract of the reference's plain JDBC append
    Sinks.jdbcAppend(df, "events_t", cfg)
    assert(readTable("events_t").count() === 4)
  }

  test("jdbcBatchStamped stamps the micro-batch id and preserves an existing stamp") {
    Sinks.jdbcBatchStamped(Seq((1L, 5.0)).toDF("k", "v"), "stamped_t", cfg, batchId = 7L)
    // a frame that already carries batch_id passes through unchanged
    Sinks.jdbcBatchStamped(Seq((2L, 6.0, 9L)).toDF("k", "v", "batch_id"),
      "stamped_t", cfg, batchId = 100L)
    val got = readTable("stamped_t").collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[Long]("batch_id")).toMap
    assert(got === Map(1L -> 7L, 2L -> 9L))
  }

  test("jdbcBatchReplace is idempotent: replaying a batch replaces, not duplicates") {
    Sinks.jdbcBatchReplace(Seq((1L, "a")).toDF("k", "v"), "replace_t", cfg, batchId = 0L)
    Sinks.jdbcBatchReplace(Seq((2L, "b")).toDF("k", "v"), "replace_t", cfg, batchId = 1L)
    // replay batch 1 (as a foreachBatch retry would) with its deterministic
    // content: row count must stay 2, batch 0 untouched
    Sinks.jdbcBatchReplace(Seq((2L, "b")).toDF("k", "v"), "replace_t", cfg, batchId = 1L)
    val got = readTable("replace_t").collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"), r.getAs[Long]("batch_id")))
      .sortBy(_._1)
    assert(got.toSeq === Seq((1L, "a", 0L), (2L, "b", 1L)))
    // a partial first attempt (extra rows) is also healed by the replay
    Sinks.jdbcBatchReplace(Seq((3L, "x"), (4L, "y")).toDF("k", "v"), "replace_t", cfg, 2L)
    Sinks.jdbcBatchReplace(Seq((3L, "z")).toDF("k", "v"), "replace_t", cfg, 2L)
    val b2 = readTable("replace_t").filter($"batch_id" === 2L).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v")))
    assert(b2.toSeq === Seq((3L, "z")))
  }

  test("array columns round-trip through the JSON fallback on an array-less JDBC target") {
    import org.apache.spark.sql.types.StringType
    // the reference's user_paths shape: visitorid, session_id, user_path
    // array<string> — Derby has no ARRAY type, so a naive df.write.jdbc
    // throws; the dialect-aware sink must fall back to JSON text
    val paths = Seq(
      ("u1", "u1_1", Seq("view", "addtocart", "purchase")),
      ("u2", "u2_1", Seq("view")),
      ("u3", "u3_1", Seq.empty[String]),
      // embedded quotes/commas must survive the JSON encoding
      ("u4", "u4_1", Seq("""a"b""", "c,d")))
      .toDF("visitorid", "session_id", "user_path")
    assert(!Sinks.supportsNativeArrays(cfg.url)) // Derby → fallback leg
    assert(Sinks.supportsNativeArrays("jdbc:postgresql://h/db")) // native leg
    Sinks.jdbcAppendArrays(paths, "user_paths_t", cfg)
    // the stored column is plain JSON text any SQL client can read
    val stored = readTable("user_paths_t").orderBy("visitorid").collect()
    assert(stored.head.getAs[String]("user_path") ===
      """["view","addtocart","purchase"]""")
    // the symmetric reader restores the declared array type exactly
    val back = Sinks.readWithArrays(spark, "user_paths_t", cfg,
        Map("user_path" -> StringType))
      .orderBy("visitorid").collect()
      .map(r => (r.getAs[String]("visitorid"), r.getAs[Seq[String]]("user_path")))
    assert(back.toSeq === Seq(
      ("u1", Seq("view", "addtocart", "purchase")),
      ("u2", Seq("view")),
      ("u3", Seq.empty[String]),
      ("u4", Seq("""a"b""", "c,d"))))
  }

  test("fan-out writes all 10 analyses through the JDBC sink") {
    // the production sink shape: one Spark JDBC append per analysis table
    // (array columns through the dialect fallback) lands every table on
    // embedded Derby without losing a table or a row
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val batch = Seq(
      ("u1", ts(100), "view", "i1"), ("u1", ts(200), "click", "i2"),
      ("u2", ts(150), "view", "i1"), ("u2", ts(240), "purchase", "i3"),
      ("u3", ts(120), "view", "i2"))
      .toDF("visitorid", "event_time", "event", "itemid")
    graft.stream.StreamJob.runAllAnalyses(
        batch, 5L, graft.schema.Schemas.testdataFunnelSteps) {
      (df, table) => Sinks.jdbcAppendArrays(df, s"fan_$table", cfg)
    }
    val rowCounts = graft.stream.StreamJob.tables
      .map(t => t -> readTable(s"fan_$t").count()).toMap
    assert(rowCounts.keySet.size === 10)
    assert(rowCounts.values.forall(_ > 0L), s"got $rowCounts")
    // spot-check content: 3 sessions, 1 funnel row
    assert(rowCounts("sessions") === 3L)
    assert(rowCounts("funnel_analysis") === 1L)
  }
}
