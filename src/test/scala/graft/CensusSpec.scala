package graft

import org.apache.spark.sql.functions._

/** Measurement pins for the wire-cost and task-skew census (tools.Census).
  *
  * Bytes: the byte census's first cut went silently blind —
  * taskMetrics.inputMetrics read whole tables as 0 bytes on small local
  * files, making every amp garbage — so its three measurement legs are
  * pinned on known-shape queries at sf0.001:
  *   - a shuffling query must record shuffle bytes > 0 (listener live),
  *   - a map-only query must record exactly 0 (attribution not bleeding
  *     across queries through the async bus),
  *   - a construction-materialized query must carry scan=0 / amp=-1 (the
  *     documented checkpoint-curtain semantics, not a crash or an inf).
  *
  * Skew: the statistic's math is pinned pure, and the listener legs on
  * three known-shape plans — a hot-key shuffle must read as maximally
  * skewed, its salted twin as balanced (the in-miniature version of the
  * q_item_interactions salting design the fleet census exists to
  * certify), and a uniform shuffle as near-1. AQE is disabled inside
  * these measured bodies only: its coalescing MERGES the empty partitions
  * into the fat one and hides exactly the imbalance the pin must see (on
  * a cluster the fat task still exists — AQE splits reduce-side skew only
  * for joins, not for arbitrary repartitions). The census main itself
  * measures the AQE-on plans Bench runs.
  */
class CensusSpec extends SparkSpec {
  import tools.Census
  import tools.Census.Row

  private def withoutAqe(body: => Unit): Unit = {
    val prior = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try body finally spark.conf.set("spark.sql.adaptive.enabled", prior)
  }

  test("census: listener live, attribution clean, curtain semantics pinned") {
    val sf = "/root/testdata/sf0.001"
    sys.props("graft.frame.cache.disable") = "1"
    try {
      spark.catalog.clearCache()
      // ORDER MATTERS for the attribution leg: the shuffling query runs
      // FIRST, so a stale/undrained listener would leak its bytes into
      // the map-only query's row and fail the == 0 assert.
      val (rowSeq, failed) = Census
        .census(spark, sf, Seq("q_sessionize", "q_clean_enrich", "q_bpe_train"))
      val rows = rowSeq.map(r => r.query -> r).toMap
      assert(failed.isEmpty && rows.size === 3, s"census dropped a query: ${rows.keys}, failed $failed")

      val s = rows("q_sessionize")
      assert(s.scanMb > 0, "sessionize plans a parquet scan; scan bytes must be > 0")
      assert(s.writeMb > 0 && s.readMb > 0,
        s"sessionize shuffles (visitor-partition window); listener read w=${s.writeMb} r=${s.readMb} — blind")
      assert(s.amp > 0)

      val c = rows("q_clean_enrich")
      assert(c.scanMb > 0)
      assert(c.writeMb === 0.0 && c.readMb === 0.0,
        s"clean_enrich is map-only; nonzero shuffle (w=${c.writeMb} r=${c.readMb}) means " +
          "attribution bled from the previous query through the listener bus")

      val b = rows("q_bpe_train")
      assert(b.scanMb === 0.0 && b.amp === -1.0,
        s"bpe_train materializes during construction (checkpoint curtain): " +
          s"expected scan=0/amp=-1, got scan=${b.scanMb} amp=${b.amp}")
    } finally {
      sys.props.remove("graft.frame.cache.disable")
      spark.catalog.clearCache()
    }
  }

  test("diff mode: parser reads real table rows, skips noise, keeps '-' amps") {
    // the diff mode turns both axes from re-run-and-eyeball into a
    // machine diff; its parser must survive the artifact's noise lines
    // (header, wrapper output, FAILED rows, the summary, flag lines) and
    // the '-' amp of scan-less iterative plans — a silent zero-row parse
    // would make every diff vacuously clean, which main() guards against
    val artifact = Seq(
      "[wrapper] gate open at load 0.00",
      "query                               scan_mb  shuffle_w_mb  shuffle_r_mb  spill_mb     amp stages  tasks  stage_mb  skew_b  skew_t",
      "q_bpe_encode                            0.6          3.11          3.11       0.0    5.49     17      0      0.00    1.00    1.00",
      "q_containment                          20.0        402.04        402.04       0.0    2.01     20     20    402.04    5.01    4.48",
      "q_bpe_train                             0.0          3.11          3.11       0.0       -     13      0      0.00    1.00    1.00",
      "q_broken                           FAILED: SparkException: boom",
      "[census] 135 queries: scan 382 MB, shuffle write 135 MB (amp 0.35), read 135 MB, spill 0 MB; 9 with a qualifying shuffle stage, worst skew_b 5.01, 1 flagged above 4.0x",
      "[skew-flag] q_containment           skew_b 5.01 over 20 tasks, 402.0 MB",
      "26/08/16 WARN noise")
    val parsed = Census.parseArtifact(artifact.iterator)
    assert(parsed.keySet === Set("q_bpe_encode", "q_containment", "q_bpe_train"))
    assert(parsed("q_bpe_encode") ===
      Row("q_bpe_encode", 0.6, 3.11, 3.11, 0.0, 5.49, 17, 0, 0.0, 1.0, 1.0))
    assert(parsed("q_containment") ===
      Row("q_containment", 20.0, 402.04, 402.04, 0.0, 2.01, 20, 20, 402.04, 5.01, 4.48))
    assert(parsed("q_bpe_train").amp === -1.0, "'-' amp must parse as -1, not drop the row")
  }

  test("diff mode: byte movers gate on floor AND ratio; a crash reads FAILED, not GONE") {
    def row(n: String, wMb: Double, amp: Double) =
      Row(n, 10.0, wMb, wMb, 0.0, amp, 4, 0, 0.0, 1.0, 1.0)
    val prior = Seq(
      row("q_same", 2.0, 0.2),       // unchanged
      row("q_wobble", 0.05, 0.005),  // 4x ratio but under the 0.25 MB floor
      row("q_fat", 2.0, 0.2),        // write 2 -> 6 MB: flagged (both gates)
      row("q_creep", 10.0, 1.0),     // 10 -> 11 MB: past floor, under ratio
      row("q_iter", 3.0, -1.0),      // '-' amp on both sides: amp leg skipped
      row("q_gone", 5.0, 0.5))       // no longer registered
      .map(r => r.query -> r).toMap
    val current = Seq(
      row("q_same", 2.0, 0.2),
      row("q_wobble", 0.2, 0.02),
      row("q_fat", 6.0, 0.6),
      row("q_creep", 11.0, 1.1),
      row("q_iter", 3.0, -1.0),
      row("q_new_fat", 4.0, 0.4),    // new query shipping real bytes
      row("q_new_tiny", 0.1, 0.01))  // new but under the floor: silent
    val moved = Census.diffRows(current, prior, tol = 2.0, flag = 4.0)
    val byKey = moved.map(m => (m._1, m._2)).toSet
    assert(byKey === Set(
      ("q_fat", "shuffle_w_mb"), ("q_fat", "amp"),
      ("q_new_fat", "NEW"), ("q_gone", "GONE")), s"got $moved")
    // flagged rows carry (prior, current) for the one-line adjudication
    val fat = moved.find(m => m._1 == "q_fat" && m._2 == "shuffle_w_mb").get
    assert(fat._3 === 2.0 && math.abs(fat._4 - 6.0) < 1e-9)
    // a query that CRASHED this census has no current row: it must read
    // FAILED (carrying its prior write MB), never GONE, and always be a
    // row — an otherwise-clean diff with a crashing query must not read CLEAN
    val crashed = current.filterNot(_.query == "q_same") :+ row("q_gone", 5.0, 0.5)
    val withCrash = Census.diffRows(crashed, prior, 2.0, 4.0, failed = Set("q_same"))
    assert(withCrash.filter(_._1 == "q_same") === Seq(("q_same", "FAILED", 2.0, -1.0)))
    assert(!withCrash.exists(_._2 == "GONE"), s"got $withCrash")
  }

  test("skewOf: balanced=1, one-hot=n, degenerate inputs read as balanced") {
    assert(Census.skewOf(Seq(5L, 5L, 5L, 5L)) === 1.0)
    assert(Census.skewOf(Seq(20L, 0L, 0L, 0L)) === 4.0)
    assert(Census.skewOf(Seq.empty) === 1.0)
    assert(Census.skewOf(Seq(0L, 0L)) === 1.0)
    // bounded: max/mean never exceeds the task count
    assert(Census.skewOf(Seq(7L, 1L, 1L, 1L)) <= 4.0)
  }

  test("hot-key shuffle reads maximally skewed; salted twin reads balanced") {
    withoutAqe {
      // 40k rows, ALL on one key, with a payload fat enough to clear the
      // spec's byte floor — the one-reducer-gets-everything pathology
      val hot = spark.range(40000)
        .select(lit(0L).as("k"), concat(lit("x"), col("id")).as("payload"))
      val hotRun = Census.measure(spark) {
        hot.repartition(4, col("k")).write.format("noop").mode("overwrite").save()
      }
      val (hs, hotSkew, _, hotBytes) =
        Census.worstStage(hotRun.stages, minTasks = 4, minBytes = 1L).get
      assert(hotBytes > 0, "hot shuffle recorded no bytes — listener blind")
      assert(hotRun.writeBytes > 0 && hotRun.readBytes === hotBytes,
        "byte totals must cover the same task ends the skew stages saw")
      assert(hs.tasks === 4)
      // one of 4 tasks carries everything: skew == 4 exactly
      assert(hotSkew === 4.0, s"expected one-hot skew 4.0, got $hotSkew")

      // the salting fix: same rows, same key, a salt joins the
      // partitioning key — every reducer now carries ~1/4 of the bytes.
      // 64 salt values, not 4: hash((k, salt)) mod 4 over only 4 salts
      // collides (measured skew 2.01 — two salts in one bucket); 64 gives
      // the hash room to equidistribute, which is how production salting
      // picks its fan-out too (≫ partition count, not == it)
      val salted = Census.measure(spark) {
        spark.range(40000)
          .select(lit(0L).as("k"), concat(lit("x"), col("id")).as("payload"),
            (col("id") % 64).as("salt"))
          .repartition(4, col("k"), col("salt"))
          .write.format("noop").mode("overwrite").save()
      }
      val (_, saltSkew, _, saltBytes) =
        Census.worstStage(salted.stages, minTasks = 4, minBytes = 1L).get
      assert(saltBytes > 0)
      assert(saltSkew < 2.0,
        s"salted shuffle should be near-balanced, got $saltSkew")
      assert(saltSkew < hotSkew)
    }
  }

  test("diff mode: skew movers gate on floor AND ratio, crossings stay silent") {
    def row(n: String, tasks: Int, sb: Double) =
      Row(n, 1.0, 0.1, 0.1, 0.0, 0.1, 5, tasks, 2.0, sb, 1.0)
    val prior = Seq(row("q_containment", 20, 5.01), row("q_tfidf", 32, 1.00),
      row("q_quiet", 0, 1.00)).map(r => r.query -> r).toMap
    // mover: clears 0.5 absolute AND 2x ratio; absent queries report GONE
    assert(Census.diffRows(Seq(row("q_tfidf", 32, 2.6)), prior, 2.0, 4.0).toSet
      === Set(("q_containment", "GONE", 0.1, -1.0), ("q_quiet", "GONE", 0.1, -1.0),
        ("q_tfidf", "skew_b", 1.0, 2.6)))
    val full = Seq(row("q_containment", 20, 5.0), row("q_tfidf", 32, 1.4),
      row("q_quiet", 0, 1.0))
    // ratio-only (1.0 -> 1.4: ratio clears nothing) and within-tol moves silent
    assert(Census.diffRows(full, prior, 2.0, 4.0).isEmpty)
    // threshold crossing (prior had no qualifying stage) is NOT a mover
    assert(Census.diffRows(Seq(row("q_quiet", 16, 3.0), row("q_containment", 20, 5.0),
      row("q_tfidf", 32, 1.0)), prior, 2.0, 4.0).isEmpty)
    // NEW query prints only when it would be flag-worthy (its bytes are
    // under the write floor)
    assert(Census.diffRows(full :+ row("q_new_hot", 16, 6.0), prior, 2.0, 4.0)
      === Seq(("q_new_hot", "NEW", -1.0, 0.1)))
    assert(Census.diffRows(full :+ row("q_new_ok", 16, 1.2), prior, 2.0, 4.0).isEmpty)
    // a query that CRASHED this census is FAILED, never GONE
    val crashed = Seq(row("q_tfidf", 32, 1.0), row("q_quiet", 0, 1.0))
    assert(Census.diffRows(crashed, prior, 2.0, 4.0, failed = Set("q_containment"))
      === Seq(("q_containment", "FAILED", 0.1, -1.0)))
    // failed-but-never-seen-before still surfaces (prior reading -1)
    assert(Census.diffRows(full, prior, 2.0, 4.0, failed = Set("q_brand_new"))
      === Seq(("q_brand_new", "FAILED", -1.0, -1.0)))
  }

  test("uniform-key shuffle reads near-balanced; sub-threshold stages are ignored") {
    withoutAqe {
      val uniform = spark.range(40000)
        .select((col("id") % 997).as("k"), concat(lit("x"), col("id")).as("payload"))
      val stages = Census.measure(spark) {
        uniform.repartition(4, col("k")).write.format("noop").mode("overwrite").save()
      }.stages
      val (_, skew, _, bytes) =
        Census.worstStage(stages, minTasks = 4, minBytes = 1L).get
      assert(bytes > 0)
      assert(skew < 1.5, s"997 uniform keys over 4 reducers, got skew $skew")
      // threshold legs: demanding more tasks than any stage ran, or more
      // bytes than the job shuffled, must yield None — not a noise row
      assert(Census.worstStage(stages, minTasks = 64, minBytes = 1L).isEmpty)
      assert(Census.worstStage(stages, minTasks = 4,
        minBytes = Long.MaxValue).isEmpty)
    }
  }
}
