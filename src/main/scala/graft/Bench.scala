package graft

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * Results are materialized through the noop datasource (full pipeline
  * executes, nothing is written) — `count()` would let Catalyst prune
  * payload columns and under-report the real work.
  */
object Bench {

  /** 1-minute load average, -1 when unreadable: stamped into the result at
    * start and end so a run from a loaded window says so. */
  private def loadAvg(): Double =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Headline of per-query readings: (sum of the successful readings,
    * number of failed queries). A failed query reads -1; adding it in
    * would make a run with failures read faster. */
  def total(results: Seq[(String, Double)]): (Double, Int) = {
    val (failed, ok) = results.partition(_._2 < 0)
    (ok.map(_._2).sum, failed.size)
  }

  /** The two result lines: the complete JSON for the result file, and the
    * stdout line. The full per-query dict (140+ entries) does not fit the
    * consumer's 2000-char stdout tail window (r1/r3/r4 artifacts all came
    * back "parsed": null with the line's FRONT cut off), so the stdout line
    * is SELF-LIMITING: the contract fields plus as many per-query entries
    * as fit 1700 chars (the tail window less sbt's epilogue and a margin),
    * most expensive first (the perf signal), and the count omitted. */
  def render(results: Seq[(String, Double)], rowCounts: Seq[(String, Long)],
             runs: Int, load: (Double, Double), sfDir: String): (String, String) = {
    val budget = 1700
    val (sum, failed) = total(results)
    val (l0, l1) = load
    val fullQs = results.map { case (k, v) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    val rowsJson =
      if (rowCounts.isEmpty) ""
      else rowCounts.map { case (k, n) => "\"" + k + "\":" + n }
        .mkString(",\"rows\":{", ",", "}")
    val full = f"""{"metric":"total","value":$sum%.3f,"failed":$failed,"unit":"sec","runs":$runs,"env":{"load_start":$l0%.2f,"load_end":$l1%.2f},"queries":$fullQs$rowsJson,"sf":"$sfDir"}"""
    def fmt(v: Double): String = {
      val s = f"$v%.2f"
      if (s.endsWith("0") && s.contains('.')) s.dropRight(1) else s
    }
    def line(qs: String, omitted: String) =
      f"""{"metric":"total","value":${fmt(sum)},"failed":$failed,"unit":"sec","runs":$runs,"env":{"load":[$l0%.1f,$l1%.1f]},"queries":$qs,"omitted":$omitted,"full":"bench.json","sf":"$sfDir"}"""
    var used = line("{}", "00").length
    val kept = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    results.sortBy(-_._2).foreach { case (k, v) =>
      val cost = k.length + 4 + fmt(v).length + (if (kept.nonEmpty) 1 else 0)
      if (used + cost <= budget) { kept += ((k, v)); used += cost }
    }
    // stable name order for round-over-round diffs
    val qs = kept.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    (full, line(qs, (results.size - kept.size).toString))
  }

  def main(args: Array[String]): Unit = {
    val loadStart = loadAvg()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.builder(Session.cpus(32)).getOrCreate()
    // ERROR: the one-line JSON contract — WARN noise (WindowExec on the
    // k-row rank window, AQE notices) would bury the result line
    spark.sparkContext.setLogLevel("ERROR")
    // JVM/codegen warm-up so the first timed query doesn't absorb cold-start
    spark.range(1000000).selectExpr("sum(id)").collect()
    SparkEntry.queries.headOption.foreach { case (_, fn) =>
      try fn(spark, "/root/testdata/sf0.001").write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => }
    }
    // Per-query LOWER MEDIAN of `runs` in-process repeats (cache cleared
    // between): single-run artifacts mis-flagged environmental spikes as
    // regressions in 4 of 5 rounds — a repeat at the source ends that
    // adjudication. For the default runs=2 the lower median IS the min,
    // the statistic least sensitive to a one-off contaminated run; a
    // genuinely slow query is slow in every repeat and still shows.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt.max(1)
    // local-iteration filter (comma-separated names, same contract as
    // Verify's GRAFT_ONLY); the driver never sets it → full suite.
    // SKIP is the complement, for by-design exclusions (sweep.py sets it
    // to keep the O(n²) recall ground truth out of scaling runs).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val skip = sys.env.get("SPARK_GRAFT_BENCH_SKIP").map(_.split(",").toSet)
      .getOrElse(Set.empty[String])
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) && !skip(name) }
      .map { case (name, fn) =>
      val times = (1 to runs).flatMap { _ =>
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
          }
        spark.catalog.clearCache()
        if (ok) Some((System.nanoTime() - t0) / 1e9) else None
      }
      // any failed repeat poisons the query: report -1, never a
      // plausible-looking timing from the surviving runs
      name -> (if (times.size == runs) times.sorted.apply((runs - 1) / 2) else -1.0)
    }
    // Optional UNTIMED output-row counts (SPARK_GRAFT_BENCH_ROWS=q1,q2):
    // one extra count() execution per listed query, recorded in bench.json
    // only — the sweep uses it to normalize pair-emitting queries whose
    // output grows superlinearly (q_embed_neardup_lsh: pairs ∝ n², so the
    // honest scaling metric is seconds PER PAIR, not wall ratio). Runs
    // after all timing so the extra pass can't contaminate the medians.
    val rowsFor = sys.env.get("SPARK_GRAFT_BENCH_ROWS").map(_.split(",").toSet)
      .getOrElse(Set.empty[String])
    val rowCounts = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) =>
        rowsFor(name) && only.forall(_.contains(name)) && !skip(name) }
      .map { case (name, fn) =>
        val n = try fn(spark, sfDir).count()
                catch { case e: Throwable =>
                  System.err.println(s"[bench] rows($name) failed: ${e.getMessage}"); -1L }
        spark.catalog.clearCache()
        name -> n
      }
    val (full, line) = render(results, rowCounts, runs, (loadStart, loadAvg()), sfDir)
    // Persist the complete line to a file FIRST (survives any console
    // truncation); resolve + log the absolute destination so an unexpected
    // CWD (and the overwrite of a pre-existing bench.json) is visible
    val out = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench.json")).toAbsolutePath
    System.err.println(s"[bench] writing full result JSON to $out" +
      (if (java.nio.file.Files.exists(out)) " (overwriting existing file)" else ""))
    try java.nio.file.Files.write(out, full.getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"[bench] file write failed: ${e.getMessage}") }
    println(line)
    System.out.flush()
    spark.stop()
  }
}
