package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/**
 * Task-SKEW census: the wire-cost census (tools.ShuffleCensus) weighs how
 * many bytes cross the network; this one weighs how EVENLY they land. On
 * one node a skewed stage just reorders work; on 1000 executors the
 * stage's wall-clock is its SLOWEST task, so a partition carrying 20× its
 * fair share turns 999 idle executors into a straggler bottleneck that no
 * local[32] wall-clock measurement can see. This census executes every
 * registered query (noop sink, FrameCache off, cache cleared between
 * queries) with a per-task listener and reports, per query, the worst
 * shuffle-read stage by balance:
 *
 *   skew_b   max/mean of per-task shuffle-read bytes — 1.0 is perfectly
 *            balanced, n_tasks means one task carried everything. This is
 *            the machine-independent signal: bytes per reduce task are set
 *            by the key distribution and the partitioner, not by the host.
 *   skew_t   max/mean of per-task duration on the same stage — the local
 *            symptom, noisy on ms-scale tasks, reported as corroboration.
 *
 * Stages with < minTasks tasks or < minBytes total shuffle read are
 * ignored (a 2-task stage's max/mean is noise, and balance over 0.1 MB is
 * free either way). max/mean rather than max/median: the mean keeps the
 * statistic bounded in [1, n_tasks] and well-defined when most tasks read
 * zero bytes (one hot key), exactly the case the census exists to catch.
 *
 * The salting design this engine ships (q_item_interactions vs its
 * _salted twin, ext.Dedup's block splits, AQE skew-join) claims balanced
 * reduce work at scale — this census is what turns that claim into a
 * measured number per query, and the flag list (skew_b above the
 * threshold) is the per-round adjudication surface, PLANS.md-style, same
 * deliberate no-pin policy as the byte census (bytes wobble under AQE
 * coalescing; the spec pins the MEASUREMENT legs, not the fleet values).
 *
 * Usage: runMain graft.tools.SkewCensus <sfDir> [flag=4.0]
 *                [--diff <priorArtifact> [tol=2.0]]
 * Output: one line per query (worst skew_b first) + a flagged section.
 * With --diff, a final section compares against the prior round's
 * artifact (the ShuffleCensus --diff convention): only queries whose
 * skew_b moved beyond BOTH an absolute floor (0.5) and the tol ratio
 * print, plus NEW/GONE rows; a zero-row prior parse is refused so
 * format drift can't read as clean.
 */
object SkewCensus {

  /** Parse a prior census artifact's per-query rows into
    * query -> (tasks, skew_b). Header, flag lines, and wrapper noise are
    * skipped by the row shape. */
  def parseArtifact(lines: Iterator[String]): Map[String, (Int, Double)] = {
    val row = """^(q_\w+)\s+\d+\s+(\d+)\s+[\d.]+\s+([\d.]+)\s+[\d.]+$""".r
    lines.map(_.trim).collect {
      case row(q, tasks, sb) => q -> (tasks.toInt, sb.toDouble)
    }.toMap
  }

  /** Census-vs-prior deltas beyond tolerance: (query, kind, prior,
    * current). kind "skew_b" for movers (both sides must have a
    * qualifying stage — a query gaining/losing its first qualifying
    * stage is a threshold crossing, not a skew move), "NEW" for a query
    * absent from the prior artifact whose skew clears the flag line,
    * "GONE" for a prior query no longer registered, "FAILED" for a
    * query that threw during THIS census — distinct from GONE (a crash
    * is not a deregistration) and always a row, so a run with failing
    * queries can never print CLEAN. A numeric move is flagged only when
    * it clears the 0.5 absolute floor AND the tol ratio (AQE
    * re-grouping wobbles small stages; see the r15 adjudication). */
  def diffRows(current: Seq[(String, Int, Int, Long, Double, Double)],
               prior: Map[String, (Int, Double)],
               tol: Double, flag: Double,
               failed: Set[String] = Set.empty): Seq[(String, String, Double, Double)] = {
    val out = Seq.newBuilder[(String, String, Double, Double)]
    failed.toSeq.sorted.foreach { n =>
      out += ((n, "FAILED", prior.get(n).map(_._2).getOrElse(-1.0), -1.0))
    }
    current.foreach { case (n, _, tasks, _, sb, _) =>
      prior.get(n) match {
        case None => if (tasks > 0 && sb > flag) out += ((n, "NEW", -1.0, sb))
        case Some((pTasks, pSb)) if tasks > 0 && pTasks > 0 =>
          val lo = math.min(sb, pSb); val hi = math.max(sb, pSb)
          if (hi - lo > 0.5 && hi / lo > tol) out += ((n, "skew_b", pSb, sb))
        case _ => // threshold crossing: one side had no qualifying stage
      }
    }
    // failed names are neither current nor gone — they were attempted
    val curNames = current.map(_._1).toSet ++ failed
    prior.keysIterator.filterNot(curNames).toSeq.sorted
      .foreach(n => out += ((n, "GONE", prior(n)._2, -1.0)))
    out.result()
  }

  /** One stage's per-task observations (successful tasks only). */
  case class StageTasks(stageId: Int, bytes: Seq[Long], durMs: Seq[Long]) {
    def tasks: Int = bytes.size
  }

  private class TaskListener extends SparkListener {
    private val byStage =
      mutable.Map[Int, (mutable.ArrayBuffer[Long], mutable.ArrayBuffer[Long])]()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      if (t.taskMetrics != null && t.taskInfo != null && t.taskInfo.successful) {
        val (b, d) = byStage.getOrElseUpdate(t.stageId,
          (mutable.ArrayBuffer[Long](), mutable.ArrayBuffer[Long]()))
        b += t.taskMetrics.shuffleReadMetrics.totalBytesRead
        d += t.taskInfo.duration
      }
    }
    def snapshot(): Seq[StageTasks] = synchronized {
      byStage.toSeq.map { case (id, (b, d)) => StageTasks(id, b.toSeq, d.toSeq) }
    }
    def reset(): Unit = synchronized { byStage.clear() }
  }

  /** max/mean over per-task values: 1.0 = perfectly balanced,
    * xs.size = one task carried everything; 1.0 when there is nothing
    * to imbalance (empty or all-zero). */
  def skewOf(xs: Seq[Long]): Double = {
    val total = xs.foldLeft(0L)(_ + _)
    if (xs.isEmpty || total <= 0L) 1.0
    else xs.max.toDouble * xs.size / total
  }

  /** The query's worst shuffle-read stage by bytes skew, among stages
    * with >= minTasks tasks and >= minBytes total shuffle read:
    * (stage, bytesSkew, timeSkew, totalBytes). None when no stage
    * qualifies (map-only plans, sub-threshold shuffles). */
  def worstStage(stages: Seq[StageTasks], minTasks: Int, minBytes: Long)
      : Option[(StageTasks, Double, Double, Long)] = {
    val eligible = stages.filter(s =>
      s.tasks >= minTasks && s.bytes.foldLeft(0L)(_ + _) >= minBytes)
    if (eligible.isEmpty) None
    else {
      val s = eligible.maxBy(st => skewOf(st.bytes))
      Some((s, skewOf(s.bytes), skewOf(s.durMs), s.bytes.foldLeft(0L)(_ + _)))
    }
  }

  /** Run `body` under a fresh per-task listener and return the per-stage
    * task observations it generated — the census's measurement primitive,
    * exposed so the spec can pin the listener legs on arbitrary plans.
    * The async bus is drained before and after so attribution can't bleed
    * across calls. */
  def measure(spark: SparkSession)(body: => Unit): Seq[StageTasks] = {
    import org.apache.spark.sql.graftshim.Shim
    val listener = new TaskListener
    Shim.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      Shim.drainListenerBus(spark)
      listener.snapshot()
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** One census row per query: (query, n stages observed, worst-stage
    * tasks, worst-stage shuffle-read bytes, bytes skew, time skew) —
    * tasks = 0 / skews = 1.0 when no stage met the thresholds. Caller
    * owns the session; listener hygiene handled by [[measure]]. */
  def census(spark: SparkSession, sfDir: String, names: Seq[String],
             minTasks: Int = 8, minBytes: Long = 1L << 20)
      : (Seq[(String, Int, Int, Long, Double, Double)], Seq[String]) = {
    val failed = Seq.newBuilder[String]
    val rows = try {
      names.flatMap { name =>
        val fn = graft.SparkEntry.queries(name)
        spark.catalog.clearCache()
        val ok = scala.util.Try {
          measure(spark) {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          }
        }
        ok match {
          case scala.util.Success(stages) =>
            worstStage(stages, minTasks, minBytes) match {
              case Some((s, sb, st, tot)) =>
                Some((name, stages.size, s.tasks, tot, sb, st))
              case None => Some((name, stages.size, 0, 0L, 1.0, 1.0))
            }
          case scala.util.Failure(e) =>
            println(f"$name%-34s FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
            failed += name
            None
        }
      }
    } finally spark.catalog.clearCache()
    (rows, failed.result())
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val flag = args.find(_.startsWith("flag="))
      .map(_.stripPrefix("flag=").toDouble).getOrElse(4.0)
    val diffIdx = args.indexOf("--diff")
    val diffPath = if (diffIdx >= 0) {
      require(diffIdx + 1 < args.length,
        "usage: SkewCensus <sfDir> [flag=N] [--diff <priorArtifact> [tol=N]]" +
          " — --diff needs the prior artifact path")
      Some(args(diffIdx + 1))
    } else None
    val tol = args.find(_.startsWith("tol="))
      .map(_.stripPrefix("tol=").toDouble).getOrElse(2.0)
    val spark = graft.Session.builder(graft.Session.cpus(32)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.SketchExprs.register(spark)
    sys.props("graft.frame.cache.disable") = "1"
    val exclude = Set("q_embed_neardup") // the all-pairs recall ground truth
    val mb = 1024.0 * 1024.0
    try {
      val names = graft.SparkEntry.queries.keys.toSeq.sorted.filterNot(exclude)
      val (rows, failedNames) = census(spark, sfDir, names)
      println(f"\n${"query"}%-34s ${"stages"}%6s ${"tasks"}%6s ${"stage_mb"}%9s ${"skew_b"}%7s ${"skew_t"}%7s")
      rows.sortBy(-_._5).foreach { case (n, st, tk, b, sb, sd) =>
        println(f"$n%-34s $st%6d $tk%6d ${b / mb}%9.2f $sb%7.2f $sd%7.2f")
      }
      val measured = rows.filter(_._3 > 0)
      val flagged = measured.filter(_._5 > flag)
      println(f"[skew-census] ${rows.size} queries, ${measured.size} with a " +
        f"qualifying shuffle stage; worst skew_b " +
        f"${measured.map(_._5).foldLeft(1.0)(math.max)}%.2f; " +
        s"${flagged.size} flagged above ${flag}x" +
        (if (failedNames.nonEmpty)
           s"; ${failedNames.size} FAILED: ${failedNames.mkString(",")}"
         else ""))
      flagged.sortBy(-_._5).foreach { case (n, _, tk, b, sb, _) =>
        println(f"[skew-flag] $n%-34s skew_b $sb%.2f over $tk tasks, ${b / mb}%.1f MB")
      }
      diffPath.foreach { path =>
        val prior = parseArtifact(scala.io.Source.fromFile(path).getLines())
        require(prior.nonEmpty, s"[skew-diff] $path yielded zero rows — " +
          "wrong file or format drift; a vacuous diff must not read as clean")
        val moved = diffRows(rows, prior, tol, flag, failedNames.toSet)
        if (moved.isEmpty)
          println(s"[skew-diff] CLEAN vs $path (tol ${tol}x, " +
            s"${prior.size} prior rows): no query moved beyond tolerance")
        else {
          println(s"[skew-diff] vs $path (tol ${tol}x): ${moved.size} moved")
          moved.foreach { case (q, kind, p, c) =>
            val pS = if (p < 0) "-" else f"$p%.2f"
            val cS = if (c < 0) "-" else f"$c%.2f"
            println(f"$q%-34s $kind%-8s $pS -> $cS")
          }
        }
      }
    } finally {
      sys.props.remove("graft.frame.cache.disable")
      spark.stop()
    }
  }
}
