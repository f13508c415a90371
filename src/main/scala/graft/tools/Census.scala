package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FileSourceScanExec

/**
 * Wire-cost and task-skew census: every bench in this repo measures
 * wall-clock, which on one node underweights the two costs that dominate
 * a 1000-executor cluster — bytes crossing the network, and how evenly
 * they land. This census executes every registered query once (noop
 * sink, FrameCache off, cache cleared between queries — the real
 * computation pipelines, AQE on as Bench runs them) under one per-task
 * listener and reports, per query:
 *
 *   scan_mb       on-disk bytes of every parquet scan instance in the
 *                 plan (table dir size × times scanned — plan-derived,
 *                 NOT taskMetrics.inputMetrics, which under-reports on
 *                 the small local files: whole tables read as 0.0 MB in
 *                 the first cut of the byte census)
 *   shuffle_w_mb  shuffle bytes written (what would cross the wire; lz4
 *                 on-the-wire sizes, same thing a cluster NIC carries)
 *   shuffle_r_mb  shuffle bytes read (> write when an exchange feeds
 *                 multiple consumers or a stage retries)
 *   spill_mb      disk spill (executor-memory-pressure signal)
 *   amp           shuffle_w / scan — network bytes shipped per corpus
 *                 byte touched; '-' when the plan holds no file scan
 *   stages        stages with at least one successful task
 *   tasks, stage_mb, skew_b, skew_t
 *                 the worst shuffle-read stage by balance: its task
 *                 count, its shuffle-read MB, max/mean of per-task
 *                 shuffle-read bytes (1.0 balanced, n_tasks = one task
 *                 carried everything — set by the key distribution and
 *                 the partitioner, not the host) and max/mean of per-task
 *                 duration (the local symptom, noisy on ms-scale tasks)
 *
 * Byte totals sum every task end; the skew columns use successful tasks
 * only. Stages with < 8 tasks or < 1 MB total shuffle read are ignored
 * for skew (a 2-task stage's max/mean is noise, and balance over 0.1 MB
 * is free either way); tasks = 0 / skews = 1.0 when none qualifies.
 * Below sf0.1 no registry stage clears that floor: the summary line then
 * says so, and a --diff CLEAN line adds that skew was not compared.
 * max/mean rather than max/median keeps the statistic bounded in
 * [1, n_tasks] and well-defined when most tasks read zero bytes (one
 * hot key), exactly the case the census exists to catch.
 *
 * amp ≪ 1 certifies map-side reduction (partial aggregation, pushdown,
 * semi-join pruning) is doing its job; amp ≫ 1 names the queries whose
 * wire cost exceeds their scan cost — expected for the iterative designs
 * (label propagation re-ships the edge list per round) and the
 * pair-emitters; adjudication lives in PLANS.md. Column pruning makes
 * scan_mb an over-estimate of bytes actually read, so amp is a LOWER
 * bound. The salting design this engine ships (q_item_interactions vs
 * its _salted twin, ext.Dedup's block splits, AQE skew-join) claims
 * balanced reduce work at scale — skew_b is that claim as a number.
 *
 * Usage: runMain graft.tools.Census <sfDir> [flag=4.0]
 *                [--diff <priorArtifact> [tol=2.0]]
 * Output: one line per query (worst amp first), totals, and a
 * [skew-flag] line per query whose skew_b exceeds `flag`. With --diff, a
 * final section compares against a prior artifact and prints ONLY
 * queries that moved beyond tolerance, plus NEW/GONE/FAILED rows (see
 * [[diffRows]]). This is an artifact-to-artifact diff, not a test: the
 * spec pins the MEASUREMENT legs, not the fleet values, which wobble
 * under AQE coalescing; run it each round and adjudicate the (usually
 * empty) list in PLANS.md.
 */
object Census {

  /** One census row. The byte columns are MB so a row parsed back from
    * an artifact and a freshly measured one compare directly; amp is -1
    * for a scan-less plan, tasks 0 when no stage qualified for skew. */
  case class Row(query: String, scanMb: Double, writeMb: Double,
                 readMb: Double, spillMb: Double, amp: Double,
                 stages: Int, tasks: Int, stageMb: Double,
                 skewB: Double, skewT: Double)

  private val Mb = 1024.0 * 1024.0

  /** The skew floor: a shuffle-read stage counts for skew only with at
    * least this many tasks and this many bytes read. */
  private val SkewMinTasks = 8
  private val SkewMinBytes = 1L << 20

  /** Parse a census artifact's per-query table lines into query -> Row;
    * amp '-' parses as -1. Header, FAILED, flag, summary and wrapper
    * noise lines are skipped by the row shape. */
  def parseArtifact(lines: Iterator[String]): Map[String, Row] = {
    val row = ("""^(q_\w+)\s+([\d.]+)\s+([\d.]+)\s+([\d.]+)\s+([\d.]+)\s+([\d.]+|-)""" +
      """\s+(\d+)\s+(\d+)\s+([\d.]+)\s+([\d.]+)\s+([\d.]+)$""").r
    lines.map(_.trim).collect {
      case row(q, scan, w, r, sp, amp, st, tk, smb, sb, stt) =>
        q -> Row(q, scan.toDouble, w.toDouble, r.toDouble, sp.toDouble,
          if (amp == "-") -1.0 else amp.toDouble, st.toInt, tk.toInt,
          smb.toDouble, sb.toDouble, stt.toDouble)
    }.toMap
  }

  /** Census-vs-prior deltas beyond tolerance: (query, kind, prior,
    * current). kind names the column for movers ("shuffle_w_mb", "amp",
    * "skew_b"); each column moves only when it clears its absolute floor
    * (0.25 MB write / 0.1 amp / 0.5 skew_b — compression and AQE
    * re-grouping wobble) AND the tol ratio. amp compares only when both
    * sides scanned, skew_b only when both sides had a qualifying stage
    * (gaining or losing the first one is a threshold crossing, not a
    * move). The other kinds carry shuffle_w_mb: "NEW" for a query absent
    * from the prior that ships real bytes or skews past `flag` (prior
    * -1), "GONE" for a prior query no longer registered (current -1), and
    * "FAILED" for a query that threw during THIS census — distinct from
    * GONE (a crash is not a deregistration) and always a row, so a run
    * with failing queries can never print CLEAN. */
  def diffRows(current: Seq[Row], prior: Map[String, Row], tol: Double,
               flag: Double, failed: Set[String] = Set.empty)
      : Seq[(String, String, Double, Double)] = {
    def beyond(a: Double, b: Double, absFloor: Double): Boolean = {
      val lo = math.min(a, b); val hi = math.max(a, b)
      hi - lo > absFloor && (lo <= 0 || hi / lo > tol)
    }
    val out = Seq.newBuilder[(String, String, Double, Double)]
    failed.toSeq.sorted.foreach { n =>
      out += ((n, "FAILED", prior.get(n).map(_.writeMb).getOrElse(-1.0), -1.0))
    }
    current.foreach { c =>
      prior.get(c.query) match {
        case None =>
          if (c.writeMb > 0.25 || (c.tasks > 0 && c.skewB > flag))
            out += ((c.query, "NEW", -1.0, c.writeMb))
        case Some(p) =>
          if (beyond(c.writeMb, p.writeMb, 0.25))
            out += ((c.query, "shuffle_w_mb", p.writeMb, c.writeMb))
          if (c.amp >= 0 && p.amp >= 0 && beyond(c.amp, p.amp, 0.1))
            out += ((c.query, "amp", p.amp, c.amp))
          if (c.tasks > 0 && p.tasks > 0 && beyond(c.skewB, p.skewB, 0.5))
            out += ((c.query, "skew_b", p.skewB, c.skewB))
      }
    }
    // failed names are neither current nor gone — they were attempted
    val seen = current.map(_.query).toSet ++ failed
    prior.keysIterator.filterNot(seen).toSeq.sorted
      .foreach(n => out += ((n, "GONE", prior(n).writeMb, -1.0)))
    out.result()
  }

  /** One stage's per-task observations (successful tasks only). */
  case class StageTasks(stageId: Int, bytes: Seq[Long], durMs: Seq[Long]) {
    def tasks: Int = bytes.size
  }

  /** What one measured body left on the bus: per-stage successful-task
    * observations and byte totals over every task end. */
  case class Measured(stages: Seq[StageTasks], writeBytes: Long,
                      readBytes: Long, spillBytes: Long)

  private class TaskListener extends SparkListener {
    private val byStage =
      mutable.Map[Int, (mutable.ArrayBuffer[Long], mutable.ArrayBuffer[Long])]()
    private var write, read, spill = 0L
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      val m = t.taskMetrics
      if (m != null) {
        write += m.shuffleWriteMetrics.bytesWritten
        read += m.shuffleReadMetrics.totalBytesRead
        spill += m.diskBytesSpilled
        if (t.taskInfo != null && t.taskInfo.successful) {
          val (b, d) = byStage.getOrElseUpdate(t.stageId,
            (mutable.ArrayBuffer[Long](), mutable.ArrayBuffer[Long]()))
          b += m.shuffleReadMetrics.totalBytesRead
          d += t.taskInfo.duration
        }
      }
    }
    def snapshot(): Measured = synchronized {
      Measured(byStage.toSeq.map { case (id, (b, d)) => StageTasks(id, b.toSeq, d.toSeq) },
        write, read, spill)
    }
    def reset(): Unit = synchronized {
      byStage.clear(); write = 0L; read = 0L; spill = 0L
    }
  }

  /** max/mean over per-task values: 1.0 = perfectly balanced,
    * xs.size = one task carried everything; 1.0 when there is nothing
    * to imbalance (empty or all-zero). */
  def skewOf(xs: Seq[Long]): Double = {
    val total = xs.foldLeft(0L)(_ + _)
    if (xs.isEmpty || total <= 0L) 1.0
    else xs.max.toDouble * xs.size / total
  }

  /** The worst shuffle-read stage by bytes skew, among stages with
    * >= minTasks tasks and >= minBytes total shuffle read:
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

  /** Drain the async bus, reset, run `body`, drain again: attribution
    * can't bleed across calls. */
  private def observe[T](spark: SparkSession, listener: TaskListener)(body: => T)
      : (scala.util.Try[T], Measured) = {
    import org.apache.spark.sql.graftshim.Shim
    Shim.drainListenerBus(spark)
    listener.reset()
    val ok = scala.util.Try(body)
    Shim.drainListenerBus(spark)
    (ok, listener.snapshot())
  }

  /** Run `body` under a fresh per-task listener and return what it left
    * on the bus — the census's measurement primitive, exposed so the
    * spec can pin the listener legs on arbitrary plans. */
  def measure(spark: SparkSession)(body: => Unit): Measured = {
    val listener = new TaskListener
    spark.sparkContext.addSparkListener(listener)
    try {
      val (ok, m) = observe(spark, listener)(body)
      ok.get
      m
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Σ over every FileSourceScan instance (through persist/adaptive
    * curtains — cached frames still read their table once) of the scan's
    * table-dir on-disk size. A table scanned twice counts twice: that is
    * the read the cluster pays. */
  private def scannedBytes(p: org.apache.spark.sql.execution.SparkPlan): Long = {
    val sizes = mutable.Map[String, Long]()
    def dirSize(path: org.apache.hadoop.fs.Path): Long =
      sizes.getOrElseUpdate(path.toString, {
        val f = new java.io.File(path.toUri.getPath)
        Option(f.listFiles()).map(_.filter(_.isFile).map(_.length).sum)
          .getOrElse(if (f.isFile) f.length else 0L)
      })
    PlanAudit.allNodes(p).collect { case s: FileSourceScanExec =>
      s.relation.location.rootPaths.map(dirSize).sum
    }.sum
  }

  /** One row per query that ran, plus the names that threw. Each query
    * runs once under one listener attached for the whole census: clear
    * the cache, drain the bus, build + noop-write, drain. Caller owns the
    * session; FrameCache should be disabled. */
  def census(spark: SparkSession, sfDir: String, names: Seq[String])
      : (Seq[Row], Seq[String]) = {
    val listener = new TaskListener
    val failed = Seq.newBuilder[String]
    spark.sparkContext.addSparkListener(listener)
    val rows = try {
      names.flatMap { name =>
        val fn = graft.SparkEntry.queries(name)
        spark.catalog.clearCache()
        observe(spark, listener) {
          val df = fn(spark, sfDir)
          val scan = scannedBytes(df.queryExecution.sparkPlan)
          df.write.format("noop").mode("overwrite").save()
          scan
        } match {
          case (scala.util.Success(scan), m) =>
            // scan == 0: iterative queries (BPE train, pagerank,
            // triangles) materialize during CONSTRUCTION and return a
            // checkpoint-rooted frame — their scans happened before the
            // final plan existed, so amp is undefined (-1), not infinite;
            // absolute shuffle bytes are still the record
            val amp = if (scan > 0) m.writeBytes.toDouble / scan else -1.0
            val (tasks, stageMb, sb, st) =
              worstStage(m.stages, SkewMinTasks, SkewMinBytes) match {
                case Some((s, sb, st, tot)) => (s.tasks, tot / Mb, sb, st)
                case None => (0, 0.0, 1.0, 1.0)
              }
            Some(Row(name, scan / Mb, m.writeBytes / Mb, m.readBytes / Mb,
              m.spillBytes / Mb, amp, m.stages.size, tasks, stageMb, sb, st))
          case (scala.util.Failure(e), _) =>
            println(f"$name%-34s FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
            failed += name
            None
        }
      }
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.catalog.clearCache()
    }
    (rows, failed.result())
  }

  def main(args: Array[String]): Unit = {
    val usage = "usage: Census <sfDir> [flag=N] [--diff <priorArtifact> [tol=N]]"
    require(args.nonEmpty && !args(0).startsWith("--"), usage)
    val sfDir = args(0)
    val flag = args.find(_.startsWith("flag="))
      .map(_.stripPrefix("flag=").toDouble).getOrElse(4.0)
    val diffIdx = args.indexOf("--diff")
    val diffPath = if (diffIdx >= 0) {
      require(diffIdx + 1 < args.length, s"$usage — --diff needs the prior artifact path")
      Some(args(diffIdx + 1))
    } else None
    val tol = args.find(_.startsWith("tol="))
      .map(_.stripPrefix("tol=").toDouble).getOrElse(2.0)
    val spark = graft.Session.builder(graft.Session.cpus(32)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.SketchExprs.register(spark)
    sys.props("graft.frame.cache.disable") = "1"
    // the sweep's by-design exclusion: the all-pairs recall ground truth
    val exclude = Set("q_embed_neardup")
    try {
      val names = graft.SparkEntry.queries.keys.toSeq.sorted.filterNot(exclude)
      val (rows, failedNames) = census(spark, sfDir, names)
      println(f"\n${"query"}%-34s ${"scan_mb"}%8s ${"shuffle_w_mb"}%13s " +
        f"${"shuffle_r_mb"}%13s ${"spill_mb"}%9s ${"amp"}%7s ${"stages"}%6s " +
        f"${"tasks"}%6s ${"stage_mb"}%9s ${"skew_b"}%7s ${"skew_t"}%7s")
      rows.sortBy(r => (-r.amp, r.query)).foreach { r =>
        val ampS = if (r.amp < 0) f"${"-"}%7s" else f"${r.amp}%7.2f"
        println(f"${r.query}%-34s ${r.scanMb}%8.1f ${r.writeMb}%13.2f " +
          f"${r.readMb}%13.2f ${r.spillMb}%9.1f $ampS ${r.stages}%6d " +
          f"${r.tasks}%6d ${r.stageMb}%9.2f ${r.skewB}%7.2f ${r.skewT}%7.2f")
      }
      val scan = rows.map(_.scanMb).sum; val write = rows.map(_.writeMb).sum
      val measured = rows.filter(_.tasks > 0)
      val flagged = measured.filter(_.skewB > flag)
      println(f"[census] ${rows.size} queries: scan $scan%.0f MB, " +
        f"shuffle write $write%.0f MB (amp ${write / scan}%.2f), " +
        f"read ${rows.map(_.readMb).sum}%.0f MB, spill ${rows.map(_.spillMb).sum}%.0f MB; " +
        f"${measured.size} with a qualifying shuffle stage, worst skew_b " +
        f"${measured.map(_.skewB).foldLeft(1.0)(math.max)}%.2f, " +
        s"${flagged.size} flagged above ${flag}x" +
        (if (measured.isEmpty)
           s"; no shuffle stage clears the skew floor ($SkewMinTasks tasks, " +
             s"${SkewMinBytes >> 20} MB read), so the skew columns say nothing: " +
             "run at sf0.1 or larger to measure skew"
         else "") +
        (if (failedNames.nonEmpty)
           s"; ${failedNames.size} FAILED: ${failedNames.mkString(",")}"
         else ""))
      flagged.sortBy(-_.skewB).foreach { r =>
        println(f"[skew-flag] ${r.query}%-34s skew_b ${r.skewB}%.2f over ${r.tasks} tasks, ${r.stageMb}%.1f MB")
      }
      diffPath.foreach { path =>
        val prior = parseArtifact(scala.io.Source.fromFile(path).getLines())
        require(prior.nonEmpty, s"[census-diff] $path yielded zero rows — " +
          "wrong file or format drift; a vacuous diff must not read as clean")
        val moved = diffRows(rows, prior, tol, flag, failedNames.toSet)
        // diffRows compares skew_b only where both sides had a qualifying stage
        val skewCompared =
          rows.exists(c => c.tasks > 0 && prior.get(c.query).exists(_.tasks > 0))
        if (moved.isEmpty)
          println(s"[census-diff] CLEAN vs $path (tol ${tol}x, " +
            s"${prior.size} prior rows): no query moved beyond tolerance" +
            (if (skewCompared) "" else "; skew axis not compared"))
        else {
          println(s"[census-diff] vs $path (tol ${tol}x): ${moved.size} moved")
          moved.foreach { case (q, kind, p, c) =>
            val pS = if (p < 0) "-" else f"$p%.2f"
            val cS = if (c < 0) "-" else f"$c%.2f"
            println(f"$q%-34s $kind%-13s $pS -> $cS")
          }
        }
      }
    } finally {
      sys.props.remove("graft.frame.cache.disable")
      spark.stop()
    }
  }
}
