package graft.tools

import org.apache.spark.sql.SparkSession

/**
 * Redundant-evaluation census: for every registered query, count the
 * parquet FileScan leaves and the distinct tables they read in the
 * PLANNED physical tree (sparkPlan — no execution), walking through
 * persist boundaries and adaptive curtains via [[PlanAudit.allNodes]].
 * A query whose scan count exceeds its distinct-table count evaluates
 * some table's lineage more than once — exactly the shape that cost
 * q_ab_test 2× (two-branch conditional agg), termDocFreq 2× (tf feeding
 * df + join), and q_prefix_jaccard 25% at sf10 (prefix self-join):
 * ReuseExchange does NOT unify same-lineage branches when anything
 * differs above the shared subtree, so each extra scan is a full
 * scan→(tokenize)→shuffle chain at 100 TB.
 *
 * NOT a pinned equality census (multi-pass designs can be measured and
 * deliberate — pmiCollocations' three passes, dupSpanCoverage's
 * recompute-over-cache); this is the AUDIT view that says where to look.
 * Cached subtrees are counted once per cache point (the persist makes
 * re-reads cheap), so the report separates "scans reachable only through
 * an InMemoryRelation" from plan-direct scans.
 *
 * Usage: runMain graft.tools.ScanCensus <sfDir> [minExcess=1]
 * Output: one line per query with excess scans, sorted worst-first:
 *   <query> tables=<n> direct_scans=<n> cached_scans=<n> excess=<n>
 */
object ScanCensus {

  /** (query, distinct tables, direct scans, cache-backed scans) for every
    * registered query whose plan builds, plus (query, error) for every one
    * that throws at planning time — a query regressing to fails-to-plan
    * must be visible to the audit, not silently absent (r12 ADVICE).
    * FrameCache must already be disabled by the caller (main and the
    * ScaleSpec pin both do). The CacheManager is cleared BETWEEN per-query
    * builds: operators persistTracked() engine-internal frames eagerly at
    * construction, so a frame registered while planning an alphabetically
    * earlier query would otherwise be substituted as an InMemoryRelation
    * into later queries' plans — making direct-scan counts iteration-order
    * dependent and masking exactly the redundant-lineage regressions this
    * census exists to catch (r12 ADVICE).
    */
  def report(spark: SparkSession, sfDir: String)
      : (Seq[(String, Int, Int, Int)], Seq[(String, String)]) = {
    val rows = Seq.newBuilder[(String, Int, Int, Int)]
    val fails = Seq.newBuilder[(String, String)]
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      spark.catalog.clearCache()
      scala.util.Try {
        val plan = fn(spark, sfDir).queryExecution.sparkPlan
        // a scan is "cached" when it is reachable only through an
        // InMemoryTableScan (allNodes walks into cachedPlan); direct
        // scans re-run their lineage on every consumer
        val direct = collectScans(plan, through = false)
        val withCached = collectScansFromAll(PlanAudit.allNodes(plan))
        val tables = withCached.map(tableOf).distinct.sorted
        (name, tables.size, direct.size, withCached.size - direct.size)
      } match {
        case scala.util.Success(r) => rows += r
        case scala.util.Failure(e) =>
          fails += ((name, s"${e.getClass.getSimpleName}: ${e.getMessage}"))
      }
    }
    spark.catalog.clearCache()
    (rows.result(), fails.result())
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val minExcess = if (args.length > 1) args(1).toInt else 1
    val spark = graft.Session.builder(4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.SketchExprs.register(spark)
    // FrameCache off so the census sees the real computation pipelines
    sys.props("graft.frame.cache.disable") = "1"
    try {
      val (rows, fails) = report(spark, sfDir)
      rows
        .map { case (name, t, d, c) => (name, t, d, c, d - t) }
        .filter(_._5 >= minExcess)
        .sortBy(-_._5)
        .foreach { case (name, t, d, c, e) =>
          println(f"$name%-34s tables=$t direct_scans=$d cached_scans=$c excess=$e")
        }
      fails.foreach { case (name, err) =>
        println(f"$name%-34s FAILED TO PLAN: $err")
      }
    } finally {
      sys.props.remove("graft.frame.cache.disable")
      spark.stop()
    }
  }

  private def tableOf(s: org.apache.spark.sql.execution.FileSourceScanExec): String =
    s.relation.location.rootPaths.headOption.map(_.getName).getOrElse("?")

  /** FileScans in the tree, optionally walking into cache/adaptive
    * curtains. `through = false` stops at InMemoryTableScan (those
    * re-reads are cache-backed, not lineage re-runs). */
  private def collectScans(p: org.apache.spark.sql.execution.SparkPlan,
                           through: Boolean)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
    val out = Seq.newBuilder[org.apache.spark.sql.execution.FileSourceScanExec]
    def walk(n: org.apache.spark.sql.execution.SparkPlan): Unit = n match {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => out += s
      case imts: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        if (through) walk(imts.relation.cachedPlan)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        walk(a.executedPlan)
      case other =>
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(p)
    out.result()
  }

  private def collectScansFromAll(all: Seq[org.apache.spark.sql.execution.SparkPlan])
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
    all.collect { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
}
