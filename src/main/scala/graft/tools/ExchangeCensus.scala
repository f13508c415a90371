package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}

/**
 * Exchange-reuse census (VERDICT r12 item 4 / r13 item 3): the ScanCensus
 * counts parquet FileScan leaves, so a duplicated shuffle chain over
 * NON-SCAN lineage — two plan-identical exchange subtrees that
 * ReuseExchange failed to unify — is invisible to it. This census counts,
 * per registered query, the exchange nodes in the PREPARED physical plan
 * and how many of them are canonical duplicates of another live exchange
 * in the same plan.
 *
 * Method: plan with AQE OFF so `executedPlan` runs the non-adaptive
 * preparation rules including ReuseExchangeAndSubquery — after that rule,
 * every exchange it could unify is a [[ReusedExchangeExec]] stub, so any
 * remaining pair of canonically-equal [[Exchange]] nodes is a REAL miss
 * (the adaptive path reuses by the same canonicalized-plan equality via
 * its stage cache, so AQE-off is a faithful static proxy). Auto-broadcast
 * is ALSO disabled (PlanAudit's fat-census lesson): small-sf size
 * estimates plan scale-relevant joins as broadcasts, and a duplicated
 * SHUFFLE chain a 100 TB run would execute twice is invisible behind two
 * cheap-looking broadcast twins — the census audits the shape the big
 * corpus takes, not the one the test sf takes. Walking stops
 * at InMemoryTableScan (exchanges below a persist run once at
 * materialization) and does not enter ReusedExchangeExec (its child IS
 * the original exchange counted where it lives); subquery plans are
 * chased like ScanCensus does. FrameCache must be off and the
 * CacheManager is cleared between builds (same iteration-order hazard as
 * ScanCensus, r13 fix).
 *
 * The q_ab_test defect class proper (same lineage, DIFFERENT tops — not
 * canonically equal, so invisible here too) remains ScanCensus territory;
 * this census closes the complementary gap where the duplicated subtrees
 * ARE identical and reuse silently failed (e.g. across a subquery
 * boundary, or an exprId-divergent rebuild of the same frame).
 *
 * Usage: runMain graft.tools.ExchangeCensus <sfDir> [minDup=1]
 * Output: one line per query, worst first:
 *   <query> exchanges=<n> reused=<n> dup_unreused=<n>
 * plus a population summary; FAILED-TO-PLAN lines are first-class.
 */
object ExchangeCensus {

  /** (query, live exchanges, reused stubs, canonical-duplicate live
    * exchanges) for every registered query whose plan builds, plus
    * (query, error) for planning failures. */
  def report(spark: SparkSession, sfDir: String)
      : (Seq[(String, Int, Int, Int)], Seq[(String, String)]) = {
    val rows = Seq.newBuilder[(String, Int, Int, Int)]
    val fails = Seq.newBuilder[(String, String)]
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      spark.catalog.clearCache()
      scala.util.Try {
        val plan = fn(spark, sfDir).queryExecution.executedPlan
        val nodes = directNodes(plan)
        val live = nodes.collect { case e: Exchange => e }
        val reused = nodes.count(_.isInstanceOf[ReusedExchangeExec])
        val dup = live.groupBy(_.canonicalized).values.map(_.size - 1).sum
        (name, live.size, reused, dup)
      } match {
        case scala.util.Success(r) => rows += r
        case scala.util.Failure(e) =>
          fails += ((name, s"${e.getClass.getSimpleName}: ${e.getMessage}"))
      }
    }
    spark.catalog.clearCache()
    (rows.result(), fails.result())
  }

  /** Every node reachable without crossing a cache curtain or re-entering
    * a reused exchange's original subtree; chases subqueries and nested
    * adaptive roots (cached subtrees carry their own). */
  private def directNodes(p: SparkPlan): Seq[SparkPlan] = {
    val out = Seq.newBuilder[SparkPlan]
    def walk(n: SparkPlan): Unit = {
      out += n
      n match {
        case _: InMemoryTableScanExec => // cache-backed: runs once
        case _: ReusedExchangeExec => // stub: original counted where it lives
        // A reused subquery shares its SubqueryExec child with the original
        // site; walking it again would double-count every live exchange in
        // the shared subtree and report a false dup_unreused (ADVICE r14).
        case _: org.apache.spark.sql.execution.ReusedSubqueryExec =>
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          walk(a.inputPlan)
        case other =>
          other.children.foreach(walk)
          other.subqueries.foreach(walk)
      }
    }
    walk(p)
    out.result()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val minDup = if (args.length > 1) args(1).toInt else 1
    val spark = graft.Session.builder(4)
      // AQE OFF: preparation must run ReuseExchangeAndSubquery so a
      // surviving canonical duplicate is a genuine reuse miss
      .config("spark.sql.adaptive.enabled", "false")
      // broadcast OFF: audit the shuffle shape a 100 TB corpus plans,
      // not the broadcast shape the test sf's size estimates pick
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.SketchExprs.register(spark)
    sys.props("graft.frame.cache.disable") = "1"
    try {
      val (rows, fails) = report(spark, sfDir)
      rows.filter(_._4 >= minDup).sortBy(-_._4).foreach {
        case (name, ex, reused, dup) =>
          println(f"$name%-34s exchanges=$ex reused=$reused dup_unreused=$dup")
      }
      fails.foreach { case (name, err) =>
        println(f"$name%-34s FAILED TO PLAN: $err")
      }
      val (ex, re, du) = rows.foldLeft((0, 0, 0)) { case ((a, b, c), r) =>
        (a + r._2, b + r._3, c + r._4)
      }
      println(s"[exchange-census] ${rows.size} queries: $ex live exchanges, " +
        s"$re reused stubs, $du canonical duplicates unreused " +
        s"(${rows.count(_._4 > 0)} queries affected)")
    } finally {
      sys.props.remove("graft.frame.cache.disable")
      spark.stop()
    }
  }
}
