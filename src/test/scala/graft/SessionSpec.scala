package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import graft.plans._

/** Every session in the repository comes from [[Session.builder]], and
  * that builder yields the shipped engine. */
class SessionSpec extends SparkSpec {

  test("no source file other than the factory builds its own SparkSession") {
    val needle = "SparkSession" + ".builder" // split so this file never matches
    val factory = Paths.get("src/main/scala/graft/Session.scala")
    val roots = Seq("src/main", "src/test").map(Paths.get(_))
    roots.foreach(r => assert(Files.isDirectory(r), s"$r not found from ${Paths.get("").toAbsolutePath}"))
    val offenders = roots.flatMap { r =>
      val files = Files.walk(r)
      try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    }.filter(p => p != factory && Files.readString(p).contains(needle))
    assert(offenders.isEmpty,
      s"build the session through graft.Session.builder instead: ${offenders.mkString(", ")}")
  }

  test("a factory session has cpus shuffle partitions, UTC and the Graft extensions") {
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.sparkContext.master === "local[4]")
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
    val rules = state.optimizer.extendedOperatorOptimizationRules
    Seq(ApproxDistinctRewrite(), ApproxPercentileRewrite(), StripRedundantGenerateFilter())
      .foreach(r => assert(rules.contains(r), s"${r.ruleName} not injected"))
    assert(state.planner.extraPlanningStrategies.contains(AsOfJoinStrategy))
    // the extension is the one install path: a session cloned from the
    // factory one resolves every graft_* function with nothing registered
    val fresh = spark.newSession()
    Seq("graft_dot", "graft_simhash32", "graft_minhash", "graft_token_hash",
      "graft_rep_stats", "graft_shingle_hash", "graft_cms", "graft_lsh_bands",
      "graft_zorder", "graft_tokens", "graft_scrub")
      .foreach(f => assert(fresh.catalog.functionExists(f), s"$f not installed"))
  }
}
