package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, Tables}

/** `batch_registry`: one closed-loop client runs registry queries one at a
  * time, each materialized through the `noop` sink as `graft.Bench` does.
  * Passes repeat until `seconds` have elapsed; every pass starts from empty
  * on-disk memos (`java.io.tmpdir` is switched to a fresh directory and the
  * bucketed tables a previous pass registered are dropped). An untimed
  * first pass collects every output for the digest check, and untimed
  * noop passes finish warming the JVM. */
object Batch {
  import Harness._

  val Tables10 = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def memoEntries(tmp: File): Seq[String] =
    Option(tmp.listFiles).toSeq.flatten.filter(d => d.isDirectory && d.getName.startsWith("graft-"))
      .flatMap(d => Option(d.listFiles).toSeq.flatten.filterNot(_.getName.startsWith("."))
        .map(e => s"${d.getName}/${e.getName}"))
      .sorted

  def freshMemo(spark: SparkSession, dir: File): Unit = {
    dir.mkdirs()
    System.setProperty("java.io.tmpdir", dir.getPath)
    spark.catalog.listTables().collect().map(_.name).filter(_.startsWith("graft_bkt_"))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
  }

  def run(o: Opts, work: File, out: Out): Unit = {
    val data = new File(work, "registry").getPath
    val orders = Files.readAllLines(Paths.get(o("orders"))).asScala.map(_.split(",").toSeq).toSeq
    val cores = o.int("cores")
    val (spark, _) = repeatedSetup(o.int("setups"), out) { () =>
      val s = session(cores, work)
      freshMemo(s, new File(work, "memo/warmup"))
      s.range(1000000).selectExpr("sum(id)").collect()
      Tables10.foreach(t => Tables.table(s, data, t).schema)
      (s, ())
    }
    env(spark, out)
    out("setup_end") = now()
    // untimed first pass: collects every output for the digest check and
    // warms the JVM for the timed passes
    val outDir = new File(work, "outputs"); outDir.mkdirs()
    freshMemo(spark, new File(work, "memo/outputs"))
    val errors = orders.head.flatMap { name =>
      try {
        val rows = canonRows(SparkEntry.queries(name)(spark, data))
        Files.write(new File(outDir, s"$name.txt").toPath, rows.asJava)
        None
      } catch { case e: Throwable => Some(name -> s"${e.getClass.getName}: ${e.getMessage}".take(500)) }
    }
    out("output_errors") = errors.toMap
    out("outputs_end") = now()
    val sc = spark.sparkContext
    // untimed warm-up passes through the noop sink: the first noop pass
    // after the output pass ran up to 1.3x slower while the JIT compiled
    (0 until o.int("warm_passes")).foreach { i =>
      freshMemo(spark, new File(work, s"memo/warm-$i"))
      orders(orders.size - 1 - i).foreach(name =>
        SparkEntry.queries(name)(spark, data).write.format("noop").mode("overwrite").save())
    }
    out("warm_end") = now()
    val tracer = if (o("trace") == "1") { val t = new Tracer(spark); t.install(); Some(t) } else None
    val budgetMs = o.int("seconds") * 1000L
    val t0 = now()
    var pass = 0
    val queries = mutable.ArrayBuffer.empty[Map[String, Any]]
    while (pass < o.int("min_passes") || now() - t0 < budgetMs) {
      val memo = new File(work, s"memo/pass-$pass")
      freshMemo(spark, memo)
      orders(pass % orders.size).foreach { name =>
        val before = memoEntries(memo).toSet
        sc.setLocalProperty(SpanKey, s"q:$pass:$name")
        val start = now()
        val cpu0 = cpuMs()
        val err = try {
          SparkEntry.queries(name)(spark, data).write.format("noop").mode("overwrite").save(); ""
        } catch { case e: Throwable => s"${e.getClass.getName}: ${e.getMessage}".take(500) }
        val cpu = cpuMs() - cpu0
        val end = now()
        sc.setLocalProperty(SpanKey, null)
        queries += Map("name" -> name, "pass" -> pass, "start" -> start, "end" -> end, "cpu_ms" -> cpu, "error" -> err,
          "memo_new" -> memoEntries(memo).filterNot(before), "memo_bytes" -> dirBytes(memo))
      }
      pass += 1
    }
    out("queries") = queries.toSeq
    out("passes") = pass
    tracer.foreach { t => t.drain(); t.writeJobs(out) }
    spark.stop()
  }
}
