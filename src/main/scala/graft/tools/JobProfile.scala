package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Per-job wall-clock breakdown of one registered query: run it through
  * the bench's noop-sink protocol under the bench session shape and print
  * every Spark job's (duration, description) in submission order — the
  * "where do the seconds go" view the Spark UI gives, for a UI-less
  * container. Two passes: the second isolates steady-state (warm JIT,
  * warm FrameCache memos) from first-run training/materialization cost.
  * Usage: runMain graft.tools.JobProfile <sfDir> <queryName> [passes] */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val name = args(1)
    val passes = if (args.length > 2) args(2).toInt else 2
    val spark = graft.Session.builder(graft.Session.cpus(32)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        starts.put(j.jobId, (j.time,
          Option(j.properties.getProperty("spark.job.description")).getOrElse("")))
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val s = starts.remove(j.jobId)
        if (s != null) rows.add((j.jobId, j.time - s._1, s._2))
      }
    })
    val fn = graft.SparkEntry.queries(name)
    for (p <- 1 to passes) {
      rows.clear()
      val t0 = System.nanoTime()
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      org.apache.spark.sql.graftshim.Shim.drainListenerBus(spark)
      println(f"== pass $p: $name wall $wall%.2f s ==")
      import scala.jdk.CollectionConverters._
      rows.asScala.toSeq.sortBy(_._1).foreach { case (id, ms, desc) =>
        println(f"  job $id%3d  ${ms / 1000.0}%6.2f s  ${desc.take(90)}")
      }
    }
    spark.stop()
  }
}
