package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

/** The system-under-test side of the benchmark. It drives the engine only
  * through its public functions and writes raw records (timings, spans,
  * Spark job/stage/task counts, stream progress, canonicalized outputs) into
  * one map written as a JSON file; `run.py` turns them into metrics and
  * checks them.
  *
  * Arguments are `key=value`: workload, work (directory for every file the
  * run makes), out (the result file), cores, seconds, trace (0|1) and
  * setups; `batch_registry` adds orders and min_passes, `stream_reference`
  * adds slots, interval_ms, drain_files and files_per_trigger. The stream workload
  * prints `READY` once warm and waits for the releaser's `released.done`.
  */
object Harness {

  final case class Opts(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing argument $k"))
    def int(k: String): Int = apply(k).toInt
  }

  /** The raw result of a run: plain Scala maps, sequences, strings and
    * numbers, serialized with json4s at exit. */
  type Out = mutable.LinkedHashMap[String, Any]

  implicit val formats: Formats = DefaultFormats

  def toJson(v: AnyRef): String = Serialization.write(v)

  val SpanKey = "perfbench.span"
  val BatchIdKey = "streaming.sql.batchId"

  def now(): Long = System.currentTimeMillis()

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** The JIT compiler's threads (a fixed set: `run.py` turns off their
    * dynamic creation), by their `/proc/self/task` directory. */
  private lazy val jitThreads: Seq[File] =
    Option(new File("/proc/self/task").listFiles).toSeq.flatten.filter { t =>
      val comm = try Files.readString(new File(t, "comm").toPath) catch { case _: java.io.IOException => "" }
      comm.startsWith("C1 CompilerThre") || comm.startsWith("C2 CompilerThre")
    }

  /** CPU time of this JVM so far in ms: every thread, the JIT compiler's
    * left out. JIT work is warm-up whose amount follows the host's speed
    * rather than the engine. On a virtual machine the figure also leaves
    * out the time the host ran other guests on our vCPUs. */
  def cpuMs(): Double = {
    val jitNs = jitThreads.map { t =>
      try Files.readString(new File(t, "schedstat").toPath).trim.split(' ')(0).toLong
      catch { case _: java.io.IOException => 0L }
    }.sum
    (os.getProcessCpuTime - jitNs) / 1e6
  }

  def main(args: Array[String]): Unit = {
    val o = Opts(args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap)
    val work = new File(o("work")).getAbsoluteFile
    val out: Out = mutable.LinkedHashMap("workload" -> o("workload"))
    o("workload") match {
      case "batch_registry" => Batch.run(o, work, out)
      case "stream_reference" => Streams.run(o, work, out)
      case w => sys.error(s"unknown workload $w")
    }
    Files.writeString(Paths.get(o("out")), toJson(out))
  }

  /** A fresh local session on `cores` threads; shuffle partitions (and so
    * state partitions) follow the core count. */
  def session(cores: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").toURI.toString)
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Run `setup` `times` times, stopping the previous session in between,
    * and record every duration; the last session is kept. */
  def repeatedSetup[T](times: Int, out: Out)(setup: () => (SparkSession, T)): (SparkSession, T) = {
    var last: (SparkSession, T) = null
    val secs = (1 to times).map { i =>
      if (last != null) { last._1.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession() }
      val t0 = System.nanoTime()
      last = setup()
      (System.nanoTime() - t0) / 1e9
    }
    out("setup_s") = secs
    last
  }

  def env(spark: SparkSession, out: Out): Unit = out("env") = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors(),
    "max_heap_bytes" -> Runtime.getRuntime.maxMemory(),
    "loadavg" -> Files.readString(Paths.get("/proc/loadavg")).trim,
    "java" -> System.getProperty("java.version"),
    "spark" -> spark.version,
    "spark_conf" -> spark.conf.getAll)

  /** Canonical text form of one output row: doubles to 9 significant
    * digits, timestamps as epoch micros, nested values recursively. */
  def canon(v: Any): String = v match {
    case null => "\\N"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else "%.9g".format(d)
    case f: Float => "%.6g".format(f.toDouble)
    case t: java.sql.Timestamp => (t.getTime * 1000 + (t.getNanos / 1000) % 1000).toString
    case t: java.time.Instant => (t.getEpochSecond * 1000000 + t.getNano / 1000).toString
    case t: java.time.LocalDateTime =>
      val i = t.toInstant(java.time.ZoneOffset.UTC); (i.getEpochSecond * 1000000 + i.getNano / 1000).toString
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case x => x.toString
  }

  def canonRows(df: DataFrame): Seq[String] = df.collect().toSeq.map(r => r.toSeq.map(canon).mkString("|"))

  def dirBytes(f: File): Long =
    if (!f.exists) 0L
    else if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)
}

/** Collects Spark job/stage/task numbers (attached to benchmark spans
  * through the `perfbench.span` local property, or a stream batch id) and
  * planning phases. Only registered in traced runs. */
object Tracer {
  final case class JobRec(id: Int, span: String, batch: String, start: Long,
                          var end: Long, stages: Seq[Int])
  final case class PlanRec(start: Long, end: Long, ms: Long, memoReads: Seq[String])
}

final class Tracer(spark: SparkSession) {
  import org.apache.spark.scheduler._
  import Harness.Out
  import Tracer._

  final class StageRec {
    var tasks = 0; var runMs = 0L; var gcMs = 0L; var shWrite = 0L; var shRead = 0L
    var spill = 0L; var scan = false
    val readPerTask = mutable.ArrayBuffer.empty[Long]
  }

  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.HashMap.empty[Int, StageRec]
  val plans = mutable.ArrayBuffer.empty[PlanRec]

  private def stage(id: Int) = stages.getOrElseUpdate(id, new StageRec)

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val p = Option(e.properties)
      jobs(e.jobId) = JobRec(e.jobId, p.flatMap(x => Option(x.getProperty(Harness.SpanKey))).getOrElse(""),
        p.flatMap(x => Option(x.getProperty(Harness.BatchIdKey))).getOrElse(""),
        e.time, -1L, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val s = stage(e.stageId)
      s.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        s.runMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.shWrite += m.shuffleWriteMetrics.bytesWritten
        s.shRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        if (m.shuffleReadMetrics.totalBytesRead > 0) s.readPerTask += m.shuffleReadMetrics.totalBytesRead
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      if (e.stageInfo.rddInfos.exists(r => r.name.contains("FileScan") || r.name.contains("FileStreamSource")))
        stage(e.stageInfo.stageId).scan = true
    }
  }

  val qeListener: org.apache.spark.sql.util.QueryExecutionListener =
    new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit = {
        val ph = qe.tracker.phases.values.toSeq
        if (ph.nonEmpty) {
          val reads = try {
            qe.analyzed.collect {
              case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l.relation match {
                case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                  h.location.rootPaths.map(_.toString).filter(_.contains("/graft-"))
                case _ => Nil
              }
            }.flatten
          } catch { case _: Throwable => Nil }
          synchronized { plans += PlanRec(ph.map(_.startTimeMs).min, ph.map(_.endTimeMs).max, ph.map(_.durationMs).sum, reads) }
        }
      }
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Wait until every posted listener event has been delivered. */
  def drain(): Unit = org.apache.spark.perfbenchshim.Bus.drain(spark)

  def writeJobs(out: Out): Unit = synchronized {
    out("jobs") = jobs.values.toSeq.map { j =>
      val ss = j.stages.flatMap(stages.get)
      // skew of the job's most unbalanced shuffle-reading stage
      val skews = ss.filter(_.readPerTask.size >= 2).map { s =>
        val v = s.readPerTask.sorted
        v.last.toDouble / math.max(1L, v(v.size / 2))
      }
      Map("id" -> j.id, "span" -> j.span, "batch" -> j.batch, "start" -> j.start, "end" -> j.end,
        "stages" -> ss.size, "tasks" -> ss.map(_.tasks).sum, "run_ms" -> ss.map(_.runMs).sum,
        "gc_ms" -> ss.map(_.gcMs).sum, "shuffle_write" -> ss.map(_.shWrite).sum,
        "shuffle_read" -> ss.map(_.shRead).sum, "spill" -> ss.map(_.spill).sum,
        "scan_run_ms" -> ss.filter(_.scan).map(_.runMs).sum,
        "skew" -> (if (skews.isEmpty) 1.0 else skews.max))
    }
    out("plans") = plans.toSeq.map(p =>
      Map("start" -> p.start, "end" -> p.end, "ms" -> p.ms, "memo_reads" -> p.memoReads))
  }
}
