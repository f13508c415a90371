package graft.tools

import org.apache.spark.sql.functions._

/**
 * Stage split for [[graft.ext.TextAnalysis.bpeTrainMergesCarried]] —
 * the r10 follow-up to the r9 stage-split methodology (PLANS.md round-9
 * §1; VERDICT r9 item 4: "separate pair-count shuffle from the
 * driver-side winner loop; fix or adjudicate"). Replays the trainer's
 * exact phases with a timer between each materialization barrier:
 *
 *   prep      tokenize → posexplode → repartition(doc_id) →
 *             sortWithinPartitions → localCheckpoint(true)
 *   pairs_r   in-partition neighbor zip → pair-count hash aggregate →
 *             (count desc, pair asc) limit 1 → collect (1 row)
 *   rebuild_r greedy merge scan (mapPartitions) → localCheckpoint(true)
 *
 * The trainer's own code is the reference (TextAnalysis.scala:307-370);
 * this probe restates the phase bodies verbatim so each can be timed at
 * a barrier — any drift is caught by asserting the probed winners equal
 * the operator's.
 *
 * Usage: runMain graft.tools.BpeTrainProbe <sfDir> [rounds=3]
 * Output: one JSON line per phase {"phase":…,"sec":…}, plus a token
 * count line for per-token cost.
 */
object BpeTrainProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val rounds = if (args.length > 1) args(1).toInt else 3
    val spark = graft.Session.builder(graft.Session.cpus(32)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // per-phase wall + JVM GC delta + post-phase block-manager storage:
    // the r11 re-probe saw late-round growth REAPPEAR after the r10 free
    // fix; these columns separate "GC pressure" from "blocks piling up"
    // from "the phase genuinely does more work"
    def gcMs: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }
    def storageMb: Long =
      org.apache.spark.SparkEnv.get.blockManager.master.getMemoryStatus
        .values.map { case (max, free) => max - free }.sum / (1024 * 1024)
    def timed[A](phase: String)(f: => A): A = {
      val g0 = gcMs
      val t0 = System.nanoTime()
      val r = f
      println(f"""{"phase":"$phase","sec":${(System.nanoTime() - t0) / 1e9}%.2f,""" +
        s""""gc_ms":${gcMs - g0},"storage_mb":$storageMb}""")
      r
    }

    val docs = graft.Tables.documents(spark, sfDir)
    graft.functions.SketchExprs.register(spark)

    var tp = timed("prep") {
      val t = graft.ext.TextAnalysis.withTokens(docs)
        .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "tok")))
        .repartition(col("doc_id"))
        .sortWithinPartitions(col("doc_id"), col("pos"))
        .select(col("doc_id").cast("long").as("doc_id"), col("tok"))
        .as[(Long, String)]
        .localCheckpoint(true, graft.ext.TextAnalysis.CheckpointLevel)
      t
    }
    val nTokens = timed("token_count")(tp.count())
    println(s"""{"tokens":$nTokens}""")

    val winners = Seq.newBuilder[(Int, String, String, Long)]
    for (r <- 1 to rounds) {
      val top = timed(s"pairs_$r") {
        tp.mapPartitions { it =>
          var hasPrev = false; var pDoc = 0L; var pTok: String = null
          it.flatMap { case (doc, tok) =>
            val out =
              if (hasPrev && pDoc == doc) Iterator.single((pTok, tok))
              else Iterator.empty
            hasPrev = true; pDoc = doc; pTok = tok
            out
          }
        }.toDF("a", "b")
          .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c"))
          .orderBy(col("c").desc, col("a"), col("b")).limit(1)
          .as[(String, String, Long)].collect()
      }
      top.headOption.foreach { case (a, b, c) =>
        winners += ((r, a, b, c))
        val prev = tp
        tp = timed(s"rebuild_$r") {
          tp.mapPartitions { it =>
            var hasPend = false; var qDoc = 0L; var qTok: String = null
            val tail = Iterator.single(()).flatMap { _ =>
              if (hasPend) { hasPend = false; Iterator.single((qDoc, qTok)) }
              else Iterator.empty
            }
            it.flatMap { case (doc, tok) =>
              if (hasPend && qDoc == doc && qTok == a && tok == b) {
                hasPend = false
                Iterator.single((doc, a + " " + b))
              } else {
                val out =
                  if (hasPend) Iterator.single((qDoc, qTok)) else Iterator.empty
                hasPend = true; qDoc = doc; qTok = tok
                out
              }
            } ++ tail
          }.localCheckpoint(true, graft.ext.TextAnalysis.CheckpointLevel)
        }
        // mirror the operator's r10 fix: free the superseded generation
        org.apache.spark.sql.graftshim.Shim.freeLocalCheckpoint(prev)
      }
    }
    // drift guard: the probe's winners must equal the operator's
    val ref = graft.ext.TextAnalysis.bpeTrainMergesCarried(docs, rounds)
      .orderBy("round").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    require(ref == winners.result(),
      s"probe diverged from bpeTrainMergesCarried: $ref vs ${winners.result()}")
    println(s"""{"probe":"ok","winners":${winners.result().size}}""")
    spark.stop()
  }
}
