package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * Stage split for `q_embed_components` — the r13 instance of the
 * BpeTrainProbe methodology (VERDICT r12 item 1: "it is now the engine's
 * largest scaled cost (40.4 s at sf10); run a per-round stage table or a
 * measured already-optimal adjudication"). The query is
 * [[graft.ext.Similarity.embeddingComponents]] =
 * [[graft.ext.Similarity.lshNearDupPairs]] (candidate edges) feeding
 * [[graft.ext.Dedup.componentsFromEdges]] (min-label propagation); the
 * probe runs the REAL operators with instrumentation injected through
 * their seams — `onBands` (forces + times the bands persist) and
 * [[graft.ext.Dedup.CcHooks]] (every eager checkpoint barrier, named) —
 * instead of restating their bodies (the r13–r16 copy was a standing
 * drift hazard; ComponentsProbeSpec's parity pin now guards only the
 * 4-line composition below). The wall clock decomposes into:
 *
 *   bands_persist  scan → 64-plane signatures → posexplode → bucket cap
 *                  window → DISK_ONLY persist (materialized via count)
 *   bucket_join    self-join on (band, key) → streamed cosine → threshold
 *                  → distinct → ids semi-join → eager localCheckpoint
 *                  (the operator's "edges" barrier)
 *   touched/symall/labels0   the three setup checkpoints
 *   round_N        one batched propagation round (3 steps + checkpoint;
 *                  the decimal label-sum convergence action runs between)
 *   finish         inactive-id anti-join union + final count
 *
 * Per phase it prints wall + JVM GC delta + block-manager storage delta —
 * the BPE probe's three columns that separate "GC pressure" from "blocks
 * piling up" from "the phase genuinely does more work".
 *
 * `ser=1` switches EVERY eager checkpoint — the bucket_join edge barrier,
 * the setup checkpoints, and the loop-side round checkpoints — to
 * MEMORY_AND_DISK_SER, the lever that bought q_bpe_encode 28×→12.7×
 * (flat GC at sf10). The label tables here are two long columns, so the
 * prediction going in is that the level is neutral and the candidate
 * phases dominate; the probe exists to measure, not to assume.
 *
 * `prepart=1` shuffles+sorts symAll by doc2 ONCE into its checkpoint
 * (LogicalRDD preserves partitioning and ordering), so each propagation
 * round's SMJ exchanges only the label table — measured ~3 s SLOWER per
 * sf10 run (PLANS r13 §1); kept as a probe arm with its parity pin.
 *
 * Usage: runMain graft.tools.ComponentsProbe <sfDir> [maxRounds=20] [ser=0] [parity=0] [prepart=0]
 * Output: one JSON line per phase {"phase":…,"sec":…,"gc_ms":…,"storage_mb":…}
 * plus edge/label count lines.
 */
object ComponentsProbe {

  def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
  }

  /** Block-manager MEMORY + DISK in use. Memory alone (getMemoryStatus
    * max-free) is blind to this probe's own dominant storage — the bands
    * DISK_ONLY persist and disk-resident checkpoint blocks — so a
    * memory-only delta would read ~0 while blocks pile up on disk. */
  def storageMb: Long = {
    val status = org.apache.spark.SparkEnv.get.blockManager.master
    val mem = status.getMemoryStatus.values.map { case (max, free) => max - free }.sum
    val disk = status.getStorageStatus.map(_.diskUsed).sum
    (mem + disk) / (1024 * 1024)
  }

  /** The q_embed_components pipeline (the exact
    * [[graft.ext.Similarity.embeddingComponents]] composition at the
    * SparkEntry registration's parameters) run through the operators'
    * instrumentation seams; returns the label table. */
  def probed(spark: SparkSession, sfDir: String, maxRounds: Int,
             level: Option[StorageLevel], prepart: Boolean = false): DataFrame = {
    import graft.ext.{Dedup, Similarity}
    def timed[A](phase: String)(f: => A): A = {
      val g0 = gcMs; val s0 = storageMb
      val t0 = System.nanoTime()
      val r = f
      println(f"""{"phase":"$phase","sec":${(System.nanoTime() - t0) / 1e9}%.2f,""" +
        f""""gc_ms":${gcMs - g0},"storage_mb_delta":${storageMb - s0}}""")
      r
    }
    val hooks = new Dedup.CcHooks {
      override def ckpt(name: String, df: DataFrame): DataFrame = {
        // historical phase label: the "edges" barrier's eager checkpoint
        // is where the bucket self-join actually executes
        val display = if (name == "edges") "bucket_join" else name
        val out = timed(display) {
          val laid =
            if (prepart && name == "symall")
              df.repartition(col("doc2")).sortWithinPartitions("doc2")
            else df
          level match {
            case Some(l) => laid.localCheckpoint(true, l)
            case None => laid.localCheckpoint(true)
          }
        }
        if (name == "edges") println(s"""{"edges":${out.count()}}""")
        if (name == "touched") println(s"""{"touched":${out.count()}}""")
        out
      }
    }
    val embeddings = graft.Tables.embeddings(spark, sfDir)
    var bands: DataFrame = null
    // == Similarity.embeddingComponents at the q_embed_components
    // registration's parameters (production 16-plane banding + the 10k
    // bucket cap — the first cut of this probe ran the 4-plane test layout
    // uncapped and measured a 17.4M-edge quadratic blowup that the real
    // query never executes). ComponentsProbeSpec pins this composition
    // label-identical to the operator.
    val edges = Similarity.lshNearDupPairs(embeddings,
        planesPerBand = Similarity.ProductionPlanesPerBand,
        maxBucketSize = Dedup.ProductionMaxBucketSize,
        onBands = b => { bands = b; timed("bands_persist")(b.count()) })
      .select(col("id1").as("doc1"), col("id2").as("doc2"))
    val labels = Dedup.componentsFromEdges(
      embeddings.select(col("vec_id").as("doc_id")), edges, maxRounds,
      hooks = hooks)
    timed("finish") {
      val out = labels.select(col("doc_id").as("vec_id"), col("component"))
      println(s"""{"labels":${out.count()}}""")
      // release the bands DISK_ONLY persist: in parity mode (and in the
      // spec's back-to-back probed() calls) a stale resident frame would
      // otherwise compete for disk + block-manager bookkeeping while the
      // comparison operator runs at sf10
      if (bands != null) bands.unpersist(blocking = false)
      out
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val maxRounds = if (args.length > 1) args(1).toInt else 20
    val ser = args.length > 2 && args(2) == "1"
    val parity = args.length > 3 && args(3) == "1"
    val prepart = args.length > 4 && args(4) == "1"
    val spark = graft.Session.builder(graft.Session.cpus(32)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.SketchExprs.register(spark)
    val level = if (ser) Some(StorageLevel.MEMORY_AND_DISK_SER) else None
    println(s"""{"probe":"components","sf":"$sfDir","ser":$ser,"prepart":$prepart}""")
    val t0 = System.nanoTime()
    val out = probed(spark, sfDir, maxRounds, level, prepart)
    println(f"""{"phase":"TOTAL","sec":${(System.nanoTime() - t0) / 1e9}%.2f}""")
    if (parity) {
      val real = graft.ext.Similarity.embeddingComponents(
        graft.Tables.embeddings(spark, sfDir), maxRounds = maxRounds,
        planesPerBand = graft.ext.Similarity.ProductionPlanesPerBand,
        maxBucketSize = graft.ext.Dedup.ProductionMaxBucketSize)
      val diff = out.except(real).count() + real.except(out).count()
      require(diff == 0, s"probe drifted from operator: $diff differing rows")
      println(s"""{"parity":"ok"}""")
    }
    spark.stop()
  }
}
