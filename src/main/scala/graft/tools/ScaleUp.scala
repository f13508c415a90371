package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Scale-factor upsampler for empirical scaling runs: builds an sf-N×
 * corpus from an existing testdata dir by writing `replicas` key-shifted
 * copies of every scaling table (dimension keys offset by a disjoint
 * range per replica, so join fan-outs and group cardinalities scale
 * linearly while per-group sizes stay constant — the shape a genuinely
 * 10× corpus would have).
 *
 * Two tables need more than key shifting, because replica-identical
 * payloads would create CROSS-REPLICA similarity structure that a real
 * 10× corpus would not have (10 identical copies of every doc → every
 * LSH bucket gains 10× members → candidate pairs grow 100×, a quadratic
 * artifact of the duplication, not of the algorithms):
 *  - documents: for replica r>0 EVERY token t is rewritten to the
 *    REPLICA-UNIQUE token t + "r" + r. The rewrite is an INJECTIVE
 *    RENAMING of the whole token alphabet, i.e. replica r is ISOMORPHIC
 *    to the base corpus: every token-frequency vector, shingle set,
 *    document-frequency histogram, and pairwise similarity within the
 *    replica is EXACTLY the base corpus's, and cross-replica overlap is
 *    zero at every n-gram grain. Per-capita structure is therefore
 *    preserved BY CONSTRUCTION — every stage cardinality of every
 *    text-grain query is exactly replicas × base (modulo ~n²/2³²
 *    32-bit hash collisions), so a sweep ratio that deviates from
 *    linear indicts the ENGINE, never the generator. Replica-unique
 *    tokens also give the corpus open (Heaps-law) vocabulary growth.
 *    Two earlier versions were artifact-bearing, both caught by
 *    measurement (tools/LshProbe; PLANS.md round-7 q_sparse_cosine triage):
 *    (a) every-3rd-position replacements drawn from the corpus's own
 *    closed 31-token vocabulary made replicas r and r+31 byte-identical
 *    twins (the rewrite pattern is periodic in r mod 31) and held the
 *    global shingle space at 31³ values, so every shingle's document
 *    frequency grew linearly with corpus size and frequency-based
 *    pruning (prefix filtering) went structurally quadratic — the
 *    round-6 50× sweep hit both (q_prefix_jaccard's candidate join
 *    spilled past the disk);
 *    (b) every-3rd-position replacements determined by position alone
 *    (a seeded vocab word indexed by (i + 7r) mod 31, suffixed) gave
 *    every document in a replica the same token at every third absolute
 *    position — the round-7 probe measured 30k blocked cosine≥0.5 pairs per
 *    5000-doc replica vs 1,135 in the identical base docs, because the
 *    position-dictated tokens both reshaped the shingle-df histogram
 *    (27× more df∈[2,3] blocking shingles) and boosted pairwise cosine
 *    (any two same-replica docs shared ~1/3 of their tokens by
 *    construction). A partial (every-3rd) value-suffix variant was no
 *    better: renaming a token only at some positions SPLITS its tf mass
 *    into two types, which again reshapes the df histogram that
 *    df-windowed blocking keys on (measured 50k pairs/replica). Only
 *    the total renaming is structure-exact.
 *  - embeddings: replica r's vectors are circularly rotated by r
 *    positions AND sign-flipped per dimension by a replica-seeded ±1
 *    pattern. Both maps are orthogonal, so norms and within-replica
 *    geometry (cosines, clusters) are EXACTLY preserved. The sign
 *    flips are load-bearing: rotation alone leaves any
 *    uniform-across-dimensions mean component invariant (a circular
 *    shift of a near-constant vector is near-itself), so vectors from
 *    different replicas all kept their shared mean direction and the
 *    50× sweep measured cross-replica cosine ≥ 0.35 pair counts
 *    growing quadratically (2615×) — again a generator artifact. A
 *    seeded sign flip decorrelates the mean directions, and (unlike
 *    rotation, periodic in r mod dim) is twin-free at any factor.
 *
 * Usage: runMain graft.tools.ScaleUp <srcDir> <destDir> [replicas=10]
 */
object ScaleUp {

  /** Disjoint id range per replica (every source key is far below this). */
  val Offset = 10000000L


  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dest = args(1)
    val replicas = if (args.length > 2) args(2).toInt else 10
    val spark = graft.Session.builder(graft.Session.cpus(16))
      // events.ts is TIMESTAMP(NANOS): read as long nanos (the engine's
      // Tables adapter handles a BIGINT ts identically)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val reps = spark.range(0, replicas).select(col("id").as("_r"))
    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    // parquet.block.size 8 MB (uncompressed row-group target, vs the
    // 128 MB default): a row group is the UNSPLITTABLE scan unit — it is
    // read whole by whichever byte-range split contains its midpoint. The
    // round-15/16 skew probes found documents.parquet's scan stages
    // running 20 byte-range tasks of which only 4 carried work (one per
    // single-row-group file, ~10 s each while 28 cores idled) — file
    // BYTES were balanced, row-group GRANULARITY was the skew. Bounded
    // row groups make every split carry real rows, which is also the
    // 100 TB story: a real corpus is written with bounded row groups so
    // scan parallelism is set by the scheduler, not the writer's memory.
    def write(df: DataFrame, t: String, parts: Int): Unit = {
      df.repartition(parts).write.mode("overwrite")
        .option("parquet.block.size", 8L * 1024 * 1024)
        .parquet(s"$dest/$t.parquet")
      System.err.println(s"[scaleup] $t done")
    }
    /** All columns in source order, key columns shifted into replica ranges. */
    def shifted(df: DataFrame, keys: Set[String]) =
      df.columns.filterNot(_ == "_r").map { c =>
        if (keys(c)) (col(c) + col("_r") * Offset).as(c) else col(c)
      }

    // fixed dimensions: straight copy
    Seq("region", "nation").foreach(t => write(read(t), t, 1))

    def scale(t: String, keys: Set[String], parts: Int): Unit = {
      val df = read(t).crossJoin(reps)
      write(df.select(shifted(df, keys).toIndexedSeq: _*), t, parts)
    }

    scale("customer", Set("c_custkey"), 4)
    scale("supplier", Set("s_suppkey"), 2)
    scale("part", Set("p_partkey"), 2)
    scale("orders", Set("o_orderkey", "o_custkey"), 8)
    scale("lineitem", Set("l_orderkey", "l_partkey", "l_suppkey"), 16)
    scale("events", Set("event_id", "user_id"), 8)

    // documents: key shift + per-replica injective token renaming (see
    // scaladoc — suffixing EVERY original token is what makes the map an
    // isomorphism on the replica's whole text-structure)
    val docs = read("documents").crossJoin(reps)
      .withColumn("text", expr(
        s"""CASE WHEN _r = 0 THEN text ELSE
           |  concat_ws(' ', transform(split(trim(text), '\\\\s+'),
           |    t -> concat(t, 'r', CAST(_r AS STRING)))) END""".stripMargin))
      .withColumn("n_chars",
        when(col("_r") === 0, col("n_chars")).otherwise(length(col("text"))))
      .select((col("doc_id") + col("_r") * Offset).as("doc_id"),
        col("text"), col("lang"), col("source"), col("n_chars"))
    // 8 files (not 4): with ~8 MB encoded row groups the 4-file layout
    // still left the fattest scan split carrying 2 row groups (measured
    // max-task 2× fair share); 8 files × 2-3 groups ≈ one group per
    // byte-range split at the default split sizing
    write(docs, "documents", 8)

    // embeddings: key shift + per-replica circular rotation (see scaladoc)
    val emb = read("embeddings").crossJoin(reps)
      .withColumn("dim", size(col("embedding")))
      .withColumn("rot", (col("_r") % col("dim")).cast("int"))
      .withColumn("embedding", expr(
        """IF(rot = 0, embedding,
          |  concat(slice(embedding, rot + 1, dim - rot), slice(embedding, 1, rot)))"""
          .stripMargin))
      // replica-seeded ±1 per (replica, dimension): md5-parity (the
      // repo's portable hash family), an orthogonal map, so within-
      // replica cosines are untouched. Generation 4: the original
      // 32-bit-LCG parity had power-of-2 lattice structure that made
      // flip(r) == flip(r+64) for 20 of the 36 rotation-wrap pairs at
      // 100 replicas (rotation is periodic mod dim), manufacturing
      // 40,000 byte-identical embedding twins at sf10 and mega sign-LSH
      // buckets — the THIRD generator-made-the-skew artifact caught by
      // measurement (after the closed-vocabulary and partial-renaming
      // ones, see PLANS.md). md5 parity has no lattice alignment, so a
      // full-pattern collision between two replicas needs 64 independent
      // bit agreements (~2^-64); same-rotation replicas now decorrelate.
      // Also deliberately NOT the engine's LSH planeSign family — a
      // flip vector equal to a hyperplane would collapse that plane's
      // LSH bit for the whole replica.
      .withColumn("embedding", expr(
        """IF(_r = 0, embedding,
          |  transform(embedding, (x, i) ->
          |    IF(CAST(conv(substr(md5(concat(CAST(_r AS STRING), ':',
          |         CAST(i AS STRING))), 1, 8), 16, 10) AS BIGINT) % 2 = 0,
          |       x, -x)))""".stripMargin))
      .select((col("vec_id") + col("_r") * Offset).as("vec_id"),
        col("embedding"), col("label"))
    write(emb, "embeddings", 8)

    spark.stop()
  }
}
