package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.Dedup
import graft.ext.Similarity

/**
 * Force-engages the LSH skew caps on a deliberately degenerate corpus and
 * measures exactly what the cap buys and what it costs (VERDICT r7 item 2:
 * at sf10 the max organic bucket was 5,992 < the 10k production cap, so the
 * guard had never fired outside planted unit tests — this tool makes it fire
 * at measurement scale and records the trade).
 *
 * Construction: the corpus under test is a real ScaleUp corpus PLUS a
 * planted boilerplate cluster — `plantedDocs` byte-identical documents
 * (the "same footer on every page" failure mode: one mega bucket in every
 * minhash band) and `plantedVecs` byte-identical embeddings (the zero-vector/
 * default-embedding failure mode for sign-LSH). Planted ids live far above
 * any corpus id (PlantBase), so membership of every pair is decidable by
 * arithmetic.
 *
 * Measured, per tier (minhash text LSH, sign-LSH embeddings):
 *  - bucket census: max occupancy, over-cap bucket count, and the candidate
 *    mass Σ n·(n−1)/2 those buckets would inject into the pair join;
 *  - wall-clock + candidate count for the CAPPED run (production cap) and
 *    the UNCAPPED run (the blow-up being guarded against);
 *  - recall accounting: capped pairs touching the planted cluster (must be
 *    0 — the cap's entire recall loss lands on the degenerate cluster,
 *    C(planted,2) true pairs), capped-vs-uncapped parity on the organic
 *    corpus (symmetric difference must be 0 — the cap costs NOTHING outside
 *    the degenerate bucket), and the documented mitigation: exact dedup
 *    ([[Dedup.exactGroups]]) recovers the whole planted cluster as ONE
 *    group in a single groupBy, which is how boilerplate should be removed
 *    (10^8 candidate pairs is the wrong tool for byte-identical text).
 *
 * Output: one JSON line per tier on stdout.
 *
 * Usage: runMain graft.tools.SkewBench <srcDir> [plantedDocs=30000]
 *        [plantedVecs=12000] [skipUncapped] [skipText]
 */
object SkewBench {

  // FAR above any corpus id at ANY scale factor: ScaleUp replicas offset
  // ids by r·10M, so sf10's organic ids reach 990,050,000 — a 9e8 base
  // (the original choice) would count replica 90+ as "planted" and
  // corrupt the recall accounting exactly at the largest measured SF.
  val PlantBase = 9000000000L

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val srcDir = args(0)
    val plantedDocs = if (args.length > 1) args(1).toInt else 30000
    val plantedVecs = if (args.length > 2) args(2).toInt else 12000
    val skipUncapped = args.contains("skipUncapped")
    val skipText = args.contains("skipText")
    val spark = graft.Session.builder(graft.Session.cpus(32))
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val cap = Dedup.ProductionMaxBucketSize.get

    // ---- text tier: minhash LSH --------------------------------------
    // (skipText: the flip-fix reruns only touch embeddings — the
    // documents transform is byte-identical across generator versions,
    // so recorded minhash numbers stay valid)
    if (!skipText) {
    val boiler = "this page is part of our catalog please see the footer " +
      "for shipping returns and contact information all rights reserved"
    val planted = spark.range(0, plantedDocs).select(
      (col("id") + PlantBase).as("doc_id"), lit(boiler).as("text"),
      lit("en").as("lang"), lit("planted").as("source"),
      lit(boiler.length.toLong).as("n_chars"))
    val base = graft.Tables.documents(spark, srcDir)
    val docs = base.unionByName(planted)

    val occ = Dedup.minhashBands(Dedup.minhashSignatures(docs))
      .groupBy(col("band"), col("band_key")).count().persist()
    val Row2 = occ.agg(
      max(col("count")).as("max_occ"),
      sum(when(col("count") > cap, lit(1)).otherwise(lit(0))).as("over_cap"),
      sum(when(col("count") > cap,
        (col("count") * (col("count") - 1) / 2).cast("long")).otherwise(lit(0L))).as("removed_mass"))
      .collect()(0)
    val (maxOcc, overCap, removedMass) =
      (Row2.getLong(0), Row2.getLong(1), Row2.getLong(2))
    occ.unpersist()

    val (cappedN, cappedS) = timed(
      Dedup.minhashCandidatePairs(docs, maxBucketSize = Some(cap)).count())
    val (uncappedN, uncappedS) =
      if (skipUncapped) (-1L, -1.0)
      else timed(Dedup.minhashCandidatePairs(docs).count())

    // recall accounting
    val cappedPairs = Dedup.minhashCandidatePairs(docs, maxBucketSize = Some(cap))
      .select("doc1", "doc2").persist()
    val cappedPlanted = cappedPairs
      .filter(col("doc1") >= PlantBase || col("doc2") >= PlantBase).count()
    // organic parity: planted docs add buckets but never change which base
    // pairs share a band, so uncapped-on-base-alone IS the organic truth
    val basePairs = Dedup.minhashCandidatePairs(base).select("doc1", "doc2")
    val organicDiff =
      cappedPairs.filter(col("doc1") < PlantBase && col("doc2") < PlantBase)
        .exceptAll(basePairs).count() +
      basePairs.exceptAll(
        cappedPairs.filter(col("doc1") < PlantBase && col("doc2") < PlantBase)).count()
    cappedPairs.unpersist()
    // the mitigation: one groupBy recovers the whole planted cluster
    // (exactGroups is one row per content hash — the planted boilerplate
    // is a single hash whose n_copies must equal the cluster size)
    val exactRecovered = Dedup.exactGroups(docs)
      .filter(col("keep_doc_id") >= PlantBase)
      .agg(max(col("n_copies"))).collect()(0).getLong(0)

    println(Seq(
      "\"tier\":\"minhash\"",
      s""""src":"$srcDir"""",
      s""""planted":$plantedDocs""",
      s""""cap":$cap""",
      s""""max_bucket":$maxOcc""",
      s""""over_cap_buckets":$overCap""",
      s""""removed_pair_mass":$removedMass""",
      s""""capped_candidates":$cappedN""",
      s""""capped_sec":${"%.1f".format(cappedS)}""",
      s""""uncapped_candidates":$uncappedN""",
      s""""uncapped_sec":${"%.1f".format(uncappedS)}""",
      s""""capped_pairs_touching_planted":$cappedPlanted""",
      s""""organic_pair_diff":$organicDiff""",
      s""""exact_dedup_recovered_cluster":$exactRecovered""").mkString("{", ",", "}"))
    }

    // ---- embedding tier: sign-LSH ------------------------------------
    val dim = 64
    val one = (0 until dim).map(i => (0.1f + 0.01f * i)).toArray
    val pvecs = spark.range(0, plantedVecs).select(
      (col("id") + PlantBase).as("vec_id"),
      typedLit(one.toSeq).cast("array<float>").as("embedding"))
    val ebase = graft.Tables.embeddings(spark, srcDir)
      .select(col("vec_id"), col("embedding"))
    val embs = ebase.unionByName(pvecs)

    val eocc = graft.ext.Similarity.withLshBands(
        Similarity.withNorms(embs), dim, Similarity.NumBands,
        Similarity.ProductionPlanesPerBand)
      .select(col("vec_id"), posexplode(col("bands")))
      .groupBy(col("pos"), col("col")).count()
    val eRow = eocc.agg(
      max(col("count")).as("max_occ"),
      sum(when(col("count") > cap, lit(1)).otherwise(lit(0))).as("over_cap"),
      sum(when(col("count") > cap,
        (col("count") * (col("count") - 1) / 2).cast("long")).otherwise(lit(0L))).as("removed_mass"))
      .collect()(0)

    val (ecappedN, ecappedS) = timed(
      Similarity.lshNearDupPairs(embs,
        planesPerBand = Similarity.ProductionPlanesPerBand,
        maxBucketSize = Some(cap)).count())
    val (euncappedN, euncappedS) =
      if (skipUncapped) (-1L, -1.0)
      else timed(Similarity.lshNearDupPairs(embs,
        planesPerBand = Similarity.ProductionPlanesPerBand).count())

    val ecapped = Similarity.lshNearDupPairs(embs,
        planesPerBand = Similarity.ProductionPlanesPerBand, maxBucketSize = Some(cap))
      .select("id1", "id2").persist()
    val ecappedPlanted = ecapped
      .filter(col("id1") >= PlantBase || col("id2") >= PlantBase).count()
    val ebasePairs = Similarity.lshNearDupPairs(ebase,
        planesPerBand = Similarity.ProductionPlanesPerBand).select("id1", "id2")
    val eorganicDiff =
      ecapped.filter(col("id1") < PlantBase && col("id2") < PlantBase)
        .exceptAll(ebasePairs).count() +
      ebasePairs.exceptAll(
        ecapped.filter(col("id1") < PlantBase && col("id2") < PlantBase)).count()
    ecapped.unpersist()

    // the measured mitigation for the one honest cost the embedding cap
    // has: organic vectors CO-RESIDENT in the degenerate bucket (vectors
    // whose sign pattern matches the planted cluster's) lose that band's
    // candidacy when the over-cap bucket is dropped wholesale. Running
    // exact-dedup FIRST (byte-identical embeddings collapse to one
    // representative — one groupBy on the serialized vector) removes the
    // degenerate mass, the bucket falls back under cap, and organic
    // parity must be fully restored.
    val keepers = embs
      .withColumn("ekey", md5(concat_ws(",", col("embedding"))))
      .groupBy(col("ekey")).agg(min(col("vec_id")).as("vec_id"))
      .select("vec_id")
    val dembs = embs.join(keepers, "vec_id")
    val (dcappedN, dcappedS) = timed(
      Similarity.lshNearDupPairs(dembs,
        planesPerBand = Similarity.ProductionPlanesPerBand,
        maxBucketSize = Some(cap)).count())
    val dcapped = Similarity.lshNearDupPairs(dembs,
        planesPerBand = Similarity.ProductionPlanesPerBand, maxBucketSize = Some(cap))
      .select("id1", "id2").persist()
    val dorganicDiff =
      dcapped.filter(col("id1") < PlantBase && col("id2") < PlantBase)
        .exceptAll(ebasePairs).count() +
      ebasePairs.exceptAll(
        dcapped.filter(col("id1") < PlantBase && col("id2") < PlantBase)).count()
    dcapped.unpersist()

    println(Seq(
      "\"tier\":\"sign_lsh\"",
      s""""src":"$srcDir"""",
      s""""planted":$plantedVecs""",
      s""""cap":$cap""",
      s""""max_bucket":${eRow.getLong(0)}""",
      s""""over_cap_buckets":${eRow.getLong(1)}""",
      s""""removed_pair_mass":${eRow.getLong(2)}""",
      s""""capped_candidates":$ecappedN""",
      s""""capped_sec":${"%.1f".format(ecappedS)}""",
      s""""uncapped_candidates":$euncappedN""",
      s""""uncapped_sec":${"%.1f".format(euncappedS)}""",
      s""""capped_pairs_touching_planted":$ecappedPlanted""",
      s""""organic_pair_diff":$eorganicDiff""",
      s""""dedup_first_capped_candidates":$dcappedN""",
      s""""dedup_first_capped_sec":${"%.1f".format(dcappedS)}""",
      s""""dedup_first_organic_pair_diff":$dorganicDiff""").mkString("{", ",", "}"))

    spark.stop()
  }
}
