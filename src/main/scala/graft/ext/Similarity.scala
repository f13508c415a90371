package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import CacheScope.TrackedPersist

/**
 * Similarity search over an embedding column (`array<float>`): brute-force
 * cosine top-k as the exact baseline, and a sign-LSH (random-hyperplane)
 * bucketed variant as the scale path.
 *
 * All arithmetic is double-precision sequential folds (`aggregate` /
 * `zip_with` higher-order expressions) — deterministic and reproducible by
 * the DuckDB oracle, and codegen'd (no UDF).
 *
 * Cache lifetime: several operators persist intermediate frames (normed
 * corpus, assignments) that the returned lazy DataFrame still references,
 * so they cannot unpersist before the caller's terminal action — the
 * SESSION owns their lifetime. Batch drivers (Verify, Bench) call
 * `spark.catalog.clearCache()` between queries; long-lived multi-tenant
 * sessions wrap each query in [[CacheScope.withCached]], which reclaims
 * exactly the frames the wrapped operators persisted.
 *
 * Scale design (100 TB): brute force is O(|Q|·N) — fine for small query
 * sets, never for all-pairs. The LSH variant buckets vectors by hyperplane
 * sign bands; candidate generation joins bucket-local rows only. The
 * hyperplanes come from a seeded integer LCG so every engine (and the
 * oracle) derives the identical planes with no stored model. At cluster
 * scale the same shape becomes IVF: replace the LCG planes with k-means
 * centroids, keep the bucket-join.
 */
object Similarity {

  /** Sequential-fold dot product of two float-array columns, in double —
    * the codegen'd [[graft.functions.DotProductFloat]] expression
    * (bit-identical to the HOF `aggregate(zip_with(...))` formulation, ~10×
    * faster: tight Java loop instead of interpreted per-element lambdas). */
  def dot(a: String, b: String): Column = expr(s"graft_dot($a, $b)")

  /** L2 norm of a float-array column. */
  def norm(a: String): Column = sqrt(expr(s"graft_dot($a, $a)"))

  /** vec_id + embedding + precomputed norm. */
  def withNorms(embeddings: DataFrame): DataFrame = {
    graft.functions.SketchExprs.register(embeddings.sparkSession)
    embeddings.select(col("vec_id"), col("embedding"), norm("embedding").as("nrm"))
  }

  /**
   * Exact top-k cosine neighbors for a small query set (default: vec_id <
   * `numQueries`). Broadcast the query side; one pass over the corpus, then
   * a per-query window for the top-k.
   */
  def bruteForceTopK(embeddings: DataFrame, numQueries: Int = 10, k: Int = 5): DataFrame = {
    val base = withNorms(embeddings)
    val q = base.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val c = base.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
      col("nrm").as("c_nrm"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("c_id").asc)
    broadcast(q).join(c, col("q_id") =!= col("c_id"))
      .withColumn("cosine", dot("q_emb", "c_emb") / (col("q_nrm") * col("c_nrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("cosine"), col("rank"))
  }

  /** Default LSH hyperplane count and band layout (4 bands × 4 planes) —
    * the oracle-pinned test configuration. */
  val NumPlanes = 16
  val NumBands = 4
  val PlanesPerBand: Int = NumPlanes / NumBands

  /** Corpus-scale band layout: 16 planes/band ⇒ 2^16 = 65 536 buckets per
    * band instead of the default 2^4 = 16, so bucket occupancy (and the
    * per-bucket quadratic candidate cost) shrinks 4096×. The recall/cost
    * curve: P(candidate) = 1 − (1 − s^r)^b for cosine-similarity-derived
    * collision prob s and r planes/band, b bands — more planes per band
    * sharpens the threshold (fewer false candidates, lower recall for
    * mid-similarity pairs); more bands buys recall back linearly in cost.
    * At 100 TB pick r so expected bucket size n/2^r stays O(10³–10⁴) and
    * cap stragglers with [[graft.ext.Dedup.ProductionMaxBucketSize]]. */
  val ProductionPlanesPerBand = 16

  /**
   * Seeded ±1 hyperplane component for plane `j`, dimension `i`, as a SQL
   * fragment: an LCG over (j*dim+i) — pure integer arithmetic any engine
   * reproduces exactly.
   */
  private def planeSign(j: String, i: String, dim: Int): String =
    s"""CASE WHEN (CAST(1103515245 AS BIGINT) * ($j*$dim + $i) + 12345) % 2147483648 < 1073741824
       | THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END""".stripMargin

  /**
   * Sign-LSH signature: bit j = sign of dot(embedding, plane_j). Returned
   * as an array of `NumBands` band keys (integers in [0, 2^PlanesPerBand)).
   * Runs as the codegen'd [[graft.functions.LshBands]] expression — one
   * compiled pass per vector instead of `NumPlanes` interpreted lambda
   * folds; bit-identical to [[lshBandsHofColumn]] (pinned by test).
   */
  def withLshBands(embeddings: DataFrame, dim: Int = 64,
                   numBands: Int = NumBands,
                   planesPerBand: Int = PlanesPerBand): DataFrame = {
    require(numBands > 0 && planesPerBand > 0 && planesPerBand <= 30,
      s"band layout out of range: $numBands bands × $planesPerBand planes")
    withNorms(embeddings).withColumn("bands",
      expr(s"graft_lsh_bands(embedding, $dim, $numBands, $planesPerBand)"))
  }

  /** The reference HOF formulation of the band keys — kept as the
    * spec/oracle-shaped definition the compiled expression must match
    * (ExtensionsSpec asserts bit-parity against it). */
  private[graft] def lshBandsHofColumn(dim: Int,
                                       numBands: Int = NumBands,
                                       planesPerBand: Int = PlanesPerBand): Column =
    expr(
      s"""transform(sequence(0, ${numBands - 1}), b ->
         |  aggregate(sequence(0, ${planesPerBand - 1}), 0, (acc, p) ->
         |    acc + IF(aggregate(transform(embedding, (x, i) ->
         |                CAST(x AS DOUBLE) * ${planeSign(s"(b*$planesPerBand + p)", "i", dim)}),
         |              CAST(0 AS DOUBLE), (a2, v) -> a2 + v) >= 0,
         |            shiftleft(1, p), 0)))""".stripMargin)

  /**
   * LSH-bucketed near-duplicate pairs: candidates share any band key;
   * cosine computed on candidates only, thresholded. The scale path for
   * all-pairs similarity — bucket-local joins instead of n².
   */
  def lshNearDupPairs(embeddings: DataFrame, threshold: Double = 0.35,
                      dim: Int = 64,
                      numBands: Int = NumBands,
                      planesPerBand: Int = PlanesPerBand,
                      maxBucketSize: Option[Int] = None,
                      bandsStorage: org.apache.spark.storage.StorageLevel =
                        org.apache.spark.storage.StorageLevel.DISK_ONLY,
                      onBands: DataFrame => Unit = _ => ()): DataFrame = {
    // embeddings ride along INTO the bucket join so the cosine is computed
    // as the candidate streams out of it, and only thresholded survivors
    // ever reach a shuffle. The previous shape (pair ids → distinct →
    // join embeddings twice) shuffled the full candidate set three times —
    // at the 50× sweep that was 187M pairs ≈ 100 GB of exchange for 730k
    // survivors. A pair sharing multiple bands now computes its cosine
    // once per shared band (≤ numBands×, bit-identical doubles, deduped by
    // the final distinct) — redundant codegen'd arithmetic traded for the
    // wide exchanges, the right trade at any scale.
    val sig = withLshBands(embeddings, dim, numBands, planesPerBand)
    // persisted because BOTH sides of the self-join read it: b1/b2 are
    // different projections of the same lineage, so ReuseExchange does
    // not apply — without the persist the scan + 64-plane signature pass
    // (and the cap window's shuffle) would execute twice per query.
    // NOTE the frame carries the embedding per (vector, band) — numBands×
    // the embedding bytes of a slim (band, key, id) persist. That is the
    // deliberate trade, and the round-9 cache-pressure experiment
    // (PLANS.md round-9 §2) measured all three options
    // at the 100× sweep endpoint: the slim form re-joins embeddings onto
    // the FULL candidate stream, and its pair-id distinct EXHAUSTED 78 GB
    // of shuffle-spill disk before completing (1.8× slower already at
    // 10×); MEMORY_AND_DISK vs DISK_ONLY on the fat frame is a wash
    // (9.25 vs 9.23 s, interleaved warm rounds). DISK_ONLY is therefore
    // the default — same wall-clock, but the 234 MB-per-million-vectors
    // columnar cache stays OUT of the unified-memory storage pool, which
    // on a real executor is exactly the headroom the bucket join's hash
    // maps want. Callers can still pass MEMORY_AND_DISK when the frame is
    // re-read across many actions and local disk is slow.
    val bands = Dedup.capBuckets(
      sig.select(col("vec_id"), col("embedding"), col("nrm"), posexplode(col("bands")))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_key"),
      maxBucketSize).persistTracked(bandsStorage)
    // instrumentation seam: tools/ComponentsProbe forces+times the persist
    // here so the signature pass and the bucket join decompose; no-op default
    onBands(bands)
    val b1 = bands.select(col("band"), col("band_key"),
      col("vec_id").as("id1"), col("embedding").as("emb1"), col("nrm").as("nrm1"))
    val b2 = bands.select(col("band"), col("band_key"),
      col("vec_id").as("id2"), col("embedding").as("emb2"), col("nrm").as("nrm2"))
    b1.join(b2, Seq("band", "band_key"))
      .filter(col("id1") < col("id2"))
      .withColumn("cosine", dot("emb1", "emb2") / (col("nrm1") * col("nrm2")))
      .filter(col("cosine") >= threshold)
      .select("id1", "id2", "cosine").distinct()
  }

  /**
   * LSH-bucketed top-k: like [[bruteForceTopK]] but candidates are only the
   * vectors sharing an LSH band with the query — the IVF-shaped ANN scale
   * path (recall < 1 by design; queries may return < k rows).
   */
  def lshTopK(embeddings: DataFrame, numQueries: Int = 10, k: Int = 5,
              dim: Int = 64,
              numBands: Int = NumBands,
              planesPerBand: Int = PlanesPerBand,
              maxBucketSize: Option[Int] = None): DataFrame = {
    val sig = withLshBands(embeddings, dim, numBands, planesPerBand).persistTracked()
    val allBands = sig.select(col("vec_id"), posexplode(col("bands")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_key")
    // probes come from the uncapped rows (a query always knows its own
    // band keys); the cap only bounds the corpus side it joins against —
    // an over-cap bucket is a degenerate near-constant region whose
    // members a top-k over it would rank near-identically anyway
    val bands = Dedup.capBuckets(allBands, maxBucketSize)
    val qb = allBands.filter(col("vec_id") < numQueries)
      .select(col("band").as("q_band"), col("band_key").as("q_key"), col("vec_id").as("q_id"))
    val cand = qb.join(bands,
        col("q_band") === col("band") && col("q_key") === col("band_key") &&
          col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("c_id")).distinct()
    // the broadcast side MUST be pre-filtered to the numQueries probe rows:
    // cand only carries q_id < numQueries, but scoreCandidates' broadcast
    // hint is honored regardless of size, so an unfiltered frame here would
    // collect every corpus embedding to the driver
    val qe = sig.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val ce = sig.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"), col("nrm").as("c_nrm"))
    scoreCandidates(cand, qe, ce, k)
  }

  /** Shared ANN scoring tail: exact cosine + per-query top-k rank over the
    * blocked candidate pairs. Join order is the 100 TB-shape decision: the
    * CORPUS embedding side (`ce`) streams while the skinny (q_id, c_id)
    * pair list and the numQueries-row query-embedding frame are
    * `broadcast()` — both are parameter-bounded (numQueries × capped
    * bucket/list sizes), so the corpus's embedding bytes never cross an
    * exchange to be scored; the only shuffle left is the per-query rank
    * window over (q_id, c_id, cosine) — candidate-count skinny rows. The
    * hint-free form planned the same BHJs at test SFs but flipped to
    * shuffling the full corpus by c_id once size estimates crossed the
    * broadcast threshold — the r10 lineage census caught exactly that.
    *
    * CONTRACT: callers must pass `qe` already filtered to the probe rows
    * (vec_id < numQueries). `broadcast()` is honored unconditionally, so a
    * corpus-sized frame here would be collected to the driver whole — the
    * r11 census extension (fat columns crossing BroadcastExchange,
    * ScaleSpec) pins this. */
  private def scoreCandidates(cand: DataFrame, qe: DataFrame, ce: DataFrame,
                              k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("c_id").asc)
    ce.join(broadcast(cand), "c_id")
      .join(broadcast(qe), "q_id")
      .withColumn("cosine", dot("q_emb", "c_emb") / (col("q_nrm") * col("c_nrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("cosine"), col("rank"))
  }

  /**
   * IVF-shaped ANN: assign every vector to its nearest of `numCentroids`
   * coarse centroids (broadcast — assignment is one linear pass), then each
   * query probes only the `nprobe` nearest centroid lists. This is the
   * inverted-file index structure at cluster scale: the assignment is a
   * partitioning of the corpus, probing touches nprobe/numCentroids of it.
   *
   * Centroids here are the first `numCentroids` vectors (deterministic
   * stand-in for a k-means codebook — on random data equally spread; a real
   * codebook drops in without changing the dataflow). Assignment metric:
   * cosine, tiebreak centroid id.
   */
  def ivfTopK(embeddings: DataFrame, numQueries: Int = 10, k: Int = 5,
              numCentroids: Int = 8, nprobe: Int = 2): DataFrame = {
    val base = withNorms(embeddings).persistTracked()
    ivfSearch(base, initCentroids(base, numCentroids), numQueries, k, nprobe)
  }

  /** The `numCentroids` SMALLEST vec_ids as the deterministic seed
    * codebook. Rank-based (orderBy + limit → a distributed TakeOrdered,
    * never a global sort), NOT `vec_id < k`: on corpora with offset or
    * sparse ids (ScaleUp replicas start at r·10M) the predicate form
    * silently yields |ids < k| ≪ k centroids, defeating the cluster-size
    * bound auto-sizing exists to provide. On dense 0-based ids the two
    * forms pick identical rows. */
  private def initCentroids(base: DataFrame, numCentroids: Int): DataFrame =
    base.orderBy(col("vec_id")).limit(numCentroids)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent_emb"),
        col("nrm").as("cent_nrm"))

  /** Nearest-centroid rank (cosine desc, centroid id tiebreak) — the
    * assignment rule shared by index build, probing, and k-means. The
    * WINDOW form: correct, but its required distribution inserts an
    * `Exchange hashpartitioning(vec_id)` under the rank — a full-corpus
    * EMBEDDING shuffle. Kept only where the input is parameter-bounded
    * (the numQueries-row probe frames); corpus-sized assignment uses
    * [[nearestCentroidCol]]. */
  private def centRank = row_number().over(
    Window.partitionBy(col("vec_id"))
      .orderBy((dot("embedding", "cent_emb") / (col("nrm") * col("cent_nrm"))).desc,
        col("cent_id").asc))

  /** Per-vector nearest-centroid id as a NARROW scalar column: the k-row
    * codebook is collected (sorted by cent_id) and the argmax runs as the
    * codegen'd [[graft.functions.NearestCentroid]] expression — no
    * crossJoin row blow-up and, decisively, no window: the centRank
    * form's rank-1 filter forced an `Exchange(vec_id)` carrying every
    * corpus embedding (the r10 lineage census caught it in all three
    * IVF/semantic-dedup assignment paths), where assignment is
    * conceptually a map. (A higher-order `aggregate` lambda over a
    * literal codebook array computes the same thing, but ArrayAggregate
    * is CodegenFallback — measured +1.3–2.0 s on the sf0.1 gate queries —
    * hence the dedicated expression.)
    *
    * Semantics parity with `centRank === 1` is argued at the expression's
    * scaladoc (strict-greater fold in cent_id order = max cosine with
    * min-id tiebreak, graft_dot's exact fold and ragged-null behavior).
    * Collecting the codebook here also truncates the iterative trainer's
    * per-round lineage, which previously nested each round's plan inside
    * the next. */
  private def nearestCentroidCol(cents: DataFrame): Column =
    nearestCentroidColOn(cents, col("embedding"), col("nrm"))

  /** [[nearestCentroidCol]] against EXPLICIT vector/norm columns — the PQ
    * encoder assigns m sub-vector columns in one scan, so the fixed
    * (embedding, nrm) column names can't serve every argmax. */
  private[graft] def nearestCentroidColOn(cents: DataFrame, emb: Column, nrm: Column): Column =
    codebookColFrom(collectCodebooks(Seq(cents)).head, emb, nrm)

  /** Fetch several codebooks' driver-side rows in ONE union + collect job
    * — the PQ family pays m+1 control-plane round trips per query when
    * each book collects separately (JobProfile: ~20–90 ms of job +
    * planning gap each); batched, the same k-row reads are one job.
    * Values are identical to per-book collects: the degenerate-centroid
    * filter runs per branch BEFORE the union and each book's rows are
    * sorted by cent_id after the driver-side split.
    *
    * Drop degenerate centroids (zero/NaN/Inf norm) BEFORE building the
    * Codebook — its constructor rejects them (the window form this fold
    * replaced THROWS DIVIDE_BY_ZERO there, so keeping one would diverge).
    * The engine can legitimately produce one: initCentroids seeds from the
    * smallest vec_ids (a zero corpus vector qualifies) and a k-means round
    * can average a cluster to ~zero. A zero-norm centroid never wins the
    * fold anyway (its cosine is NaN for every row), so dropping it changes
    * only the all-incomparable fallback id — from "smallest cent_id
    * including degenerates" to "smallest REAL cent_id", the more useful
    * assignment. */
  private def collectCodebooks(books: Seq[DataFrame])
      : Seq[Array[(Long, Array[Float], Double)]] = {
    val tagged = books.zipWithIndex.map { case (b, i) =>
      b.select(lit(i).as("bk"), col("cent_id").cast("long").as("cent_id"),
          col("cent_emb"), col("cent_nrm").cast("double").as("cent_nrm"))
        .filter(col("cent_nrm") > 0 && !isnan(col("cent_nrm")) &&
          col("cent_nrm") =!= Double.PositiveInfinity)
    }
    val all = tagged.reduce(_.union(_)).collect()
    val byBook = all.groupBy(_.getInt(0))
    (0 until books.size).map { i =>
      byBook.getOrElse(i, Array.empty[org.apache.spark.sql.Row])
        .map(r => (r.getLong(1), r.getSeq[Float](2).toArray, r.getDouble(3)))
        .sortBy(_._1)
    }
  }

  /** The codegen'd argmax column over ALREADY-COLLECTED codebook rows
    * (sorted by cent_id, degenerates dropped — [[collectCodebooks]]). */
  private def codebookColFrom(rows: Array[(Long, Array[Float], Double)],
                              emb: Column, nrm: Column): Column = {
    if (rows.isEmpty) return lit(null).cast("long")
    val cb = new graft.functions.Codebook(
      rows.map(_._1), rows.map(_._2), rows.map(_._3))
    org.apache.spark.sql.graftshim.Shim.column(
      graft.functions.NearestCentroid(
        org.apache.spark.sql.graftshim.Shim.expression(emb),
        org.apache.spark.sql.graftshim.Shim.expression(nrm), cb))
  }

  /** The IVF probe+search dataflow given a codebook `cents`
    * (cent_id, cent_emb: array<float>, cent_nrm). */
  private def ivfSearch(base: DataFrame, cents: DataFrame,
                        numQueries: Int, k: Int, nprobe: Int): DataFrame = {
    // every vector -> nearest centroid (its inverted-list id): a NARROW
    // literal-codebook argmax, so the index build never shuffles an
    // embedding byte (the windowed form exchanged the whole corpus)
    val assign = base.withColumn("cluster", nearestCentroidCol(cents))
      .select(col("vec_id").as("member_id"), col("cluster"))
    // each query -> its nprobe nearest centroid lists
    val probes = base.filter(col("vec_id") < numQueries)
      .crossJoin(broadcast(cents))
      .withColumn("arank", centRank).filter(col("arank") <= nprobe)
      .select(col("vec_id").as("q_id"), col("cent_id").as("cluster"))
    val cand = probes.join(assign, "cluster")
      .filter(col("q_id") =!= col("member_id"))
      .select(col("q_id"), col("member_id").as("c_id")).distinct()
    // pre-filter the broadcast side to the probe rows (see lshTopK note:
    // broadcast() is unconditional, an unfiltered qe ships the whole corpus)
    val qe = base.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val ce = base.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"), col("nrm").as("c_nrm"))
    scoreCandidates(cand, qe, ce, k)
  }

  /**
   * Lloyd's k-means over the embedding column — trains the codebook the
   * seeded stand-in of [[ivfTopK]] leaves open. Per iteration: one
   * broadcast-assign pass (narrow — the codebook is numCentroids rows) and
   * one two-level aggregation for the new means (shuffle keyed on
   * (cluster, dimension), so recompute cost is independent of how skewed
   * the clusters are). Cluster ids stay the seed centroid's vec_id; empty
   * clusters drop out of the codebook (standard Lloyd degeneracy handling).
   *
   * Determinism across engines: per-dimension means are SEQUENTIAL double
   * folds in vec_id order (collect → sort → fold, not a parallel sum — the
   * float-sum order would otherwise be partition-timing dependent), then
   * rounded to float. That makes the trained codebook bit-reproducible by
   * the DuckDB oracle. The fold is two-level over ORDER-COMPATIBLE range
   * shards (`vec_id DIV shardSpan`): shard-local sequential folds, then a
   * sequential fold of the shard sums in shard order — still fully
   * deterministic at any parallelism (the grouping and both fold orders
   * are functions of vec_id alone), but no aggregation buffer ever holds
   * more than `shardSpan` member values, so a billion-member cluster
   * aggregates as ~15k bounded groups + one tiny second level instead of
   * one O(cluster) `collect_list`. When every vec_id fits one shard (true
   * at all test SFs with the 2^16 default) the two levels collapse to the
   * flat fold bit for bit — which is what the DuckDB oracle mirrors.
   *
   * Degeneracy handling: a cluster that loses every member re-seeds to its
   * PREVIOUS centroid (the codebook never shrinks; the cluster can
   * re-acquire members on a later iteration). Deterministic, and the
   * oracle mirrors it as a LEFT JOIN + COALESCE per iteration.
   */
  def kmeansCodebook(embeddings: DataFrame, numCentroids: Int = 8,
                     iters: Int = 2): DataFrame =
    kmeansFromBase(withNorms(embeddings).persistTracked(), numCentroids, iters)

  /** Lloyd's iterations over an already-normed (and ideally persisted)
    * base — lets callers that also search share ONE normed corpus scan.
    * `shardSpan` bounds the per-group fold state (see [[kmeansCodebook]]). */
  private[graft] def kmeansFromBase(base: DataFrame, numCentroids: Int,
                                    iters: Int,
                                    shardSpan: Long = 1L << 16): DataFrame = {
    require(shardSpan > 0, s"shardSpan must be positive, got $shardSpan")
    var cents = initCentroids(base, numCentroids)
    for (_ <- 0 until iters) {
      // narrow argmax assignment (see nearestCentroidCol): each Lloyd
      // round previously exchanged the full corpus's embeddings under the
      // rank window AND nested the prior round's plan in its lineage; the
      // literal codebook removes the shuffle and truncates the lineage
      val assigned = base.withColumn("cluster", nearestCentroidCol(cents))
        .select(col("cluster"), col("vec_id"), col("embedding"))
      val dimMeans = assigned
        .select(col("cluster"), col("vec_id"), posexplode(col("embedding")))
        .withColumn("_shard", expr(s"vec_id DIV ${shardSpan}L"))
        // level 1: fold each shard's member values in vec_id order —
        // bounded state (≤ shardSpan rows per group), map-side combinable
        .groupBy(col("cluster"), col("pos"), col("_shard"))
        .agg(
          expr("""aggregate(array_sort(collect_list(struct(vec_id, col))),
                 |  CAST(0 AS DOUBLE), (a, s) -> a + CAST(s.col AS DOUBLE))""".stripMargin)
            .as("shard_sum"),
          count(lit(1)).as("shard_cnt"))
        // level 2: fold the shard sums in shard order — one row per shard
        .groupBy(col("cluster"), col("pos"))
        .agg(
          expr("""aggregate(array_sort(collect_list(struct(_shard, shard_sum))),
                 |  CAST(0 AS DOUBLE), (a, s) -> a + s.shard_sum)""".stripMargin)
            .as("sm"),
          sum(col("shard_cnt")).as("cnt"))
        .withColumn("m", (col("sm") / col("cnt")).cast("float"))
      val newMeans = dimMeans
        .groupBy(col("cluster"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, m))), s -> s.m)")
          .as("new_emb"))
        .select(col("cluster").as("cent_id"), col("new_emb"))
      // empty-cluster re-seed: a cluster with no members keeps its previous
      // centroid (left join finds no new mean). The codebook is k rows, so
      // this join is a broadcast no-op at any corpus size.
      cents = cents
        .select(col("cent_id"), col("cent_emb").as("prev_emb"))
        .join(broadcast(newMeans), Seq("cent_id"), "left")
        .select(col("cent_id"),
          coalesce(col("new_emb"), col("prev_emb")).as("cent_emb"))
        .withColumn("cent_nrm", norm("cent_emb"))
    }
    cents
  }

  /** Codebook training-semantics version — part of the materialized-cache
    * key so a cached codebook trained under older semantics can never be
    * silently reused after the trainer changes. */
  val CodebookFormatVersion = 2

  /**
   * Train-once/reuse codebook: if `cacheDir` is set and holds a codebook
   * for this (version, numCentroids, iters, datasetTag) key, read it (a
   * k-row parquet — negligible IO); otherwise train and persist it. This
   * is the production shape — the codebook amortizes over every search
   * against the same corpus snapshot, instead of retraining per query.
   * `datasetTag` MUST identify the corpus snapshot (e.g. its path);
   * training is deterministic, so cache hit vs retrain is bit-identical.
   * The memo mechanics (atomic move, race handling, kill switch) live in
   * [[FrameCache]].
   */
  def trainedCodebook(embeddings: DataFrame, numCentroids: Int = 8,
                      iters: Int = 2, cacheDir: Option[String] = None,
                      datasetTag: String = ""): DataFrame =
    FrameCache.cached(embeddings.sparkSession, cacheDir,
        s"codebook_v${CodebookFormatVersion}_c${numCentroids}_i$iters", datasetTag) {
      kmeansFromBase(withNorms(embeddings).persistTracked(), numCentroids, iters)
    }

  /** Filesystem fingerprint of a dataset path (file or directory): folds
    * every file's (name, length, mtime) — metadata only, no data scan.
    * The cache-key ingredient that makes [[trainedCodebook]] retrain when
    * a corpus file is REGENERATED at the same path (same-path-different-
    * bytes is exactly the stale-cache hazard a path-only tag misses). */
  def fileFingerprint(path: String): String = {
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(root)) s"$path:absent"
    else {
      val parts = new scala.collection.mutable.ArrayBuffer[String]
      scala.util.Using.resource(java.nio.file.Files.walk(root)) { s =>
        s.sorted().forEach { p =>
          val f = p.toFile
          if (f.isFile) parts += s"${root.relativize(p)}:${f.length}:${f.lastModified}"
        }
      }
      s"$path|${parts.mkString(",")}"
    }
  }

  /** [[ivfTopK]] with a k-means-trained codebook instead of the seed one —
    * training and search share one persisted normed corpus. With
    * `cacheDir` set the codebook is trained once and reused
    * ([[trainedCodebook]]), so repeated searches pay only probe+rank cost. */
  def ivfTopKTrained(embeddings: DataFrame, numQueries: Int = 10, k: Int = 5,
                     numCentroids: Int = 8, nprobe: Int = 2, iters: Int = 2,
                     cacheDir: Option[String] = None,
                     datasetTag: String = ""): DataFrame = {
    val base = withNorms(embeddings).persistTracked()
    val cents = cacheDir match {
      case Some(_) => trainedCodebook(embeddings, numCentroids, iters, cacheDir, datasetTag)
      case None => kmeansFromBase(base, numCentroids, iters)
    }
    ivfSearch(base, cents, numQueries, k, nprobe)
  }

  /**
   * Product-quantization ANN (the Jégou-style IndexPQ scan): split each
   * embedding into `m` contiguous subspaces, train a tiny spherical
   * k-means codebook per subspace (the same deterministic Lloyd trainer
   * as [[ivfTopKTrained]], run on sub-vectors), encode every corpus
   * vector as `m` small codes, and answer queries by asymmetric distance
   * computation (ADC): per query, precompute the `m × ksub` table of
   * exact sub-dot-products against the codebooks, then score each corpus
   * vector by summing its codes' table entries — the cosine between the
   * query and the vector's RECONSTRUCTION (‖x̂‖² = Σ_m ‖c_code‖² exactly,
   * since x̂ is the concatenation of its codewords).
   *
   * The ADC pass is a SHORTLIST generator, not the final ranking: the
   * top `rerank`×k candidates per query re-rank by EXACT cosine (the
   * shared [[scoreCandidates]] tail — candidates are parameter-bounded,
   * so the rerank reads `rerank`×k real embeddings per query, not the
   * corpus). That is the production IndexPQ shape: scan bytes come from
   * the m-byte codes, accuracy comes from the exact pass over a
   * shortlist. On this repo's WORST-CASE corpus (i.i.d. random floats —
   * no subspace correlation for PQ to exploit) recall@5 measures 0.64 at
   * rerank=8, vs 0.12 ranking by raw ADC alone (ScaleSpec pins the
   * floor); structured real-world embeddings quantize far tighter.
   *
   * This is the memory tier of the ANN family: [[bruteForceTopK]] reads
   * d×4 bytes per vector per query; the PQ scan reads `m` BYTES of codes
   * (a 32× shrink at d=64, m=8) plus a broadcast table — at corpus scale
   * the codes column is what stays resident while embeddings stay on
   * disk, and composing with the IVF assignment column bounds the scan to
   * nprobe lists (the IVF-ADC composition is exactly these two operators
   * chained; kept separate here so each is oracle-checkable alone).
   *
   * Scale shape: the encode pass is one linear scan with `m` literal-
   * codebook argmax columns (narrow — no embedding byte crosses an
   * exchange, same [[nearestCentroidCol]] machinery as IVF assignment);
   * the ADC tables are numQueries×ksub rows per subspace, broadcast; the
   * only shuffle is the per-query rank window over skinny
   * (q_id, c_id, adc) rows. Determinism across engines: codebook floats
   * are bit-reproducible (the trainer's sequential-fold guarantee), the
   * table entries are graft_dot's exact sequential folds, and the ADC
   * score combines them in a FIXED left-assoc expression shape mirrored
   * by the oracle SQL — so the shortlist CUTOFF (and the raw doubles
   * behind it) hash-match, the q_ann_topk precedent.
   */
  def pqTopK(embeddings: DataFrame, numQueries: Int = 10, k: Int = 5,
             m: Int = 8, ksub: Int = 8, iters: Int = 2, rerank: Int = 8,
             cacheDir: Option[String] = None,
             datasetTag: String = ""): DataFrame = {
    val base = withNorms(embeddings).persistTracked()
    val books = pqSubspaceBooks(base, m, ksub, iters, cacheDir, datasetTag)
    // one batched collect for all m books (the encode columns); the ADC
    // tables below still read the book FRAMES (broadcast join sides)
    val codes = pqEncode(base.select(col("vec_id"), col("embedding")),
      collectCodebooks(books), m)
    // join codes to each subspace's table: after the first join every row
    // carries q_id, so subsequent joins key on (q_id, code_mi)
    val joined = pqAdcTables(base, books, m, numQueries).zipWithIndex
      .foldLeft(codes) { case (df, (tab, mi)) =>
        if (mi == 0) df.join(broadcast(tab), Seq(s"code$mi"))
        else df.join(broadcast(tab), Seq("q_id", s"code$mi"))
      }.filter(col("vec_id") =!= col("q_id"))
    val shortlist = pqAdcShortlist(joined, base, m, numQueries, rerank, k)
    pqRerankTail(shortlist, base, numQueries, k)
  }

  /** Sub-vector slice for subspace mi of m: contiguous (size DIV m)-wide
    * bands, computed per-row so the operators are dimension-agnostic (the
    * oracle spells the identical len//m arithmetic via pqSubspaceSql).
    * Shared by [[pqTopK]] and [[ivfPqTopK]] — a slice-arithmetic change
    * here changes both, the drift-proofing the oracle-side builders got. */
  private def pqSubSlice(m: Int, mi: Int): org.apache.spark.sql.Column =
    expr(s"slice(embedding, $mi * (size(embedding) DIV $m) + 1, size(embedding) DIV $m)")

  /** One spherical-k-means codebook per subspace (cached like the IVF
    * codebook — the `#pq$m.$mi` tag suffix keys each subspace's parquet
    * separately). The cache-tag convention is load-bearing: [[ivfPqTopK]]
    * reuses [[pqTopK]]'s trained books byte-for-byte through it. */
  private def pqSubspaceBooks(base: DataFrame, m: Int, ksub: Int, iters: Int,
                              cacheDir: Option[String],
                              datasetTag: String): Seq[DataFrame] =
    (0 until m).map { mi =>
      val subEmb = base.select(col("vec_id"), pqSubSlice(m, mi).as("embedding"))
      cacheDir match {
        case Some(_) => trainedCodebook(subEmb, ksub, iters, cacheDir,
          s"$datasetTag#pq$m.$mi")
        case None => kmeansFromBase(
          subEmb.select(col("vec_id"), col("embedding"),
            norm("embedding").as("nrm")).persistTracked(), ksub, iters)
      }
    }

  /** Encode pass: ONE corpus scan appending m narrow argmax code columns
    * to `start`, dropping the embedding, and PERSISTING the result — this
    * skinny frame is the PQ index; everything downstream reads it, never
    * the embeddings. persistTracked is LOAD-BEARING, not a cache nicety:
    * unpersisted, the m code expressions ride into the pipelined join
    * chain as UNEVALUATED projections and re-inline at every consumer —
    * measured 68 s for the 8-join chain at sf10 vs 2.9 s materialized
    * (PLANS.md round-15 §8; cost grew ~4× per join-count doubling, the
    * duplicated-subtree signature). It is also the operator's story: in
    * production the codes frame IS the PQ index, a materialized
    * m-bytes-per-vector table that outlives any single query. `start` may carry extra
    * columns (ivfPqTopK threads `cluster` through). */
  private def pqEncode(start: DataFrame,
                       bookRows: Seq[Array[(Long, Array[Float], Double)]],
                       m: Int): DataFrame =
    (0 until m).foldLeft(start) { (df, mi) =>
      df.withColumn(s"_s$mi", pqSubSlice(m, mi))
        .withColumn(s"code$mi", codebookColFrom(bookRows(mi),
          col(s"_s$mi"), sqrt(expr(s"graft_dot(_s$mi, _s$mi)"))))
        .drop(s"_s$mi")
    }.drop("embedding").persistTracked()

  /** ADC tables: per subspace, numQueries × ksub rows of exact
    * sub-dot-products + squared codeword norms; parameter-bounded, so
    * broadcast is the 100 TB-safe side. */
  private def pqAdcTables(base: DataFrame, books: Seq[DataFrame], m: Int,
                          numQueries: Int): Seq[DataFrame] =
    (0 until m).map { mi =>
      base.filter(col("vec_id") < numQueries)
        .select(col("vec_id").as("q_id"), pqSubSlice(m, mi).as("q_sub"))
        .crossJoin(broadcast(books(mi)))
        .select(col("q_id"), col("cent_id").as(s"code$mi"),
          dot("q_sub", "cent_emb").as(s"t$mi"),
          (col("cent_nrm") * col("cent_nrm")).as(s"cn2$mi"))
    }

  /** The ADC score + per-query shortlist window over the joined
    * (codes ⋈ tables) frame: FIXED left-assoc sums — the oracle spells
    * (((t0+t1)+t2)+t3) the same, so the shortlist cutoff hash-matches. */
  private def pqAdcShortlist(joined: DataFrame, base: DataFrame, m: Int,
                             numQueries: Int, rerank: Int, k: Int): DataFrame = {
    val qn = base.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("nrm").as("q_nrm"))
    val tSum = (1 until m).foldLeft(col("t0"))((acc, mi) => acc + col(s"t$mi"))
    val cnSum = (1 until m).foldLeft(col("cn20"))((acc, mi) => acc + col(s"cn2$mi"))
    val wAdc = Window.partitionBy(col("q_id")).orderBy(col("adc").desc, col("c_id").asc)
    joined.join(broadcast(qn), "q_id")
      .select(col("q_id"), col("vec_id").as("c_id"),
        (tSum / (col("q_nrm") * sqrt(cnSum))).as("adc"))
      .withColumn("arank", row_number().over(wAdc))
      .filter(col("arank") <= rerank * k)
      .select(col("q_id"), col("c_id"))
  }

  /** Exact re-rank of a (q_id, c_id) shortlist — the family's shared
    * scoring tail over real embeddings ([[scoreCandidates]]). */
  private def pqRerankTail(shortlist: DataFrame, base: DataFrame,
                           numQueries: Int, k: Int): DataFrame = {
    val qe = base.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val ce = base.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
      col("nrm").as("c_nrm"))
    scoreCandidates(shortlist, qe, ce, k)
  }

  /**
   * The production ANN composition: IVF coarse probing bounds the scan,
   * PQ codes compress it, exact rerank restores accuracy — [[ivfTopKTrained]]
   * and [[pqTopK]] chained, a Faiss-SHAPED composition expressed as one
   * dataflow. One deliberate divergence from Faiss IndexIVFPQ defaults:
   * PQ encoding is on RAW vectors, not coarse-centroid residuals (Faiss's
   * `by_residual=false` semantics) — the oracle mirrors raw-vector
   * encoding exactly, and a reader tuning recall expectations against
   * Faiss-with-residuals should expect that variant to quantize tighter.
   * Each query touches only the `nprobe`/`numCentroids`
   * fraction of the CODES table (m bytes per vector), and real embeddings
   * are read only for the `rerank`×k shortlist — at corpus scale that is
   * the difference between scanning 100 TB of floats and scanning
   * ~3 TB of codes for a quarter of the corpus.
   *
   * Both codebooks are THE SAME trained artifacts the component operators
   * use (identical FrameCache keys) — the coarse k-means is bit-identical
   * to q_ann_topk_ivf_trained's, the subspace books to q_ann_topk_pq's —
   * so the composition adds no new training, and its oracle reuses the
   * same generated Lloyd blocks. One scan computes cluster + m codes
   * (m+1 literal-codebook argmax columns); the persisted (vec_id,
   * cluster, codes) frame is the serving index.
   */
  def ivfPqTopK(embeddings: DataFrame, numQueries: Int = 10, k: Int = 5,
                numCentroids: Int = 8, nprobe: Int = 2,
                m: Int = 8, ksub: Int = 8, iters: Int = 2, rerank: Int = 8,
                cacheDir: Option[String] = None,
                datasetTag: String = ""): DataFrame = {
    val base = withNorms(embeddings).persistTracked()
    val coarse = cacheDir match {
      case Some(_) => trainedCodebook(embeddings, numCentroids, iters, cacheDir, datasetTag)
      case None => kmeansFromBase(base, numCentroids, iters)
    }
    val books = pqSubspaceBooks(base, m, ksub, iters, cacheDir, datasetTag)
    // ONE scan: coarse cluster + m fine codes (pqEncode threads the
    // cluster column through; see its doc for why the persist is
    // load-bearing). The coarse book and all m subspace books collect in
    // ONE batched job (collectCodebooks) instead of m+1 round trips.
    val allRows = collectCodebooks(coarse +: books)
    val codes = pqEncode(
      base.withColumn("cluster",
          codebookColFrom(allRows.head, col("embedding"), col("nrm")))
        .select(col("vec_id"), col("cluster"), col("embedding")), allRows.tail, m)
    // query -> its nprobe nearest coarse lists (the ivfSearch probe shape)
    val probes = base.filter(col("vec_id") < numQueries)
      .crossJoin(broadcast(coarse))
      .withColumn("arank", centRank).filter(col("arank") <= nprobe)
      .select(col("vec_id").as("q_id"), col("cent_id").as("cluster"))
    // candidate bounding FIRST (the probes join carries q_id in), then the
    // ADC tables all key on (q_id, code_mi)
    val joined = pqAdcTables(base, books, m, numQueries).zipWithIndex
      .foldLeft(codes.join(broadcast(probes), "cluster")) { case (df, (tab, mi)) =>
        df.join(broadcast(tab), Seq("q_id", s"code$mi"))
      }.filter(col("vec_id") =!= col("q_id"))
    val shortlist = pqAdcShortlist(joined, base, m, numQueries, rerank, k)
    pqRerankTail(shortlist, base, numQueries, k)
  }

  /**
   * Symmetric int8 quantization of the embedding column: per vector,
   * `scale = max|x| / 127` and `q_i = round(x_i / scale)` ∈ [-127, 127] —
   * the 4× storage/bandwidth shrink an ANN index applies before sharding.
   * Deterministic double arithmetic (abs/max/divide/round are all exact or
   * IEEE single-op), so quantized codes are engine-reproducible. The codes
   * are emitted as a joined string (harness-sortable); `scale` rides along
   * for dequantization. Zero vectors quantize to all-zero codes, scale 0.
   */
  def quantizeInt8(embeddings: DataFrame): DataFrame =
    embeddings
      .withColumn("amax", expr("array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))"))
      .select(
        col("vec_id"),
        when(col("amax") === 0.0, lit(0.0)).otherwise(col("amax") / lit(127)).as("scale"),
        expr("""concat_ws(',', transform(embedding, x ->
               |  CAST(round(CASE WHEN amax = 0.0D THEN 0.0D
               |                  ELSE CAST(x AS DOUBLE) / (amax / 127) END) AS INT)))""".stripMargin)
          .as("qvec_str"))

  /** Auto-sizing target for [[semanticDedup]]'s cluster blocking: with k
    * clusters of expected size c = n/k, the pair join does Σ cluster² ≈
    * n·c work — CONSTANT k makes that n²/k, quadratic in the corpus (the
    * sf5 sweep measured 282× at 50× data with k = 8). Holding c at this
    * target instead makes the work n·c, linear in n, which is how IVF
    * deployments size their codebooks (k grows with the corpus). */
  val SemanticDedupTargetClusterSize = 2048

  /**
   * Semantic deduplication (SemDeDup-shaped): assign every vector to its
   * nearest coarse centroid, compare pairs ONLY within a cluster, and drop
   * the larger vec_id of every pair whose cosine clears `threshold` —
   * keep-min-id, the same greedy rule as `Dedup.dropNearDups`. Returns the
   * survivors as (vec_id, cluster).
   *
   * This is the embedding-space answer to boilerplate that exact/minhash
   * dedup can't see (paraphrases, translations, templated rewrites). Scale
   * shape: assignment is one broadcast-codebook pass; the pair join is
   * keyed on `cluster`, so work is Σ cluster² instead of n² — the
   * clustering IS the blocking step, exactly like IVF search probes. The
   * codebook is a real trained k-means ([[kmeansFromBase]]) so clusters
   * stay balanced — training is deterministic, so the oracle mirrors it
   * bit for bit.
   *
   * `numCentroids` = 0 (the default) sizes the codebook from the corpus,
   * k = max(8, ⌈n / [[SemanticDedupTargetClusterSize]]⌉). The count runs
   * EAGERLY at construction (parquet row-group metadata — no data scan):
   * k must be a concrete number because the codebook is now TRAINED, not
   * seeded — `iters` Lloyd passes ([[kmeansFromBase]]) so clusters stay
   * balanced at large k (first-k seeds on a skewed corpus re-grow
   * Σ cluster² work precisely where auto-k is supposed to bound it).
   * With `cacheDir` set the codebook memoizes via [[trainedCodebook]]
   * (train once per corpus snapshot, eager-on-miss — see [[FrameCache]]).
   * The floor keeps tiny corpora on the historical 8-centroid layout —
   * the sf0.01 correctness gate lands there, so the auto path is
   * oracle-pinned end-to-end (the oracle mirrors the training loop
   * through the same per-iteration SQL emitter as q_ann_topk_ivf_trained).
   */
  def semanticDedup(embeddings: DataFrame, numCentroids: Int = 0,
                    threshold: Double = 0.35, iters: Int = 2,
                    cacheDir: Option[String] = None,
                    datasetTag: String = ""): DataFrame = {
    val base = withNorms(embeddings).persistTracked()
    val k =
      if (numCentroids > 0) numCentroids
      else {
        val n = embeddings.count()
        math.max(8L, math.ceil(n.toDouble / SemanticDedupTargetClusterSize).toLong).toInt
      }
    val cents = cacheDir match {
      case Some(_) => trainedCodebook(embeddings, k, iters, cacheDir, datasetTag)
      case None => kmeansFromBase(base, k, iters)
    }
    // assignment is a narrow literal-codebook argmax (no exchange of its
    // own), then ONE repartition by cluster INTO the persist (the
    // lshNearDupPairs bands pattern): the within-cluster self-join below
    // reads both sides from the same cluster-partitioned cache and plans
    // NO exchange — the corpus's embedding bytes cross exactly one
    // shuffle in the whole operator (the co-location one), and never
    // re-cross for the drops/anti stages, which prune to skinny columns
    // at the cache read
    val assign = base.withColumn("cluster", nearestCentroidCol(cents))
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cluster"))
      .repartition(col("cluster"))
      .persistTracked()
    val a1 = assign.select(col("cluster").as("cl1"), col("vec_id").as("id1"),
      col("embedding").as("emb1"), col("nrm").as("nrm1"))
    val a2 = assign.select(col("cluster").as("cl2"), col("vec_id").as("id2"),
      col("embedding").as("emb2"), col("nrm").as("nrm2"))
    val drops = a1.join(a2, col("cl1") === col("cl2") && col("id1") < col("id2"))
      .withColumn("cosine", dot("emb1", "emb2") / (col("nrm1") * col("nrm2")))
      .filter(col("cosine") >= threshold)
      .select(col("id2").as("vec_id")).distinct()
    assign.select(col("vec_id"), col("cluster"))
      .join(drops, Seq("vec_id"), "left_anti")
  }

  /**
   * Connected components over the sign-LSH near-dup graph — the
   * embedding-space twin of [[graft.ext.Dedup.nearDupComponents]]
   * (paraphrase/translation clusters instead of shingle clusters): every
   * vector is labeled with the minimum vec_id of its near-dup component,
   * so chains A–B, B–C collapse even when A and C never shared a bucket.
   * Same min-label propagation core, same scale shape: per round one
   * edge⋈label shuffle over the candidate-pair list only.
   */
  def embeddingComponents(embeddings: DataFrame, threshold: Double = 0.35,
                          dim: Int = 64, maxRounds: Int = 20,
                          numBands: Int = NumBands,
                          planesPerBand: Int = PlanesPerBand,
                          maxBucketSize: Option[Int] = None): DataFrame = {
    // band layout + occupancy cap pass straight through to the candidate
    // generator: at corpus scale this MUST run the production layout
    // (16 planes/band + ProductionMaxBucketSize) — the 4-plane test
    // layout's 16-value key space makes bucket occupancy, and the
    // in-bucket pair join, grow quadratically with corpus size (the sf5
    // sweep killed exactly this configuration)
    val edges = lshNearDupPairs(embeddings, threshold, dim,
        numBands, planesPerBand, maxBucketSize)
      .select(col("id1").as("doc1"), col("id2").as("doc2"))
    Dedup.componentsFromEdges(
        embeddings.select(col("vec_id").as("doc_id")), edges, maxRounds)
      .select(col("doc_id").as("vec_id"), col("component"))
  }

  /** Exact all-pairs near-dup baseline (correctness reference; O(n²) —
    * verification scale only, the LSH variant is the production path). */
  def bruteForceNearDupPairs(embeddings: DataFrame, threshold: Double = 0.35): DataFrame = {
    val base = withNorms(embeddings)
    val e1 = base.select(col("vec_id").as("id1"), col("embedding").as("emb1"), col("nrm").as("nrm1"))
    val e2 = base.select(col("vec_id").as("id2"), col("embedding").as("emb2"), col("nrm").as("nrm2"))
    e1.join(e2, col("id1") < col("id2"))
      .withColumn("cosine", dot("emb1", "emb2") / (col("nrm1") * col("nrm2")))
      .filter(col("cosine") >= threshold)
      .select("id1", "id2", "cosine")
  }
}
