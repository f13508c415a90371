package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import TextAnalysis.withShingles

/**
 * Deduplication operators for LLM training-data curation over `documents`:
 *
 *  - exact:   hash-groupBy on a portable content hash
 *  - MinHash: shingle → minhash signature → LSH banding → bucket join —
 *             the standard near-dup pipeline (Broder '97 resemblance
 *             sketches; the MinHashLSH idea in Spark ML, rebuilt here as
 *             pure Catalyst expressions so it is codegen'd end-to-end)
 *  - SimHash: Charikar '02 bit-sketch with banded candidate generation
 *  - n-gram Jaccard: exact verification on LSH candidates only
 *
 * Scale design (100 TB): every per-document computation (tokenize, shingle,
 * hash, signature) is a narrow map — no shuffle. Shuffles happen only on
 * (band, band_key) buckets whose size is bounded by design (band keys
 * spread uniformly), and candidate verification joins touch candidate pairs
 * only — never the n² cross product. A skewed bucket (e.g. boilerplate
 * pages) is the one hazard; cap it with a bucket-size limit before the
 * pair join if observed.
 */
object Dedup {

  // -- exact ------------------------------------------------------------------

  /** Exact dedup groups: one row per distinct content hash with the
    * canonical (minimum) doc_id and the duplicate count. */
  def exactGroups(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))

  // -- MinHash + LSH ----------------------------------------------------------

  /** Number of minhash permutations and LSH band layout (4 bands × 4 rows). */
  val NumPerms = 16
  val NumBands = 4
  val RowsPerBand: Int = NumPerms / NumBands

  /** Large prime > 2^32 for the universal-hash permutations. */
  val Prime = 4294967311L

  /** Recommended band-bucket cap for corpus-scale runs: 10k members ≈ 50M
    * candidate pairs per degenerate bucket, the most a single skew-split
    * partition should absorb. See the skew-guard note in
    * [[minhashCandidatePairs]]. The cap MECHANISM is pinned by ExtSpec's
    * planted-mega-bucket test; this default is additionally asserted to
    * leave ordinary buckets untouched (it only ever cuts buckets that
    * exact dedup should have collapsed first). */
  val ProductionMaxBucketSize: Option[Int] = Some(10000)

  /** Semantic version of the dedup family's [[FrameCache]] frames
    * (component labels, dup-gram census, span coverage). Bump on ANY
    * change to what those frames contain — the tokenizer
    * ([[TextAnalysis.withTokens]]), the 60-bit gram hash, minhash
    * banding, or the label-propagation rule — so a host's existing
    * /tmp cache from an older build MISSES instead of silently serving
    * the old algorithm's output. (The codebook family has its own
    * [[Similarity.CodebookFormatVersion]] for the same reason; the
    * global [[FrameCache.FormatVersion]] only covers the cache
    * mechanics, not any one family's semantics.) */
  private[graft] val DedupFrameVersion = 1

  /**
   * MinHash signatures: per doc, `sig[j] = min over shingles of
   * ((2j+1)*h + (104729j+12345)) mod P` with the portable md5-derived
   * 32-bit shingle hash. One narrow projection — no shuffle, no UDF.
   */
  def minhashSignatures(docs: DataFrame, shingleSize: Int = 3): DataFrame = {
    // fused compiled pipeline: tokens -> distinct shingles -> md5-uint32 ->
    // 16-perm signature; same values as the HOF formulation mirrored by the
    // DuckDB oracle, minus four interpreted lambda passes
    TextAnalysis.withTokens(docs)
      .filter(size(col("toks")) >= shingleSize)
      .select(col("doc_id"),
        expr(s"graft_minhash(graft_shingle_hash(toks, $shingleSize))").as("sig"))
  }

  /** LSH banding: one row per (doc, band) with the band's signature slice
    * serialized as the join key. */
  def minhashBands(signatures: DataFrame): DataFrame =
    signatures.select(col("doc_id"),
      posexplode(expr(
        s"""transform(sequence(0, ${NumBands - 1}), b ->
           |  concat_ws(',', slice(sig, b*$RowsPerBand + 1, $RowsPerBand)))""".stripMargin)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_key")

  /**
   * Candidate near-dup pairs: docs sharing any full band. The join is on
   * (band, band_key) — bucket-local, never n². `est_jaccard` = fraction of
   * matching signature components.
   */
  def minhashCandidatePairs(docs: DataFrame, shingleSize: Int = 3,
                            maxBucketSize: Option[Int] = None): DataFrame = {
    // materialize signatures once: every branch of the self-joins below
    // would otherwise recompute the full tokenize→shingle→hash lineage
    // (at cluster scale this persist is "write the signature table")
    val sigs = minhashSignatures(docs, shingleSize).persist()
    val allBands = minhashBands(sigs)
    // skew guard: a pathological bucket (boilerplate/empty-page band key
    // shared by millions of docs) would make the pair join quadratic in
    // that bucket; capping trades recall on exactly those degenerate
    // clusters for bounded work. Off by default ONLY because the oracle
    // queries pin uncapped semantics; production runs at corpus scale
    // should pass [[ProductionMaxBucketSize]] — an over-cap bucket is by
    // definition a boilerplate cluster whose members exact-dedup (or a
    // plain groupBy on the full signature) handles better than 10^12
    // candidate pairs would.
    val bands = capBuckets(allBands, maxBucketSize)
    val b1 = bands.select(col("band").as("b1_band"), col("band_key").as("b1_key"),
      col("doc_id").as("doc1"))
    val b2 = bands.select(col("band").as("b2_band"), col("band_key").as("b2_key"),
      col("doc_id").as("doc2"))
    val pairs = b1.join(b2,
        col("b1_band") === col("b2_band") && col("b1_key") === col("b2_key") &&
          col("doc1") < col("doc2"))
      .select("doc1", "doc2").distinct()
    val s1 = sigs.select(col("doc_id").as("doc1"), col("sig").as("sig1"))
    val s2 = sigs.select(col("doc_id").as("doc2"), col("sig").as("sig2"))
    pairs.join(s1, "doc1").join(s2, "doc2")
      .select(col("doc1"), col("doc2"),
        expr(s"size(filter(zip_with(sig1, sig2, (x, y) -> x = y), m -> m)) / $NumPerms")
          .as("est_jaccard"))
  }

  /**
   * Exact n-gram Jaccard similarity, evaluated on the LSH candidate pairs
   * only (the scale-correct pattern: cheap sketch filter → exact verify on
   * the survivors, never on the cross product).
   */
  def ngramJaccardOnCandidates(docs: DataFrame, shingleSize: Int = 3): DataFrame =
    candidateShinglePairs(docs, shingleSize)
      .select(col("doc1"), col("doc2"),
        (size(array_intersect(col("sh1"), col("sh2"))) /
          size(array_union(col("sh1"), col("sh2")))).as("jaccard"))

  /** Shared verification scaffold for the exact-measure-on-candidates
    * family: LSH candidate pairs joined with each side's distinct shingle
    * set → (doc1, doc2, sh1, sh2). The shingle frame is persisted because
    * both joins read it (cache lifetime caller-owned, as elsewhere). */
  private def candidateShinglePairs(docs: DataFrame, shingleSize: Int): DataFrame = {
    val sh = withShingles(docs, shingleSize).select(col("doc_id"), col("shingles")).persist()
    minhashCandidatePairs(docs, shingleSize).select("doc1", "doc2")
      .join(sh.select(col("doc_id").as("doc1"), col("shingles").as("sh1")), "doc1")
      .join(sh.select(col("doc_id").as("doc2"), col("shingles").as("sh2")), "doc2")
  }

  /**
   * Directional n-gram containment on the LSH candidate pairs:
   * containment(A in B) = |A∩B| / |A| over distinct shingle sets.
   * Asymmetric by design — a short document quoted wholesale inside a
   * long one scores ~1.0 on the short side while its Jaccard (normalized
   * by the union) stays low, so a Jaccard-threshold dedup misses exactly
   * the quote-inclusion / boilerplate-wrapping duplicates this catches
   * (Broder '97 distinguishes resemblance from containment for this
   * reason). Emits both directions per candidate pair.
   *
   * Same scale shape as [[ngramJaccardOnCandidates]]: exact verification
   * on LSH candidates only, never on the cross product. Candidates always
   * have ≥ 1 shingle (docs without shingles generate no bands), so the
   * divisions are safe.
   */
  def containmentOnCandidates(docs: DataFrame, shingleSize: Int = 3): DataFrame = {
    candidateShinglePairs(docs, shingleSize)
      .select(col("doc1"), col("doc2"),
        size(array_intersect(col("sh1"), col("sh2"))).cast("long").as("n_common"),
        (size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
          size(col("sh1")).cast("double")).as("containment_1in2"),
        (size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
          size(col("sh2")).cast("double")).as("containment_2in1"))
  }

  /**
   * Near-dup removal: keep every document that never appears as the larger
   * id of a candidate pair with estimated jaccard ≥ `threshold` (greedy
   * keep-lowest-id; with `doc1 < doc2` ordering this retains the minimum id
   * of each near-dup cluster when clusters are pairwise-connected — the
   * standard cheap approximation of connected-components dedup).
   */
  def dropNearDups(docs: DataFrame, threshold: Double = 0.5,
                   shingleSize: Int = 3): DataFrame = {
    val dups = minhashCandidatePairs(docs, shingleSize)
      .filter(col("est_jaccard") >= threshold)
      .select(col("doc2").as("doc_id")).distinct()
    docs.join(dups, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("n_chars"))
  }

  /** Skew guard shared by every banded candidate generator (minhash,
    * simhash, sign-LSH): drop (band, band_key) buckets larger than `cap`
    * before the pair self-join. The window count is O(bucket) work on the
    * same shuffle key the join would use anyway — it never materializes a
    * bucket², which is exactly what it exists to prevent. Expects columns
    * `band` and `band_key`. */
  private[graft] def capBuckets(bands: DataFrame, cap: Option[Int]): DataFrame =
    cap match {
      case Some(c) =>
        import org.apache.spark.sql.expressions.Window
        bands
          .withColumn("_bucket_n",
            count(lit(1)).over(Window.partitionBy(col("band"), col("band_key"))))
          .filter(col("_bucket_n") <= c)
          .drop("_bucket_n")
      case None => bands
    }

  /**
   * Connected-components near-dup labeling: every document gets the
   * MINIMUM doc_id of its near-dup component, with thresholded minhash
   * candidate pairs as the edges — the upgrade over the greedy
   * [[dropNearDups]] rule (chains A–B, B–C now collapse into one
   * component even when A and C are not directly near).
   *
   * Algorithm: iterated min-label propagation with pointer jumping. Each
   * round takes the min over neighbors' labels (one edge⋈label shuffle +
   * min aggregate) and then compresses paths by one label-table
   * self-join (`component ← label(component)` — labels are always valid
   * doc_ids, so the join is total). The compression doubles how far a
   * minimum has travelled, so rounds needed drop from O(diameter) to
   * O(log diameter) — at 100 TB that is the difference between ~40 and
   * ~6 shuffles on a chain-shaped cluster. Labels only ever decrease, so
   * the per-round label SUM is a monotone convergence witness (one cheap
   * scalar action per round, no row-level diff join); `maxRounds` bounds
   * adversarial graphs. The corpus itself is never re-shuffled — every
   * round touches the edge list and the (doc_id, component) table only.
   *
   * `cacheDir`/`datasetTag` memoize the (doc_id, component) label table
   * via [[FrameCache]]: a production dedup pipeline labels components
   * ONCE per corpus snapshot and reuses the labels for the size census,
   * the keep-best collapse, and the drop action — labeling is the
   * multi-shuffle iterative core, and its output is two long columns.
   * Labels are a deterministic fixpoint (component = min doc_id reachable),
   * so a cache hit is bit-identical to a recompute.
   */
  def nearDupComponents(docs: DataFrame, threshold: Double = 0.5,
                        shingleSize: Int = 3, maxRounds: Int = 20,
                        cacheDir: Option[String] = None,
                        datasetTag: String = ""): DataFrame =
    FrameCache.cached(docs.sparkSession, cacheDir,
        s"neardup_components_v${DedupFrameVersion}_t${threshold}_sh${shingleSize}_r$maxRounds",
        datasetTag) {
      val edges = minhashCandidatePairs(docs, shingleSize)
        .filter(col("est_jaccard") >= threshold)
        .select(col("doc1"), col("doc2"))
      componentsFromEdges(docs.select(col("doc_id")), edges, maxRounds)
    }

  /** Instrumentation seam for [[componentsFromEdges]]: every eager
    * checkpoint barrier routes through [[CcHooks.ckpt]] with a stable name
    * ("edges", "touched", "symall", "labels0", "round_N"). The default is
    * the plain operator move; ExtSpec overrides it to count the round
    * checkpoints, so the pin observes the REAL operator body instead of
    * restating it. */
  private[graft] trait CcHooks {
    def ckpt(name: String, df: DataFrame): DataFrame = df.localCheckpoint(true)
  }
  private[graft] object CcHooks { val Default: CcHooks = new CcHooks {} }

  /** Min-label propagation over an explicit (doc1, doc2) edge list —
    * the iterative core of [[nearDupComponents]], factored out so the
    * convergence behavior is testable on hand-made graphs. By default a
    * graph whose diameter exceeds `maxRounds` FAILS instead of silently
    * returning partially-propagated labels (the oracle computes the exact
    * fixpoint, so unconverged labels would surface as a bare hash
    * mismatch); pass `failOnNonConverged = false` to get the partial
    * labels (diagnostics, incremental runs). */
  private[graft] def componentsFromEdges(ids: DataFrame, edges: DataFrame,
                                         maxRounds: Int,
                                         failOnNonConverged: Boolean = true,
                                         hooks: CcHooks = CcHooks.Default): DataFrame = {
    require(maxRounds > 0, s"maxRounds must be positive, got $maxRounds")
    // localCheckpoint (eager), NOT persist: each round's plan references the
    // previous round's labels TWICE (the propagation join and the keep-min
    // merge), so with lazy lineage the logical plan doubles per round —
    // 2^rounds copies of the full candidate-generation lineage blew the
    // driver heap during analysis at sf0.1. Checkpointing truncates the
    // plan to the materialized blocks; ContextCleaner reclaims dropped
    // rounds. (On a cluster, executor loss invalidates localCheckpoint
    // blocks — a reliability-sensitive run would use checkpoint() with a
    // checkpoint dir instead; the round structure is identical.)
    // restrict edges to ids FIRST: an edge endpoint absent from `ids`
    // would otherwise gain a label row after round 1 (step() is
    // edge-driven), breaking both the one-row-per-id contract and the
    // monotone-sum convergence witness (a phantom row's label can rise
    // into the sum while real labels fall, masking change). Callers that
    // derive edges from the same docs pay only two semi-joins against the
    // already-checkpointed id table.
    // (the final select pins column ORDER: usingColumns joins move the join
    // column first, and the symmetrizing union below is positional)
    val e = hooks.ckpt("edges", edges
      .join(ids.select(col("doc_id").as("doc1")), Seq("doc1"), "left_semi")
      .join(ids.select(col("doc_id").as("doc2")), Seq("doc2"), "left_semi")
      .select(col("doc1"), col("doc2")))
    val sym = e.union(e.select(col("doc2").as("doc1"), col("doc1").as("doc2")))
    // iterate ONLY over nodes that touch an edge: in a near-dup graph the
    // overwhelming majority of docs are singletons (sf0.1: ~2.5k touched
    // of 20k ids), and every per-round join — propagation, keep-min merge,
    // pointer jump — scales with the label-table size. Untouched ids keep
    // their self-label by definition and rejoin after convergence.
    val touched = hooks.ckpt("touched",
      sym.select(col("doc1").as("doc_id")).distinct())
    val inactive = ids.join(touched, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("component"))
    // decimal(38,0) sum: labels are monotone non-increasing per row, so the
    // sum strictly decreases until the fixpoint — a Long sum could in
    // principle alias under 2^64 wraparound at extreme id scales; the
    // decimal sum is exact and cannot
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val r = df.agg(sum(col("component").cast("decimal(38,0)"))).head()
      if (r.isNullAt(0)) java.math.BigDecimal.ZERO else r.getDecimal(0)
    }
    def sumMetric = sum(col("component").cast("decimal(38,0)")).as("labelsum")
    // convergence sums ride the checkpoint action itself (observe /
    // CollectMetrics): every step inside a batch carries an Observation on
    // its label sum, delivered by the ONE eager-ckpt job per batch — the
    // former separate labelSum action per batch is gone, and an unchanged
    // sum at ANY step inside the batch certifies the fixpoint immediately
    // (per-row monotonicity per STEP makes consecutive-step sum equality a
    // full-row certificate) instead of one whole dead batch later.
    // Defensive fallback: a hooks.ckpt override materializing through a
    // path that does not route CollectMetrics (bounded wait below) drops
    // back to the per-batch labelSum query — the pre-observe behavior.
    def awaitSums(obs: Seq[org.apache.spark.sql.Observation])
        : Option[Seq[java.math.BigDecimal]] = {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      try {
        val maps = Await.result(Future(obs.map(_.get)), 10.seconds)
        Some(maps.map(_.get("labelsum") match {
          case Some(d: java.math.BigDecimal) => d
          case _ => java.math.BigDecimal.ZERO // empty label table: sum is null
        }))
      } catch { case _: java.util.concurrent.TimeoutException => None }
    }
    // self-loops fold the keep-min merge INTO the propagation aggregate:
    // min over neighbors ∪ {self} ≡ least(own, min-neighbor), so each
    // round is two joins (propagate+jump) instead of three — on the small
    // label tables these rounds run at, per-round job overhead IS the cost
    val symAll = hooks.ckpt("symall", sym
      .union(touched.select(col("doc_id").as("doc1"), col("doc_id").as("doc2"))))
    def step(labels: DataFrame): DataFrame = {
      val merged = symAll
        .join(labels.select(col("doc_id").as("nbr"), col("component")),
          col("doc2") === col("nbr"))
        .groupBy(col("doc1")).agg(min(col("component")).as("component"))
        .withColumnRenamed("doc1", "doc_id")
      // pointer jumping: follow one hop of the label table itself
      // (component ← label(component)). Every label IS a doc_id (labels
      // start as self and only ever adopt other rows' labels), so the
      // equi-join is total and the fixpoint is unchanged.
      merged.as("m")
        .join(merged.select(col("doc_id").as("t_id"), col("component").as("t_comp")),
          col("component") === col("t_id"))
        .select(col("doc_id"), col("t_comp").as("component"))
    }
    // (left_semi against ids keeps the output at exactly one row per ids
    // row even if an edge references an unknown doc)
    val obs0 = new org.apache.spark.sql.Observation()
    var labels = hooks.ckpt("labels0",
      ids.join(touched, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("doc_id").as("component"))
        .observe(obs0, sumMetric))
    var prevSum = awaitSums(Seq(obs0)).map(_.head).getOrElse(labelSum(labels))
    var round = 0
    var converged = false
    while (round < maxRounds && !converged) {
      // batch three propagation steps per checkpoint: at the label-table
      // sizes these rounds run at, per-job overhead (checkpoint
      // materialization + convergence action) dominates the actual join
      // work, so cutting the job count cuts the wall clock almost
      // proportionally (sf0.1: 13 jobs 8.9 s → 5 jobs 6.4 s). Lineage
      // grows 8× between truncations — bounded, unlike the unbounded
      // per-round doubling the eager checkpoint exists to prevent. The
      // convergence witness stays sound: every row's label is monotone
      // non-increasing per STEP, so an unchanged sum between consecutive
      // steps certifies that the step changed no row — and once the
      // fixpoint is reached every later step is the identity, so a frame
      // checkpointed PAST the fixpoint equals the fixpoint bit for bit.
      val stepsThisBatch = math.min(3, maxRounds - round)
      val obsSeq = Vector.fill(stepsThisBatch)(new org.apache.spark.sql.Observation())
      val next = hooks.ckpt(s"round_${round + stepsThisBatch}",
        (0 until stepsThisBatch).foldLeft(labels)((l, i) =>
          step(l).observe(obsSeq(i), sumMetric)))
      labels = next
      round += stepsThisBatch
      awaitSums(obsSeq) match {
        case Some(sums) =>
          val chain = prevSum +: sums
          converged = chain.sliding(2).exists(p => p(0).compareTo(p(1)) == 0)
          prevSum = sums.last
        case None =>
          val s = labelSum(next)
          if (s.compareTo(prevSum) == 0) converged = true
          prevSum = s
      }
    }
    if (!converged) {
      // the fixpoint may have been reached EXACTLY at round maxRounds (the
      // loop only certifies convergence via an extra unchanged round): one
      // sum-only confirmation pass distinguishes that from genuine
      // non-convergence before throwing. Not checkpointed — its result is
      // discarded either way.
      if (labelSum(step(labels)).compareTo(prevSum) == 0) converged = true
    }
    if (failOnNonConverged && !converged) throw new IllegalStateException(
      s"min-label propagation did not converge within $maxRounds rounds: a " +
        "near-dup component's diameter exceeds the bound — raise maxRounds " +
        "(labels would otherwise be silently partial and hash-diverge from " +
        "the fixpoint oracle)")
    labels.union(inactive)
  }

  // -- SimHash ----------------------------------------------------------------

  /**
   * 32-bit SimHash over the token multiset: bit k of the sketch is the sign
   * of `sum over tokens of (+1 if bit k of hash32(token) else -1)`.
   * Nested higher-order expressions — still fully codegen'd.
   */
  def simhash(docs: DataFrame): DataFrame = {
    // fused compiled pipeline (token md5 + bit-vote) — same bit rule as the
    // nested-aggregate HOF formulation mirrored by the DuckDB oracle
    TextAnalysis.withTokens(docs)
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), expr("graft_simhash32(graft_token_hash(toks))").as("simhash"))
  }

  /** Band width (bits per slice) for corpus-scale SimHash runs: 16-bit
    * slices give 2 bands × 65 536 buckets instead of the default 4 × 256,
    * so bucket occupancy — and with it the candidate join's per-bucket
    * quadratic cost — shrinks 256×. The tradeoff is recall: a pair must
    * now agree on a full 16-bit half to become a candidate (catches
    * hamming ≤ 1 for sure instead of hamming ≤ 3). Combine with
    * [[ProductionMaxBucketSize]]; both are pinned by ScaleSpec. */
  val ProductionSimhashBitsPerBand = 16

  /**
   * SimHash candidate pairs: banded on `32 / bitsPerBand` slices of
   * `bitsPerBand` bits (pairs agreeing on any slice), then filtered by
   * Hamming distance ≤ `maxHamming`. The default 4 × 8-bit layout is the
   * oracle-pinned test configuration; corpus-scale runs should pass
   * `bitsPerBand = ProductionSimhashBitsPerBand` and
   * `maxBucketSize = ProductionMaxBucketSize` — with 8-bit slices the band
   * key space is only 256 buckets, so bucket occupancy grows O(n/256) and
   * the candidate self-join goes quadratic on a large corpus.
   */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 10,
                   bitsPerBand: Int = 8,
                   maxBucketSize: Option[Int] = None): DataFrame = {
    // < 32: `1 << 32` wraps to 1 in Scala, which would collapse the key
    // space to a single bucket — the exact blowup this parameter prevents
    require(bitsPerBand > 0 && bitsPerBand < 32 && 32 % bitsPerBand == 0,
      s"bitsPerBand must be a proper divisor of 32, got $bitsPerBand")
    val numBands = 32 / bitsPerBand
    val sh = simhash(docs).persist()
    val allBands = sh.select(col("doc_id"), col("simhash"),
      posexplode(expr(
        s"""transform(sequence(0, ${numBands - 1}), b ->
           |  shiftright(simhash, b*$bitsPerBand) % ${1 << bitsPerBand})""".stripMargin)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_key")
    val bands = capBuckets(allBands, maxBucketSize)
    val b1 = bands.select(col("band").as("b1_band"), col("band_key").as("b1_key"),
      col("doc_id").as("doc1"), col("simhash").as("sh1"))
    val b2 = bands.select(col("band").as("b2_band"), col("band_key").as("b2_key"),
      col("doc_id").as("doc2"), col("simhash").as("sh2"))
    b1.join(b2,
        col("b1_band") === col("b2_band") && col("b1_key") === col("b2_key") &&
          col("doc1") < col("doc2"))
      .select(col("doc1"), col("doc2"),
        expr("bit_count(sh1 ^ sh2)").as("hamming"))
      // hamming is a pure function of the pair, so the threshold commutes
      // with the dedup — filtering FIRST keeps far-apart pairs (the bulk of
      // band collisions) out of the distinct's shuffle entirely
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /**
   * Blocked sorted-neighborhood candidate pairs — the third blocking
   * strategy next to banded MinHash and banded SimHash: docs are sorted by
   * simhash within coarse prefix blocks and each doc is paired with its
   * `window` successors in that order. Near-identical simhashes sort
   * adjacent, so the window catches close pairs band intersection can miss
   * (similar hashes that straddle every band boundary).
   *
   * Scale shape: the sort + row_number window is PARTITIONED by the
   * `prefixBits`-bit simhash prefix (default 2^16 blocks), never a global
   * single-partition window; the successor join is keyed on
   * (block, rn + k) with k ≤ `window`, so work is |docs|·window. The
   * standard sorted-neighborhood tradeoff applies and is the point of the
   * blocks: pairs straddling a block boundary are lost (they differ in
   * the TOP prefix bits, i.e. are far apart in simhash space anyway).
   */
  def sortedNeighborhoodPairs(docs: DataFrame, window: Int = 3,
                              prefixBits: Int = 16): DataFrame = {
    require(window >= 1 && prefixBits >= 0 && prefixBits < 32,
      s"bad sorted-neighborhood params: window=$window prefixBits=$prefixBits")
    val sim = simhash(docs)
      .withColumn("blk", expr(s"simhash >> ${32 - prefixBits}"))
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("blk")).orderBy(col("simhash"), col("doc_id"))))
      .persist() // both sides of the successor join re-read it
    val succ = sim.select(col("blk"), col("rn"),
        col("doc_id").as("d2"), col("simhash").as("sh2"))
      .withColumn("k", explode(expr(s"sequence(1, $window)")))
      .select(col("blk"), (col("rn") - col("k")).as("rn"), col("d2"), col("sh2"))
    sim.join(succ, Seq("blk", "rn"))
      .select(
        least(col("doc_id"), col("d2")).as("doc1"),
        greatest(col("doc_id"), col("d2")).as("doc2"),
        expr("CAST(bit_count(simhash ^ sh2) AS INT)").as("hamming"))
  }

  // -- duplicated-span coverage ----------------------------------------------

  /**
   * Cross-document duplicated-span coverage — the per-document signal
   * behind exact-substring dedup (Lee et al. '21, "Deduplicating Training
   * Data Makes Language Models Better", arXiv:2107.06499, which builds a
   * corpus-wide suffix array): a word `n`-gram occurring in ≥ 2 DISTINCT
   * documents marks all `n` of its token positions as duplicated, and a
   * document's coverage is the exact union of those spans over its token
   * count. A suffix array doesn't distribute; fixed-width n-gram span
   * union gives the same "how much of this text exists elsewhere" measure
   * per document with only hash aggregates and one semi join — the usual
   * production substitute (and n bounds the shortest detectable clone).
   *
   * Returns (doc_id, n_tokens, covered_tokens, dup_coverage) for EVERY
   * document — zero-coverage rows included, because the downstream filter
   * needs the clean docs too.
   *
   * Scale shape (100 TB): occurrences are a narrow explode, one row per
   * n-gram start, carrying the gram only as its 8-byte hash (never the
   * string); the duplicated-gram set is a distinct + count hash agg on
   * that hash; survivors return via LEFT SEMI join on the same key (two
   * shuffles on one key — AQE coalesces, partitioning reused). The span
   * union is a doc-partitioned running-max window — interval arithmetic,
   * so there is NO n× position explode and no global sort. Every stage is
   * linear in corpus tokens.
   */
  def dupSpanCoverage(docs: DataFrame, n: Int = 5,
                      cacheDir: Option[String] = None,
                      datasetTag: String = ""): DataFrame = {
    require(n >= 2 && n <= 32, s"span n-gram width out of range: $n")
    import org.apache.spark.sql.expressions.Window
    FrameCache.cached(docs.sparkSession, cacheDir,
        s"dup_span_cov_v${DedupFrameVersion}_n$n", datasetTag) {
    val toks = spanToks(docs)
    // deliberately NOT persisted although two consumers read it: the
    // lineage is one fully codegen'd scan+explode+md5, and caching the
    // per-position frame measured ~1.9× SLOWER than recomputing it at
    // both sf0.1 and sf1 (cache write+read of the widest frame in the
    // query vs a cheap fused re-scan) — the opposite call from the
    // sparse-cosine rework, where the branch lineage carried a shuffle
    val occ = spanOccurrences(toks, n)
    val dup = dupGrams(occ, n, cacheDir, datasetTag)
    val hit = occ.join(dup, Seq("gh"), "left_semi")
    // exact interval union of the [s, s+n-1] spans: a span's NEW coverage
    // is its end minus the furthest end already seen (clamped at s-1)
    val prior = Window.partitionBy(col("doc_id")).orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val perDoc = hit
      .withColumn("prev_end", max(col("s") + lit(n - 1)).over(prior))
      .withColumn("new_cov", greatest(lit(0L),
        (col("s") + lit(n - 1)) -
          greatest(col("s") - lit(1), coalesce(col("prev_end"), lit(-1L)))))
      .groupBy(col("doc_id"))
      .agg(sum(col("new_cov")).as("covered_tokens"))
    toks.select(col("doc_id"), col("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("covered_tokens"), lit(0L)).cast("long").as("covered_tokens"),
        (coalesce(col("covered_tokens"), lit(0L)).cast("double") /
          col("n_tokens").cast("double")).as("dup_coverage"))
    }
  }

  /** Tokenized docs projected to the span-census grain — shared prefix of
    * [[dupSpanCoverage]] and [[removeDupSpans]]. */
  private def spanToks(docs: DataFrame): DataFrame =
    TextAnalysis.withTokens(docs)
      .select(col("doc_id"), col("toks"), size(col("toks")).cast("long").as("n_tokens"))

  /** One narrow row per word-`n`-gram start position: (doc_id, s, gh)
    * where `gh` is the 60-bit gram hash — 60 bits, not 32, because the
    * census downstream makes a HARD "seen in 2+ docs" decision on this
    * key, and a 32-bit space saturates by birthday at corpus scale. */
  private def spanOccurrences(toks: DataFrame, n: Int): DataFrame = {
    val parts = (0 until n).map(k => s"toks[s+$k]").mkString(", ")
    toks
      .where(col("n_tokens") >= n)
      .select(col("doc_id"), col("toks"),
        explode(expr(s"sequence(0, size(toks)-$n)")).as("s"))
      .select(col("doc_id"), col("s").cast("long").as("s"),
        expr(TextAnalysis.hash60Sql.format(s"concat_ws(' ', $parts)")).as("gh"))
  }

  /** The duplicated-gram census: gram hashes appearing in ≥ 2 DISTINCT
    * documents. [[FrameCache]]-memoized when `cacheDir` is set — the
    * census is the shuffle-heavy stage (distinct + count over every gram
    * occurrence in the corpus) with a one-column output, the exact
    * "narrow result of expensive lineage" shape the cache exists for,
    * and it is shared verbatim by the coverage report, the document
    * filter, and the span-removal rewrite. */
  private def dupGrams(occ: DataFrame, n: Int, cacheDir: Option[String],
                       datasetTag: String): DataFrame =
    FrameCache.cached(occ.sparkSession, cacheDir,
        s"dup_grams_v${DedupFrameVersion}_n$n", datasetTag) {
      occ.select(col("gh"), col("doc_id")).distinct()
        .groupBy(col("gh")).count()
        .where(col("count") >= 2)
        .select(col("gh"))
    }

  /**
   * Normalized-exact dedup — the fidelity between byte-exact and near-dup:
   * case-folded, punctuation-stripped, whitespace-collapsed text hashed to
   * a canonical form, so trivially-reformatted copies (capitalization,
   * stray punctuation, double spaces) collapse that byte-exact dedup
   * misses while true edits still separate. Emits every document with its
   * cluster's canonical (minimum) doc_id and a dup flag — callers either
   * filter `is_dup` or group on `canonical_id`.
   *
   * Scale shape: a narrow normalize+hash projection then one hash agg on
   * the 16-byte digest joined back — the exactGroups shape with a
   * normalization in front.
   */
  def normalizedExactDedup(docs: DataFrame): DataFrame = {
    // non-alnum RUNS become one space (so line-wrapping collapses instead
    // of concatenating words); docs whose normalization is empty (non-Latin
    // scripts, punctuation-only) fall back to the RAW content hash — they
    // must not all merge into one fake cluster — and NULL-text docs get
    // per-doc keys so every input row survives to the output
    val norm = trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))
    val normed = docs.select(col("doc_id"),
      when(col("text").isNull, concat(lit("null:"), col("doc_id").cast("string")))
        .when(norm === "", concat(lit("raw:"), md5(col("text"))))
        .otherwise(md5(norm)).as("norm_hash"))
    val canon = normed.groupBy(col("norm_hash"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("cluster_size"))
    normed.join(canon, "norm_hash")
      .select(col("doc_id"), col("canonical_id"), col("cluster_size"),
        (col("doc_id") =!= col("canonical_id")).as("is_dup"))
  }

  /**
   * Near-dup collapse keeping the BEST representative per duplicate
   * cluster rather than the arbitrary minimum id ([[dropNearDups]]):
   * within each connected component of the near-dup graph
   * ([[nearDupComponents]]), keep the longest document (n_chars desc,
   * doc_id asc tiebreak — a stand-in for any quality score). This is the
   * production dedup policy: near-duplicate crawls keep the most complete
   * capture, not whichever arrived with the smallest id.
   *
   * Scale shape: the component labeling is the bounded label-propagation
   * core; the winner election is a window PARTITIONED by component —
   * groups are duplicate clusters, inherently small (and capped upstream
   * by the banding guards).
   */
  def dedupKeepBest(docs: DataFrame, threshold: Double = 0.5,
                    shingleSize: Int = 3,
                    cacheDir: Option[String] = None,
                    datasetTag: String = ""): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val comp = nearDupComponents(docs, threshold, shingleSize,
      cacheDir = cacheDir, datasetTag = datasetTag)
    val w = Window.partitionBy(col("component"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    docs.join(comp, "doc_id")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("component"))
  }

  /**
   * Corpus snapshot diff — dataset versioning for training-data dumps:
   * full-outer join of two snapshots on doc_id comparing portable content
   * hashes → per-doc status `added` / `removed` / `changed` / `unchanged`.
   * One shuffle join carrying only (id, md5); at 100 TB this is how a
   * monthly crawl refresh reports what actually moved before any
   * reprocessing is scheduled.
   */
  def corpusDiff(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    // presence comes from explicit flags, NOT hash nullness: md5(NULL) is
    // NULL, so a NULL-text doc present in both snapshots must still read
    // as unchanged (null-safe hash compare), never as added/removed
    val o = oldDocs.select(col("doc_id"), md5(col("text")).as("old_hash"),
      lit(true).as("in_old"))
    val n = newDocs.select(col("doc_id"), md5(col("text")).as("new_hash"),
      lit(true).as("in_new"))
    o.join(n, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("in_old").isNull, "added")
          .when(col("in_new").isNull, "removed")
          .when(col("old_hash") <=> col("new_hash"), "unchanged")
          .otherwise("changed").as("status"))
  }

  /**
   * Span REMOVAL — the full "Deduplicating Training Data" action
   * ([[dupSpanCoverage]] is the measurement; this rewrites the text):
   * every token position covered by a cross-document duplicated `n`-gram
   * is cut, and the document is re-assembled from the surviving tokens
   * (plus the count removed, for audit). Documents losing every token
   * keep an empty string rather than disappearing — the corpus row set
   * is stable through the rewrite.
   *
   * Scale shape: the dup census is the [[dupSpanCoverage]] core; covered
   * positions explode ≤ n× the duplicated occurrences (linear); the
   * rebuild is the ordered-array pattern proven by user_paths —
   * sort_array over a per-doc collect_list of (pos, token) structs, one
   * hash agg, no windows. The token-grain explode + anti join + rebuild
   * runs ONLY for docs that actually have a covered position (left_semi
   * on the covered set): an untouched doc's rebuild output is provably
   * `concat_ws(' ', toks)` (the rebuild sorts by position, preserving
   * the original token order), which is computed doc-locally with zero
   * shuffle. On a mostly-clean corpus — the production norm — this cuts
   * the dominant cost, the full-corpus token-grain shuffle, to the
   * duplicated slice (measured 17.4 s → see PLANS.md at sf5, where
   * ~2/3 of docs are untouched).
   */
  def removeDupSpans(docs: DataFrame, n: Int = 5,
                     cacheDir: Option[String] = None,
                     datasetTag: String = ""): DataFrame = {
    require(n >= 2 && n <= 32, s"span n-gram width out of range: $n")
    val toks = spanToks(docs)
    // the covered-position set (doc_id, pos) is memoized alongside the
    // census: it is the OTHER narrow product of the expensive gram pass
    // (rows = covered positions ≈ dup-coverage × corpus tokens, ~9% on
    // this corpus; two longs per row), and with it cached a steady-state
    // rewrite never re-explodes the corpus to gram grain at all. The
    // rewritten-text OUTPUT stays uncached — as wide as the corpus,
    // exactly the frame shape the cache loses on.
    val coveredRaw = FrameCache.cached(docs.sparkSession, cacheDir,
        s"dup_span_pos_v${DedupFrameVersion}_n$n", datasetTag) {
      val occ = spanOccurrences(toks, n)
      occ.join(dupGrams(occ, n, cacheDir, datasetTag), Seq("gh"), "left_semi")
        .select(col("doc_id"), explode(expr(s"sequence(s, s + ${n - 1})")).as("pos"))
        .distinct()
    }
    // two consumers (touched set + anti join): persist only when the
    // frame is NOT cache-backed (a hit is already a cheap parquet scan)
    val covered =
      if (FrameCache.active(cacheDir)) coveredRaw else coveredRaw.persist()
    // THREE consumers (positions semi, rebuilt semi, untouched anti), each
    // of which would otherwise re-run the distinct's shuffle over the
    // covered frame; one long per touched doc — the cheapest frame in the
    // operator to pin, unconditionally (even cache-backed, the distinct
    // itself is the repeated cost, not the scan under it)
    val touched = covered.select(col("doc_id")).distinct().persist()
    // token-grain rebuild for TOUCHED docs only (see scaladoc)
    val positions = toks.join(touched, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), posexplode(col("toks")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("col").as("tok"))
    val kept = positions.join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(expr("concat_ws(' ', transform(sort_array(collect_list(struct(pos, tok))), x -> x.tok))")
        .as("scrubbed_text"),
        count(lit(1)).as("kept_tokens"))
    val rebuilt = toks.join(touched, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("n_tokens"))
      .join(kept, Seq("doc_id"), "left") // no kept row = every token covered
      .select(col("doc_id"),
        coalesce(col("scrubbed_text"), lit("")).as("scrubbed_text"),
        coalesce(col("kept_tokens"), lit(0L)).cast("long").as("kept_tokens"),
        (col("n_tokens") - coalesce(col("kept_tokens"), lit(0L))).cast("long")
          .as("removed_tokens"))
    // untouched docs pass through doc-locally — no explode, no shuffle
    val untouched = toks.join(touched, Seq("doc_id"), "left_anti")
      .select(col("doc_id"),
        concat_ws(" ", col("toks")).as("scrubbed_text"),
        col("n_tokens").as("kept_tokens"),
        lit(0L).as("removed_tokens"))
    rebuilt.unionByName(untouched)
  }

  /** The filter action on [[dupSpanCoverage]]: drop documents whose
    * duplicated-span coverage exceeds `maxCoverage` (the Lee et al. '21
    * pipeline step — remove texts that mostly exist elsewhere, keep the
    * clean tail). left_anti keeps zero-coverage docs by construction. */
  def dropHighDupSpanDocs(docs: DataFrame, maxCoverage: Double = 0.5,
                          n: Int = 5,
                          cacheDir: Option[String] = None,
                          datasetTag: String = ""): DataFrame =
    docs.join(
      dupSpanCoverage(docs, n, cacheDir, datasetTag)
        .where(col("dup_coverage") > maxCoverage)
        .select(col("doc_id")),
      Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("n_chars"))
}
