package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{abs, broadcast, col, concat, concat_ws, count, expr, lit, md5, round, sum, when}

import graft.analytics._
import graft.clean.CleanStage
import graft.ext.{Bucketing, Dedup, GraphRank, Layout, Multimodal, Similarity, SparseSim, TextAnalysis}
import graft.relational.Relational
import graft.schema.Schemas

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY.md §2 is registered here as a
  * `(SparkSession, sfDir) => DataFrame` with an equivalent DuckDB oracle in
  * [[oracleSql]]. Column names and types are aligned on both sides because
  * the driver's compare sorts columns by name and hashes values.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Sessionization + session metrics — scan, projection, cast, window
    * (lag + running sum), conditional, concat, groupBy-agg in one plan. */
  def entry(spark: SparkSession): DataFrame =
    Sessionize.sessionMetrics(
      Sessionize(Tables.clickstream(spark, "/root/testdata/sf0.001")))

  // ---------------------------------------------------------------------------
  // Spark-side query functions
  // ---------------------------------------------------------------------------

  private def cs(s: SparkSession, dir: String): DataFrame = Tables.clickstream(s, dir)
  private def sess(s: SparkSession, dir: String): DataFrame = Sessionize(cs(s, dir))
  private val steps = Schemas.testdataFunnelSteps

  /** FrameCache home for the dedup families (same discipline as the IVF
    * codebook cache): deterministic label/census frames are materialized
    * once per corpus snapshot and shared across the queries that consume
    * them — components by the census/keep-best/label queries, the
    * dup-gram census by the coverage/filter/rewrite queries. The tag is
    * the documents table's file-metadata fingerprint, so regenerated
    * testdata at the same path misses instead of poisoning. */
  private def frameCacheDir: Option[String] =
    Some(sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft-frames")
  private def docsTag(d: String): String =
    Similarity.fileFingerprint(s"$d/documents.parquet")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- clean stage (NiFi tier collapsed, SURVEY §3.3) --
    "q_clean_enrich" -> ((s, d) => CleanStage.enrichTyped(cs(s, d))),
    // -- sessionization family (SURVEY §2.4, flagship) --
    "q_sessionize" -> ((s, d) => sess(s, d).select(
      "visitorid", "event_time", "event", "itemid", "prev_event_time",
      "diff_seconds", "is_new_session", "session_number", "session_id")),
    "q_sessions" -> ((s, d) => Sessionize.sessionMetrics(sess(s, d))),
    "q_sessions_typed" -> ((s, d) => TypedSessionize(cs(s, d))),
    "q_user_paths" -> ((s, d) => UserPaths.joined(sess(s, d))),
    "q_funnel" -> ((s, d) => Funnel.counts(sess(s, d), steps)),
    "q_funnel_ordered" -> ((s, d) => Funnel.orderedCounts(sess(s, d), steps)),
    // -- per-minute family (A5-A8) --
    "q_events_per_minute" -> ((s, d) => MinuteStats.eventsPerMinute(cs(s, d))),
    "q_active_users" -> ((s, d) => MinuteStats.activeUsers(cs(s, d))),
    "q_event_type_distribution" -> ((s, d) => MinuteStats.eventTypeDistribution(cs(s, d))),
    "q_bounce_rate" -> ((s, d) => MinuteStats.bounceRate(cs(s, d))),
    "q_cohort_retention" -> ((s, d) => Cohorts.retention(cs(s, d))),
    // -- item family (A9-A11 + ranked top-k extension) --
    "q_top_items" -> ((s, d) => Items.topItemsPerMinute(cs(s, d))),
    "q_top_items_ranked" -> ((s, d) => Items.topItemsRanked(cs(s, d), 5)),
    "q_top_items_agg" -> ((s, d) => Items.topItemsAgg(cs(s, d), 5)),
    "q_item_interactions" -> ((s, d) => Items.itemInteractions(cs(s, d))),
    "q_item_interactions_salted" -> ((s, d) => Items.itemInteractionsSalted(cs(s, d))),
    "q_most_viewed_items" -> ((s, d) => Items.mostViewedItems(cs(s, d))),
    // -- relational extension family (joins/rollup/top-k/JSON; SURVEY §2.5) --
    "q_pricing_summary" -> (Relational.pricingSummary _),
    "q_revenue_by_segment" -> (Relational.revenueBySegment _),
    "q_orders_rollup" -> (Relational.ordersRollup _),
    "q_top_customers_per_segment" -> ((s, d) => Relational.topCustomersPerSegment(s, d, 3)),
    "q_order_priority" -> (Relational.orderPriorityWithLineitems _),
    "q_customers_without_orders" -> ((s, d) => Relational.customersWithoutOrders(s, d)),
    "q_customers_per_region" -> (Relational.customersPerRegionNation _),
    "q_order_gaps" -> (Relational.orderGaps _),
    "q_props_sum" -> (Relational.propsSumByType _),
    "q_value_stats" -> (Relational.valueStatsByType _),
    "q_asof_last_order" -> (Relational.eventsWithLastOrder _),
    "q_asof_last_order_exec" -> (Relational.eventsWithLastOrderExec _),
    "q_range_orders_week" -> (Relational.eventsWithRecentOrders _),
    "q_orders_cube" -> (Relational.ordersCube _),
    "q_ship_delay" -> (Relational.shipDelayByPriority _),
    "q_event_pivot" -> (Relational.eventPivot _),
    "q_viewers_no_purchase" -> (Relational.viewersWithoutPurchase _),
    "q_bloom_semi" -> (Relational.urgentLineitemsBloom _),
    "q_zorder" -> (Layout.zorderEvents _),
    "q_bucketed_join" -> (Bucketing.bucketedJoinRevenue _),
    // -- LLM-pipeline: text analysis over documents --
    "q_text_stats" -> ((s, d) => TextAnalysis.textStats(Tables.documents(s, d))),
    "q_quality" -> ((s, d) => TextAnalysis.qualityScore(Tables.documents(s, d))),
    "q_lang_id" -> ((s, d) => TextAnalysis.langId(Tables.documents(s, d))),
    "q_fingerprint" -> ((s, d) => TextAnalysis.fingerprint(Tables.documents(s, d))),
    // -- LLM-pipeline: deduplication --
    "q_dedup_exact" -> ((s, d) => Dedup.exactGroups(Tables.documents(s, d))),
    "q_dedup_normalized" -> ((s, d) => Dedup.normalizedExactDedup(Tables.documents(s, d))),
    "q_minhash_pairs" -> ((s, d) => Dedup.minhashCandidatePairs(Tables.documents(s, d))),
    "q_ngram_jaccard" -> ((s, d) => Dedup.ngramJaccardOnCandidates(Tables.documents(s, d))),
    "q_containment" -> ((s, d) => Dedup.containmentOnCandidates(Tables.documents(s, d))),
    "q_simhash" -> ((s, d) => Dedup.simhash(Tables.documents(s, d))),
    // PRODUCTION banding (16-bit slices + bucket cap): the 8-bit test
    // layout has a 256-value band key space, so bucket occupancy — and the
    // candidate self-join — grows quadratically with corpus size. The sf1
    // scaling run measured exactly that (2.9 s → 159 s at 10×, PLANS.md);
    // with 16-bit bands the same run is linear. The 8-bit recall-oriented
    // layout stays available as a parameter and is pinned by ExtSpec.
    "q_simhash_pairs" -> ((s, d) => Dedup.simhashPairs(Tables.documents(s, d),
      bitsPerBand = Dedup.ProductionSimhashBitsPerBand,
      maxBucketSize = Dedup.ProductionMaxBucketSize)),
    // -- LLM-pipeline: embedding similarity --
    "q_embed_norms" -> ((s, d) => Similarity.withNorms(Tables.embeddings(s, d))
      .select("vec_id", "nrm")),
    "q_ann_topk" -> ((s, d) => Similarity.bruteForceTopK(Tables.embeddings(s, d))),
    "q_embed_neardup" -> ((s, d) => Similarity.bruteForceNearDupPairs(Tables.embeddings(s, d))),
    // PRODUCTION banding (16 planes/band ⇒ 2^16 buckets + occupancy cap):
    // the 4-plane test layout has a 16-value key space per band, so bucket
    // occupancy — and the candidate join — grows quadratically with corpus
    // size (sf1 sweep: 0.68 s → 14.3 s, candidates 735k → 73.6M). Recall
    // narrows to genuinely-close pairs, the documented tradeoff; the
    // brute-force q_embed_neardup stays as the recall ground truth.
    "q_embed_neardup_lsh" -> ((s, d) => Similarity.lshNearDupPairs(
      Tables.embeddings(s, d),
      planesPerBand = Similarity.ProductionPlanesPerBand,
      maxBucketSize = Dedup.ProductionMaxBucketSize)),
    // PRODUCTION banding + occupancy cap, same rationale as
    // q_embed_neardup_lsh above: the 4-plane layout's candidate join is
    // quadratic in corpus size (it failed outright at the 50× sweep)
    "q_embed_components" -> ((s, d) => Similarity.embeddingComponents(Tables.embeddings(s, d),
      planesPerBand = Similarity.ProductionPlanesPerBand,
      maxBucketSize = Dedup.ProductionMaxBucketSize)),
    // -- LLM-pipeline: multimodal metadata (decode itself is stubbed) --
    "q_multimodal_meta" -> ((s, d) => Multimodal.meta(Tables.documents(s, d))),
    "q_multimodal_real_meta" -> ((s, d) =>
      Multimodal.realImageMeta(s, Tables.documents(s, d))),
    "q_multimodal_audio_meta" -> ((s, d) =>
      Multimodal.realAudioMeta(s, Tables.documents(s, d))),
    "q_multimodal_pixels" -> ((s, d) =>
      Multimodal.decodePixels(s, Tables.documents(s, d))),
    // stored-binary twin: media parquet materialized once per corpus
    // snapshot, then decoded from the scanned BINARY column
    "q_multimodal_pixels_stored" -> ((s, d) =>
      Multimodal.decodePixelsStored(s, Tables.documents(s, d),
        cacheDir = Some(sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft-media"),
        datasetTag = Similarity.fileFingerprint(s"$d/documents.parquet"))),
    "q_multimodal_conv" -> ((s, d) =>
      Multimodal.decodeConvFeatures(s, Tables.documents(s, d))),
    "q_frame_sample" -> ((s, d) =>
      Multimodal.frameSample(Multimodal.mediaFromDocuments(Tables.documents(s, d)))),
    // partition-wise decode path (deterministic stub features). The stub's
    // rolling hash is modular (mod 1000003 < 2^31) so DuckDB BIGINT mirrors
    // it exactly; the feature vector is flattened to comma-joined INTEGER
    // hash residues (round(x*1000) recovers the residue exactly) so the
    // oracle never has to match float-to-string formatting.
    "q_multimodal_features" -> ((s, d) =>
      Multimodal.decodeStub(s, Multimodal.mediaFromDocuments(Tables.documents(s, d)))
        .toDF()
        .select(col("doc_id"), col("media_type"), col("n_bytes"),
          concat_ws(",",
            expr("transform(feature, x -> CAST(round(x * 1000) AS INT))"))
            .as("feature_str"))),
    // strided byte-resize stub: digest the resized payload (md5 hex) rather
    // than emitting raw BINARY, so the harness compares strings
    "q_multimodal_resize" -> ((s, d) =>
      Multimodal.resizeStub(Multimodal.mediaFromDocuments(Tables.documents(s, d)))
        .select(col("doc_id"), col("media_type"), col("n_bytes"),
          col("resized_bytes"), md5(col("resized")).as("resized_md5"))),
    // -- LLM-pipeline round 2: vocab, quantiles, dedup-keep, bucketed ANN --
    "q_vocab_topk" -> ((s, d) => TextAnalysis.vocabTopK(Tables.documents(s, d))),
    "q_scrub" -> ((s, d) => TextAnalysis.scrub(Tables.documents(s, d))),
    "q_repetition" -> ((s, d) => TextAnalysis.repetitionRatio(Tables.documents(s, d))),
    "q_split_assign" -> ((s, d) => TextAnalysis.splitAssign(Tables.documents(s, d))),
    "q_priority_sample" -> ((s, d) => TextAnalysis.prioritySample(Tables.documents(s, d))),
    "q_bpe_pairs" -> ((s, d) => TextAnalysis.bpePairs(Tables.documents(s, d))),
    // -- round 6: span-level dedup, collocations, bounded-state sampling --
    "q_dup_spans" -> ((s, d) => Dedup.dupSpanCoverage(Tables.documents(s, d),
      cacheDir = frameCacheDir, datasetTag = docsTag(d))),
    "q_dup_spans_filter" -> ((s, d) => Dedup.dropHighDupSpanDocs(Tables.documents(s, d),
      cacheDir = frameCacheDir, datasetTag = docsTag(d))),
    "q_dup_spans_remove" -> ((s, d) => Dedup.removeDupSpans(Tables.documents(s, d),
      cacheDir = frameCacheDir, datasetTag = docsTag(d))),
    "q_collocations" -> ((s, d) => TextAnalysis.pmiCollocations(Tables.documents(s, d))),
    "q_sample_bottomk" -> ((s, d) => TextAnalysis.bottomKSample(Tables.documents(s, d))),
    "q_chunk" -> ((s, d) => TextAnalysis.chunkDocuments(Tables.documents(s, d))),
    "q_vocab_growth" -> ((s, d) => TextAnalysis.vocabGrowth(Tables.documents(s, d))),
    "q_key_skew" -> ((s, d) => TextAnalysis.keySkewProfile(Tables.events(s, d), "user_id")),
    "q_incremental_rollup" -> (graft.ext.Incremental.eventRollupIncremental _),
    "q_ohlc_resample" -> ((s, d) => MinuteStats.ohlcResample(Tables.events(s, d))),
    "q_sliding_counts" -> ((s, d) => MinuteStats.slidingEventCounts(cs(s, d))),
    "q_length_histogram" -> ((s, d) => TextAnalysis.lengthHistogram(Tables.documents(s, d))),
    "q_doclen_quantiles" -> ((s, d) => TextAnalysis.doclenQuantiles(Tables.documents(s, d))),
    "q_neardup_dedup" -> ((s, d) => Dedup.dropNearDups(Tables.documents(s, d))),
    "q_neardup_keepbest" -> ((s, d) => Dedup.dedupKeepBest(Tables.documents(s, d),
      cacheDir = frameCacheDir, datasetTag = docsTag(d))),
    // snapshot diff demo: "old" dump misses doc_id%7==0, "new" misses %5==0
    // and carries a v2 edit on %11==0 — every status class populated
    "q_corpus_diff" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.corpusDiff(
        docs.filter(col("doc_id") % 7 =!= 0),
        docs.filter(col("doc_id") % 5 =!= 0)
          .withColumn("text", when(col("doc_id") % 11 === 0,
            concat(col("text"), lit(" v2"))).otherwise(col("text"))))
    }),
    "q_neardup_components" -> ((s, d) => Dedup.nearDupComponents(Tables.documents(s, d),
      cacheDir = frameCacheDir, datasetTag = docsTag(d))),
    "q_ann_topk_lsh" -> ((s, d) => Similarity.lshTopK(Tables.embeddings(s, d))),
    "q_ann_topk_ivf" -> ((s, d) => Similarity.ivfTopK(Tables.embeddings(s, d))),
    // -- session_window cross-validation (independent impl vs window-fn oracle) --
    "q_global_sessions" -> ((s, d) =>
      graft.stream.GlobalSessions.sessionWindow(cs(s, d), streaming = false)),
    "q_view_purchase" -> ((s, d) => {
      val c = cs(s, d)
      graft.stream.StreamJob.viewPurchaseAttribution(
        c.filter(col("event") === "view"),
        c.filter(col("event") === "purchase"), streaming = false)
    }),
    // -- LLM-pipeline round 3: ranking stats, CMS sketch, trained IVF --
    "q_tfidf" -> ((s, d) => TextAnalysis.termDocFreq(Tables.documents(s, d))),
    // score rounded to 6dp: the double chain off integer inputs is
    // deterministic but the final ln() may differ from another engine in
    // the last ulp; exact values are pinned by ExtSpec instead
    "q_bm25" -> ((s, d) => TextAnalysis.bm25(Tables.documents(s, d))
      .withColumn("score_r6", round(col("score"), 6)).drop("score")),
    "q_cms_counts" -> ((s, d) => TextAnalysis.cmsTokenCounts(Tables.documents(s, d))),
    // codebook is trained once per (dataset, config) and materialized as a
    // k-row parquet — repeat runs (and the bench) pay search cost only
    "q_ann_topk_ivf_trained" -> ((s, d) => {
      // the k-means two-level fold collapses to the oracle's flat fold bit
      // for bit only while every vec_id fits one 2^16 range shard. Beyond
      // that the ENGINE result is still deterministic and valid — the
      // sharded fold is the intended scale path — but the flat-fold DuckDB
      // oracle can no longer mirror it bit-exact, so warn loudly (the
      // correctness gate only runs at sf0.01, where the folds collapse);
      // a hard failure here wrongly blocked the sf1 scaling bench.
      val emb = Tables.embeddings(s, d)
      val maxRow = emb.agg(org.apache.spark.sql.functions.max(col("vec_id"))).head()
      val maxId = if (maxRow.isNullAt(0)) -1L else maxRow.getLong(0) // null = empty table
      if (maxId >= (1L << 16)) System.err.println(
        s"[graft] q_ann_topk_ivf_trained: max vec_id $maxId >= 2^16 — the " +
          "sharded k-means fold no longer bit-matches the flat DuckDB " +
          "oracle fold; do not hash-compare this result against that oracle")
      // tag = file metadata fingerprint, NOT the bare path: regenerated
      // testdata at the same path must retrain, not reuse a stale codebook
      Similarity.ivfTopKTrained(emb,
        cacheDir = Some(sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft-codebooks"),
        datasetTag = Similarity.fileFingerprint(s"$d/embeddings.parquet"))
    }),
    // product-quantization ANN: the memory tier of the family (m bytes of
    // codes per vector instead of d×4 of floats). Same sharded-fold
    // caveat as q_ann_topk_ivf_trained — the oracle mirror holds while
    // vec_ids fit one 2^16 shard (true at the sf0.01 gate); the per-
    // subspace codebooks memoize under tag-suffixed FrameCache keys
    "q_ann_topk_pq" -> ((s, d) => Similarity.pqTopK(Tables.embeddings(s, d),
      cacheDir = Some(sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft-codebooks"),
      datasetTag = Similarity.fileFingerprint(s"$d/embeddings.parquet"))),
    // the Faiss-shaped composition: IVF probing bounds the scan, the PQ
    // codes compress it, exact rerank finishes — shares BOTH trained
    // codebooks with the component queries via identical cache keys
    "q_ann_topk_ivfpq" -> ((s, d) => Similarity.ivfPqTopK(Tables.embeddings(s, d),
      cacheDir = Some(sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft-codebooks"),
      datasetTag = Similarity.fileFingerprint(s"$d/embeddings.parquet"))),
    "q_stratified_sample" -> ((s, d) => TextAnalysis.stratifiedSample(Tables.documents(s, d))),
    // small budget so sf0.01's short docs still spread over multiple packs
    "q_pack_sequences" -> ((s, d) => TextAnalysis.packSequences(Tables.documents(s, d), 512)),
    "q_corpus_prep" -> ((s, d) => TextAnalysis.corpusPrep(Tables.documents(s, d), 512)),
    "q_embed_quantize" -> ((s, d) => Similarity.quantizeInt8(Tables.embeddings(s, d))),
    // -- LLM-pipeline round 3: decontamination, datamix, manifests, gates --
    "q_decontaminate" -> ((s, d) => TextAnalysis.decontaminate(Tables.documents(s, d))),
    // MinHash-backed fuzzy twin: catches paraphrased eval leakage the
    // exact shingle gate misses (the production Dolma/FineWeb shape).
    // evalMod 31 (the exact twin keeps 97): near-dup pairs are sparse in
    // the synthetic corpus, and no pair crosses the 1/97 split at the
    // sf0.01 gate — the denser 1/31 slice puts a real near-dup on each
    // side so the registered artifact demonstrates the band-sharing path
    // actually firing, not just an all-false rollup
    "q_decontaminate_fuzzy" -> ((s, d) =>
      TextAnalysis.decontaminateFuzzy(Tables.documents(s, d), evalMod = DECON_EVAL_MOD)),
    // the decontamination ACTION: surviving corpus after dropping docs
    // flagged by EITHER gate (exact shingle overlap OR fuzzy MinHash) —
    // same census→action pattern as q_dup_spans_filter / q_perplexity_filter
    "q_decontaminate_drop" -> ((s, d) =>
      TextAnalysis.decontaminateDrop(Tables.documents(s, d), evalMod = DECON_EVAL_MOD)),
    "q_datamix" -> ((s, d) => TextAnalysis.datamixWeights(Tables.documents(s, d))),
    "q_pack_manifest" -> ((s, d) => TextAnalysis.packManifest(Tables.documents(s, d), 512)),
    "q_length_filter" -> ((s, d) => TextAnalysis.lengthBoundsFilter(Tables.documents(s, d))),
    "q_customer_quartiles" -> ((s, d) => Relational.customerQuartiles(s, d)),
    "q_source_reputation" -> ((s, d) => TextAnalysis.sourceReputation(Tables.documents(s, d))),
    // auto-k TRAINED codebook (2 Lloyd passes), memoized per corpus
    // snapshot alongside the IVF codebooks — at the sf0.01 gate auto-k
    // floors to 8 so the cached codebook is the SAME frame
    // q_ann_topk_ivf_trained trains (shared key, bit-identical trainer)
    "q_semantic_dedup" -> ((s, d) => Similarity.semanticDedup(Tables.embeddings(s, d),
      cacheDir = Some(sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft-codebooks"),
      datasetTag = Similarity.fileFingerprint(s"$d/embeddings.parquet"))),
    "q_unigram_logprob" -> ((s, d) => TextAnalysis.unigramLogProb(Tables.documents(s, d))),
    "q_bigram_logprob" -> ((s, d) => TextAnalysis.bigramLogProb(Tables.documents(s, d))),
    "q_trigram_logprob" -> ((s, d) => TextAnalysis.trigramLogProb(Tables.documents(s, d))),
    // the ladder's ACTION: corpus-relative CCNet/Gopher-style quality gate.
    // Slack 0.1 nats: the synthetic corpus scores cluster within ~0.75 nats
    // of the mean, so the production default (1.0) would gate nothing at
    // any SF — 0.1 drops the ~9% low-fit tail at the sf0.01 gate, so the
    // registered artifact demonstrates the action actually firing
    "q_perplexity_filter" -> ((s, d) =>
      TextAnalysis.perplexityFilter(Tables.documents(s, d), slack = 0.1)),
    "q_orders_grouping_sets" -> ((s, d) => Relational.ordersGroupingSets(s, d)),
    "q_customer_standing" -> ((s, d) => Relational.customerBalanceStanding(s, d)),
    // the bounded-state heavy-hitter Aggregator, oracle-gated: capacity
    // (4096) >> corpus vocabulary, so no eviction ever fires and the
    // space-saving result is EXACTLY the groupBy-count top-k the SQL
    // oracle computes (the bounded-memory property itself is pinned by
    // ScaleSpec's eviction tests)
    "q_spacesaving_topk" -> ((s, d) => {
      import s.implicits._
      TextAnalysis.withTokens(Tables.documents(s, d))
        .select(expr("explode(toks)").as("token")).as[String]
        // strict: if a bigger SF ever pushes the vocabulary past capacity,
        // fail with the capacity diagnostic instead of a bare hash mismatch
        .select(new graft.ext.SpaceSavingTopK(10, 4096, strict = true).toColumn.name("topk"))
        .toDF()
        .select(expr("posexplode(topk)"))
        .select((col("pos") + 1).cast("int").as("rank"),
          col("col._1").as("token"), col("col._2").as("cnt"))
    }),
    // the OVER-capacity (approximate) regime of the same aggregator: the
    // raw counts are run-order-dependent there, so the oracle certifies the
    // deterministic CONTRACT instead — every key whose exact count clears
    // 2εN must be reported, with |approx − exact| ≤ εN (ε = 1/capacity).
    // The near-uniform corpus can't produce heavy hitters, so two tokens
    // are deterministically amplified (mirrored in the oracle) to put the
    // stream in the regime the guarantee is ABOUT: 31 distinct keys over
    // capacity 16, two keys above the membership threshold.
    "q_spacesaving_approx" -> ((s, d) => {
      import s.implicits._
      val cap = 16
      val amp = "CASE token WHEN 'join' THEN 201 WHEN 'hash' THEN 51 ELSE 1 END"
      // exact side from the COMPACT vocabulary frame: counting the
      // amplified stream per token equals base_count × amp_factor, so the
      // exact counts and the total need one corpus tokenize pass + a
      // vocabulary-sized aggregate — not their own passes over the
      // 200×-amplified occurrence stream (the r18 before-shape ran the
      // tokenize + double-explode chain three times, once per consumer;
      // an attempt to persist the amplified stream instead measured
      // SLOWER than recompute — fat cache churn for trivially
      // regenerable rows). Only the bounded-state aggregator still
      // consumes the real amplified stream: it is the operator under
      // test, and its input must stay a row stream (array_repeat of a
      // corpus-scale count would be an unbounded in-task array).
      val base = TextAnalysis.withTokens(Tables.documents(s, d))
        .select(expr("explode(toks)").as("token"))
      // persisted: vocabulary-sized (31 rows here), and its two consumers
      // (the total, the output join) would otherwise each re-run the
      // corpus tokenize pass behind it
      val exact = base.groupBy(col("token"))
        .agg(count(lit(1)).as("base_cnt"))
        .select(col("token"), (col("base_cnt") * expr(amp)).as("exact_cnt"))
        .persist()
      val tot = exact.agg(sum(col("exact_cnt")).as("n"))
      val approx = base
        .select(expr(s"explode(array_repeat(token, $amp))").as("token"))
        .as[String]
        .select(new graft.ext.SpaceSavingTopK(cap, cap).toColumn.name("s"))
        .toDF().select(expr("explode(s)").as("kv"))
        .select(col("kv._1").as("token"), col("kv._2").as("approx_cnt"))
      exact.crossJoin(broadcast(tot))
        .filter(col("exact_cnt") * cap > lit(2) * col("n"))
        .join(approx, Seq("token"), "left")
        .select(col("token"), col("exact_cnt"),
          col("approx_cnt").isNotNull.as("reported"),
          (col("approx_cnt").isNotNull &&
            abs(col("approx_cnt") - col("exact_cnt")) * cap <= col("n"))
            .as("within_eps"))
    }),
    // -- path mining over the sessionized stream --
    "q_event_transitions" -> ((s, d) => Paths.eventTransitions(sess(s, d))),
    "q_path_trigrams" -> ((s, d) => Paths.pathTrigrams(sess(s, d))),
    // -- graph centrality over the near-dup candidate graph --
    "q_doc_pagerank" -> ((s, d) => GraphRank.docCentrality(Tables.documents(s, d))),
    // -- sparse term-vector cosine with rare-shingle blocking --
    "q_sparse_cosine" -> ((s, d) => SparseSim.cosinePairs(Tables.documents(s, d))),
    // -- monitoring / recsys / funnel-timing extensions --
    "q_minute_anomaly" -> ((s, d) => MinuteStats.minuteAnomaly(cs(s, d))),
    "q_item_cooccurrence" -> ((s, d) => Cooccur.itemCooccurrence(Tables.events(s, d))),
    "q_conversion_latency" -> ((s, d) => Funnel.conversionLatency(cs(s, d))),
    "q_doc_triangles" -> ((s, d) => GraphRank.docTriangles(Tables.documents(s, d))),
    "q_rfm" -> (Relational.rfmScores _),
    "q_rfm_bucketed" -> (Relational.rfmScoresBucketed _),
    "q_revenue_concentration_bucketed" -> ((s, d) =>
      Relational.revenueConcentrationBucketed(s, d)),
    "q_ab_test" -> ((s, d) => Relational.abTestEngagement(cs(s, d))),
    "q_ewma_minute" -> ((s, d) => MinuteStats.ewmaMinuteCounts(cs(s, d))),
    "q_window_funnel" -> ((s, d) => Funnel.windowFunnel(cs(s, d))),
    "q_sorted_neighborhood" -> ((s, d) => Dedup.sortedNeighborhoodPairs(Tables.documents(s, d))),
    "q_revenue_concentration" -> (Relational.revenueConcentration _),
    "q_funnel_dropoff" -> ((s, d) => Funnel.funnelDropoff(cs(s, d), windowSeconds = 86400)),
    "q_profile_events" -> ((s, d) => Relational.profileEvents(s, d)),
    "q_prefix_jaccard" -> ((s, d) => SparseSim.prefixJaccardPairs(Tables.documents(s, d))),
    "q_local_supplier_volume" -> ((s, d) => Relational.localSupplierVolume(s, d)),
    "q_rolling_revenue" -> ((s, d) => Relational.rollingRevenue7d(s, d)),
    "q_new_vs_returning" -> ((s, d) => Cohorts.newVsReturning(cs(s, d))),
    // carried-sort trainer: one corpus shuffle+sort for the whole run
    // instead of per round; merge table identical to the windows spec
    // form (PathMiningSpec asserts equality, oracle mirrors the shared
    // run-parity semantics)
    "q_bpe_train" -> ((s, d) => TextAnalysis.bpeTrainMergesCarried(Tables.documents(s, d))),
    // decoupled tokenizer-apply: train 3 merges, then re-encode the
    // corpus with them through the shuffle-free per-row apply path and
    // report the encoded token distribution
    "q_bpe_encode" -> ((s, d) => TextAnalysis.bpeEncode(Tables.documents(s, d))),
    "q_gap_histogram" -> ((s, d) => Sessionize.gapHistogram(sess(s, d))),
    "q_component_sizes" -> ((s, d) => {
      import org.apache.spark.sql.functions.{count, lit}
      Dedup.nearDupComponents(Tables.documents(s, d),
          cacheDir = frameCacheDir, datasetTag = docsTag(d))
        .groupBy(col("component")).agg(count(lit(1)).as("component_size"))
        .groupBy(col("component_size")).agg(count(lit(1)).as("n_components"))
    }),
  )

  // ---------------------------------------------------------------------------
  // DuckDB oracle SQL. Shared CTE prelude mirrors Tables.clickstream /
  // Sessionize exactly (incl. the deterministic itemid tiebreak and
  // floor-seconds gap arithmetic: epoch_us//1_000_000 == Spark unix_timestamp).
  // ---------------------------------------------------------------------------

  private val CS =
    """WITH cs AS (
      |  SELECT CAST(user_id AS VARCHAR) AS visitorid, ts AS event_time,
      |         event_type AS event, CAST(event_id AS VARCHAR) AS itemid
      |  FROM events
      |)""".stripMargin

  private val SESS = CS +
    """, lagd AS (
      |  SELECT *, lag(event_time) OVER (PARTITION BY visitorid ORDER BY event_time, itemid) AS prev_event_time FROM cs
      |), gapd AS (
      |  SELECT *, epoch_us(event_time)//1000000 - epoch_us(prev_event_time)//1000000 AS diff_seconds FROM lagd
      |), flagd AS (
      |  SELECT *, CASE WHEN prev_event_time IS NULL THEN 1 WHEN diff_seconds > 1800 THEN 1 ELSE 0 END AS is_new_session FROM gapd
      |), sess AS (
      |  SELECT *, CAST(sum(is_new_session) OVER (PARTITION BY visitorid ORDER BY event_time, itemid ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_number FROM flagd
      |), sid AS (
      |  SELECT *, concat(visitorid, '_', session_number) AS session_id FROM sess
      |)""".stripMargin

  /** Portable 32-bit hash in DuckDB syntax (== TextAnalysis.hash32). */
  private def h32(e: String): String = s"('0x'||substr(md5($e),1,8))::BIGINT"

  /** 60-bit portable hash (== TextAnalysis.hash60Sql) — for hard
    * membership keys where 32 bits would saturate at corpus scale. */
  private def h60(e: String): String = s"('0x'||substr(md5($e),1,15))::BIGINT"

  /** documents + lower-cased whitespace tokens (== TextAnalysis.withTokens). */
  private val TOK =
    """WITH tok AS (
      |  SELECT doc_id, lang, text,
      |    regexp_split_to_array(trim(lower(text)), '\s+') AS toks
      |  FROM documents
      |)""".stripMargin

  /** Duplicated-span coverage chain (== Dedup.dupSpanCoverage): 5-gram
    * occurrences as 60-bit hashes, cross-doc census, interval-union
    * window, per-doc covered sums in `pd` — shared by q_dup_spans and its
    * filter action. (Declared AFTER the strict TOK it splices in —
    * initialization order, not alphabetical taste.) */
  private val DUPSPAN = TOK +
    s""", occ0 AS (
      |  SELECT doc_id, toks, unnest(range(len(toks)-4)) AS s
      |  FROM tok WHERE len(toks) >= 5
      |), occ AS (
      |  SELECT doc_id, CAST(s AS BIGINT) AS s,
      |    ${h60("array_to_string(toks[s+1:s+5], ' ')")} AS gh
      |  FROM occ0
      |), dup AS (
      |  SELECT gh FROM (SELECT gh, count(DISTINCT doc_id) AS nd FROM occ GROUP BY gh)
      |  WHERE nd >= 2
      |), hit AS (
      |  SELECT doc_id, s FROM occ WHERE gh IN (SELECT gh FROM dup)
      |), cov AS (
      |  SELECT doc_id, greatest(0, (s+4) - greatest(s-1,
      |    coalesce(max(s+4) OVER (PARTITION BY doc_id ORDER BY s
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1))) AS new_cov
      |  FROM hit
      |), pd AS (SELECT doc_id, sum(new_cov) AS covered FROM cov GROUP BY doc_id)
      |""".stripMargin

  /** + distinct word-3-gram shingles (== TextAnalysis.withShingles). */
  private val SH = TOK +
    """, sh AS (
      |  SELECT doc_id, text, toks,
      |    CASE WHEN len(toks) < 3 THEN []
      |         ELSE list_distinct(list_transform(range(len(toks)-2),
      |                i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) END AS shingles
      |  FROM tok
      |)""".stripMargin

  /** Closed-form pixel-statistics oracle shared by q_multimodal_pixels
    * (generator-backed decode) and q_multimodal_pixels_stored (parquet
    * binary-column decode): pattern value (x+y) mod 256 over the
    * assetDims grid. */
  private val PixelsOracleSql: String =
    """WITH dims AS (
      |  SELECT doc_id, CAST(doc_id % 64 + 1 AS INTEGER) AS width,
      |    CAST(n_chars % 48 + 1 AS INTEGER) AS height
      |  FROM documents
      |), px AS (
      |  SELECT doc_id, width, height,
      |    unnest(flatten(list_transform(range(height), y ->
      |      list_transform(range(width), x -> (x + y) % 256)))) AS v
      |  FROM dims
      |) SELECT doc_id, width, height,
      |  CAST(sum(v) AS BIGINT) AS pixel_sum,
      |  CAST(sum(v) AS DOUBLE) / CAST(width * CAST(height AS BIGINT) AS DOUBLE) AS pixel_mean
      |FROM px GROUP BY doc_id, width, height""".stripMargin

  /** Rank-based seed codebook CTE (== `Similarity.initCentroids`): the k
    * SMALLEST vec_ids, not `vec_id < k` — robust to offset/sparse id
    * spaces (ScaleUp replicas start at r·10M), identical rows on the
    * dense 0-based test ids. `kExpr` is any SQL expression for k (a
    * literal or a scalar subquery). */
  private def seedCentsSql(out: String, kExpr: String, base: String = "e",
                           mat: Boolean = false): String =
    s""", $out AS ${if (mat) "MATERIALIZED " else ""}(
       |  SELECT cent_id, cent_emb, cent_nrm FROM (
       |    SELECT vec_id AS cent_id, embedding AS cent_emb, nrm AS cent_nrm,
       |      row_number() OVER (ORDER BY vec_id) AS _rk FROM $base)
       |  WHERE _rk <= ($kExpr)
       |)""".stripMargin

  /** One Lloyd-iteration CTE block for the q_ann_topk_ivf_trained oracle:
    * assign every vector to its nearest `prev` centroid (cosine desc,
    * cent_id tiebreak), fold per-dimension means as sequential doubles in
    * vec_id order, round to float, and keep the previous centroid for
    * clusters that lost every member — the exact mirror of ONE pass of
    * `Similarity.kmeansFromBase`'s loop. Emitted per iteration so the
    * iterations are structurally identical by construction. */
  private def lloydIterSql(i: Int, prev: String, out: String,
                           base: String = "e", sfx: String = "",
                           mat: Boolean = false): String =
    s""", ar$sfx$i AS (
       |  SELECT e.vec_id, c.cent_id,
       |    CAST(row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |      list_sum(list_transform(range(len(e.embedding)), i ->
       |        CAST(e.embedding[i+1] AS DOUBLE) * CAST(c.cent_emb[i+1] AS DOUBLE))) / (e.nrm * c.cent_nrm) DESC,
       |      c.cent_id ASC) AS INTEGER) AS arank
       |  FROM $base e, $prev c
       |), asg$sfx$i AS (
       |  SELECT vec_id, cent_id AS cluster FROM ar$sfx$i WHERE arank = 1
       |), contrib$sfx$i AS (
       |  SELECT a.cluster, e.vec_id,
       |    generate_subscripts(e.embedding, 1) AS pos, unnest(e.embedding) AS x
       |  FROM asg$sfx$i a JOIN $base e ON a.vec_id = e.vec_id
       |), dimsum$sfx$i AS (
       |  SELECT cluster, pos,
       |    list_sum(array_agg(CAST(x AS DOUBLE) ORDER BY vec_id)) AS sm,
       |    count(*) AS cnt
       |  FROM contrib$sfx$i GROUP BY cluster, pos
       |), means$sfx${i + 1} AS (
       |  SELECT cluster AS cent_id,
       |    array_agg(CAST(sm / cnt AS FLOAT) ORDER BY pos) AS new_emb
       |  FROM dimsum$sfx$i GROUP BY cluster
       |), $out AS ${if (mat) "MATERIALIZED " else ""}(
       |  SELECT p.cent_id, COALESCE(m.new_emb, p.cent_emb) AS cent_emb,
       |    sqrt(list_sum(list_transform(COALESCE(m.new_emb, p.cent_emb),
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS cent_nrm
       |  FROM $prev p LEFT JOIN means$sfx${i + 1} m ON p.cent_id = m.cent_id
       |)""".stripMargin

  /** q_ann_topk_pq oracle (m=8 subspaces, ksub=8, 2 Lloyd iterations,
    * 10 queries, top-5): per subspace — slice, norm, seed, 2 Lloyd
    * passes (the SAME generated blocks as the trained-IVF oracle, run on
    * sub-vectors), encode (arank=1, the nearestCentroidCol parity), and
    * the query ADC table — then a fixed left-assoc 8-term sum mirrors
    * `Similarity.pqTopK`'s expression shape bit for bit. Every multi-
    * referenced CTE is MATERIALIZED: DuckDB otherwise RE-INLINES each
    * reference, and the Lloyd chain references its predecessor twice per
    * pass — the un-hinted form re-expanded the whole training tree per
    * consumer and ran 229 s at sf0.01; materialized it runs 0.7 s
    * (results bit-identical — the hint only pins evaluate-once). */
  /** The per-subspace training/encode/table blocks shared by the PQ and
    * IVF-PQ oracles: slice, norm, seed, 2 Lloyd passes, encode, ADC
    * table — all MATERIALIZED. */
  private def pqSubspaceSql(m: Int, ksub: Int, nq: Int): String =
    (0 until m).map { mi =>
      s""", n$mi AS MATERIALIZED (
         |  SELECT vec_id, embedding,
         |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
         |  FROM (
         |    SELECT vec_id,
         |      list_slice(embedding, $mi * (len(embedding) // $m) + 1, ${mi + 1} * (len(embedding) // $m)) AS embedding
         |    FROM e)
         |)""".stripMargin +
        seedCentsSql(s"cb${mi}s", ksub.toString, base = s"n$mi", mat = true) +
        lloydIterSql(0, prev = s"cb${mi}s", out = s"cb${mi}a", base = s"n$mi",
          sfx = s"m$mi", mat = true) +
        lloydIterSql(1, prev = s"cb${mi}a", out = s"cb$mi", base = s"n$mi",
          sfx = s"m$mi", mat = true) +
        s""", enc$mi AS MATERIALIZED (
           |  SELECT vec_id, cent_id AS code$mi FROM (
           |    SELECT n.vec_id, c.cent_id,
           |      CAST(row_number() OVER (PARTITION BY n.vec_id ORDER BY
           |        list_sum(list_transform(range(len(n.embedding)), i ->
           |          CAST(n.embedding[i+1] AS DOUBLE) * CAST(c.cent_emb[i+1] AS DOUBLE))) / (n.nrm * c.cent_nrm) DESC,
           |        c.cent_id ASC) AS INTEGER) AS arank
           |    FROM n$mi n, cb$mi c)
           |  WHERE arank = 1
           |), tab$mi AS MATERIALIZED (
           |  SELECT n.vec_id AS q_id, c.cent_id AS code$mi,
           |    list_sum(list_transform(range(len(n.embedding)), i ->
           |      CAST(n.embedding[i+1] AS DOUBLE) * CAST(c.cent_emb[i+1] AS DOUBLE))) AS t$mi,
           |    c.cent_nrm * c.cent_nrm AS cn2$mi
           |  FROM n$mi n, cb$mi c WHERE n.vec_id < $nq
           |)""".stripMargin
    }.mkString

  /** The shortlist-rerank tail shared by the PQ and IVF-PQ oracles. */
  private def pqRerankTailSql(rerankN: Int, k: Int): String =
    s""", short AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adc DESC, c_id ASC) AS arank
       |    FROM sc)
       |  WHERE arank <= $rerankN
       |), ex AS (
       |  SELECT short.q_id, short.c_id,
       |    list_sum(list_transform(range(len(q.embedding)), i ->
       |      CAST(q.embedding[i+1] AS DOUBLE) * CAST(c.embedding[i+1] AS DOUBLE))) / (q.nrm * c.nrm) AS cosine
       |  FROM short JOIN e q ON short.q_id = q.vec_id JOIN e c ON short.c_id = c.vec_id
       |), rk AS (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id ASC) AS INTEGER) AS rank
       |  FROM ex
       |) SELECT q_id, c_id, cosine, rank FROM rk WHERE rank <= $k""".stripMargin

  private def pqSql: String = {
    val m = 8; val ksub = 8; val nq = 10; val k = 5; val rerank = 8
    val per = pqSubspaceSql(m, ksub, nq)
    val encJoins = (1 until m).map(mi => s"JOIN enc$mi USING (vec_id)").mkString(" ")
    val xCols = (0 until m).map(mi => s"code$mi").mkString(", ")
    val tSum = (1 until m).foldLeft("t0.t0")((acc, mi) => s"($acc + t$mi.t$mi)")
    val cnSum = (1 until m).foldLeft("t0.cn20")((acc, mi) => s"($acc + t$mi.cn2$mi)")
    val tabJoins = (1 until m).map(mi =>
      s"JOIN tab$mi t$mi ON t$mi.q_id = t0.q_id AND t$mi.code$mi = x.code$mi").mkString("\n  ")
    EMB + per +
      s""", x AS MATERIALIZED (
         |  SELECT vec_id, $xCols FROM enc0 $encJoins
         |), qn AS MATERIALIZED (SELECT vec_id AS q_id, nrm AS q_nrm FROM e WHERE vec_id < $nq),
         |sc AS (
         |  SELECT t0.q_id, x.vec_id AS c_id,
         |    $tSum / (qn.q_nrm * sqrt($cnSum)) AS adc
         |  FROM x
         |  JOIN tab0 t0 ON t0.code0 = x.code0
         |  $tabJoins
         |  JOIN qn ON qn.q_id = t0.q_id
         |  WHERE x.vec_id <> t0.q_id
         |)""".stripMargin + pqRerankTailSql(rerank * k, k)
  }

  /** q_ann_topk_ivfpq oracle: the coarse IVF codebook blocks (same
    * generated Lloyd SQL as q_ann_topk_ivf_trained, suffixed `c`) bound
    * the candidate set to each query's nprobe nearest inverted lists;
    * the PQ subspace blocks (shared with q_ann_topk_pq) score those
    * candidates by ADC; the shared shortlist-rerank tail finishes with
    * exact cosines. Mirrors `Similarity.ivfPqTopK` shape for shape. */
  private def ivfPqSql: String = {
    val m = 8; val ksub = 8; val nq = 10; val k = 5; val rerank = 8
    val numCentroids = 8; val nprobe = 2
    val coarse =
      seedCentsSql("ccbs", numCentroids.toString, mat = true) +
        lloydIterSql(0, prev = "ccbs", out = "ccba", sfx = "c", mat = true) +
        lloydIterSql(1, prev = "ccba", out = "ccb", sfx = "c", mat = true) +
        s""", car AS MATERIALIZED (
           |  SELECT e.vec_id, c.cent_id,
           |    CAST(row_number() OVER (PARTITION BY e.vec_id ORDER BY
           |      list_sum(list_transform(range(len(e.embedding)), i ->
           |        CAST(e.embedding[i+1] AS DOUBLE) * CAST(c.cent_emb[i+1] AS DOUBLE))) / (e.nrm * c.cent_nrm) DESC,
           |      c.cent_id ASC) AS INTEGER) AS arank
           |  FROM e, ccb c
           |), cassign AS MATERIALIZED (
           |  SELECT vec_id, cent_id AS cluster FROM car WHERE arank = 1
           |), cprobes AS MATERIALIZED (
           |  SELECT vec_id AS q_id, cent_id AS cluster FROM car
           |  WHERE arank <= $nprobe AND vec_id < $nq
           |)""".stripMargin
    val per = pqSubspaceSql(m, ksub, nq)
    val encJoins = (1 until m).map(mi => s"JOIN enc$mi USING (vec_id)").mkString(" ")
    val xCols = (0 until m).map(mi => s"code$mi").mkString(", ")
    val tSum = (1 until m).foldLeft("t0.t0")((acc, mi) => s"($acc + t$mi.t$mi)")
    val cnSum = (1 until m).foldLeft("t0.cn20")((acc, mi) => s"($acc + t$mi.cn2$mi)")
    val tabJoins = (0 until m).map(mi =>
      s"JOIN tab$mi t$mi ON t$mi.q_id = p.q_id AND t$mi.code$mi = x.code$mi").mkString("\n  ")
    EMB + coarse + per +
      s""", x AS MATERIALIZED (
         |  SELECT vec_id, cluster, $xCols
         |  FROM enc0 $encJoins JOIN cassign USING (vec_id)
         |), qn AS MATERIALIZED (SELECT vec_id AS q_id, nrm AS q_nrm FROM e WHERE vec_id < $nq),
         |sc AS (
         |  SELECT p.q_id, x.vec_id AS c_id,
         |    $tSum / (qn.q_nrm * sqrt($cnSum)) AS adc
         |  FROM x
         |  JOIN cprobes p ON p.cluster = x.cluster
         |  $tabJoins
         |  JOIN qn ON qn.q_id = p.q_id
         |  WHERE x.vec_id <> p.q_id
         |)""".stripMargin + pqRerankTailSql(rerank * k, k)
  }

  /** Shared eval-split modulus for the fuzzy-decontamination pair
    * (q_decontaminate_fuzzy / q_decontaminate_drop): the Spark
    * registrations pass it as `evalMod` and the oracle SQL interpolates
    * the SAME constant, so neither side can drift silently. 31, not the
    * exact twin's 97: near-dup pairs are sparse in the synthetic corpus,
    * and the denser 1/31 slice puts a real near-dup on each side of the
    * split so the registered artifacts demonstrate the band-sharing path
    * actually firing. */
  private val DECON_EVAL_MOD = 31

  private val MINHASH_PAIRS = SH +
    s""", sg AS (
      |  SELECT doc_id, shingles,
      |    list_transform(range(16), j ->
      |      list_aggregate(list_transform(shingles, s ->
      |        ((2*j+1) * ${h32("s")} + (104729*j+12345)) % 4294967311), 'min')) AS sig
      |  FROM sh WHERE len(shingles) > 0
      |), bd AS (
      |  SELECT doc_id, b, array_to_string(list_slice(sig, b*4+1, b*4+4), ',') AS band_key
      |  FROM sg, (SELECT unnest(range(4)) AS b) bs
      |), pr AS (
      |  SELECT DISTINCT a.doc_id AS doc1, c.doc_id AS doc2
      |  FROM bd a JOIN bd c ON a.b = c.b AND a.band_key = c.band_key AND a.doc_id < c.doc_id
      |)""".stripMargin

  /** 32-bit simhash over the token multiset (== Dedup.simhash). */
  private val SIMHASH = TOK +
    s""", sim AS (
      |  SELECT doc_id,
      |    CAST(list_sum(list_transform(range(32), k ->
      |      CASE WHEN CAST(list_sum(list_transform(toks, t ->
      |             CASE WHEN ((${h32("t")} >> CAST(k AS INTEGER)) & 1) = 1 THEN 1 ELSE -1 END)) AS BIGINT) >= 0
      |           THEN (CAST(1 AS BIGINT) << CAST(k AS INTEGER)) ELSE 0 END)) AS BIGINT) AS simhash
      |  FROM tok WHERE len(toks) > 0
      |)""".stripMargin

  /** embeddings + L2 norms (== Similarity.withNorms — sequential fold). */
  private val EMB =
    """WITH e AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      |  FROM embeddings
      |)""".stripMargin

  /** sign-LSH band keys from LCG hyperplanes (== Similarity.withLshBands).
    * DuckDB list_transform's (x, i) index is 1-based — hence (i-1). */
  private val LSH_SIG =
    """, sig AS (
      |  SELECT vec_id, embedding, nrm,
      |    list_transform(range(4), b ->
      |      CAST(list_sum(list_transform(range(4), p ->
      |        CASE WHEN list_sum(list_transform(embedding, (x, i) ->
      |               CAST(x AS DOUBLE) * CASE WHEN (1103515245::BIGINT * ((b*4+p)*64 + (i-1)) + 12345) % 2147483648 < 1073741824
      |                                        THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END)) >= 0
      |             THEN (1 << CAST(p AS INTEGER)) ELSE 0 END)) AS BIGINT)) AS bands
      |  FROM e
      |)""".stripMargin

  /** Production sign-LSH layout (4 bands × 16 planes ⇒ 2^16 buckets per
    * band) — mirrors `Similarity.ProductionPlanesPerBand`. Plane j's sign
    * at dim i comes from the same LCG as [[LSH_SIG]] with the global plane
    * index j = b·16 + p. Over-cap buckets are dropped (the cap cannot
    * trigger at oracle SF; mirrored for semantic faithfulness). */
  private val LSH_SIG_P16 =
    """, sig AS (
      |  SELECT vec_id, embedding, nrm,
      |    list_transform(range(4), b ->
      |      CAST(list_sum(list_transform(range(16), p ->
      |        CASE WHEN list_sum(list_transform(embedding, (x, i) ->
      |               CAST(x AS DOUBLE) * CASE WHEN (1103515245::BIGINT * ((b*16+p)*64 + (i-1)) + 12345) % 2147483648 < 1073741824
      |                                        THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END)) >= 0
      |             THEN (1 << CAST(p AS INTEGER)) ELSE 0 END)) AS BIGINT)) AS bands
      |  FROM e
      |)""".stripMargin

  /** Trigram LM score chain ending in `sc(doc_id, n_trigrams, avg_logprob)`
    * (== TextAnalysis.trigramLogProb) — shared by q_trigram_logprob and its
    * filter action q_perplexity_filter. Three-way Jelinek-Mercer
    * (6/10, 3/10, 1/10); the four-count DOUBLE products exceed 2^53 but
    * IEEE multiply is correctly rounded, so the identical left-assoc
    * operand order gives bit-identical bits in both engines; history c12 /
    * backoff c23 come from the adjacent-PAIR stream (marginalizing
    * trigrams would undercount doc-final pairs). */
  private val TRIGRAM_SC = TOK +
    """, bd AS (SELECT doc_id, toks FROM tok WHERE len(toks) >= 2),
      |bgu AS (
      |  SELECT unnest(list_transform(range(1, len(toks)),
      |    i -> {'w1': toks[i], 'w2': toks[i+1]})) AS b
      |  FROM bd
      |), big AS (
      |  SELECT b.w1 AS w1, b.w2 AS w2, CAST(count(*) AS BIGINT) AS cb
      |  FROM bgu GROUP BY 1, 2
      |), td AS (SELECT doc_id, toks FROM tok WHERE len(toks) >= 3),
      |tgu AS (
      |  SELECT doc_id, unnest(list_transform(range(2, len(toks)),
      |    i -> {'w1': toks[i-1], 'w2': toks[i], 'w3': toks[i+1]})) AS t
      |  FROM td
      |), tf AS (
      |  SELECT doc_id, t.w1 AS w1, t.w2 AS w2, t.w3 AS w3, count(*) AS tf
      |  FROM tgu GROUP BY 1, 2, 3, 4
      |), c123 AS (
      |  SELECT w1, w2, w3, CAST(sum(tf) AS BIGINT) AS c123 FROM tf GROUP BY 1, 2, 3
      |), uni AS (
      |  SELECT u.token, CAST(count(*) AS BIGINT) AS c
      |  FROM (SELECT unnest(toks) AS token FROM tok) u GROUP BY 1
      |), tt AS (SELECT CAST(sum(c) AS BIGINT) AS tot FROM uni),
      |d AS (
      |  SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_trigrams,
      |    sum(CAST(tf.tf AS DECIMAL(12,0)) * (
      |      CAST(ln(6.0 * CAST(c123.c123 AS DOUBLE) * CAST(u2.c AS DOUBLE) * CAST(tt.tot AS DOUBLE)
      |             + 3.0 * CAST(b23.cb AS DOUBLE) * CAST(b12.cb AS DOUBLE) * CAST(tt.tot AS DOUBLE)
      |             + CAST(u3.c AS DOUBLE) * CAST(b12.cb AS DOUBLE) * CAST(u2.c AS DOUBLE)) AS DECIMAL(16,12)) -
      |      CAST(ln(10.0 * CAST(b12.cb AS DOUBLE) * CAST(u2.c AS DOUBLE) * CAST(tt.tot AS DOUBLE)) AS DECIMAL(16,12)))) AS s
      |  FROM tf
      |  JOIN c123 USING (w1, w2, w3)
      |  JOIN big b12 ON b12.w1 = tf.w1 AND b12.w2 = tf.w2
      |  JOIN big b23 ON b23.w1 = tf.w2 AND b23.w2 = tf.w3
      |  JOIN uni u2 ON u2.token = tf.w2
      |  JOIN uni u3 ON u3.token = tf.w3, tt
      |  GROUP BY tf.doc_id
      |), sc AS (
      |  SELECT doc_id, n_trigrams,
      |    round(CAST(s AS DOUBLE) / n_trigrams, 6) AS avg_logprob FROM d
      |)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q_clean_enrich" -> (CS +
      """ SELECT visitorid, event_time, event, itemid,
        |   CASE WHEN event = 'view' THEN 'Low Value' ELSE 'High Value' END AS event_category,
        |   strftime(event_time, '%Y-%m-%d %H:%M:%S') AS timestamp_str,
        |   epoch_ms(event_time) AS unix_ms
        | FROM cs""".stripMargin),
    "q_sessionize" -> (SESS +
      """ SELECT visitorid, event_time, event, itemid, prev_event_time,
        |   diff_seconds, is_new_session, session_number, session_id FROM sid""".stripMargin),
    "q_sessions" -> (SESS +
      """ SELECT session_id, visitorid,
        |   min(event_time) AS session_start, max(event_time) AS session_end,
        |   count(*) AS events_in_session,
        |   epoch_us(max(event_time))//1000000 - epoch_us(min(event_time))//1000000 AS session_length
        | FROM sid GROUP BY session_id, visitorid""".stripMargin),
    // typed flatMapGroups implementation — same oracle as q_sessions
    "q_sessions_typed" -> (SESS +
      """ SELECT session_id, visitorid,
        |   min(event_time) AS session_start, max(event_time) AS session_end,
        |   count(*) AS events_in_session,
        |   epoch_us(max(event_time))//1000000 - epoch_us(min(event_time))//1000000 AS session_length
        | FROM sid GROUP BY session_id, visitorid""".stripMargin),
    "q_user_paths" -> (SESS +
      """ SELECT visitorid, session_id,
        |   array_to_string(array_agg(event ORDER BY event_time, event), '>') AS user_path
        | FROM sid GROUP BY visitorid, session_id""".stripMargin),
    "q_funnel" -> (SESS +
      """, se AS (
        |  SELECT visitorid, session_id, array_agg(event) AS events
        |  FROM sid GROUP BY visitorid, session_id
        |) SELECT
        |   CAST(sum(CASE WHEN list_contains(events, 'view') THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
        |   CAST(sum(CASE WHEN list_contains(events, 'click') THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
        |   CAST(sum(CASE WHEN list_contains(events, 'purchase') THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase
        | FROM se""".stripMargin),
    "q_funnel_ordered" -> (SESS +
      """, paths AS (
        |  SELECT visitorid, session_id,
        |    array_agg(event ORDER BY event_time, event) AS user_path
        |  FROM sid GROUP BY visitorid, session_id
        |), pos AS (
        |  SELECT
        |    coalesce(list_position(user_path, 'view'), 0) AS p0,
        |    coalesce(list_position(user_path, 'click'), 0) AS p1,
        |    coalesce(list_position(user_path, 'purchase'), 0) AS p2
        |  FROM paths
        |), fl AS (
        |  SELECT CASE WHEN p0 > 0 THEN 1 ELSE 0 END AS f0,
        |    CASE WHEN p0 > 0 AND p1 > p0 THEN 1 ELSE 0 END AS f1,
        |    CASE WHEN p0 > 0 AND p1 > p0 AND p2 > p1 THEN 1 ELSE 0 END AS f2
        |  FROM pos
        |) SELECT CAST(sum(f0) AS BIGINT) AS n_view,
        |    CAST(sum(f1) AS BIGINT) AS n_click,
        |    CAST(sum(f2) AS BIGINT) AS n_purchase
        |FROM fl""".stripMargin),
    "q_events_per_minute" -> (CS +
      """ SELECT date_trunc('minute', event_time) AS minute, count(*) AS events_count
        | FROM cs GROUP BY 1""".stripMargin),
    "q_active_users" -> (CS +
      """ SELECT date_trunc('minute', event_time) AS minute,
        |   count(DISTINCT visitorid) AS active_users
        | FROM cs GROUP BY 1""".stripMargin),
    "q_event_type_distribution" -> (CS +
      """ SELECT date_trunc('minute', event_time) AS minute, event,
        |   count(*) AS event_count
        | FROM cs GROUP BY 1, 2""".stripMargin),
    "q_bounce_rate" -> (CS +
      """, per_user AS (
        |  SELECT date_trunc('minute', event_time) AS minute, visitorid, count(*) AS events
        |  FROM cs GROUP BY 1, 2
        |) SELECT minute,
        |   CAST(sum(CASE WHEN events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS bounces,
        |   count(*) AS total_users,
        |   CAST(sum(CASE WHEN events = 1 THEN 1 ELSE 0 END) AS BIGINT) / count(*) AS bounce_rate
        | FROM per_user GROUP BY minute""".stripMargin),
    "q_cohort_retention" -> (CS +
      """, fs AS (
        |  SELECT visitorid, CAST(date_trunc('day', min(event_time)) AS DATE) AS cohort_day
        |  FROM cs GROUP BY visitorid
        |), act AS (
        |  SELECT DISTINCT visitorid, CAST(date_trunc('day', event_time) AS DATE) AS activity_day
        |  FROM cs
        |) SELECT f.cohort_day, a.activity_day,
        |   count(DISTINCT a.visitorid) AS n_active,
        |   CAST(date_diff('day', f.cohort_day, a.activity_day) AS INTEGER) AS day_offset
        | FROM act a JOIN fs f ON a.visitorid = f.visitorid
        | GROUP BY f.cohort_day, a.activity_day""".stripMargin),
    "q_top_items" -> (CS +
      """ SELECT date_trunc('minute', event_time) AS minute, itemid,
        |   count(*) AS interactions
        | FROM cs GROUP BY 1, 2""".stripMargin),
    "q_top_items_ranked" -> (CS +
      """, agg AS (
        |  SELECT date_trunc('minute', event_time) AS minute, itemid, count(*) AS interactions
        |  FROM cs GROUP BY 1, 2
        |), ranked AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY minute ORDER BY interactions DESC, itemid ASC) AS INTEGER) AS rank
        |  FROM agg
        |) SELECT minute, itemid, interactions, rank FROM ranked WHERE rank <= 5""".stripMargin),
    // map-side-combinable Aggregator form — same oracle as the window
    // form by construction (identical total order)
    "q_top_items_agg" -> (CS +
      """, agg AS (
        |  SELECT date_trunc('minute', event_time) AS minute, itemid, count(*) AS interactions
        |  FROM cs GROUP BY 1, 2
        |), ranked AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY minute ORDER BY interactions DESC, itemid ASC) AS INTEGER) AS rank
        |  FROM agg
        |) SELECT minute, itemid, interactions, rank FROM ranked WHERE rank <= 5""".stripMargin),
    "q_item_interactions" -> (CS +
      """ SELECT itemid, count(*) AS interaction_count FROM cs GROUP BY itemid""".stripMargin),
    // salted two-phase aggregation must produce the identical result
    "q_item_interactions_salted" -> (CS +
      """ SELECT itemid, count(*) AS interaction_count FROM cs GROUP BY itemid""".stripMargin),
    "q_most_viewed_items" -> (CS +
      """ SELECT itemid, count(*) AS view_count FROM cs WHERE event = 'view' GROUP BY itemid""".stripMargin),
    "q_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q_revenue_by_segment" ->
      """SELECT c_mktsegment,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  count(*) AS n_lineitems
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,
    "q_orders_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""".stripMargin,
    "q_top_customers_per_segment" ->
      """WITH pc AS (
        |  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS drev
        |  FROM orders GROUP BY o_custkey
        |), ranked AS (
        |  SELECT c_mktsegment, c_custkey, drev,
        |    CAST(row_number() OVER (PARTITION BY c_mktsegment ORDER BY drev DESC, c_custkey ASC) AS INTEGER) AS rank
        |  FROM pc JOIN customer ON o_custkey = c_custkey
        |) SELECT c_mktsegment, c_custkey, CAST(drev AS DOUBLE) AS revenue, rank
        |FROM ranked WHERE rank <= 3""".stripMargin,
    "q_order_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
        |GROUP BY o_orderpriority""".stripMargin,
    "q_customers_without_orders" ->
      """SELECT c_mktsegment, count(*) AS n_customers FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |GROUP BY c_mktsegment""".stripMargin,
    "q_customers_per_region" ->
      """SELECT r_name, n_name, count(*) AS n_customers,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin,
    "q_order_gaps" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |  lag(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_date,
        |  CAST(date_diff('day',
        |    CAST(lag(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS DATE),
        |    CAST(o_orderdate AS DATE)) AS INTEGER) AS gap_days
        |FROM orders""".stripMargin,
    // Bloom prefilter is exact-by-construction (verify semi join eats the
    // false positives), so the oracle is the plain IN-subquery semi join
    "q_bloom_semi" ->
      """SELECT l_returnflag, count(*) AS n_lines,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |GROUP BY l_returnflag""".stripMargin,
    // bucketing changes the physical layout, never the answer: the oracle
    // is the plain join over the original parquet
    "q_bucketed_join" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin,
    // the Morton mask chain below interpolates graft.functions.ZOrder2's
    // constants so the oracle can never drift from the Spark expression
    "q_zorder" -> {
      import graft.functions.ZOrder2.{M16, M8, M4, M2, M1}
      def step(n: Int, prev: String, shift: Int, mask: Long) =
        s"z$n AS (SELECT event_id, (x | (x << $shift)) & $mask AS x, " +
          s"(y | (y << $shift)) & $mask AS y FROM $prev)"
      s"""WITH z0 AS (SELECT event_id,
         |  CAST(user_id AS BIGINT) & 2147483647 AS x,
         |  (epoch_us(ts)//1000000) & 2147483647 AS y FROM events),
         |${step(1, "z0", 16, M16)},
         |${step(2, "z1", 8, M8)},
         |${step(3, "z2", 4, M4)},
         |${step(4, "z3", 2, M2)},
         |${step(5, "z4", 1, M1)}
         |SELECT event_id, (x | (y << 1)) AS zval FROM z5""".stripMargin
    },
    "q_props_sum" ->
      """SELECT event_type,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_with_k
        |FROM events GROUP BY event_type""".stripMargin,
    "q_value_stats" ->
      """SELECT event_type,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_value,
        |  count(*) AS n_events, min(value) AS min_value, max(value) AS max_value
        |FROM events GROUP BY event_type""".stripMargin,
    "q_asof_last_order" ->
      """WITH r AS (
        |  SELECT o_custkey, o_orderdate, max(o_orderkey) AS okey
        |  FROM orders GROUP BY o_custkey, o_orderdate
        |), e AS (
        |  SELECT event_id, CAST(user_id AS VARCHAR) AS visitorid, ts AS event_time FROM events
        |) SELECT e.event_id, e.visitorid, e.event_time,
        |    r.okey AS last_order_key, r.o_orderdate AS last_order_date
        |FROM e ASOF LEFT JOIN r
        |  ON e.visitorid = CAST(r.o_custkey AS VARCHAR) AND r.o_orderdate <= e.event_time""".stripMargin,
    // identical oracle as q_asof_last_order: the custom physical operator,
    // the union+window composition, and DuckDB ASOF must all agree
    "q_asof_last_order_exec" ->
      """WITH r AS (
        |  SELECT o_custkey, o_orderdate, max(o_orderkey) AS okey
        |  FROM orders GROUP BY o_custkey, o_orderdate
        |), e AS (
        |  SELECT event_id, CAST(user_id AS VARCHAR) AS visitorid, ts AS event_time FROM events
        |) SELECT e.event_id, e.visitorid, e.event_time,
        |    r.okey AS last_order_key, r.o_orderdate AS last_order_date
        |FROM e ASOF LEFT JOIN r
        |  ON e.visitorid = CAST(r.o_custkey AS VARCHAR) AND r.o_orderdate <= e.event_time""".stripMargin,
    // the binned range join must agree with DuckDB's direct inequality join
    "q_range_orders_week" ->
      """WITH e AS (
        |  SELECT event_id, CAST(user_id AS VARCHAR) AS visitorid, ts AS event_time FROM events
        |), o AS (
        |  SELECT CAST(o_custkey AS VARCHAR) AS ck, o_orderdate, o_orderkey FROM orders
        |), m AS (
        |  SELECT e.event_id, count(o.o_orderkey) AS n_recent_orders,
        |    max(o.o_orderkey) AS last_recent_key
        |  FROM e LEFT JOIN o ON e.visitorid = o.ck
        |    AND o.o_orderdate <= e.event_time
        |    AND o.o_orderdate >= e.event_time - INTERVAL 7 DAY
        |  GROUP BY e.event_id
        |) SELECT e.event_id, e.visitorid, e.event_time, m.n_recent_orders, m.last_recent_key
        |FROM e JOIN m ON e.event_id = m.event_id""".stripMargin,
    "q_orders_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin,
    "q_ship_delay" ->
      """SELECT o_orderpriority, count(*) AS n_lineitems,
        |  CAST(sum(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))) AS BIGINT) AS total_delay_days,
        |  CAST(sum(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))) AS DOUBLE) / count(*) AS avg_delay_days,
        |  CAST(max(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))) AS INTEGER) AS max_delay_days
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin,
    "q_event_pivot" -> (CS +
      """ SELECT date_trunc('minute', event_time) AS minute,
        |  count(*) FILTER (WHERE event = 'click') AS n_click,
        |  count(*) FILTER (WHERE event = 'error') AS n_error,
        |  count(*) FILTER (WHERE event = 'purchase') AS n_purchase,
        |  count(*) FILTER (WHERE event = 'signup') AS n_signup,
        |  count(*) FILTER (WHERE event = 'view') AS n_view
        | FROM cs GROUP BY 1""".stripMargin),
    "q_viewers_no_purchase" -> (CS +
      """ SELECT DISTINCT visitorid, date_trunc('minute', event_time) AS minute
        |   FROM cs WHERE event = 'view'
        | EXCEPT
        | SELECT DISTINCT visitorid, date_trunc('minute', event_time) AS minute
        |   FROM cs WHERE event = 'purchase'""".stripMargin),
    "q_text_stats" -> (TOK +
      """ SELECT doc_id, length(text) AS n_chars_actual,
        |  CAST(len(toks) AS INTEGER) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS INTEGER) AS n_re_tokens,
        |  CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) / len(toks) AS avg_token_len
        | FROM tok""".stripMargin),
    "q_quality" -> (TOK +
      """, q AS (
        |  SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_tokens,
        |    CAST(len(list_filter(toks, t -> t IN ('the','a','and','of','to','in','is'))) AS INTEGER) AS n_stop,
        |    CAST(len(list_distinct(toks)) AS INTEGER) AS n_unique
        |  FROM tok
        |) SELECT doc_id, n_tokens,
        |  n_stop / n_tokens AS stopword_ratio,
        |  n_unique / n_tokens AS unique_ratio,
        |  (n_tokens >= 10 AND n_unique / n_tokens > 0.2) AS passes_quality
        |FROM q""".stripMargin),
    "q_lang_id" -> (TOK +
      """, sc AS (
        |  SELECT doc_id, lang AS declared_lang,
        |    CAST(len(list_filter(toks, t -> t IN ('der','die','das','und','ist','nicht'))) AS INTEGER) AS score_de,
        |    CAST(len(list_filter(toks, t -> t IN ('the','a','and','of','to','is'))) AS INTEGER) AS score_en,
        |    CAST(len(list_filter(toks, t -> t IN ('el','los','y','que','una','es'))) AS INTEGER) AS score_es,
        |    CAST(len(list_filter(toks, t -> t IN ('le','la','et','les','des','est'))) AS INTEGER) AS score_fr
        |  FROM tok
        |) SELECT doc_id, declared_lang, score_de, score_en, score_es, score_fr,
        |  CASE
        |    WHEN score_de >= score_en AND score_de >= score_es AND score_de >= score_fr THEN 'de'
        |    WHEN score_en >= score_de AND score_en >= score_es AND score_en >= score_fr THEN 'en'
        |    WHEN score_es >= score_de AND score_es >= score_en AND score_es >= score_fr THEN 'es'
        |    ELSE 'fr' END AS predicted_lang
        |FROM sc""".stripMargin),
    "q_fingerprint" -> (SH +
      s""" SELECT doc_id, md5(text) AS content_hash,
        |  list_aggregate(list_transform(shingles, s -> ${h32("s")}), 'min') AS min_shingle_hash
        | FROM sh""".stripMargin),
    "q_dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_doc_id, count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,
    // normalized-exact: non-alnum runs → one space, then trim; empty
    // normalizations fall back to the raw hash, NULL text to per-doc keys
    // (regex class chosen to evaluate identically in Java regex and RE2)
    "q_dedup_normalized" ->
      """WITH nm AS (
        |  SELECT doc_id,
        |    CASE WHEN text IS NULL THEN 'null:' || CAST(doc_id AS VARCHAR)
        |      WHEN trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) = ''
        |        THEN 'raw:' || md5(text)
        |      ELSE md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
        |    END AS norm_hash
        |  FROM documents
        |), cn AS (
        |  SELECT norm_hash, min(doc_id) AS canonical_id, count(*) AS cluster_size
        |  FROM nm GROUP BY norm_hash
        |) SELECT nm.doc_id, cn.canonical_id, cn.cluster_size,
        |  nm.doc_id <> cn.canonical_id AS is_dup
        |FROM nm JOIN cn USING (norm_hash)""".stripMargin,
    "q_minhash_pairs" -> (MINHASH_PAIRS +
      """ SELECT pr.doc1, pr.doc2,
        |  len(list_filter(range(16), i -> s1.sig[i+1] = s2.sig[i+1])) / 16 AS est_jaccard
        | FROM pr JOIN sg s1 ON pr.doc1 = s1.doc_id JOIN sg s2 ON pr.doc2 = s2.doc_id""".stripMargin),
    "q_ngram_jaccard" -> (MINHASH_PAIRS +
      """ SELECT pr.doc1, pr.doc2,
        |  len(list_intersect(a.shingles, b.shingles)) /
        |    len(list_distinct(list_concat(a.shingles, b.shingles))) AS jaccard
        | FROM pr JOIN sh a ON pr.doc1 = a.doc_id JOIN sh b ON pr.doc2 = b.doc_id""".stripMargin),
    // directional containment over the same candidate pairs and distinct
    // shingle sets as q_ngram_jaccard; explicit double casts on both sides
    "q_containment" -> (MINHASH_PAIRS +
      """ SELECT pr.doc1, pr.doc2,
        |  CAST(len(list_intersect(a.shingles, b.shingles)) AS BIGINT) AS n_common,
        |  CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
        |    CAST(len(a.shingles) AS DOUBLE) AS containment_1in2,
        |  CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
        |    CAST(len(b.shingles) AS DOUBLE) AS containment_2in1
        | FROM pr JOIN sh a ON pr.doc1 = a.doc_id JOIN sh b ON pr.doc2 = b.doc_id""".stripMargin),
    "q_simhash" -> (SIMHASH + " SELECT doc_id, simhash FROM sim"),
    // production layout: 2 bands × 16 bits, buckets over the occupancy cap
    // dropped (the cap cannot trigger at oracle SF — mirrored for
    // semantic faithfulness, it is the scale guard)
    "q_simhash_pairs" -> (SIMHASH +
      """, sb0 AS (
        |  SELECT doc_id, simhash, b, (simhash >> CAST(b*16 AS INTEGER)) % 65536 AS band_key
        |  FROM sim, (SELECT unnest(range(2)) AS b) bs
        |), sb AS (
        |  SELECT * FROM (
        |    SELECT *, count(*) OVER (PARTITION BY b, band_key) AS _n FROM sb0
        |  ) WHERE _n <= 10000
        |), sp AS (
        |  SELECT DISTINCT a.doc_id AS doc1, c.doc_id AS doc2,
        |    CAST(bit_count(xor(a.simhash, c.simhash)) AS INTEGER) AS hamming
        |  FROM sb a JOIN sb c ON a.b = c.b AND a.band_key = c.band_key AND a.doc_id < c.doc_id
        |) SELECT doc1, doc2, hamming FROM sp WHERE hamming <= 10""".stripMargin),
    "q_embed_norms" -> (EMB + " SELECT vec_id, nrm FROM e"),
    "q_ann_topk" -> (EMB +
      """, q AS (SELECT * FROM e WHERE vec_id < 10),
        |cand AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
        |    list_sum(list_transform(range(len(q.embedding)), i ->
        |      CAST(q.embedding[i+1] AS DOUBLE) * CAST(c.embedding[i+1] AS DOUBLE))) / (q.nrm * c.nrm) AS cosine
        |  FROM q JOIN e c ON q.vec_id <> c.vec_id
        |), ranked AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id ASC) AS INTEGER) AS rank
        |  FROM cand
        |) SELECT q_id, c_id, cosine, rank FROM ranked WHERE rank <= 5""".stripMargin),
    "q_ann_topk_ivf" -> (EMB +
      seedCentsSql("cents", "8") +
      """, ar AS (
        |  SELECT e.vec_id, c.cent_id,
        |    CAST(row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |      list_sum(list_transform(range(len(e.embedding)), i ->
        |        CAST(e.embedding[i+1] AS DOUBLE) * CAST(c.cent_emb[i+1] AS DOUBLE))) / (e.nrm * c.cent_nrm) DESC,
        |      c.cent_id ASC) AS INTEGER) AS arank
        |  FROM e, cents c
        |), assign AS (
        |  SELECT vec_id AS member_id, cent_id AS cluster FROM ar WHERE arank = 1
        |), probes AS (
        |  SELECT vec_id AS q_id, cent_id AS cluster FROM ar WHERE arank <= 2 AND vec_id < 10
        |), cand AS (
        |  SELECT DISTINCT p.q_id, a.member_id AS c_id
        |  FROM probes p JOIN assign a ON p.cluster = a.cluster
        |  WHERE p.q_id <> a.member_id
        |), sc AS (
        |  SELECT cand.q_id, cand.c_id,
        |    list_sum(list_transform(range(len(q.embedding)), i ->
        |      CAST(q.embedding[i+1] AS DOUBLE) * CAST(c.embedding[i+1] AS DOUBLE))) / (q.nrm * c.nrm) AS cosine
        |  FROM cand JOIN e q ON cand.q_id = q.vec_id JOIN e c ON cand.c_id = c.vec_id
        |), rk AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id ASC) AS INTEGER) AS rank
        |  FROM sc
        |) SELECT q_id, c_id, cosine, rank FROM rk WHERE rank <= 5""".stripMargin),
    "q_embed_neardup" -> (EMB +
      """, cand AS (
        |  SELECT a.vec_id AS id1, b.vec_id AS id2,
        |    list_sum(list_transform(range(len(a.embedding)), i ->
        |      CAST(a.embedding[i+1] AS DOUBLE) * CAST(b.embedding[i+1] AS DOUBLE))) / (a.nrm * b.nrm) AS cosine
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id
        |) SELECT id1, id2, cosine FROM cand WHERE cosine >= 0.35""".stripMargin),
    "q_embed_neardup_lsh" -> (EMB + LSH_SIG_P16 +
      s""", bnd0 AS (
        |  SELECT vec_id, CAST(b AS INTEGER) AS band, bands[b+1] AS band_key
        |  FROM sig, (SELECT unnest(range(4)) AS b) t
        |), bnd AS (
        |  SELECT * FROM (
        |    SELECT *, count(*) OVER (PARTITION BY band, band_key) AS _n FROM bnd0
        |  ) WHERE _n <= ${graft.ext.Dedup.ProductionMaxBucketSize.get}
        |), pr AS (
        |  SELECT DISTINCT a.vec_id AS id1, c.vec_id AS id2
        |  FROM bnd a JOIN bnd c ON a.band = c.band AND a.band_key = c.band_key AND a.vec_id < c.vec_id
        |), cand AS (
        |  SELECT id1, id2,
        |    list_sum(list_transform(range(len(e1.embedding)), i ->
        |      CAST(e1.embedding[i+1] AS DOUBLE) * CAST(e2.embedding[i+1] AS DOUBLE))) / (e1.nrm * e2.nrm) AS cosine
        |  FROM pr JOIN e e1 ON pr.id1 = e1.vec_id JOIN e e2 ON pr.id2 = e2.vec_id
        |) SELECT id1, id2, cosine FROM cand WHERE cosine >= 0.35""".stripMargin),
    // embedding-space connected components: same LSH candidate CTEs, then
    // the recursive flood + min() — mirrors Similarity.embeddingComponents
    "q_embed_components" -> ((EMB + LSH_SIG_P16 +
      s""", bnd0 AS (
        |  SELECT vec_id, CAST(b AS INTEGER) AS band, bands[b+1] AS band_key
        |  FROM sig, (SELECT unnest(range(4)) AS b) t
        |), bnd AS (
        |  SELECT * FROM (
        |    SELECT *, count(*) OVER (PARTITION BY band, band_key) AS _n FROM bnd0
        |  ) WHERE _n <= ${graft.ext.Dedup.ProductionMaxBucketSize.get}
        |), pr AS (
        |  SELECT DISTINCT a.vec_id AS id1, c.vec_id AS id2
        |  FROM bnd a JOIN bnd c ON a.band = c.band AND a.band_key = c.band_key AND a.vec_id < c.vec_id
        |), cand AS (
        |  SELECT id1, id2,
        |    list_sum(list_transform(range(len(e1.embedding)), i ->
        |      CAST(e1.embedding[i+1] AS DOUBLE) * CAST(e2.embedding[i+1] AS DOUBLE))) / (e1.nrm * e2.nrm) AS cosine
        |  FROM pr JOIN e e1 ON pr.id1 = e1.vec_id JOIN e e2 ON pr.id2 = e2.vec_id
        |), edges AS (
        |  SELECT id1 AS a, id2 AS b FROM cand WHERE cosine >= 0.35
        |  UNION ALL
        |  SELECT id2 AS a, id1 AS b FROM cand WHERE cosine >= 0.35
        |), reach AS (
        |  SELECT vec_id, vec_id AS lbl FROM embeddings
        |  UNION
        |  SELECT g.a AS vec_id, r.lbl FROM edges g JOIN reach r ON g.b = r.vec_id
        |) SELECT vec_id, min(lbl) AS component FROM reach GROUP BY vec_id""".stripMargin)
      .replaceFirst("WITH e AS", "WITH RECURSIVE e AS")),
    // DuckDB's substring can't slice BLOBs, so the oracle frames the VARCHAR
    // by characters — equivalent to the engine's byte frames because the
    // synthetic corpus is pure ASCII (verified: octet_length == length for
    // every doc at every SF); md5 of an ASCII substring hashes the same
    // bytes either way
    "q_frame_sample" ->
      """WITH m AS (
        |  SELECT doc_id, 'text/plain' AS media_type, text,
        |    CAST(ceil(octet_length(CAST(text AS BLOB)) / 64.0) AS INTEGER) AS n_frames
        |  FROM documents
        |), fr AS (
        |  SELECT doc_id, media_type, text,
        |    CAST(unnest(CASE WHEN n_frames <= 0 THEN []
        |                     ELSE list_filter(range(n_frames), i -> i % 4 = 0) END) AS INTEGER) AS frame_idx
        |  FROM m
        |) SELECT doc_id, media_type, frame_idx,
        |  CAST(length(substring(text, frame_idx * 64 + 1, 64)) AS INTEGER) AS frame_len,
        |  md5(substring(text, frame_idx * 64 + 1, 64)) AS frame_md5
        |FROM fr""".stripMargin,
    "q_multimodal_meta" ->
      """SELECT doc_id, 'text/plain' AS media_type,
        |  CAST(octet_length(CAST(text AS BLOB)) AS INTEGER) AS n_bytes,
        |  sha256(text) AS sha256
        |FROM documents""".stripMargin,
    // The round-trip oracle for the REAL image pass: the Spark side encodes
    // a genuine PNG/BMP per doc (dims/pixel format derived from doc_id and
    // n_chars) and parses the header fields back out of the bytes; the
    // oracle computes the same fields from the same doc columns directly,
    // so encoder and parser certify each other.
    "q_multimodal_real_meta" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS format,
        |  CAST(doc_id % 64 + 1 AS INTEGER) AS width,
        |  CAST(n_chars % 48 + 1 AS INTEGER) AS height,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 8
        |    ELSE CASE (doc_id // 2) % 3 WHEN 0 THEN 24 WHEN 1 THEN 32 ELSE 8 END
        |  END AS INTEGER) AS bit_depth,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN
        |    CASE (doc_id // 2) % 4 WHEN 0 THEN 4 WHEN 1 THEN 3 WHEN 2 THEN 1 ELSE 2 END
        |  ELSE
        |    CASE (doc_id // 2) % 3 WHEN 0 THEN 3 WHEN 1 THEN 4 ELSE 1 END
        |  END AS INTEGER) AS channels
        |FROM documents""".stripMargin,
    // conv bank over REAL decoded rasters: pattern (x+2y) mod 256 depends
    // only on t = x+2y, so each kernel's response collapses to a linear
    // combination of m(d) = (t+d) mod 256 over tap-offset sums d = i+2j;
    // LEFT JOIN keeps no-interior docs (w<3 or h<3) at zero response
    "q_multimodal_conv" ->
      """WITH dims AS (
        |  SELECT doc_id, CAST(doc_id % 64 + 1 AS INTEGER) AS w,
        |    CAST(n_chars % 48 + 1 AS INTEGER) AS h
        |  FROM documents
        |), cells AS (
        |  SELECT doc_id, CAST(p % w AS BIGINT) AS x, CAST(p // w AS BIGINT) AS y
        |  FROM (SELECT doc_id, w, h, unnest(range(w * h)) AS p FROM dims)
        |  WHERE p % w BETWEEN 1 AND w - 2 AND p // w BETWEEN 1 AND h - 2
        |), f AS (
        |  SELECT doc_id,
        |    (x+2*y-3)%256 AS m3, (x+2*y-2)%256 AS m2, (x+2*y-1)%256 AS m1,
        |    (x+2*y)%256 AS m0, (x+2*y+1)%256 AS p1, (x+2*y+2)%256 AS p2,
        |    (x+2*y+3)%256 AS p3
        |  FROM cells
        |), agg AS (
        |  SELECT doc_id,
        |    sum(m3 + m2 + 2*m1 + m0 + 2*p1 + p2 + p3) AS b,
        |    sum(-m3 - m1 + p1 + p3) AS sx,
        |    sum(-m3 - 2*m2 - m1 + p1 + 2*p2 + p3) AS sy,
        |    sum(m2 + m1 - 4*m0 + p1 + p2) AS lp
        |  FROM f GROUP BY doc_id
        |) SELECT d.doc_id, d.w AS width, d.h AS height,
        |  CAST(coalesce(a.b, 0) AS BIGINT) AS f_box,
        |  CAST(coalesce(a.sx, 0) AS BIGINT) AS f_sobel_x,
        |  CAST(coalesce(a.sy, 0) AS BIGINT) AS f_sobel_y,
        |  CAST(coalesce(a.lp, 0) AS BIGINT) AS f_laplace
        |FROM dims d LEFT JOIN agg a USING (doc_id)""".stripMargin,
    // the engine decodes REAL PNG rasters via javax.imageio; the oracle is
    // the pattern's closed form (x+y) mod 256 over the pixel grid — one
    // division (exact ints) for the mean, identical in both engines
    "q_multimodal_pixels" -> PixelsOracleSql,
    // the stored twin decodes the SAME pattern out of a materialized
    // parquet BINARY column — the decode statistics (and so the oracle)
    // are identical; what changes is the engine-side path under test
    // (write → binary-column scan → decode)
    "q_multimodal_pixels_stored" -> PixelsOracleSql,
    // WAV layout mirror: the engine parses these fields back out of real
    // RIFF bytes; data_bytes = samples × channels × bytes/sample and
    // n_samples re-derives from the parsed fields (exact integers, so the
    // double division casts identically in both engines)
    "q_multimodal_audio_meta" ->
      """SELECT doc_id,
        |  CAST(doc_id % 2 + 1 AS INTEGER) AS channels,
        |  CAST(CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100 END
        |    AS INTEGER) AS sample_rate,
        |  CAST(CASE (doc_id // 2) % 2 WHEN 0 THEN 8 ELSE 16 END AS INTEGER) AS bits_per_sample,
        |  CAST((n_chars % 200 + 1) * (doc_id % 2 + 1)
        |    * (CASE (doc_id // 2) % 2 WHEN 0 THEN 1 ELSE 2 END) AS INTEGER) AS data_bytes,
        |  CAST(n_chars % 200 + 1 AS INTEGER) AS n_samples
        |FROM documents""".stripMargin,
    // Mirrors the decode stub's modular rolling hash per 8-byte lane:
    // acc = (acc*31 + byte) % 1000003, flattened residues mod 1000.
    // ord(substring(text,i,1)) == payload byte because the corpus is pure
    // ASCII (verified octet_length == length at every SF). range(d+1,
    // len+1, 8) is the 1-based mirror of the stub's 0-based stride d, d+8…
    "q_multimodal_features" -> {
      val lane = (d: Int) =>
        s"""CAST(list_reduce(list_prepend(0::BIGINT,
           |    list_transform(range($d + 1, length(text) + 1, 8),
           |      i -> ord(substring(text, CAST(i AS INTEGER), 1))::BIGINT)),
           |  (acc, b) -> (acc * 31 + b) % 1000003) % 1000 AS VARCHAR)""".stripMargin
      s"""SELECT doc_id, 'text/plain' AS media_type,
         |  CAST(octet_length(CAST(text AS BLOB)) AS INTEGER) AS n_bytes,
         |  ${(0 until 8).map(lane).mkString(" || ',' || ")} AS feature_str
         |FROM documents""".stripMargin
    },
    // Mirrors resizeStub: keep every stride-th byte (stride =
    // greatest(1, ceil(n/256))), digest the kept bytes. Characters stand in
    // for bytes because the corpus is pure ASCII (see q_frame_sample).
    "q_multimodal_resize" ->
      """WITH m AS (
        |  SELECT doc_id, 'text/plain' AS media_type, text,
        |    CAST(octet_length(CAST(text AS BLOB)) AS INTEGER) AS n_bytes,
        |    greatest(1, CAST(ceil(octet_length(CAST(text AS BLOB)) / 256.0) AS INTEGER)) AS stride
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, media_type, n_bytes,
        |    array_to_string(list_transform(
        |      list_filter(range(n_bytes), i -> i % stride = 0),
        |      i -> substring(text, CAST(i AS INTEGER) + 1, 1)), '') AS resized
        |  FROM m
        |) SELECT doc_id, media_type, n_bytes,
        |  CAST(length(resized) AS INTEGER) AS resized_bytes,
        |  md5(resized) AS resized_md5
        |FROM r""".stripMargin,
    "q_vocab_topk" -> (TOK +
      """, ex AS (SELECT unnest(toks) AS token FROM tok),
        |fr AS (SELECT token, count(*) AS freq FROM ex GROUP BY token),
        |rk AS (SELECT token, freq,
        |  CAST(row_number() OVER (ORDER BY freq DESC, token ASC) AS INTEGER) AS rank FROM fr)
        |SELECT token, freq, rank FROM rk WHERE rank <= 50""".stripMargin),
    // width = 2×slide ⇒ every event is in exactly the two windows starting
    // at floor(t/300)*300 and that minus 300 — the unnest replicates what
    // Spark's window() grouping does internally
    "q_sliding_counts" -> (CS +
      """ SELECT ws.window_start, event, count(*) AS n_events FROM (
        |   SELECT event,
        |     unnest([ (epoch_us(event_time)//1000000)//300*300 - 300,
        |              (epoch_us(event_time)//1000000)//300*300 ]) AS window_start
        |   FROM cs
        | ) ws GROUP BY ws.window_start, event""".stripMargin),
    // first/last via zero-padded composite string keys — ASCII ordering ==
    // numeric ordering, and DuckDB's arg_min takes no struct keys
    "q_ohlc_resample" ->
      """SELECT event_type,
        |  (epoch_us(ts)//1000000) // 300 * 300 AS bucket_start,
        |  arg_min(value, printf('%020d|%020d', epoch_us(ts), event_id)) AS open_value,
        |  max(value) AS high_value, min(value) AS low_value,
        |  arg_max(value, printf('%020d|%020d', epoch_us(ts), event_id)) AS close_value,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    // the oracle is the ONE-PASS rollup: the Spark side computes it as
    // merge(history, delta) split at an arbitrary cutoff — a hash match
    // certifies the algebraic-state merge identity digit for digit
    "q_incremental_rollup" ->
      """SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_value,
        |  min(value) AS min_value, max(value) AS max_value
        |FROM events GROUP BY event_type, CAST(ts AS DATE)""".stripMargin,
    // adjacent pairs via 1-indexed list comprehension; range(1, len) stops
    // at len-1, mirroring Spark's zip_with over the two slices
    "q_bpe_pairs" -> (TOK +
      """, pr AS (
        |  SELECT unnest([toks[i] || ' ' || toks[i+1] FOR i IN range(1, len(toks))]) AS pair
        |  FROM tok WHERE len(toks) >= 2
        |), fr AS (SELECT pair, count(*) AS cnt FROM pr GROUP BY pair),
        |rk AS (SELECT pair, cnt,
        |  CAST(row_number() OVER (ORDER BY cnt DESC, pair ASC) AS INTEGER) AS rank FROM fr)
        |SELECT pair, cnt, rank FROM rk WHERE rank <= 50""".stripMargin),
    // duplicated-span coverage: 5-gram occurrences carried as the portable
    // 60-bit hash (h60 — a hard membership key, 32 bits would saturate);
    // interval union via the same running-max window Spark runs (spans
    // sorted by start within a doc; a span's new coverage is its end minus
    // the furthest end already seen). toks[s+1:s+5] is the 1-indexed
    // inclusive slice of the 0-based start s — 5 tokens.
    "q_dup_spans" -> (DUPSPAN +
      """SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(p.covered, 0) AS BIGINT) AS covered_tokens,
        |  CAST(coalesce(p.covered, 0) AS DOUBLE) / CAST(len(t.toks) AS DOUBLE) AS dup_coverage
        |FROM tok t LEFT JOIN pd p USING (doc_id)""".stripMargin),
    // the removal action: cut every covered token position, reassemble the
    // text in position order (string_agg ORDER BY == Spark's sort_array
    // over (pos, tok) structs); fully-cut docs keep an empty string
    "q_dup_spans_remove" -> (DUPSPAN +
      """, cpos AS (
        |  SELECT DISTINCT doc_id, CAST(p AS BIGINT) AS pos
        |  FROM (SELECT doc_id, unnest(range(s, s+5)) AS p FROM hit)
        |), tp AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS pos, toks[i+1] AS tok
        |  FROM (SELECT doc_id, toks, unnest(range(len(toks))) AS i FROM tok)
        |), keptp AS (
        |  SELECT tp.doc_id, tp.pos, tp.tok FROM tp
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM cpos c WHERE c.doc_id = tp.doc_id AND c.pos = tp.pos)
        |), kt AS (
        |  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS scrubbed_text,
        |    count(*) AS kept_tokens
        |  FROM keptp GROUP BY doc_id
        |) SELECT t.doc_id,
        |  coalesce(k.scrubbed_text, '') AS scrubbed_text,
        |  CAST(coalesce(k.kept_tokens, 0) AS BIGINT) AS kept_tokens,
        |  CAST(len(t.toks) - coalesce(k.kept_tokens, 0) AS BIGINT) AS removed_tokens
        |FROM tok t LEFT JOIN kt k USING (doc_id)""".stripMargin),
    // the filter action: drop docs whose span coverage exceeds 0.5; NULL
    // coverage (no duplicated gram) never enters the drop set
    "q_dup_spans_filter" -> (DUPSPAN +
      """SELECT d.doc_id, d.lang, d.n_chars FROM documents d
        |WHERE d.doc_id NOT IN (
        |  SELECT t.doc_id FROM tok t JOIN pd p USING (doc_id)
        |  WHERE CAST(p.covered AS DOUBLE) / CAST(len(t.toks) AS DOUBLE) > 0.5)""".stripMargin),
    // PMI = ln((c_xy·T·T)/(B·c_x·c_y)): integer-valued double products
    // (exact < 2^53), ONE division, then ln rounded to 6dp — the q_bm25
    // ulp-drift precedent. Left-associated multiplies mirror Spark's.
    "q_collocations" -> (TOK +
      """, uni AS (
        |  SELECT token, count(*) AS c1
        |  FROM (SELECT unnest(toks) AS token FROM tok) GROUP BY token
        |), tot AS (
        |  SELECT CAST(sum(len(toks)) AS BIGINT) AS t_tokens,
        |         CAST(sum(greatest(len(toks)-1, 0)) AS BIGINT) AS t_pairs FROM tok
        |), bi AS (
        |  SELECT pair, count(*) AS pair_count FROM (
        |    SELECT unnest([toks[i] || ' ' || toks[i+1] FOR i IN range(1, len(toks))]) AS pair
        |    FROM tok WHERE len(toks) >= 2) GROUP BY pair
        |  HAVING count(*) >= 5
        |), sc AS (
        |  SELECT b.pair, b.pair_count,
        |    round(ln((CAST(b.pair_count AS DOUBLE) * CAST(t.t_tokens AS DOUBLE)
        |              * CAST(t.t_tokens AS DOUBLE))
        |           / (CAST(t.t_pairs AS DOUBLE) * CAST(lu.c1 AS DOUBLE)
        |              * CAST(ru.c1 AS DOUBLE))), 6) AS pmi
        |  FROM bi b, tot t, uni lu, uni ru
        |  WHERE lu.token = split_part(b.pair, ' ', 1)
        |    AND ru.token = split_part(b.pair, ' ', 2)
        |), rk AS (
        |  SELECT pair, pair_count, pmi,
        |    CAST(row_number() OVER (ORDER BY pmi DESC, pair ASC) AS INTEGER) AS rank
        |  FROM sc)
        |SELECT pair, pair_count, pmi, rank FROM rk WHERE rank <= 50""".stripMargin),
    // chunk windows of 32 tokens every 24 (overlap 8); DuckDB's inclusive
    // 1-based slice toks[s+1 : s+32] mirrors Spark's slice(toks, s+1, 32),
    // both clamping at the list end; // is DuckDB integer division
    "q_chunk" -> (TOK +
      """, st AS (
        |  SELECT doc_id, toks, unnest(range(0, len(toks), 24)) AS s FROM tok
        |), ch AS (
        |  SELECT doc_id, CAST(s // 24 AS INTEGER) AS chunk_id,
        |    CAST(s AS BIGINT) AS chunk_start,
        |    toks[s+1:least(s+32, len(toks))] AS ctoks
        |  FROM st
        |) SELECT doc_id, chunk_id, chunk_start,
        |  CAST(len(ctoks) AS BIGINT) AS n_chunk_tokens,
        |  array_to_string(ctoks, ' ') AS chunk_text FROM ch""".stripMargin),
    // Heaps-law curve: first occurrence = min(doc_id) per token (order-free
    // aggregation); windows run over the BUCKET grain only
    "q_vocab_growth" -> (TOK +
      """, fs AS (
        |  SELECT token, min(doc_id) AS first_doc
        |  FROM (SELECT doc_id, unnest(toks) AS token FROM tok) GROUP BY token
        |), nb AS (
        |  SELECT first_doc - first_doc % 100 AS bucket_start, count(*) AS n_new_tokens
        |  FROM fs GROUP BY 1
        |), ob AS (
        |  SELECT doc_id - doc_id % 100 AS bucket_start, count(*) AS n_docs,
        |    CAST(sum(len(toks)) AS BIGINT) AS n_occurrences
        |  FROM tok GROUP BY 1
        |) SELECT o.bucket_start, o.n_docs,
        |  CAST(coalesce(n.n_new_tokens, 0) AS BIGINT) AS n_new_tokens, o.n_occurrences,
        |  CAST(sum(coalesce(n.n_new_tokens, 0)) OVER (ORDER BY o.bucket_start) AS BIGINT) AS vocab_size,
        |  CAST(sum(o.n_occurrences) OVER (ORDER BY o.bucket_start) AS BIGINT) AS tokens_seen
        |FROM ob o LEFT JOIN nb n USING (bucket_start)""".stripMargin),
    // entropy as an INTEGER sum of per-key micro-unit terms (order-free);
    // the ratios are exact-integer divisions, ln rounds once per term
    "q_key_skew" ->
      """WITH c AS (
        |  SELECT CAST(user_id AS VARCHAR) AS k, count(*) AS c
        |  FROM events GROUP BY 1
        |), t AS (SELECT CAST(sum(c) AS BIGINT) AS n_rows_t FROM c),
        |e AS (
        |  SELECT c.c, t.n_rows_t,
        |    CAST(round((CAST(c.c AS DOUBLE) / CAST(t.n_rows_t AS DOUBLE))
        |      * ln(CAST(c.c AS DOUBLE) / CAST(t.n_rows_t AS DOUBLE))
        |      * (-1000000.0)) AS BIGINT) AS term_e6
        |  FROM c, t)
        |SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |  CAST(min(n_rows_t) AS BIGINT) AS n_rows,
        |  CAST(max(c) AS BIGINT) AS max_count,
        |  round(CAST(max(c) AS DOUBLE) / CAST(min(n_rows_t) AS DOUBLE), 6) AS top1_share,
        |  CAST(sum(term_e6) AS DOUBLE) / 1000000.0 AS entropy
        |FROM e""".stripMargin,
    // the window form the bounded aggregator replaces — md5-of-id order is
    // the shared deterministic randomness
    "q_sample_bottomk" ->
      """WITH r AS (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rk
        |  FROM documents
        |) SELECT lang, doc_id, CAST(rk AS INTEGER) AS sample_rank
        |FROM r WHERE rk <= 10""".stripMargin,
    "q_scrub" ->
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(text, '[a-zA-Z0-9.]+@[a-zA-Z0-9.]+', '<EMAIL>', 'g'),
        |      'https?://[^ ]+', '<URL>', 'g'),
        |    '[0-9]{6,}', '<NUM>', 'g') AS scrubbed
        |FROM documents""".stripMargin,
    "q_repetition" -> (TOK +
      """, gr AS (
        |  SELECT doc_id, unnest(CASE WHEN len(toks) < 2 THEN []
        |    ELSE list_transform(range(len(toks)-1), i -> toks[i+1] || ' ' || toks[i+2]) END) AS gram
        |  FROM tok
        |), cg AS (
        |  SELECT doc_id, gram, count(*) AS c FROM gr GROUP BY doc_id, gram
        |) SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
        |    CAST(max(c) AS BIGINT) AS max_gram_freq,
        |    CAST(max(c) AS BIGINT) / CAST(sum(c) AS BIGINT) AS repetition_ratio
        |FROM cg GROUP BY doc_id""".stripMargin),
    "q_split_assign" ->
      """SELECT doc_id,
        |  CASE WHEN ('0x'||substr(md5(text),1,8))::BIGINT % 100 < 95
        |       THEN 'train' ELSE 'val' END AS split
        |FROM documents""".stripMargin,
    // priority = (u+1)/w: one int→double cast + one IEEE division, both
    // correctly rounded → bit-identical ranks in both engines (ln/pow
    // based sampling keys would not be)
    "q_priority_sample" ->
      """WITH p AS (
        |  SELECT doc_id, lang, n_chars,
        |    CAST(('0x'||substr(md5(text),1,8))::BIGINT + 1 AS DOUBLE)
        |      / CAST(greatest(n_chars, 1) AS DOUBLE) AS pkey
        |  FROM documents
        |), r AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY lang ORDER BY pkey ASC, doc_id ASC) AS INTEGER) AS rank
        |  FROM p
        |) SELECT doc_id, lang, n_chars, pkey, rank FROM r WHERE rank <= 20""".stripMargin,
    "q_length_histogram" ->
      """SELECT CAST(floor(n_chars / 100) * 100 AS BIGINT) AS bucket_start,
        |  count(*) AS n_docs
        |FROM documents GROUP BY 1""".stripMargin,
    "q_doclen_quantiles" ->
      """SELECT lang, count(*) AS n_docs,
        |  quantile_cont(n_chars, 0.25) AS p25,
        |  quantile_cont(n_chars, 0.5) AS p50,
        |  quantile_cont(n_chars, 0.75) AS p75
        |FROM documents GROUP BY lang""".stripMargin,
    "q_neardup_dedup" -> (MINHASH_PAIRS +
      """, est AS (
        |  SELECT pr.doc1, pr.doc2,
        |    len(list_filter(range(16), i -> s1.sig[i+1] = s2.sig[i+1])) / 16 AS ej
        |  FROM pr JOIN sg s1 ON pr.doc1 = s1.doc_id JOIN sg s2 ON pr.doc2 = s2.doc_id
        |) SELECT d.doc_id, d.lang, d.n_chars FROM documents d
        |WHERE NOT EXISTS (SELECT 1 FROM est WHERE est.doc2 = d.doc_id AND est.ej >= 0.5)""".stripMargin),
    // connected components over the thresholded candidate edges: the
    // recursive CTE floods every reachable label, min() per doc is then
    // exactly the min-label-propagation fixpoint the Spark side iterates to
    "q_neardup_components" ->
      (NEARDUP_REACH + " SELECT doc_id, min(lbl) AS component FROM reach GROUP BY doc_id"),
    // keep-best policy: longest doc per duplicate cluster (n_chars desc,
    // doc_id asc) — same component labels as q_neardup_components
    "q_neardup_keepbest" -> (NEARDUP_REACH +
      """, comp AS (
        |  SELECT doc_id, min(lbl) AS component FROM reach GROUP BY doc_id
        |), rk AS (
        |  SELECT d.doc_id, d.lang, d.n_chars, comp.component,
        |    row_number() OVER (PARTITION BY comp.component
        |      ORDER BY d.n_chars DESC, d.doc_id ASC) AS rk
        |  FROM documents d JOIN comp USING (doc_id)
        |) SELECT doc_id, lang, n_chars, component FROM rk WHERE rk = 1""".stripMargin),
    // snapshot diff: statuses from content-hash comparison over the same
    // deterministic old/new derivation the engine runs
    "q_corpus_diff" ->
      """WITH o AS (
        |  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 7 <> 0
        |), n AS (
        |  SELECT doc_id,
        |    md5(CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END) AS h
        |  FROM documents WHERE doc_id % 5 <> 0
        |) SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added' WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN o.h IS NOT DISTINCT FROM n.h THEN 'unchanged' ELSE 'changed' END AS status
        |FROM o FULL JOIN n ON o.doc_id = n.doc_id""".stripMargin,
    // duplicate-cluster size census: components → sizes → size histogram
    "q_component_sizes" -> (NEARDUP_REACH +
      """, comp AS (
        |  SELECT doc_id, min(lbl) AS component FROM reach GROUP BY doc_id
        |), csz AS (
        |  SELECT component, count(*) AS component_size FROM comp GROUP BY component
        |) SELECT component_size, count(*) AS n_components
        |FROM csz GROUP BY component_size""".stripMargin),
    "q_ann_topk_lsh" -> (EMB + LSH_SIG +
      """, bnd AS (
        |  SELECT vec_id, CAST(b AS INTEGER) AS band, bands[b+1] AS band_key
        |  FROM sig, (SELECT unnest(range(4)) AS b) t
        |), cand AS (
        |  SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS c_id
        |  FROM bnd q JOIN bnd c ON q.band = c.band AND q.band_key = c.band_key
        |  WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
        |), sc AS (
        |  SELECT q_id, c_id,
        |    list_sum(list_transform(range(len(e1.embedding)), i ->
        |      CAST(e1.embedding[i+1] AS DOUBLE) * CAST(e2.embedding[i+1] AS DOUBLE))) / (e1.nrm * e2.nrm) AS cosine
        |  FROM cand JOIN e e1 ON cand.q_id = e1.vec_id JOIN e e2 ON cand.c_id = e2.vec_id
        |), rk AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id ASC) AS INTEGER) AS rank
        |  FROM sc
        |) SELECT q_id, c_id, cosine, rank FROM rk WHERE rank <= 5""".stripMargin),
    // eval slice = doc_id % 97 = 0; overlap counted on the portable
    // md5-uint32 shingle hashes (== graft_shingle_hash); per-doc shingles
    // are distinct and the eval set is dedup'd, so count(*) == overlap
    "q_decontaminate" -> (SH +
      s""", hsh AS (
        |  SELECT doc_id, list_transform(shingles, s -> ${h32("s")}) AS hs FROM sh
        |), ev AS (
        |  SELECT DISTINCT unnest(hs) AS shingle_hash FROM hsh WHERE doc_id % 97 = 0
        |), tr AS (
        |  SELECT doc_id, hs FROM hsh WHERE doc_id % 97 <> 0
        |), ex AS (
        |  SELECT doc_id, unnest(hs) AS shingle_hash FROM tr
        |), ov AS (
        |  SELECT ex.doc_id, count(*) AS n_overlap
        |  FROM ex JOIN ev USING (shingle_hash) GROUP BY ex.doc_id
        |) SELECT tr.doc_id, CAST(len(tr.hs) AS INTEGER) AS n_shingles,
        |  CAST(coalesce(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
        |  coalesce(ov.n_overlap, 0) >= 2 AS contaminated
        |FROM tr LEFT JOIN ov ON tr.doc_id = ov.doc_id""".stripMargin),
    // fuzzy twin over MINHASH_PAIRS's sg/bd chain (its pr CTE goes unused
    // here — candidates pair TRAIN bands with EVAL bands instead of
    // self-joining); est_jaccard is the standing len(list_filter)/16 form
    "q_decontaminate_fuzzy" -> (MINHASH_PAIRS +
      s""", cand AS (
        |  SELECT DISTINCT t.doc_id AS doc_id, e.doc_id AS eval_id
        |  FROM bd t JOIN bd e ON t.b = e.b AND t.band_key = e.band_key
        |  WHERE t.doc_id % $DECON_EVAL_MOD <> 0 AND e.doc_id % $DECON_EVAL_MOD = 0
        |), ver AS (
        |  SELECT c.doc_id, c.eval_id,
        |    len(list_filter(range(16), i -> ts.sig[i+1] = es.sig[i+1])) / 16 AS est_jaccard
        |  FROM cand c
        |  JOIN sg ts ON ts.doc_id = c.doc_id
        |  JOIN sg es ON es.doc_id = c.eval_id
        |), fl AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_eval_matches,
        |    max(est_jaccard) AS max_est_jaccard
        |  FROM ver WHERE est_jaccard >= 0.5 GROUP BY doc_id
        |) SELECT t.doc_id,
        |  CAST(coalesce(fl.n_eval_matches, 0) AS BIGINT) AS n_eval_matches,
        |  coalesce(fl.max_est_jaccard, 0.0) AS max_est_jaccard,
        |  coalesce(fl.n_eval_matches, 0) > 0 AS contaminated
        |FROM (SELECT doc_id FROM sg WHERE doc_id % $DECON_EVAL_MOD <> 0) t
        |LEFT JOIN fl USING (doc_id)""".stripMargin),
    // the drop ACTION: both gate chains (exact hashed-shingle overlap at
    // the action-grade minOverlap=8, fuzzy signature agreement at 0.5) over the SAME
    // interpolated eval split, anti-filtered against documents — MINHASH's
    // sg/bd CTEs feed the fuzzy leg, the hsh/ev/ex/ov chain (same shapes
    // as q_decontaminate, at this split) feeds the exact leg
    "q_decontaminate_drop" -> (MINHASH_PAIRS +
      s""", hsh AS (
        |  SELECT doc_id, list_transform(shingles, s -> ${h32("s")}) AS hs FROM sh
        |), ev AS (
        |  SELECT DISTINCT unnest(hs) AS shingle_hash FROM hsh
        |  WHERE doc_id % $DECON_EVAL_MOD = 0
        |), ex AS (
        |  SELECT doc_id, unnest(hs) AS shingle_hash FROM hsh
        |  WHERE doc_id % $DECON_EVAL_MOD <> 0
        |), ov AS (
        |  SELECT ex.doc_id, count(*) AS n_overlap
        |  FROM ex JOIN ev USING (shingle_hash) GROUP BY ex.doc_id
        |), cand AS (
        |  SELECT DISTINCT t.doc_id AS doc_id, e.doc_id AS eval_id
        |  FROM bd t JOIN bd e ON t.b = e.b AND t.band_key = e.band_key
        |  WHERE t.doc_id % $DECON_EVAL_MOD <> 0 AND e.doc_id % $DECON_EVAL_MOD = 0
        |), ver AS (
        |  SELECT c.doc_id,
        |    len(list_filter(range(16), i -> ts.sig[i+1] = es.sig[i+1])) / 16 AS est_jaccard
        |  FROM cand c
        |  JOIN sg ts ON ts.doc_id = c.doc_id
        |  JOIN sg es ON es.doc_id = c.eval_id
        |) SELECT d.doc_id, d.lang, d.n_chars
        |FROM documents d
        |WHERE d.doc_id % $DECON_EVAL_MOD <> 0
        |  AND d.doc_id NOT IN (SELECT doc_id FROM ov WHERE n_overlap >= 8)
        |  AND d.doc_id NOT IN (SELECT doc_id FROM ver WHERE est_jaccard >= 0.5)""".stripMargin),
    "q_datamix" -> (TOK +
      """, pl AS (
        |  SELECT lang, count(*) AS n_docs, CAST(sum(len(toks)) AS BIGINT) AS n_tokens
        |  FROM tok GROUP BY lang
        |), t AS (
        |  SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens FROM pl
        |) SELECT lang, n_docs, n_tokens,
        |  CAST(n_tokens AS DOUBLE) / CAST(tot_tokens AS DOUBLE) AS actual_share,
        |  CAST(CASE WHEN lang = 'en' THEN 40 ELSE 15 END AS DOUBLE)
        |    / CAST(100 AS DOUBLE) AS target_share,
        |  (CAST(CASE WHEN lang = 'en' THEN 40 ELSE 15 END AS DOUBLE)
        |    / CAST(100 AS DOUBLE))
        |    / (CAST(n_tokens AS DOUBLE) / CAST(tot_tokens AS DOUBLE)) AS weight
        |FROM pl, t""".stripMargin),
    "q_pack_manifest" -> (TOK +
      """, tk AS (
        |  SELECT doc_id, lang, CAST(len(toks) AS INTEGER) AS n_tokens FROM tok
        |), cb AS (
        |  SELECT doc_id, lang, n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
        |  FROM tk
        |) SELECT lang, cum_before // 512 AS pack_id, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc,
        |  CAST(sum(n_tokens) AS DOUBLE) / CAST(512 AS DOUBLE) AS fill
        |FROM cb GROUP BY lang, cum_before // 512""".stripMargin),
    "q_length_filter" ->
      """WITH b AS (
        |  SELECT quantile_cont(n_chars, 0.01) AS lo, quantile_cont(n_chars, 0.99) AS hi
        |  FROM documents
        |) SELECT doc_id, n_chars FROM documents, b
        |WHERE n_chars >= lo AND n_chars <= hi""".stripMargin,
    "q_customer_quartiles" ->
      """SELECT c_custkey, c_mktsegment, c_acctbal,
        |  CAST(ntile(4) OVER (PARTITION BY c_mktsegment
        |    ORDER BY c_acctbal, c_custkey) AS INTEGER) AS quartile
        |FROM customer""".stripMargin,
    "q_orders_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(grouping(o_orderstatus) AS INTEGER) AS g_status,
        |  CAST(grouping(o_orderpriority) AS INTEGER) AS g_priority,
        |  count(*) AS n_orders,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS total_price
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin,
    "q_customer_standing" ->
      """SELECT c_custkey, c_mktsegment, c_acctbal,
        |  percent_rank() OVER (PARTITION BY c_mktsegment
        |    ORDER BY c_acctbal, c_custkey) AS pct_rank,
        |  cume_dist() OVER (PARTITION BY c_mktsegment
        |    ORDER BY c_acctbal, c_custkey) AS cume
        |FROM customer""".stripMargin,
    // exact because the aggregator's capacity exceeds the vocabulary —
    // the (-count, token) output order matches the window's tiebreak
    "q_spacesaving_topk" -> (TOK +
      """, ex AS (SELECT unnest(toks) AS token FROM tok),
        |c AS (SELECT token, count(*) AS cnt FROM ex GROUP BY token)
        |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, token) AS INTEGER) AS rank,
        |  token, cnt
        |FROM c ORDER BY cnt DESC, token LIMIT 10""".stripMargin),
    // over-capacity regime: the mergeable-summaries guarantee says any key
    // with exact count > 2εN is reported within ±εN — those flags are
    // deterministic, so the oracle emits literal TRUE for each key above
    // the threshold under the same deterministic amplification
    "q_spacesaving_approx" -> (TOK +
      """, ex AS (SELECT unnest(toks) AS token FROM tok),
        |amp AS (
        |  SELECT ex.token FROM ex CROSS JOIN range(201) r(i)
        |  WHERE r.i < CASE ex.token WHEN 'join' THEN 201 WHEN 'hash' THEN 51 ELSE 1 END
        |), c AS (SELECT token, count(*) AS cnt FROM amp GROUP BY token),
        |t AS (SELECT count(*) AS n FROM amp)
        |SELECT token, cnt AS exact_cnt, TRUE AS reported, TRUE AS within_eps
        |FROM c, t WHERE cnt * 16 > 2 * n""".stripMargin),
    // rank-based seed + the same two Lloyd passes as q_ann_topk_ivf_trained
    // (shared per-iteration SQL emitter — structurally identical by
    // construction), then assignment CTEs as q_ann_topk_ivf; drop = larger
    // id of any within-cluster pair clearing the cosine threshold
    // (keep-min greedy). Centroid count mirrors the engine's auto-sizing:
    // k = max(8, ceil(n/2048)) — at the sf0.01 gate n < 2048·8 so k = 8,
    // the historical layout; at larger SFs both sides grow k together AND
    // train the codebook, so clusters stay balanced (Σ cluster² ≈ linear)
    "q_semantic_dedup" -> (EMB +
      seedCentsSql("cents0",
        "SELECT greatest(8, CAST(ceil(count(*) / 2048.0) AS BIGINT)) FROM embeddings") +
      lloydIterSql(0, prev = "cents0", out = "cents1") +
      lloydIterSql(1, prev = "cents1", out = "cents") +
      """, ar AS (
        |  SELECT e.vec_id, c.cent_id,
        |    CAST(row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |      list_sum(list_transform(range(len(e.embedding)), i ->
        |        CAST(e.embedding[i+1] AS DOUBLE) * CAST(c.cent_emb[i+1] AS DOUBLE))) / (e.nrm * c.cent_nrm) DESC,
        |      c.cent_id ASC) AS INTEGER) AS arank
        |  FROM e, cents c
        |), assign AS (
        |  SELECT vec_id AS member_id, cent_id AS cluster FROM ar WHERE arank = 1
        |), drops AS (
        |  SELECT DISTINCT a2.member_id AS vec_id
        |  FROM assign a1
        |  JOIN assign a2 ON a1.cluster = a2.cluster AND a1.member_id < a2.member_id
        |  JOIN e e1 ON a1.member_id = e1.vec_id
        |  JOIN e e2 ON a2.member_id = e2.vec_id
        |  WHERE list_sum(list_transform(range(len(e1.embedding)), i ->
        |      CAST(e1.embedding[i+1] AS DOUBLE) * CAST(e2.embedding[i+1] AS DOUBLE)))
        |    / (e1.nrm * e2.nrm) >= 0.35
        |) SELECT a.member_id AS vec_id, a.cluster FROM assign a
        |WHERE a.member_id NOT IN (SELECT vec_id FROM drops)""".stripMargin),
    // DECIMAL-routed tf-weighted ln sums (order-proof, == per-occurrence
    // fold exactly) + 6 dp rounding (ln ulp drift)
    "q_unigram_logprob" -> (TOK +
      """, ex AS (SELECT doc_id, unnest(toks) AS token FROM tok),
        |tfr AS (SELECT doc_id, token, count(*) AS tf FROM ex GROUP BY doc_id, token),
        |v AS (SELECT token, CAST(sum(tf) AS BIGINT) AS ctf FROM tfr GROUP BY token),
        |t AS (SELECT CAST(sum(ctf) AS BIGINT) AS tot FROM v),
        |d AS (
        |  SELECT tfr.doc_id, CAST(sum(tfr.tf) AS BIGINT) AS n_tokens,
        |    sum(CAST(tfr.tf AS DECIMAL(12,0)) * CAST(ln(CAST(v.ctf AS DOUBLE)) AS DECIMAL(16,12))) AS sum_ln_tf
        |  FROM tfr JOIN v USING (token) GROUP BY tfr.doc_id
        |) SELECT doc_id, n_tokens,
        |  round(CAST(sum_ln_tf AS DOUBLE) / n_tokens - ln(CAST(tot AS DOUBLE)), 6) AS avg_logprob
        |FROM d, t""".stripMargin),
    // same DECIMAL routing as q_unigram_logprob; the ln arguments combine
    // exact BIGINT counts in DOUBLE with the identical left-assoc shape as
    // the Spark side, so operand bits match before ln runs
    "q_bigram_logprob" -> (TOK +
      """, bd AS (SELECT doc_id, toks FROM tok WHERE len(toks) >= 2),
        |bgu AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |    i -> {'w1': toks[i], 'w2': toks[i+1]})) AS b
        |  FROM bd
        |), tf AS (
        |  SELECT doc_id, b.w1 AS w1, b.w2 AS w2, count(*) AS tf
        |  FROM bgu GROUP BY 1, 2, 3
        |), c12 AS (
        |  SELECT w1, w2, CAST(sum(tf) AS BIGINT) AS c12 FROM tf GROUP BY 1, 2
        |), uni AS (
        |  SELECT u.token, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(toks) AS token FROM tok) u GROUP BY 1
        |), tt AS (SELECT CAST(sum(c) AS BIGINT) AS tot FROM uni),
        |d AS (
        |  SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_bigrams,
        |    sum(CAST(tf.tf AS DECIMAL(12,0)) * (
        |      CAST(ln(3.0 * CAST(c12.c12 AS DOUBLE) * CAST(tt.tot AS DOUBLE)
        |             + CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE)) AS DECIMAL(16,12)) -
        |      CAST(ln(4.0 * CAST(u1.c AS DOUBLE) * CAST(tt.tot AS DOUBLE)) AS DECIMAL(16,12)))) AS s
        |  FROM tf
        |  JOIN c12 USING (w1, w2)
        |  JOIN uni u1 ON u1.token = tf.w1
        |  JOIN uni u2 ON u2.token = tf.w2, tt
        |  GROUP BY tf.doc_id
        |) SELECT doc_id, n_bigrams,
        |  round(CAST(s AS DOUBLE) / n_bigrams, 6) AS avg_logprob FROM d""".stripMargin),
    // CTE chain shared with the filter action — see TRIGRAM_SC's doc
    "q_trigram_logprob" -> (TRIGRAM_SC +
      """ SELECT doc_id, n_trigrams, avg_logprob FROM sc""".stripMargin),
    // threshold = exact-DECIMAL mean of the 6dp scores − 0.1 nats (the
    // registered slack), one IEEE division then 6 dp rounding — identical
    // shape on the Spark side, so the cutoff matches bit-for-bit;
    // <3-token docs have no score and are dropped by construction
    "q_perplexity_filter" -> (TRIGRAM_SC +
      """, cut AS (
        |  SELECT round(CAST(sum(CAST(avg_logprob AS DECIMAL(16,6))) AS DOUBLE)
        |               / count(*) - 0.1, 6) AS cutoff FROM sc
        |) SELECT sc.doc_id, sc.n_trigrams, sc.avg_logprob, cut.cutoff
        |FROM sc, cut WHERE sc.avg_logprob >= cut.cutoff""".stripMargin),
    // quality predicate mirrors q_quality; int/int division is true
    // division (→ DOUBLE) in both engines
    "q_source_reputation" ->
      """WITH tq AS (
        |  SELECT doc_id, source, n_chars, md5(text) AS content_hash,
        |    CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS INTEGER) AS n_tokens,
        |    CAST(len(list_distinct(regexp_split_to_array(trim(lower(text)), '\s+'))) AS INTEGER) AS n_unique
        |  FROM documents
        |), cp AS (
        |  SELECT content_hash, count(*) AS n_copies FROM tq GROUP BY content_hash
        |) SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
        |  CAST(sum(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS dup_rate,
        |  CAST(sum(CASE WHEN n_tokens >= 10 AND n_unique / n_tokens > 0.2
        |           THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS quality_rate,
        |  CAST(sum(n_chars) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_chars
        |FROM tq JOIN cp USING (content_hash)
        |GROUP BY source""".stripMargin,
    "q_pack_sequences" -> (TOK +
      """, tk AS (
        |  SELECT doc_id, lang, CAST(len(toks) AS INTEGER) AS n_tokens FROM tok
        |), cb AS (
        |  SELECT doc_id, lang, n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
        |  FROM tk
        |) SELECT doc_id, lang, n_tokens, cum_before,
        |  cum_before // 512 AS pack_id, cum_before % 512 AS offset_in_pack
        |FROM cb""".stripMargin),
    // the full prep funnel: quality gate -> exact-dedup keep-min ->
    // stratified sample -> pack — stage predicates identical to the
    // standalone q_quality / q_dedup_exact / q_stratified_sample /
    // q_pack_sequences oracles
    "q_corpus_prep" -> (TOK +
      s""", q AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_tokens,
        |      CAST(len(list_distinct(toks)) AS INTEGER) AS n_unique
        |    FROM tok
        |  ) WHERE n_tokens >= 10 AND n_unique / n_tokens > 0.2
        |), keep AS (
        |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
        |), samp AS (
        |  SELECT doc_id FROM documents
        |  WHERE ${h32("text")} % 100 < CASE WHEN lang = 'en' THEN 50 ELSE 100 END
        |), surv AS (
        |  SELECT t.doc_id, t.lang, CAST(len(t.toks) AS INTEGER) AS n_tokens FROM tok t
        |  WHERE t.doc_id IN (SELECT doc_id FROM q)
        |    AND t.doc_id IN (SELECT doc_id FROM keep)
        |    AND t.doc_id IN (SELECT doc_id FROM samp)
        |), cb AS (
        |  SELECT doc_id, lang, n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
        |  FROM surv
        |) SELECT doc_id, lang, n_tokens, cum_before,
        |  cum_before // 512 AS pack_id, cum_before % 512 AS offset_in_pack
        |FROM cb""".stripMargin),
    "q_stratified_sample" ->
      s"""SELECT doc_id, lang,
        |  CASE WHEN lang = 'en' THEN 50 ELSE 100 END AS keep_rate
        |FROM documents
        |WHERE ${h32("text")} % 100 < CASE WHEN lang = 'en' THEN 50 ELSE 100 END""".stripMargin,
    // quantization arithmetic mirrored op-for-op: q = round(x / (amax/127))
    "q_embed_quantize" ->
      """WITH s AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax
        |  FROM embeddings
        |) SELECT vec_id,
        |  CASE WHEN amax = 0 THEN 0.0 ELSE amax / 127 END AS scale,
        |  array_to_string(list_transform(embedding, x ->
        |    CAST(round(CASE WHEN amax = 0 THEN CAST(0 AS DOUBLE)
        |                    ELSE CAST(x AS DOUBLE) / (amax / 127) END) AS INTEGER)), ',') AS qvec_str
        |FROM s""".stripMargin,
    // NOTE: session_window splits on the FULL-precision gap (> 1800s in
    // microseconds), not the reference's floor-seconds diff — its oracle
    // therefore uses epoch_us arithmetic, unlike the SESS family. The two
    // rules diverge for fractional gaps in (1800s, 1801s). At a gap of
    // EXACTLY 1800.000000s both merge (strict `>` split on both sides;
    // pinned by the exact-gap boundary test in StreamingSpec).
    "q_tfidf" -> (TOK +
      """, ex AS (SELECT doc_id, unnest(toks) AS token FROM tok),
        |tfq AS (SELECT doc_id, token, count(*) AS tf FROM ex GROUP BY doc_id, token),
        |dfq AS (SELECT token, count(*) AS df FROM tfq GROUP BY token)
        |SELECT t.doc_id, t.token, t.tf, d.df
        |FROM tfq t JOIN dfq d ON t.token = d.token""".stripMargin),
    // double literals written as CAST(... AS DOUBLE) arithmetic so DuckDB
    // computes the same IEEE chain (its bare decimals parse as DECIMAL);
    // only ln() can drift (last ulp), absorbed by round(..., 6)
    "q_bm25" -> (TOK +
      """, ex AS (SELECT doc_id, unnest(toks) AS token FROM tok),
        |tfq AS (SELECT doc_id, token, count(*) AS tf FROM ex GROUP BY doc_id, token),
        |dfq AS (SELECT token, count(*) AS df FROM tfq GROUP BY token),
        |dlq AS (SELECT doc_id, CAST(len(toks) AS INTEGER) AS dl FROM tok),
        |st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dlq),
        |j AS (
        |  SELECT t.doc_id, t.token, t.tf, d.df, l.dl, s.n_docs, s.avgdl
        |  FROM tfq t JOIN dfq d ON t.token = d.token
        |    JOIN dlq l ON t.doc_id = l.doc_id, st s
        |) SELECT doc_id, token, tf, df, dl,
        |  round(
        |    ln(CAST(1.0 AS DOUBLE) + (n_docs - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE)))
        |    * (tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
        |    / (tf + CAST(1.2 AS DOUBLE) *
        |        ((CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)) + CAST(0.75 AS DOUBLE) * dl / avgdl)),
        |  6) AS score_r6
        |FROM j""".stripMargin),
    "q_cms_counts" -> (TOK +
      s""", ex AS (SELECT unnest(toks) AS token FROM tok),
        |cnt AS (SELECT token, count(*) AS exact, ${h32("token")} AS h FROM ex GROUP BY token),
        |bk AS (
        |  SELECT token, exact, j, ((2*j+1) * h + (104729*j + 12345)) % 4294967311 % 256 AS b
        |  FROM cnt, (SELECT unnest(range(4)) AS j) js
        |), colls AS (
        |  SELECT x.token, x.j, CAST(sum(y.exact) AS BIGINT) AS e
        |  FROM bk x JOIN bk y ON x.j = y.j AND x.b = y.b
        |  GROUP BY x.token, x.j
        |) SELECT c.token, c.exact, m.est
        |FROM cnt c JOIN (SELECT token, min(e) AS est FROM colls GROUP BY token) m
        |  ON c.token = m.token""".stripMargin),
    // two Lloyd iterations from the seed codebook (ids < 8): sequential
    // per-dimension double folds in vec_id order, mean rounded to float,
    // empty clusters keeping their previous centroid (LEFT JOIN+COALESCE) —
    // bit-identical to Similarity.kmeansCodebook (both iterations come
    // from ONE emitter, lloydIterSql, mirroring the Scala loop body so
    // the iterations can never drift apart) — then the standard IVF
    // probe/search over the trained centroids
    "q_ann_topk_ivf_trained" -> (EMB +
      seedCentsSql("cents0", "8") +
      lloydIterSql(0, prev = "cents0", out = "cents1") +
      lloydIterSql(1, prev = "cents1", out = "cents") +
      """, ar AS (
        |  SELECT e.vec_id, c.cent_id,
        |    CAST(row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |      list_sum(list_transform(range(len(e.embedding)), i ->
        |        CAST(e.embedding[i+1] AS DOUBLE) * CAST(c.cent_emb[i+1] AS DOUBLE))) / (e.nrm * c.cent_nrm) DESC,
        |      c.cent_id ASC) AS INTEGER) AS arank
        |  FROM e, cents c
        |), assign AS (
        |  SELECT vec_id AS member_id, cent_id AS cluster FROM ar WHERE arank = 1
        |), probes AS (
        |  SELECT vec_id AS q_id, cent_id AS cluster FROM ar WHERE arank <= 2 AND vec_id < 10
        |), cand AS (
        |  SELECT DISTINCT p.q_id, a.member_id AS c_id
        |  FROM probes p JOIN assign a ON p.cluster = a.cluster
        |  WHERE p.q_id <> a.member_id
        |), sc AS (
        |  SELECT cand.q_id, cand.c_id,
        |    list_sum(list_transform(range(len(q.embedding)), i ->
        |      CAST(q.embedding[i+1] AS DOUBLE) * CAST(c.embedding[i+1] AS DOUBLE))) / (q.nrm * c.nrm) AS cosine
        |  FROM cand JOIN e q ON cand.q_id = q.vec_id JOIN e c ON cand.c_id = c.vec_id
        |), rk AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id ASC) AS INTEGER) AS rank
        |  FROM sc
        |) SELECT q_id, c_id, cosine, rank FROM rk WHERE rank <= 5""".stripMargin),
    "q_ann_topk_pq" -> pqSql,
    "q_ann_topk_ivfpq" -> ivfPqSql,
    "q_global_sessions" -> (CS +
      """, glag AS (
        |  SELECT *, lag(event_time) OVER (PARTITION BY visitorid ORDER BY event_time, itemid) AS prev_event_time FROM cs
        |), gflag AS (
        |  SELECT *, CASE WHEN prev_event_time IS NULL THEN 1
        |    WHEN epoch_us(event_time) - epoch_us(prev_event_time) > 1800000000 THEN 1
        |    ELSE 0 END AS is_new FROM glag
        |), gsess AS (
        |  SELECT *, CAST(sum(is_new) OVER (PARTITION BY visitorid ORDER BY event_time, itemid ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS snum FROM gflag
        |) SELECT visitorid, min(event_time) AS session_start,
        |  max(event_time) + INTERVAL 30 MINUTE AS session_end,
        |  count(*) AS events_in_session
        |FROM gsess GROUP BY visitorid, snum""".stripMargin),
    // batch form of the stream-stream interval join (same function, same
    // condition — streaming only adds watermarks/state eviction)
    "q_view_purchase" -> (CS +
      """ SELECT v.visitorid, v.itemid AS view_item, v.event_time AS view_time,
        |  p.itemid AS purchase_item, p.event_time AS purchase_time
        |FROM cs v JOIN cs p ON v.visitorid = p.visitorid
        | AND v.event = 'view' AND p.event = 'purchase'
        | AND p.event_time >= v.event_time
        | AND p.event_time <= v.event_time + INTERVAL 30 MINUTE""".stripMargin),
    // first-order Markov transitions: lead over the same deterministic
    // in-session order as the sessionize family; prob is ONE IEEE division
    // of two exact integers (bit-identical across engines)
    "q_event_transitions" -> (SESS +
      """, nxt AS (
        |  SELECT event, lead(event) OVER (PARTITION BY visitorid, session_id ORDER BY event_time, itemid) AS next_event
        |  FROM sid
        |), tr AS (
        |  SELECT event, next_event, count(*) AS transitions
        |  FROM nxt WHERE next_event IS NOT NULL GROUP BY event, next_event
        |) SELECT event, next_event, transitions,
        |  CAST(transitions AS DOUBLE) / CAST(sum(transitions) OVER (PARTITION BY event) AS DOUBLE) AS prob
        |FROM tr""".stripMargin),
    // within-session event trigrams: the path array uses UserPaths' struct
    // sort order (event_time, then event as tiebreak); DuckDB list indexing
    // is 1-based so i+1..i+3 over range(len-2) mirrors Spark's sequence(1,
    // len-2) with element_at i..i+2
    "q_path_trigrams" -> (SESS +
      """, paths AS (
        |  SELECT visitorid, session_id,
        |    array_agg(event ORDER BY event_time, event) AS user_path
        |  FROM sid GROUP BY visitorid, session_id
        |), tg AS (
        |  SELECT unnest(CASE WHEN len(user_path) < 3 THEN []
        |    ELSE list_transform(range(len(user_path)-2), i ->
        |      user_path[i+1] || '>' || user_path[i+2] || '>' || user_path[i+3]) END) AS trigram
        |  FROM paths
        |) SELECT trigram, count(*) AS cnt FROM tg
        |GROUP BY trigram ORDER BY cnt DESC, trigram LIMIT 20""".stripMargin),
    // integer PageRank over the minhash candidate graph: every quantity is
    // a positive BIGINT and every division a floor division, so a fixed
    // iteration count is bit-identical across engines (same no-libm rule
    // as q_priority_sample); iterations come from ONE emitter so the Scala
    // loop body and the SQL can never drift apart
    "q_doc_pagerank" -> (MINHASH_PAIRS +
      """, sym AS (
        |  SELECT doc1 AS src, doc2 AS dst FROM pr
        |  UNION ALL SELECT doc2 AS src, doc1 AS dst FROM pr
        |), deg AS (
        |  SELECT src AS node, count(*) AS outdeg FROM sym GROUP BY src
        |), base AS (
        |  SELECT node, outdeg, (SELECT count(*) FROM deg) AS n FROM deg
        |), r0 AS (
        |  SELECT node, outdeg, n, 1000000000000 // n AS rank FROM base
        |)""".stripMargin +
      pagerankIterSql(1) + pagerankIterSql(2) + pagerankIterSql(3) +
      " SELECT node AS doc_id, outdeg AS degree, rank AS rank_int FROM r3"),
    // rare-shingle-blocked exact cosine: dot products are exact integer
    // sums; cos_sim = one multiply + one divide of correctly-rounded
    // doubles — bit-identical
    "q_sparse_cosine" -> (SH +
      s""", post AS (
        |  SELECT doc_id, unnest(list_transform(shingles, s -> ${h32("s")})) AS g FROM sh
        |), rare AS (
        |  SELECT g FROM post GROUP BY g HAVING count(*) BETWEEN 2 AND 3
        |), rp AS (
        |  SELECT p.doc_id, p.g FROM post p JOIN rare r ON p.g = r.g
        |), cand AS (
        |  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
        |  FROM rp a JOIN rp b ON a.g = b.g AND a.doc_id < b.doc_id
        |), tfl AS (
        |  SELECT doc_id, unnest(list_transform(toks, t -> ${h32("t")})) AS tok FROM tok
        |), tf AS (
        |  SELECT doc_id, tok, count(*) AS cnt FROM tfl GROUP BY doc_id, tok
        |), nrm AS (
        |  SELECT doc_id, sqrt(CAST(sum(cnt*cnt) AS DOUBLE)) AS nrm FROM tf GROUP BY doc_id
        |), dots AS (
        |  SELECT c.doc1, c.doc2, CAST(sum(t1.cnt * t2.cnt) AS BIGINT) AS dot
        |  FROM cand c
        |  JOIN tf t1 ON t1.doc_id = c.doc1
        |  JOIN tf t2 ON t2.doc_id = c.doc2 AND t2.tok = t1.tok
        |  GROUP BY c.doc1, c.doc2
        |) SELECT d.doc1, d.doc2, d.dot,
        |  CAST(d.dot AS DOUBLE) / (n1.nrm * n2.nrm) AS cos_sim
        |FROM dots d
        |JOIN nrm n1 ON n1.doc_id = d.doc1
        |JOIN nrm n2 ON n2.doc_id = d.doc2
        |WHERE CAST(d.dot AS DOUBLE) / (n1.nrm * n2.nrm) >= 0.5""".stripMargin),
  ) ++ NEW_ANALYTICS_ORACLES

  /** One BPE training round in DuckDB: pair counts over the long-form
    * stream `tp$r(doc_id, pos, tok)`, the (count desc, pair asc) winner,
    * run-parity merge positions, and the rebuilt renumbered stream
    * `tp${r+1}` — ONE emitter mirroring the Scala loop body
    * ([[graft.ext.TextAnalysis.bpeTrainMerges]]) so rounds can't drift.
    * DuckDB positions are 1-based vs Spark's 0-based posexplode — only
    * differences and parities of positions are used, so it cancels.
    *
    * `top$r` is LEFT-joined (ON true), not CROSS-joined: on a degenerate
    * corpus whose pairs drain before `rounds` merges, `top$r` is EMPTY,
    * and a cross join would empty `tp${r + 1}` — the oracle would return
    * an empty histogram while the Spark trainer (which simply stops
    * finding winners) returns the real one. With the left join, an empty
    * winner makes `flag` false everywhere, so the round passes the stream
    * through unchanged — exactly the Spark trainer's no-winner behavior. */
  private def bpeRoundSql(r: Int): String =
    s""", pr$r AS (
       |  SELECT doc_id, pos, tok,
       |    lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
       |  FROM tp$r
       |), top$r AS (
       |  SELECT tok AS a, nxt AS b, count(*) AS c FROM pr$r WHERE nxt IS NOT NULL
       |  GROUP BY tok, nxt ORDER BY c DESC, a, b LIMIT 1
       |), fl$r AS (
       |  SELECT p.doc_id, p.pos, p.tok, t.a, t.b,
       |    COALESCE(p.tok = t.a AND p.nxt = t.b, false) AS flag,
       |    max(CASE WHEN NOT COALESCE(p.tok = t.a AND p.nxt = t.b, false) THEN p.pos END)
       |      OVER (PARTITION BY p.doc_id ORDER BY p.pos
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_unflagged,
       |    min(p.pos) OVER (PARTITION BY p.doc_id) AS first_pos
       |  FROM pr$r p LEFT JOIN top$r t ON true
       |), mg$r AS (
       |  SELECT *, flag AND ((pos - COALESCE(prev_unflagged + 1, first_pos)) % 2 = 0) AS merged
       |  FROM fl$r
       |), cs$r AS (
       |  SELECT *, COALESCE(lag(merged) OVER (PARTITION BY doc_id ORDER BY pos), false) AS consumed
       |  FROM mg$r
       |), rb$r AS (
       |  SELECT doc_id, pos, CASE WHEN merged THEN a || ' ' || b ELSE tok END AS tok
       |  FROM cs$r WHERE NOT consumed
       |), tp${r + 1} AS (
       |  SELECT doc_id,
       |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS BIGINT) AS pos,
       |    tok
       |  FROM rb$r
       |)""".stripMargin

  /** Near-dup connected-components reachability chain (recursive CTE)
    * ending in `reach(doc_id, lbl)` — shared by q_neardup_components and
    * q_component_sizes. */
  private val NEARDUP_REACH = MINHASH_PAIRS
    .replaceFirst("WITH tok", "WITH RECURSIVE tok") +
    """, est AS (
      |  SELECT pr.doc1, pr.doc2,
      |    len(list_filter(range(16), i -> s1.sig[i+1] = s2.sig[i+1])) / 16 AS ej
      |  FROM pr JOIN sg s1 ON pr.doc1 = s1.doc_id JOIN sg s2 ON pr.doc2 = s2.doc_id
      |), edges AS (
      |  SELECT doc1 AS a, doc2 AS b FROM est WHERE ej >= 0.5
      |  UNION ALL
      |  SELECT doc2 AS a, doc1 AS b FROM est WHERE ej >= 0.5
      |), reach AS (
      |  SELECT doc_id, doc_id AS lbl FROM documents
      |  UNION
      |  SELECT e.a AS doc_id, r.lbl FROM edges e JOIN reach r ON e.b = r.doc_id
      |)""".stripMargin

  /** windowFunnel CTE chain ending in `wf(visitorid, t1, t2, t3, depth)` —
    * ONE emitter shared by q_window_funnel (session-scale window) and
    * q_funnel_dropoff (day-scale window) so the funnel semantics can
    * never drift between them. */
  private def wfunnelSql(windowSeconds: Int): String = CS +
    s""", s1 AS (
      |  SELECT visitorid, min(event_time) AS t1 FROM cs WHERE event = 'view' GROUP BY visitorid
      |), s2 AS (
      |  SELECT c.visitorid, min(c.event_time) AS t2
      |  FROM cs c JOIN s1 ON c.visitorid = s1.visitorid
      |  WHERE c.event = 'click' AND c.event_time > s1.t1
      |    AND c.event_time <= s1.t1 + INTERVAL $windowSeconds SECOND
      |  GROUP BY c.visitorid
      |), s3 AS (
      |  SELECT c.visitorid, min(c.event_time) AS t3
      |  FROM cs c JOIN s2 ON c.visitorid = s2.visitorid
      |    JOIN s1 ON c.visitorid = s1.visitorid
      |  WHERE c.event = 'purchase' AND c.event_time > s2.t2
      |    AND c.event_time <= s1.t1 + INTERVAL $windowSeconds SECOND
      |  GROUP BY c.visitorid
      |), wf AS (
      |  SELECT s1.visitorid, s1.t1, s2.t2, s3.t3,
      |    CAST(CASE WHEN s3.t3 IS NOT NULL THEN 3
      |      WHEN s2.t2 IS NOT NULL THEN 2 ELSE 1 END AS INTEGER) AS depth
      |  FROM s1 LEFT JOIN s2 ON s1.visitorid = s2.visitorid
      |  LEFT JOIN s3 ON s1.visitorid = s3.visitorid
      |)""".stripMargin

  /** Per-column profile of the events table: the UNION-ALL long form of
    * ONE wide aggregate — generated from the column list so the Spark
    * (stack) and DuckDB shapes stay aligned. */
  private val PROFILE_EVENTS = {
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    val aggs = cols.map(c => s"count($c) AS nn_$c, count(DISTINCT $c) AS nd_$c").mkString(", ")
    val rows = cols.map(c =>
      s"SELECT '$c' AS column_name, n_rows, n_rows - nn_$c AS n_nulls, nd_$c AS n_distinct FROM st")
      .mkString(" UNION ALL ")
    s"WITH st AS (SELECT count(*) AS n_rows, $aggs FROM events) $rows"
  }

  private val NEW_ANALYTICS_ORACLES = Map(
    "q_profile_events" -> PROFILE_EVENTS,
    // integer minute buckets (no float bucketing); share = one IEEE
    // division of exact counts
    "q_gap_histogram" -> (SESS +
      """, gb AS (
        |  SELECT CAST(LEAST(diff_seconds // 60, 60) AS INTEGER) AS gap_minutes,
        |    count(*) AS n_gaps
        |  FROM sid WHERE diff_seconds IS NOT NULL GROUP BY 1
        |), tt AS (
        |  SELECT CAST(sum(n_gaps) AS BIGINT) AS total FROM gb
        |) SELECT gap_minutes, n_gaps,
        |  CAST(n_gaps AS DOUBLE) / CAST(total AS DOUBLE) AS share
        |FROM gb, tt""".stripMargin),
    // 3 unrolled BPE rounds from ONE emitter; base stream via
    // generate_subscripts (1-based — cancels, only position deltas and
    // run parity are used)
    "q_bpe_train" -> (TOK +
      """, tp1 AS (
        |  SELECT doc_id, CAST(generate_subscripts(toks, 1) AS BIGINT) AS pos,
        |    unnest(toks) AS tok
        |  FROM tok
        |)""".stripMargin +
      bpeRoundSql(1) + bpeRoundSql(2) + bpeRoundSql(3) +
      """ SELECT * FROM (
        |  SELECT 1 AS round, a AS left_tok, b AS right_tok, c AS cnt FROM top1
        |  UNION ALL
        |  SELECT 2 AS round, a AS left_tok, b AS right_tok, c AS cnt FROM top2
        |  UNION ALL
        |  SELECT 3 AS round, a AS left_tok, b AS right_tok, c AS cnt FROM top3)""".stripMargin),
    // the encoded corpus after the same 3 training rounds: tp4 IS the
    // stream the trained merges produce, so its token histogram is the
    // oracle for the decoupled apply path (train → collect merges →
    // per-row re-encode) on the Spark side
    "q_bpe_encode" -> (TOK +
      """, tp1 AS (
        |  SELECT doc_id, CAST(generate_subscripts(toks, 1) AS BIGINT) AS pos,
        |    unnest(toks) AS tok
        |  FROM tok
        |)""".stripMargin +
      bpeRoundSql(1) + bpeRoundSql(2) + bpeRoundSql(3) +
      " SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM tp4 GROUP BY tok"),
    // new on first-seen day, returning after; conditional sum is exact
    "q_new_vs_returning" -> (CS +
      """, fd AS (
        |  SELECT visitorid, min(CAST(event_time AS DATE)) AS first_day FROM cs GROUP BY visitorid
        |), dv AS (
        |  SELECT DISTINCT CAST(event_time AS DATE) AS day, visitorid FROM cs
        |) SELECT day, count(*) AS active_visitors,
        |  CAST(sum(CASE WHEN fd.first_day = dv.day THEN 1 ELSE 0 END) AS BIGINT) AS new_visitors,
        |  count(*) - CAST(sum(CASE WHEN fd.first_day = dv.day THEN 1 ELSE 0 END) AS BIGINT) AS returning_visitors
        |FROM dv JOIN fd ON dv.visitorid = fd.visitorid GROUP BY day""".stripMargin),
    // TPC-H Q5 semantics; money through per-row DECIMAL(18,4) cast like
    // q_pricing_summary
    "q_local_supplier_volume" ->
      """SELECT n.n_name,
        |  CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  count(*) AS n_lineitems
        |FROM orders o
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey AND s.s_nationkey = c.c_nationkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_name = 'ASIA'
        |  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o.o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n.n_name""".stripMargin,
    // RANGE frame keyed on integer epoch-day; decimal sums end-to-end
    "q_rolling_revenue" ->
      """WITH daily AS (
        |  SELECT o_custkey, epoch_us(o_orderdate)//1000000//86400 AS epoch_day,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS day_rev
        |  FROM orders GROUP BY o_custkey, epoch_day
        |) SELECT o_custkey, epoch_day,
        |  CAST(day_rev AS DOUBLE) AS day_revenue,
        |  CAST(sum(day_rev) OVER (PARTITION BY o_custkey ORDER BY epoch_day
        |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS revenue_7d
        |FROM daily""".stripMargin,
    // prefix filtering over hashed SHINGLE sets: rarest-first ordering
    // (df, value tiebreak), prefix length |d| − ceil(t·|d|) + 1, length
    // filter t·max ≤ min, exact Jaccard verify — one IEEE division of
    // exact integers
    "q_prefix_jaccard" -> (SH +
      s""", tkd AS (
        |  SELECT DISTINCT doc_id, unnest(list_transform(shingles, s -> ${h32("s")})) AS tok FROM sh
        |), szs AS (
        |  SELECT doc_id, count(*) AS sz FROM tkd GROUP BY doc_id
        |), dfr AS (
        |  SELECT tok, count(*) AS df FROM tkd GROUP BY tok
        |), pfx AS (
        |  SELECT doc_id, tok, sz, rn FROM (
        |    SELECT t.doc_id, t.tok, s.sz,
        |      row_number() OVER (PARTITION BY t.doc_id ORDER BY d.df, t.tok) AS rn
        |    FROM tkd t JOIN dfr d ON t.tok = d.tok JOIN szs s ON t.doc_id = s.doc_id)
        |  WHERE rn <= sz - CAST(ceil(0.8 * sz) AS BIGINT) + 1
        |), cand AS (
        |  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
        |  FROM pfx a JOIN pfx b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |    AND CAST(a.sz AS DOUBLE) >= 0.8 * CAST(b.sz AS DOUBLE)
        |    AND CAST(b.sz AS DOUBLE) >= 0.8 * CAST(a.sz AS DOUBLE)
        |    AND 1 + LEAST(a.sz - a.rn, b.sz - b.rn) >=
        |      CAST(ceil((0.8 / (1 + 0.8)) * (a.sz + b.sz)) AS BIGINT)
        |), ints AS (
        |  SELECT c.doc1, c.doc2, count(*) AS inter
        |  FROM cand c
        |  JOIN tkd t1 ON t1.doc_id = c.doc1
        |  JOIN tkd t2 ON t2.doc_id = c.doc2 AND t2.tok = t1.tok
        |  GROUP BY c.doc1, c.doc2
        |) SELECT i.doc1, i.doc2, i.inter,
        |  CAST(i.inter AS DOUBLE) / CAST(s1.sz + s2.sz - i.inter AS DOUBLE) AS jaccard
        |FROM ints i
        |JOIN szs s1 ON s1.doc_id = i.doc1
        |JOIN szs s2 ON s2.doc_id = i.doc2
        |WHERE CAST(i.inter AS DOUBLE) / CAST(s1.sz + s2.sz - i.inter AS DOUBLE) >= 0.8""".stripMargin),
    // population z-score of per-minute counts: n/s/s2 are exact integers,
    // every double step after them is one correctly-rounded IEEE op
    "q_minute_anomaly" -> (CS +
      """, pm AS (
        |  SELECT date_trunc('minute', event_time) AS minute, count(*) AS events_count
        |  FROM cs GROUP BY 1
        |), st AS (
        |  SELECT count(*) AS n, CAST(sum(events_count) AS BIGINT) AS s,
        |    CAST(sum(events_count*events_count) AS BIGINT) AS s2
        |  FROM pm
        |), m AS (
        |  SELECT CAST(s AS DOUBLE)/CAST(n AS DOUBLE) AS mean,
        |    CAST(s2 AS DOUBLE)/CAST(n AS DOUBLE) AS meansq FROM st
        |), v AS (
        |  SELECT mean, sqrt(GREATEST(meansq - mean*mean, 0.0)) AS stddev_pop FROM m
        |) SELECT pm.minute, pm.events_count, v.mean, v.stddev_pop,
        |  (CAST(pm.events_count AS DOUBLE) - v.mean) / nullif(v.stddev_pop, 0.0) AS z
        |FROM pm, v""".stripMargin),
    // item co-occurrence + lift over distinct (user, props.k), capped per
    // user with the same keep-smallest-k rule as the Scala side; lift is
    // one IEEE division of exact integer products
    "q_item_cooccurrence" ->
      """WITH uk0 AS (
        |  SELECT DISTINCT user_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL
        |), uk AS (
        |  SELECT user_id, k FROM (
        |    SELECT user_id, k, row_number() OVER (PARTITION BY user_id ORDER BY k) AS rn
        |    FROM uk0) WHERE rn <= 1000
        |), tot AS (
        |  SELECT k, count(*) AS users FROM uk GROUP BY k
        |), nu AS (
        |  SELECT count(DISTINCT user_id) AS n_users FROM uk
        |), pr AS (
        |  SELECT a.k AS k1, b.k AS k2, count(*) AS both_users
        |  FROM uk a JOIN uk b ON a.user_id = b.user_id AND a.k < b.k
        |  GROUP BY a.k, b.k HAVING count(*) >= 2
        |) SELECT k1, k2, both_users, t1.users AS users1, t2.users AS users2,
        |  CAST(both_users * n_users AS DOUBLE) / CAST(t1.users * t2.users AS DOUBLE) AS lift
        |FROM pr JOIN tot t1 ON t1.k = pr.k1 JOIN tot t2 ON t2.k = pr.k2, nu""".stripMargin,
    // first-view → first-purchase latency; floor-seconds difference like
    // the sessionize family's diff_seconds
    "q_conversion_latency" -> (CS +
      """, fp AS (
        |  SELECT visitorid,
        |    min(CASE WHEN event = 'view' THEN event_time END) AS first_view,
        |    min(CASE WHEN event = 'purchase' THEN event_time END) AS first_purchase
        |  FROM cs GROUP BY visitorid
        |) SELECT visitorid, first_view, first_purchase,
        |  epoch_us(first_purchase)//1000000 - epoch_us(first_view)//1000000 AS seconds_to_convert
        |FROM fp
        |WHERE first_view IS NOT NULL AND first_purchase IS NOT NULL
        |  AND first_purchase >= first_view""".stripMargin),
    // compact-forward triangle enumeration on the candidate graph: each
    // a<b<c triangle is produced exactly once; clustering = 2T/(d(d-1))
    // is one IEEE division of exact integers
    "q_doc_triangles" -> (MINHASH_PAIRS +
      """, tri AS (
        |  SELECT ab.doc1 AS a, ab.doc2 AS b, bc.doc2 AS c
        |  FROM pr ab JOIN pr bc ON ab.doc2 = bc.doc1
        |  JOIN pr ac ON ac.doc1 = ab.doc1 AND ac.doc2 = bc.doc2
        |), pn AS (
        |  SELECT x AS doc_id, count(*) AS triangles FROM (
        |    SELECT unnest([a, b, c]) AS x FROM tri) GROUP BY x
        |), dg AS (
        |  SELECT doc_id, count(*) AS degree FROM (
        |    SELECT doc1 AS doc_id FROM pr UNION ALL SELECT doc2 AS doc_id FROM pr)
        |  GROUP BY doc_id
        |) SELECT d.doc_id, d.degree,
        |  CAST(COALESCE(p.triangles, 0) AS BIGINT) AS triangles,
        |  CASE WHEN d.degree >= 2
        |    THEN CAST(COALESCE(p.triangles, 0) * 2 AS DOUBLE)
        |         / CAST(d.degree * (d.degree - 1) AS DOUBLE)
        |    ELSE 0.0 END AS clustering
        |FROM dg d LEFT JOIN pn p ON p.doc_id = d.doc_id""".stripMargin),
    // RFM quartiles: ntile(4) with custkey tiebreaks (total order), money
    // through DECIMAL(18,2); DuckDB ntile returns BIGINT → CAST INTEGER
    "q_rfm" ->
      """WITH ref AS (
        |  SELECT max(CAST(o_orderdate AS DATE)) AS ref_date FROM orders
        |), base AS (
        |  SELECT o_custkey, max(CAST(o_orderdate AS DATE)) AS last_order,
        |    count(*) AS frequency,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary_d
        |  FROM orders GROUP BY o_custkey
        |), b2 AS (
        |  SELECT o_custkey,
        |    CAST(date_diff('day', last_order, ref_date) AS INTEGER) AS recency_days,
        |    frequency, monetary_d, CAST(monetary_d AS DOUBLE) AS monetary
        |  FROM base, ref
        |), sc AS (
        |  SELECT o_custkey, recency_days, frequency, monetary,
        |    CAST(ntile(4) OVER (ORDER BY recency_days ASC, o_custkey ASC) AS INTEGER) AS r_score,
        |    CAST(ntile(4) OVER (ORDER BY frequency DESC, o_custkey ASC) AS INTEGER) AS f_score,
        |    CAST(ntile(4) OVER (ORDER BY monetary_d DESC, o_custkey ASC) AS INTEGER) AS m_score
        |  FROM b2
        |) SELECT o_custkey, recency_days, frequency, monetary,
        |  r_score, f_score, m_score,
        |  r_score * 100 + f_score * 10 + m_score AS rfm_cell
        |FROM sc""".stripMargin,
    "q_rfm_bucketed" ->
      """WITH ref AS (
        |  SELECT max(CAST(o_orderdate AS DATE)) AS ref_date FROM orders
        |), base AS (
        |  SELECT o_custkey, max(CAST(o_orderdate AS DATE)) AS last_order,
        |    count(*) AS frequency,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary_d
        |  FROM orders GROUP BY o_custkey
        |), b2 AS (
        |  SELECT o_custkey,
        |    CAST(date_diff('day', last_order, ref_date) AS INTEGER) AS recency_days,
        |    frequency, CAST(monetary_d AS DOUBLE) AS monetary
        |  FROM base, ref
        |), b AS (
        |  SELECT quantile_cont(recency_days, 0.25) AS r25,
        |    quantile_cont(recency_days, 0.50) AS r50,
        |    quantile_cont(recency_days, 0.75) AS r75,
        |    quantile_cont(frequency, 0.25) AS f25,
        |    quantile_cont(frequency, 0.50) AS f50,
        |    quantile_cont(frequency, 0.75) AS f75,
        |    quantile_cont(monetary, 0.25) AS m25,
        |    quantile_cont(monetary, 0.50) AS m50,
        |    quantile_cont(monetary, 0.75) AS m75
        |  FROM b2
        |), sc AS (
        |  SELECT o_custkey, recency_days, frequency, monetary,
        |    CAST(1 + CAST(recency_days > r25 AS INTEGER)
        |       + CAST(recency_days > r50 AS INTEGER)
        |       + CAST(recency_days > r75 AS INTEGER) AS INTEGER) AS r_score,
        |    CAST(1 + CAST(frequency < f75 AS INTEGER)
        |       + CAST(frequency < f50 AS INTEGER)
        |       + CAST(frequency < f25 AS INTEGER) AS INTEGER) AS f_score,
        |    CAST(1 + CAST(monetary < m75 AS INTEGER)
        |       + CAST(monetary < m50 AS INTEGER)
        |       + CAST(monetary < m25 AS INTEGER) AS INTEGER) AS m_score
        |  FROM b2, b
        |) SELECT o_custkey, recency_days, frequency, monetary,
        |  r_score, f_score, m_score,
        |  CAST(r_score * 100 + f_score * 10 + m_score AS INTEGER) AS rfm_cell
        |FROM sc""".stripMargin,
    "q_revenue_concentration_bucketed" ->
      """WITH rev AS (
        |  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue_d
        |  FROM orders GROUP BY o_custkey
        |), tot AS (
        |  SELECT sum(revenue_d) AS total_d FROM rev
        |), b AS (
        |  SELECT quantile_cont(CAST(revenue_d AS DOUBLE),
        |    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bounds
        |  FROM rev
        |), bk AS (
        |  SELECT CAST(1 + len(list_filter(b.bounds,
        |      x -> CAST(revenue_d AS DOUBLE) > x)) AS INTEGER) AS revenue_decile,
        |    revenue_d
        |  FROM rev, b
        |), agg AS (
        |  SELECT revenue_decile, count(*) AS n_customers, sum(revenue_d) AS rev_d
        |  FROM bk GROUP BY revenue_decile
        |) SELECT a.revenue_decile, a.n_customers,
        |  CAST(a.rev_d AS DOUBLE) AS bucket_revenue,
        |  CAST((SELECT sum(a2.rev_d) FROM agg a2
        |        WHERE a2.revenue_decile >= a.revenue_decile) AS DOUBLE)
        |    / nullif(CAST(tot.total_d AS DOUBLE), 0.0) AS cum_share,
        |  CAST(CASE WHEN
        |      CAST((SELECT sum(a2.rev_d) FROM agg a2
        |            WHERE a2.revenue_decile >= a.revenue_decile) AS DOUBLE)
        |        / nullif(CAST(tot.total_d AS DOUBLE), 0.0) <= 0.8
        |    THEN 1 ELSE 0 END AS INTEGER) AS in_top80
        |FROM agg a, tot""".stripMargin,
    // two-sample engagement z-test; the z chain is the SAME literal
    // expression as the Spark side so both engines build the same IEEE
    // op tree (nullif: zero-variance corner → NULL, not an error)
    "q_ab_test" -> (CS +
      """, pu AS (
        |  SELECT visitorid, count(*) AS x FROM cs GROUP BY visitorid
        |), asg AS (
        |  SELECT x, ('0x'||substr(md5(visitorid),1,8))::BIGINT % 2 AS variant FROM pu
        |), bv AS (
        |  SELECT variant, count(*) AS n, CAST(sum(x) AS BIGINT) AS s,
        |    CAST(sum(x * x) AS BIGINT) AS s2
        |  FROM asg GROUP BY variant
        |), a0 AS (SELECT n AS n0, s AS s0, s2 AS s20 FROM bv WHERE variant = 0),
        |a1 AS (SELECT n AS n1, s AS s1, s2 AS s21 FROM bv WHERE variant = 1)
        |SELECT n0, s0, n1, s1,
        |  CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS mean0,
        |  CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS mean1,
        |  (CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
        |   / nullif(sqrt(
        |       greatest(CAST(s20 AS DOUBLE) / CAST(n0 AS DOUBLE)
        |         - (CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)) * (CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)), 0.0)
        |         / CAST(n0 AS DOUBLE)
        |     + greatest(CAST(s21 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |         - (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) * (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)), 0.0)
        |         / CAST(n1 AS DOUBLE)), 0.0) AS z
        |FROM a0, a1""".stripMargin),
    // sequential double fold (list_reduce with a prepended 0.0 init ==
    // Spark aggregate(…, 0.0, …)) — bit-identical left-to-right EWMA
    "q_ewma_minute" -> (CS +
      """, pm AS (
        |  SELECT event, date_trunc('day', event_time) AS day,
        |    date_trunc('minute', event_time) AS minute, count(*) AS cnt
        |  FROM cs GROUP BY 1, 2, 3
        |) SELECT event, day, CAST(count(*) AS INTEGER) AS n_minutes,
        |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    array_agg(CAST(cnt AS DOUBLE) ORDER BY minute)),
        |    (acc, x) -> 0.2 * x + 0.8 * acc) AS ewma
        |FROM pm GROUP BY event, day""".stripMargin),
    // windowFunnel: greedy-earliest strictly-increasing chain within the
    // window of the first step — every stage an algebraic min agg
    "q_window_funnel" -> (wfunnelSql(1800) + " SELECT visitorid, t1, t2, t3, depth FROM wf"),
    // each visitor explodes to steps 1..depth → |steps|-row aggregate;
    // the lead window runs on |steps| rows. Day-scale window: the sparse
    // synthetic traffic needs 24 h for a non-degenerate depth distribution
    "q_funnel_dropoff" -> (wfunnelSql(86400) +
      """, st AS (
        |  SELECT unnest(range(1, depth + 1)) AS step FROM wf
        |), rc AS (
        |  SELECT CAST(step AS INTEGER) AS step, count(*) AS reached FROM st GROUP BY step
        |) SELECT step, reached,
        |  lead(reached) OVER (ORDER BY step) AS next_reached,
        |  CAST(lead(reached) OVER (ORDER BY step) AS DOUBLE) / CAST(reached AS DOUBLE) AS conversion_rate
        |FROM rc""".stripMargin),
    // blocked sorted-neighborhood: row_number within 16-bit simhash-prefix
    // blocks, each doc paired with its ≤3 successors in sort order
    "q_sorted_neighborhood" -> (SIMHASH +
      """, sr AS (
        |  SELECT doc_id, simhash, simhash >> 16 AS blk,
        |    row_number() OVER (PARTITION BY simhash >> 16 ORDER BY simhash, doc_id) AS rn
        |  FROM sim
        |), nbr AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, a.simhash AS sha, b.simhash AS shb
        |  FROM sr a JOIN sr b ON a.blk = b.blk AND b.rn BETWEEN a.rn + 1 AND a.rn + 3
        |) SELECT LEAST(da, db) AS doc1, GREATEST(da, db) AS doc2,
        |  CAST(bit_count(xor(sha, shb)) AS INTEGER) AS hamming
        |FROM nbr""".stripMargin),
    // exact decimal running sum; the only double ops are two casts and one
    // division at the end
    "q_revenue_concentration" ->
      """WITH rev AS (
        |  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue_d
        |  FROM orders GROUP BY o_custkey
        |), tot AS (
        |  SELECT sum(revenue_d) AS total_d FROM rev
        |), rk AS (
        |  SELECT o_custkey, revenue_d,
        |    CAST(row_number() OVER (ORDER BY revenue_d DESC, o_custkey ASC) AS INTEGER) AS rank,
        |    sum(revenue_d) OVER (ORDER BY revenue_d DESC, o_custkey ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_d
        |  FROM rev
        |) SELECT o_custkey, CAST(revenue_d AS DOUBLE) AS revenue, rank,
        |  CAST(cum_d AS DOUBLE) / nullif(CAST(total_d AS DOUBLE), 0.0) AS cum_share,
        |  CAST(CASE WHEN CAST(cum_d AS DOUBLE) / nullif(CAST(total_d AS DOUBLE), 0.0) <= 0.8
        |    THEN 1 ELSE 0 END AS INTEGER) AS in_top80
        |FROM rk, tot""".stripMargin,
  )

  /** One integer-PageRank iteration CTE block (== one pass of
    * [[graft.ext.GraphRank.pagerankFromPairs]]'s loop: contributions =
    * rank DIV outdeg, keyed-join + sum, damped floor-division update). */
  private def pagerankIterSql(i: Int): String =
    s""", c$i AS (
       |  SELECT node AS src, rank // outdeg AS contrib FROM r${i - 1}
       |), s$i AS (
       |  SELECT sym.dst AS node, CAST(sum(c.contrib) AS BIGINT) AS insum
       |  FROM sym JOIN c$i c ON sym.src = c.src GROUP BY sym.dst
       |), r$i AS (
       |  SELECT b.node, b.outdeg, b.n,
       |    (15 * (1000000000000 // b.n)) // 100 + (85 * s.insum) // 100 AS rank
       |  FROM base b JOIN s$i s ON b.node = s.node
       |)""".stripMargin
}
