package graft

import graft.ext.{Dedup, Multimodal, Similarity, TextAnalysis}

class ExtSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog and runs far away home", "en"),
    (1L, "the quick brown fox jumps over the lazy dog and runs far away now", "en"),  // near-dup of 0
    (2L, "completely different words about spark shuffles and partitions here yes", "en"),
    (3L, "the quick brown fox jumps over the lazy dog and runs far away home", "en")) // exact dup of 0
    .toDF("doc_id", "text", "lang")

  test("exact dedup groups duplicates under the minimum doc_id") {
    val groups = Dedup.exactGroups(docs).collect()
    assert(groups.length === 3)
    val dup = groups.find(_.getAs[Long]("n_copies") == 2L).get
    assert(dup.getAs[Long]("keep_doc_id") === 0L)
  }

  test("minhash LSH finds the planted near-duplicate pair, not the unrelated doc") {
    val pairs = Dedup.minhashCandidatePairs(docs).collect()
      .map(r => (r.getAs[Long]("doc1"), r.getAs[Long]("doc2"), r.getAs[Double]("est_jaccard")))
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((0L, 1L)))   // near-dup found
    assert(keys.contains((0L, 3L)))   // exact dup found with est 1.0
    assert(pairs.find(p => (p._1, p._2) == (0L, 3L)).get._3 === 1.0)
    assert(!keys.exists(p => p._1 == 2L || p._2 == 2L)) // unrelated not pulled in
  }

  test("semantic dedup drops the larger id of a near-identical embedding pair, per cluster") {
    import org.apache.spark.sql.functions.col
    // vecs 0/1 are seed centroids pointing in opposite directions; 5 is a
    // near-copy of 0 (same cluster, cosine ~1), 6 aligns with 1, unique
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(-1.0f, 0.1f)),
      (5L, Array(0.99f, 0.01f)),
      (6L, Array(-0.5f, 0.9f)))
      .toDF("vec_id", "embedding")
    val kept = Similarity.semanticDedup(emb, numCentroids = 2, threshold = 0.9)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cluster")).toMap
    assert(!kept.contains(5L))          // near-dup of 0 dropped (larger id)
    assert(kept.keySet === Set(0L, 1L, 6L))
    assert(kept(0L) === 0L && kept(6L) === 1L) // blocking respected clusters
  }

  test("unigram log-prob matches the hand-computed corpus frequencies") {
    val tiny = Seq((0L, "a a b", "en"), (1L, "c", "en")).toDF("doc_id", "text", "lang")
    val got = TextAnalysis.unigramLogProb(tiny).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Double]("avg_logprob")))).toMap
    // tf: a=2, b=1, c=1, tot=4. doc0 = (2ln2 + ln1)/3 - ln4; doc1 = -ln4
    val d0 = BigDecimal(2 * math.log(2) / 3 - math.log(4))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val d1 = BigDecimal(-math.log(4))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(0L) === ((3L, d0)))
    assert(got(1L) === ((1L, d1)))
  }

  test("bigram log-prob: interpolated adjacent-pair model, one-token docs excluded") {
    val tiny = Seq((0L, "a b a", "en"), (1L, "b c", "en"), (2L, "a", "en"))
      .toDF("doc_id", "text", "lang")
    val got = TextAnalysis.bigramLogProb(tiny).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_bigrams"), r.getAs[Double]("avg_logprob")))).toMap
    // uni: a=3 b=2 c=1, tot=6. doc0 pairs (a,b),(b,a):
    //   (a,b): ln((3*1*6 + 3*2)/(4*3*6)) = ln(1/3)
    //   (b,a): ln((3*1*6 + 2*3)/(4*2*6)) = ln(1/2)
    // doc1 pair (b,c): ln((18 + 1*2)/48) = ln(5/12). doc2: no bigrams.
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.keySet === Set(0L, 1L))
    assert(got(0L) === ((2L, r6((math.log(1.0 / 3) + math.log(0.5)) / 2))))
    assert(got(1L) === ((1L, r6(math.log(5.0 / 12)))))
  }

  test("trigram log-prob: three-way interpolation, pair-stream history counts, <3-token docs excluded") {
    val tiny = Seq((0L, "a b a", "en"), (1L, "a b c a b", "en"), (2L, "x", "en"))
      .toDF("doc_id", "text", "lang")
    val got = TextAnalysis.trigramLogProb(tiny).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_trigrams"), r.getAs[Double]("avg_logprob")))).toMap
    // uni: a=4 b=3 c=1 x=1, tot=9. pairs: (a,b)=3 (b,a)=1 (b,c)=1 (c,a)=1.
    // P = (6·c123·c2·tot + 3·c23·c12·tot + c3·c12·c2) / (10·c12·c2·tot)
    // doc0 (a,b,a): (6·1·3·9 + 3·1·3·9 + 4·3·3)/(10·3·3·9) = 279/810
    // doc1 (a,b,c): (162 + 81 + 1·3·3)/810 = 252/810
    //      (b,c,a): (6·1·1·9 + 3·1·1·9 + 4·1·1)/(10·1·1·9) = 85/90
    //      (c,a,b): (6·1·4·9 + 3·3·1·9 + 3·1·4)/(10·1·4·9) = 309/360
    // doc2: one token, no trigrams — excluded (but trains the unigram model)
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.keySet === Set(0L, 1L))
    assert(got(0L) === ((1L, r6(math.log(279.0 / 810)))))
    assert(got(1L) === ((3L, r6((math.log(252.0 / 810) + math.log(85.0 / 90) +
      math.log(309.0 / 360)) / 3))))
  }

  test("perplexity filter drops docs more than `slack` nats below the corpus-mean score") {
    // scores (from the trigram test's arithmetic): doc0 ln(279/810) ≈ -1.0661,
    // doc1 mean ≈ (-1.1676 - 0.0572 - 0.1525)/3 ≈ -0.4591; doc2 unscored.
    // mean ≈ -0.7626 → slack 0.2: cutoff ≈ -0.9626 drops doc0, keeps doc1.
    val tiny = Seq((0L, "a b a", "en"), (1L, "a b c a b", "en"), (2L, "x", "en"))
      .toDF("doc_id", "text", "lang")
    val kept = TextAnalysis.perplexityFilter(tiny, slack = 0.2).collect()
    assert(kept.map(_.getAs[Long]("doc_id")).toSet === Set(1L))
    // wide slack keeps every SCORED doc; the unscored 1-token doc never passes
    val loose = TextAnalysis.perplexityFilter(tiny, slack = 5.0).collect()
    assert(loose.map(_.getAs[Long]("doc_id")).toSet === Set(0L, 1L))
    // cutoff column is the corpus-relative bound, constant across rows
    assert(loose.map(_.getAs[Double]("cutoff")).distinct.length === 1)
  }

  test("source reputation: duplicate and quality rates roll up per source") {
    val d = Seq(
      (0L, "the quick brown fox jumps over the lazy dog and runs far away home", "en", "srcA", 67L),
      (1L, "the quick brown fox jumps over the lazy dog and runs far away home", "en", "srcA", 67L),
      (2L, "tiny doc", "en", "srcB", 8L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val rep = TextAnalysis.sourceReputation(d).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    assert(rep("srcA").getAs[Long]("n_dup_docs") === 2L) // both copies flagged
    assert(rep("srcA").getAs[Double]("dup_rate") === 1.0)
    assert(rep("srcA").getAs[Double]("quality_rate") === 1.0)
    assert(rep("srcB").getAs[Long]("n_docs") === 1L)
    assert(rep("srcB").getAs[Double]("quality_rate") === 0.0) // 2 tokens < 10
    assert(rep("srcB").getAs[Double]("avg_chars") === 8.0)
  }

  test("decontamination flags docs sharing shingles with the eval slice") {
    // eval slice = doc_id % 97 == 0 → doc 0. Doc 3 is its exact dup (full
    // overlap), doc 1 a near dup (most shingles), doc 2 unrelated (zero).
    val out = TextAnalysis.decontaminate(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_overlap"), r.getAs[Boolean]("contaminated")))).toMap
    assert(out.keySet === Set(1L, 2L, 3L)) // eval doc itself excluded
    assert(out(3L)._1 === 12L && out(3L)._2)  // 14 tokens → 12 shingles, all shared
    assert(out(1L)._2)                        // near dup crosses minOverlap=2
    assert(out(2L) === ((0L, false)))         // unrelated doc untouched
  }

  test("fuzzy decontamination flags minhash near-dups of the eval slice") {
    // eval slice = doc_id % 97 == 0 → doc 0. Doc 3 is its exact dup
    // (identical signature, est 1.0); doc 2 never shares a band (clean).
    val out = TextAnalysis.decontaminateFuzzy(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_eval_matches"), r.getAs[Double]("max_est_jaccard"),
          r.getAs[Boolean]("contaminated")))).toMap
    assert(out.keySet === Set(1L, 2L, 3L)) // eval doc itself excluded
    assert(out(3L) === ((1L, 1.0, true)))
    assert(out(2L) === ((0L, 0.0, false)))
    // the near-dup (doc 1) is a CANDIDATE (shares a band with doc 0); at a
    // permissive threshold the signature-agreement verify flags it too
    val loose = TextAnalysis.decontaminateFuzzy(docs, threshold = 0.2).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("contaminated")).toMap
    assert(loose(1L))
  }

  test("fuzzy decontamination against an EXTERNAL eval frame flags the whole corpus") {
    // external benchmark doc = copy of corpus doc 0; every corpus doc is
    // trainable in this mode (no modulo split), so docs 0 AND 3 (its exact
    // dup) both flag while 1 (near, below 0.5) and 2 (unrelated) survive
    val eval = Seq(
      (100L, "the quick brown fox jumps over the lazy dog and runs far away home", "en"))
      .toDF("doc_id", "text", "lang")
    val out = TextAnalysis.decontaminateFuzzy(docs, evalDocs = Some(eval)).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("contaminated")).toMap
    assert(out.keySet === Set(0L, 1L, 2L, 3L))
    assert(out(0L) && out(3L) && !out(2L))
    // broadcast hint GATING: forced only when the eval side is bounded
    // (external frame); the modulo slice is an unbounded corpus fraction
    // and must earn any broadcast from AQE at runtime instead
    // the analyzed plan, not optimizedPlan: EliminateResolvedHint folds
    // the hint into the Join node before optimization finishes
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    def hints(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collect { case h: ResolvedHint => h }.size
    assert(hints(TextAnalysis.decontaminateFuzzy(docs, evalDocs = Some(eval))) > 0)
    assert(hints(TextAnalysis.decontaminateFuzzy(docs)) === 0)
  }

  test("fuzzy decontamination bucket cap drops a degenerate boilerplate band") {
    // 40 identical boilerplate docs on both sides of the %97 split share
    // every band (a mega-bucket); uncapped they all flag, capped at 10 the
    // bucket dies before the join and nothing flags — bounded work at the
    // cost of recall on exactly the cluster exact-dedup should collapse
    val boiler = (0L until 40L)
      .map(i => (i, "identical boilerplate row repeated verbatim many times over", "en"))
      .toDF("doc_id", "text", "lang")
    val uncapped = TextAnalysis.decontaminateFuzzy(boiler).collect()
    assert(uncapped.count(_.getAs[Boolean]("contaminated")) === 39)
    val capped = TextAnalysis.decontaminateFuzzy(boiler, maxBucketSize = Some(10))
      .collect()
    assert(capped.length === 39) // every train doc still reported...
    assert(capped.count(_.getAs[Boolean]("contaminated")) === 0) // ...none flagged
  }

  test("decontamination drop removes docs flagged by EITHER gate, keeps the rest") {
    // eval doc 0 (%97). Doc 3 = exact dup (both gates), doc 1 = near dup
    // (shares 11 of 12 shingles — clears the action-grade minOverlap=8;
    // fuzzy verify at 0.5 does not fire for it), doc 2 = unrelated (kept),
    // doc 4 = one token (no shingles — KEPT: no evidence is not leakage)
    val withShort = docs.union(Seq((4L, "tiny", "en")).toDF("doc_id", "text", "lang"))
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text"))
    val kept = TextAnalysis.decontaminateDrop(withShort).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(kept === Set(2L, 4L))
    // output carries the surviving documents' columns, not gate internals
    val cols = TextAnalysis.decontaminateDrop(withShort).columns.toSeq
    assert(cols === Seq("doc_id", "lang", "n_chars"))
  }

  test("datamix weight rebalances a stratum toward its target share") {
    val mix = TextAnalysis.datamixWeights(
      docs, targetPct = Map("en" -> 40), defaultPct = 15).collect()
    assert(mix.length === 1) // fixture is all-en
    val r = mix.head
    assert(r.getAs[String]("lang") === "en")
    assert(r.getAs[Long]("n_docs") === 4L)
    assert(r.getAs[Double]("actual_share") === 1.0)
    assert(r.getAs[Double]("weight") === 0.4) // 0.4 target / 1.0 actual
  }

  test("pack manifest rolls the packing layout up to shard grain") {
    // 52 fixture tokens, budget 16 → packs 0 (docs 0+1), 1 (doc 2),
    // 2 (doc 3) under the streaming-chunking running-offset semantics
    val m = TextAnalysis.packManifest(docs, budgetTokens = 16)
      .orderBy("pack_id").collect()
    assert(m.map(_.getAs[Long]("n_docs")).sum === 4L)
    assert(m.map(_.getAs[Long]("pack_tokens")).sum === 52L)
    val first = m.head
    assert(first.getAs[Long]("pack_id") === 0L)
    assert(first.getAs[Long]("first_doc") === 0L)
    assert(first.getAs[Double]("fill") === first.getAs[Long]("pack_tokens") / 16.0)
  }

  test("quantile length gate drops distribution-relative outliers") {
    import org.apache.spark.sql.functions.col
    val sized = Seq((0L, 10L), (1L, 50L), (2L, 55L), (3L, 1000L))
      .toDF("doc_id", "n_chars").withColumn("n_chars", col("n_chars"))
    // p01 of [10,50,55,1000] = 11.2, p99 = 971.65 → both extremes drop
    val kept = TextAnalysis.lengthBoundsFilter(sized).collect()
      .map(_.getAs[Long]("doc_id")).sorted
    assert(kept.toSeq === Seq(1L, 2L))
  }

  test("minhash LSH skew cap bounds a degenerate bucket without losing genuine pairs") {
    // 300 IDENTICAL boilerplate docs: one mega bucket in every band, the
    // quadratic hazard the cap exists for. Two genuine near-dups (the
    // fixture texts, known to share a band) sit in a small bucket.
    val boiler = (100L until 400L)
      .map(i => (i, "the same boilerplate footer text repeated on every page", "en"))
    val planted = Seq(
      (0L, "the quick brown fox jumps over the lazy dog and runs far away home", "en"),
      (1L, "the quick brown fox jumps over the lazy dog and runs far away now", "en"))
    val skewed = (boiler ++ planted).toDF("doc_id", "text", "lang")
    // uncapped: the mega bucket alone yields C(300,2) = 44850 pairs
    assert(Dedup.minhashCandidatePairs(skewed).count() >= 44850L)
    val capped = Dedup.minhashCandidatePairs(skewed, maxBucketSize = Some(100))
      .select("doc1", "doc2").collect().map(r => (r.getLong(0), r.getLong(1)))
    // every over-cap bucket dropped: no boilerplate pair survives...
    assert(!capped.exists(_._1 >= 100L))
    // ...while the small-bucket genuine pair is untouched
    assert(capped.contains((0L, 1L)))
  }

  test("production bucket cap (10k) leaves ordinary corpora untouched") {
    val uncapped = Dedup.minhashCandidatePairs(docs)
      .select("doc1", "doc2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val prod = Dedup.minhashCandidatePairs(docs, maxBucketSize = Dedup.ProductionMaxBucketSize)
      .select("doc1", "doc2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(prod === uncapped) // the default only ever cuts degenerate mega-buckets
  }

  test("k-means sharded fold: bounded state, same means as the flat fold on skewed clusters") {
    import org.apache.spark.sql.functions.col
    // deliberately skewed assignment: 37 of 40 vectors cluster near seed 0
    val emb = spark.range(0, 40).select(col("id").as("vec_id"),
      org.apache.spark.sql.functions.expr(
        """CASE WHEN id = 1 OR id = 2 OR id = 39
          |  THEN array(CAST(10.0 + id AS FLOAT), CAST(-9.0 AS FLOAT))
          |  ELSE array(CAST(0.5 + id / 100.0 AS FLOAT), CAST(1.0 AS FLOAT)) END""".stripMargin)
        .as("embedding"))
    val base = Similarity.withNorms(emb).persist()
    // span 8 → the dominant cluster folds as 5 bounded shard groups
    val sharded = Similarity.kmeansFromBase(base, numCentroids = 2, iters = 2, shardSpan = 8)
      .orderBy("cent_id").collect()
    val flat = Similarity.kmeansFromBase(base, numCentroids = 2, iters = 2,
      shardSpan = Long.MaxValue).orderBy("cent_id").collect()
    assert(sharded.length === flat.length && sharded.nonEmpty)
    // two-level double folds reassociate additions, so compare to tolerance
    sharded.zip(flat).foreach { case (s, f) =>
      assert(s.getAs[Long]("cent_id") === f.getAs[Long]("cent_id"))
      s.getSeq[Float](1).zip(f.getSeq[Float](1)).foreach { case (a, b) =>
        assert(math.abs(a - b) <= 1e-4f, s"mean diverged: $a vs $b")
      }
    }
  }

  test("min-label propagation collapses chains into components; isolated nodes self-label") {
    import org.apache.spark.sql.functions.col
    val ids = (0L to 6L).toDF("doc_id")
    // chain 0-1-2 (0 and 2 NOT directly adjacent), pair 4-5, isolated 3 & 6;
    // edge (5,4) is deliberately reversed to exercise the symmetric union
    val edges = Seq((0L, 1L), (1L, 2L), (5L, 4L)).toDF("doc1", "doc2")
    val got = Dedup.componentsFromEdges(ids, edges, maxRounds = 10)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("component")).toMap
    assert(got === Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L,
      4L -> 4L, 5L -> 4L, 6L -> 6L))
    // a long path needs diameter rounds: maxRounds=1 must NOT fully
    // converge — the default fails loud, the opt-out returns partials
    val path = (0L until 5L).map(i => (i, i + 1)).toDF("doc1", "doc2")
    val e = intercept[IllegalStateException] {
      Dedup.componentsFromEdges((0L to 5L).toDF("doc_id"), path, maxRounds = 1)
    }
    assert(e.getMessage.contains("did not converge"))
    val partial = Dedup.componentsFromEdges((0L to 5L).toDF("doc_id"), path,
        maxRounds = 1, failOnNonConverged = false)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("component")).toMap
    // one round: neighbor-min (5→4) then one pointer jump (4's label is 3)
    assert(partial(5L) === 3L)
    val full = Dedup.componentsFromEdges((0L to 5L).toDF("doc_id"), path, maxRounds = 10)
      .collect().map(r => r.getAs[Long]("component")).toSet
    assert(full === Set(0L)) // enough rounds: the whole path is one component
  }

  test("componentsFromEdges ignores edges whose endpoints are outside ids") {
    import org.apache.spark.sql.functions.col
    // edges referencing unknown docs 90/91 must neither add output rows nor
    // leak labels into the id set (90-1 would otherwise relabel 1 as 1 still,
    // but 0-91-… chains could fabricate phantom components); output stays
    // exactly one row per ids row
    val ids = (0L to 3L).toDF("doc_id")
    val edges = Seq((0L, 1L), (90L, 2L), (3L, 91L), (90L, 91L))
      .toDF("doc1", "doc2")
    val got = Dedup.componentsFromEdges(ids, edges, maxRounds = 10)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("component")).toMap
    assert(got === Map(0L -> 0L, 1L -> 0L, 2L -> 2L, 3L -> 3L))
  }

  test("incremental rollup: merge of split states equals the one-pass rollup, any split") {
    import org.apache.spark.sql.functions.col
    import graft.ext.Incremental
    val rows = (0 until 500).map { i =>
      (i.toLong, (1700000000L + i * 86400L / 10) * 1000000000L,
        s"t${i % 3}", i * 1.25)
    }.toDF("event_id", "ts", "event_type", "value")
    val full = Incremental.eventRollup(rows).orderBy("event_type", "day").collect()
    // three-way split on an arbitrary, uneven boundary
    val parts = Seq(
      rows.filter(col("event_id") % 7 === 0),
      rows.filter(col("event_id") % 7 === 1),
      rows.filter(col("event_id") % 7 >= 2)).map(Incremental.eventRollup _)
    val merged = Incremental.mergeRollups(parts: _*).orderBy("event_type", "day").collect()
    assert(merged.length === full.length && merged.length > 0)
    merged.zip(full).foreach { case (m, f) => assert(m === f) }
  }

  test("bpe pairs: adjacent-pair counts with deterministic top-k ties") {
    val docs = Seq(
      (1L, "a b c a b"),   // pairs: "a b"×2, "b c", "c a"
      (2L, "b c"),          // "b c"
      (3L, "solo"),         // <2 tokens → contributes nothing
      (4L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.bpePairs(docs, k = 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    // "a b" and "b c" tie at 2 → lexicographic tiebreak fixes ranks
    assert(got.toSeq === Seq(("a b", 2L, 1), ("b c", 2L, 2), ("c a", 1L, 3)))
  }

  test("priority sample: k smallest (u+1)/n_chars per lang, deterministic, weight-biased") {
    val docs = (0L until 300L).map { i =>
      val lang = if (i % 3 == 0) "en" else "de"
      // long docs (weight 5000) vs short (weight 50): heavy docs should
      // dominate the sample despite being the minority
      val n = if (i % 10 == 0) 5000L else 50L
      (i, s"doc body $i", lang, n)
    }.toDF("doc_id", "text", "lang", "n_chars")
    val got = TextAnalysis.prioritySample(docs, kPerLang = 10).collect()
    assert(got.length === 20) // 10 per lang
    assert(got.groupBy(_.getAs[String]("lang")).forall(_._2.length == 10))
    // deterministic: second run identical
    val again = TextAnalysis.prioritySample(docs, kPerLang = 10).collect()
    assert(got.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
    // replays the exact selection rule: brute-force the k smallest per lang
    val md = java.security.MessageDigest.getInstance("MD5")
    def u32(s: String): Long = {
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16)
    }
    val want = (0L until 300L).map { i =>
      val lang = if (i % 3 == 0) "en" else "de"
      val n = if (i % 10 == 0) 5000L else 50L
      (i, lang, (u32(s"doc body $i") + 1).toDouble / n.toDouble)
    }.groupBy(_._2).flatMap { case (_, rows) =>
      rows.sortBy(r => (r._3, r._1)).take(10)
    }.map(r => (r._1, r._3)).toSet
    assert(got.map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("pkey"))).toSet === want)
    // weight bias: heavy docs are 10% of the corpus but most of the sample
    val heavy = got.count(_.getAs[Long]("n_chars") == 5000L)
    assert(heavy > 10, s"expected heavy docs to dominate, got $heavy/20")
  }

  test("fixpoint reached exactly at maxRounds converges via the confirmation pass") {
    // a single edge reaches the fixpoint in round 1, but the loop can only
    // certify convergence with an extra unchanged round — maxRounds=1 must
    // still succeed (sum-only confirmation pass), not throw
    val got = Dedup.componentsFromEdges(
        (0L to 1L).toDF("doc_id"), Seq((0L, 1L)).toDF("doc1", "doc2"), maxRounds = 1)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("component")).toMap
    assert(got === Map(0L -> 0L, 1L -> 0L))
  }

  test("convergence sums ride the checkpoint action: mid-batch fixpoint stops the loop " +
      "one batch earlier with identical labels") {
    // single edge: fixpoint at round 1, certified INSIDE batch 1 (s1 == s2
    // under the per-step observe metrics) — exactly ONE round checkpoint.
    // The pre-observe loop needed a second full batch to certify (its
    // per-batch sum could only compare batch boundaries). If observation
    // delivery ever regressed to the labelSum fallback, the count would be
    // 2 again and this pins it.
    var roundCkpts = 0
    val counting = new Dedup.CcHooks {
      override def ckpt(name: String, df: org.apache.spark.sql.DataFrame) = {
        if (name.startsWith("round_")) roundCkpts += 1
        super.ckpt(name, df)
      }
    }
    val got = Dedup.componentsFromEdges(
        (0L to 2L).toDF("doc_id"), Seq((0L, 1L)).toDF("doc1", "doc2"),
        maxRounds = 20, hooks = counting)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("component")).toMap
    assert(got === Map(0L -> 0L, 1L -> 0L, 2L -> 2L))
    assert(roundCkpts === 1,
      s"fixpoint at round 1 should be certified inside the first batch, got $roundCkpts round ckpts")
  }

  test("min-label propagation matches brute-force union-find on random graphs") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 3) {
      val n = 30
      val es = Seq.fill(25)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(p => p._1 != p._2)
      // union-by-min-root: the root of every set is its minimum member, so
      // find(i) IS the expected component label
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = (0 until n).map(i => i.toLong -> find(i).toLong).toMap
      val got = Dedup.componentsFromEdges(
          (0L until n.toLong).toDF("doc_id"), es.toDF("doc1", "doc2"), maxRounds = 50)
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("component")).toMap
      assert(got === want)
    }
  }

  test("k-means empty cluster re-seeds to its previous centroid (codebook never shrinks)") {
    import org.apache.spark.sql.functions.col
    // vec 1 duplicates seed 0, so the cosine tiebreak (lower cent_id) sends
    // it — and everything else, all near [1,0] — to cluster 0: cluster 1
    // finishes iteration 1 with zero members
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f)))
      .toDF("vec_id", "embedding")
    val cb = Similarity.kmeansCodebook(emb, numCentroids = 2, iters = 2)
      .orderBy(col("cent_id")).collect()
    assert(cb.length === 2) // the empty cluster did not drop out
    assert(cb(1).getAs[Long]("cent_id") === 1L)
    assert(cb(1).getSeq[Float](1) === Seq(1.0f, 0.0f)) // kept its seed centroid
  }

  test("trained codebook cache: first call writes the parquet, second call reproduces it") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dir = java.nio.file.Files.createTempDirectory("graft_cb").toString
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("cent_id")).collect().map(r =>
        (r.getAs[Long]("cent_id"), r.getSeq[Float](1))).toSeq
    val first = rows(Similarity.trainedCodebook(emb, cacheDir = Some(dir), datasetTag = "t"))
    // the k-row parquet landed under the versioned cache key
    val cached = new java.io.File(dir).listFiles().filter(_.getName.startsWith("codebook_v"))
    assert(cached.length === 1)
    // cache hit is bit-identical to the trained result (training is
    // deterministic, so this pins the read path, not luck)
    val second = rows(Similarity.trainedCodebook(emb, cacheDir = Some(dir), datasetTag = "t"))
    assert(second === first)
    val uncached = rows(Similarity.trainedCodebook(emb))
    assert(uncached === first)
  }

  test("exact jaccard on candidates: identical docs -> 1.0") {
    val j = Dedup.ngramJaccardOnCandidates(docs).collect()
      .find(r => r.getAs[Long]("doc1") == 0L && r.getAs[Long]("doc2") == 3L).get
    assert(j.getAs[Double]("jaccard") === 1.0)
  }

  test("simhash: identical docs get identical sketches, hamming 0") {
    val pairs = Dedup.simhashPairs(docs, maxHamming = 10).collect()
      .map(r => ((r.getAs[Long]("doc1"), r.getAs[Long]("doc2")), r.getAs[Int]("hamming"))).toMap
    assert(pairs((0L, 3L)) === 0)
  }

  test("simhash skew cap bounds a degenerate bucket without losing small-bucket pairs") {
    // 300 IDENTICAL boilerplate docs: identical sketches collide in every
    // band — the 256-bucket quadratic hazard VERDICT r3 flagged. A planted
    // identical pair with different text sits in its own small buckets.
    val boiler = (100L until 400L)
      .map(i => (i, "the same boilerplate footer text repeated on every page", "en"))
    val planted = Seq(
      (0L, "a distinct article about catalyst and tungsten execution engines", "en"),
      (1L, "a distinct article about catalyst and tungsten execution engines", "en"))
    val skewed = (boiler ++ planted).toDF("doc_id", "text", "lang")
    // uncapped: the mega bucket alone yields C(300,2) = 44850 hamming-0 pairs
    assert(Dedup.simhashPairs(skewed).count() >= 44850L)
    val capped = Dedup.simhashPairs(skewed, maxBucketSize = Some(100))
      .select("doc1", "doc2").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!capped.exists(_._1 >= 100L)) // every over-cap bucket dropped
    assert(capped.contains((0L, 1L)))    // small-bucket identical pair kept
  }

  test("simhash 16-bit production bands: candidates subset of the 8-bit default, dups survive") {
    val p8 = Dedup.simhashPairs(docs).select("doc1", "doc2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val p16 = Dedup.simhashPairs(docs, bitsPerBand = Dedup.ProductionSimhashBitsPerBand)
      .select("doc1", "doc2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // agreeing on a 16-bit slice implies agreeing on both its 8-bit halves,
    // so widening can only narrow the candidate set — never invent pairs
    assert(p16.subsetOf(p8))
    assert(p16.contains((0L, 3L))) // identical sketches collide in any layout
  }

  test("sign-LSH bucket cap bounds a degenerate embedding bucket, keeps small-bucket pairs") {
    // 300 identical vectors: one mega bucket in every band; a planted
    // identical pair pointing elsewhere sits in (mostly) different buckets
    val mega = (100L until 400L).map(i => (i, Array(0.5f, 1.0f, -0.25f, 0.8f)))
    val planted = Seq(
      (0L, Array(-1.0f, 0.3f, 0.9f, -0.7f)),
      (1L, Array(-1.0f, 0.3f, 0.9f, -0.7f)))
    val emb = (mega ++ planted).toDF("vec_id", "embedding")
    assert(Similarity.lshNearDupPairs(emb, threshold = 0.99, dim = 4).count() >= 44850L)
    val capped = Similarity.lshNearDupPairs(emb, threshold = 0.99, dim = 4,
        maxBucketSize = Some(100))
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!capped.exists(_._1 >= 100L)) // mega-bucket pairs gone
    assert(capped.contains((0L, 1L)))    // genuine pair survives in its small bucket
  }

  test("minhash bucket cap drops degenerate buckets, bounding pair work") {
    // cap=1: every bucket with >=2 docs (i.e. every candidate source) dropped
    val capped = Dedup.minhashCandidatePairs(docs, maxBucketSize = Some(1)).count()
    assert(capped === 0L)
    // no cap: the duplicate pairs are found
    assert(Dedup.minhashCandidatePairs(docs).count() > 0L)
  }

  test("language ID picks the dictionary with most hits") {
    val d = Seq(
      (0L, "le chat et les chiens est dans le jardin", "fr"),
      (1L, "the dog and the cat of the house is big", "en"))
      .toDF("doc_id", "text", "lang")
    val out = TextAnalysis.langId(d).orderBy("doc_id").collect()
    assert(out(0).getAs[String]("predicted_lang") === "fr")
    assert(out(1).getAs[String]("predicted_lang") === "en")
  }

  test("cosine similarity: duplicate vector ranks first with cosine 1.0") {
    val vecs = Seq(
      (0L, Array(1.0f, 2.0f, 3.0f)),
      (1L, Array(1.0f, 2.0f, 3.0f)),      // duplicate of 0
      (2L, Array(-3.0f, 0.5f, 1.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(vecs, numQueries = 1, k = 3).collect()
    assert(top.head.getAs[Long]("c_id") === 1L)
    assert(math.abs(top.head.getAs[Double]("cosine") - 1.0) < 1e-12)
  }

  test("PQ top-k: encode+ADC+rerank recovers exact cosines on hand-sized vectors") {
    // 4 vectors, ksub=4, m=2: every sub-vector seeds its own centroid and
    // Lloyd's fixes them (v3's sub0 duplicates v0's — both assign to the
    // min-id centroid, whose mean stays (1,0)), so each vector's
    // reconstruction is itself, the ADC shortlist is perfectly ordered,
    // and the exact rerank returns hand-computable cosines
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 1.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f, 1.0f)),
      (2L, Array(-1.0f, 0.0f, -1.0f, 0.0f)),
      (3L, Array(1.0f, 0.0f, 0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val top = Similarity.pqTopK(vecs, numQueries = 1, k = 3, m = 2, ksub = 4)
      .collect().sortBy(_.getAs[Int]("rank"))
    assert(top.map(_.getAs[Long]("c_id")).toSeq === Seq(3L, 1L, 2L))
    val cos = top.map(_.getAs[Double]("cosine"))
    assert(math.abs(cos(0) - 0.5) < 1e-12)  // cos(v0, v3) = 1/(√2·√2)
    assert(math.abs(cos(1) - 0.0) < 1e-12)
    assert(math.abs(cos(2) - (-1.0)) < 1e-12)
  }

  test("bm25: exact score on a hand-computed corpus") {
    // d1 = "a b a", d2 = "a c": N=2, avgdl=2.5
    val d = Seq((1L, "a b a", "en"), (2L, "a c", "en")).toDF("doc_id", "text", "lang")
    val got = TextAnalysis.bm25(d).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("token")) -> r.getAs[Double]("score"))
      .toMap
    def score(tf: Long, df: Long, dl: Int): Double = {
      val idf = math.log(1.0 + (2L - df + 0.5) / (df + 0.5))
      idf * (tf * (1.2 + 1.0)) / (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl / 2.5))
    }
    assert(got((1L, "a")) === score(2, 2, 3)) // tf=2, df=2, dl=3
    assert(got((1L, "b")) === score(1, 1, 3))
    assert(got((2L, "c")) === score(1, 1, 2))
    assert(got.size === 4)
  }

  test("count-min sketch: estimates dominate exact counts and match them when collision-free") {
    // force many partitions so partial sketches really merge
    val d = docs.repartition(8)
    val out = TextAnalysis.cmsTokenCounts(d).collect()
      .map(r => r.getAs[String]("token") -> (r.getAs[Long]("exact"), r.getAs[Long]("est"))).toMap
    out.values.foreach { case (exact, est) => assert(est >= exact) } // CMS never undercounts
    // tiny vocab in a 4x256 sketch: no collisions, estimates exact
    assert(out("the") === ((6L, 6L)))
    assert(out.values.forall { case (exact, est) => est === exact })
  }

  test("k-means codebook: one iteration pulls the centroid to the cluster mean") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),   // seeds
      (2L, Array(1.0f, 0.1f)), (3L, Array(1.0f, -0.1f)),  // cluster around seed 0
      (4L, Array(0.1f, 1.0f)))                            // joins seed 1
      .toDF("vec_id", "embedding")
    val cents = Similarity.kmeansCodebook(vecs, numCentroids = 2, iters = 1).collect()
      .map(r => r.getAs[Long]("cent_id") -> r.getSeq[Float](1)).toMap
    assert(cents.keySet === Set(0L, 1L))
    // cluster 0 = {0,2,3}: mean = (1.0, 0.0)
    assert(cents(0L)(0) === 1.0f)
    assert(math.abs(cents(0L)(1) - 0.0f) < 1e-6f)
    // cluster 1 = {1,4}: mean = (0.05, 1.0)
    assert(math.abs(cents(1L)(0) - 0.05f) < 1e-6f)
    assert(cents(1L)(1) === 1.0f)
  }

  test("int8 quantization: scale from max component, deterministic codes, zero-vector safe") {
    val vecs = Seq(
      (0L, Array(1.0f, -0.2f, 0.6f)),
      (1L, Array(0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.quantizeInt8(vecs).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Double]("scale"), r.getAs[String]("qvec_str")))).toMap
    assert(out(0L)._1 === 1.0 / 127)
    assert(out(0L)._2 === "127,-25,76") // round(±x*127) with max|x|=1
    assert(out(1L) === ((0.0, "0,0,0"))) // zero vector: scale 0, all-zero codes
  }

  test("stratified sample is deterministic and keeps full-rate strata intact") {
    val d = Seq(
      (0L, "alpha beta gamma", "en"), (1L, "delta epsilon zeta", "en"),
      (2L, "eta theta iota", "en"), (3L, "kappa lambda mu", "fr"))
      .toDF("doc_id", "text", "lang")
    val once = TextAnalysis.stratifiedSample(d).collect().map(_.getLong(0)).sorted
    val twice = TextAnalysis.stratifiedSample(d).collect().map(_.getLong(0)).sorted
    assert(once === twice)            // hash-based: no RNG, same docs every run
    assert(once.contains(3L))         // fr at 100% always kept
    val kept = TextAnalysis.stratifiedSample(d, ratesPct = Map("en" -> 0))
      .collect().map(_.getLong(0))
    assert(kept === Array(3L))        // en at 0%: only the fr doc survives
  }

  test("sequence packing: offsets accumulate in doc order, pack ids advance at the budget") {
    val d = Seq(
      (0L, "a b c", "en"),       // 3 tokens -> pack 0, offset 0
      (1L, "d e f g", "en"),     // cum 3    -> pack 0, offset 3
      (2L, "h i", "en"),         // cum 7    -> pack 0 boundary: 7 DIV 6 = 1
      (3L, "j", "fr"))           // separate stratum restarts at 0
      .toDF("doc_id", "text", "lang")
    val out = TextAnalysis.packSequences(d, budgetTokens = 6).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("pack_id"), r.getAs[Long]("offset_in_pack")))).toMap
    assert(out(0L) === ((0L, 0L)))
    assert(out(1L) === ((0L, 3L)))
    assert(out(2L) === ((1L, 1L))) // cum_before 7: next pack, straddle offset 1
    assert(out(3L) === ((0L, 0L)))
  }

  test("frame sampling: stride selection, partial last frame, empty payload emits nothing") {
    val media = Seq(
      (0L, "image/x-test", "abcdefghij".getBytes("UTF-8")), // 10 bytes, frames of 4: [abcd][efgh][ij]
      (1L, "image/x-test", Array.emptyByteArray))           // empty: no frames, no bogus sequence(0,-1)
      .toDF("doc_id", "media_type", "payload")
    val out = Multimodal.frameSample(media, frameBytes = 4, stride = 2).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("frame_idx"), r.getAs[Int]("frame_len")))
    assert(out.toSet === Set((0L, 0, 4), (0L, 2, 2))) // every 2nd frame; last is partial
  }

  test("resize stub: strided downsample lands at or under the target, empty payload survives") {
    val media = Seq(
      (0L, "image/x-test", Array.fill(600)(0xAB.toByte)),   // NON-UTF8 bytes: stride 3 -> 200 kept
      (1L, "image/x-test", "tiny".getBytes("UTF-8")),       // under target: stride 1, unchanged
      (2L, "image/x-test", Array.emptyByteArray))
      .toDF("doc_id", "media_type", "payload")
    val out = Multimodal.resizeStub(media, targetBytes = 256).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Int]("n_bytes"), r.getAs[Int]("resized_bytes"),
          r.getAs[Array[Byte]]("resized").headOption))).toMap
    assert(out(0L) === ((600, 200, Some(0xAB.toByte)))) // bytes survive verbatim
    assert(out(1L) === ((4, 4, Some('t'.toByte))))
    assert(out(2L) === ((0, 0, None)))
  }

  test("sorted-neighborhood: identical docs pair at hamming 0; window bounds pair count") {
    val out = Dedup.sortedNeighborhoodPairs(docs).collect()
      .map(r => (r.getAs[Long]("doc1"), r.getAs[Long]("doc2"), r.getAs[Int]("hamming")))
    // exact dups 0 and 3 sort adjacent → must pair with hamming 0
    assert(out.exists { case (a, b, h) => a == 0L && b == 3L && h == 0 })
    // no pair emitted twice
    assert(out.map(p => (p._1, p._2)).distinct.length === out.length)
    // window=1: within every block each doc pairs only with its successor
    val w1 = Dedup.sortedNeighborhoodPairs(docs, window = 1).collect()
    assert(w1.length <= 3) // 4 docs → at most 3 adjacent pairs across all blocks
  }

  test("multimodal decode stub: deterministic features, correct byte counts") {
    val media = Multimodal.mediaFromDocuments(docs)
    val feats = Multimodal.decodeStub(spark, media).collect().sortBy(_.doc_id)
    assert(feats.length === 4)
    assert(feats.head.n_bytes === docs.collect().head.getAs[String]("text").getBytes.length)
    assert(feats.head.feature.length === 8)
    // identical payloads -> identical features (deterministic stub)
    assert(feats(0).feature.toSeq === feats(3).feature.toSeq)
    assert(feats(0).feature.toSeq !== feats(2).feature.toSeq)
  }

  test("dup-span coverage: overlapping shared 5-grams union exactly; clean doc scores 0") {
    // docs 10/11 share the 5-grams "a b c d e" and "b c d e f":
    //   doc 10 spans start at 0,1 -> union [0,5] = 6 of 8 tokens
    //   doc 11 spans start at 1,2 -> union [1,6] = 6 of 8 tokens
    val corpus = Seq(
      (10L, "a b c d e f g h", "en"),
      (11L, "x a b c d e f y", "en"),
      (12L, "p q r s t u v w", "en"),  // no gram shared with anyone
      (13L, "a b c", "en"))            // shorter than n: 0 grams, 0 coverage
      .toDF("doc_id", "text", "lang")
    val out = Dedup.dupSpanCoverage(corpus).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("covered_tokens"),
          r.getAs[Double]("dup_coverage")))).toMap
    assert(out(10L) === ((8L, 6L, 0.75)))
    assert(out(11L) === ((8L, 6L, 0.75)))
    assert(out(12L) === ((8L, 0L, 0.0)))
    assert(out(13L) === ((3L, 0L, 0.0)))
  }

  test("dup-span coverage matches brute-force interval union on seeded random corpora") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val raw = (0 until 30).map { id =>
        val n = 3 + rnd.nextInt(22)
        (id.toLong, (0 until n).map(_ => "w" + rnd.nextInt(4)).mkString(" "))
      }
      val got = Dedup.dupSpanCoverage(raw.map { case (id, t) => (id, t, "en") }
          .toDF("doc_id", "text", "lang")).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_tokens"), r.getAs[Long]("covered_tokens")))).toMap
      val toks = raw.map { case (id, t) => id -> t.split("\\s+").toSeq }.toMap
      val grams = toks.map { case (id, ts) =>
        id -> (if (ts.size < 5) Seq.empty[(Int, Seq[String])]
               else (0 to ts.size - 5).map(s => (s, ts.slice(s, s + 5))))
      }
      val docsPerGram = grams.toSeq
        .flatMap { case (id, gs) => gs.map { case (_, g) => (g, id) } }
        .groupBy(_._1).map { case (g, xs) => g -> xs.map(_._2).distinct.size }
      val expected = toks.map { case (id, ts) =>
        val covered = scala.collection.mutable.Set[Int]()
        grams(id).foreach { case (s, g) =>
          if (docsPerGram(g) >= 2) (s until s + 5).foreach(covered += _)
        }
        id -> ((ts.size.toLong, covered.size.toLong))
      }
      assert(got === expected, s"trial $trial")
    }
  }

  test("normalized dedup collapses reformatted copies, keeps true edits apart") {
    val corpus = Seq(
      (0L, "The quick  brown fox!", "en"),
      (1L, "the quick brown fox", "en"),      // same after normalization
      (2L, "THE QUICK,\n  BROWN FOX.", "en"), // line-wrapped copy collapses too
      (3L, "the quick brown wolf", "en"),     // a real edit
      (4L, "!!!", "en"),                      // empty normalization: raw-hash fallback
      (5L, "???", "en"),                      // ...so these two must NOT merge
      (6L, null.asInstanceOf[String], "en"))  // NULL text survives as its own row
      .toDF("doc_id", "text", "lang")
    val out = Dedup.normalizedExactDedup(corpus).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("canonical_id"), r.getAs[Long]("cluster_size"),
          r.getAs[Boolean]("is_dup")))).toMap
    assert(out.size === 7)
    assert(out(0L) === ((0L, 3L, false)))
    assert(out(1L) === ((0L, 3L, true)))
    assert(out(2L) === ((0L, 3L, true)))
    assert(out(3L) === ((3L, 1L, false)))
    assert(out(4L) === ((4L, 1L, false)))
    assert(out(5L) === ((5L, 1L, false)))
    assert(out(6L) === ((6L, 1L, false)))
  }

  test("keep-best dedup elects the longest doc per cluster; corpus diff labels all statuses") {
    // docs fixture: 0,1,3 form a near-dup cluster (0 and 3 exact); 2 alone.
    // lengths equal -> doc_id asc tiebreak elects 0; 2 survives as itself
    val withChars = docs.withColumn("n_chars",
      org.apache.spark.sql.functions.length(org.apache.spark.sql.functions.col("text")))
    val kept = Dedup.dedupKeepBest(withChars).collect().map(_.getAs[Long]("doc_id")).sorted
    assert(kept.toSeq === Seq(0L, 2L))
    val old = withChars.filter($"doc_id" =!= 3L)
    val nw = withChars.filter($"doc_id" =!= 2L)
      .withColumn("text", org.apache.spark.sql.functions.when($"doc_id" === 1L,
        org.apache.spark.sql.functions.concat($"text",
          org.apache.spark.sql.functions.lit(" v2"))).otherwise($"text"))
    val st = Dedup.corpusDiff(old, nw).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("status")).toMap
    assert(st === Map(0L -> "unchanged", 1L -> "changed", 2L -> "removed", 3L -> "added"))
    // presence must come from the join, not hash nullness: a NULL-text doc
    // in both snapshots is unchanged; NULL-text present on one side only
    // still classifies by presence
    val nt = Seq((7L, null.asInstanceOf[String], "en"), (8L, null.asInstanceOf[String], "en"))
      .toDF("doc_id", "text", "lang")
    val stNull = Dedup.corpusDiff(nt, nt.filter($"doc_id" === 7L)).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("status")).toMap
    assert(stNull === Map(7L -> "unchanged", 8L -> "removed"))
  }

  test("dup-span removal cuts exactly the covered positions, keeps order") {
    val corpus = Seq(
      (10L, "a b c d e f g h", "en"),  // covered [0,5] -> keeps "g h"
      (11L, "x a b c d e f y", "en"),  // covered [1,6] -> keeps "x y"
      (12L, "p q r s t u v w", "en"),  // untouched
      (13L, "a b c", "en"))            // too short for grams -> untouched
      .toDF("doc_id", "text", "lang")
    val out = Dedup.removeDupSpans(corpus).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("scrubbed_text"), r.getAs[Long]("kept_tokens"),
          r.getAs[Long]("removed_tokens")))).toMap
    assert(out(10L) === (("g h", 2L, 6L)))
    assert(out(11L) === (("x y", 2L, 6L)))
    assert(out(12L) === (("p q r s t u v w", 8L, 0L)))
    assert(out(13L) === (("a b c", 3L, 0L)))
  }

  test("dup-span filter drops over-threshold docs, keeps clean and short ones") {
    val corpus = Seq(
      (10L, "a b c d e f g h", "en", 15L),   // coverage 0.75 -> dropped
      (11L, "x a b c d e f y", "en", 15L),   // coverage 0.75 -> dropped
      (12L, "p q r s t u v w", "en", 15L),   // 0.0 -> kept
      (13L, "a b c", "en", 5L))              // no grams -> kept
      .toDF("doc_id", "text", "lang", "n_chars")
    val kept = Dedup.dropHighDupSpanDocs(corpus).collect().map(_.getAs[Long]("doc_id")).sorted
    assert(kept.toSeq === Seq(12L, 13L))
  }

  test("pmi collocations: hand-computed score, deterministic ranking") {
    // corpus "a b a b a b": T=6 tokens, B=5 adjacent pairs,
    // c(a)=c(b)=3, c(a b)=3, c(b a)=2
    //   pmi(a b) = ln(3*6*6 / (5*3*3)) = ln(2.4)
    //   pmi(b a) = ln(2*6*6 / (5*3*3)) = ln(1.6)
    val corpus = Seq((0L, "a b a b a b", "en")).toDF("doc_id", "text", "lang")
    val out = TextAnalysis.pmiCollocations(corpus, minCount = 1L).collect()
      .map(r => (r.getAs[String]("pair"), r.getAs[Long]("pair_count"),
        r.getAs[Double]("pmi"), r.getAs[Int]("rank")))
    assert(out.toSeq === Seq(
      ("a b", 3L, BigDecimal(math.log(2.4)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, 1),
      ("b a", 2L, BigDecimal(math.log(1.6)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, 2)))
  }

  test("containment: exact-dup pair scores 1.0 both ways; near-dup is asymmetric-capable") {
    val out = Dedup.containmentOnCandidates(docs).collect()
      .map(r => ((r.getAs[Long]("doc1"), r.getAs[Long]("doc2")),
        (r.getAs[Double]("containment_1in2"), r.getAs[Double]("containment_2in1")))).toMap
    // docs 0 and 3 are exact duplicates: full containment in both directions
    assert(out((0L, 3L)) === ((1.0, 1.0)))
    // directional scores divide by each side's own shingle count
    out.values.foreach { case (c12, c21) =>
      assert(c12 > 0.0 && c12 <= 1.0 && c21 > 0.0 && c21 <= 1.0)
    }
  }

  test("chunking: stride offsets, short tail, single-chunk doc, token-faithful text") {
    val corpus = Seq(
      (0L, (1 to 60).map(i => s"t$i").mkString(" "), "en"), // 60 toks: starts 0,24,48
      (1L, "a b c", "en"))                                  // 3 toks: one chunk
      .toDF("doc_id", "text", "lang")
    val out = TextAnalysis.chunkDocuments(corpus, chunkTokens = 32, overlap = 8).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_id"),
        r.getAs[Long]("chunk_start"), r.getAs[Long]("n_chunk_tokens"),
        r.getAs[String]("chunk_text")))
      .sortBy(c => (c._1, c._2))
    assert(out.map(c => (c._1, c._2, c._3, c._4)).toSeq === Seq(
      (0L, 0, 0L, 32L), (0L, 1, 24L, 32L), (0L, 2, 48L, 12L),
      (1L, 0, 0L, 3L)))
    // overlap: chunk 1 starts 8 tokens before chunk 0 ends
    assert(out(1)._5.startsWith("t25 t26"))
    assert(out(0)._5.endsWith("t31 t32"))
    assert(out(3)._5 === "a b c")
  }

  test("chunking: a NULL-text document emits no chunks (matches the oracle's empty unnest)") {
    val corpus = Seq((0L, null.asInstanceOf[String], "en"), (1L, "a b c", "en"))
      .toDF("doc_id", "text", "lang")
    val out = TextAnalysis.chunkDocuments(corpus).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("chunk_text")))
    assert(out.toSeq === Seq((1L, "a b c")))
  }

  test("vocab growth: first-occurrence buckets, running vocabulary, short corpus") {
    val corpus = Seq(
      (0L, "a b", "en"), (1L, "a c", "en"),   // bucket 0: new a,b,c
      (2L, "b d", "en"), (3L, "d e", "en"))   // bucket 2: new d,e
      .toDF("doc_id", "text", "lang")
    val out = TextAnalysis.vocabGrowth(corpus, bucketDocs = 2L).collect()
      .map(r => (r.getAs[Long]("bucket_start"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_new_tokens"), r.getAs[Long]("n_occurrences"),
        r.getAs[Long]("vocab_size"), r.getAs[Long]("tokens_seen")))
      .sortBy(_._1)
    assert(out.toSeq === Seq((0L, 2L, 3L, 4L, 3L, 4L), (2L, 2L, 2L, 4L, 5L, 8L)))
  }

  test("key-skew profile: uniform keys hit ln(n) entropy, a constant key hits 0") {
    val uniform = (1 to 400).map(i => ("k" + (i % 8), i)).toDF("key", "v")
    val u = TextAnalysis.keySkewProfile(uniform, "key").collect().head
    assert(u.getAs[Long]("n_keys") === 8L)
    assert(u.getAs[Long]("n_rows") === 400L)
    assert(u.getAs[Double]("top1_share") === 0.125)
    assert(math.abs(u.getAs[Double]("entropy") - math.log(8)) < 1e-5)
    val constant = (1 to 50).map(i => ("only", i)).toDF("key", "v")
    val c = TextAnalysis.keySkewProfile(constant, "key").collect().head
    assert(c.getAs[Double]("entropy") === 0.0 && c.getAs[Double]("top1_share") === 1.0)
  }

  test("bottom-k sample: equals the window formulation, bounded per group, deterministic") {
    val corpus = (0L until 40L).map(i =>
      (i, s"doc number $i text", if (i % 3 == 0) "en" else "fr"))
      .toDF("doc_id", "text", "lang")
    val got = TextAnalysis.bottomKSample(corpus, k = 5).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("doc_id"), r.getAs[Int]("sample_rank")))
      .sortBy(p => (p._1, p._3))
    // brute-force reference: k smallest md5(id) per lang
    val ref = corpus.collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("doc_id")))
      .map { case (l, id) =>
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(id.toString.getBytes("UTF-8"))
        (l, id, d.map("%02x".format(_)).mkString)
      }
      .groupBy(_._1).toSeq
      .flatMap { case (l, rows) =>
        rows.sortBy(r => (r._3, r._2)).take(5).zipWithIndex
          .map { case ((_, id, _), i) => (l, id, i + 1) }
      }
      .sortBy(p => (p._1, p._3))
    assert(got.toSeq === ref)
    assert(got.count(_._1 == "en") === 5 && got.count(_._1 == "fr") === 5)
  }

  test("NearestCentroid equals the centRank window form, including tie / ragged / zero-norm edges") {
    // The narrow codegen argmax replaced `rank 1 over (cosine desc,
    // cent_id asc)` in three assignment paths (r10); this pins the
    // parity ARGUMENT from its scaladoc as an executable check on a
    // corpus built to hit every edge:
    //  - exact cosine ties (centroid 5 duplicates centroid 2 → the
    //    smaller cent_id must win),
    //  - a ragged centroid (3-dim vs the corpus's 4) whose cosine is
    //    null on both sides (window: NULLS LAST under desc; fold: skip),
    //  - a zero-norm ROW vector: ANSI Divide throws DIVIDE_BY_ZERO on a
    //    zero DIVISOR even for doubles (r11 re-verified this empirically —
    //    including the row in the window reference fails with
    //    SparkArithmeticException, pinned below rather than assumed) — so
    //    it is excluded from the reference and asserted directly against
    //    the fold's documented fallback (bid==-1 → smallest cent_id). The
    //    narrow form computing in Java (0/0 = NaN, silently skipped) is
    //    strictly more tolerant than what it replaced. The same throw-vs-
    //    skip divergence on a zero-norm CENTROID is unrepresentable:
    //    Codebook rejects degenerate norms at construction (pinned below).
    import org.apache.spark.sql.functions.{broadcast, col, expr, row_number}
    import org.apache.spark.sql.expressions.Window
    val vecs = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)), (1L, Seq(0f, 1f, 0f, 0f)),
      (2L, Seq(0.6f, 0.8f, 0f, 0f)), (3L, Seq(0f, 0f, 0f, 0f)), // zero-norm
      (4L, Seq(-1f, 0f, 0f, 0f)), (5L, Seq(0.5f, 0.5f, 0.5f, 0.5f)))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding"),
        expr("sqrt(graft_dot(embedding, embedding))").as("nrm"))
    val cents = Seq(
      (2L, Seq(1f, 0f, 0f, 0f)), (5L, Seq(1f, 0f, 0f, 0f)), // exact duplicates → tie
      (7L, Seq(0f, 1f, 0f, 0f)), (9L, Seq(0f, 0f, 1f)))      // 9 is RAGGED (3-dim)
      .toDF("cent_id", "cent_emb")
      .select(col("cent_id"), col("cent_emb"),
        expr("sqrt(graft_dot(cent_emb, cent_emb))").as("cent_nrm"))
    // the claimed throw, PINNED not assumed: the window form over the
    // zero-norm row raises ANSI DIVIDE_BY_ZERO
    def windowAssign(in: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      in.crossJoin(broadcast(cents))
        .withColumn("arank", row_number().over(
          Window.partitionBy(col("vec_id"))
            .orderBy((expr("graft_dot(embedding, cent_emb)") / (col("nrm") * col("cent_nrm"))).desc,
              col("cent_id").asc)))
        .filter(col("arank") === 1)
        .select(col("vec_id"), col("cent_id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // SparkArithmeticException is private[spark]; it extends the JDK type
    val thrown = intercept[ArithmeticException] {
      windowAssign(vecs)
    }
    assert(thrown.getMessage.contains("DIVIDE_BY_ZERO"))
    // reference: the window form the operators used through r9 (zero-norm
    // vector excluded — the division-by-zero throw just proven above)
    val win = windowAssign(vecs.filter(col("nrm") > 0))
    // actual: the codegen expression over the same collected codebook
    val rows = cents.collect().sortBy(_.getLong(0))
    val cb = new graft.functions.Codebook(
      rows.map(_.getLong(0)),
      rows.map(_.getSeq[Float](1).toArray),
      rows.map(_.getDouble(2)))
    val shim = org.apache.spark.sql.graftshim.Shim
    val narrowCol = shim.column(graft.functions.NearestCentroid(
      shim.expression(col("embedding")), shim.expression(col("nrm")), cb))
    val narrow = vecs.withColumn("cluster", narrowCol)
      .select(col("vec_id"), col("cluster"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((narrow - 3L) === win)
    // spell out the edges so a regression names itself:
    assert(narrow(0L) === 2L) // tie between duplicate centroids 2 and 5 → min id
    assert(narrow(3L) === 2L) // zero-norm vector: all-NaN fold → smallest cent_id (window form throws, pinned above)
    // the throw-vs-skip divergence on the CENTROID side is unrepresentable:
    // a zero-norm centroid is rejected at Codebook construction
    val degenerate = intercept[IllegalArgumentException] {
      new graft.functions.Codebook(Array(1L, 2L),
        Array(Array(1f, 0f), Array(0f, 0f)), Array(1.0, 0.0))
    }
    assert(degenerate.getMessage.contains("positive finite"))
    assert(narrow(1L) === 7L) // plain argmax
    assert(narrow(4L) === 7L) // negative alignment to 2/5: orthogonal 7 wins at cosine 0
    // interpreted eval matches codegen (the DataFrame run above is
    // whole-stage codegen'd; eval() is the fallback path)
    val ic = org.apache.spark.sql.catalyst.expressions.Literal.create(
      Seq(0.6f, 0.8f, 0f, 0f),
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))
    val interp = graft.functions.NearestCentroid(ic,
      org.apache.spark.sql.catalyst.expressions.Literal(1.0d), cb)
      .eval(null)
    assert(interp === 7L) // (0.6, 0.8, 0, 0): cosine 0.8 with centroid 7 beats 0.6 with 2
  }
}
