package graft

import graft.ext.{TextAnalysis, TopK}

/** Scale-pattern evidence: bounded-state heavy hitters and bucketed
  * (shuffle-free) joins. */
class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("space-saving top-k is exact when capacity covers the hot keys") {
    // skewed stream: key i appears (20 - i) times
    val items = (0 until 20).flatMap(i => Seq.fill(20 - i)(s"k$i"))
    val ds = spark.sparkContext.parallelize(scala.util.Random.shuffle(items), 4).toDS()
    val got = TopK.heavyHitters(ds, k = 5, capacity = 64)
    val want = items.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .sortBy { case (key, c) => (-c, key) }.take(5)
    assert(got === want)
  }

  test("space-saving eviction is min-tracked: deterministic tiebreak, fast on mostly-unique streams") {
    import graft.ext.TopKState
    // deterministic (min count, min key) eviction: at capacity 2, the third
    // key evicts "a" (not "b") and inherits its count + 1
    val small = new TopKState
    Seq("b", "a", "c").foreach(small.offer(_, capacity = 2))
    assert(small.counts.toMap === Map("b" -> 1L, "c" -> 2L))
    // the mirror survives serialization (rebuilt lazily on the other side)
    val bos = new java.io.ByteArrayOutputStream()
    new java.io.ObjectOutputStream(bos).writeObject(small)
    val back = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bos.toByteArray))
      .readObject().asInstanceOf[TopKState]
    back.offer("d", capacity = 2) // evicts (1, "b")
    assert(back.counts.toMap === Map("c" -> 2L, "d" -> 2L))
    // worst case for space-saving: every arrival unique → every arrival
    // evicts. 200k arrivals at capacity 4096 is ~800M comparisons under the
    // old O(capacity) min scan; the ordered mirror does it in O(n log c).
    // The bound is a generous SMOKE check (the O(capacity) scan took >60 s
    // here) — loose enough that a loaded CI host can't flake it, tight
    // enough that an accidental O(n·c) regression still trips it.
    val st = new TopKState
    val t0 = System.nanoTime()
    var i = 0
    while (i < 200000) { st.offer("u" + i, 4096); i += 1 }
    val elapsedMs = (System.nanoTime() - t0) / 1e6
    assert(st.counts.size === 4096)
    assert(elapsedMs < 30000.0, s"mostly-unique eviction smoke check too slow: $elapsedMs ms")
  }

  test("space-saving lazy mirror: bit-identical to the naive min-scan model across the regime boundary") {
    import graft.ext.TopKState
    // reference model: same semantics, O(capacity) min scan per eviction —
    // independent of the mirror entirely
    def reference(stream: Seq[String], capacity: Int): (Map[String, Long], Boolean) = {
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      var approx = false
      stream.foreach { item =>
        m.get(item) match {
          case Some(c) => m.update(item, c + 1)
          case None if m.size < capacity => m.update(item, 1L)
          case None =>
            approx = true
            val (minKey, minCount) = m.minBy { case (k, c) => (c, k) }
            m.remove(minKey)
            m.update(item, minCount + 1)
        }
      }
      (m.toMap, approx)
    }
    val rnd = new scala.util.Random(9) // deterministic
    // streams engineered to CROSS the exact→approximate boundary, so the
    // mirror lazy-builds mid-stream from a populated counts map — the path
    // the eager implementation never exercised
    for (capacity <- Seq(2, 5, 16); trial <- 1 to 5) {
      val n = 40 + rnd.nextInt(160)
      val keys = capacity + 1 + rnd.nextInt(2 * capacity) // > capacity distinct
      val stream = Seq.fill(n)(s"k${rnd.nextInt(keys)}")
      val st = new TopKState
      stream.foreach(st.offer(_, capacity))
      val (want, wantApprox) = reference(stream, capacity)
      assert(st.counts.toMap === want, s"capacity=$capacity stream=$stream")
      assert(st.approximated === wantApprox)
    }
    // exact regime: no eviction ever fires and counts are the true counts
    val exact = new TopKState
    Seq("a", "b", "a", "c", "a", "b").foreach(exact.offer(_, capacity = 8))
    assert(exact.counts.toMap === Map("a" -> 3L, "b" -> 2L, "c" -> 1L))
    assert(!exact.approximated)
  }

  test("sequence packing shards the per-lang running sum (no single-reducer window)") {
    import org.apache.spark.sql.functions.{col, lit}
    // one dominant lang, 40 docs: with shardSpan=8 the doc-row window runs
    // over 5 (lang, shard) partitions, yet offsets must equal the
    // unsharded (single-prefix-sum) layout exactly
    val counted = spark.range(0, 40)
      .select(col("id").as("doc_id"), lit("en").as("lang"),
        (col("id") % 7 + 1).as("n_tokens"))
    val packed = TextAnalysis.packCounts(counted, budgetTokens = 16, shardSpan = 8)
    val single = TextAnalysis.packCounts(counted, budgetTokens = 16, shardSpan = Long.MaxValue)
    assert(packed.orderBy("doc_id").collect().toSeq ===
      single.orderBy("doc_id").collect().toSeq)
    // the document-grain window partitions by (lang, _shard), never lang
    // alone — the 100 TB guarantee that no stratum is one reducer
    val plan = packed.queryExecution.executedPlan.toString
    assert(plan.contains("_shard"), plan.take(800))
    // spot-check one straddling doc against the hand prefix sum
    val cum = packed.orderBy("doc_id").collect().map(_.getAs[Long]("cum_before"))
    val want = Array.iterate((0L, 0L), 40) { case (c, i) => (c + i % 7 + 1, i + 1) }
      .map(_._1)
    assert(cum.toSeq === want.toSeq)
  }

  test("sorted-neighborhood window is block-partitioned, never a single global sort") {
    import org.apache.spark.sql.functions.{col, concat_ws, lit}
    val docs = spark.range(0, 64)
      .select(col("id").as("doc_id"),
        concat_ws(" ", lit("tok"), col("id").cast("string"), lit("a b c d e")).as("text"),
        lit("en").as("lang"))
    val out = graft.ext.Dedup.sortedNeighborhoodPairs(docs)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    // the row_number window must partition by the simhash-prefix block:
    // a global ORDER BY window would plan Exchange SinglePartition
    assert(plan.contains("blk"), plan.take(1200))
    assert(!plan.contains("SinglePartition"), plan.take(1200))
  }

  test("sparse cosine term vectors are built behind a Bloom candidate prefilter") {
    import org.apache.spark.sql.functions.{col, concat_ws, lit}
    // 16 pairs of identical docs: each pair's distinguishing 3-shingle has
    // df = 2 ∈ [minDf, maxDf], so every pair is a candidate
    val docs = spark.range(0, 32)
      .select(col("id").as("doc_id"),
        concat_ws(" ", lit("alpha beta gamma tok"), (col("id") % 16).cast("string")).as("text"),
        lit("en").as("lang"))
    val out = graft.ext.SparseSim.cosinePairs(docs)
    val rows = out.collect()
    // identical texts pair at cosine 1.0
    assert(rows.length === 16)
    assert(rows.forall(_.getAs[Double]("cos_sim") > 0.999))
    // the full-corpus tokenize→explode→count never runs: tf is gated on a
    // Bloom probe over the candidate doc ids — scan-speed, NO exchange;
    // probe false positives die in the exact inner joins against the pair
    // list. The LeftSemi this replaces shuffled every doc's raw TEXT to
    // meet the id list whenever that list outgrew the broadcast threshold.
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("bloommightcontain"), plan.take(1200))
    assert(!plan.contains("LeftSemi"), plan.take(1200))
  }

  test("grouped top-k aggregator equals the window form, with no per-group sort in the plan") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val events = spark.range(0, 3000)
      .select(
        concat(lit("u"), (col("id") % 7).cast("string")).as("visitorid"),
        // 5 minutes × 40 items, skewed counts
        org.apache.spark.sql.functions.expr(
          "CAST(timestamp_seconds(60 * CAST(id % 5 AS LONG)) AS TIMESTAMP_NTZ)").as("event_time"),
        lit("view").as("event"),
        concat(lit("i"), ((col("id") * col("id")) % 40).cast("string")).as("itemid"))
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(org.apache.spark.sql.functions.date_format(col("minute"), "yyyy-MM-dd HH:mm").as("m"),
        col("itemid"), col("interactions"), col("rank"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3)))
      .sortBy(t => (t._1, t._4))
    val win = canon(graft.analytics.Items.topItemsRanked(events, 5))
    val agg = graft.analytics.Items.topItemsAgg(events, 5)
    val got = canon(agg)
    assert(got.toSeq === win.toSeq)
    // the aggregator path must not sort whole groups: no WindowExec, and
    // the object aggregate runs in partial (map-side) + final mode
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("WindowExec"), plan.take(1000))
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"), plan.take(1000))
  }

  test("dup-span coverage plans doc-partitioned windows only; bottom-k sample plans no window at all") {
    import org.apache.spark.sql.functions.col
    val corpus = (0L until 120L).map(i =>
      (i, s"w${i % 11} a b c d e f w${i % 7} g h i j", "en"))
      .toDF("doc_id", "text", "lang")
    // span union must ride a doc-partitioned window — never a global one
    val spans = graft.ext.Dedup.dupSpanCoverage(corpus)
    val spanPlan = spans.queryExecution.executedPlan.toString
    assert(!spanPlan.contains("SinglePartition"), spanPlan.take(1200))
    assert(spans.where(col("covered_tokens") > 0).count() > 0)
    // the bounded sampler replaces the rank window outright
    val sample = TextAnalysis.bottomKSample(corpus, k = 3)
    val samplePlan = sample.queryExecution.executedPlan.toString
    assert(!samplePlan.contains("WindowExec"), samplePlan.take(1200))
    assert(sample.count() === 3)
  }

  test("ANN recall: LSH and IVF top-k recover most brute-force neighbors at sf0.01") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(graft.ext.Similarity.bruteForceTopK(emb))
    def recall(df: org.apache.spark.sql.DataFrame): Double =
      pairs(df).intersect(truth).size.toDouble / truth.size
    val lshDefault = recall(graft.ext.Similarity.lshTopK(emb))
    // recall knob: P(candidate) = 1-(1-s^r)^b. This corpus's top-5
    // neighbors sit near cosine ~0.6 (plane-agreement s≈0.6), so the
    // default 4 bands × 4 planes predicts ~0.43 and a retrieval-tuned
    // 8 bands × 3 planes predicts ~0.86 — SHORTER bands, not longer:
    // at mid similarity, planes/band is the recall-killing exponent
    val lshTuned = recall(graft.ext.Similarity.lshTopK(emb, numBands = 8, planesPerBand = 3))
    val ivfRecall = recall(graft.ext.Similarity.ivfTopK(emb))
    val pqRecall = recall(graft.ext.Similarity.pqTopK(emb))
    val ivfpqRecall = recall(graft.ext.Similarity.ivfPqTopK(emb))
    info(f"recall@5 over ${truth.size} truth pairs: " +
      f"lsh(default 4x4)=$lshDefault%.3f lsh(8x3)=$lshTuned%.3f " +
      f"ivf=$ivfRecall%.3f pq(8x8,rerank 8)=$pqRecall%.3f ivfpq=$ivfpqRecall%.3f")
    // floors pinned under measured values — a banding/probe regression
    // that actually hurts retrieval trips them
    assert(lshDefault >= 0.3, f"LSH default-layout recall collapsed: $lshDefault%.3f")
    assert(lshTuned >= 0.6, f"LSH recall-tuned layout collapsed: $lshTuned%.3f")
    assert(ivfRecall >= 0.6, f"IVF recall collapsed: $ivfRecall%.3f")
    assert(lshTuned > lshDefault, "the recall knob must move in the documented direction")
    // PQ on i.i.d. random embeddings is the quantizer's worst case (no
    // subspace structure to exploit) — the ADC shortlist + exact rerank
    // measured 0.64 here; floor pinned under it, same policy as above
    assert(pqRecall >= 0.5, f"PQ recall collapsed: $pqRecall%.3f")
    // the composition's recall is bounded by BOTH stages (candidates must
    // survive the coarse probe AND the ADC shortlist) — floor pinned
    // under the measured value, same policy
    assert(ivfpqRecall >= 0.4, f"IVF-PQ recall collapsed: $ivfpqRecall%.3f")
    // NOT asserted: "composed <= both components" is not a true invariant —
    // ivfPqTopK trains its coarse codebook while ivfTopK above uses the
    // seed one, and the per-probe ADC shortlist is not a subset of pqTopK's
    // global shortlist, so neither inequality is mathematically guaranteed
    // (it held on this corpus by luck). The pinned 0.4 floor is the
    // regression gate; the relation is reported for the round record only.
    info(f"composition check (informational): ivfpq=$ivfpqRecall%.3f vs " +
      f"pq=$pqRecall%.3f, ivf(seed)=$ivfRecall%.3f")
  }

  test("hive-style partitioned layout: a stratum filter prunes partitions at the scan") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val dir = java.nio.file.Files.createTempDirectory("part_layout").toString
    // the 100 TB layout move: partition the corpus by its stratum column so
    // per-stratum jobs read only their directories
    docs.write.partitionBy("lang").mode("overwrite").parquet(dir)
    val en = spark.read.parquet(dir).filter($"lang" === "en")
    val scan = en.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters"), scan.take(600))
    assert(scan.contains("(lang"), scan.take(600)) // the filter reached partition pruning
    // pruned read returns exactly the en stratum, nothing else scanned wrong
    val want = docs.filter($"lang" === "en").count()
    assert(en.count() === want && want > 0)
  }

  test("AQE splits a skewed join partition at runtime (skew=true in the final plan)") {
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      // thresholds scaled down so the test's MB-scale skew triggers the same
      // runtime re-plan a hot key triggers at production sizes
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
      import org.apache.spark.sql.functions.{lit, lpad, when}
      // payload must DERIVE from id: a constant would be projected past the
      // join and the skewed shuffle bytes would vanish with it
      val left = spark.range(0, 50000)
        .select(when($"id" < 45000, 0L).otherwise($"id").as("k"),
          lpad($"id".cast("string"), 200, "x").as("payload"))
      val right = spark.range(0, 64).select($"id".as("k"), lit("dim").as("v"))
      val joined = left.join(right, "k")
      // collect() executes THIS QueryExecution (write/count would plan a
      // fresh one and leave this plan isFinalPlan=false)
      assert(joined.collect().length === 45000) // only the hot key k=0 matches the dim
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), plan.take(800))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("bucketed tables join without a shuffle exchange") {
    val orders = Tables.orders(spark, "/root/testdata/sf0.001")
    val lineitem = Tables.lineitem(spark, "/root/testdata/sf0.001")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    // the in-memory catalog forgets tables between JVMs but their files
    // persist in the warehouse dir — remove stale locations
    Seq("b_orders", "b_lineitem").foreach { t =>
      val dir = new java.io.File(s"/tmp/graft-warehouse/$t")
      if (dir.exists()) {
        java.nio.file.Files.walk(dir.toPath)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.delete(p))
      }
    }
    orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("b_orders")
    lineitem.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("b_lineitem")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b_lineitem")
        .join(spark.table("b_orders"),
          $"l_orderkey" === $"o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      // co-bucketed on the join key: sort-merge join with NO exchange
      assert(plan.contains("SortMergeJoin"), plan.take(500))
      assert(!plan.contains("Exchange"), plan.take(500))
      assert(joined.count() === lineitem.count()) // every lineitem has its order
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("space-saving over capacity: epsilon-N error bound and membership guarantee hold") {
    import graft.ext.SpaceSavingTopK
    // 40 distinct keys, capacity 8 — deep in the approximate regime:
    // k0=5000, k1=3000, 38 background keys × 50. N = 9900, εN = N/8 = 1237.
    val items = Seq.fill(5000)("k0") ++ Seq.fill(3000)("k1") ++
      (2 until 40).flatMap(i => Seq.fill(50)(s"k$i"))
    val exact = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = items.length.toLong
    val capacity = 8
    val epsN = n / capacity
    val ds = spark.sparkContext
      .parallelize(scala.util.Random.shuffle(items), 8).toDS()
    val reported = ds
      .select(new SpaceSavingTopK(capacity, capacity).toColumn.name("s"))
      .head().toMap
    // strict mode must refuse this regime loudly (the exact-regime oracle
    // gate relies on that refusal) — proving we really are over capacity
    val e = intercept[org.apache.spark.SparkException] {
      ds.select(new SpaceSavingTopK(capacity, capacity, strict = true).toColumn).head()
    }
    assert(e.getMessage != null)
    // error bound: every reported count within ±εN of the truth
    reported.foreach { case (key, approxCnt) =>
      val diff = math.abs(approxCnt - exact.getOrElse(key, 0L))
      assert(diff <= epsN, s"$key: |$approxCnt - ${exact.getOrElse(key, 0L)}| > εN=$epsN")
    }
    // membership: any key with exact count > 2εN must be reported
    exact.filter(_._2 > 2 * epsN).keys.foreach { key =>
      assert(reported.contains(key), s"heavy key $key (exact=${exact(key)}) missing")
    }
    assert(reported.contains("k0") && reported.contains("k1"))
  }

  test("planted skew: path cap bounds the bot group, salting spreads the hot key") {
    import org.apache.spark.sql.functions.{col, concat, count, crc32, lit, pmod, size => ssize}
    import graft.analytics.{Items, UserPaths}
    // one mega-visitor with 1e5 events in a single session — the
    // collect_list skew hazard (a group that cannot partial-merge) —
    // plus a 1000-visitor bot farm hammering one item — the hot-key
    // aggregation hazard. The guards must bound/spread BOTH.
    val mega = spark.range(0, 100000).select(
      lit("bot0").as("visitorid"), lit("bot0_1").as("session_id"),
      lit(ts(100)).as("event_time"), lit("view").as("event"))
    val normal = spark.range(0, 5).select(
      lit("u1").as("visitorid"), lit("u1_1").as("session_id"),
      lit(ts(200)).as("event_time"), lit("click").as("event"))
    val sessionized = mega.unionByName(normal)
    // (a) the cap bounds the group: 1e5-event path → exactly maxEvents,
    // while an under-cap path is untouched
    val capped = UserPaths.userPathsCapped(sessionized, maxEvents = 1000)
      .select(col("visitorid"), ssize(col("user_path")).as("n")).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(capped("bot0") === 1000)
    assert(capped("u1") === 5)
    // (b) salted == unsalted on a bot-farm frame (1000 visitors × 100
    // events on one hot item + background traffic)...
    val farm = spark.range(0, 100000).select(
      concat(lit("bot"), (col("id") % 1000)).cast("string").as("visitorid"),
      lit("hot").as("itemid"))
    val background = spark.range(0, 2000).select(
      concat(lit("u"), col("id")).cast("string").as("visitorid"),
      concat(lit("i"), (col("id") % 50)).cast("string").as("itemid"))
    val events = farm.unionByName(background)
    val unsalted = Items.itemInteractions(events).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = Items.itemInteractionsSalted(events, saltBuckets = 16).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted === unsalted)
    assert(salted("hot") === 100000L)
    // ...and the phase-1 spread is real: the hot item's rows land on many
    // (itemid, salt) partials, each FAR below the unsalted single-reducer
    // load. (Structural assert, not wall-clock: timing on a 4-core local
    // box is noise, the reducer-side row bound is the scale property.)
    val partials = events
      .withColumn("salt", pmod(crc32(col("visitorid")), lit(16)))
      .groupBy(col("itemid"), col("salt"))
      .agg(count(lit(1)).as("partial"))
      .filter(col("itemid") === "hot")
      .select(col("salt"), col("partial")).collect()
    assert(partials.length >= 12, s"hot key spread over only ${partials.length} salts")
    val maxPartial = partials.map(_.getAs[Long]("partial")).max
    assert(maxPartial < 20000L, // uniform would be 6250; 20k = generous bound
      s"one salt bucket still carries $maxPartial of 100000 hot-key rows")
  }

  test("planted skew: LSH bucket cap bounds the candidate count, costs zero organic pairs") {
    import org.apache.spark.sql.functions.{col, lit, max => smax}
    import graft.ext.Dedup
    // the planted-skew accounting (PLANS.md round-8 table) pinned at
    // test scale: a boilerplate cluster — the same footer on
    // every page, one mega bucket in EVERY minhash band — planted far
    // over the cap on top of the real corpus. The cap's whole recall
    // loss must land on that degenerate cluster, and the candidate
    // count must stay at the organic corpus's own count.
    val cap = 100
    val planted = 300
    val plantBase = 900000000L
    val boiler = "this page is part of our catalog please see the footer " +
      "for shipping returns and contact information all rights reserved"
    val base = Tables.documents(spark, "/root/testdata/sf0.001")
    val docs = base.unionByName(spark.range(0, planted).select(
      (col("id") + plantBase).as("doc_id"), lit(boiler).as("text"),
      lit("en").as("lang"), lit("planted").as("source"),
      lit(boiler.length.toLong).as("n_chars")))
    // the planted bucket really is over-cap (the guard ENGAGES, unlike
    // the organic corpus where sf10 peaked at 5,992 < the 10k cap)
    val maxOcc = Dedup.minhashBands(Dedup.minhashSignatures(docs))
      .groupBy(col("band"), col("band_key")).count()
      .agg(smax(col("count"))).collect()(0).getLong(0)
    assert(maxOcc >= planted, s"planted bucket occupancy $maxOcc < $planted")
    val capped = Dedup.minhashCandidatePairs(docs, maxBucketSize = Some(cap))
      .select("doc1", "doc2").persist()
    // 1) no candidate touches the degenerate cluster — the recall loss
    //    is exactly the planted C(300,2), nowhere else
    assert(capped.filter(col("doc1") >= plantBase || col("doc2") >= plantBase)
      .count() === 0L)
    // 2) organic parity: capped candidates on the full corpus == the
    //    base corpus's own candidates (identical planted texts add no
    //    band collisions with organic docs beyond their own bucket —
    //    and if they did, under-cap buckets survive untouched)
    val organic = Dedup.minhashCandidatePairs(base).select("doc1", "doc2")
    assert(capped.exceptAll(organic).count() === 0L)
    assert(organic.exceptAll(capped).count() === 0L)
    capped.unpersist()
    // 3) the documented mitigation for what the cap skips: byte-identical
    //    boilerplate is EXACT-dedup's job — one groupBy recovers the whole
    //    planted cluster as a single group (no pair enumeration at all)
    val recovered = Dedup.exactGroups(docs)
      .filter(col("keep_doc_id") >= plantBase)
      .agg(smax(col("n_copies"))).collect()(0).getLong(0)
    assert(recovered === planted.toLong)
  }

  test("bucketed RFM and Pareto plans carry no window and no global sort") {
    // the scale-safe variants of rfmScores / revenueConcentration replace
    // the global-ORDER-BY ntile / running-sum windows with broadcast
    // percentile bounds. The serialization hazard of the originals is a
    // WINDOW (or global SORT) over the full customer frame — scalar-agg
    // SinglePartition reduces (1-row global max/percentile) are inherent
    // to any global aggregate and NOT a hazard, so assert on the logical
    // plan's operator types, not on exchange partitioning strings.
    import org.apache.spark.sql.catalyst.plans.logical.{Sort => LSort, Window => LWindow}
    def assertNoSerializer(df: org.apache.spark.sql.DataFrame): Unit = {
      val lp = df.queryExecution.optimizedPlan
      assert(lp.collect { case w: LWindow => w }.isEmpty, lp.treeString.take(1200))
      assert(lp.collect { case s: LSort if s.global => s }.isEmpty,
        lp.treeString.take(1200))
    }
    val rfm = graft.relational.Relational
      .rfmScoresBucketed(spark, "/root/testdata/sf0.001")
    assert(rfm.count() > 0)
    assertNoSerializer(rfm)
    val pareto = graft.relational.Relational
      .revenueConcentrationBucketed(spark, "/root/testdata/sf0.001")
    val rows = pareto.collect()
    assert(rows.length === 10)
    assertNoSerializer(pareto)
    // sanity on the semantics: deciles are dense 1..10, shares increase
    // toward the top decile and end at 1.0 for the cumulative-from-top sum
    val byDecile = rows.map(r => r.getAs[Int]("revenue_decile") ->
      r.getAs[Double]("cum_share")).toMap
    assert(byDecile.keySet === (1 to 10).toSet)
    assert(math.abs(byDecile(1) - 1.0) < 1e-12) // bottom decile: whole total above it
    assert(byDecile(10) < byDecile(9))
  }

  test("registry audit: only the exact RFM/Pareto parity forms carry an UNBOUNDED global window") {
    // Global-ORDER-BY windows plan Exchange SinglePartition + WindowExec —
    // the one shape that serializes a whole frame through one reducer.
    // Audit EVERY registered query's optimized plan and classify each
    // global window by its input bound:
    //  - bounded: the window's subtree contains a LIMIT (top-k rank
    //    stamping over ≤ k rows — vocabTopK/bpePairs/collocations) or a
    //    parameter-bounded grain the operator documents (vocabGrowth's
    //    bucket grain, funnelDropoff's |steps|-row grain). Harmless at
    //    any SF.
    //  - UNBOUNDED: the window runs over a corpus-proportional frame.
    //    Exactly the two oracle-parity forms (q_rfm, q_revenue_
    //    concentration) are allowed to stay in this class — their
    //    scale-safe bucketed twins (q_rfm_bucketed, q_revenue_
    //    concentration_bucketed) are the documented default at scale —
    //    and any NEW query joining it fails this audit.
    import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit, LogicalPlan, Window => LWindow}
    val sf = "/root/testdata/sf0.001"
    def hasLimit(p: LogicalPlan): Boolean =
      p.collectFirst { case _: GlobalLimit => (); case _: LocalLimit => () }.nonEmpty
    // operators whose global window runs on a PARAMETER-bounded grain
    // (documented in their scaladoc), not on corpus rows
    val boundedGrain = Set("q_vocab_growth", "q_funnel_dropoff")
    val unbounded = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan = fn(spark, sf).queryExecution.optimizedPlan
      val globalWindows = plan.collect { case w: LWindow if w.partitionSpec.isEmpty => w }
      if (globalWindows.nonEmpty && !globalWindows.forall(w => hasLimit(w.child))
          && !boundedGrain.contains(name)) Some(name) else None
    }
    assert(unbounded.toSet === Set("q_rfm", "q_revenue_concentration"),
      s"unbounded global windows outside the parity allowlist: $unbounded")
  }

  test("registry audit: no cartesian products, pinned nested-loop joins, closed fallback population") {
    // Physical-plan-shape guard over EVERY registered query (static
    // sparkPlan — schema-driven, so stable across data generations;
    // tools/PlanAudit re-discovers the population when this pin fails):
    //  1. CartesianProductExec must never appear — every engine crossJoin
    //     is an explicit broadcast() of a 1-row scalar/bounds frame or a
    //     k-row codebook, which plans as BroadcastNestedLoopJoin instead.
    //     (One known sf-dependence: q_embed_neardup — the DELIBERATE
    //     brute-force all-pairs LSH ground truth — is hint-free, so at
    //     sf10 size estimates it plans a real partition-parallel
    //     CartesianProduct. At this audit's sf0.001 it broadcasts; the
    //     pin is stable at the gate sf, and the sf10 shape is the honest
    //     one for an O(n²) reference query.)
    //  2. Exactly the pinned query set carries those BNLJ nodes; a NEW
    //     query joining the set is either a deliberate broadcast-scalar
    //     (extend the pin) or an accidental unkeyed join (fix it).
    //  3. Interpreted (CodegenFallback) expressions: builtin higher-order
    //     lambdas and imperative aggregate buffers only. Engine-owned
    //     expressions must all be real-codegen (the r9 conversion closed
    //     the last three) — the single graft exception is CountMinSketchAgg,
    //     a TypedImperativeAggregate whose trait inherits the fallback path
    //     for its buffer eval; aggregates never sit in a WSCG row loop.
    // Plans are built with FrameCache force-disabled so the audit always
    // sees the real computation pipelines — a warm memo replaces a whole
    // family's lineage with a parquet scan of the memo, which would make
    // the discovered population depend on /tmp cache state. Traversal is
    // PlanAudit.allNodes: plain collect stops at the InMemoryTableScan
    // (persist boundaries) and AdaptiveSparkPlanExec leaf curtains, which
    // until r9 session 5 hid e.g. the LSH bands subtree entirely.
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    val sf = "/root/testdata/sf0.001"
    val allowedFallback = Set(
      "ArrayAggregate", "ArrayFilter", "ArraySort", "ArrayTransform",
      // CollectSet joined in r18: itemCooccurrence's per-user item-set
      // aggregate (the distinct+window+self-join chain it replaced cost
      // three extra wide exchanges) — same vetted ObjectHashAggregate
      // class as CollectList
      "CollectList", "CollectSet", "ComplexTypedAggregateExpression",
      "LambdaFunction", "NamedLambdaVariable", "Percentile", "PivotFirst",
      "ZipWith", "CountMinSketchAgg")
    val bnljPin = Set(
      "q_ann_topk", "q_ann_topk_ivf", "q_ann_topk_ivf_trained",
      // PQ: m ADC-table crossjoins, each query-rows × ksub-row codebook —
      // both sides parameter-bounded, the IVF-probe precedent; the IVF-PQ
      // composition adds the coarse-probe crossjoin (same bound)
      "q_ann_topk_ivfpq", "q_ann_topk_pq",
      "q_bigram_logprob", "q_bm25", "q_cms_counts", "q_collocations",
      "q_datamix", "q_embed_neardup", "q_gap_histogram",
      "q_item_cooccurrence", "q_key_skew", "q_length_filter",
      "q_minute_anomaly",
      // the filter action's corpus-relative cutoff is a 1-row broadcast
      // scalar crossjoined onto the scores — the designed pattern
      "q_perplexity_filter",
      "q_revenue_concentration", "q_revenue_concentration_bucketed",
      "q_rfm", "q_rfm_bucketed", "q_spacesaving_approx",
      // trigram: the same 1-row corpus-total crossjoin as its uni/bigram
      // siblings
      "q_trigram_logprob", "q_unigram_logprob")
    // q_semantic_dedup left this pin in r10: its three codebook cross
    // joins became the narrow codegen'd NearestCentroid argmax, so the
    // plan carries no nested-loop join at all now. q_ab_test left in r12:
    // the two-branch byVariant crossJoin became one conditional
    // aggregation (no join at all — the plan is a single scan chain).
    // q_ann_topk_ivf[(_trained)] keep one BNLJ each — the numQueries-row
    // PROBE crossjoin, which stays windowed by design (parameter-bounded
    // input).
    val bnljSeen = scala.collection.mutable.Set[String]()
    sys.props("graft.frame.cache.disable") = "1"
    try SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val nodes = graft.tools.PlanAudit.allNodes(fn(spark, sf).queryExecution.sparkPlan)
      assert(nodes.collect { case c: CartesianProductExec => c }.isEmpty,
        s"$name plans a CartesianProduct")
      if (nodes.collect { case j: BroadcastNestedLoopJoinExec => j }.nonEmpty)
        bnljSeen += name
      val fallback = nodes.flatMap(_.expressions.flatMap(_.collect {
        case e: CodegenFallback => e.getClass
      })).distinct
      val rogue = fallback.filterNot(c => allowedFallback(c.getSimpleName))
      assert(rogue.isEmpty, s"$name carries unvetted interpreted expressions: " +
        rogue.map(_.getName).mkString(", "))
      val graftFallback = fallback
        .filter(_.getName.startsWith("graft.")).map(_.getSimpleName).toSet
      assert(graftFallback.subsetOf(Set("CountMinSketchAgg")),
        s"$name has engine expressions without doGenCode: $graftFallback")
    } finally sys.props.remove("graft.frame.cache.disable")
    assert(bnljSeen.toSet === bnljPin,
      s"BNLJ set drifted; added=${bnljSeen.toSet -- bnljPin} removed=${bnljPin -- bnljSeen}")
  }

  test("registry audit: no fat column crosses a shuffle except the two documented co-location persists") {
    // The 100 TB hazard this pins: documents.text / embeddings.embedding
    // BYTES moving through a ShuffleExchange. Census is by attribute
    // LINEAGE (PlanAudit.fatShuffled — follows identity renames like the
    // LSH emb1/emb2, ignores derived skinny values like norms and
    // hashes), planned for the shape a big corpus takes:
    //  - auto-broadcast OFF: at gate sf the candidate-id frames broadcast
    //    and no exchange exists to catch — exactly how the r9 name-based
    //    census stayed blind. Explicit broadcast() hints (the scalar/
    //    codebook cross joins, the hinted dim joins) survive the -1
    //    threshold, which is correct: those are size-audited by design.
    //  - AQE OFF and executedPlan: sparkPlan predates EnsureRequirements
    //    and contains NO exchanges at all (the census's other blind spot);
    //    with AQE off the executedPlan is static, fully traversable, and
    //    needs no execution.
    //  - FrameCache disabled + clearCache first: memo scans and frames
    //    cached under the default conf would replace the real pipelines.
    // Allowed population (equality, so drift EITHER way is flagged):
    //  - q_embed_neardup_lsh: the band-explode shuffle INTO the bands
    //    persist — the fat-frame design r9 vindicated at sf10 (the slim
    //    re-join variant filled 78 GB of spill); the b1×b2 self-join then
    //    reuses the cached band_key partitioning with no exchange at all.
    //  - q_semantic_dedup: embeddings co-located by assigned centroid —
    //    within-cluster pairwise cosine needs the vectors on one
    //    partition; the shuffled payload is the corpus's embeddings ONCE,
    //    the SemDeDup-shaped contract.
    // q_sparse_cosine / q_prefix_jaccard left this list in r10: their
    // candidate-doc semi joins (corpus text / shingle arrays to meet the
    // id list) became Bloom prefilters + exact inner-join verification,
    // so the fat bytes stay on the scan side of every exchange.
    val sf = "/root/testdata/sf0.001"
    val fatPin: Map[String, Set[String]] = Map(
      "q_embed_neardup_lsh" -> Set("embedding->embedding"),
      "q_semantic_dedup" -> Set("embedding->embedding"))
    val oldAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val oldBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    sys.props("graft.frame.cache.disable") = "1"
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.catalog.clearCache()
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        val census = graft.tools.PlanAudit
          .fatShuffled(fn(spark, sf).queryExecution.executedPlan).toSet
        assert(census === fatPin.getOrElse(name, Set.empty[String]),
          s"$name fat-shuffle census drifted: got $census, pinned " +
            s"${fatPin.getOrElse(name, Set.empty[String])} — a new entry means " +
            "corpus payload bytes now cross an exchange (fix the operator or " +
            "document the co-location and extend the pin)")
      }
    } finally {
      sys.props.remove("graft.frame.cache.disable")
      spark.conf.set("spark.sql.adaptive.enabled", oldAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldBroadcast)
      spark.catalog.clearCache()
    }
  }

  test("registry audit: every fat column crossing a BroadcastExchange is row-bounded and pinned") {
    // The shuffle census's structural blind spot (found by the r10 ADVICE):
    // `broadcast()` hints are honored UNCONDITIONALLY, so a corpus-sized
    // frame behind one never shuffles — it is collected whole to the
    // driver and shipped to every executor, a worse 100 TB failure than
    // the shuffle the other census pins (the ANN scoring tail did exactly
    // this: both call sites passed the UNFILTERED corpus as the "query"
    // frame). PlanAudit.fatBroadcast runs the same lineage taint at
    // BroadcastExchange nodes and marks each hit `!unbounded` when the
    // broadcast subtree carries NO row-bounding node ON THE TAINTED
    // DATAFLOW PATH (a taint-carrying Filter with a non-IsNotNull
    // conjunct / GlobalLimit / TakeOrdered — per-partition LocalLimits
    // and untainted LocalTableScan leaves no longer testify, r11 ADVICE:
    // either could only ever bound an UNRELATED branch under the
    // exchange). Equality pin, two invariants:
    //  - population: only the designed parameter-bounded broadcasts exist
    //    (numQueries-row probe frames; the k-row seed codebook — only
    //    q_ann_topk_ivf keeps a PLAN-side codebook, the trained variant
    //    and semantic dedup collect theirs into a literal Codebook);
    //  - boundedness: none carries the `!unbounded` marker — dropping the
    //    `vec_id < numQueries` probe filter flips the string and fails
    //    here even though the population is unchanged.
    // Same planning regime as the shuffle census (broadcast threshold -1,
    // AQE off, FrameCache off) so explicit hints are the ONLY broadcasts.
    val sf = "/root/testdata/sf0.001"
    val bcastPin: Map[String, Set[String]] = Map(
      "q_ann_topk" -> Set("embedding->q_emb"),
      "q_ann_topk_lsh" -> Set("embedding->q_emb"),
      "q_ann_topk_ivf" -> Set("embedding->cent_emb", "embedding->q_emb"),
      "q_ann_topk_ivf_trained" -> Set("embedding->q_emb"),
      // PQ rerank tail: the numQueries-row probe frame (vec_id < 10),
      // same scoreCandidates bound as every sibling above
      "q_ann_topk_pq" -> Set("embedding->q_emb"),
      "q_ann_topk_ivfpq" -> Set("embedding->q_emb"))
    val oldAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val oldBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    sys.props("graft.frame.cache.disable") = "1"
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.catalog.clearCache()
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        val census = graft.tools.PlanAudit
          .fatBroadcast(fn(spark, sf).queryExecution.executedPlan).toSet
        assert(census === bcastPin.getOrElse(name, Set.empty[String]),
          s"$name fat-broadcast census drifted: got $census, pinned " +
            s"${bcastPin.getOrElse(name, Set.empty[String])} — an `!unbounded` " +
            "suffix means a corpus-sized frame sits behind a broadcast() hint " +
            "(driver OOM at scale); a new entry needs its parameter bound " +
            "documented and pinned")
      }
      // the marker is live, not vacuous: the exact regression shape the
      // ADVICE found (an UNFILTERED corpus frame behind broadcast()) must
      // come back flagged
      import org.apache.spark.sql.functions.{broadcast, col}
      val emb = Tables.embeddings(spark, sf)
      val unbounded = emb.join(
        broadcast(emb.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))),
        col("vec_id") === col("q_id"))
      val flagged = graft.tools.PlanAudit
        .fatBroadcast(unbounded.queryExecution.executedPlan)
      assert(flagged.contains("embedding->q_emb!unbounded"), flagged.toString)
      // ...and the r12 tightening is live: a row-bounded UNRELATED branch
      // nested under the exchange (the masking shape the r11 ADVICE named)
      // no longer testifies for the fat side. The left-outer join keeps
      // every corpus row — genuinely unbounded — while the filtered j_id
      // branch plants a non-IsNotNull FilterExec in the subtree that the
      // r11 subtree-wide search accepted as a bound.
      val maskShape = emb.join(
        broadcast(emb.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
          .join(emb.select(col("vec_id").as("j_id")).filter(col("j_id") < 8),
            col("q_id") === col("j_id"), "left_outer")),
        col("vec_id") === col("q_id"))
      val masked = graft.tools.PlanAudit
        .fatBroadcast(maskShape.queryExecution.executedPlan)
      assert(masked.contains("embedding->q_emb!unbounded"), masked.toString)
    } finally {
      sys.props.remove("graft.frame.cache.disable")
      spark.conf.set("spark.sql.adaptive.enabled", oldAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldBroadcast)
      spark.catalog.clearCache()
    }
  }

  test("registry audit: redundant-evaluation census — excess scans pinned to the documented multi-pass designs") {
    // The r12 ScanCensus finding class: a frame consumed by two plan
    // branches re-runs its WHOLE scan/shuffle lineage per branch, because
    // ReuseExchange does not unify same-lineage subtrees once anything
    // differs above them (pushed-down filters on a grouping key, renamed
    // join keys). Three of those shapes were live defects this round
    // (q_ab_test 2x, q_prefix_jaccard -25% at sf10, windowFunnel NINE
    // filtered event scans where the scaladoc promised one per step).
    // This pin holds the excess-scan population (direct parquet scans
    // minus distinct tables, per query) at the DOCUMENTED multi-pass
    // designs, each with a measured or inherent justification:
    //  - q_collocations 3: pmiCollocations' three corpus passes + the
    //    unigram frame read per join side — persisting measured ~2x
    //    SLOWER (scaladoc's recorded A/B);
    //  - q_dup_spans/_filter/_remove 2/3/2: dupSpanCoverage deliberately
    //    recomputes the fused scan->explode lineage (persisting the
    //    per-position frame measured ~1.9x slower; scaladoc A/B);
    //  - q_spacesaving_approx left the pin in r18: the exact/total sides
    //    now derive arithmetically from one persisted vocabulary-sized
    //    count frame (base_cnt × amp_factor), so only the Aggregator
    //    still reads the amplified occurrence stream — 3 corpus passes
    //    became 2 (1 excess, below this census's >= 2 bar).
    // A NEW entry (or a bump) means some frame lost its persist or grew
    // an extra consumer — justify and re-pin, or fix the plan. Queries
    // with excess 1 are not pinned: that population is dominated by the
    // cheap-by-design totals pattern (crossJoin(broadcast(agg)) — the
    // second pass is a no-explode running sum) and by filtered-scan
    // pairs where pushdown makes two narrow scans CHEAPER than one wide
    // scan materialized.
    val excessPin = Map(
      "q_collocations" -> 3, "q_dup_spans" -> 2, "q_dup_spans_filter" -> 3,
      "q_dup_spans_remove" -> 2)
    sys.props("graft.frame.cache.disable") = "1"
    try {
      val (rows, fails) = graft.tools.ScanCensus.report(spark, "/root/testdata/sf0.001")
      // a query that throws at planning time silently vanished from the
      // census in the r12 shape — it is now a first-class failure here
      assert(fails.isEmpty, s"queries failed to plan during census: $fails")
      val got = rows
        .map { case (name, tables, direct, _) => name -> (direct - tables) }
        .filter(_._2 >= 2).toMap
      assert(got === excessPin,
        s"excess-scan census drifted: got $got, pinned $excessPin — a new " +
          "entry re-evaluates a table's lineage in multiple plan branches " +
          "(the windowFunnel regression shape); document the design or " +
          "persist the shared frame")
    } finally {
      sys.props.remove("graft.frame.cache.disable")
      // report() clears between queries and at exit, but keep the suite-level
      // guarantee symmetric with the sibling registry-audit tests: nothing
      // this test planned may leak InMemoryRelations into later suites
      // (Test/fork runs every suite in one JVM)
      spark.catalog.clearCache()
    }
  }

  test("registry audit: exchange-reuse census — no plan-identical exchange survives unreused") {
    // Complement of the scan census (r13 verdict item 3): that one counts
    // FileScan leaves, so a duplicated shuffle chain whose subtrees are
    // canonically IDENTICAL — the one shape ReuseExchange/AQE-stage-cache
    // is supposed to unify — could in principle survive over non-scan
    // lineage without moving the leaf count (e.g. across a subquery
    // boundary, or an exprId-divergent rebuild of the same frame). The
    // census plans every registered query with AQE off (so the
    // ReuseExchangeAndSubquery preparation rule runs) and auto-broadcast
    // off (so small-sf size estimates can't hide a scale-relevant shuffle
    // pair behind two broadcast twins — the fat-census regime), and
    // counts live Exchange nodes that are canonical duplicates of another
    // live exchange in the same plan. Pin: the population is EMPTY —
    // every identical exchange pair is unified into a ReusedExchangeExec
    // stub. A new entry means reuse silently broke for that query: at
    // 100 TB the duplicate re-executes a full shuffle stage per consumer.
    val oldAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val oldBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    sys.props("graft.frame.cache.disable") = "1"
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.catalog.clearCache()
      val (rows, fails) = graft.tools.ExchangeCensus.report(spark, "/root/testdata/sf0.001")
      assert(fails.isEmpty, s"queries failed to plan during census: $fails")
      val dup = rows.filter(_._4 > 0).map { case (n, ex, re, d) =>
        n -> ((ex, re, d))
      }.toMap
      assert(dup.isEmpty,
        s"exchange-reuse census drifted: $dup — a canonical-duplicate " +
          "exchange survived preparation unreused (a full redundant " +
          "shuffle stage per consumer at scale); find why ReuseExchange " +
          "missed it or restructure the plan to share the frame")
      // the counter is live, not vacuous: reuse DOES fire on the engine's
      // plans — at least one query must carry a ReusedExchangeExec stub
      assert(rows.exists(_._3 > 0),
        "no query planned any ReusedExchangeExec: either the preparation " +
          "rule stopped running or the census walk went blind")
    } finally {
      sys.props.remove("graft.frame.cache.disable")
      spark.conf.set("spark.sql.adaptive.enabled", oldAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldBroadcast)
      spark.catalog.clearCache()
    }
  }
}
