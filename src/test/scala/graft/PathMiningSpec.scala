package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.analytics.Paths
import graft.ext.{GraphRank, SparseSim, TextAnalysis}

/** Paths (Markov transitions, trigrams), GraphRank (integer PageRank),
  * SparseSim (rare-shingle-blocked cosine) — hand-computed fixtures. */
class PathMiningSpec extends SparkSpec {
  import spark.implicits._

  /** A single 4-event session: view, view, addtocart, view. */
  private def sessionized = Seq(
    ("u1", "u1_1", 10L, "e1", "view"),
    ("u1", "u1_1", 20L, "e2", "view"),
    ("u1", "u1_1", 30L, "e3", "addtocart"),
    ("u1", "u1_1", 40L, "e4", "view"),
    // a 2-event session: one transition, no trigram
    ("u2", "u2_1", 10L, "e5", "view"),
    ("u2", "u2_1", 20L, "e6", "purchase")
  ).map { case (v, sid, t, i, e) => (v, sid, ts(t), i, e) }
    .toDF("visitorid", "session_id", "event_time", "itemid", "event")

  test("eventTransitions: counts and conditional probabilities") {
    val got = Paths.eventTransitions(sessionized)
      .orderBy("event", "next_event").collect()
    assert(got.map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq === Seq(
      ("addtocart", "view", 1L, 1.0),
      ("view", "addtocart", 1L, 1.0 / 3.0),
      ("view", "purchase", 1L, 1.0 / 3.0),
      ("view", "view", 1L, 1.0 / 3.0)))
  }

  test("pathTrigrams: sessions shorter than 3 events contribute nothing") {
    val got = Paths.pathTrigrams(sessionized, 10).collect()
    assert(got.map(r => (r.getString(0), r.getLong(1))).toSeq === Seq(
      ("view>addtocart>view", 1L),
      ("view>view>addtocart", 1L)))
  }

  test("pagerankFromPairs: one iteration on the path graph a-b-c, exact integers") {
    val pairs = Seq(("a", "b"), ("b", "c")).toDF("doc1", "doc2")
    val got = GraphRank.pagerankFromPairs(pairs, iters = 1)
      .orderBy("doc_id").collect()
    // n=3, r0 = 10^12 DIV 3 = 333333333333 each;
    // contrib a=c=333333333333, b=166666666666;
    // insum a=c=166666666666, b=666666666666;
    // teleport = (15*333333333333) DIV 100 = 49999999999
    assert(got.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq === Seq(
      ("a", 1L, 49999999999L + 141666666666L),
      ("b", 2L, 49999999999L + 566666666666L),
      ("c", 1L, 49999999999L + 141666666666L)))
  }

  test("pagerankFromPairs: rank mass is conserved up to floor loss over iterations") {
    val pairs = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("a", "d"), ("b", "d"))
      .toDF("doc1", "doc2")
    val ranks = GraphRank.pagerankFromPairs(pairs, iters = 3)
      .agg(sum("rank_int")).head.getLong(0)
    // total mass stays within (damping-loss) floor drift of the scale
    assert(ranks > GraphRank.Scale * 9 / 10 && ranks <= GraphRank.Scale)
  }

  test("cosinePairs: rare-shingle candidates get exact cosine; unblocked pairs drop") {
    val docs = Seq(
      (1L, "en", "alpha beta gamma delta"),
      (2L, "en", "alpha beta gamma epsilon"),
      (3L, "en", "zeta eta theta iota")
    ).toDF("doc_id", "lang", "text")
    val got = SparseSim.cosinePairs(docs).collect()
    // only (1,2) share a rare shingle ("alpha beta gamma", df=2);
    // tf vectors are all-ones over 4 tokens: dot=3, norms=2 → cos=0.75
    assert(got.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq ===
      Seq((1L, 2L, 3L, 0.75)))
  }

  test("prefixJaccardPairs: exact shingle-set Jaccard at the threshold, no false pairs") {
    val docs = Seq(
      (1L, "en", "a b c d e f"), // shingles {abc, bcd, cde, def}
      (2L, "en", "a b c d e f g"), // + {efg} → J(1,2) = 4/5 = 0.8
      (3L, "en", "x y z w v") // disjoint
    ).toDF("doc_id", "lang", "text")
    val got = SparseSim.prefixJaccardPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got === Seq((1L, 2L, 4L, 0.8)))
    // raising the threshold above 4/5 drops the pair
    assert(SparseSim.prefixJaccardPairs(docs, threshold = 0.9).count() === 0L)
  }

  test("prefixJaccardPairs property: equals brute-force all-pairs Jaccard on random corpora") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // small vocab → docs genuinely overlap; 4+ tokens → nonempty shingles
    val genDocs: Gen[List[String]] = for {
      n <- Gen.choose(4, 14)
      docs <- Gen.listOfN(n, for {
        len <- Gen.choose(4, 12)
        toks <- Gen.listOfN(len, Gen.oneOf("a", "b", "c", "d", "e", "f"))
      } yield toks.mkString(" "))
    } yield docs

    def shingleSet(text: String): Set[String] = {
      val t = text.trim.toLowerCase.split("\\s+").toSeq
      if (t.length < 3) Set.empty
      else t.sliding(3).map(_.mkString(" ")).toSet
    }

    (0 until 8).foreach { i =>
      val texts = genDocs(Gen.Parameters.default, Seed(7L + i)).getOrElse(Nil)
      val df = texts.zipWithIndex.map { case (t, id) => (id.toLong, "en", t) }
        .toDF("doc_id", "lang", "text")
      val t = 0.8
      val got = SparseSim.prefixJaccardPairs(df, t).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
      val want = (for {
        a <- texts.indices; b <- texts.indices if a < b
        sa = shingleSet(texts(a)); sb = shingleSet(texts(b))
        if sa.nonEmpty && sb.nonEmpty
        inter = (sa & sb).size
        j = inter.toDouble / (sa.size + sb.size - inter).toDouble
        if j >= t
      } yield (a.toLong, b.toLong) -> j).toMap
      assert(got === want, s"iteration $i: got=$got want=$want texts=$texts")
    }
  }

  test("bpeTrainMerges: iterated merges rewrite the stream between rounds") {
    val docs = Seq(
      (1L, "en", "x y x y z"),
      (2L, "en", "x y q")
    ).toDF("doc_id", "lang", "text")
    val got = TextAnalysis.bpeTrainMerges(docs, rounds = 3).orderBy("round").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    // r1: (x,y)×3 wins; streams become [xy, xy, z] and [xy, q]
    // r2: pairs (xy,xy),(xy,z),(xy,q) all ×1 → lexicographic tiebreak on b: "q"
    // r3: remaining pairs (xy,xy),(xy,z) → b "x y" < "z"
    assert(got === Seq(
      (1, "x", "y", 3L),
      (2, "x y", "q", 1L),
      (3, "x y", "x y", 1L)))
  }

  test("bpeTrainMerges: a corpus with no adjacent pairs yields zero merges, no error") {
    val docs = Seq((1L, "en", "solo"), (2L, "en", "word")).toDF("doc_id", "lang", "text")
    assert(TextAnalysis.bpeTrainMerges(docs, rounds = 2).count() === 0L)
  }

  test("bpeTrainMerges: overlapping occurrences merge greedily left-to-right") {
    val docs = Seq((1L, "en", "a a a")).toDF("doc_id", "lang", "text")
    val got = TextAnalysis.bpeTrainMerges(docs, rounds = 1).collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(3))).toSeq
    // occurrences at positions 1,2 overlap; only the first merges
    assert(got === Seq(("a", "a", 2L)))
  }

  test("bpeTrainMergesCarried: merge table equals the windows spec form") {
    // cases chosen to hammer the run-parity edges the carried greedy scan
    // must reproduce: odd/even overlap runs (a-runs of length 5 and 4),
    // cross-document pair counting, ties broken lexicographically, a
    // multi-round rewrite where round 2's winner only exists because of
    // round 1's merge, and a doc that drains to a single token
    val docs = Seq(
      (1L, "en", "a a a a a b"),
      (2L, "en", "a a a a"),
      (3L, "en", "x y x y z x y"),
      (4L, "en", "q"),
      (5L, "en", "x y q a a")
    ).toDF("doc_id", "lang", "text")
    for (rounds <- 1 to 4) {
      val spec = TextAnalysis.bpeTrainMerges(docs, rounds)
        .orderBy("round").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      val carried = TextAnalysis.bpeTrainMergesCarried(docs, rounds)
        .orderBy("round").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      assert(carried === spec, s"rounds=$rounds")
    }
  }

  test("bpeTrainMergesCarried: equals the spec form on the real corpus") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val spec = TextAnalysis.bpeTrainMerges(docs, rounds = 3)
      .orderBy("round").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    val carried = TextAnalysis.bpeTrainMergesCarried(docs, rounds = 3)
      .orderBy("round").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(carried === spec && spec.length === 3)
  }

  test("bpeTrainMergesCarried: property — equals the spec form on seeded random corpora") {
    // tiny closed vocabularies force dense pair collisions, overlap runs
    // (aa aa aa...), count ties (lexicographic tiebreak), and multi-round
    // merged-token interactions — the regimes where a greedy-scan bug
    // would diverge from the run-parity windows form. Seeds fixed for
    // reproducibility.
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      val vocab = Seq("aa", "bb", "cc")
      val docs = (1 to 12).map { i =>
        val n = 1 + rnd.nextInt(9)
        (i.toLong, "en", Seq.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
      }.toDF("doc_id", "lang", "text")
      val spec = TextAnalysis.bpeTrainMerges(docs, rounds = 3)
        .orderBy("round").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      val carried = TextAnalysis.bpeTrainMergesCarried(docs, rounds = 3)
        .orderBy("round").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      assert(carried === spec, s"seed=$seed corpus=${docs.collect().toSeq}")
    }
  }

  test("bpeTrainMergesCarried: every checkpoint generation is freed, the lazy " +
      "final one included") {
    // the lazy-generation shape (count pass materializes each generation;
    // the final round's merge stream is never computed) must still free
    // every registered generation on exit — track RDD ids registered
    // DURING the call, set-difference against survivors (race-proofing
    // against other suites sharing the session)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val docs = Seq(
      (1L, "en", "a a b a a b"),
      (2L, "en", "a a b c")
    ).toDF("doc_id", "lang", "text")
    TextAnalysis.bpeTrainMergesCarried(docs, rounds = 3).collect()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"trainer leaked persistent RDD ids $leaked")
  }

  test("bpeTrainMergesCarried: drained corpus stops emitting merge rows") {
    val docs = Seq((1L, "en", "solo"), (2L, "en", "word")).toDF("doc_id", "lang", "text")
    assert(TextAnalysis.bpeTrainMergesCarried(docs, rounds = 2).count() === 0L)
    // two tokens total: round 1 merges them into one, round 2+ finds no
    // pairs anywhere and contributes nothing (no error, no phantom rows)
    val tiny = Seq((1L, "en", "p q")).toDF("doc_id", "lang", "text")
    val got = TextAnalysis.bpeTrainMergesCarried(tiny, rounds = 3).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got === Seq((1, "p", "q", 1L)))
  }

  test("applyMergesToDoc: run parity, same-pass non-reentry, later-merge chaining") {
    import TextAnalysis.applyMergesToDoc
    // overlap run of 5: evens merge, odd leftover survives
    assert(applyMergesToDoc(Seq("a", "a", "a", "a", "a"), Array(("a", "a")))
      === Seq("a a", "a a", "a"))
    // a token produced by a merge is NOT a left candidate in the same pass
    assert(applyMergesToDoc(Seq("a", "a", "a"), Array(("a", "a"))) === Seq("a a", "a"))
    // ... but it IS live for later merges (phrase growth across ranks)
    assert(applyMergesToDoc(Seq("a", "b", "c"), Array(("a", "b"), ("a b", "c")))
      === Seq("a b c"))
    // merges with no occurrence, empty merge list, sub-pair docs
    assert(applyMergesToDoc(Seq("x", "y"), Array(("p", "q"))) === Seq("x", "y"))
    assert(applyMergesToDoc(Seq("x", "y"), Array.empty) === Seq("x", "y"))
    assert(applyMergesToDoc(Seq("x"), Array(("x", "x"))) === Seq("x"))
    assert(applyMergesToDoc(Seq.empty, Array(("x", "x"))) === Seq.empty)
  }

  test("bpeEncode: hand-computed encoded distribution on the training corpus") {
    // same corpus as the iterated-trainer test; merges are
    // r1 (x,y), r2 ("x y", q), r3 ("x y", "x y") — apply by hand:
    //   doc1 "x y x y z" → [x y, x y, z] → (no q) → [x y x y, z]
    //   doc2 "x y q"     → [x y, q] → [x y q] → (single token)
    val docs = Seq(
      (1L, "en", "x y x y z"),
      (2L, "en", "x y q")
    ).toDF("doc_id", "lang", "text")
    val got = TextAnalysis.bpeEncode(docs, rounds = 3).orderBy("tok").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got === Seq(("x y q", 1L), ("x y x y", 1L), ("z", 1L)))
  }

  test("bpeEncode: word-stream conservation on the real corpus") {
    // every encoded token is a phrase of base words, so the encoded
    // distribution must re-expand to EXACTLY the corpus's whitespace
    // token count — a merge can regroup words but never create or drop
    // one. Also pins compression: 3 merges must strictly shrink the
    // stream on this corpus.
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val enc = TextAnalysis.bpeEncode(docs, rounds = 3)
      .select(col("cnt"), (size(split(col("tok"), " ")) * col("cnt")).as("words"))
      .agg(sum(col("cnt")), sum(col("words"))).collect()(0)
    val baseTokens = TextAnalysis.withTokens(docs)
      .agg(sum(size(col("toks")))).collect()(0).getLong(0)
    assert(enc.getLong(1) === baseTokens)
    assert(enc.getLong(0) < baseTokens)
  }

  test("ApplyBpeMerges expression: parity with the applyMergesToDoc reference model") {
    import graft.ext.TextAnalysis.applyMergesToDoc
    // generated corpus over a tiny alphabet (maximizes merge collisions,
    // overlap chains like "a a a", and multi-round rewrites), plus edges
    val rnd = new scala.util.Random(13)
    val alpha = Array("a", "b", "c")
    val texts = (1 to 300).map { i =>
      (i.toLong, "en", Seq.fill(rnd.nextInt(12))(alpha(rnd.nextInt(3))).mkString(" "))
    } ++ Seq((9001L, "en", "a"), (9002L, "en", ""), (9003L, "en", "a a a a"))
    val docs = texts.toDF("doc_id", "lang", "text")
    val merges = Seq(("a", "a"), ("a a", "b"), ("c", "a a b"), ("b", "c"))
    val got = TextAnalysis.bpeApplyMerges(docs, merges)
      .collect().map(r => (r.getLong(0), r.getSeq[String](1))).toMap
    val want = TextAnalysis.withTokens(docs)
      .select(col("doc_id"), col("toks")).collect()
      .map(r => (r.getLong(0), applyMergesToDoc(r.getSeq[String](1), merges.toArray)))
      .toMap
    assert(got === want)
    // empty merge list: identity
    val id = TextAnalysis.bpeApplyMerges(docs, Seq.empty)
      .collect().map(r => (r.getLong(0), r.getSeq[String](1))).toMap
    val base = TextAnalysis.withTokens(docs)
      .select(col("doc_id"), col("toks")).collect()
      .map(r => (r.getLong(0), r.getSeq[String](1))).toMap
    assert(id === base)
    // null elements (representable in the input type, never produced by the
    // tokenizer) pass through unmerged instead of throwing
    val withNull = Seq((1L, Seq[String]("a", null, "a"))).toDF("doc_id", "toks")
    val out = withNull.select(org.apache.spark.sql.graftshim.Shim.column(
        graft.functions.ApplyBpeMerges(
          org.apache.spark.sql.graftshim.Shim.expression(col("toks")),
          Seq(("a", "a")))).as("toks"))
      .collect()(0).getSeq[String](0)
    assert(out === Seq("a", null, "a"))
  }

  test("triangleStats: compact-forward counts each triangle once; clustering exact") {
    // triangle {1,2,3} plus pendant 4 hanging off 3
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("doc1", "doc2")
    val got = GraphRank.triangleStats(pairs).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got === Seq(
      (1L, 2L, 1L, 1.0),
      (2L, 2L, 1L, 1.0),
      (3L, 3L, 1L, 1.0 / 3.0),
      (4L, 1L, 0L, 0.0)))
  }

  test("rareShingleCandidates: df above maxDf is not a block key") {
    // the same shingle in 4 docs exceeds maxDf=3 → no candidates at all
    val docs = (1 to 4).map(i => (i.toLong, "en", "alpha beta gamma"))
      .toDF("doc_id", "lang", "text")
    assert(SparseSim.rareShingleCandidates(docs).count() === 0L)
  }
}
