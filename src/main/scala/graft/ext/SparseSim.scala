package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Sparse count-vector cosine similarity with inverted-index blocking —
 * the term-space complement to the embedding-space ANN family
 * ([[Similarity]]): candidate pairs come from an inverted index over
 * LOW-document-frequency shingles (two docs sharing a rare 3-gram are
 * plausibly related), and the exact cosine is then evaluated on full
 * term-frequency vectors for the candidates only.
 *
 * Scale shape: the blocking index keeps only shingles with
 * df ∈ [2, maxDf], so every posting list is ≤ maxDf long and the
 * pair-generating self-join does ≤ |vocab|·maxDf² work — a CONSTANT per
 * shingle, independent of corpus size (boilerplate shingles shared by
 * millions of docs are exactly the ones the df cap drops; they carry no
 * pairing signal). Both the posting list and the term vectors are keyed
 * on the compiled portable 32-bit hashes (`graft_shingle_hash` /
 * `graft_token_hash` — one codegen'd pass, integer shuffle keys instead
 * of strings), and term vectors are materialized ONLY for docs that
 * appear in a candidate pair (a semi join, so the full-corpus tokenize →
 * explode → count never runs; this cut the sf0.1 bench cost ~6×). The
 * verify join is keyed on (doc, token) — never a cross product.
 * Determinism: dot products are exact integer sums; the only
 * floating-point ops are sqrt / multiply / divide, each a single
 * correctly-rounded IEEE op, so scores are bit-identical across engines.
 * Hash collisions (32-bit) merge identically on both engines.
 *
 * Cache lifetime: like [[Similarity]], operators persist intermediates
 * consumed by multiple plan branches and do NOT unpersist — the CALLER
 * owns cache lifetime (Verify/Bench clear the cache between queries;
 * a long-lived session should `spark.catalog.clearCache()` when done).
 */
object SparseSim {

  /** Per-document term-frequency vector in long form over HASHED tokens:
    * (doc_id, tok, cnt) with multiplicity preserved before the count. */
  def termCounts(docs: DataFrame): DataFrame = {
    TextAnalysis.withTokens(docs)
      .select(col("doc_id"), explode(expr("graft_token_hash(toks)")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("cnt"))
  }

  /**
   * Candidate pairs from the rare-shingle inverted index: distinct
   * (doc1 < doc2) sharing at least one shingle with df ∈ [minDf, maxDf].
   */
  def rareShingleCandidates(docs: DataFrame, minDf: Int = 2, maxDf: Int = 3): DataFrame = {
    // persist the COMPACT (doc_id, hashed-shingle-array) frame — one
    // hashing pass over the corpus; the three posting consumers (df
    // aggregate + both pair-join branches) re-explode from cache, which
    // is far cheaper than materializing the exploded posting list
    // (the decontaminate pattern)
    val hs = TextAnalysis.withTokens(docs)
      .select(col("doc_id"), expr("graft_shingle_hash(toks, 3)").as("hs"))
      .persist()
    val post = hs.select(col("doc_id"), explode(col("hs")).as("g"))
    val rare = post.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df").between(minDf, maxDf)).select("g")
    val rp = post.join(rare, "g")
    rp.select(col("g"), col("doc_id").as("doc1"))
      .join(rp.select(col("g").as("g2"), col("doc_id").as("doc2")),
        col("g") === col("g2") && col("doc1") < col("doc2"))
      .select("doc1", "doc2").distinct()
  }

  /**
   * EXACT shingle-set Jaccard similarity join via PREFIX FILTERING (the
   * ppjoin family) — the exact complement of the MinHash estimate
   * ([[Dedup.minhashCandidatePairs]]' est_jaccard): candidate generation
   * has a 100 % recall GUARANTEE at the threshold, and the verified
   * Jaccard is exact. Each doc's distinct hashed shingles are ordered
   * rarest-first (global df, value tiebreak) and only the first
   * |d| − ⌈t·|d|⌉ + 1 enter the index: two sets with Jaccard ≥ t must
   * share a prefix element (pigeonhole). A length filter
   * (t·max ≤ min — necessary since J ≤ min/max) prunes pairs before the
   * verify join.
   *
   * Runs on SHINGLE sets, not token sets, deliberately: shingle document
   * frequencies are tiny (boilerplate words combine into distinct
   * 3-grams), so prefix posting lists stay short; token-set Jaccard at
   * moderate thresholds has ~0.4·|d| prefixes of COMMON words and goes
   * quadratic on natural language (measured 78 s vs 2 s at sf0.1 here).
   * Verification joins on (doc, shingle), never a cross product;
   * `jaccard` is one IEEE division of exact integers.
   */
  def prefixJaccardPairs(docs: DataFrame, threshold: Double = 0.8): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold must be in (0,1], got $threshold")
    // compact per-doc distinct hashed shingles: array_distinct dedupes
    // IN-ARRAY (no shuffle — the exploded-frame .distinct() this replaces
    // was the dominant cost), and the set size is a doc-level column, not
    // a groupBy. One persist feeds the df-agg, the prefix window, and the
    // verify side.
    val hs = TextAnalysis.withTokens(docs)
      .select(col("doc_id"),
        expr("array_distinct(graft_shingle_hash(toks, 3))").as("hs"))
      .filter(size(col("hs")) > 0)
      .withColumn("sz", size(col("hs")).cast("long"))
      .persist()
    val post = hs.select(col("doc_id"), col("sz"), explode(col("hs")).as("tok"))
    val dfreq = post.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val prefix = post
      .join(dfreq, "tok")
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("df"), col("tok"))))
      .filter(col("rn") <= col("sz") - expr(s"CAST(ceil($threshold * sz) AS BIGINT)") + 1)
      .select(col("doc_id"), col("tok"), col("sz"), col("rn"))
      // both sides of the candidate self-join read this frame, and each
      // side otherwise re-runs the explode → df-join → doc-window chain
      // (two shuffles per side; ReuseExchange does not unify renamed
      // branches — the r12 q_ab_test/termDocFreq finding). Four longs per
      // PREFIX entry (≤ |d|−⌈t·|d|⌉+1 per doc, ~20% of shingles at t=0.8)
      .persist()
    // positional filter (the ppjoin bound): both docs order tokens by the
    // same global (df, value) order, so at the EARLIEST shared prefix
    // token nothing before it overlaps — overlap ≤ 1 + min(suffix
    // lengths), which must reach α = ⌈t/(1+t)·(|A|+|B|)⌉. Keeping a pair
    // when ANY match passes equals testing the earliest match (loosest
    // bound) → recall stays exact; measured 43k → 12.7k candidates at
    // sf0.1
    val cand = prefix.select(col("tok"), col("doc_id").as("doc1"),
        col("sz").as("sz1"), col("rn").as("rn1"))
      .join(prefix.select(col("tok").as("tok2"), col("doc_id").as("doc2"),
        col("sz").as("sz2"), col("rn").as("rn2")),
        col("tok") === col("tok2") && col("doc1") < col("doc2") &&
          // length filter: J ≥ t needs t·max(|A|,|B|) ≤ min(|A|,|B|)
          col("sz1").cast("double") >= lit(threshold) * col("sz2").cast("double") &&
          col("sz2").cast("double") >= lit(threshold) * col("sz1").cast("double") &&
          lit(1) + least(col("sz1") - col("rn1"), col("sz2") - col("rn2")) >=
            expr(s"CAST(ceil(($threshold / (1 + $threshold)) * (sz1 + sz2)) AS BIGINT)"))
      .select("doc1", "doc2").distinct()
    // verification only touches candidate docs — via a BLOOM prefilter
    // over the persisted hs frame, not a semi join: the semi join this
    // replaces shuffled every doc's hashed-shingle ARRAY to meet the
    // candidate ids (fine when the id list broadcasts, a corpus-sized
    // fat shuffle when it doesn't). The probe drops non-candidates at
    // scan speed with no exchange; its ≤1% false positives explode a few
    // extra docs and then die in the exact inner joins against `cand`
    // below, so the result is bit-identical.
    val candDocs = cand.select(col("doc1").as("doc_id"))
      .union(cand.select(col("doc2").as("doc_id")))
      .persist()
    val vtoks = hs
      .filter(graft.operators.BloomJoin.probeFor(candDocs, "doc_id", "doc_id"))
      .select(col("doc_id"), col("sz"), explode(col("hs")).as("tok"))
    val inter = cand
      .join(vtoks.select(col("doc_id").as("doc1"), col("tok"), col("sz").as("sz1")), "doc1")
      .join(vtoks.select(col("doc_id").as("doc2"), col("tok"), col("sz").as("sz2")),
        Seq("doc2", "tok"))
      .groupBy(col("doc1"), col("doc2"))
      .agg(count(lit(1)).as("inter"),
        min(col("sz1")).as("sz1"), min(col("sz2")).as("sz2"))
    inter
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz1") + col("sz2") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("doc1", "doc2", "inter", "jaccard")
  }

  /**
   * Exact cosine over token-count vectors for the blocked candidates:
   * (doc1, doc2, dot, cos_sim) with cos_sim ≥ minSim. `dot` is the exact
   * integer ⟨tf₁, tf₂⟩; `cos_sim` = dot / (‖tf₁‖·‖tf₂‖).
   */
  def cosinePairs(docs: DataFrame, minDf: Int = 2, maxDf: Int = 3,
                  minSim: Double = 0.5): DataFrame = {
    val cand = rareShingleCandidates(docs, minDf, maxDf).persist()
    // term vectors ONLY for docs in a candidate pair — via a BLOOM
    // prefilter rather than a semi join: both keep the expensive
    // explode+count off the full corpus, but the semi join shuffled
    // every document's raw TEXT to meet the candidate ids whenever the
    // id list outgrew the broadcast threshold — the one corpus-fat
    // exchange the r10 lineage census caught. The probe drops
    // non-candidates at scan speed with no exchange; its ≤1% false
    // positives tokenize a few extra docs and then die in the exact
    // inner joins against `cand` below, so the result is bit-identical.
    val candDocs = cand.select(col("doc1").as("doc_id"))
      .union(cand.select(col("doc2").as("doc_id")))
      .persist()
    // the norm rides along as a doc-partitioned window over the tf frame —
    // the dots aggregate then carries it (constant per group, min() for
    // determinism), saving two join stages over a separate norms frame;
    // the VALUE is identical, so the oracle keeps the plain-join form
    val tf = termCounts(
        docs.filter(graft.operators.BloomJoin.probeFor(candDocs, "doc_id", "doc_id")))
      .withColumn("nrm", expr("sqrt(CAST(sum(cnt * cnt) OVER (PARTITION BY doc_id) AS DOUBLE))"))
      .persist()
    cand
      .join(tf.select(col("doc_id").as("doc1"), col("tok"),
        col("cnt").as("c1"), col("nrm").as("nrm1")), "doc1")
      .join(tf.select(col("doc_id").as("doc2"), col("tok"),
        col("cnt").as("c2"), col("nrm").as("nrm2")),
        Seq("doc2", "tok"))
      .groupBy(col("doc1"), col("doc2"))
      .agg(sum(col("c1") * col("c2")).as("dot"),
        min(col("nrm1")).as("nrm1"), min(col("nrm2")).as("nrm2"))
      .withColumn("cos_sim", col("dot").cast("double") / (col("nrm1") * col("nrm2")))
      .filter(col("cos_sim") >= minSim)
      .select("doc1", "doc2", "dot", "cos_sim")
  }
}
