package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for an LLM training-data pipeline over the
 * `documents` table: tokenization, token counting, quality scoring,
 * language ID (n-gram/stopword heuristic), document fingerprinting.
 *
 * Everything is built from codegen'd Catalyst built-ins (split, transform,
 * filter, aggregate, md5, conv) — no UDFs — so whole-stage codegen spans the
 * full pipeline and the operators scale linearly with no shuffle until the
 * terminal aggregation.
 *
 * Hashing note: the portable 32-bit hash is the first 8 hex digits of md5,
 * `conv(substr(md5(s),1,8),16,10)` — chosen over Spark's murmur `hash()`
 * because it is reproducible in any engine (the DuckDB oracle computes the
 * identical value), which is what makes dedup fingerprints portable across
 * the pipeline's tools.
 */
object TextAnalysis {

  /** Portable 32-bit hash of a string column (0 .. 2^32-1 as long). */
  def hash32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** Portable 60-bit hash (first 15 md5 hex digits). Use where the hash is
    * a HARD membership key rather than a sketch ingredient: 32 bits
    * saturate by birthday at corpus scale (at 10^12-10^13 distinct
    * n-grams every 2^32 bucket holds unrelated collisions and a
    * "seen twice" census flags everything), while 60 bits keep the
    * colliding mass ~n/2^60 — negligible — and still parse into a SIGNED
    * 64-bit integer in any engine (16 hex digits would overflow). */
  val hash60Sql: String = "CAST(conv(substr(md5(%s), 1, 15), 16, 10) AS BIGINT)"

  /** Lower-cased whitespace tokens — the codegen'd one-pass form of
    * [[splitTokens]] (identical values; a TextSpec property test pins the
    * equivalence, including the empty/leading-separator edges). */
  def withTokens(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.withColumn("toks", org.apache.spark.sql.graftshim.Shim.column(
      graft.functions.WhitespaceTokens(
        org.apache.spark.sql.graftshim.Shim.expression(col(textCol)))))

  /** The built-in-only tokenize this engine started with: a per-row regex
    * compile inside `String.split` plus two intermediate string copies.
    * Kept as the reference model for the [[withTokens]] parity test and
    * the A/B recorded in PLANS.md round-9 §3. */
  def splitTokens(textCol: String): Column =
    split(trim(lower(col(textCol))), "\\s+")

  /** Distinct word `n`-gram shingles of the token array. */
  def withShingles(docs: DataFrame, n: Int = 3): DataFrame = {
    val parts = (0 until n).map(k => s"toks[i+$k]").mkString(", ")
    withTokens(docs).withColumn("shingles",
      expr(s"""CASE WHEN size(toks) < $n THEN array()
              | ELSE array_distinct(transform(sequence(0, size(toks)-$n),
              |        i -> concat_ws(' ', $parts))) END""".stripMargin))
  }

  /** Basic stats: token counts (whitespace + word-regex), char counts,
    * average token length. */
  def textStats(docs: DataFrame): DataFrame =
    withTokens(docs)
      .withColumn("re_toks", expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)"))
      .select(
        col("doc_id"),
        length(col("text")).as("n_chars_actual"),
        size(col("toks")).as("n_ws_tokens"),
        size(col("re_toks")).as("n_re_tokens"),
        expr("aggregate(toks, 0, (acc, t) -> acc + length(t)) / size(toks)").as("avg_token_len"))

  /** English stopwords present in this corpus domain + common function words. */
  val stopwordsEn: Seq[String] = Seq("the", "a", "and", "of", "to", "in", "is")

  /** THE quality acceptance rule — long enough, not all repetition — shared
    * by [[qualityScore]], [[corpusPrep]], and [[sourceReputation]] (and
    * mirrored by each of their oracles): one definition, so the gate can't
    * drift between the standalone score and the pipelines that apply it. */
  def passesQuality(nTokens: Column, nUnique: Column): Column =
    nTokens >= 10 && nUnique / nTokens > 0.2

  /**
   * Quality scoring: length, stopword ratio, uniqueness ratio — the standard
   * cheap pre-filters of web-scale corpus cleaning (heuristics in the spirit
   * of C4/Gopher rules, computed columnar).
   */
  /** Compiled `size(filter(c, t -> t IN (words)))` — one codegen'd hash
    * probe per token instead of an interpreted HOF lambda per token per
    * dictionary (TokenizeSpec pins the value parity). */
  def countIn(c: Column, words: Seq[String]): Column =
    org.apache.spark.sql.graftshim.Shim.column(graft.functions.CountInSet(
      org.apache.spark.sql.graftshim.Shim.expression(c), words))

  def qualityScore(docs: DataFrame): DataFrame = {
    withTokens(docs)
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("n_stop", countIn(col("toks"), stopwordsEn))
      .withColumn("n_unique", size(array_distinct(col("toks"))))
      .select(
        col("doc_id"),
        col("n_tokens"),
        (col("n_stop") / col("n_tokens")).as("stopword_ratio"),
        (col("n_unique") / col("n_tokens")).as("unique_ratio"),
        passesQuality(col("n_tokens"), col("n_unique")).as("passes_quality"))
  }

  /** Tiny per-language function-word dictionaries for the heuristic
    * language ID. Order = deterministic argmax priority (alphabetical). */
  val langDicts: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
    "en" -> Seq("the", "a", "and", "of", "to", "is"),
    "es" -> Seq("el", "los", "y", "que", "una", "es"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est"))

  /**
   * Heuristic language ID: score = stopword hits per language dictionary,
   * predicted = argmax with fixed alphabetical tiebreak. (A real system
   * would use char n-gram profiles; the *pipeline shape* — per-row scoring
   * from small broadcast dictionaries, no shuffle — is identical.)
   */
  def langId(docs: DataFrame): DataFrame = {
    val scored = langDicts.foldLeft(withTokens(docs)) { case (df, (lang, words)) =>
      df.withColumn(s"score_$lang", countIn(col("toks"), words))
    }
    val langs = langDicts.map(_._1)
    // argmax with alphabetical priority: first lang whose score >= all others
    val predicted = langs.foldRight(lit(langs.last)) { (lang, rest) =>
      val geAll = langs.filter(_ != lang)
        .map(o => col(s"score_$lang") >= col(s"score_$o"))
        .reduce(_ && _)
      when(geAll, lit(lang)).otherwise(rest)
    }
    scored.select(
      col("doc_id") +: col("lang").as("declared_lang") +:
        langs.map(l => col(s"score_$l")) :+ predicted.as("predicted_lang"): _*)
  }

  /**
   * Global top-k vocabulary: explode → count → top-k → rank. The top-k is
   * `orderBy.limit(k)`, which plans as TakeOrderedAndProject — each task
   * keeps a k-row heap and only k rows per partition reach the driver-side
   * merge, so the full vocabulary (easily 10⁸ rows at 100 TB) is never
   * globally sorted or moved to one partition. Only the k survivors pass
   * through the rank window — its single-partition WindowExec is k rows by
   * construction, not a scale hazard.
   */
  def vocabTopK(docs: DataFrame, k: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    withTokens(docs)
      .select(explode(col("toks")).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token").asc)
      .limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("freq").desc, col("token").asc)))
  }

  /** Adjacent-token-pair frequencies — the merge-step kernel of BPE
    * tokenizer training: each training iteration counts adjacent pairs
    * over the corpus, merges the most frequent, repeats. One iteration is
    * the whole distributed cost (count pairs = one explode + one shuffle
    * on pair); the merge itself touches only the vocab. The top-k lands
    * via orderBy+limit (TakeOrderedAndProject — per-partition heaps, no
    * global sort), rank stamped on the k survivors. The zip_with pair
    * construction is an interpreted HOF lambda, but it runs once per
    * token (string concat), not per signature permutation — not a
    * SketchExprs-grade hot loop. */
  def bpePairs(docs: DataFrame, k: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    withTokens(docs)
      .filter(size(col("toks")) >= 2)
      .select(explode(expr(
        "zip_with(slice(toks, 1, size(toks) - 1), slice(toks, 2, size(toks) - 1)," +
          " (a, b) -> concat(a, ' ', b))")).as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair").asc)
      .limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("cnt").desc, col("pair").asc)))
  }

  /**
   * Iterated BPE merge training — the full trainer loop on top of the
   * single-step [[bpePairs]] kernel: each round counts adjacent token
   * pairs corpus-wide, adopts the most frequent pair (count desc, then
   * lexicographic — total order), and REWRITES the token stream with that
   * merge before the next round. Returns the merge table
   * (round, left_tok, right_tok, cnt) — the artifact a tokenizer ships.
   * A round with no adjacent pairs anywhere contributes no merge row and
   * empties the stream (the 1-row winner broadcast is empty) — size
   * `rounds` to the corpus; the oracle mirrors the same semantics.
   *
   * The merge itself uses the RUN-PARITY positional rule instead of a
   * per-document sequential fold: occurrences of the winning pair at
   * consecutive positions overlap (share a token), and greedy
   * left-to-right merging keeps exactly the odd-indexed occurrence of
   * each overlap run. That formulation is pure windows + joins — the
   * same declarative plan on any engine (a fold would need an
   * engine-specific list accumulator) — and keeps the stream in LONG
   * form (doc_id, pos, tok): no array rebuilds, adjacency by
   * consecutive renumbered positions.
   *
   * Scale shape: per round, one lead() window over the doc-partitioned
   * stream, one pair-count hash agg, a 1-row broadcast of the winner,
   * and the rebuild joins keyed on (doc, pos). The stream is
   * localCheckpoint'd each round (the components lesson: iterative
   * lineage compounds), so round r never re-runs rounds 1..r−1; on a
   * cluster this is "write the re-tokenized stream per round".
   */
  def bpeTrainMerges(docs: DataFrame, rounds: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    var tp = withTokens(docs)
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "tok")))
      .localCheckpoint(true)
    var merges: DataFrame = null
    for (r <- 1 to rounds) {
      val prs = tp.withColumn("nxt", lead(col("tok"), 1).over(wDoc))
      val top1 = prs.filter(col("nxt").isNotNull)
        .groupBy(col("tok").as("a"), col("nxt").as("b"))
        .agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("a"), col("b")).limit(1)
      // the whole merge is a window chain over ONE doc-partitioned sort
      // (no (doc, pos)-keyed joins): a flagged occurrence merges iff its
      // offset from its overlap-run start is even (run start = last
      // unflagged position + 1); the merged flag's lag marks the consumed
      // second element
      val rebuilt = prs.crossJoin(broadcast(top1))
        .withColumn("flag",
          coalesce(col("tok") === col("a") && col("nxt") === col("b"), lit(false)))
        .withColumn("prev_unflagged",
          max(when(!col("flag"), col("pos"))).over(
            wDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("first_pos", min(col("pos")).over(Window.partitionBy(col("doc_id"))))
        .withColumn("merged", col("flag") &&
          (col("pos") - coalesce(col("prev_unflagged") + 1, col("first_pos"))) % 2 === 0)
        .withColumn("consumed", coalesce(lag(col("merged"), 1).over(wDoc), lit(false)))
        .filter(!col("consumed"))
        .select(col("doc_id"), col("pos"),
          when(col("merged"), concat(col("a"), lit(" "), col("b")))
            .otherwise(col("tok")).as("tok"))
      tp = rebuilt
        .withColumn("pos", row_number().over(wDoc).cast("long"))
        .localCheckpoint(true)
      val mr = top1.select(lit(r).as("round"), col("a").as("left_tok"),
        col("b").as("right_tok"), col("c").as("cnt"))
      merges = if (merges == null) mr else merges.unionAll(mr)
    }
    merges
  }

  /**
   * Carried-sort BPE trainer — same merge table as [[bpeTrainMerges]]
   * (ScalaTest asserts equality; the DuckDB oracle mirrors the shared
   * semantics), but the corpus is shuffled and sorted ONCE for the whole
   * training run instead of once per round. The windows formulation pays
   * a doc-partitioned exchange + sort every round because each round's
   * window chain re-declares its ordering; here the stream is
   * `repartition(doc_id) + sortWithinPartitions` up front, and every
   * round after that is narrow:
   *
   *  - pair counts: adjacency is "consecutive rows of the same doc" (the
   *    carried order makes `pos` itself redundant — it is dropped), so
   *    one in-partition zip of neighbors feeds a hash aggregate whose
   *    map-side partial combine shrinks the shuffle to the distinct
   *    pairs per partition;
   *  - the winner is ONE row (count desc, pair asc total order),
   *    collected to the driver — the per-round training artifact, not a
   *    data-scale collect;
   *  - the rebuild is a single-pass greedy left-to-right merge scan per
   *    partition (`mapPartitions` — genuinely per-partition imperative
   *    logic over an order-carrying stream, the one place the
   *    declarative form is strictly worse). Greedy left-to-right is
   *    exactly the run-parity rule: within an overlap run of winning
   *    pairs, the even-offset occurrences merge and the odd ones are
   *    consumed — the sequential scan implements that by not re-holding
   *    a just-merged token as the next left candidate.
   *
   * Per-round cost drops from (exchange + sort + window chain + renumber
   * window) to (linear scan + pair-sized aggregate): the corpus crosses
   * the wire once at the start instead of once per round, which is the
   * dominant cost at scale (PLANS.md round-8 table). `localCheckpoint`
   * still truncates lineage each round — partitions and intra-partition
   * order survive it, so the carried sort is never redone.
   *
   * Checkpoint generations are stored SERIALIZED (MEMORY_AND_DISK_SER):
   * the default deserialized level keeps ~2 objects per row alive in old
   * gen — 54M for the 100× corpus's 27M-row stream — and even with the
   * r10 per-round free, the per-round churn of that object population
   * made late rounds GC-bound (r11 instrumented probe: rebuild wall
   * 1.5→8.3→27 s with gc_ms 446→3511→8833 while storage_mb stayed FLAT —
   * the blocks were freed fine; the garbage collector was the bottleneck).
   * Serialized blocks are a handful of byte arrays per partition; the
   * per-round deserialize cost is one pass over data the phase scans
   * anyway. */
  private[graft] val CheckpointLevel =
    org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER

  def bpeTrainMergesCarried(docs: DataFrame, rounds: Int = 3): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val spark = docs.sparkSession
    import spark.implicits._
    // LAZY checkpoint generations: each round's pair-count pass is the
    // action that materializes the generation it counts (the lazy mark
    // caches partitions at CheckpointLevel as that pass computes them and
    // truncates lineage exactly like the eager form), so the former
    // SEPARATE eager-checkpoint pass per round is gone — one corpus-wide
    // job per round instead of two — and the FINAL round's merge stream,
    // which nothing ever counts, is never computed at all (the eager shape
    // paid a full merge+materialize pass and then freed it unread).
    var tp = withTokens(docs)
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "tok")))
      .repartition(col("doc_id"))
      .sortWithinPartitions(col("doc_id"), col("pos"))
      .select(col("doc_id").cast("long").as("doc_id"), col("tok"))
      .as[(Long, String)]
      .localCheckpoint(false, CheckpointLevel)
    val winners = Seq.newBuilder[(Int, String, String, Long)]
    // the generation the CURRENT tp was derived from: freed only after a
    // count pass has fully materialized tp (one round later than the eager
    // shape freed it — same 2-generation peak, since the eager shape held
    // both generations live across its checkpoint pass too)
    var prevGen: org.apache.spark.sql.Dataset[(Long, String)] = null
    var r = 1
    var drained = false
    while (r <= rounds && !drained) {
      val top = tp.mapPartitions { it =>
        // neighbor zip without buffering a document: hold one row back
        var hasPrev = false; var pDoc = 0L; var pTok: String = null
        it.flatMap { case (doc, tok) =>
          val out =
            if (hasPrev && pDoc == doc) Iterator.single((pTok, tok))
            else Iterator.empty
          hasPrev = true; pDoc = doc; pTok = tok
          out
        }
      }.toDF("a", "b")
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("a"), col("b")).limit(1)
        .as[(String, String, Long)].collect()
      // the count action above materialized every partition of `tp`; the
      // generation tp was derived from can no longer be read by anything
      if (prevGen != null) {
        org.apache.spark.sql.graftshim.Shim.freeLocalCheckpoint(prevGen)
        prevGen = null
      }
      top.headOption match {
        case None =>
          // no adjacent pairs anywhere: same terminal semantics as the
          // windows form (whose empty 1-row broadcast empties the
          // stream) — no merge row for this or any later round
          drained = true
        case Some((a, b, c)) =>
          winners += ((r, a, b, c))
          prevGen = tp
          tp = tp.mapPartitions { it =>
            // greedy left-to-right merge: a merged token is emitted and
            // NOT re-held as the pending left candidate, so it cannot
            // start another merge this round (= run-parity evens)
            var hasPend = false; var qDoc = 0L; var qTok: String = null
            val tail = Iterator.single(()).flatMap { _ =>
              if (hasPend) { hasPend = false; Iterator.single((qDoc, qTok)) }
              else Iterator.empty
            }
            it.flatMap { case (doc, tok) =>
              if (hasPend && qDoc == doc && qTok == a && tok == b) {
                hasPend = false
                Iterator.single((doc, a + " " + b))
              } else {
                val out =
                  if (hasPend) Iterator.single((qDoc, qTok)) else Iterator.empty
                hasPend = true; qDoc = doc; qTok = tok
                out
              }
            } ++ tail
          }.localCheckpoint(false, CheckpointLevel)
          // generations are freed one count-pass later (top of the loop):
          // the per-round free itself is the r10 fix — without it `rounds`
          // corpus-sized generations pile up in the block manager for the
          // whole train (PLANS.md round-10 §3 measured 47–111 s late-round
          // stalls on the 100× corpus from exactly that storage/GC pressure).
          // Safe ONLY because nothing reads a superseded generation again
          // (see Shim.freeLocalCheckpoint).
          r += 1
      }
    }
    // the surviving generations outlive the loop only as storage — the
    // winner list is already on the driver. A final-round tp that was
    // never counted holds no blocks (the lazy mark never materialized);
    // its unpersist is a no-op.
    if (prevGen != null)
      org.apache.spark.sql.graftshim.Shim.freeLocalCheckpoint(prevGen)
    org.apache.spark.sql.graftshim.Shim.freeLocalCheckpoint(tp)
    spark.createDataFrame(winners.result())
      .toDF("round", "left_tok", "right_tok", "cnt")
  }

  /** One document through an ordered merge list: for each merge in rank
    * order, one greedy left-to-right non-overlapping pass over the token
    * array. A token produced by a merge is not a left candidate for the
    * SAME merge pass (= the trainer's run-parity evens rule) but is live
    * for every later merge, which is what lets a trained list build
    * longer and longer phrases. */
  private[graft] def applyMergesToDoc(
      toks: Seq[String], merges: Array[(String, String)]): Seq[String] = {
    var cur: Array[String] = toks.toArray
    var m = 0
    while (m < merges.length && cur.length > 1) {
      val (a, b) = merges(m)
      val out = new Array[String](cur.length)
      var i = 0
      var n = 0
      while (i < cur.length) {
        if (i + 1 < cur.length && cur(i) == a && cur(i + 1) == b) {
          out(n) = a + " " + b; n += 1; i += 2
        } else {
          out(n) = cur(i); n += 1; i += 1
        }
      }
      cur = if (n == out.length) out else java.util.Arrays.copyOf(out, n)
      m += 1
    }
    cur.toSeq
  }

  /**
   * Apply an ORDERED merge list to every document — the tokenize stage a
   * pre-trained BPE vocabulary runs over a 100 TB corpus. Decoupled from
   * training: the merges arrive as plain pairs (a tokenizer ARTIFACT —
   * k rows, collected once, closure-shipped to executors; never a
   * data-scale collect), and application is ONE narrow codegen'd
   * expression ([[graft.functions.ApplyBpeMerges]]): each doc's token
   * array is rewritten merge-by-merge in rank order directly over
   * Tungsten `UTF8String` values — the same greedy scan the trainer's
   * rebuild uses ([[applyMergesToDoc]] stays as the reference model,
   * parity-pinned in PathMiningSpec), so applying the trainer's own
   * merges reproduces its final internal stream exactly (also pinned by
   * the q_bpe_encode oracle, whose tp4 IS that stream). Unlike training —
   * which must re-count pairs globally each round — the apply path needs
   * no doc-contiguous sort and NO shuffle at all: scan → tokenize →
   * rewrite → explode, all pipelined in ONE codegen stage (the first
   * form here was a typed `Dataset.map`, which paid an encoder
   * deserialize–reserialize round trip per document and fenced codegen
   * at both edges), O(k·len) per doc with the buffer bounded by the
   * document, not the corpus.
   */
  def bpeApplyMerges(docs: DataFrame, merges: Seq[(String, String)]): DataFrame =
    withTokens(docs)
      .select(col("doc_id").cast("long").as("doc_id"),
        org.apache.spark.sql.graftshim.Shim.column(
          graft.functions.ApplyBpeMerges(
            org.apache.spark.sql.graftshim.Shim.expression(col("toks")), merges))
          .as("toks"))

  /** Encoded-corpus token distribution: train `rounds` merges
    * ([[bpeTrainMergesCarried]]), re-tokenize the corpus with them
    * through the decoupled apply path, and count the resulting tokens —
    * the vocabulary-frequency report a tokenizer run emits. The final
    * aggregation is the query's only shuffle, and its key space is the
    * vocabulary (base tokens + k phrases), not the corpus. */
  def bpeEncode(docs: DataFrame, rounds: Int = 3): DataFrame = {
    val merges = bpeTrainMergesCarried(docs, rounds)
      .orderBy(col("round"))
      .select(col("left_tok"), col("right_tok"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    bpeApplyMerges(docs, merges)
      .select(explode(col("toks")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
  }

  /** Per-language document-length quantiles (exact, interpolated). */
  def doclenQuantiles(docs: DataFrame): DataFrame =
    docs.groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        expr("percentile(n_chars, array(0.25D, 0.5D, 0.75D))").as("qs"))
      .select(
        col("lang"), col("n_docs"),
        element_at(col("qs"), 1).as("p25"),
        element_at(col("qs"), 2).as("p50"),
        element_at(col("qs"), 3).as("p75"))

  /**
   * Term/document frequencies — the integer substrate of tf-idf / BM25.
   * Two aggregations: tf per (doc, token), then df per token derived from
   * tf (so df counts documents, not occurrences). The df side is
   * vocab-sized; the join back to tf is left to the planner — AQE picks a
   * broadcast join whenever the vocabulary fits, and degrades to a
   * shuffled hash join (both sides already partitioned by token) when a
   * 100 TB corpus's vocabulary doesn't.
   */
  def termDocFreq(docs: DataFrame): DataFrame = {
    val ex = withTokens(docs).select(col("doc_id"), explode(col("toks")).as("token"))
    // tf feeds BOTH the df derivation and the join's left side, and
    // ReuseExchange does not unify the branches (r12, verified on the
    // executed plan: two full scan→tokenize→explode→tf-shuffle chains,
    // zero ReusedExchange nodes) — so the corpus was tokenized and
    // token-shuffled twice for one result. Persist per the cms
    // convention (narrow integer frame; session owner reclaims).
    val tf = ex.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
      .persist()
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    tf.join(df, "token").select(col("doc_id"), col("token"), col("tf"), col("df"))
  }

  /**
   * BM25 relevance scores for every (document, token) pair:
   * `idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))` with the
   * Robertson-Sparck Jones idf `ln(1 + (N - df + 0.5)/(df + 0.5))`.
   * Corpus scalars (N, avgdl) ride along via a broadcast single-row cross
   * join — never a driver-side collect. The arithmetic is pure double
   * IEEE chains off integer inputs, so scores are deterministic; only the
   * final `ln` can differ from another engine in the last ulp (hence the
   * oracle compares the score rounded, and the exact values are pinned by
   * a ScalaTest instead).
   */
  def bm25(docs: DataFrame, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // two consumers (corpus stats + the per-doc join) — persisted for the
    // same reason as termDocFreq's tf frame: without it each consumer
    // re-tokenizes the corpus. dl is NOT derivable from tf (sum(tf) per
    // doc loses ZERO-TOKEN docs, which this frame counts into n_docs and
    // avgdl), so it stays its own one-tokenize pass — two total for the
    // operator, down from four.
    val dl = withTokens(docs).select(col("doc_id"), size(col("toks")).as("dl"))
      .persist()
    val stats = dl.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    termDocFreq(docs)
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("score",
        col("idf") * (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
      .select(col("doc_id"), col("token"), col("tf"), col("df"), col("dl"), col("score"))
  }

  /**
   * Token frequencies estimated through a count-min sketch
   * ([[graft.functions.CountMinSketchAgg]]), next to the exact counts for
   * error inspection. The sketch is ONE fixed-size row aggregated from the
   * full token stream (mergeable partials — the 100 TB path: no per-key
   * state, one reduce to a `depth×width` matrix); estimates are then read
   * back with plain SQL `element_at` against the broadcast sketch. The
   * exact-count side exists for the oracle/error column — a production
   * pipeline would keep only the sketch.
   */
  def cmsTokenCounts(docs: DataFrame, width: Int = 256, depth: Int = 4): DataFrame = {
    val P = 4294967311L
    // one scan: the exact per-token counts feed the sketch as WEIGHTED
    // inserts (value-identical to count-many +1 updates on the raw stream —
    // a sketch-only production pipeline would instead graft_cms(h) straight
    // off the token stream with no groupBy at all).
    // Persist convention as in Dedup/Similarity: the cached frame backs both
    // branches; the session owner reclaims it (Verify/Bench clearCache per
    // query — without the persist the corpus is scanned twice instead).
    val perToken = withTokens(docs)
      .select(explode(col("toks")).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("exact"))
      .withColumn("h", hash32(col("token")))
      .persist()
    val sketch = perToken.agg(expr(s"graft_cms(h, exact, $width, $depth)").as("cms"))
    val estJ = (0 until depth).map { j =>
      expr(s"element_at(cms, CAST((${2 * j + 1} * h + ${104729L * j + 12345L}) % $P % $width AS INT) + ${j * width} + 1)")
    }
    perToken.crossJoin(broadcast(sketch))
      .withColumn("est", least(estJ: _*))
      .select(col("token"), col("exact"), col("est"))
  }

  /**
   * Deterministic stratified sampling: per-stratum keep rates (percent)
   * applied via the portable content hash, so the SAME documents are kept
   * on every engine, every run, at any parallelism — the reproducible
   * corpus-rebalancing primitive (e.g. downsample the dominant language).
   * Unlisted strata keep `defaultRatePct`. Pure narrow projection+filter:
   * no shuffle, no RNG state.
   */
  def stratifiedSample(docs: DataFrame,
                       ratesPct: Map[String, Int] = Map("en" -> 50),
                       defaultRatePct: Int = 100): DataFrame = {
    val rate = ratesPct.foldLeft(lit(defaultRatePct)) { case (acc, (lang, r)) =>
      when(col("lang") === lang, lit(r)).otherwise(acc)
    }
    docs
      .withColumn("keep_rate", rate)
      .filter(pmod(hash32(col("text")), lit(100)) < col("keep_rate"))
      .select(col("doc_id"), col("lang"), col("keep_rate"))
  }

  /**
   * Training-sequence packing: assign each document a (pack_id, offset)
   * inside fixed token-budget packs, computed from the exclusive running
   * token count in deterministic (lang, doc_id) order — the layout step
   * before writing training shards. A document straddling a boundary
   * starts the next pack's id at its running offset (streaming-chunking
   * semantics; exact first-fit would need a stateful scan — the
   * sessionization machinery — for marginal packing gain).
   *
   * Scale note: the running sum is per lang in doc_id order, but it does
   * NOT execute as one window partition per lang (lang is low-cardinality:
   * at 100 TB the dominant language would be a single-reducer sort).
   * [[packCounts]] decomposes it over (lang, range-shard) partitions with
   * a broadcast base-offset join — same output, bounded partitions.
   */
  def packSequences(docs: DataFrame, budgetTokens: Int = 8192): DataFrame =
    packCounts(withTokens(docs).withColumn("n_tokens", size(col("toks"))), budgetTokens)

  /**
   * Packing layout over rows that already carry `(doc_id, lang, n_tokens)` —
   * the shared tail of [[packSequences]] and [[corpusPrep]] (which has the
   * token counts in hand and must not re-tokenize).
   *
   * The per-lang exclusive prefix sum is computed scale-safely in two
   * levels: shard rows by `doc_id DIV shardSpan` — ORDER-COMPATIBLE range
   * shards, so every doc in shard k precedes every doc in shard k+1 within
   * its lang and the global prefix sum decomposes exactly — then (1) an
   * intra-shard running sum windowed over (lang, shard), (2) per-shard
   * token totals rolled into exclusive shard base offsets (a few rows per
   * lang), broadcast-joined back. No window partition ever exceeds
   * `shardSpan` doc_ids regardless of how skewed the lang distribution is.
   * Assumes non-negative doc_ids (DIV floors toward -inf on negatives,
   * which would still shard consistently but makes span accounting odd).
   */
  def packCounts(counted: DataFrame, budgetTokens: Int,
                 shardSpan: Long = 1L << 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(shardSpan > 0, s"shardSpan must be positive, got $shardSpan")
    // project to the 4 needed columns and persist: the shard-total branch
    // below re-derives this frame's lineage, which for packSequences /
    // corpusPrep means a second full tokenize of the corpus
    val sharded = counted
      .select(col("doc_id"), col("lang"), col("n_tokens"))
      .withColumn("_shard", expr(s"doc_id DIV ${shardSpan}L"))
      .persist()
    val wIn = Window.partitionBy(col("lang"), col("_shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // shard totals are one row per (lang, shard): the base-offset window
    // runs over that tiny frame, never over document rows
    val wBase = Window.partitionBy(col("lang")).orderBy(col("_shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = sharded.groupBy(col("lang"), col("_shard"))
      .agg(sum(col("n_tokens")).as("_shard_tokens"))
      .select(col("lang"), col("_shard"),
        coalesce(sum(col("_shard_tokens")).over(wBase), lit(0L)).as("_shard_base"))
    sharded
      .join(broadcast(bases), Seq("lang", "_shard"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        (col("_shard_base") + coalesce(sum(col("n_tokens")).over(wIn), lit(0L)))
          .as("cum_before"))
      .withColumn("pack_id", expr(s"cum_before DIV $budgetTokens"))
      .withColumn("offset_in_pack", col("cum_before") % budgetTokens)
  }

  /**
   * The end-to-end corpus-prep composition: quality gate → exact dedup
   * (keep the minimum doc_id of each content-hash group) → deterministic
   * stratified sampling → training-sequence packing of the survivors.
   *
   * Scan budget: the quality and sampling predicates are PER-ROW, so they
   * fuse into one tokenizing pass that also yields the packing token
   * counts — documents is read once for the main pipeline plus once more,
   * column-pruned, for the dedup keep-set (which by definition must see
   * every document's hash, including ones the row filters drop — filtering
   * first would change which copy of a duplicate survives). The semi join
   * back carries doc_ids only. Same stage semantics as running the four
   * standalone operators in sequence, at half their combined scan cost.
   */
  def corpusPrep(docs: DataFrame, budgetTokens: Int = 512,
                 ratesPct: Map[String, Int] = Map("en" -> 50),
                 defaultRatePct: Int = 100): DataFrame = {
    val keep = graft.ext.Dedup.exactGroups(docs).select(col("keep_doc_id").as("doc_id"))
    val rate = ratesPct.foldLeft(lit(defaultRatePct)) { case (acc, (lang, r)) =>
      when(col("lang") === lang, lit(r)).otherwise(acc)
    }
    val survivors = withTokens(docs)
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("n_unique", size(array_distinct(col("toks"))))
      // quality gate (== qualityScore.passes_quality)
      .filter(passesQuality(col("n_tokens"), col("n_unique")))
      // stratified sample (== stratifiedSample's hash gate)
      .filter(pmod(hash32(col("text")), lit(100)) < rate)
      // exact-dedup keep-min, decided over ALL documents
      .join(keep, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("lang"), col("n_tokens"))
    packCounts(survivors, budgetTokens)
  }

  /**
   * Benchmark decontamination: flag training documents that share word
   * n-gram shingles with an evaluation set — the overlap check every
   * training-corpus pipeline runs before a model sees the data (eval
   * questions leaking into pretraining invalidate the benchmark). The eval
   * set here is the deterministic `doc_id % evalMod == 0` slice standing in
   * for an external benchmark table; a real run substitutes its own frame
   * with the same (doc_id, shingles) shape.
   *
   * Scale shape: the eval side is SMALL by definition (benchmarks are
   * thousands of documents, the corpus is billions), so its distinct
   * shingle set broadcasts; the corpus explodes its shingles once and
   * hash-joins against the broadcast — per-row work proportional to
   * shingles that actually overlap, no shuffle of the corpus. Per-doc
   * shingles are already distinct and the eval set is dedup'd, so a plain
   * count is the distinct-overlap count.
   */
  def decontaminate(docs: DataFrame, evalMod: Int = 97, shingleSize: Int = 3,
                    minOverlap: Int = 2): DataFrame = {
    // hashed shingles via the compiled expression (one pass, no interpreted
    // concat_ws/transform lambdas) — overlap on the portable md5-uint32
    // values, which the oracle reproduces exactly. The train frame is
    // persisted compact (doc_id + long array): both its consumers (explode
    // and n_shingles) would otherwise re-shingle the corpus.
    val sh = withTokens(docs)
      .select(col("doc_id"), expr(s"graft_shingle_hash(toks, $shingleSize)").as("hs"))
    val train = sh.filter(col("doc_id") % evalMod =!= 0).persist()
    val evalShingles = sh.filter(col("doc_id") % evalMod === 0)
      .select(explode(col("hs")).as("shingle_hash")).distinct()
    val overlaps = train
      .select(col("doc_id"), explode(col("hs")).as("shingle_hash"))
      .join(broadcast(evalShingles), "shingle_hash")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_overlap"))
    train
      .select(col("doc_id"), size(col("hs")).as("n_shingles"))
      .join(overlaps, Seq("doc_id"), "left")
      .withColumn("n_overlap", coalesce(col("n_overlap"), lit(0L)))
      .withColumn("contaminated", col("n_overlap") >= minOverlap)
  }

  /**
   * Fuzzy benchmark decontamination — the MinHash-backed twin of
   * [[decontaminate]]: that operator gates on EXACT shingle-hash hits, so a
   * lightly paraphrased eval question (reworded stem, renumbered answer
   * choices) slips through with zero shared n-grams. This is the
   * production Dolma/FineWeb shape: LSH-band the whole corpus once
   * ([[graft.ext.Dedup.minhashSignatures]]/[[graft.ext.Dedup.minhashBands]]
   * — the same machinery as the near-dup family), take as candidates the
   * train docs sharing any band with an eval doc, verify candidates by
   * signature agreement (est. jaccard), and flag those clearing
   * `threshold`.
   *
   * Two eval-side modes with DIFFERENT scale shapes:
   *  - `evalDocs = Some(frame)` — an external benchmark table with the
   *    corpus (doc_id, text) shape, small BY CONSTRUCTION (benchmarks are
   *    thousands of docs, the corpus billions): its band and signature
   *    tables get explicit `broadcast` hints, the corpus hash-joins
   *    against them, and per-row work stays linear in corpus bands. Every
   *    corpus doc is trainable in this mode.
   *  - `evalDocs = None` — the deterministic `doc_id % evalMod == 0`
   *    slice stands in for a benchmark. That slice is a constant
   *    1/evalMod FRACTION of the corpus, NOT a bounded set, so it is
   *    deliberately NOT hint-broadcast (the broadcast would grow linearly
   *    with the corpus and OOM the driver at scale); the joins stay plain
   *    hash joins and AQE broadcasts only when the slice measures small.
   *
   * `maxBucketSize` is the same skew guard as
   * [[graft.ext.Dedup.minhashCandidatePairs]]: a degenerate boilerplate
   * band key shared across the train/eval split makes the candidate join
   * quadratic in that bucket, so production runs pass
   * [[graft.ext.Dedup.ProductionMaxBucketSize]] (capping happens BEFORE
   * the split, dropping the bucket from both sides; default None because
   * the oracle pins uncapped semantics). Train docs under `shingleSize`
   * tokens have no signature and are absent (same domain as every minhash
   * operator; mirrored in the oracle).
   */
  def decontaminateFuzzy(docs: DataFrame, evalMod: Int = 97,
                         shingleSize: Int = 3,
                         threshold: Double = 0.5,
                         evalDocs: Option[DataFrame] = None,
                         maxBucketSize: Option[Int] = None): DataFrame = {
    import graft.ext.Dedup
    // persisted: the band projection and BOTH verify sides read it
    val sigs = Dedup.minhashSignatures(docs, shingleSize).persist()
    val bands = Dedup.capBuckets(Dedup.minhashBands(sigs), maxBucketSize)
    // (train sigs, train bands, eval sigs, eval bands, eval side bounded?)
    val (trainSigs, trainBands, evalSigsSrc, evalBandsSrc, bounded) =
      evalDocs match {
        case Some(ev) =>
          val esigs = Dedup.minhashSignatures(ev, shingleSize)
          (sigs, bands, esigs, Dedup.minhashBands(esigs), true)
        case None =>
          (sigs.filter(col("doc_id") % evalMod =!= 0),
            bands.filter(col("doc_id") % evalMod =!= 0),
            sigs.filter(col("doc_id") % evalMod === 0),
            bands.filter(col("doc_id") % evalMod === 0), false)
      }
    // broadcast is only FORCED when the eval side is genuinely bounded
    // (an external benchmark frame); the modulo slice earns it from AQE
    val hint: DataFrame => DataFrame = if (bounded) broadcast else identity
    val evalBands = evalBandsSrc.select(col("band").as("e_band"),
      col("band_key").as("e_key"), col("doc_id").as("eval_id"))
    val cand = trainBands
      .join(hint(evalBands),
        col("band") === col("e_band") && col("band_key") === col("e_key"))
      .select(col("doc_id"), col("eval_id")).distinct()
    val evalSigs = evalSigsSrc
      .select(col("doc_id").as("eval_id"), col("sig").as("esig"))
    val flagged = cand
      .join(sigs, "doc_id")
      .join(hint(evalSigs), "eval_id")
      .withColumn("est_jaccard", expr(
        s"size(filter(zip_with(sig, esig, (x, y) -> x = y), m -> m)) / ${Dedup.NumPerms}"))
      .filter(col("est_jaccard") >= threshold)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_eval_matches"),
        max(col("est_jaccard")).as("max_est_jaccard"))
    trainSigs.select(col("doc_id"))
      .join(flagged, Seq("doc_id"), "left")
      .withColumn("n_eval_matches", coalesce(col("n_eval_matches"), lit(0L)))
      .withColumn("max_est_jaccard", coalesce(col("max_est_jaccard"), lit(0.0)))
      .withColumn("contaminated", col("n_eval_matches") > 0)
  }

  /**
   * Decontamination ACTION — the surviving corpus after dropping every
   * train document flagged by EITHER gate: the exact shingle-overlap gate
   * ([[decontaminate]], `n_overlap >= minOverlap`) or the fuzzy MinHash
   * gate ([[decontaminateFuzzy]], signature agreement `>= threshold`).
   * The census queries flag contaminated docs but nothing removed them —
   * this mirrors the `q_dup_spans → q_dup_spans_filter` and
   * `trigram → perplexity_filter` census→action pattern with the
   * composition a production pipeline actually runs (Dolma/FineWeb drop
   * on the exact 13-gram gate and add a fuzzy pass for paraphrases).
   *
   * The exact gate's default here is STRICTER than the census's
   * (`minOverlap = 8`, not 2): a census can afford to surface every doc
   * sharing a couple of common trigrams, but an action that DELETES data
   * must fire on genuine leakage only — with 3-gram shingles, ≥8 shared
   * distinct shingles approximates the contiguous ~10-token span the
   * production 13-gram gates (Dolma/GPT-3 appendix C) key on, where
   * minOverlap=2 measured at 47% of the sf0.01 corpus (docs sharing two
   * stock phrases) and ≥8 at the 4 actually-duplicated docs.
   *
   * Scale shape: both gates' flag sets are small (contamination is rare
   * by construction — benchmarks are tiny next to the corpus), so the
   * final anti-join broadcasts under AQE; everything upstream inherits
   * the gates' own linear shapes. Short no-signature docs are KEPT: no
   * shingles means nothing to match, not evidence of leakage.
   */
  def decontaminateDrop(docs: DataFrame, evalMod: Int = 97,
                        shingleSize: Int = 3, minOverlap: Int = 8,
                        threshold: Double = 0.5,
                        maxBucketSize: Option[Int] = None): DataFrame = {
    val exactFlags = decontaminate(docs, evalMod, shingleSize, minOverlap)
      .filter(col("contaminated")).select(col("doc_id"))
    val fuzzyFlags = decontaminateFuzzy(docs, evalMod, shingleSize, threshold,
        maxBucketSize = maxBucketSize)
      .filter(col("contaminated")).select(col("doc_id"))
    docs.filter(col("doc_id") % evalMod =!= 0)
      .join(exactFlags.union(fuzzyFlags), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("n_chars"))
  }

  /**
   * Data-mixture weighting: per-stratum token counts, actual corpus share,
   * and the resampling weight (`target_share / actual_share`) that
   * rebalances the mixture to a target composition — the "datamix" table a
   * training pipeline derives before sampling shards. One aggregation to
   * stratum grain plus a 1-row total broadcast; all shares are single IEEE
   * divisions of exact long sums, so every engine reproduces them bitwise.
   */
  def datamixWeights(docs: DataFrame,
                     targetPct: Map[String, Int] = Map("en" -> 40),
                     defaultPct: Int = 15): DataFrame = {
    val target = targetPct.foldLeft(lit(defaultPct)) { case (acc, (lang, p)) =>
      when(col("lang") === lang, lit(p)).otherwise(acc)
    }
    // persist the stratum-grain frame (a handful of rows): `total` re-derives
    // from its lineage, which would otherwise re-scan + re-tokenize the
    // whole corpus for one number
    val perLang = withTokens(docs)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(col("toks")).cast("long")).as("n_tokens"))
      .persist()
    val total = perLang.agg(sum(col("n_tokens")).as("tot_tokens"))
    perLang.crossJoin(broadcast(total))
      .withColumn("actual_share",
        col("n_tokens").cast("double") / col("tot_tokens").cast("double"))
      .withColumn("target_share", target.cast("double") / lit(100).cast("double"))
      .withColumn("weight", col("target_share") / col("actual_share"))
      .select("lang", "n_docs", "n_tokens", "actual_share", "target_share", "weight")
  }

  /**
   * Shard manifest over [[packSequences]]: one row per (lang, pack) with
   * document count, token fill, and the doc_id range — the index a trainer
   * reads to locate shards without scanning them. `fill` < 1.0 marks the
   * tail pack of each stratum (and straddle slack under the streaming-
   * chunking semantics). Pure rollup of the packing layout: the per-doc
   * grain never leaves the cluster.
   */
  def packManifest(docs: DataFrame, budgetTokens: Int = 8192): DataFrame =
    packSequences(docs, budgetTokens)
      .groupBy(col("lang"), col("pack_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("pack_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .withColumn("fill",
        col("pack_tokens").cast("double") / lit(budgetTokens).cast("double"))

  /**
   * Quantile length gate: keep documents whose `n_chars` lies inside the
   * corpus's [pLow, pHigh] percentile band — the distribution-relative
   * outlier filter (truncated boilerplate at one end, concatenation
   * artifacts at the other) that a fixed threshold can't express. The
   * bounds are ONE exact-percentile aggregate broadcast back over the
   * scan; at 100 TB swap `percentile` for `approx_percentile` behind the
   * same shape (exact here for oracle parity).
   */
  def lengthBoundsFilter(docs: DataFrame, pLow: Double = 0.01,
                         pHigh: Double = 0.99): DataFrame = {
    val bounds = docs.agg(
      expr(s"percentile(n_chars, CAST($pLow AS DOUBLE))").as("lo"),
      expr(s"percentile(n_chars, CAST($pHigh AS DOUBLE))").as("hi"))
    docs.crossJoin(broadcast(bounds))
      .filter(col("n_chars") >= col("lo") && col("n_chars") <= col("hi"))
      .select(col("doc_id"), col("n_chars"))
  }

  /**
   * Unigram log-probability scoring: each document's mean log corpus
   * frequency of its tokens — the cheap proxy for "LM perplexity" quality
   * filtering (rare-gibberish-heavy docs score low, natural text high).
   * Two aggregations: corpus unigram counts, then a per-doc mean over the
   * vocab join (vocabulary-sized side broadcasts when it fits, AQE falls
   * back to a token-keyed SMJ — same policy as tf-idf). The per-doc ln sum
   * routes through DECIMAL so accumulation order can't perturb bits, and
   * the score rounds at 6 dp (ln may drift an ulp across engines — the
   * q_bm25 policy).
   */
  def unigramLogProb(docs: DataFrame): DataFrame = {
    // aggregate the occurrence stream to (doc, token) grain FIRST — the
    // vocab branch, the per-doc branch, and the persist then all work on
    // the compact tf frame instead of the raw exploded stream. Adding k
    // occurrences of a DECIMAL is exactly k × that DECIMAL, so the
    // tf-weighted sum is bit-identical to the per-occurrence fold.
    val ex = withTokens(docs).select(col("doc_id"), explode(col("toks")).as("token"))
    val tf = ex.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf")).persist()
    val vocab = tf.groupBy(col("token")).agg(sum(col("tf")).as("ctf"))
    val tot = vocab.agg(sum(col("ctf")).as("tot"))
    tf.join(vocab, "token")
      .groupBy(col("doc_id"))
      // operand precisions sized so the product is decimal(29,12) — EXACT.
      // A wider ln cast (e.g. 28,12) overflows precision 38 on multiply and
      // Spark's allowPrecisionLoss silently drops the scale to 6, rounding
      // every term at 1e-6 (observed as 17/500 oracle mismatches). tf fits
      // decimal(12,0) for any physical document (non-ANSI cast overflow
      // would silently NULL the term); ln(ctf) < 10^4 fits (16,12).
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("tf").cast("decimal(12,0)") *
          log(col("ctf").cast("double")).cast("decimal(16,12)"))
          .as("sum_ln_tf"))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("n_tokens"),
        round(col("sum_ln_tf").cast("double") / col("n_tokens") -
          log(col("tot").cast("double")), 6).as("avg_logprob"))
  }

  /**
   * Interpolated bigram language-model score per document — the next rung
   * up the CCNet-style perplexity-filter ladder from [[unigramLogProb]]:
   * docs whose ADJACENT-word structure is unusual for the corpus (shuffled
   * text, keyword stuffing, boilerplate soup) score low even when every
   * individual token is common. The model is trained on the corpus itself
   * (Jelinek-Mercer interpolation, λ = 3/4):
   *
   *   P(w2|w1) = 3/4 · c(w1 w2)/c(w1) + 1/4 · c(w2)/tot
   *            = (3·c12·tot + c1·c2) / (4·c1·tot)
   *
   * and the per-doc score is the mean ln P over the doc's adjacent pairs.
   *
   * Scale shape: three shuffles, all keyed on high-cardinality columns —
   * the (doc, w1, w2) tf grain, the corpus (w1, w2) model, and the unigram
   * vocab — never on doc payloads; the bigram model is a streaming-join
   * side exactly like tf-idf's vocab. The raw corpus counts stay exact
   * BIGINTs; they combine in DOUBLE (products up to ~4·c1·tot would
   * overflow int64 around corpus sizes of 10^10 tokens, and both engines'
   * IEEE multiply/add on exact integer-valued doubles is deterministic),
   * ln routes through DECIMAL(16,12) and the tf-weighted sum through an
   * exact DECIMAL(30,12) so accumulation order can't perturb bits, with
   * the q_bm25 6 dp rounding policy at the end. One-token docs have no
   * bigrams and are excluded (mirrored in the oracle).
   */
  def bigramLogProb(docs: DataFrame): DataFrame = {
    val tok = withTokens(docs).select(col("doc_id"), col("toks"))
    // unigram model over the FULL token stream (1-token docs included —
    // they train the model even though they can't be scored)
    val uni = tok.select(explode(col("toks")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c")).persist()
    val tot = uni.agg(sum(col("c")).as("tot"))
    // adjacent-pair stream, aggregated to (doc, w1, w2) grain first so the
    // model branch and the scoring branch both reuse the compact frame
    val tf = tok.filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks) - 1), " +
          "i -> named_struct('w1', toks[i-1], 'w2', toks[i]))")).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("tf")).persist()
    val model = tf.groupBy(col("w1"), col("w2")).agg(sum(col("tf")).as("c12"))
    // ln arguments combine the exact counts in DOUBLE with a fixed
    // left-assoc shape — the oracle spells the identical expression, so
    // the operand bits match before ln ever runs
    val lnNum = log(lit(3.0) * col("c12").cast("double") * col("tot").cast("double") +
      col("c1").cast("double") * col("c2").cast("double")).cast("decimal(16,12)")
    val lnDen = log(lit(4.0) * col("c1").cast("double") * col("tot").cast("double"))
      .cast("decimal(16,12)")
    tf.join(model, Seq("w1", "w2"))
      .join(uni.select(col("token").as("w1"), col("c").as("c1")), "w1")
      .join(uni.select(col("token").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(tot))
      .groupBy(col("doc_id"))
      // (12,0) × (17,12) → decimal(30,12): EXACT (the unigram sizing note
      // applies — one more integer digit for the ln difference's sign room)
      .agg(sum(col("tf")).as("n_bigrams"),
        sum(col("tf").cast("decimal(12,0)") * (lnNum - lnDen)).as("s"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("s").cast("double") / col("n_bigrams"), 6).as("avg_logprob"))
  }

  /**
   * Interpolated trigram language-model score per document — the third
   * rung of the perplexity-filter ladder ([[unigramLogProb]] →
   * [[bigramLogProb]] → this): docs whose three-word structure is unusual
   * for the corpus score low even when every adjacent PAIR is common
   * (phrase-salad assembled from frequent bigrams). Jelinek-Mercer
   * three-way interpolation, λ = (6/10, 3/10, 1/10) — the same
   * highest-order-dominant ladder as the bigram's 3/4, 1/4:
   *
   *   P(w3|w1 w2) = 6/10·c123/c12 + 3/10·c23/c2 + 1/10·c3/tot
   *               = (6·c123·c2·tot + 3·c23·c12·tot + c3·c12·c2)
   *                 / (10·c12·c2·tot)
   *
   * and the per-doc score is the mean ln P over the doc's adjacent
   * triples. The HISTORY count c12 and the backoff bigram c23 both come
   * from the adjacent-PAIR stream, not from marginalizing the trigram
   * grain — a pair ending a document has no trigram continuation, so
   * Σ_w3 c(w1 w2 w3) undercounts exactly the document-final pairs.
   *
   * Scale shape: four shuffles, all keyed on high-cardinality token
   * grains — the (doc, w1, w2, w3) tf frame, the corpus trigram model,
   * the bigram model, and the unigram vocab; never on doc payloads. The
   * four-count products (up to c123·c2·tot ~ 10^18 at 10^6-token corpora)
   * EXCEED double's 2^53 exact-integer range, unlike the bigram's
   * three-count products — that is fine for parity (IEEE multiply is
   * correctly rounded, so identical left-assoc operand order gives
   * bit-identical products in both engines) and the deterministic
   * rounding error (~1e-16 relative) is invisible at the 6 dp policy.
   * ln routes through DECIMAL(16,12) (|ln| < 50 for any physical corpus)
   * and the tf-weighted sum through exact DECIMAL(30,12), the
   * [[bigramLogProb]] policy throughout. Docs under three tokens have no
   * trigrams and are excluded (they still train the lower-order models).
   */
  def trigramLogProb(docs: DataFrame): DataFrame = {
    val tok = withTokens(docs).select(col("doc_id"), col("toks"))
    val uni = tok.select(explode(col("toks")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c")).persist()
    val tot = uni.agg(sum(col("c")).as("tot"))
    // bigram model over the adjacent-pair stream — persisted once, read
    // twice (history c12 and backoff c23 are the SAME counts keyed on
    // different column pairs of the scoring row)
    val big = tok.filter(size(col("toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(toks) - 1), " +
          "i -> named_struct('w1', toks[i-1], 'w2', toks[i]))")).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("cb")).persist()
    // adjacent-triple stream, aggregated to (doc, w1, w2, w3) grain first
    // so the model branch and the scoring branch reuse the compact frame
    val tf = tok.filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(2, size(toks) - 1), " +
          "i -> named_struct('w1', toks[i-2], 'w2', toks[i-1], 'w3', toks[i]))")).as("t"))
      .select(col("doc_id"), col("t.w1").as("w1"), col("t.w2").as("w2"),
        col("t.w3").as("w3"))
      .groupBy(col("doc_id"), col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("tf")).persist()
    val model = tf.groupBy(col("w1"), col("w2"), col("w3"))
      .agg(sum(col("tf")).as("c123"))
    // fixed left-assoc shapes — the oracle spells the identical
    // expressions, so operand bits match before ln ever runs
    val lnNum = log(
      lit(6.0) * col("c123").cast("double") * col("c2").cast("double") * col("tot").cast("double") +
        lit(3.0) * col("c23").cast("double") * col("c12").cast("double") * col("tot").cast("double") +
        col("c3").cast("double") * col("c12").cast("double") * col("c2").cast("double"))
      .cast("decimal(16,12)")
    val lnDen = log(lit(10.0) * col("c12").cast("double") * col("c2").cast("double") *
      col("tot").cast("double")).cast("decimal(16,12)")
    tf.join(model, Seq("w1", "w2", "w3"))
      .join(big.select(col("w1"), col("w2"), col("cb").as("c12")), Seq("w1", "w2"))
      .join(big.select(col("w1").as("w2"), col("w2").as("w3"), col("cb").as("c23")),
        Seq("w2", "w3"))
      .join(uni.select(col("token").as("w2"), col("c").as("c2")), "w2")
      .join(uni.select(col("token").as("w3"), col("c").as("c3")), "w3")
      .crossJoin(broadcast(tot))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_trigrams"),
        sum(col("tf").cast("decimal(12,0)") * (lnNum - lnDen)).as("s"))
      .select(col("doc_id"), col("n_trigrams"),
        round(col("s").cast("double") / col("n_trigrams"), 6).as("avg_logprob"))
  }

  /**
   * Perplexity quality gate — the ACTION that consumes the
   * [[trigramLogProb]] scores (the CCNet/Gopher-style filter: documents
   * whose language-model fit is far below corpus-typical are boilerplate,
   * OCR noise, or phrase-salad, and get dropped before training). The
   * cutoff is corpus-RELATIVE — mean avg_logprob minus `slack` nats — so
   * the gate self-calibrates per corpus snapshot instead of hard-coding a
   * bound that drifts with tokenizer or domain; slack = 1 drops docs whose
   * average trigram is more than e× less likely than the corpus-typical
   * doc's.
   *
   * Determinism: the mean routes through an exact DECIMAL sum of the
   * already-6-dp-rounded scores (accumulation order cannot perturb it),
   * then ONE IEEE division and the standing 6 dp rounding — the oracle
   * spells the identical shape, so the threshold matches bit-for-bit.
   * Scale shape: the scores frame is persisted and read twice (threshold
   * agg + filter); the cutoff is a broadcast 1-row scalar, so the gate
   * itself adds zero exchanges over the scoring plan. Docs under three
   * tokens have no trigram score and are dropped by construction — no
   * score means the gate cannot pass them (mirrored in the oracle).
   */
  def perplexityFilter(docs: DataFrame, slack: Double = 1.0): DataFrame = {
    val scores = trigramLogProb(docs).persist()
    val cut = scores.agg(
      round(sum(col("avg_logprob").cast("decimal(16,6)")).cast("double") /
        count(lit(1)) - lit(slack), 6).as("cutoff"))
    scores.crossJoin(broadcast(cut))
      .filter(col("avg_logprob") >= col("cutoff"))
      .select(col("doc_id"), col("n_trigrams"), col("avg_logprob"), col("cutoff"))
  }

  /**
   * Source-reputation rollup: per crawl source (the `source` column —
   * domain, feed, dump shard), document count, exact-duplicate rate,
   * quality-gate pass rate, and mean length — the governance table that
   * decides which sources to throttle or drop before they pollute a
   * training mix. Duplicate membership comes from a self-aggregation on
   * the content hash joined back (both shuffles key on high-cardinality
   * columns — hash, then source — so the shape holds at corpus scale);
   * the rates are single IEEE divisions of exact long counts.
   */
  def sourceReputation(docs: DataFrame): DataFrame = {
    // compact (text dropped) and persisted: the copies branch re-derives
    // this lineage, which would otherwise scan + hash the corpus twice
    val hashed = withTokens(docs)
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("n_unique", size(array_distinct(col("toks"))))
      .withColumn("content_hash", md5(col("text")))
      .select("doc_id", "source", "n_chars", "content_hash", "n_tokens", "n_unique")
      .persist()
    val copies = hashed.groupBy(col("content_hash"))
      .agg(count(lit(1)).as("n_copies"))
    hashed.join(copies, "content_hash")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("n_copies") > 1, 1L).otherwise(0L)).as("n_dup_docs"),
        sum(when(passesQuality(col("n_tokens"), col("n_unique")), 1L)
          .otherwise(0L)).as("n_quality"),
        sum(col("n_chars")).as("sum_chars"))
      .select(col("source"), col("n_docs"), col("n_dup_docs"),
        (col("n_dup_docs").cast("double") / col("n_docs").cast("double")).as("dup_rate"),
        (col("n_quality").cast("double") / col("n_docs").cast("double")).as("quality_rate"),
        (col("sum_chars").cast("double") / col("n_docs").cast("double")).as("avg_chars"))
  }

  /**
   * PII/noise scrubbing: mask email-like tokens, long digit runs, and
   * URL-like tokens — the regexp_replace cleaning layer of corpus prep.
   * Patterns kept to the regex subset with identical semantics across
   * engines (character classes, +, alternation — no lookaround).
   * Runs as the codegen'd one-byte-pass-per-pattern
   * [[graft.functions.ScrubPii]]; [[scrubRegex]] is the built-in chain it
   * replaced, kept as the reference model for the ScrubSpec parity test.
   */
  def scrub(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      org.apache.spark.sql.graftshim.Shim.column(
        graft.functions.ScrubPii(
          org.apache.spark.sql.graftshim.Shim.expression(col("text")))).as("scrubbed"))

  /** The chained-regexp_replace scrub this engine started with: three
    * Matcher passes per row, each with a UTF-16 round-trip. Reference
    * model for [[scrub]]'s parity test and the A/B recorded in PLANS.md
    * round-9 §5. */
  def scrubRegex(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      regexp_replace(
        regexp_replace(
          regexp_replace(col("text"), "[a-zA-Z0-9.]+@[a-zA-Z0-9.]+", "<EMAIL>"),
          "https?://[^ ]+", "<URL>"),
        "[0-9]{6,}", "<NUM>").as("scrubbed"))

  /**
   * Repetition filter (Gopher-style): share of all word-2-gram occurrences
   * taken by the single most frequent 2-gram. High ratio = boilerplate /
   * degenerate repetition. Computed per row with sort-free array ops.
   */
  def repetitionRatio(docs: DataFrame): DataFrame = {
    // per-row compiled stats (graft.functions.RepetitionStats): zero
    // shuffle — the explode + two-level-aggregate formulation (which the
    // DuckDB oracle mirrors) moves every gram string through an exchange
    withTokens(docs)
      .select(col("doc_id"), expr("graft_rep_stats(toks, 2)").as("rs"))
      .filter(col("rs.n_grams") > 0)
      .select(
        col("doc_id"),
        col("rs.n_grams").as("n_grams"),
        col("rs.max_gram_freq").as("max_gram_freq"),
        (col("rs.max_gram_freq") / col("rs.n_grams")).as("repetition_ratio"))
  }

  /**
   * Deterministic train/validation split by content hash — stable under
   * re-runs and engine changes (the md5-derived hash, not a random seed).
   */
  def splitAssign(docs: DataFrame, valPercent: Int = 5): DataFrame =
    docs.select(
      col("doc_id"),
      when(hash32(col("text")) % 100 < lit(100 - valPercent), lit("train"))
        .otherwise(lit("val")).as("split"))

  /** Weight-proportional sampling per language stratum — priority
    * sampling (Duffield–Lund–Thorup): every doc gets priority
    * `u / w` with `u` the md5-uniform integer in [1, 2³²] and `w` its
    * weight (n_chars, clamped ≥ 1); the k SMALLEST priorities per lang
    * are the sample. P(selected) rises with weight, and the k-smallest
    * rule makes the sample usable for unbiased subset-sum estimation.
    *
    * Determinism across engines is the design constraint: the priority is
    * one integer-to-double cast + one IEEE division — both correctly
    * rounded, bit-identical in Spark and DuckDB — where the classic A-ES
    * key `ln(u)/w` would inherit libm's ulp drift and could flip
    * neighboring ranks. Ties (same priority) break on doc_id.
    *
    * Scale: one shuffle on `lang`, then a per-stratum sort for the
    * row_number — same shape as the windowed top-k family
    * (q_top_customers_per_segment). For a 100 TB corpus with few langs,
    * refine to two-phase top-k (per-shard k-smallest, union, final
    * k-smallest) exactly like the packing offsets decomposition. */
  def prioritySample(docs: DataFrame, kPerLang: Int = 20): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("pkey").asc, col("doc_id").asc)
    docs.select(col("doc_id"), col("lang"), col("n_chars"),
        ((hash32(col("text")) + lit(1L)).cast("double") /
          greatest(col("n_chars"), lit(1L)).cast("double")).as("pkey"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= kPerLang)
  }

  /**
   * Per-language deterministic uniform k-sample on the bounded bottom-k
   * aggregator ([[BottomKSample]]): sort key = portable md5 of the doc id,
   * keep the k smallest per language. Same result as
   * `row_number() OVER (PARTITION BY lang ORDER BY md5(id)) <= k` — which
   * is what the oracle runs — but with NO per-group sort: each map task
   * forwards ≤ k (hash, id) entries per language and the merge is a
   * bounded sorted-list union. The hash is the randomness, so the sample
   * is identical across runs, partitionings, and engines.
   */
  def bottomKSample(docs: DataFrame, k: Int = 10): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("lang"), md5(col("doc_id").cast("string")).as("skey"),
        col("doc_id"))
      .as[(String, String, Long)]
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(new BottomKSample(k).toColumn.name("sample"))
      .flatMap { case (lang, picks) =>
        picks.zipWithIndex.map { case ((_, id), i) => (lang, id, i + 1) }
      }
      .toDF("lang", "doc_id", "sample_rank")
      .withColumn("sample_rank", col("sample_rank").cast("int"))
  }

  /**
   * PMI collocation mining over adjacent token pairs — the phrase/
   * multi-word-expression detector a tokenizer-training pipeline runs
   * before building its vocab (Church & Hanks '90 association ratio):
   * pmi(x,y) = ln( p(x,y) / (p(x)·p(y)) ) with p(x,y) = c(xy)/B over
   * adjacent-pair occurrences B and p(x) = c(x)/T over token occurrences
   * T. Pairs below `minCount` are dropped (PMI's low-frequency blowup),
   * and the top `k` by (pmi desc, pair asc) are ranked.
   *
   * Cross-engine determinism: c(xy), c(x), c(y), T, B are exact longs;
   * the score is computed as ln((c_xy·T·T) / (B·c_x·c_y)) with the
   * numerator and denominator each a left-associated double product of
   * integer-valued doubles — exact below 2^53 — so ONE division and one
   * `ln` are the only rounding steps; `ln` can drift a ulp between
   * libm and DuckDB, hence the 6-dp round (the q_bm25 precedent).
   *
   * Scale shape: two hash aggs (pair grain, token grain) over narrow
   * explodes; the unigram joins carry no broadcast hint — raw whitespace
   * vocabulary is unbounded on web text, so the optimizer picks broadcast
   * vs shuffle from measured sizes; totals ride one 1-row broadcast. The
   * final rank window runs on ≤ k rows after a TakeOrderedAndProject.
   */
  def pmiCollocations(docs: DataFrame, minCount: Long = 5L, k: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = withTokens(docs)
    // three passes over the corpus (token grain, totals, pair grain), each
    // a fully codegen'd scan→agg span. Measured alternatives both lose:
    // persisting the aggregates (~2× — cache write/read beats nothing
    // here), and deriving T/B as sums of the aggregates (re-runs the
    // explode aggs — 4 passes). The totals pass is the cheapest of the
    // three (no explode, two running sums over a narrow scan).
    val uni = toks.select(explode(col("toks")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c1"))
    val tot = toks.agg(
      sum(size(col("toks"))).as("t_tokens"),
      sum(greatest(size(col("toks")) - 1, lit(0))).as("t_pairs"))
    val bi = toks.filter(size(col("toks")) >= 2)
      .select(explode(expr(
        "zip_with(slice(toks, 1, size(toks) - 1), slice(toks, 2, size(toks) - 1)," +
          " (a, b) -> concat(a, ' ', b))")).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("pair_count"))
      .filter(col("pair_count") >= minCount)
    val lu = uni.select(col("token").as("ltok"), col("c1").as("c_left"))
    val ru = uni.select(col("token").as("rtok"), col("c1").as("c_right"))
    // no broadcast HINT on the unigram joins: raw whitespace vocabulary is
    // unbounded on web text (Heaps' law), so forcing a broadcast would OOM
    // at exactly the scale this operator targets — the optimizer/AQE
    // broadcasts when the measured size permits and shuffle-joins when not
    bi
      .withColumn("ltok", expr("split(pair, ' ')[0]"))
      .withColumn("rtok", expr("split(pair, ' ')[1]"))
      .join(lu, "ltok")
      .join(ru, "rtok")
      .crossJoin(broadcast(tot))
      .withColumn("pmi", round(log(
        (col("pair_count").cast("double") * col("t_tokens").cast("double") *
          col("t_tokens").cast("double")) /
        (col("t_pairs").cast("double") * col("c_left").cast("double") *
          col("c_right").cast("double"))), 6))
      .select(col("pair"), col("pair_count"), col("pmi"))
      .orderBy(col("pmi").desc, col("pair").asc)
      .limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("pmi").desc, col("pair").asc)))
  }

  /**
   * Fixed-size token chunking with overlap — the context-window prep step
   * (RAG indexing, long-doc training samples): each document is cut into
   * windows of `chunkTokens` tokens starting every `chunkTokens - overlap`
   * tokens, the final window(s) running short rather than padding. Every
   * document emits at least one chunk. Output carries the token offsets
   * so chunks can be mapped back to their source spans.
   *
   * Scale shape: a narrow per-doc explode of chunk starts followed by a
   * projection — no shuffle at all; output rows ≈ corpus_tokens / stride.
   * The chunk text re-joins the token slice (not a substring of the
   * original), which is the tokenizer-faithful form downstream embedding
   * and packing stages want.
   */
  def chunkDocuments(docs: DataFrame, chunkTokens: Int = 32, overlap: Int = 8): DataFrame = {
    require(chunkTokens >= 1 && overlap >= 0 && overlap < chunkTokens,
      s"bad chunking params: chunkTokens=$chunkTokens overlap=$overlap")
    val stride = chunkTokens - overlap
    withTokens(docs)
      .select(col("doc_id"), col("toks"),
        explode(expr(s"sequence(0, size(toks)-1, $stride)")).as("s"))
      .select(col("doc_id"),
        expr(s"CAST(s DIV $stride AS INT)").as("chunk_id"),
        col("s").cast("long").as("chunk_start"),
        expr(s"slice(toks, s+1, $chunkTokens)").as("ctoks"))
      .select(col("doc_id"), col("chunk_id"), col("chunk_start"),
        size(col("ctoks")).cast("long").as("n_chunk_tokens"),
        concat_ws(" ", col("ctoks")).as("chunk_text"))
  }

  /**
   * Vocabulary-growth curve (the empirical Heaps'-law measurement a
   * tokenizer-sizing pass runs): corpus read in doc_id order, bucketed
   * every `bucketDocs` documents; per bucket, the number of NEVER-before-
   * seen tokens and the running vocabulary/occurrence totals. A token's
   * first occurrence is `min(doc_id)` over its postings — an aggregation,
   * not a scan-order dependency, so the measurement is deterministic under
   * any partitioning.
   *
   * Scale shape: one token-grain hash agg (min doc per token), one
   * occurrence-count agg, then windows over the BUCKET grain only
   * (corpus_docs / bucketDocs rows — thousands, not billions).
   */
  def vocabGrowth(docs: DataFrame, bucketDocs: Long = 100L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = withTokens(docs)
    val firstSeen = toks.select(col("doc_id"), explode(col("toks")).as("token"))
      .groupBy(col("token")).agg(min(col("doc_id")).as("first_doc"))
      .groupBy((col("first_doc") - col("first_doc") % bucketDocs).as("bucket_start"))
      .agg(count(lit(1)).as("n_new_tokens"))
    val occ = toks
      .groupBy((col("doc_id") - col("doc_id") % bucketDocs).as("bucket_start"))
      .agg(count(lit(1)).as("n_docs"), sum(size(col("toks"))).as("n_occurrences"))
    val w = Window.orderBy(col("bucket_start"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    occ.join(firstSeen, Seq("bucket_start"), "left")
      .select(col("bucket_start"), col("n_docs"),
        coalesce(col("n_new_tokens"), lit(0L)).cast("long").as("n_new_tokens"),
        col("n_occurrences"))
      .withColumn("vocab_size", sum(col("n_new_tokens")).over(w).cast("long"))
      .withColumn("tokens_seen", sum(col("n_occurrences")).over(w).cast("long"))
  }

  /**
   * Key-skew profile — the "do I need to salt this join/agg?" diagnostic,
   * one row per profiled column: distinct-key count, max and top-1 share
   * of the hottest key, and the Shannon entropy of the key distribution
   * (ln units, 6-dp rounded; uniform → ln(n_keys), a single hot key → 0).
   * Runs entirely on the aggregated key grain: one hash agg over the
   * data, then one pass over |keys| rows — the profile itself never
   * shuffles the raw table twice.
   */
  def keySkewProfile(df: DataFrame, keyCol: String): DataFrame = {
    val counts = df.groupBy(col(keyCol).cast("string").as("k"))
      .agg(count(lit(1)).as("c"))
    val tot = counts.agg(sum(col("c")).as("n_rows_t"))
    // each key's -p·ln(p) term is rounded to micro-units and summed as an
    // INTEGER — double summation is order-dependent across partitionings,
    // an integer sum of per-term-rounded values is not (the same trick as
    // the integer PageRank); one final division rescales
    counts.crossJoin(broadcast(tot))
      .withColumn("term_e6", round(
        (col("c").cast("double") / col("n_rows_t").cast("double")) *
          log(col("c").cast("double") / col("n_rows_t").cast("double")) *
          lit(-1000000.0)).cast("long"))
      .agg(
        count(lit(1)).as("n_keys"),
        max(col("c")).as("max_count"),
        min(col("n_rows_t")).as("n_rows"),
        sum(col("term_e6")).as("entropy_e6"))
      .select(col("n_keys"), col("n_rows"), col("max_count"),
        round(col("max_count").cast("double") / col("n_rows").cast("double"), 6)
          .as("top1_share"),
        (col("entropy_e6").cast("double") / lit(1000000.0)).as("entropy"))
  }

  /** Document-length histogram in fixed-width buckets. */
  def lengthHistogram(docs: DataFrame, bucketWidth: Int = 100): DataFrame =
    docs.groupBy((floor(col("n_chars") / bucketWidth) * bucketWidth).as("bucket_start"))
      .agg(count(lit(1)).as("n_docs"))

  /**
   * Document fingerprint: portable content hash (md5 hex) plus a one-perm
   * MinHash over word-3-gram shingles (the rolling-hash fingerprint used
   * for cheap near-dup pre-clustering).
   */
  def fingerprint(docs: DataFrame): DataFrame = {
    withTokens(docs)
      .select(
        col("doc_id"),
        md5(col("text")).as("content_hash"),
        // fused compiled shingle hashing (== transform+conv+md5 HOF chain)
        expr("array_min(graft_shingle_hash(toks, 3))").as("min_shingle_hash"))
  }
}
