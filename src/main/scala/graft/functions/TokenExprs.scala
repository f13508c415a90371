package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Codegen'd whitespace tokenizer — the compiled replacement for the map
 * floor every text query shares: `split(trim(lower(text)), "\\s+")`.
 *
 * Why: Spark's `StringSplit` with a multi-char pattern routes through
 * `java.lang.String.split`, which has no fast path for `"\s+"` — it
 * compiles the regex PER ROW, after materializing the UTF8String into a
 * java String (and `lower`/`trim` each allocate their own intermediate
 * copy first). The round-9 stage split (PLANS.md round-9 §1) put the
 * tokenize+explode floor at ~4 s of the 5.9 s sf10 q_spacesaving_topk
 * wall — shared with every text-grain query in the engine. This
 * expression does lowercase + trim + split in one pass over the raw
 * bytes, no regex, no java String.
 *
 * Semantics are BYTE-IDENTICAL to `split(trim(lower(s)), "\\s+")`,
 * including the edges (pinned by a property test vs the built-in form):
 *  - `lower` via `UTF8String.toLowerCase` (the same call `lower` makes);
 *  - `trim` strips 0x20 ONLY (Spark trim semantics), not tabs/newlines;
 *  - Java `\s` is ASCII-only: `[ \t\n\x0B\f\r]` — U+00A0 / U+2003 etc.
 *    are NOT separators, so splitting on raw bytes is UTF-8 safe (all
 *    separators < 0x80 never occur inside a multi-byte sequence);
 *  - Spark's `split` passes limit=-1 (NOT Java's default 0), so EVERY
 *    separator run produces a boundary: result length = ws-runs + 1,
 *    with empty pieces kept at BOTH ends — `"\ta b"` → `["","a","b"]`,
 *    `"a\n"` → `["a",""]`, `"\t"` → `["",""]` (the first parity-test
 *    run caught exactly this Java-vs-Spark limit divergence);
 *  - empty input (or all-spaces, trimmed to empty) → `[""]`.
 *
 * 100 TB shape: this is a narrow map — no partitioning consequence; the
 * win is pure per-row CPU inside whole-stage codegen (the generated code
 * calls the static [[TokenExprs.whitespaceTokens]], same pattern as the
 * sketch expressions in this package).
 */
case class WhitespaceTokens(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"graft_tokens expects string, got $t")
  }

  // matches StringSplit's dataType: pieces of a non-null string are never null
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    TokenExprs.whitespaceTokens(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TokenExprs.whitespaceTokens($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Count (with multiplicity) of array elements present in a static word
 * set — the compiled form of `size(filter(toks, t -> t IN ('w1','w2',…)))`
 * that qualityScore (stopword ratio) and langId (per-language dictionary
 * hits) fold over every token of every document. The HOF form runs its
 * lambda interpreted — per token, per dictionary, a virtual-call chain
 * plus an In evaluation; this is one hash probe per token inside
 * whole-stage codegen. Value-identical: multiplicity is kept (filter
 * keeps duplicates), a null array yields null (size(filter(null)) is
 * null), and null ELEMENTS don't count (IN over a null yields null →
 * filter drops the element).
 */
case class CountInSet(child: Expression, words: Seq[String]) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"CountInSet expects array<string>, got $t")
  }

  override def dataType: DataType = IntegerType

  @transient private lazy val set: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](words.size * 2)
    words.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }

  override def nullSafeEval(input: Any): Any =
    TokenExprs.countInSet(input.asInstanceOf[ArrayData], set)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("wordSet", set, "java.util.HashSet")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TokenExprs.countInSet($c, $setRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Codegen'd PII/noise scrubber — the compiled form of the three-pass
 * regex chain in [[graft.ext.TextAnalysis.scrub]]:
 *
 *   regexp_replace(regexp_replace(regexp_replace(text,
 *     "[a-zA-Z0-9.]+@[a-zA-Z0-9.]+", "<EMAIL>"),
 *     "https?://[^ ]+", "<URL>"),
 *     "[0-9]{6,}", "<NUM>")
 *
 * Why: each `regexp_replace` materializes the UTF8String into a java
 * String (UTF-16 copy), runs a `Matcher` loop with `StringBuffer`
 * appends, and converts back — three times per row. The round-8 100×
 * sweep put q_scrub at 6.3 s / 31× for what is a pure narrow map. This
 * expression runs the SAME three passes, in the same order, as linear
 * scans over the raw UTF-8 bytes — no regex machinery, no java String,
 * and no allocation at all for a pass that finds no match.
 *
 * Semantics are exactly the chained-regex composition (pinned by a
 * ScrubSpec property test against the built-in chain):
 *  - pass order matters and is preserved: the URL pass sees `<EMAIL>`
 *    substitutions (no-space tokens extend a URL run), the digit pass
 *    sees both (neither token contains a digit);
 *  - email: Java leftmost-greedy means a match exists exactly where a
 *    MAXIMAL `[a-zA-Z0-9.]` run is immediately followed by `@` and a
 *    non-empty run ("a@b@c" → "<EMAIL>@c", "..@.." → "<EMAIL>");
 *  - url: literal "http", greedy-optional "s" with backtrack (so
 *    "httpss://x" does NOT match), "://", then `[^ ]+` — at least one
 *    char, stopping ONLY at 0x20 (tabs/newlines are inside a URL match,
 *    exactly like the regex's `[^ ]`);
 *  - num: a maximal digit run of length ≥ 6 (greedy from its first
 *    digit) — shorter runs untouched;
 *  - all pattern chars are ASCII and multi-byte UTF-8 units are ≥ 0x80,
 *    so byte-level scanning can neither split a code point nor
 *    false-match inside one.
 *
 * 100 TB shape: narrow map, no partitioning consequence — the win is
 * per-row CPU inside whole-stage codegen, same as [[WhitespaceTokens]].
 */
case class ScrubPii(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"graft_scrub expects string, got $t")
  }

  override def dataType: DataType = StringType

  override def nullSafeEval(input: Any): Any =
    TokenExprs.scrubPii(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TokenExprs.scrubPii($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Apply an ORDERED BPE merge list to a token array — the compiled form of
 * the tokenize stage a pre-trained vocabulary runs over a 100 TB corpus
 * ([[graft.ext.TextAnalysis.bpeApplyMerges]]). The first implementation
 * was a typed `Dataset.map`: correct, but it pays the ObjectHashed
 * deserialize–reserialize round trip PER DOCUMENT (UnsafeArray →
 * `Seq[String]` → rewrite → back), and it breaks whole-stage codegen at
 * both edges of the map. This expression runs the SAME greedy
 * leftmost-non-overlapping rewrite (semantics pinned against
 * [[graft.ext.TextAnalysis.applyMergesToDoc]], the retained reference
 * model) directly over Tungsten `UTF8String` values — one token-pointer
 * array per document, compacted in place per merge round, no java
 * Strings, and the whole scan→tokenize→apply→explode pipeline stays in
 * one codegen stage.
 *
 * Null elements (never produced by the tokenizer, but representable in
 * the input type) pass through unmerged: equality probes are
 * `a.equals(tok)` with the non-null merge operand on the left.
 */
case class ApplyBpeMerges(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"ApplyBpeMerges expects array<string>, got $t")
  }

  // merging never introduces nulls; preserve the child's containsNull
  override def dataType: DataType = child.dataType

  // merge operands and the fused "a b" output token, decoded once per
  // executor (closure-shipped artifact, k entries — never data-scale)
  @transient private lazy val ops: (Array[UTF8String], Array[UTF8String], Array[UTF8String]) = {
    val as = merges.map(m => UTF8String.fromString(m._1)).toArray
    val bs = merges.map(m => UTF8String.fromString(m._2)).toArray
    val abs = merges.map(m => UTF8String.fromString(m._1 + " " + m._2)).toArray
    (as, bs, abs)
  }

  override def nullSafeEval(input: Any): Any = {
    val (as, bs, abs) = ops
    TokenExprs.applyBpeMerges(input.asInstanceOf[ArrayData], as, bs, abs)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = "org.apache.spark.unsafe.types.UTF8String[]"
    val asRef = ctx.addReferenceObj("mergeAs", ops._1, t)
    val bsRef = ctx.addReferenceObj("mergeBs", ops._2, t)
    val absRef = ctx.addReferenceObj("mergeAbs", ops._3, t)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TokenExprs.applyBpeMerges($c, $asRef, $bsRef, $absRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TokenExprs {

  @inline private def isWs(c: Byte): Boolean =
    c == 0x20 || (c >= 0x09 && c <= 0x0D)

  /** Greedy leftmost-non-overlapping rewrite, one pass per merge in rank
    * order — the byte-level mirror of `applyMergesToDoc`'s String loop.
    * The token-pointer array is compacted IN PLACE (the write index never
    * passes the read index), so per document the only allocations are one
    * `UTF8String[]` and the result `GenericArrayData`; the token bytes
    * themselves are never copied. Called from generated code. */
  def applyBpeMerges(arr: ArrayData, as: Array[UTF8String], bs: Array[UTF8String],
                     abs: Array[UTF8String]): ArrayData = {
    var n = arr.numElements()
    if (n <= 1 || as.length == 0) return arr
    val cur = new Array[UTF8String](n)
    var i = 0
    while (i < n) { cur(i) = arr.getUTF8String(i); i += 1 }
    var m = 0
    while (m < as.length && n > 1) {
      val a = as(m); val b = bs(m); val ab = abs(m)
      i = 0
      var w = 0
      while (i < n) {
        if (i + 1 < n && a.equals(cur(i)) && b.equals(cur(i + 1))) {
          cur(w) = ab; w += 1; i += 2
        } else {
          cur(w) = cur(i); w += 1; i += 1
        }
      }
      n = w
      m += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(cur, n).asInstanceOf[Array[Any]])
  }

  /** One hash probe per element; see [[CountInSet]] for the pinned
    * null/multiplicity semantics. Called from generated code. */
  def countInSet(arr: ArrayData, set: java.util.HashSet[UTF8String]): Int = {
    val n = arr.numElements()
    var i = 0
    var c = 0
    while (i < n) {
      if (!arr.isNullAt(i) && set.contains(arr.getUTF8String(i))) c += 1
      i += 1
    }
    c
  }

  private val EmptyToken: ArrayData =
    new GenericArrayData(Array[Any](UTF8String.EMPTY_UTF8))

  /** `split(trim(lower(s)), "\\s+")` in one byte pass — see
    * [[WhitespaceTokens]] for the pinned edge semantics. Called from
    * generated code; must stay static and allocation-lean. */
  def whitespaceTokens(s: UTF8String): ArrayData = {
    val t = s.toLowerCase.trim()
    val n = t.numBytes
    if (n == 0) return EmptyToken
    val b = t.getBytes
    // pass 1: count separator runs (exact-size allocation beats a
    // growable builder — docs are short and the scan is branch-cheap)
    var runs = 0
    var i = 0
    while (i < n) {
      if (isWs(b(i))) {
        runs += 1
        while (i < n && isWs(b(i))) i += 1
      } else i += 1
    }
    // limit=-1 split: one piece per gap between runs, ends included
    val out = new Array[Any](runs + 1)
    var k = 0
    var start = 0
    i = 0
    while (i < n) {
      if (isWs(b(i))) {
        out(k) = UTF8String.fromBytes(b, start, i - start)
        k += 1
        while (i < n && isWs(b(i))) i += 1
        start = i
      } else i += 1
    }
    out(k) = UTF8String.fromBytes(b, start, n - start)
    new GenericArrayData(out)
  }

  private val EmailTok = "<EMAIL>".getBytes("UTF-8")
  private val UrlTok = "<URL>".getBytes("UTF-8")
  private val NumTok = "<NUM>".getBytes("UTF-8")

  // the email pattern's character class: [a-zA-Z0-9.]
  @inline private def isAddr(c: Byte): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
      (c >= '0' && c <= '9') || c == '.'

  @inline private def isDigit(c: Byte): Boolean = c >= '0' && c <= '9'

  /** Rebuild `b` with each recorded [start,end) interval replaced by
    * `tok`. Intervals are disjoint and ascending by construction of the
    * scans below. cnt == 0 returns `b` itself — the common no-match row
    * costs zero allocation. */
  private def replaceAll(b: Array[Byte], m: Array[Int], cnt: Int,
      tok: Array[Byte]): Array[Byte] = {
    if (cnt == 0) return b
    var removed = 0
    var k = 0
    while (k < cnt) { removed += m(2 * k + 1) - m(2 * k); k += 1 }
    val out = new Array[Byte](b.length - removed + cnt * tok.length)
    var src = 0
    var dst = 0
    k = 0
    while (k < cnt) {
      val s = m(2 * k); val e = m(2 * k + 1)
      System.arraycopy(b, src, out, dst, s - src); dst += s - src
      System.arraycopy(tok, 0, out, dst, tok.length); dst += tok.length
      src = e
      k += 1
    }
    System.arraycopy(b, src, out, dst, b.length - src)
    out
  }

  @inline private def grow(m: Array[Int], cnt: Int): Array[Int] =
    if (2 * cnt == m.length) java.util.Arrays.copyOf(m, m.length * 2) else m

  /** `[a-zA-Z0-9.]+@[a-zA-Z0-9.]+` → "<EMAIL>". Leftmost-greedy over a
    * bounded character class collapses to: a match exists exactly where a
    * MAXIMAL class run is immediately followed by '@' and a second
    * non-empty class run (backtracking inside `+` can never re-place the
    * '@', and every start inside a maximal run shares its end). */
  private def passEmail(b: Array[Byte]): Array[Byte] = {
    val n = b.length
    var m = new Array[Int](8)
    var cnt = 0
    var i = 0
    while (i < n) {
      if (isAddr(b(i))) {
        val start = i
        while (i < n && isAddr(b(i))) i += 1
        if (i < n && b(i) == '@' && i + 1 < n && isAddr(b(i + 1))) {
          i += 1
          while (i < n && isAddr(b(i))) i += 1
          m = grow(m, cnt); m(2 * cnt) = start; m(2 * cnt + 1) = i; cnt += 1
        }
        // a run with no viable '@' tail matches nowhere inside it; the
        // scan resumes at the non-class char (or the orphan '@') itself
      } else i += 1
    }
    replaceAll(b, m, cnt, EmailTok)
  }

  /** `https?://[^ ]+` → "<URL>". The optional 's' is greedy-with-
    * backtrack: when the byte after "http" is 's', ONLY the s-consumed
    * branch can still match (the backtracked branch would need ':' where
    * the 's' sits) — so "httpss://x" matches nowhere. `[^ ]` excludes
    * 0x20 alone: tabs and newlines are INSIDE a URL match. */
  private def passUrl(b: Array[Byte]): Array[Byte] = {
    val n = b.length
    var m = new Array[Int](8)
    var cnt = 0
    var i = 0
    while (i + 7 < n) { // minimal match "http://x" is 8 bytes
      if (b(i) == 'h' && b(i + 1) == 't' && b(i + 2) == 't' && b(i + 3) == 'p') {
        var p = i + 4
        if (p < n && b(p) == 's') p += 1
        if (p + 2 < n && b(p) == ':' && b(p + 1) == '/' && b(p + 2) == '/' &&
            p + 3 < n && b(p + 3) != ' ') {
          var q = p + 3
          while (q < n && b(q) != ' ') q += 1
          m = grow(m, cnt); m(2 * cnt) = i; m(2 * cnt + 1) = q; cnt += 1
          i = q
        } else i += 1
      } else i += 1
    }
    replaceAll(b, m, cnt, UrlTok)
  }

  /** `[0-9]{6,}` → "<NUM>": greedy from the first digit of a maximal
    * run, so a run of length ≥ 6 is replaced whole and shorter runs
    * match nowhere inside themselves. */
  private def passNum(b: Array[Byte]): Array[Byte] = {
    val n = b.length
    var m = new Array[Int](8)
    var cnt = 0
    var i = 0
    while (i < n) {
      if (isDigit(b(i))) {
        val start = i
        while (i < n && isDigit(b(i))) i += 1
        if (i - start >= 6) {
          m = grow(m, cnt); m(2 * cnt) = start; m(2 * cnt + 1) = i; cnt += 1
        }
      } else i += 1
    }
    replaceAll(b, m, cnt, NumTok)
  }

  /** The three scrub passes, in chain order, over raw UTF-8 bytes — see
    * [[ScrubPii]] for the pinned semantics. Called from generated code. */
  def scrubPii(s: UTF8String): UTF8String = {
    val a = s.getBytes
    val out = passNum(passUrl(passEmail(a)))
    if (out eq a) s else UTF8String.fromBytes(out)
  }
}
