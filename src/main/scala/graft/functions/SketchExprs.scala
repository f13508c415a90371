package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/**
 * Custom Catalyst expressions (with whole-stage codegen via `doGenCode`)
 * for the sketch/similarity hot paths. Spark's higher-order functions
 * (`transform`/`aggregate`/`zip_with`) evaluate their lambdas interpreted —
 * per-element virtual calls — which dominates runtime when an operator
 * touches every element of every array (dot products: ~130M lambda calls
 * at sf0.1). These expressions emit tight Java loops over `ArrayData`
 * instead: same values (identical order and double-precision arithmetic,
 * so the DuckDB oracle still hash-matches), ~10× faster.
 *
 * Preference order per the engine design: built-ins first, custom
 * `Expression` only where built-ins can't express it efficiently — this is
 * that case.
 */
object SketchExprs {

  // shared per-thread MD5 for the static hash helpers below (called from
  // generated code, so one instance per executor thread, never per row)
  private val md5 = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))

  @inline private def md5uint32(md: java.security.MessageDigest, s: String): Long = {
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  /** See [[HashedShingles]] for the pinned null/order semantics. Called
    * from generated code. */
  def hashedShingles(toks: ArrayData, n: Int): ArrayData = {
    val num = toks.numElements()
    if (num < n) return new GenericArrayData(Array.emptyLongArray)
    val md = md5.get()
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i <= num - n) {
      // a window containing a null token yields no shingle (skipping beats
      // an NPE for SQL callers passing array<string> with nulls)
      var hasNull = false
      var k = 0
      while (k < n && !hasNull) {
        if (toks.isNullAt(i + k)) hasNull = true
        k += 1
      }
      if (!hasNull) {
        val sb = new java.lang.StringBuilder()
        k = 0
        while (k < n) {
          if (k > 0) sb.append(' ')
          sb.append(toks.getUTF8String(i + k).toString)
          k += 1
        }
        seen.add(sb.toString)
      }
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = md5uint32(md, it.next()); j += 1 }
    new GenericArrayData(out)
  }

  /** See [[HashedTokens]] for the pinned null semantics. Called from
    * generated code. */
  def hashedTokens(toks: ArrayData): ArrayData = {
    val md = md5.get()
    val out = new Array[Any](toks.numElements())
    var i = 0
    while (i < out.length) {
      if (!toks.isNullAt(i))
        out(i) = md5uint32(md, toks.getUTF8String(i).toString)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** See [[RepetitionStats]] for the pinned null/count semantics. Called
    * from generated code. */
  def repetitionStats(toks: ArrayData, n: Int):
      org.apache.spark.sql.catalyst.InternalRow = {
    val num = toks.numElements()
    val counts = new java.util.HashMap[String, Long]()
    var maxFreq = 0L
    var total = 0L
    var i = 0
    while (i <= num - n) {
      // windows containing a null token produce no gram (and don't count
      // toward the total) — same skip rule as hashedShingles
      var hasNull = false
      var k = 0
      while (k < n && !hasNull) {
        if (toks.isNullAt(i + k)) hasNull = true
        k += 1
      }
      if (!hasNull) {
        val sb = new java.lang.StringBuilder()
        k = 0
        while (k < n) {
          if (k > 0) sb.append(' ')
          sb.append(toks.getUTF8String(i + k).toString)
          k += 1
        }
        val c = counts.merge(sb.toString, 1L, (a, b) => a + b)
        if (c > maxFreq) maxFreq = c
        total += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](total, maxFreq))
  }
}

/**
 * Sign-LSH band keys over an `array<float>` embedding: plane `j`'s ±1
 * component at dimension `i` comes from the seeded LCG over `j*dim + i`
 * (`(1103515245*(j*dim+i) + 12345) mod 2^31 < 2^30 → +1 else -1`), band
 * `b`'s key sets bit `p` iff `dot(embedding, plane_{b*planesPerBand+p}) >=
 * 0`. Bit-identical to `ext.Similarity`'s nested-HOF formulation (per-plane
 * dots are sequential folds in element order; pinned by an ExtensionsSpec
 * parity test) but one compiled pass instead of `numPlanes` interpreted
 * lambda folds per vector — the same fix graft_dot applied to the cosine
 * path. A null embedding yields null; a null ELEMENT nulls every plane dot
 * in the HOF (`IF(null >= 0, …, 0)` → 0), so here it yields all-zero keys.
 *
 * The plane table (`numPlanes × dim` doubles) is precomputed per expression
 * instance and referenced from generated code; dimensions beyond `dim`
 * (ragged oversized vectors) fall back to the LCG inline.
 */
case class LshBands(child: Expression, dim: Int, numBands: Int, planesPerBand: Int)
    extends UnaryExpression {

  require(dim > 0 && numBands > 0 && planesPerBand > 0,
    s"graft_lsh_bands needs positive dims, got ($dim, $numBands, $planesPerBand)")

  private def numPlanes = numBands * planesPerBand

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"graft_lsh_bands expects array<float>, got $t")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  private def planeSign(j: Long, i: Long): Double =
    if ((1103515245L * (j * dim + i) + 12345L) % 2147483648L < 1073741824L) 1.0 else -1.0

  // row-major [plane][dim] ±1 table, built once per instance (so once per
  // task after deserialization), not per row
  @transient private lazy val signs: Array[Double] = {
    val t = new Array[Double](numPlanes * dim)
    var j = 0
    while (j < numPlanes) {
      var i = 0
      while (i < dim) { t(j * dim + i) = planeSign(j, i); i += 1 }
      j += 1
    }
    t
  }

  /** Compiled kernel, called from both eval and generated code. */
  def compute(emb: ArrayData): ArrayData = {
    val n = emb.numElements()
    var hasNull = false
    var i = 0
    while (i < n && !hasNull) { if (emb.isNullAt(i)) hasNull = true; i += 1 }
    val keys = new Array[Int](numBands)
    if (!hasNull) {
      // one pass over the vector, numPlanes running dots — each plane's sum
      // accumulates in element order, matching the HOF sequential fold bit
      // for bit
      val dots = new Array[Double](numPlanes)
      i = 0
      while (i < n) {
        val x = emb.getFloat(i).toDouble
        var j = 0
        while (j < numPlanes) {
          val s = if (i < dim) signs(j * dim + i) else planeSign(j, i)
          dots(j) += x * s
          j += 1
        }
        i += 1
      }
      var b = 0
      while (b < numBands) {
        var key = 0
        var p = 0
        while (p < planesPerBand) {
          // !(d < 0), not (d >= 0): Spark SQL's nan-safe compare orders NaN
          // above every number, so the HOF `IF(dot >= 0, …)` SETS the bit
          // for a NaN dot — Java's `NaN >= 0` is false and would clear it,
          // silently moving NaN vectors to different buckets than the spec
          if (!(dots(b * planesPerBand + p) < 0)) key |= (1 << p)
          p += 1
        }
        keys(b) = key
        b += 1
      }
    }
    new GenericArrayData(keys)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lshBands", this, classOf[LshBands].getName)
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.compute($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Sequential-fold dot product of two `array<float>` columns in double
 * precision — bit-identical to
 * `aggregate(zip_with(a, b, (x,y) -> double(x)*double(y)), 0d, +)`.
 */
case class DotProductFloat(left: Expression, right: Expression)
    extends BinaryExpression {

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"graft_dot expects (array<float>, array<float>), got (${left.dataType}, ${right.dataType})")
    }
  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    // ragged inputs -> null, matching aggregate(zip_with(...)) where the
    // zip pads with null and the sum propagates it (never a silent
    // truncated partial dot product)
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $s += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/**
 * 32-bit SimHash over pre-hashed tokens (`array<bigint>`): bit k is set iff
 * `sum over h of (+1 if bit k of h else -1) >= 0`. Identical to the
 * nested-aggregate formulation in Dedup.simhash / the DuckDB oracle.
 */
case class SimHash32(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"graft_simhash32 expects array<bigint>, got $t")
  }
  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val counts = new Array[Int](32)
    var i = 0
    while (i < hs.numElements()) {
      // null hashes (e.g. from graft_token_hash over tokens with nulls)
      // cast no votes — getLong on a null slot would read garbage as 0
      if (!hs.isNullAt(i)) {
        val h = hs.getLong(i)
        var k = 0
        while (k < 32) {
          if (((h >> k) & 1L) == 1L) counts(k) += 1 else counts(k) -= 1
          k += 1
        }
      }
      i += 1
    }
    var out = 0L
    var k = 0
    while (k < 32) { if (counts(k) >= 0) out |= (1L << k); k += 1 }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val counts = ctx.freshName("counts")
      val i = ctx.freshName("i")
      val k = ctx.freshName("k")
      val h = ctx.freshName("h")
      val out = ctx.freshName("out")
      s"""
         |int[] $counts = new int[32];
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  if ($a.isNullAt($i)) continue;
         |  long $h = $a.getLong($i);
         |  for (int $k = 0; $k < 32; $k++) {
         |    if ((($h >> $k) & 1L) == 1L) $counts[$k]++; else $counts[$k]--;
         |  }
         |}
         |long $out = 0L;
         |for (int $k = 0; $k < 32; $k++) {
         |  if ($counts[$k] >= 0) $out |= (1L << $k);
         |}
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * 16-permutation MinHash signature over pre-hashed shingles
 * (`array<bigint>` → `array<bigint>`): `sig[j] = min over h of
 * ((2j+1)*h + (104729j+12345)) mod 4294967311` — identical to
 * Dedup.minhashSignatures' HOF formulation and the DuckDB oracle.
 */
case class MinHashSignature(child: Expression)
    extends UnaryExpression {

  val NumPerms = 16
  val Prime = 4294967311L

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"graft_minhash expects array<bigint>, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val sig = Array.fill(NumPerms)(Long.MaxValue)
    var i = 0
    while (i < hs.numElements()) {
      // null hashes contribute to no permutation minimum (see SimHash32)
      if (!hs.isNullAt(i)) {
        val h = hs.getLong(i)
        var j = 0
        while (j < NumPerms) {
          val v = ((2L * j + 1L) * h + (104729L * j + 12345L)) % Prime
          if (v < sig(j)) sig(j) = v
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val sig = ctx.freshName("sig")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val v = ctx.freshName("v")
      s"""
         |long[] $sig = new long[$NumPerms];
         |java.util.Arrays.fill($sig, Long.MAX_VALUE);
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  if ($a.isNullAt($i)) continue;
         |  long $h = $a.getLong($i);
         |  for (int $j = 0; $j < $NumPerms; $j++) {
         |    long $v = ((2L * $j + 1L) * $h + (104729L * $j + 12345L)) % ${Prime}L;
         |    if ($v < $sig[$j]) $sig[$j] = $v;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($sig);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Fused shingle hasher: tokens (`array<string>`) → distinct word n-grams →
 * md5 → first-4-bytes-as-unsigned-int (`array<bigint>`). Value-identical to
 * `array_distinct(transform(...concat_ws...))` + per-shingle
 * `conv(substr(md5(s),1,8),16,10)` but runs as one compiled pass instead of
 * four interpreted lambda passes with intermediate UTF8String churn.
 * (Output order is insertion order of distinct shingles; every consumer is
 * order-insensitive: minhash/array_min.) Real `doGenCode` (a static-helper
 * call, not CodegenFallback): a fallback forces the surrounding generated
 * code to materialize `INPUT_ROW` for the interpreted `eval(row)` hop,
 * which de-pipelines whichever WholeStageCodegen span hosts the projection.
 */
case class HashedShingles(child: Expression, n: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"graft_shingle_hash expects array<string>, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    SketchExprs.hashedShingles(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SketchExprs.hashedShingles($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Per-token md5-uint32 hashes (`array<string>` → `array<bigint>`),
 * multiplicity-preserving (simhash input). Value-identical to
 * `transform(toks, t -> conv(substr(md5(t),1,8),16,10)::bigint)`.
 * Real `doGenCode` — see [[HashedShingles]] for why not CodegenFallback.
 */
case class HashedTokens(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"graft_token_hash expects array<string>, got $t")
  }
  // null elements propagate (matching `transform(toks, t -> ...)`, whose
  // lambda maps a null token to a null hash)
  override def dataType: DataType = child.dataType match {
    case ArrayType(_, containsNull) => ArrayType(LongType, containsNull)
    case _ => ArrayType(LongType, containsNull = true)
  }

  override def nullSafeEval(input: Any): Any =
    SketchExprs.hashedTokens(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SketchExprs.hashedTokens($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Per-row n-gram repetition stats (`array<string>` →
 * `struct<n_grams:bigint, max_gram_freq:bigint>`): total word-n-gram
 * occurrences and the count of the most frequent one. Value-identical to
 * exploding the grams and two-level aggregating — but computed per row in
 * one pass with zero shuffle (the explode formulation moves every gram
 * string through an exchange).
 * Real `doGenCode` — see [[HashedShingles]] for why not CodegenFallback.
 */
case class RepetitionStats(child: Expression, n: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"graft_rep_stats expects array<string>, got $t")
  }
  override def dataType: DataType = StructType(Seq(
    StructField("n_grams", LongType, nullable = false),
    StructField("max_gram_freq", LongType, nullable = false)))

  override def nullSafeEval(input: Any): Any =
    SketchExprs.repetitionStats(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SketchExprs.repetitionStats($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
