package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.ext.TextAnalysis

/**
 * Pins WhitespaceTokens (the codegen'd one-pass tokenizer) to the
 * built-in reference form `split(trim(lower(text)), "\\s+")` — values AND
 * schema — on (a) a hand-built adversarial corpus covering every edge the
 * Java split semantics have, (b) a generated corpus mixing separators,
 * unicode whitespace, multi-byte text and case, (c) the real sf0.001
 * documents table.
 */
class TokenizeSpec extends SparkSpec {
  import spark.implicits._

  private def bothForms(texts: Seq[String]) = {
    val df = texts.zipWithIndex.map(_.swap).toDF("id", "text")
    val fast = TextAnalysis.withTokens(df).select($"id", $"toks")
    val ref  = df.withColumn("toks", TextAnalysis.splitTokens("text"))
      .select($"id", $"toks")
    (fast, ref)
  }

  private def assertParity(texts: Seq[String]): Unit = {
    val (fast, ref) = bothForms(texts)
    assert(fast.schema === ref.schema, "toks schema must match the built-in split form")
    val f = fast.collect().map(r => r.getInt(0) -> r.getSeq[String](1)).toMap
    val r = ref.collect().map(r => r.getInt(0) -> r.getSeq[String](1)).toMap
    assert(f.keySet === r.keySet)
    for ((k, v) <- r) assert(f(k) === v, s"mismatch on input ${texts(k).map(_.toInt)}")
  }

  test("adversarial edges match split(trim(lower(.)), \\s+) exactly") {
    assertParity(Seq(
      "",                      // empty -> [""]
      " ",                     // all-spaces, trimmed empty -> [""]
      "   ",
      "\t",                    // ws-only but not space: trailing-empty drop -> []
      "\n\r\f",
      "\ta b",                 // leading separator -> leading "" kept
      " \ta b",                // space-trim then tab lead
      "a b",
      "  a  b ",
      "a  \t\n b",
      "x",
      " x ",
      "a\t", "a\n", "a ",
      "MiXeD CaSe\tTOKENS",
      " nbsp is not ws",  // U+00A0 must NOT split (Java \s is ASCII)
      " em space c",      // U+2003 must NOT split
      "café NAÏVE straße", // multi-byte + unicode lowercasing
      "İstanbul",         // dotted capital I (expands on lowercase)
      "ΣΣ Σ",   // greek sigma final-form lowercase
      "emoji 😀 mix",
      "a\u0000b",              // NUL is not \s
      "tab\tsep\u000bvtab\fff\rcr\nnl end"
    ))
  }

  test("generated corpus parity (600 strings, mixed separators/case/unicode)") {
    val piece: Gen[String] = Gen.oneOf(
      Gen.oneOf(" ", "\t", "\n", "\r", "\f", "", "  ", " \t "),
      Gen.oneOf("a", "B", "tok", "WoRd", "café", "ß", " ", "中文", "123", "."),
      Gen.const(""))
    val doc: Gen[String] = Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, piece)).map(_.mkString)
    val texts = (0 until 600).flatMap { i =>
      doc(Gen.Parameters.default, Seed(1234L + i))
    }
    assertParity(texts)
  }

  test("sf0.001 documents: identical token arrays via both forms") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val n = TextAnalysis.withTokens(docs)
      .withColumn("ref", TextAnalysis.splitTokens("text"))
      .filter(not($"toks" <=> $"ref"))
      .count()
    assert(n === 0L)
  }

  test("StripRedundantGenerateFilter: no duplicate tokenize under explode") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val q = TextAnalysis.withTokens(docs)
      .select(explode($"toks").as("token")).groupBy($"token").count()
    val optimized = q.queryExecution.optimizedPlan
    val filters = optimized.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f
    }
    assert(filters.forall(f => !f.condition.exists(
      _.isInstanceOf[graft.functions.WhitespaceTokens])),
      s"inferred filter still re-evaluates the tokenizer:\n$optimized")
    // and the stripped plan still returns the full token census
    val total = q.agg(sum($"count")).head().getLong(0)
    val expected = TextAnalysis.withTokens(docs)
      .agg(sum(size($"toks"))).head().getLong(0)
    assert(total === expected)
  }

  test("StripRedundantGenerateFilter keeps user filters on stored array columns") {
    // parquet-backed so ConvertToLocalRelation can't fold the filter away
    val p = java.nio.file.Files.createTempDirectory("tokspec").toString
    Seq((1, Seq("a", "b")), (2, Seq.empty[String]), (3, Seq("c")))
      .toDF("id", "arr").write.mode("overwrite").parquet(p)
    val df = spark.read.parquet(p)
    // a user-written size filter on a PLAIN column is not this rule's
    // business (attribute gate) — it must survive optimization
    val q = df.filter(size($"arr") > 0).select($"id", explode($"arr").as("x"))
    val kept = q.queryExecution.optimizedPlan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f
    }
    assert(kept.nonEmpty, "attribute-gated filter was wrongly stripped")
    assert(q.count() === 3)
  }

  test("StripRedundantGenerateFilter keeps unrelated conjuncts") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val q = TextAnalysis.withTokens(docs)
      .filter($"doc_id" % 2 === 0)
      .select($"doc_id", explode($"toks").as("token"))
    val conds = q.queryExecution.optimizedPlan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }
    assert(conds.exists(_.toString.contains("doc_id")),
      "the user's doc_id predicate must survive the strip")
    // row parity vs the built-in tokenize form of the same query
    val ref = docs.withColumn("toks", TextAnalysis.splitTokens("text"))
      .filter($"doc_id" % 2 === 0)
      .select($"doc_id", explode($"toks").as("token"))
    assert(q.count() === ref.count())
  }

  test("CountInSet matches size(filter(toks, t -> t IN (...))) incl. null edges") {
    val words = TextAnalysis.stopwordsEn
    val list = words.map(w => s"'$w'").mkString(", ")
    // real corpus parity, schema included (both sides must be INT)
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val both = TextAnalysis.withTokens(docs).select(
      TextAnalysis.countIn($"toks", words).as("fast"),
      expr(s"size(filter(toks, t -> t IN ($list)))").as("ref"))
    assert(both.schema("fast").dataType === both.schema("ref").dataType)
    assert(both.filter(not($"fast" <=> $"ref")).count() === 0L)
    // null array -> null; null elements don't count; multiplicity kept
    val edge = Seq(
      (1, Seq("the", "the", "x", null, "of")),
      (2, null),
      (3, Seq.empty[String])
    ).toDF("id", "toks")
    val got = edge.select($"id",
        TextAnalysis.countIn($"toks", words).as("fast"),
        expr(s"size(filter(toks, t -> t IN ($list)))").as("ref"))
      .collect().map(r => (r.getInt(0),
        if (r.isNullAt(1)) null else r.getInt(1),
        if (r.isNullAt(2)) null else r.getInt(2))).toSeq
    assert(got.forall { case (_, f, r) => f == r })
    assert(got.find(_._1 == 1).get._2 === 3) // the, the, of
    assert(got.find(_._1 == 2).get._2 === null)
    assert(got.find(_._1 == 3).get._2 === 0)
  }

  test("graft_tokens SQL registration returns the same arrays") {
    val df = Seq((1, "  Hello\tWorld "), (2, ""), (3, "\tx")).toDF("id", "text")
    df.createOrReplaceTempView("tok_spec_in")
    val viaSql = spark.sql("SELECT id, graft_tokens(text) AS toks FROM tok_spec_in")
      .collect().map(r => r.getInt(0) -> r.getSeq[String](1)).toMap
    assert(viaSql(1) === Seq("hello", "world"))
    assert(viaSql(2) === Seq(""))
    assert(viaSql(3) === Seq("", "x"))
  }
}
