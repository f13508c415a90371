package graft

import org.apache.spark.sql.SparkSession

/** The approx-distinct optimizer rule + extension-registered functions. */
class ExtensionsSpec extends SparkSpec {

  private def withExtSession[T](f: SparkSession => T): T = {
    val base = spark // force shared-session init first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = Session.builder(4).getOrCreate()
    try f(s2)
    finally {
      SparkSession.setActiveSession(base)
      SparkSession.setDefaultSession(base)
    }
  }

  test("approx-distinct rewrite fires only under the flag and stays accurate") {
    withExtSession { s2 =>
      import s2.implicits._
      val df = (1 to 1000).map(i => (i % 7, i % 100)).toDF("g", "x")
      df.createOrReplaceTempView("t")

      s2.conf.set("spark.graft.approxDistinct.enabled", "false")
      val exact = s2.sql("SELECT g, count(DISTINCT x) AS d FROM t GROUP BY g")
      assert(exact.queryExecution.optimizedPlan.toString.contains("count(distinct"))

      s2.conf.set("spark.graft.approxDistinct.enabled", "true")
      val approx = s2.sql("SELECT g, count(DISTINCT x) AS d FROM t GROUP BY g")
      val planStr = approx.queryExecution.optimizedPlan.toString
      assert(!planStr.contains("count(distinct"))
      assert(planStr.toLowerCase.contains("approx_count_distinct"))
      // HLL(rsd=0.05) stays within tolerance of the exact counts
      val got = approx.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val want = exact.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      got.foreach { case (g, v) =>
        assert(math.abs(v - want(g)).toDouble / want(g) <= 0.05, s"group $g: $v vs ${want(g)}")
      }
      s2.conf.set("spark.graft.approxDistinct.enabled", "false")
    }
  }

  test("approx-distinct rewrite: relative error within 3·rsd on a known-cardinality frame") {
    withExtSession { s2 =>
      // 100k distinct ids — enough cardinality that the HLL estimator is in
      // its asymptotic regime and the 3·rsd bound is a real statement
      val n = 100000L
      s2.range(n).createOrReplaceTempView("known_card")
      try {
        s2.conf.set("spark.graft.approxDistinct.enabled", "true")
        for (rsd <- Seq(0.05, 0.02)) {
          s2.conf.set("spark.graft.approxDistinct.rsd", rsd.toString)
          val est = s2.sql("SELECT count(DISTINCT id) AS d FROM known_card")
            .collect().head.getLong(0)
          val relErr = math.abs(est - n).toDouble / n
          assert(relErr <= 3 * rsd,
            s"rsd=$rsd: estimate $est vs exact $n (relative error $relErr)")
        }
      } finally {
        s2.conf.set("spark.graft.approxDistinct.enabled", "false")
        s2.conf.unset("spark.graft.approxDistinct.rsd")
      }
    }
  }

  test("approx-percentile rewrite fires only under the flag, keeps schema, bounds rank error") {
    withExtSession { s2 =>
      import s2.implicits._
      // uniform 1..10000 → exact p50 = 5000.5, p90 = 9000.1
      (1 to 10000).map(_.toLong).toDF("x").createOrReplaceTempView("tp")

      s2.conf.set("spark.graft.approxPercentile.enabled", "false")
      val exact = s2.sql("SELECT percentile(x, array(0.5, 0.9)) AS p FROM tp")
      assert(exact.queryExecution.optimizedPlan.toString.contains("percentile("))

      s2.conf.set("spark.graft.approxPercentile.enabled", "true")
      val approx = s2.sql("SELECT percentile(x, array(0.5, 0.9)) AS p FROM tp")
      val planStr = approx.queryExecution.optimizedPlan.toString
      assert(planStr.contains("percentile_approx") || planStr.contains("approx_percentile"),
        planStr.take(500))
      // the rewrite must not change the resolved schema (array<double>)
      assert(approx.schema === exact.schema)
      val Seq(p50, p90) = approx.collect().head.getSeq[Double](0).toSeq
      // rank error ≤ n/accuracy = 1 at default accuracy; allow 10× slack
      assert(math.abs(p50 - 5000.5) <= 10.0, s"p50=$p50")
      assert(math.abs(p90 - 9000.1) <= 10.0, s"p90=$p90")

      // weighted percentile is NOT rewritten (different semantics)
      val weighted = s2.sql("SELECT percentile(x, 0.5, 2) AS p FROM tp")
      assert(weighted.queryExecution.optimizedPlan.toString.contains("percentile("))
      s2.conf.set("spark.graft.approxPercentile.enabled", "false")
    }
  }

  test("graft_lsh_bands parameterized layout (2 bands × 8 planes) matches the HOF formulation") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val both = graft.ext.Similarity.withLshBands(emb, 64, numBands = 2, planesPerBand = 8)
      .withColumn("hof_bands", graft.ext.Similarity.lshBandsHofColumn(64, 2, 8))
      .select("vec_id", "bands", "hof_bands")
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.getSeq[Int](1) === r.getSeq[Int](2),
        s"band mismatch at vec_id ${r.getLong(0)}")
    }
    // 8-bit keys actually use the widened space (some key above the 4-bit max)
    assert(both.flatMap(_.getSeq[Int](1)).max > 15)
  }

  test("extension-registered sketch functions resolve in plain SQL") {
    withExtSession { s2 =>
      val one = s2.sql(
        "SELECT graft_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
          "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d").collect().head.getDouble(0)
      assert(one === 11.0)
      val sig = s2.sql(
        "SELECT graft_minhash(graft_shingle_hash(array('a','b','c','d'), 3)) AS s")
        .collect().head.getSeq[Long](0)
      assert(sig.length === 16)
      val z = s2.sql("SELECT graft_zorder(3L, 5L) AS z").collect().head.getLong(0)
      assert(z === graft.functions.ZOrder2.interleave(3L, 5L))
    }
  }

  test("graft_cms: weighted inserts equal per-occurrence inserts; width/depth literals honored") {
    withExtSession { s2 =>
      val h = "CAST(conv(substr(md5(x), 1, 8), 16, 10) AS BIGINT)"
      val perOcc = s2.sql(
        s"SELECT graft_cms($h) AS c FROM VALUES ('k1'), ('k1'), ('k2') t(x)")
        .collect().head.getSeq[Long](0)
      val weighted = s2.sql(
        s"SELECT graft_cms($h, w) AS c FROM VALUES ('k1', CAST(2 AS BIGINT)), ('k2', CAST(1 AS BIGINT)) t(x, w)")
        .collect().head.getSeq[Long](0)
      assert(perOcc === weighted)
      val small = s2.sql(
        s"SELECT graft_cms($h, CAST(1 AS BIGINT), 16, 2) AS c FROM VALUES ('k1') t(x)")
        .collect().head.getSeq[Long](0)
      assert(small.length === 16 * 2)
      assert(small.sum === 2L) // one increment per row of the 2-deep sketch
    }
  }

  test("graft_cms coerces integral literal weights (no explicit BIGINT cast needed)") {
    withExtSession { s2 =>
      val h = "CAST(conv(substr(md5(x), 1, 8), 16, 10) AS BIGINT)"
      val intLit = s2.sql(s"SELECT graft_cms($h, 2) AS c FROM VALUES ('k1') t(x)")
        .collect().head.getSeq[Long](0)
      val longLit = s2.sql(s"SELECT graft_cms($h, CAST(2 AS BIGINT)) AS c FROM VALUES ('k1') t(x)")
        .collect().head.getSeq[Long](0)
      assert(intLit === longLit)
    }
  }

  test("graft_lsh_bands: null element yields all-zero band keys (HOF IF(null>=0) parity)") {
    withExtSession { s2 =>
      val keys = s2.sql(
        "SELECT graft_lsh_bands(array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT)), 64, 4, 4) AS b")
        .collect().head.getSeq[Int](0)
      assert(keys === Seq(0, 0, 0, 0))
    }
  }

  test("graft_lsh_bands is bit-identical to the HOF hyperplane formulation") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val both = graft.ext.Similarity.withLshBands(emb)
      .withColumn("hof_bands", graft.ext.Similarity.lshBandsHofColumn(64))
      .select("vec_id", "bands", "hof_bands")
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.getSeq[Int](1) === r.getSeq[Int](2),
        s"band mismatch at vec_id ${r.getLong(0)}")
    }
    // sanity: keys spread across buckets (not all-zero degenerate)
    assert(both.flatMap(_.getSeq[Int](1)).distinct.length > 1)
  }

  test("sketch functions tolerate null array elements (SQL callers can pass any array<string>)") {
    withExtSession { s2 =>
      // token hash: null element propagates as a null hash (transform parity)
      val th = s2.sql("SELECT graft_token_hash(array('a', NULL, 'b')) AS h").collect().head
      val hs = th.getSeq[Any](0)
      assert(hs.length === 3 && hs(1) == null && hs(0) != null)
      // shingles: any window touching a null token yields no gram — here
      // ('a',NULL) and (NULL,'b') both drop, leaving zero 2-shingles
      val sh = s2.sql("SELECT graft_shingle_hash(array('a', NULL, 'b'), 2) AS s")
        .collect().head.getSeq[Long](0)
      assert(sh.isEmpty)
      // rep stats: same skip rule; ('x','x') windows still counted
      val rs = s2.sql("SELECT graft_rep_stats(array('x', 'x', NULL, 'x'), 2) AS r")
        .collect().head.getStruct(0)
      assert(rs.getLong(0) === 1L && rs.getLong(1) === 1L)
    }
  }

  test("hash/rep-stats expressions: generated and interpreted eval paths agree") {
    // the r9 CodegenFallback→doGenCode conversion left nullSafeEval as the
    // interpreted twin; force each factory mode and compare — a divergence
    // here means the generated static-helper call drifted from eval
    withExtSession { s2 =>
      val q = "SELECT graft_token_hash(array('a','b',NULL)) AS h, " +
        "graft_shingle_hash(array('a','b','c','a','b'), 2) AS s, " +
        "graft_rep_stats(array('x','y','x','y','x'), 2) AS r"
      def rows(mode: String): String = {
        s2.conf.set("spark.sql.codegen.factoryMode", mode)
        try s2.sql(q).collect().mkString("|")
        finally s2.conf.unset("spark.sql.codegen.factoryMode")
      }
      assert(rows("CODEGEN_ONLY") === rows("NO_CODEGEN"))
    }
  }
}
