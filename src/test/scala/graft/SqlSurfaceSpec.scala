package graft

import org.scalatest.funsuite.AnyFunSuite

/** The engine's custom Catalyst expressions are consumable from plain SQL:
  * gfn.registerAll puts every one in the session FunctionRegistry, so a
  * user can drive the whole surface through `spark.sql(...)` without
  * touching the Scala column API (VERDICT r2 next-item #8). Each case runs
  * the SQL form and asserts it equals the column-API form / a pinned value. */
class SqlSurfaceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val registered: Unit = gfn.registerAll(spark)

  private def sql1[T](q: String): T = {
    registered
    spark.sql(q).collect().head.getAs[T](0)
  }

  private def sqlSeq[T](q: String): Seq[T] = {
    registered
    spark.sql(q).collect().head.getSeq[T](0).toSeq
  }

  test("scalar text/url functions run via spark.sql") {
    assert(sql1[String]("SELECT porter_stem('running')") == "run")
    // tokenize_words is the full DOC tokenizer (stop-pre-stem, len>2
    // post-stem — SURVEY F2), so "42" is length-filtered out
    assert(sqlSeq[String]("SELECT tokenize_words('Hello, World! 42')")
      == Seq("hello", "world"))
    assert(sql1[String](
      "SELECT extract_text(CAST('<html><body><p>hi there</p></body></html>' AS BINARY))")
      == "hi there")
    assert(sql1[String](
      "SELECT extract_title(CAST('<html><head><title>a <b>b</b> c</title></head></html>' AS BINARY))")
      == " c")
    assert(sql1[String](
      "SELECT extract_title(CAST('<html><body>untitled</body></html>' AS BINARY))")
      == "Unauthorized")
    assert(sql1[String]("SELECT strip_query_tilde('http://h/a?x=1')") == "http://h/a")
    assert(sql1[String]("SELECT strip_fragment('http://h/a#frag')") == "http://h/a")
    assert(sql1[String]("SELECT url_host('https://www.cse.ust.hk/x/y.html')")
      == "www.cse.ust.hk")
    assert(sql1[String]("SELECT url_path('https://h.test/x/y.html')") == "/x/y.html")
  }

  test("extract_links runs via spark.sql") {
    val links = sqlSeq[String](
      """SELECT extract_links(
        |  CAST('<html><body><a href="p2.html">x</a><a href="http://other/">y</a></body></html>' AS BINARY),
        |  'https://h.test/p1.html', '.test/', true)""".stripMargin)
    assert(links == Seq("https://h.test/p2.html"))
  }

  test("hash/sketch/rounding functions run via spark.sql and match the column API") {
    val toks = "SELECT simhash_md5(array('alpha','beta','gamma'))"
    val viaSql = sql1[Long](toks)
    val viaApi = Seq(Tuple1(Seq("alpha", "beta", "gamma"))).toDF("t")
      .select(gfn.simhash_md5($"t")).collect().head.getLong(0)
    assert(viaSql == viaApi)

    val text = "the winnowing fingerprint functions run from sql"
    val wSql = sqlSeq[Long](s"SELECT winnow_md5('$text', 8, 4)")
    val wApi = Seq(Tuple1(text)).toDF("t")
      .select(gfn.winnow_md5($"t", org.apache.spark.sql.functions.lit(8),
        org.apache.spark.sql.functions.lit(4)))
      .collect().head.getSeq[Long](0).toSeq
    assert(wSql == wApi && wSql.nonEmpty)

    // exact-BINARY semantics: the double literal 0.1234565 is really
    // 0.12345649999…, i.e. BELOW the half-boundary → rounds DOWN (this is
    // what distinguishes round6_exact from decimal-text rounding)
    assert(sql1[Double]("SELECT round6_exact(0.1234565)") == 0.123456)
    assert(sql1[Double]("SELECT round6_exact(0.1234566)") == 0.123457)
    // non-finite inputs pass through instead of crashing the task (ADVICE r2)
    assert(sql1[Double]("SELECT round6_exact(CAST('NaN' AS DOUBLE))").isNaN)
    assert(sql1[Double]("SELECT round6_exact(CAST('Infinity' AS DOUBLE))").isPosInfinity)
    // generalized round_exact (round-4 sweep): floor-SCALED half-up — the
    // bit-portable semantics (ExprImpl.roundExact scaladoc). NOTE the
    // contrast with round6_exact above: scaling by 10^s can SNAP a
    // just-below-boundary value onto the boundary (0.1234565·10⁶ ==
    // 123456.5 exactly in doubles), so these round UP where the
    // exact-binary forms round down — deterministically, in both engines.
    assert(sql1[Double]("SELECT round_exact(0.1234565, 6)") == 0.123457)
    assert(sql1[Double]("SELECT round_exact(2.675, 2)") == 2.68) // 267.5 after scaling
    // dyadic EXACT tie: 0.03125 = 2^-5 scales to 312.5 exactly → half-up
    assert(sql1[Double]("SELECT round_exact(0.03125, 4)") == 0.0313)
    assert(sql1[Double]("SELECT round_exact(0.00405, 4)") ==
      graft.functions.ExprImpl.roundExact(0.00405, 4))
    assert(sql1[Double]("SELECT round_exact(CAST('NaN' AS DOUBLE), 4)").isNaN)
    // NEGATIVE ties round toward +INFINITY, not away from zero (round-4
    // ADVICE pin): floor(x·10^s + 0.5) adds +0.5 regardless of sign, so a
    // dyadic exact tie on a negative value goes UP. Spark round()/DuckDB
    // ROUND half-away would give -0.0313 here; the portable formula (in
    // BOTH engines) gives -0.0312. Callers needing half-away on negatives
    // must not use round_exact (ExprImpl.roundExact scaladoc).
    assert(sql1[Double]("SELECT round_exact(-0.03125, 4)") == -0.0312)
    assert(sql1[Double]("SELECT round_exact(-2.675, 2)") == -2.67) // scales to -267.5 exact
    assert(sql1[Double]("SELECT round_exact(-0.03125, 4)") ==
      graft.functions.ExprImpl.roundExact(-0.03125, 4))
    // foldable-literal argument contract (round-4 ADVICE): non-foldable or
    // fractional scale/k arguments raise a CLEAR analysis error instead of
    // an opaque eval exception / silent truncation to scale 2
    val fracErr = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT round_exact(1.5, 2.7)").collect()
    }
    assert(fracErr.getMessage.contains("must be an integer literal"))
    val nonFoldErr = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT round_exact(1.5, CAST(rand() * 3 AS INT))").collect()
    }
    assert(nonFoldErr.getMessage.contains("must be a foldable literal"))
    val kErr = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT minhash_sigs(array('ab'), 1.5)").collect()
    }
    assert(kErr.getMessage.contains("must be an integer literal"))

    val s = sqlSeq[Long]("SELECT srp_sketch_n(array(1.0d, -2.0d, 0.5d), 2)")
    val sApi = Seq(Tuple1(Seq(1.0, -2.0, 0.5))).toDF("v")
      .select(gfn.srp_sketch_n($"v", 2)).collect().head.getSeq[Long](0).toSeq
    assert(s == sApi && s.size == 2)
  }

  test("extract_copyright_date runs via spark.sql") {
    val html = "<html><body><p class=\"copyright\">Copyright on 2019-03-07</p></body></html>"
    val d = sql1[java.sql.Timestamp](
      s"SELECT extract_copyright_date(CAST('$html' AS BINARY))")
    assert(d != null && d.toInstant.toString.startsWith("2019-03-07"))
  }
}
