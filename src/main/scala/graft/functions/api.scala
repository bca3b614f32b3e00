package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.graft.Bridge.{column, expression}
import graft.functions._

/** Public column API for the engine's custom Catalyst expressions —
  * the Spark-idiomatic surface replacing the reference's plain Kotlin
  * utility functions (HTMLParser.kt / Porter.kt / Ranker.kt helpers).
  * Everything here is codegen-capable; nothing is a Scala UDF. */
object gfn {

  def porter_stem(c: Column): Column = column(PorterStemExpr(expression(c)))
  def tokenize_words(c: Column): Column = column(TokenizeWordsExpr(expression(c)))
  def word_positions(tokens: Column): Column = column(WordPositionsExpr(expression(tokens)))
  def extract_text(html: Column): Column = column(ExtractTextExpr(expression(html)))
  def extract_title(html: Column): Column = column(ExtractTitleExpr(expression(html)))
  def extract_copyright_date(html: Column): Column =
    column(ExtractCopyrightDateExpr(expression(html)))

  /** Per-page link pipeline; `self=false` drops self-links
    * (reference: HTMLParser.kt:109-126). */
  def extract_links(html: Column, baseUrl: Column, filterPrefix: Column,
                    self: Column): Column =
    column(ExtractLinksExpr(expression(html), expression(baseUrl),
      expression(filterPrefix), expression(self)))

  def strip_query_tilde(url: Column): Column = column(StripQueryTildeExpr(expression(url)))
  def strip_fragment(url: Column): Column = column(StripFragmentExpr(expression(url)))
  def url_host(url: Column): Column = column(UrlHostExpr(expression(url)))
  def url_path(url: Column): Column = column(UrlPathExpr(expression(url)))

  /** Non-overlapping phrase count over a document's (word_id, positions)
    * postings. */
  def count_phrase_at(postings: Column, phrase: Column): Column =
    column(CountPhraseAtExpr(expression(postings), expression(phrase)))

  /** How many `stems` are a `title_toks` element or a `title_lc` substring. */
  def title_hits(stems: Column, titleToks: Column, titleLc: Column): Column =
    column(TitleHitsExpr(expression(stems), expression(titleToks), expression(titleLc)))

  def simhash_md5(tokens: Column): Column = column(SimHashMd5Expr(expression(tokens)))
  def winnow_md5(text: Column, k: Column, w: Column): Column =
    column(WinnowMd5Expr(expression(text), expression(k), expression(w)))
  def minhash_sigs(shingles: Column, k: Int): Column =
    column(MinhashSigsExpr(expression(shingles), k))
  def trigram_shingles(text: Column): Column =
    column(TrigramShinglesExpr(expression(text)))
  def round6_exact(x: Column): Column = column(Round6Expr(expression(x)))
  def jvm_ln(x: Column): Column = column(JvmLnExpr(expression(x)))
  def round_exact(x: Column, scale: Int): Column =
    column(RoundExactExpr(expression(x), scale))
  def srp_sketch_n(vec: Column, words: Int): Column =
    column(SrpSketchNExpr(expression(vec), words))
  def hamming_words(a: Column, b: Column): Column =
    column(HammingWordsExpr(expression(a), expression(b)))
  def dot_product(a: Column, b: Column): Column =
    column(DotProductExpr(expression(a), expression(b)))

  /** Bloom aggregate over a LONG hash column; shape from expected items/fpp. */
  def bloom_agg(hash: Column, expectedItems: Long, fpp: Double): Column = {
    val (words, k) = Bloom.shapeFor(expectedItems, fpp)
    column(BloomAggExpr(expression(hash), words, k).toAggregateExpression())
  }

  /** Register every custom function for SQL use. */
  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    import org.apache.spark.sql.catalyst.expressions.Expression
    def reg1(name: String, f: Expression => Expression): Unit =
      reg.createOrReplaceTempFunction(name, es => {
        // clear arity error instead of an opaque NoSuchElementException
        // on zero args, and no silent discard of extra arguments
        if (es.length != 1)
          throw analysisErr(s"$name expects exactly 1 argument, got ${es.length}")
        f(es.head)
      }, "built-in")
    reg1("porter_stem", PorterStemExpr.apply)
    reg1("tokenize_words", TokenizeWordsExpr.apply)
    reg1("extract_text", ExtractTextExpr.apply)
    reg1("extract_title", ExtractTitleExpr.apply)
    reg1("extract_copyright_date", ExtractCopyrightDateExpr.apply)
    reg1("strip_query_tilde", StripQueryTildeExpr.apply)
    reg1("strip_fragment", StripFragmentExpr.apply)
    reg1("url_host", UrlHostExpr.apply)
    reg1("url_path", UrlPathExpr.apply)
    reg1("simhash_md5", SimHashMd5Expr.apply)
    // SQL numeric literals arrive as DECIMAL — coerce at registration
    // (AbstractDataType is private[sql], so ImplicitCastInputTypes is not
    // implementable from here)
    reg1("round6_exact", e => Round6Expr(
      org.apache.spark.sql.catalyst.expressions.Cast(
        e, org.apache.spark.sql.types.DoubleType)))
    // scale must be a foldable integer literal (folded at registration
    // into the plan const). Round-4 ADVICE: a non-foldable argument used
    // to throw an opaque eval exception and a fractional literal
    // (round_exact(x, 2.7)) silently truncated to scale 2 — both now
    // raise an explicit analysis-time error.
    reg.createOrReplaceTempFunction("round_exact",
      es => RoundExactExpr(
        org.apache.spark.sql.catalyst.expressions.Cast(
          es(0), org.apache.spark.sql.types.DoubleType),
        foldableIntArg("round_exact", "scale", es(1))), "built-in")
    reg.createOrReplaceTempFunction("srp_sketch_n",
      es => SrpSketchNExpr(es(0),
        foldableIntArg("srp_sketch_n", "words", es(1))), "built-in")
    reg.createOrReplaceTempFunction("hamming_words",
      es => HammingWordsExpr(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction("dot_product",
      es => DotProductExpr(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction("extract_links",
      es => ExtractLinksExpr(es(0), es(1), es(2), es(3)), "built-in")
    reg.createOrReplaceTempFunction("winnow_md5",
      es => WinnowMd5Expr(es(0), es(1), es(2)), "built-in")
    reg1("trigram_shingles", TrigramShinglesExpr.apply)
    reg.createOrReplaceTempFunction("minhash_sigs",
      es => MinhashSigsExpr(es(0),
        foldableIntArg("minhash_sigs", "k", es(1))), "built-in")
  }

  /** Evaluate a SQL function argument that must be a foldable integral
    * literal (the value is baked into the plan at registration time).
    * Raises a clear AnalysisException for non-foldable or fractional
    * arguments instead of an opaque eval error / silent truncation. */
  private def analysisErr(msg: String): org.apache.spark.sql.AnalysisException =
    new org.apache.spark.sql.AnalysisException(
      "_LEGACY_ERROR_TEMP_0035", Map("message" -> msg), None)

  private def foldableIntArg(fn: String, arg: String,
      e: org.apache.spark.sql.catalyst.expressions.Expression): Int = {
    if (!e.foldable)
      throw analysisErr(s"$fn: argument '$arg' must be a foldable literal, got ${e.sql}")
    val v = e.eval(org.apache.spark.sql.catalyst.InternalRow.empty)
    val d = v match {
      case null =>
        throw analysisErr(s"$fn: argument '$arg' must not be NULL")
      case n: java.lang.Number => n.doubleValue()
      case d: org.apache.spark.sql.types.Decimal => d.toDouble
      case other =>
        throw analysisErr(s"$fn: argument '$arg' must be numeric, got $other")
    }
    if (d != math.rint(d) || d.isNaN || d.isInfinite)
      throw analysisErr(s"$fn: argument '$arg' must be an integer literal, got $d")
    // Int-range check: Double→Int silently SATURATES (4294967296.0.toInt
    // is Int.MaxValue), which would e.g. turn minhash_sigs(c, 2^32) into
    // a 2^31-element signature per row instead of an analysis error
    if (d < Int.MinValue.toDouble || d > Int.MaxValue.toDouble)
      throw analysisErr(s"$fn: argument '$arg' is out of Int range: $d")
    d.toInt
  }
}
