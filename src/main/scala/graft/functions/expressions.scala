package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.html.{Html, UrlCanon}
import graft.text.{Porter, TextPipeline}

/** Static helpers the generated (whole-stage-codegen) Java calls into.
  * Every method takes/returns Catalyst internal types so the expressions
  * below stay inside WholeStageCodegen — no CodegenFallback on the hot
  * fetch/tokenize path. */
object ExprImpl {

  /** FNV-1a over UTF-8 bytes — config fingerprints for snapshot manifests. */
  def hashCfg(s: String): Long = {
    var h = 0xcbf29ce484222325L
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8).foreach { b =>
      h ^= (b & 0xffL); h *= 0x100000001b3L
    }
    h
  }

  /** 6-dp HALF_UP rounding of the EXACT binary double value — matching the
    * reference's `"%.6f".format(x)` (TfIdfMain.kt:35) and the sequential
    * oracle's round6, NOT Spark's `round()` (which rounds the shortest
    * decimal representation and can differ on exact half-boundary values).
    * Non-finite inputs pass through unchanged (BigDecimal would throw
    * NumberFormatException — the public gfn.round6_exact must not crash
    * the task on NaN/Infinity). */
  def round6(x: Double): Double =
    if (!java.lang.Double.isFinite(x)) x
    else new java.math.BigDecimal(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Engine-PORTABLE scale-dp rounding (round-4 sweep): half-up on the
    * SCALED DOUBLE — `floor(x·10^s + 0.5) / 10^s`, every step an IEEE-754
    * double operation, so the JVM and any C/C++ engine compute the SAME
    * BITS for the same input. This is deliberately not "correct decimal
    * rounding"; portability, not decimal accuracy, is the contract,
    * because no DuckDB surface implements correctly-rounded decimal
    * conversion (all fuzz-diverged from both of Spark's options):
    *  - Spark's round() rounds the shortest-decimal repr half-away while
    *    DuckDB's ROUND rounds a scaled multiply — ulp-straddles surfaced
    *    as a real 1-cent revenue diff and a 1e-4 quality diff at sf0.1;
    *  - DuckDB's double→DECIMAL cast double-rounds through ~15
    *    significant digits (616.4049999999999 → 616.41);
    *  - DuckDB's printf (the fmt library) mis-rounds the exact binary
    *    value ~1/2000 near half-boundaries (1005.2950000000001 → .29).
    * The DuckDB mirror is literally `FLOOR(x * 10000.0 + 0.5) / 10000.0`
    * (constants 10^s and 0.5 are exactly representable, so literal
    * parsing cannot skew them) — fuzz-verified bit-identical over 21k
    * adversarial half-boundary/dyadic/random values. [[round6]] stays
    * exact-binary HALF_UP: it reproduces the reference's Java
    * `"%.6f".format` (TfIdfMain.kt:35) for the tf-idf store, and its
    * oracle parity is VALUES-pinned, never recomputed in DuckDB.
    *
    * NEGATIVE TIES round toward +infinity, not away from zero: the
    * formula adds +0.5 before floor regardless of sign, so e.g.
    * `roundExact(-2.675, 2)` (whose nearest double is -2.67499…) gives
    * -2.67 where Spark `round()` / DuckDB `ROUND` half-away semantics
    * would give -2.68 on an exact tie. Safe today because the oracle
    * mirrors the identical formula and negative values only flow through
    * mirrored paths (cosine columns); a caller expecting half-away on
    * negatives must NOT use this function. Pinned in SqlSurfaceSpec. */
  def roundExact(x: Double, scale: Int): Double = {
    if (!java.lang.Double.isFinite(x)) return x
    val p = math.pow(10.0, scale.toDouble)
    math.floor(x * p + 0.5) / p
  }

  def porterStem(s: UTF8String): UTF8String =
    UTF8String.fromString(Porter.stripAffixes(s.toString))

  def tokenizeWords(s: UTF8String): ArrayData = {
    val toks = TextPipeline.tokenize(s.toString)
    val out = new Array[AnyRef](toks.length)
    var i = 0
    while (i < toks.length) { out(i) = UTF8String.fromString(toks(i)); i += 1 }
    new GenericArrayData(out)
  }

  def extractText(html: Array[Byte]): UTF8String =
    UTF8String.fromString(Html.parseBytes(html).text)

  /** lastChild of the first <title> element (HTMLParser.kt:191); a page
    * with NO title element yields "Unauthorized" — the reference's
    * elementAt(0) throws ArrayIndexOutOfBounds on the empty node list and
    * the catch returns that fallback (HTMLParser.kt:193). */
  def extractTitle(html: Array[Byte]): UTF8String =
    UTF8String.fromString(Html.parseBytes(html).title.getOrElse("Unauthorized"))

  private val datePat = java.util.regex.Pattern.compile("(\\d{4})-(\\d{1,2})-(\\d{1,2})")

  /** Copyright-date fallback chain member (HTMLParser.kt:207-221):
    * plain text of the first <p class="copyright">, all whitespace removed,
    * the segment between the first "on" and the next "on" (or end), parsed
    * as a date at midnight UTC. Returns null (SQL NULL) when any step
    * fails — the caller coalesces with the default literal. Result is
    * TimestampType micros. */
  def extractCopyrightDateMicros(html: Array[Byte]): java.lang.Long = {
    val copy = Html.parseBytes(html).copyright.orNull
    if (copy == null) return null
    val compact = copy.replaceAll("\\s", "")
    val first = compact.indexOf("on")
    if (first < 0) return null
    val afterFirst = compact.substring(first + 2)
    val next = afterFirst.indexOf("on")
    val piece = if (next < 0) afterFirst else afterFirst.substring(0, next)
    val m = datePat.matcher(piece)
    if (!m.matches()) return null
    val (y, mo, d) = (m.group(1).toInt, m.group(2).toInt, m.group(3).toInt)
    if (mo < 1 || mo > 12 || d < 1 || d > 31) return null
    try {
      val epochDay = java.time.LocalDate.of(y, mo, d).toEpochDay
      java.lang.Long.valueOf(epochDay * 86400L * 1000000L)
    } catch { case _: Exception => null }
  }

  /** Fused per-page link pipeline (HTMLParser.kt:109-126): href collection,
    * resolution, query/tilde strip, case-insensitive scope filter, fragment
    * strip, optional self-exclusion, first-occurrence dedup. */
  def extractLinks(html: Array[Byte], baseUrl: UTF8String,
                   filterPrefix: UTF8String, self: Boolean): ArrayData = {
    val page = Html.parseBytes(html)
    val links = UrlCanon.extractLinks(page.hrefs, baseUrl.toString,
      filterPrefix.toString, self)
    val out = new Array[AnyRef](links.length)
    var i = 0
    while (i < links.length) { out(i) = UTF8String.fromString(links(i)); i += 1 }
    new GenericArrayData(out)
  }

  def stripQueryTilde(url: UTF8String): UTF8String =
    UTF8String.fromString(UrlCanon.stripQueryAndTilde(url.toString))

  def stripFragment(url: UTF8String): UTF8String =
    UTF8String.fromString(UrlCanon.stripFragment(url.toString))

  def urlHost(url: UTF8String): UTF8String =
    UTF8String.fromString(UrlCanon.hostOf(url.toString))

  def urlPath(url: UTF8String): UTF8String =
    UTF8String.fromString(UrlCanon.pathOf(url.toString))

  /** Non-overlapping left-to-right count of `phrase` inside `words` —
    * the array-equality equivalent of the reference's quoted-CSV substring
    * count (Ranker.kt:64-76, StringUtils.countMatches): identical on CSV
    * token boundaries because every token is quoted. */
  def countPhrase(words: ArrayData, phrase: ArrayData): Int = {
    val n = words.numElements()
    val m = phrase.numElements()
    if (m == 0 || m > n) return 0
    var count = 0
    var i = 0
    while (i <= n - m) {
      var j = 0
      var ok = true
      while (ok && j < m) {
        if (words.getLong(i + j) != phrase.getLong(j)) ok = false
        j += 1
      }
      if (ok) { count += 1; i += m } // non-overlapping: skip the match
      else i += 1
    }
    count
  }
}

/** `round6_exact(x DOUBLE) → DOUBLE` — exact-binary-value 6-dp HALF_UP
  * rounding (Java `%.6f` semantics; see ExprImpl.round6). */
case class Round6Expr(child: Expression) extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = DoubleType
  override def prettyName: String = "round6_exact"
  override protected def nullSafeEval(v: Any): Any =
    ExprImpl.round6(v.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprImpl.round6($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** [[Round6Expr]] generalized to any decimal scale (ExprImpl.roundExact's
  * scaladoc has the portability argument); `scale` is a plan-time constant
  * baked into codegen. */
case class RoundExactExpr(child: Expression, scale: Int) extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = DoubleType
  override def prettyName: String = "round_exact"
  override protected def nullSafeEval(v: Any): Any =
    ExprImpl.roundExact(v.asInstanceOf[Double], scale)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprImpl.roundExact($c, $scale)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

trait GraftUnaryString { self: UnaryExpression =>
  override def nullIntolerant: Boolean = true
  protected def implCall: String
  protected def implEval(v: Any): Any
  override protected def nullSafeEval(v: Any): Any = implEval(v)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprImpl.$implCall($c)")
}

/** Porter stem of a string column (reference: util/Porter.kt). */
case class PorterStemExpr(child: Expression) extends UnaryExpression with GraftUnaryString {
  override def dataType: DataType = StringType
  override def prettyName: String = "porter_stem"
  protected def implCall = "porterStem"
  protected def implEval(v: Any): Any = ExprImpl.porterStem(v.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Document tokenizer (reference: util/HTMLParser.kt:89-100). */
case class TokenizeWordsExpr(child: Expression) extends UnaryExpression with GraftUnaryString {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "tokenize_words"
  protected def implCall = "tokenizeWords"
  protected def implEval(v: Any): Any = ExprImpl.tokenizeWords(v.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Visible text of an html:BINARY page (reference: HTMLParser.kt:102-107
  * + org.htmlparser StringBean; byte-identical per-url invariant). */
case class ExtractTextExpr(child: Expression) extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = StringType
  override def prettyName: String = "extract_text"
  override protected def nullSafeEval(v: Any): Any =
    ExprImpl.extractText(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprImpl.extractText($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Title of an html:BINARY page (reference: HTMLParser.kt:186-195). */
case class ExtractTitleExpr(child: Expression) extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = StringType
  override def prettyName: String = "extract_title"
  override protected def nullSafeEval(v: Any): Any =
    ExprImpl.extractTitle(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprImpl.extractTitle($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Copyright-paragraph date of an html:BINARY page, nullable
  * (reference: HTMLParser.kt:197-223). */
case class ExtractCopyrightDateExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = TimestampType
  override def nullable: Boolean = true
  override def prettyName: String = "extract_copyright_date"
  override protected def nullSafeEval(v: Any): Any =
    ExprImpl.extractCopyrightDateMicros(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val c = child.genCode(ctx)
    val boxed = ctx.freshName("boxedTs")
    ev.copy(code =
      code"""
        ${c.code}
        boolean ${ev.isNull} = true;
        long ${ev.value} = 0L;
        if (!${c.isNull}) {
          java.lang.Long $boxed = graft.functions.ExprImpl.extractCopyrightDateMicros(${c.value});
          if ($boxed != null) { ${ev.isNull} = false; ${ev.value} = $boxed.longValue(); }
        }
      """)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Fused link-extraction pipeline over (html BINARY, base STRING,
  * filterPrefix STRING, self BOOLEAN) → ARRAY<STRING>
  * (reference: HTMLParser.kt:109-126 + LinkBean). */
case class ExtractLinksExpr(first: Expression, second: Expression,
                            third: Expression, fourth: Expression)
    extends QuaternaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "extract_links"
  override protected def nullSafeEval(html: Any, base: Any, prefix: Any, self: Any): Any =
    ExprImpl.extractLinks(html.asInstanceOf[Array[Byte]], base.asInstanceOf[UTF8String],
      prefix.asInstanceOf[UTF8String], self.asInstanceOf[Boolean])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (h, b, p, s) =>
      s"graft.functions.ExprImpl.extractLinks($h, $b, $p, $s)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): Expression =
    copy(first = f, second = s, third = t, fourth = q)
}

case class StripQueryTildeExpr(child: Expression) extends UnaryExpression with GraftUnaryString {
  override def dataType: DataType = StringType
  override def prettyName: String = "strip_query_tilde"
  protected def implCall = "stripQueryTilde"
  protected def implEval(v: Any): Any = ExprImpl.stripQueryTilde(v.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class StripFragmentExpr(child: Expression) extends UnaryExpression with GraftUnaryString {
  override def dataType: DataType = StringType
  override def prettyName: String = "strip_fragment"
  protected def implCall = "stripFragment"
  protected def implEval(v: Any): Any = ExprImpl.stripFragment(v.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class UrlHostExpr(child: Expression) extends UnaryExpression with GraftUnaryString {
  override def dataType: DataType = StringType
  override def prettyName: String = "url_host"
  protected def implCall = "urlHost"
  protected def implEval(v: Any): Any = ExprImpl.urlHost(v.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class UrlPathExpr(child: Expression) extends UnaryExpression with GraftUnaryString {
  override def dataType: DataType = StringType
  override def prettyName: String = "url_path"
  protected def implCall = "urlPath"
  protected def implEval(v: Any): Any = ExprImpl.urlPath(v.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `robots_allowed(host, path)` — false iff the host's broadcast
  * robots.txt rules hold a disallow prefix of `path`. One hash lookup per
  * row however many hosts have rules; the rules are deserialized once per
  * executor and never enter the plan. A null host or path, or a host
  * without rules, is allowed. CodegenFallback for the same reason as
  * `BloomProbeExpr`: the broadcast handle can't cross into generated Java
  * source. */
case class RobotsAllowedExpr(
    left: Expression,
    right: Expression,
    rules: org.apache.spark.broadcast.Broadcast[Map[UTF8String, Array[UTF8String]]])
  extends BinaryExpression
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "robots_allowed"
  override def eval(input: InternalRow): Any = {
    val host = left.eval(input)
    host == null || (rules.value.get(host.asInstanceOf[UTF8String]) match {
      case None => true
      case Some(prefixes) =>
        val path = right.eval(input).asInstanceOf[UTF8String]
        path == null || !prefixes.exists(path.startsWith)
    })
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Non-overlapping phrase count over ARRAY<LONG> forward indexes
  * (reference: Ranker.kt:52-77). */
case class CountPhraseExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = IntegerType
  override def prettyName: String = "count_phrase"
  override protected def nullSafeEval(words: Any, phrase: Any): Any =
    ExprImpl.countPhrase(words.asInstanceOf[ArrayData], phrase.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (w, p) => s"graft.functions.ExprImpl.countPhrase($w, $p)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
