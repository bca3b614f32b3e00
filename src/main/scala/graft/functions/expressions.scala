package graft.functions

import org.apache.spark.{SparkContext, SparkEnv, TaskContext}
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
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

  /** See [[WordPositionsExpr]]. */
  def wordPositions(tokens: ArrayData): ArrayData = {
    val at = new java.util.LinkedHashMap[UTF8String, scala.collection.mutable.ArrayBuilder.ofInt]()
    var i = 0
    while (i < tokens.numElements()) {
      val t = tokens.getUTF8String(i)
      var positions = at.get(t)
      if (positions == null) {
        positions = new scala.collection.mutable.ArrayBuilder.ofInt
        at.put(t.copy(), positions) // the token may point into a reused buffer
      }
      positions.addOne(i)
      i += 1
    }
    val out = new Array[Any](at.size)
    var j = 0
    at.forEach { (w, positions) =>
      out(j) = InternalRow(w, UnsafeArrayData.fromPrimitiveArray(positions.result()))
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Non-overlapping left-to-right count of `phrase` in a document, from
    * its positions — the equivalent of the reference's quoted-CSV substring
    * count (Ranker.kt:64-76, StringUtils.countMatches; the sliding-window
    * scan of `ReferenceOracle.countPhrase`). A phrase of m words starts at
    * p when its j-th word occurs at p + j for every j, and the greedy scan
    * over the sorted starts of its first word skips m positions after each
    * match. `postings` holds one (word_id, positions ascending) struct per
    * word; a phrase word without one matches nothing. */
  def countPhraseAt(postings: ArrayData, phrase: ArrayData): Int = {
    val m = phrase.numElements()
    if (m == 0) return 0
    val at = new Array[ArrayData](m)
    var j = 0
    while (j < m) {
      val w = phrase.getLong(j)
      var i = 0
      while (at(j) == null && i < postings.numElements()) {
        val p = postings.getStruct(i, 2)
        if (p.getLong(0) == w) at(j) = p.getArray(1)
        i += 1
      }
      if (at(j) == null) return 0
      j += 1
    }
    var count = 0
    var next = Int.MinValue // the first start the last match leaves free
    var s = 0
    while (s < at(0).numElements()) {
      val start = at(0).getInt(s)
      if (start >= next) {
        j = 1
        while (j < m && containsSorted(at(j), start + j)) j += 1
        if (j == m) { count += 1; next = start + m }
      }
      s += 1
    }
    count
  }

  /** See [[TitleHitsExpr]]. */
  def titleHits(stems: ArrayData, toks: ArrayData, lc: UTF8String): Int = {
    var hits = 0
    var i = 0
    while (i < stems.numElements()) {
      if (!stems.isNullAt(i)) {
        val t = stems.getUTF8String(i)
        var hit = lc != null && lc.contains(t)
        var j = 0
        while (!hit && toks != null && j < toks.numElements()) {
          hit = !toks.isNullAt(j) && toks.getUTF8String(j) == t
          j += 1
        }
        if (hit) hits += 1
      }
      i += 1
    }
    hits
  }

  private def containsSorted(a: ArrayData, x: Int): Boolean = {
    var lo = 0
    var hi = a.numElements() - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val v = a.getInt(mid)
      if (v < x) lo = mid + 1 else if (v > x) hi = mid - 1 else return true
    }
    false
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

/** `jvm_ln(x DOUBLE) → DOUBLE` — the natural log as `java.lang.Math.log`
  * computes it, the reference's `kotlin.math.ln` (TfIdfMain.kt:35).
  * Spark's `ln` calls `StrictMath.log`, which differs from it in the last
  * bit for some inputs, and so would every tf-idf built on it. */
case class JvmLnExpr(child: Expression) extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jvm_ln"
  override protected def nullSafeEval(v: Any): Any = java.lang.Math.log(v.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"java.lang.Math.log($c)")
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

/** `word_positions(tokens ARRAY<STRING>)`: each distinct token with its
  * positions, ascending, in order of first occurrence — a document's
  * positional postings before word ids are assigned. */
case class WordPositionsExpr(child: Expression) extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = WordPositionsExpr.Type
  override def prettyName: String = "word_positions"
  override protected def nullSafeEval(v: Any): Any = ExprImpl.wordPositions(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprImpl.wordPositions($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object WordPositionsExpr {
  val Type: DataType = ArrayType(StructType(Seq(
    StructField("word", StringType, nullable = false),
    StructField("positions", ArrayType(IntegerType, containsNull = false), nullable = false))),
    containsNull = false)
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

/** Non-overlapping phrase count over one document's positional postings:
  * `postings` holds a (word_id, positions ARRAY<INT>) struct per word of
  * the document (positions ascending), `phrase` the phrase's word ids in
  * query order (see [[ExprImpl.countPhraseAt]]). */
case class CountPhraseAtExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = IntegerType
  override def prettyName: String = "count_phrase_at"
  override protected def nullSafeEval(postings: Any, phrase: Any): Any =
    ExprImpl.countPhraseAt(postings.asInstanceOf[ArrayData], phrase.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (w, p) => s"graft.functions.ExprImpl.countPhraseAt($w, $p)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `title_hits(stems ARRAY<STRING>, toks ARRAY<STRING>, lc STRING) → INT`:
  * how many of `stems`, repeats included, are an element of `toks` or a
  * substring of `lc` — `size(filter(stems, t -> array_contains(toks, t) OR
  * contains(lc, t)))` in generated code. A null `toks` or `lc` matches
  * nothing; null stems give null. */
case class TitleHitsExpr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def nullable: Boolean = first.nullable
  override def dataType: DataType = IntegerType
  override def prettyName: String = "title_hits"
  override def eval(input: InternalRow): Any = first.eval(input) match {
    case null => null
    case stems => ExprImpl.titleHits(stems.asInstanceOf[ArrayData],
      second.eval(input).asInstanceOf[ArrayData], third.eval(input).asInstanceOf[UTF8String])
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val Seq(stems, toks, lc) = children.map(_.genCode(ctx))
    ev.copy(code =
      code"""
        ${stems.code}
        ${toks.code}
        ${lc.code}
        boolean ${ev.isNull} = ${stems.isNull};
        int ${ev.value} = ${ev.isNull} ? 0 : graft.functions.ExprImpl.titleHits(${stems.value},
          ${toks.isNull} ? null : ${toks.value}, ${lc.isNull} ? null : ${lc.value});
      """)
  }
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** A per-query value of a plan that is built once and run again for each
  * query. The value is not in the plan: the job that runs it carries every
  * parameter of the query as one job-local property
  * ([[QueryParam.withValues]]), which each task decodes once. Generated code
  * reads the value into a field of its class when the class is instantiated
  * inside the task, never as a source literal, so every query of one plan
  * runs the same generated class. It is not foldable, so the optimizer keeps
  * it a leaf of whatever plan it is in. */
case class QueryParam(slot: Int, dataType: DataType) extends LeafExpression {
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = QueryParam.valueOf(slot)
  override def toString: String = s"param$slot"
  override def sql: String = toString
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val read = s"graft.functions.QueryParam$$.MODULE$$.valueOf($slot)"
    val boxed = CodeGenerator.boxedType(dataType)
    val init = if (CodeGenerator.isPrimitiveType(dataType))
      s"(($boxed) $read).${CodeGenerator.javaType(dataType)}Value()" else s"($boxed) $read"
    val v = ctx.addMutableState(CodeGenerator.javaType(dataType), toString, v => s"$v = $init;")
    ExprCode.forNonNullValue(JavaCode.variable(v, dataType))
  }
}

object QueryParam {
  /** The job-local property that carries a job's parameter values. */
  private val Property = "graft.serve.params"

  /** Runs `body` with `values` (Catalyst values, indexed by slot) as the
    * [[QueryParam]] values of every job it starts on this thread. */
  def withValues[T](sc: SparkContext, values: IndexedSeq[Any])(body: => T): T = {
    val bytes = SparkEnv.get.closureSerializer.newInstance().serialize(values.toArray)
    val previous = sc.getLocalProperty(Property)
    sc.setLocalProperty(Property,
      java.util.Base64.getEncoder.encodeToString(JavaUtils.bufferToArray(bytes)))
    try body finally sc.setLocalProperty(Property, previous)
  }

  /** The running task's values, decoded at the task's first read. */
  private val decoded = new ThreadLocal[(Long, Array[Any])]

  /** The value of `slot` in the job of the running task. */
  def valueOf(slot: Int): Any = {
    val task = TaskContext.get()
    require(task != null, s"param$slot is read outside a task")
    val cached = decoded.get()
    val values =
      if (cached != null && cached._1 == task.taskAttemptId()) cached._2
      else {
        val encoded = task.getLocalProperty(Property)
        require(encoded != null, s"param$slot is read by a job run without values")
        val v = SparkEnv.get.closureSerializer.newInstance().deserialize[Array[Any]](
          java.nio.ByteBuffer.wrap(java.util.Base64.getDecoder.decode(encoded)))
        decoded.set((task.taskAttemptId(), v))
        v
      }
    values(slot)
  }
}
