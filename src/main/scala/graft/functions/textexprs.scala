package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Static helpers for the training-data-pipeline expressions (SimHash,
  * winnowing fingerprints, sketches). All deterministic and seed-free so
  * results are stable across runs/cluster sizes. */
object TextExprImpl {

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Signed little-endian int64 of the LAST 8 md5-digest bytes —
    * bit-identical to DuckDB's `md5_number_lower(s)` reinterpreted as a
    * two's-complement BIGINT, so oracle SQL can recompute it exactly: the
    * token and k-gram hash of the SimHash and winnowing fingerprints. */
  def md5Lower64(s: UTF8String): Long = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(s.getBytes)
    var v = 0L
    var i = 0
    while (i < 8) { v |= (d(8 + i) & 0xffL) << (8 * i); i += 1 }
    v
  }

  /** Charikar SimHash over a token array: per-token [[md5Lower64]] hash
    * votes +1/−1 on each bit position; the sign vector is the fingerprint —
    * DuckDB-reproducible. Near-duplicate docs differ in few bits (small
    * Hamming distance). */
  def simhashMd5(tokens: ArrayData): Long = {
    val counts = new Array[Int](64)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val s = tokens.getUTF8String(i)
        val h = md5Lower64(s)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= 1L << b; b += 1 }
    out
  }

  private val hexDigits = "0123456789abcdef".toCharArray

  private def hex32(d: Array[Byte]): UTF8String = {
    val out = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = hexDigits((d(i) >> 4) & 0xf).toByte
      out(2 * i + 1) = hexDigits(d(i) & 0xf).toByte
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** unsigned lexicographic byte compare (16-byte digests). */
  private def ltUnsigned(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < 16) {
      val x = a(i) & 0xff; val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    false
  }

  /** Distinct word-trigram shingles of a text, first-occurrence order —
    * value-identical to
    * `array_distinct(transform(sequence(0, n-3), i => concat_ws(" ",
    * toks[i+1], toks[i+2], toks[i+3])))` over `filter(split(text, " "),
    * _ != "")`, in ONE pass. Exists because the built-in form is a
    * performance trap: CollapseProject inlines the `toks` alias into the
    * per-element lambda, so every element_at re-tokenizes the WHOLE text
    * (O(tokens²) per doc — measured 5 s single-threaded for the sf0.1
    * corpus when a pushed-down `size(shingles) > 0` predicate landed
    * below the repartition), and higher-order functions evaluate
    * interpreted with no common-subexpression elimination. */
  def trigramShingles(text: UTF8String): ArrayData = {
    val raw = text.toString.split(' ')
    val toks = new Array[String](raw.length)
    var n = 0
    var i = 0
    while (i < raw.length) {
      if (raw(i).nonEmpty) { toks(n) = raw(i); n += 1 }
      i += 1
    }
    if (n < 3) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String]
    i = 0
    while (i + 2 < n) {
      seen.add(toks(i) + " " + toks(i + 1) + " " + toks(i + 2))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    i = 0
    while (it.hasNext) { out(i) = UTF8String.fromString(it.next()); i += 1 }
    new GenericArrayData(out)
  }

  /** MinHash signature kernel: k salted-md5 minima over a shingle array in
    * ONE pass. Value-identical to
    * `array_min(transform(shingles, s => md5(concat(s, '#salt<i>'))))` per
    * salt i — lowercase-hex encoding is monotonic in the digest bytes, so
    * min-of-hex-strings ≡ unsigned min-of-digests — and to the DuckDB
    * oracle's `MIN(md5(shingle || '#salt<i>'))`. Exists because the
    * transform/md5 route pays interpreted higher-order-function dispatch
    * plus a fresh MessageDigest PER ELEMENT: measured 7.7 s for the 15M
    * hashes of the sf0.1 corpus — the entire q_minhash_lsh wall-time
    * budget — vs a single tight loop here. */
  def minhashSigs(shingles: ArrayData, k: Int): ArrayData = {
    val md = md5Local.get()
    val salts = new Array[Array[Byte]](k)
    var i = 0
    while (i < k) {
      salts(i) = s"#salt$i".getBytes(java.nio.charset.StandardCharsets.UTF_8)
      i += 1
    }
    val mins = new Array[Array[Byte]](k)
    val n = shingles.numElements()
    var j = 0
    while (j < n) {
      if (!shingles.isNullAt(j)) {
        val s = shingles.getUTF8String(j).getBytes
        var i2 = 0
        while (i2 < k) {
          md.reset()
          md.update(s)
          md.update(salts(i2))
          val d = md.digest()
          if (mins(i2) == null || ltUnsigned(d, mins(i2))) mins(i2) = d
          i2 += 1
        }
      }
      j += 1
    }
    val out = new Array[Any](k)
    i = 0
    while (i < k) { out(i) = if (mins(i) == null) null else hex32(mins(i)); i += 1 }
    new GenericArrayData(out)
  }

  private def splitmix(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** `words`×64-bit sign-random-projection sketch over ARRAY<DOUBLE> (see
    * SrpSketchNExpr): global bit k = word·64 + i is the sign of the dot
    * product with a ±1-component hyperplane derived deterministically per
    * (k, dim) by splitmix — identical across runs and cluster sizes. Wide
    * sketches serve low-threshold (research) dedup regimes where 64 bits
    * cannot separate boundary pairs from noise; word 0 is the same for
    * every width (pinned in OpsSpec). */
  def srpSketchN(vec: ArrayData, words: Int): ArrayData = {
    val n = vec.numElements()
    val out = new Array[Any](words)
    var w = 0
    while (w < words) {
      var bits = 0L
      var i = 0
      while (i < 64) {
        val k = w * 64 + i
        var acc = 0.0
        var d = 0
        while (d < n) {
          if (!vec.isNullAt(d)) {
            val sign = if ((splitmix(k.toLong * 1000003L + d) & 1L) == 1L) 1.0 else -1.0
            acc += sign * vec.getDouble(d)
          }
          d += 1
        }
        if (acc > 0.0) bits |= 1L << i
        i += 1
      }
      out(w) = bits
      w += 1
    }
    new GenericArrayData(out)
  }

  /** Index-order dot product of two ARRAY<DOUBLE>s — BIT-IDENTICAL to the
    * higher-order-function form it replaces,
    * `aggregate(zip_with(a, b, (x,y) => x*y), 0.0, (acc,v) => acc+v)`:
    * same left fold, same IEEE operation sequence (0.0 + a0·b0) + a1·b1 …
    * That form evaluates its lambdas INTERPRETED per element (the known
    * HOF cost — see minhash_sigs / trigramShingles history), which made
    * the O(n·d) dot products the dominant CPU of the cosine family
    * (brute-force top-k, exact pairs, LSH verify, IVF assignment).
    * Null semantics mirrored exactly: unequal lengths or a null element
    * yield NULL (zip_with pads the shorter side with null and a null
    * poisons the fold). */
  def dotProduct(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      s += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    java.lang.Double.valueOf(s)
  }

  /** Hamming distance between two equal-length ARRAY<LONG> bit sketches
    * (XOR + popcount per word; extra words on the longer side ignored). */
  def hammingWords(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var h = 0
    var i = 0
    while (i < n) {
      h += java.lang.Long.bitCount(a.getLong(i) ^ b.getLong(i))
      i += 1
    }
    h
  }

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03):
    * the [[md5Lower64]] hash of every k-gram (by char), then the minimum
    * hash of each window of w consecutive k-grams, deduplicated, sorted.
    * Robust local fingerprints for near-duplicate detection at corpus
    * scale, DuckDB-reproducible (oracle: `md5_number_lower(text[i:i+k-1])`
    * two's-complemented, window minima via `list_min`). Char-indexed
    * k-grams; identical to the oracle on the ASCII corpus. */
  def winnowMd5(text: UTF8String, k: Int, w: Int): ArrayData = {
    val s = text.toString
    val n = s.length
    if (n < k) return new GenericArrayData(Array.empty[Any])
    val grams = new Array[Long](n - k + 1)
    var i = 0
    while (i + k <= n) {
      grams(i) = md5Lower64(UTF8String.fromString(s.substring(i, i + k)))
      i += 1
    }
    val picked = scala.collection.mutable.SortedSet.empty[Long]
    if (grams.length <= w) { picked += grams.min }
    else {
      var start = 0
      while (start + w <= grams.length) {
        var m = grams(start)
        var j = 1
        while (j < w) { if (grams(start + j) < m) m = grams(start + j); j += 1 }
        picked += m
        start += 1
      }
    }
    new GenericArrayData(picked.toArray.map(x => x: Any))
  }
}

/** `srp_sketch_n(vec ARRAY<DOUBLE>, words) → ARRAY<LONG>` — `words`×64-bit
  * sign-random-projection sketch (Charikar hyperplane LSH, see
  * [[TextExprImpl.srpSketchN]]): angular distance maps to Hamming distance
  * (P[bit differs] = θ/π), so near-duplicate embeddings land within a
  * small Hamming radius and the block-join machinery buckets them.
  * Wide sketches shrink the RELATIVE Hamming spread (σ/mean ∝ 1/√nbits),
  * which is what makes guaranteed-recall radii usable at low cosine
  * thresholds where a 64-bit radius would have to exceed the pigeonhole
  * collapse bound 31 (TrainingOps.cosineDupPairsLsh). */
case class SrpSketchNExpr(child: Expression, words: Int) extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "srp_sketch_n"
  override protected def nullSafeEval(v: Any): Any =
    TextExprImpl.srpSketchN(v.asInstanceOf[ArrayData], words)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextExprImpl.srpSketchN($c, $words)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `hamming_words(a ARRAY<LONG>, b ARRAY<LONG>) → INT` — Hamming distance
  * between wide bit sketches (codegen'd XOR+popcount, no higher-order
  * function interpretation in the hot candidate-verify path). */
case class HammingWordsExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = IntegerType
  override def prettyName: String = "hamming_words"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    TextExprImpl.hammingWords(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.TextExprImpl.hammingWords($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `dot_product(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>) → DOUBLE` — codegen'd
  * index-order dot product (see [[TextExprImpl.dotProduct]] for the exact
  * equivalence + null-semantics contract vs the HOF form it replaces). */
case class DotProductExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    TextExprImpl.dotProduct(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // boxed-null-aware codegen (the ExtractCopyrightDateExpr pattern):
    // the result is NULL for unequal lengths / null elements even when
    // both inputs are non-null, so defineCodeGen's non-null contract
    // does not fit
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val l = left.genCode(ctx)
    val r = right.genCode(ctx)
    val boxed = ctx.freshName("dotBoxed")
    ev.copy(code =
      code"""
        ${l.code}
        ${r.code}
        boolean ${ev.isNull} = true;
        double ${ev.value} = 0.0;
        if (!${l.isNull} && !${r.isNull}) {
          java.lang.Double $boxed =
            graft.functions.TextExprImpl.dotProduct(${l.value}, ${r.value});
          if ($boxed != null) { ${ev.isNull} = false; ${ev.value} = $boxed.doubleValue(); }
        }
      """)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `simhash_md5(tokens ARRAY<STRING>) → LONG` — the portable SimHash
  * variant (md5-hashed tokens) that the DuckDB oracle recomputes exactly. */
case class SimHashMd5Expr(child: Expression) extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_md5"
  override protected def nullSafeEval(v: Any): Any =
    TextExprImpl.simhashMd5(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextExprImpl.simhashMd5($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `trigram_shingles(text) → ARRAY<STRING>` — distinct word-trigram
  * shingles, single-pass (see TextExprImpl.trigramShingles for why the
  * transform/element_at form is quadratic after projection collapse). */
case class TrigramShinglesExpr(child: Expression) extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "trigram_shingles"
  override protected def nullSafeEval(v: Any): Any =
    TextExprImpl.trigramShingles(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextExprImpl.trigramShingles($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `minhash_sigs(shingles ARRAY<STRING>, k) → ARRAY<STRING>` — the k
  * salted-md5 MinHash signature minima, single-pass (see
  * TextExprImpl.minhashSigs for the parity + performance argument). */
case class MinhashSigsExpr(child: Expression, k: Int) extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "minhash_sigs"
  override protected def nullSafeEval(v: Any): Any =
    TextExprImpl.minhashSigs(v.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextExprImpl.minhashSigs($c, $k)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `winnow_md5(text, k, w) → ARRAY<LONG>` — the portable winnowing variant
  * (md5-hashed k-grams) that the DuckDB oracle recomputes exactly. */
case class WinnowMd5Expr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_md5"
  override protected def nullSafeEval(t: Any, k: Any, w: Any): Any =
    TextExprImpl.winnowMd5(t.asInstanceOf[UTF8String], k.asInstanceOf[Int], w.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, k, w) => s"graft.functions.TextExprImpl.winnowMd5($t, $k, $w)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}
