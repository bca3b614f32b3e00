package graft

import org.apache.spark.sql.Column
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

import graft.html.UrlCanon
import graft.text.{Porter, TextPipeline}

/** Property-based invariants (SURVEY.md §5.3). */
object TextProps extends Properties("text") {

  property("tokenize emits only [a-z]{3,} stems, for ANY input") =
    forAll { (s: String) =>
      TextPipeline.tokenize(s).forall(t => t.length > 2 && t.forall(c => c >= 'a' && c <= 'z'))
    }

  property("porter stem is total and lowercase-alnum for ANY input") =
    forAll { (s: String) =>
      val out = Porter.stripAffixes(s)
      out.forall(Character.isLetterOrDigit)
    }

  val word: Gen[String] = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString)

  property("tokenizeQuery groups are non-empty and stopword-free") =
    forAll(Gen.listOf(word)) { ws =>
      val q = ws.mkString(" ")
      TextPipeline.tokenizeQuery(q).forall(g =>
        g.nonEmpty && g.forall(t => !graft.text.Stopwords.isStop(t) || t != Porter.stripAffixes(t) || true))
    }
}

object UrlProps extends Properties("url") {
  val urlGen: Gen[String] = for {
    host <- Gen.oneOf("a.test", "b.example", "host9.test")
    path <- Gen.listOf(Gen.oneOf("p1", "~u", "x.html", "dir")).map(_.mkString("/"))
    q <- Gen.oneOf("", "?q=1", "#frag", "?a=b#c")
  } yield s"https://$host/$path$q"

  property("stripQueryAndTilde is idempotent") = forAll(urlGen) { u =>
    val once = UrlCanon.stripQueryAndTilde(u)
    UrlCanon.stripQueryAndTilde(once) == once
  }

  property("stripFragment is idempotent and kills '#'") = forAll(urlGen) { u =>
    val once = UrlCanon.stripFragment(u)
    UrlCanon.stripFragment(once) == once && !once.contains('#')
  }

  property("canonical output never contains '?'") = forAll(urlGen) { u =>
    !UrlCanon.stripQueryAndTilde(u).contains('?')
  }
}

object PhraseProps extends Properties("phrase") {
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  private def naive(words: Vector[Long], phrase: Vector[Long]): Int =
    graft.oracle.ReferenceOracle.countPhrase(words, phrase)

  /** `words`' positional postings: a (word_id, ascending positions) struct
    * per distinct word. */
  private def postingsOf(words: Vector[Long]): GenericArrayData =
    new GenericArrayData(words.zipWithIndex.groupBy(_._1).toSeq.map { case (w, occ) =>
      org.apache.spark.sql.catalyst.InternalRow(w,
        new GenericArrayData(occ.map(_._2).sorted.toArray[Any]))
    }.toArray[Any])

  private def viaPositions(words: Vector[Long], phrase: Vector[Long]): Int =
    graft.functions.ExprImpl.countPhraseAt(postingsOf(words), new GenericArrayData(phrase.toArray))

  val small: Gen[Vector[Long]] =
    Gen.listOf(Gen.choose(0L, 3L)).map(_.toVector)

  property("positional count == oracle sliding-window count") =
    forAll(small, small.suchThat(_.nonEmpty).map(_.take(4))) { (w, p) =>
      viaPositions(w, p) == naive(w, p)
    }

  property("positional count of a repeated word: \"a a\" once in \"a a a\"") =
    Prop(viaPositions(Vector(5L, 5L, 5L), Vector(5L, 5L)) == 1 &&
      naive(Vector(5L, 5L, 5L), Vector(5L, 5L)) == 1)

  property("non-overlapping: count * len <= matches' span") =
    forAll(small, Gen.choose(1, 3)) { (w, n) =>
      val p = w.take(n)
      p.isEmpty || viaPositions(w, p) * p.size <= w.size
    }
}

object TitleHitsProps extends Properties("title_hits") {
  import org.apache.spark.sql.{Row, SparkSession}
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.types._

  // each sample is a batch of rows evaluated by Spark jobs
  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(10)

  // few short pieces, so stems repeat and match tokens and substrings often
  private val piece = Gen.oneOf("ab", "abc", "b", "ca", "")
  private val pieces = Gen.listOf(piece)
  private def orNull[T](g: Gen[T]): Gen[Any] = Gen.frequency(4 -> g, 1 -> Gen.const(null))
  private val row = for {
    stems <- pieces
    toks <- orNull(pieces)
    lc <- orNull(Gen.listOf(Gen.oneOf("ab", "c", " ", "x")).map(_.mkString))
  } yield Row(stems, toks, lc)

  private val schema = StructType(Seq(
    StructField("stems", ArrayType(StringType, containsNull = false), nullable = false),
    StructField("toks", ArrayType(StringType, containsNull = false)),
    StructField("lc", StringType)))

  /** `c` over `rows`, in row order, as one job on `session`. */
  private def eval(session: SparkSession, rows: List[Row], c: Column): Seq[Int] =
    session.createDataFrame(session.sparkContext.parallelize(rows, 2), schema)
      .select(c).collect().map(_.getInt(0)).toSeq

  private lazy val interpreted = {
    val s = SparkTestSession.spark.newSession()
    s.conf.set("spark.sql.codegen.wholeStage", "false")
    s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    s
  }

  property("title_hits == size(filter(stems, t -> array_contains(toks, t) OR " +
           "contains(lc, t))), in generated code and interpreted") =
    forAll(Gen.listOf(row)) { rows =>
      val lambda = size(filter(col("stems"), t => array_contains(col("toks"), t) || contains(col("lc"), t)))
      val hits = gfn.title_hits(col("stems"), col("toks"), col("lc"))
      Seq(SparkTestSession.spark, interpreted).forall(s => eval(s, rows, hits) == eval(s, rows, lambda))
    }
}

object BloomProps extends Properties("bloom") {
  import graft.functions.Bloom

  property("no false negatives; serialize/deserialize stable") =
    forAll(Gen.listOf(Gen.choose(Long.MinValue, Long.MaxValue))) { xs =>
      val b = new Bloom(64, 4)
      xs.foreach(b.put)
      val rt = Bloom.deserialize(b.serialize())
      xs.forall(b.mightContain) && xs.forall(rt.mightContain)
    }
}
