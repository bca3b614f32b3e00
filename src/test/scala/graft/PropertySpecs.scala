package graft

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

  private def viaExpr(words: Vector[Long], phrase: Vector[Long]): Int =
    graft.functions.ExprImpl.countPhrase(
      new GenericArrayData(words.toArray),
      new GenericArrayData(phrase.toArray))

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

  property("expression == oracle sliding-window count") =
    forAll(small, small.suchThat(_.nonEmpty).map(_.take(4))) { (w, p) =>
      viaExpr(w, p) == naive(w, p)
    }

  property("non-overlapping: count * len <= matches' span") =
    forAll(small, Gen.choose(1, 3)) { (w, n) =>
      val p = w.take(n)
      p.isEmpty || viaExpr(w, p) * p.size <= w.size
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
