package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.corpus.PageRow
import graft.html.Html

/** Seeded corpus for the search workload. Every page is a pure function of
  * (seed, page index), so Spark generates it in parallel and the driver can
  * regenerate any page (or the whole corpus, for the reference oracle).
  *
  * Shape:
  *  - body words follow a Zipf law over `vocab` synthetic words, so query
  *    terms range from posting lists covering most pages to a handful;
  *  - every page carries the same site-template block (navigation and
  *    footer terms), so template terms occur in every document and get an
  *    idf of zero;
  *  - a `soft404Share` of pages hold the template and nothing else; every
  *    term of such a page occurs in every page, so its tf-idf vector has
  *    length zero;
  *  - link graph: the seed page (a sitemap) links every page, each host
  *    root links all pages of its host, and each page links a few random
  *    pages, mostly on its own host, so the crawl finishes in two rounds
  *    and PageRank has a non-uniform graph to rank.
  *
  * Vocabulary words are three consonant-vowel syllables over the vowels
  * a, o and u; the document tokenizer maps each to itself (no stopword, no
  * Porter suffix applies), which SearchCorpusCheck verifies. Template words
  * use the vowels e and i and unknown query words contain x, so neither can
  * collide with the vocabulary. */
object SearchCorpus {

  final case class Shape(pages: Int, hosts: Int, vocab: Int, seed: Long) {
    require(hosts >= 1 && pages >= 2 * hosts && vocab >= 16 && vocab <= 74088)
    def pagesPerHost: Int = pages / hosts
    def total: Int = pagesPerHost * hosts
  }

  val Soft404Share = 0.02
  val LinksPerPage = 6
  val Paragraphs = 4
  val WordsPerParagraph = 30

  private val consonants = "bdfgklmnprstvz"
  private val vowels = "aou"

  /** Word of Zipf rank `r` (0 = most frequent). */
  def word(r: Int): String = {
    val sb = new java.lang.StringBuilder(6)
    var x = r
    var i = 0
    while (i < 3) {
      val syl = x % 42
      x /= 42
      sb.append(consonants.charAt(syl / 3)).append(vowels.charAt(syl % 3))
      i += 1
    }
    sb.toString
  }

  val templateWords: Vector[String] =
    Vector("sitemenu", "sitehelp", "sitefeed", "sitelegend", "sitepres", "sitewiki")

  def unknownWord(i: Int): String = "xq" + word(i)

  def hostUrl(h: Int): String = s"https://sh$h.test/"
  def pageUrl(h: Int, i: Int): String = if (i == 0) hostUrl(h) else s"https://sh$h.test/d$i.html"
  val seedUrl: String = hostUrl(0)
  val filterPrefix: String = ".test/"

  @inline private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Cumulative Zipf (exponent 1) weights over the vocabulary, normalised
    * to 1. */
  def zipfCdf(shape: Shape): Array[Double] = {
    val w = Array.tabulate(shape.vocab)(r => 1.0 / (r + 1))
    val cdf = w.scanLeft(0.0)(_ + _).tail
    val total = cdf.last
    cdf.map(_ / total)
  }

  /** Deterministic stream of draws for one page. */
  final class Rng(seed: Long) {
    private var r = mix(seed)
    def nextLong(): Long = { r = mix(r); r }
    def nextInt(bound: Int): Int = ((nextLong() >>> 33) % bound).toInt
    def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
  }

  private def rngFor(shape: Shape, idx: Long): Rng = new Rng(shape.seed * 0x2545f4914f6cdd1dL ^ idx)

  def zipfWord(rng: Rng, cdf: Array[Double]): String = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    word(math.min(if (i >= 0) i else -i - 1, cdf.length - 1))
  }

  def isSoft404(shape: Shape, idx: Int): Boolean =
    idx % shape.pagesPerHost != 0 && rngFor(shape, ~idx.toLong).nextDouble() < Soft404Share

  /** The body paragraphs of page `idx` as word lists (empty for a soft-404
    * page); the query generator draws phrases from them. */
  def paragraphs(shape: Shape, cdf: Array[Double], idx: Int): Vector[Vector[String]] =
    if (isSoft404(shape, idx)) Vector.empty
    else {
      val rng = rngFor(shape, idx)
      Vector.fill(Paragraphs) {
        Vector.fill(WordsPerParagraph / 2 + rng.nextInt(WordsPerParagraph))(zipfWord(rng, cdf))
      }
    }

  def page(shape: Shape, cdf: Array[Double], idx: Int): PageRow = {
    val per = shape.pagesPerHost
    val h = idx / per
    val i = idx % per
    val url = pageUrl(h, i)
    val rng = rngFor(shape, idx.toLong + 0x51ed2701L)
    val soft404 = isSoft404(shape, idx)
    val sb = new java.lang.StringBuilder(2048)
    sb.append("<html><head><title>")
    if (soft404) sb.append(templateWords(0)).append(' ').append(templateWords(1))
    else sb.append(zipfWord(rng, cdf)).append(' ').append(zipfWord(rng, cdf))
    sb.append("</title></head><body><div class=\"nav\">")
    templateWords.take(3).foreach(w => sb.append("<a href=\"/\">").append(w).append("</a> "))
    sb.append("</div>")
    paragraphs(shape, cdf, idx).foreach { p =>
      sb.append("<p>")
      p.foreach(w => sb.append(w).append(' '))
      sb.append("</p>")
    }
    def a(href: String): Unit = sb.append("<a href=\"").append(href).append("\">link</a> ")
    if (idx == 0) (0 until shape.total).foreach(j => a(pageUrl(j / per, j % per)))
    if (i == 0) (1 until per).foreach(j => a(pageUrl(h, j)))
    (0 until LinksPerPage / 2 + rng.nextInt(LinksPerPage)).foreach { _ =>
      val th = if (rng.nextInt(5) == 0) rng.nextInt(shape.hosts) else h
      a(pageUrl(th, rng.nextInt(per)))
    }
    sb.append("<div class=\"footer\">")
    templateWords.drop(3).foreach(w => sb.append(w).append(' '))
    sb.append("</div></body></html>")
    val html = sb.toString
    PageRow(url, new Timestamp(1546300800000L + idx * 1000L), html.getBytes(UTF_8),
      Html.parse(html).text, "en")
  }

  def pages(shape: Shape): Iterator[PageRow] = {
    val cdf = zipfCdf(shape)
    Iterator.range(0, shape.total).map(page(shape, cdf, _))
  }

  def generate(spark: SparkSession, shape: Shape, partitions: Int): DataFrame = {
    import spark.implicits._
    spark.range(0, shape.total, 1, partitions)
      .mapPartitions { it =>
        val cdf = zipfCdf(shape)
        it.map(i => page(shape, cdf, i.toInt))
      }
      .toDF()
  }

  /** Query classes of the search workload's stream. */
  val classes: Vector[String] = Vector("rare", "common", "multi", "phrase", "template", "unknown")

  /** `count` seeded queries, cycling through the classes. */
  def queries(shape: Shape, count: Int, seed: Long): Vector[(String, String)] = {
    val cdf = zipfCdf(shape)
    val rng = new Rng(seed ^ 0x7f4a7c15L)
    def rank(lo: Int, hi: Int): String = word(lo + rng.nextInt(math.max(1, math.min(hi, shape.vocab) - lo)))
    Vector.tabulate(count) { q =>
      val cls = classes(q % classes.size)
      val text = cls match {
        case "rare"     => rank(shape.vocab / 5, shape.vocab / 2)
        case "common"   => rank(0, 8)
        case "multi"    => Seq.fill(2 + rng.nextInt(2))(rank(8, 400)).mkString(" ")
        case "phrase"   =>
          // an adjacent pair from some content page, so the phrase matches
          var ps = Vector.empty[Vector[String]]
          while (ps.isEmpty) ps = paragraphs(shape, cdf, rng.nextInt(shape.total))
          val p = ps(rng.nextInt(ps.size))
          val at = rng.nextInt(p.size - 1)
          "\"" + p(at) + " " + p(at + 1) + "\""
        case "template" => templateWords(rng.nextInt(templateWords.size))
        case _          => unknownWord(rng.nextInt(1000))
      }
      cls -> text
    }
  }
}
