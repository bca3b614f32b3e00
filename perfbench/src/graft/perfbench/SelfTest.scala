package graft.perfbench

import org.apache.spark.sql.SparkSession

import graft.html.Html
import graft.text.TextPipeline

/** Checks of the benchmark's own code that need the JVM: the corpus
  * generators and the span arithmetic. Prints one line per check and exits
  * non-zero if any fails. Run by perfbench/tests/test_perfbench.py. */
object SelfTest {
  private var failures = 0

  private def check(name: String)(ok: => Boolean): Unit = {
    val pass = try ok catch { case e: Throwable => System.err.println(e); false }
    println(s"${if (pass) "ok  " else "FAIL"} $name")
    if (!pass) failures += 1
  }

  def main(args: Array[String]): Unit = {
    val shape = SearchCorpus.Shape(pages = 240, hosts = 4, vocab = 400, seed = 7)
    val a = SearchCorpus.pages(shape).toVector
    val b = SearchCorpus.pages(shape).toVector
    val other = SearchCorpus.pages(shape.copy(seed = 8)).toVector

    check("search corpus: same seed gives the same bytes") {
      a.size == shape.total && a.zip(b).forall { case (x, y) =>
        x.url == y.url && java.util.Arrays.equals(x.html, y.html) && x.text == y.text }
    }
    check("search corpus: another seed gives other pages") {
      a.zip(other).exists { case (x, y) => !java.util.Arrays.equals(x.html, y.html) }
    }
    check("search corpus: text column equals Html.parse(html).text") {
      a.forall(p => p.text == Html.parseBytes(p.html).text)
    }
    check("search corpus: vocabulary words are their own tokens") {
      (0 until shape.vocab).map(SearchCorpus.word).forall(w => TextPipeline.tokenize(w) == Vector(w))
    }
    check("search corpus: vocabulary words are distinct") {
      (0 until 74088).map(SearchCorpus.word).distinct.size == 74088
    }
    check("search corpus: soft-404 pages hold template terms only") {
      val template = SearchCorpus.templateWords.flatMap(TextPipeline.tokenize).toSet + "link"
      val soft = a.indices.filter(SearchCorpus.isSoft404(shape, _))
      soft.nonEmpty && soft.forall(i => TextPipeline.tokenize(a(i).text).toSet.subsetOf(template)) &&
        a.forall(p => template.subsetOf(TextPipeline.tokenize(p.text).toSet))
    }
    check("search corpus: query stream is seeded and covers every class") {
      val q = SearchCorpus.queries(shape, 60, 3)
      q == SearchCorpus.queries(shape, 60, 3) && q != SearchCorpus.queries(shape, 60, 4) &&
        q.map(_._1).toSet == SearchCorpus.classes.toSet
    }

    val docs = DocsCorpus.Shape(docs = 300, seed = 5)
    check("documents: same seed gives the same rows") {
      DocsCorpus.docs(docs) == DocsCorpus.docs(docs)
    }
    check("documents: doc ids are 0..n-1 and n_chars is the text length") {
      val d = DocsCorpus.docs(docs)
      d.map(_.doc_id) == (0L until docs.docs) && d.forall(x => x.n_chars == x.text.length)
    }
    check("documents: exact and near duplicates are present") {
      val d = DocsCorpus.docs(docs)
      d.map(_.text).distinct.size < d.size
    }

    check("spans: covered time merges overlapping intervals") {
      Trace.covered(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25L &&
        Trace.covered(Seq((3L, 4L))) == 1L && Trace.covered(Nil) == 0L &&
        Trace.covered(Seq((0L, 10L), (2L, 3L))) == 10L
    }

    val tmp = System.getProperty("java.io.tmpdir")
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-selftest")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      check("search corpus: Spark generation equals the driver-side pages") {
        import spark.implicits._
        val viaSpark = SearchCorpus.generate(spark, shape, 3).as[graft.corpus.PageRow].collect()
          .sortBy(_.url).toVector
        val local = a.sortBy(_.url)
        viaSpark.size == local.size && viaSpark.zip(local).forall { case (x, y) =>
          x.url == y.url && java.util.Arrays.equals(x.html, y.html) && x.text == y.text }
      }
      check("tracer: a traced span sees its jobs, an untraced one none") {
        val t = new Tracer(spark.sparkContext)
        val (_, on) = t.op(traced = true)(t.span("on")(spark.range(100).count()))
        val (_, off) = t.op(traced = false)(t.span("off")(spark.range(100).count()))
        val ok = t.self(on).jobs.get >= 1 && t.self(on).tasks.get >= 1 && t.self(off).jobs.get == 0
        t.close()
        ok
      }
    } finally spark.stop()

    if (failures > 0) { println(s"$failures check(s) failed"); sys.exit(1) }
  }
}
