package graft.perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import graft.index.Indexer
import graft.oracle.ReferenceOracle
import graft.oracle.ReferenceOracle.CrawlParams
import graft.rank.{PageRankSpark, Searcher}

/** The search workload. Set-up generates a seeded SearchCorpus and crawls
  * it with the reference crawler. The timed part builds the index (Indexer.build, PageRankSpark.run,
  * Searcher.prepare), then a single client sends a seeded query stream in a
  * closed loop: rare, common, multi-term, quoted-phrase, template and
  * unknown terms, every third answered query followed by serpDetails.
  * One unit operation is one query: Searcher.search plus collecting it. */
object SearchBench extends Bench {
  val aqe = true
  def shufflePartitions: Int = Main.cpus

  val Pages = 1000
  val Hosts = 8
  val Vocab = 2000
  val PageRankIters = 10
  /** two cycles of the query classes; a longer loop sends them again */
  val MinQueries = 2 * SearchCorpus.classes.size
  val SetupReps = 3

  def shape(seed: Long): SearchCorpus.Shape = SearchCorpus.Shape(Pages, Hosts, Vocab, seed)

  private final case class Built(prepared: Searcher.Prepared, index: graft.index.IndexTables,
                                 all: Span, build: Span, pagerank: Span, prepare: Span)

  private final case class Serp(rows: Vector[(Int, Long, Double, Double, Double, Double)])

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val sh = shape(ctx.args.seed)
    val filter = SearchCorpus.filterPrefix
    val (pages, seen, local, oracleCrawl) = ctx.setup(SetupReps) { r =>
      val path = ctx.work(s"pages-$r").toString
      SearchCorpus.generate(spark, sh, 2 * Main.cpus).write.mode("overwrite").parquet(path)
      val pages = spark.read.parquet(path)
      // the crawl: the reference crawler's seen set; the engine's crawler
      // is measured and checked by the crawl workloads
      val local = SearchCorpus.pages(sh).toVector
      val crawl = ReferenceOracle.crawl(local, CrawlParams(Seq(SearchCorpus.seedUrl), filter))
      val seenPath = ctx.work(s"seen-$r").toString
      import spark.implicits._
      crawl.seen.toSeq.sorted.toDF("url").write.mode("overwrite").parquet(seenPath)
      val seen = spark.read.parquet(seenPath)
      seen.count()
      (pages, seen, local, crawl)
    }
    ctx.log("set-up done")

    // reference results, outside every timed window
    val oracleIndex = ReferenceOracle.buildIndex(local, oracleCrawl.seen, filter)
    val oracleRanks = ReferenceOracle.pageRank(oracleIndex, PageRankIters)

    def build(): Built = {
      val ((p, index, ib, pr, prep), all) = ctx.tracer.span("index_build") {
        val (index, ib) = ctx.tracer.span("index.build")(Indexer.build(spark, pages, seen, filter, Main.cpus))
        val (ranks, pr) = ctx.tracer.span("rank.pagerank")(
          PageRankSpark.run(index.links, index.urlDict.select("url_id"), PageRankIters))
        val (p, prep) = ctx.tracer.span("rank.prepare")(Searcher.prepare(index, ranks))
        (p, index, ib, pr, prep)
      }
      Built(p, index, all, ib, pr, prep)
    }

    ctx.log("oracle done")
    // the build is timed cold, as a freshly started service pays it
    val queries = SearchCorpus.queries(sh, MinQueries, ctx.args.seed)
    val traced = ctx.args.trace
    val before = Util.storageBytes(spark)
    val built = ctx.tracer.op(traced)(build())
    val p = built.prepared
    ctx.items = built.index.n
    ctx.batchS += built.all.seconds
    if (traced) {
      ctx.layer("rank.cache_mb", (Util.storageBytes(spark) - before) / 1e6)
      ctx.layer("index.build_s", built.build.seconds)
      val st = ctx.tracer.inclusive(built.build)
      Util.jobLayers(ctx, "index", st)
      ctx.layer("index.postings_rows", built.index.postings.count().toDouble)
      ctx.layer("rank.pagerank_s", built.pagerank.seconds)
      ctx.layer("rank.pagerank_jobs", ctx.tracer.inclusive(built.pagerank).jobs.get.toDouble)
      ctx.layer("rank.prepare_s", built.prepare.seconds)
      ctx.layer("rank.prepare_jobs", ctx.tracer.inclusive(built.prepare).jobs.get.toDouble)
    }

    // warm-up of the query path, untimed: one term and one phrase query
    queries.filter { case (c, _) => c == "rare" || c == "phrase" }.take(2).foreach { case (_, q) =>
      Searcher.search(spark, p, q).collect()
    }
    ctx.log("index built, queries warm")
    // the closed loop; every answer is kept for the oracle check
    val answers = mutable.ArrayBuffer.empty[(Int, Serp)]
    val classMs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    var answered = 0
    ctx.loop(MinQueries, period = SearchCorpus.classes.size) { (i, tr) =>
      val qi = i % queries.size
      val (cls, q) = queries(qi)
      ctx.attempted += 1
      try {
        val ((serpDf, rows), span) = ctx.tracer.span("rank.search") {
          val df = Searcher.search(spark, p, q)
          (df, df.collect())
        }
        val serp = Serp(rows.toVector.map(r => (r.getInt(0), r.getLong(1), r.getDouble(3),
          r.getDouble(4), r.getDouble(5), r.getDouble(6))))
        answers += qi -> serp
        if (tr) {
          classMs.getOrElseUpdate(cls, mutable.ArrayBuffer.empty) += span.seconds * 1000
          val st = ctx.tracer.inclusive(span)
          ctx.layer("rank.search_jobs_per_query", st.jobs.get.toDouble)
          ctx.layer("rank.search_tasks_per_query", st.tasks.get.toDouble)
        }
        answered += 1
        if (answered % 3 == 0 && rows.nonEmpty) {
          ctx.attempted += 1
          try {
            val (details, ds) = ctx.tracer.span("rank.details")(Searcher.serpDetails(p, serpDf).collect())
            if (details.map(_.getAs[Int]("rank")).toVector != serp.rows.map(_._1)) {
              ctx.wrong += 1; ctx.note(s"serpDetails of '$q' do not follow its SERP")
            } else if (tr) ctx.layer("rank.details_ms", ds.seconds * 1000)
          } catch { case NonFatal(e) => ctx.threw += 1; ctx.note(s"serpDetails '$q': ${first(e)}") }
        }
        Seq(span.seconds)
      } catch { case NonFatal(e) => ctx.threw += 1; ctx.note(s"query '$q' ($cls): ${first(e)}"); Nil }
    }
    p.close()
    ctx.log("timed loop done")

    val oracle = mutable.Map.empty[Int, Vector[(Int, ReferenceOracle.Scored)]]
    answers.foreach { case (qi, serp) =>
      val q = queries(qi)._2
      val want = oracle.getOrElseUpdate(qi, ReferenceOracle.search(q, oracleIndex, oracleRanks))
      val same = want.size == serp.rows.size && want.zip(serp.rows).forall {
        case ((rk, o), (erk, id, tot, cos, pr, ts)) =>
          rk == erk && o.urlId == id && close(o.total, tot) && close(o.cos, cos) &&
            close(o.pr, pr) && close(o.title, ts)
      }
      if (!same) { ctx.wrong += 1; ctx.note(s"query '$q' SERP differs from the oracle") }
    }
    if (traced) {
      Seq("rare", "common", "multi").flatMap(c => classMs.getOrElse(c, Nil))
        .foreach(ctx.layer("rank.search_term_ms", _))
      classMs.getOrElse("phrase", Nil).foreach(ctx.layer("rank.search_phrase_ms", _))
      Util.layerRates(ctx, local.filter(_.text.nonEmpty).take(200), filter, 0.3)
    }
  }

  private def close(a: Double, b: Double): Boolean = math.abs(a - b) <= 1e-9

  private def first(e: Throwable): String = String.valueOf(e.getMessage).linesIterator.take(1).mkString
}
