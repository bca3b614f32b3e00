package graft

import org.apache.spark.sql.execution.{CoalesceExec, InputAdapter, RDDScanExec, SparkPlan,
  WholeStageCodegenExec}
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.TestCorpus
import graft.crawler.{CrawlConfig, Crawler}
import graft.index.Indexer
import graft.oracle.ReferenceOracle
import graft.oracle.ReferenceOracle.CrawlParams
import graft.rank.{PageRankSpark, Searcher}

/** A3/T4/J7/S6/F11 fixtures: the word-count list ordering, top-5 terms,
  * SERP metadata joins, CSV fixture encoding, 6-dp string form; and the
  * serve's shape: one Spark job per query over the prepared leaves, and
  * close() releasing everything prepare() materialized. */
class SerpDetailsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val corpus = TestCorpus.generate(TestCorpus.tiny)
  private lazy val pagesDf = spark.createDataset(corpus).toDF().cache()
  private val seeds = Seq(TestCorpus.seedUrl)
  private val filter = TestCorpus.filterPrefix
  private lazy val oCrawl = ReferenceOracle.crawl(corpus, CrawlParams(seeds, filter))
  private lazy val oIdx = ReferenceOracle.buildIndex(corpus, oCrawl.seen, filter)
  private lazy val eCrawl = Crawler.run(spark, pagesDf, CrawlConfig(seeds, filter))
  private lazy val eIdx = Indexer.build(spark, pagesDf, eCrawl.seen, filter, 4)

  test("A3: word-count list = count desc, first-occurrence-stable ties") {
    val engine = eIdx.docTerms
      .select(col("url_id"), col("pairs"))
      .as[(Long, Seq[(Long, Int)])].collect().toMap
    val oracle = oIdx.wordCountList.filter(_._2.nonEmpty)
    assert(engine.keySet == oracle.keySet)
    oracle.foreach { case (d, wc) =>
      assert(engine(d) == wc, s"word-count list mismatch for doc $d") }
  }

  test("T4/J7/F12: serpDetails metadata block matches the oracle index") {
    val ranks = PageRankSpark.run(eIdx.links, eIdx.urlDict.select("url_id"), 40)
    val prepared = Searcher.prepare(eIdx, ranks)
    val serp = Searcher.search(spark, prepared, "research systems")
    val details = Searcher.serpDetails(prepared, serp)
    assert(details.count() == serp.count())

    val row = details.orderBy("rank").head()
    val id = row.getAs[Long]("url_id")
    // top-5 terms = first 5 of the oracle's count-desc list
    val gotTerms = row.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("top_terms")
      .map(r => (r.getString(0), r.getInt(1))).toSeq
    val wordById = oIdx.wordIds.map(_.swap)
    val expTerms = oIdx.wordCountList(id).take(5)
      .map { case (w, c) => (wordById(w), c) }
    assert(gotTerms == expTerms)
    // child/parent lists match the oracle adjacency (as url sets)
    val urlById = oIdx.urlsById
    val expChildren = oIdx.links(id).map(i => urlById(i.toInt)).sorted
    assert(row.getAs[scala.collection.Seq[String]]("child_urls").toSeq == expChildren)
    val expParents = oIdx.links.toSeq.collect {
      case (s, ds) if ds.contains(id) => urlById(s.toInt) }.sorted
    assert(row.getAs[scala.collection.Seq[String]]("parent_urls").toSeq == expParents)
    // HKT render shape
    assert(row.getAs[String]("last_modified_hkt")
      .matches("\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2}"))
  }

  test("cache hygiene: repeated search() calls do not grow the persisted-plan set") {
    val ranks = PageRankSpark.run(eIdx.links, eIdx.urlDict.select("url_id"), 5)
    val prepared = Searcher.prepare(eIdx, ranks)
    Searcher.search(spark, prepared, "research systems") // warm
    val before = spark.sparkContext.getPersistentRDDs.keySet
    (1 to 3).foreach { _ =>
      Searcher.search(spark, prepared, "research systems").count()
      Searcher.search(spark, prepared, "the of and").count() // 0-result path
    }
    // growth check by RDD id (not total count): the ContextCleaner may
    // concurrently reclaim DEAD persisted RDDs (e.g. an old crawl
    // localCheckpoint whose reference was dropped) — shrinkage is fine,
    // what search() must never do is ADD a persisted plan per query
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.isEmpty,
      s"per-query caches must be released after the SERP materializes: $added")
    prepared.close()
  }

  test("concurrent serves on the dedicated session: four racing search() " +
       "calls of one shape while the parent runs an AQE query — results " +
       "exact, parent conf untouched") {
    // each SERP equals the oracle's, so each job read its own thread's values
    def serpOf(p: Searcher.Prepared, q: String): Seq[(Int, Long, Double)] =
      Searcher.search(spark, p, q)
        .select("rank", "url_id", "total")
        .as[(Int, Long, Double)].collect().toSeq
    // distinct values of one shape (a phrase and a single term): the racing
    // threads run its one prepared RDD, built by the first of them, each
    // job carrying its own thread's values
    val queries = Seq("\"hong kong\" research", "\"hong kong\" systems",
      "\"crawler indexing\" networks", "\"databases research\" computing")
    val oRanks = ReferenceOracle.pageRank(oIdx, 40)
    val expected = queries.map(q => q -> ReferenceOracle.search(q, oIdx, oRanks)
      .map { case (rank, o) => (rank, o.urlId, o.total) }).toMap
    assert(expected.values.toSet.size == queries.size, "the queries must differ in their SERPs")
    assert(expected.values.forall(_.nonEmpty), "every query must match documents")
    def same(got: Seq[(Int, Long, Double)], want: Seq[(Int, Long, Double)]) =
      got.size == want.size && got.zip(want).forall { case ((r, id, t), (or, oid, ot)) =>
        r == or && id == oid && math.abs(t - ot) <= 1e-9 }

    val parentAqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    val parentSpBefore = spark.conf.get("spark.sql.shuffle.partitions")
    val prepared = Searcher.prepare(eIdx,
      PageRankSpark.run(eIdx.links, eIdx.urlDict.select("url_id"), 40))
    val results = new java.util.concurrent.ConcurrentHashMap[String, Seq[(Int, Long, Double)]]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val barrier = new java.util.concurrent.CyclicBarrier(queries.size + 1)
    def thread(body: => Unit) = new Thread(() => {
      try { barrier.await(); body } catch { case e: Throwable => errors.add(e) }
    })
    val threads = queries.map(q => thread(results.put(q, serpOf(prepared, q)))) :+
      thread { // a PARENT-session AQE query racing the serves
        (1 to 3).foreach { _ =>
          pagesDf.groupBy(length(col("url")) % 7).count().collect()
        }
      }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errors.isEmpty, s"concurrent serve threw: ${errors.peek()}")
    queries.foreach(q => assert(same(results.get(q), expected(q)),
      s"racing serve of $q: ${results.get(q)} against the oracle's ${expected(q)}"))
    // the parent session's conf was never touched by PageRank or the serves
    assert(spark.conf.get("spark.sql.adaptive.enabled") == parentAqeBefore)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == parentSpBefore)
    // the tables reach the serve session with no catalog entry behind them
    assert(spark.catalog.listTables("global_temp").collect().isEmpty)
    prepared.close()
  }

  private def freshRanks =
    PageRankSpark.run(eIdx.links, eIdx.urlDict.select("url_id"), 5)

  private def jobsOf(f: => Unit): Int = SparkJobs.count(spark.sparkContext)(f)

  test("serve shape: one job per term, multi-term and phrase query, " +
       "at most one for an unknown-only query") {
    val p = Searcher.prepare(eIdx, freshRanks)
    try {
      Searcher.search(spark, p, "research").collect() // warm-up
      Seq("research", "research systems networks", "\"hong kong\"",
          "\"hong kong\" research").foreach { q =>
        var rows = 0
        val jobs = jobsOf { rows = Searcher.search(spark, p, q).collect().length }
        assert(rows > 0, s"'$q' must match documents for the job count to mean anything")
        assert(jobs == 1, s"'$q' ran $jobs jobs")
      }
      val unknown = jobsOf { Searcher.search(spark, p, "qqqunknown").collect() }
      assert(unknown <= 1, s"unknown-only query ran $unknown jobs")
    } finally p.close()
  }

  test("serve plans: once a shape has served a query, a distinct query of " +
       "that shape compiles no class and runs one job without a broadcast") {
    val p = Searcher.prepare(eIdx, freshRanks)
    try {
      // one term shape and one phrase shape
      Seq("research", "\"hong kong\"").foreach(q => Searcher.search(spark, p, q).collect())
      // a new id, multiplicity, query length and stems; more single terms;
      // a new phrase
      Seq("systems systems", "research systems networks", "\"crawler indexing\"").foreach { q =>
        val run = Searcher.shapeRun(p, q).get
        var rows = 0
        var jobsStages = (0, 0)
        val compiled = SparkJobs.compiles {
          jobsStages = SparkJobs.jobsAndStages(spark.sparkContext) {
            rows = Searcher.search(spark, p, q).collect().length
          }
        }
        val (jobs, stages) = jobsStages
        assert(rows > 0, s"'$q' must match documents")
        assert(compiled == 0, s"'$q' compiled $compiled classes")
        assert(jobs == 1 && stages == 1, s"'$q' ran $jobs jobs of $stages stages")
        // the query ran its shape's RDD: no plan or RDD was built for it
        assert(Searcher.shapeRun(p, q).get.rows eq run.rows, s"'$q' built a new RDD")
        assert(run.plan.collect { case b: BroadcastExchangeExec => b }.isEmpty, run.plan.treeString)
      }
    } finally p.close()
  }

  test("serve shape: a term query's plan reads only the prepared leaves " +
       "and has no broadcast exchange") {
    val p = Searcher.prepare(eIdx, freshRanks)
    try {
      val plan: SparkPlan = Searcher.shapeRun(p, "research systems").get.plan
      assert(plan.collect { case b: BroadcastExchangeExec => b }.isEmpty, plan.treeString)
      val staticsRdd = Searcher.checkpointRdd(p.statics).get.id
      val leafRdds = Set(staticsRdd, Searcher.checkpointRdd(p.postingsTfidf).get.id)
      val leaves = plan.collectLeaves()
      // every leaf is a scan of a prepared checkpoint: statics is never
      // re-derived, and no join or aggregate sits below its scan
      leaves.foreach {
        case s: RDDScanExec => assert(leafRdds.contains(s.rdd.id), plan.treeString)
        case other => fail(s"unexpected leaf ${other.nodeName}:\n${plan.treeString}")
      }
      def isStatics(n: SparkPlan) = n match {
        case s: RDDScanExec => s.rdd.id == staticsRdd
        case _ => false
      }
      assert(leaves.exists(isStatics), "the statics leaf must be scanned")
      // both leaves are partitioned for the scoring aggregate and join:
      // nothing re-shuffles them
      assert(Searcher.rerunBlockers(plan).isEmpty, plan.treeString)
    } finally p.close()
  }

  /** The operators of `plan` that run outside whole-stage code generation:
    * every node not inside a codegen stage, each stage's inputs included. */
  private def outsideCodegen(plan: SparkPlan): Seq[SparkPlan] = {
    def inputs(n: SparkPlan): Seq[SparkPlan] = n match {
      case in: InputAdapter => Seq(in.child)
      case other => other.children.flatMap(inputs)
    }
    plan match {
      case stage: WholeStageCodegenExec => inputs(stage.child).flatMap(outsideCodegen)
      case other => other +: other.children.flatMap(outsideCodegen)
    }
  }

  test("serve plans: each shape kind is one stage at 1 and 4 serve partitions") {
    // single terms, one phrase, terms plus a phrase, two phrases
    val kinds = Seq("research systems", "\"hong kong\"", "\"hong kong\" research",
      "\"hong kong\" \"crawler indexing\"")
    def check(prepared: Searcher.Prepared): Unit = kinds.foreach { q =>
      val run = Searcher.shapeRun(prepared, q).get
      val plan = run.plan
      assert(Searcher.rerunBlockers(plan).isEmpty, plan.treeString)
      assert(!plan.exists(_.isInstanceOf[WindowExec]), s"'$q' has a window:\n${plan.treeString}")
      assert(!plan.exists(_.isInstanceOf[CartesianProductExec]), plan.treeString)
      // every operator is generated code, a scan, the coalesce at the root
      // or (for a phrase) the positions' collect_list aggregate
      val phrase = q.contains('"')
      outsideCodegen(plan).foreach {
        case _: RDDScanExec | _: CoalesceExec =>
        case _: ObjectHashAggregateExec if phrase =>
        case n => fail(s"'$q': ${n.nodeName} runs outside generated code:\n${plan.treeString}")
      }
      // every serve partition is read by the one task of the query's job
      assert(run.rows.getNumPartitions == 1, plan.treeString)
    }
    val p = Searcher.prepare(eIdx, freshRanks)
    try {
      check(p)
      val p4 = SparkTestSession.servedAt(p, 4)
      try {
        assert(Searcher.checkpointRdd(p4.postingsTfidf).get.getNumPartitions == 4)
        check(p4)
      } finally p4.close()
    } finally p.close()
  }

  test("serve leaf: a term, multi-term or phrase query reads only its words' " +
       "postings, at 1 and 4 serve partitions") {
    val ids = eIdx.wordDict.select("word", "word_id").as[(String, Long)].collect().toMap
    val all = eIdx.postings.count()
    def check(p: Searcher.Prepared): Unit =
      Seq("research", "research systems networks", "\"hong kong\"").foreach { q =>
        val words = graft.text.TextPipeline.tokenizeQuery(q).flatten.flatMap(ids.get).distinct
        val want = eIdx.postings.filter(col("word_id").isin(words: _*)).count()
        assert(want > 0 && want < all, s"'$q' must match some postings, not all: $want of $all")
        val leafRdd = Searcher.checkpointRdd(p.postingsTfidf).get
        val plan = Searcher.shapeRun(p, q).get.plan
        val read = plan.collectFirst { case s: RDDScanExec if s.rdd eq leafRdd => s }
          .getOrElse(fail(s"no postings scan:\n${plan.treeString}")).metrics("numOutputRows")
        (1 to 2).foreach { _ =>
          val before = read.value
          Searcher.search(spark, p, q).collect()
          assert(read.value - before == want, s"'$q' read ${read.value - before} postings rows")
        }
      }
    val p = Searcher.prepare(eIdx, freshRanks)
    try {
      check(p)
      val p4 = SparkTestSession.servedAt(p, 4)
      try check(p4) finally p4.close()
    } finally p.close()
  }

  test("serve guard: an exchange, a subquery or an adaptive plan is rejected") {
    val plain = spark.newSession()
    plain.conf.set("spark.sql.adaptive.enabled", "false")
    plain.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val exchange = plain.range(100).groupBy((col("id") % 3).as("k")).count()
      .queryExecution.executedPlan
    assert(Searcher.rerunBlockers(exchange) == Seq("Exchange"), exchange.treeString)
    val subquery = plain.sql("SELECT id FROM range(10) WHERE id > (SELECT max(id) FROM range(3))")
      .queryExecution.executedPlan
    assert(Searcher.rerunBlockers(subquery).contains("Filter with a subquery"), subquery.treeString)
    val adaptive = spark.range(100).groupBy((col("id") % 3).as("k")).count()
      .queryExecution.executedPlan
    assert(Searcher.rerunBlockers(adaptive) == Seq("AdaptiveSparkPlan"), adaptive.treeString)
  }

  test("close() releases every block prepare() materialized, checkpoints included") {
    val sc = spark.sparkContext
    // materialize the index's own lazy persists first: they belong to the
    // index, and prepare() would otherwise be the first to fill them
    Seq(eIdx.urlDict, eIdx.links, eIdx.wordDict, eIdx.postings, eIdx.docTerms, eIdx.urlInfo)
      .foreach(_.count())
    val ranks = freshRanks
    ranks.count()
    def stored: Set[Int] = sc.getRDDStorageInfo.map(_.id).toSet
    val before = stored
    val p = Searcher.prepare(eIdx, ranks)
    Searcher.search(spark, p, "research").collect()
    Searcher.search(spark, p, "\"hong kong\" research").collect()
    val added = stored -- before
    assert(added.size >= 3, s"prepare() must hold ranks, statics and postings: $added")
    p.close()
    // shrinkage is fine (the ContextCleaner may reclaim dead RDDs of other
    // suites concurrently); nothing prepare() added may survive close()
    val after = stored
    assert((after -- before).isEmpty, s"close() left blocks behind: ${after -- before}")
  }

  test("S6: quoted-CSV fixture encoding matches the reference's opencsv form") {
    val df = Seq((Seq(3L, 17L, 42L), Seq("a", "b"))).toDF("ids", "ws")
    val got = df.select(Indexer.csvQuoted(col("ids")).as("c1"),
      Indexer.csvQuoted(col("ws")).as("c2")).head()
    assert(got.getString(0) == "\"3\",\"17\",\"42\"") // CSVParser.kt example form
    assert(got.getString(1) == "\"a\",\"b\"")
  }

  test("F11: %.6f string form of tfidf matches the oracle's storage string") {
    val engine = eIdx.postings
      .select(col("url_id"), col("word_id"), format_string("%.6f", col("tfidf")).as("s"))
      .as[(Long, Long, String)].collect()
      .map { case (d, w, s) => (d, w) -> s }.toMap
    oIdx.tfidfRaw.foreach { case (k, raw) =>
      assert(engine(k) == "%.6f".format(raw), s"string form mismatch at $k") }
  }
}
