package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.corpus.{BenchCorpus, TestCorpus}
import graft.crawler.{CrawlConfig, Crawler}
import graft.index.Indexer
import graft.ops.{TrainingOps => T}
import graft.rank.{PageRankSpark, Searcher}

/** Untimed physical-plan audit, `sbt "runMain graft.Plans"`: prints
  * `.explain(formatted)` for the load-bearing lazy operators, and the
  * executed plans of one governed crawl round, of the eager dedup ops and
  * of one query bound into its shape's cached serve plan, so plan quality
  * (pushdown, pruning, broadcast, DPP, codegen spans) is inspectable — see
  * PLANS.md for the curated findings. Timing belongs to perfbench. */
object Plans {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"

    def section(name: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
      println(s"\n===== $name =====")
      df.explain("formatted")
    }
    // an eager op returns an already-materialized table, so its plans are
    // the ones its own actions executed: a listener on the session that
    // runs them captures each of them
    def executed(session: SparkSession, name: String)(run: => Any): Unit = {
      val plans = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]()
      val listener = new QueryExecutionListener {
        def onSuccess(action: String, qe: QueryExecution, durationNs: Long): Unit =
          plans.add(action -> qe)
        def onFailure(action: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      session.listenerManager.register(listener)
      try run
      finally {
        org.apache.spark.sql.graft.Bridge.drainListeners(session.sparkContext)
        session.listenerManager.unregister(listener)
      }
      println(s"\n===== $name: ${plans.size} executed plans =====")
      for ((action, qe) <- plans.asScala) {
        println(s"--- $action ---")
        println(qe.explainString(ExplainMode.fromString("formatted")))
      }
    }

    section("scan_filter: pushdown + column pruning") {
      SparkEntry.queries("q_scan_filter")(spark, sf)
    }
    section("multijoin_dims: broadcast joins") {
      SparkEntry.queries("q_multijoin_dims")(spark, sf)
    }
    section("antijoin: seen-set shape") {
      SparkEntry.queries("q_antijoin")(spark, sf)
    }

    // crawler fetch join over a bucket-partitioned pages table (DPP)
    val pagesPath = "/tmp/graft-plans-pages"
    if (!new java.io.File(pagesPath).exists()) {
      BenchCorpus.generate(spark, BenchCorpus.Shape(hosts = 4, totalPages = 2000))
        .withColumn("bucket", pmod(xxhash64(col("url")), lit(8)).cast("int"))
        .repartition(col("bucket"))
        .write.mode("overwrite").partitionBy("bucket").parquet(pagesPath)
    }
    val pages = spark.read.parquet(pagesPath)
    val frontier = Seq(BenchCorpus.seedUrl).toDF("url")
      .withColumn("bucket", pmod(xxhash64(col("url")), lit(8)).cast("int"))
      .withColumn("depth", lit(0))
    section("crawler fetch join: manual bucket pruning + broadcast") {
      // the crawler collects the frontier's distinct buckets and pushes a
      // static IN filter (Spark's DPP heuristic skips unfiltered sides)
      val buckets = frontier.select("bucket").distinct().collect().map(_.getInt(0)).toSeq
      pages.filter(col("bucket").isInCollection(buckets))
        .join(broadcast(frontier), Seq("bucket", "url"), "inner")
        .select(col("url"), col("depth"),
          gfn.extract_links(col("html"), col("url"), lit(".test/"), lit(true)).as("links"))
    }

    // searcher hot path: codegen over custom expressions
    val corpus = TestCorpus.generate(TestCorpus.tiny)
    val pagesDf = spark.createDataset(corpus).toDF()
    val crawl = Crawler.run(spark, pagesDf,
      CrawlConfig(Seq(TestCorpus.seedUrl), TestCorpus.filterPrefix))
    val idx = Indexer.build(spark, pagesDf, crawl.seen, TestCorpus.filterPrefix, 4)
    // a governed snapshot round (per-host budget waves, robots rules, the
    // bloom pre-filter) resumed after round 0: the resume's robots collect
    // and bloom rebuild, then the round's checkpoints and writes, showing
    // the stage each round count's CollectMetrics node sits in
    val governed = CrawlConfig(Seq(TestCorpus.seedUrl), TestCorpus.filterPrefix,
      hostBudget = 2, respectRobots = true, bloomMinSeen = 0L,
      workDir = Some(java.nio.file.Files.createTempDirectory("graft-plans-crawl").toString))
    Crawler.run(spark, pagesDf, governed.copy(maxRounds = 1))
    executed(spark, "crawler: one resumed governed snapshot round") {
      Crawler.resume(spark, pagesDf, governed.copy(maxRounds = 2))
    }
    section("tokenize/extract pipeline: WholeStageCodegen over custom exprs") {
      // parquet-backed so whole-stage codegen engages (LocalTableScan won't)
      val pq = "/tmp/graft-plans-fixture-pages"
      pagesDf.write.mode("overwrite").parquet(pq)
      spark.read.parquet(pq)
        .select(gfn.tokenize_words(gfn.extract_text(col("html"))).as("toks"))
        .select(explode(col("toks")).as("w"))
        .groupBy("w").count()
    }
    section("sessionize: single user_id exchange shared by lag + running-sum windows and the aggregate") {
      T.sessionize(spark.read.parquet(s"$sf/events.parquet"), 21600L)
    }
    section("docTerms DAG: one url_id aggregate over the postings, which carry tf-idf") {
      idx.docTerms
    }
    section("trigram shingles: row-local array transform (ZERO exchanges expected)") {
      T.trigramShingles(spark.read.parquet(s"$sf/documents.parquet"))
    }
    for (q <- Seq("q_jaccard_pairs", "q_minhash_lsh", "q_simhash_pairs",
                  "q_simhash_pairs_2stage", "q_winnow_pairs"))
      executed(spark, s"$q (eager)")(SparkEntry.queries(q)(spark, sf))
    val prepared = Searcher.prepare(idx,
      PageRankSpark.run(idx.links, idx.urlDict.select("url_id"), 5))
    // a serve query runs no QueryExecution, so no listener sees it: the
    // audited plan is the one each shape kind executed at its first query,
    // whose RDD every later query of the shape runs again with its own
    // values in the paramN slots
    try {
      for ((kind, q) <- Seq("single terms" -> "research systems",
                            "one phrase" -> "\"hong kong\"",
                            "terms plus a phrase" -> "\"hong kong\" research",
                            "two phrases" -> "\"hong kong\" \"crawler indexing\"")) {
        Searcher.search(spark, prepared, q)
        println(s"\n===== serve: $kind: the one-stage plan its shape prepared, " +
          "run as one job per query =====")
        println(Searcher.shapeRun(prepared, q).get.plan.treeString)
      }
    } finally prepared.close()

    // PageRank §8: the weighted edge table is repartition(src)+persisted —
    // one iteration's contribution join must show NO Exchange above the
    // InMemoryTableScan on the edge side (only the ranks side shuffles).
    // Demonstrated at a synthetic 2M-edge scale with auto-broadcast off
    // (at real scale the ranks table is far beyond any broadcast threshold).
    {
      val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      section("pagerank iteration: cached src-partitioning reused on the edge side") {
        import org.apache.spark.storage.StorageLevel
        val edges = spark.range(2000000).select(
          (col("id") % 100000).as("src"), ((col("id") * 31) % 100000).as("dst"))
        val weighted = edges
          .join(edges.groupBy("src").agg(count(lit(1)).as("out_deg")), Seq("src"))
          .select(col("src"), col("dst"), (lit(1.0) / col("out_deg")).as("w"))
          .repartition(col("src"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        weighted.count()
        val ranks = spark.range(100000)
          .select(col("id").as("src"), lit(1.0).as("rank"))
        weighted.join(ranks, Seq("src"))
          .groupBy(col("dst").as("url_id"))
          .agg(sum(col("w") * col("rank")).as("incoming"))
      }
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
    }
    spark.stop()
  }
}
