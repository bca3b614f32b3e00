package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8

import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame

import graft.corpus.{BenchCorpus, PageRow}
import graft.crawler.{CrawlConfig, CrawlResult, Crawler}
import graft.oracle.ReferenceOracle
import graft.oracle.ReferenceOracle.CrawlParams
import graft.snapshot.SnapshotLog

/** The crawl workload (`crawl_governed`): a seeded BenchCorpus (Zipf-sized
  * hosts, one giant bulk round) plus robots.txt rows for a few hosts,
  * crawled in the production configuration: snapshot store, bloom
  * pre-filter active, robots rules, and a per-host budget that splits the
  * hot host's bulk round into waves. Each crawl stops at a round boundary
  * and finishes with Crawler.resume. One operation is one whole crawl,
  * from the seed to an empty frontier, timed on its first run in the
  * process. */
object CrawlBench extends Bench {
  // AQE off: its per-stage re-planning is fixed driver latency on every
  // round's small shuffles (the engine's own bench crawls run without it);
  // two shuffle partitions per core smooth the dedup stage's straggler tail
  val aqe = false
  def shufflePartitions: Int = 2 * Main.cpus

  val Hosts = 16
  val Pages = 3000
  val SetupReps = 3
  /** per-host pages per round: host 0 holds ~30% of the corpus, so its
    * bulk round splits into waves while the small hosts finish in one */
  val HostBudget = 600
  /** bloom pre-filter active once the seen set passes this size */
  val BloomMinSeen = 500L
  /** the crawl stops after this many rounds and resumes */
  val StopAfterRounds = 2

  /** robots.txt rows for a few hosts, so the robots path filters fetches */
  val robotsRows: Vector[PageRow] = (1 to 4).toVector.map { h =>
    PageRow(s"https://bh$h.test/robots.txt", new java.sql.Timestamp(1546300800000L),
      s"User-agent: *\nDisallow: /p1\n".getBytes(UTF_8), "", "en")
  }

  def localPages(shape: BenchCorpus.Shape): Vector[PageRow] = {
    val (counts, offsets) = BenchCorpus.hostLayout(shape)
    Vector.tabulate(offsets.last)(i => BenchCorpus.buildPage(i.toLong, counts, offsets, shape))
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val shape = BenchCorpus.Shape(hosts = Hosts, totalPages = Pages, seed = ctx.args.seed)
    val pages = ctx.setup(SetupReps) { r =>
      val path = ctx.work(s"pages-$r").toString
      BenchCorpus.generate(spark, shape).repartition(2 * Main.cpus)
        .unionByName(spark.createDataFrame(robotsRows).toDF())
        .write.mode("overwrite").parquet(path)
      val df = spark.read.parquet(path)
      df.count()
      df
    }
    ctx.log("set-up done")
    val local = localPages(shape) ++ robotsRows
    val params = CrawlParams(Seq(BenchCorpus.seedUrl), BenchCorpus.filterPrefix,
      hostBudget = HostBudget, respectRobots = true)
    val expected = Util.urlDigest(spark, ReferenceOracle.crawl(local, params).seen)
    ctx.items = expected._1
    ctx.log("oracle done")

    val cfg = CrawlConfig(params.seeds, params.filter, hostBudget = HostBudget,
      respectRobots = true, bloomExpectedItems = 2L * Pages, bloomMinSeen = BloomMinSeen,
      collectMetrics = false)
    // a traced run compares traced with untraced crawls, so it first makes
    // one untimed crawl: both compared crawls are then warm
    if (ctx.args.trace) Util.deleteRecursively(new File(crawlOnce(ctx, pages, cfg, "warm-up").dir))
    ctx.loop(minIters = 1) { (i, traced) =>
      ctx.attempted += 1
      try {
        val c = crawlOnce(ctx, pages, cfg, s"$i")
        val got = Util.urlDigest(c.result.seen)
        val ok = got == expected
        if (!ok) { ctx.wrong += 1; ctx.note(s"crawl $i seen (count, hash) $got != oracle $expected") }
        if (traced) record(ctx, c) else if (ok) ctx.batchS += c.span.seconds
        Util.deleteRecursively(new File(c.dir))
        if (ok) Seq(c.span.seconds) else Nil
      } catch { case NonFatal(e) => ctx.threw += 1; ctx.note(s"crawl $i: $e"); Nil }
    }
    ctx.log("timed loop done")
    if (ctx.args.trace)
      Util.layerRates(ctx, local.filter(_.text.nonEmpty).take(200), BenchCorpus.filterPrefix, 0.3)
  }

  private final case class Crawl(result: CrawlResult, dir: String, span: Span, resumeS: Double)

  /** One crawl, stopped and resumed. The timed span covers both crawl
    * calls and the count of the returned seen set. */
  private def crawlOnce(ctx: Ctx, pages: DataFrame, cfg: CrawlConfig, name: String): Crawl = {
    val spark = ctx.spark
    val dir = ctx.work(s"snap-$name").toFile
    Util.deleteRecursively(dir)
    val c = cfg.copy(workDir = Some(dir.getAbsolutePath))
    var resumeS = 0.0
    val (res, span) = ctx.tracer.span("crawl") {
      val first = ctx.tracer.span("crawler.run")(Crawler.run(spark, pages, c.copy(maxRounds = StopAfterRounds)))._1
      val (rest, resumed) = ctx.tracer.span("crawler.resume")(Crawler.resume(spark, pages, c))
      resumeS = resumed.seconds
      ctx.tracer.span("crawler.seen_count")(rest.seen.count())
      rest.copy(rounds = first.rounds ++ rest.rounds)
    }
    ctx.log(f"crawl $name: ${span.seconds}%.2fs, round walls ms ${res.rounds.map(_.wallMillis).mkString(",")}, resume $resumeS%.2fs")
    Crawl(res, dir.getAbsolutePath, span, resumeS)
  }

  /** Per-layer samples of one traced crawl. */
  private def record(ctx: Ctx, c: Crawl): Unit = {
    val st = ctx.tracer.inclusive(c.span)
    val rounds = c.result.rounds
    ctx.layer("crawler.wall_s", c.span.seconds)
    ctx.layer("crawler.rounds", rounds.size.toDouble)
    ctx.layer("crawler.round_max_s", rounds.map(_.wallMillis).maxOption.getOrElse(0L) / 1000.0)
    ctx.layer("crawler.input_bytes", st.inputBytes.get.toDouble)
    Util.jobLayers(ctx, "crawler", st)
    val (files, bytes) = Util.dirStats(new File(c.dir))
    ctx.layer("snapshot.files", files.toDouble)
    ctx.layer("snapshot.disk_mb", bytes / 1e6)
    ctx.layer("snapshot.manifests", new SnapshotLog(c.dir).listIds.size.toDouble)
    ctx.layer("snapshot.resume_s", c.resumeS)
  }
}
