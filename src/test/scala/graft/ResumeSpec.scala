package graft

import java.nio.file.Files
import org.apache.spark.sql.functions.col
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

import graft.corpus.TestCorpus
import graft.crawler.{CrawlConfig, CrawlResult, Crawler}
import graft.snapshot.SnapshotLog

/** North_rule checkpoint semantics: a crawl killed mid-run resumes from the
  * latest Iceberg-style snapshot with IDENTICAL ordering — the resumed
  * run's rounds and final state must be indistinguishable from an
  * uninterrupted run. */
class ResumeSpec extends AnyFunSuite with TimeLimits {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val corpus = TestCorpus.generate(TestCorpus.tiny)
  private lazy val pagesDf = spark.createDataset(corpus).toDF().cache()
  private val seeds = Seq(TestCorpus.seedUrl)
  private val filter = TestCorpus.filterPrefix

  test("kill at round k + resume ≡ uninterrupted run (seen, frontier, rounds)") {
    val full = Crawler.run(spark, pagesDf,
      CrawlConfig(seeds, filter, hostBudget = 3))

    val dir = Files.createTempDirectory("graft-resume").toString
    val cfgK = CrawlConfig(seeds, filter, hostBudget = 3,
      maxRounds = 2, workDir = Some(dir))
    val killed = Crawler.run(spark, pagesDf, cfgK)
    assert(killed.rounds.size == 2)

    val resumed = Crawler.resume(spark, pagesDf,
      cfgK.copy(maxRounds = Int.MaxValue))
    assert(resumed.resumedFromRound == 2)

    // identical final state
    assert(resumed.seen.select("url").as[String].collect().toSet ==
      full.seen.select("url").as[String].collect().toSet)
    assert(resumed.frontier.count() == full.frontier.count())
    // identical per-round trajectory after the kill point
    val fullTail = full.rounds.drop(2).map(r => (r.round, r.selected, r.newSeen, r.seenTotal))
    val resTail = resumed.rounds.map(r => (r.round, r.selected, r.newSeen, r.seenTotal))
    assert(resTail == fullTail)
  }

  test("snapshot manifests: chained ids, cumulative deltas, lineage rows sum to delta size") {
    val dir = Files.createTempDirectory("graft-snap").toString
    Crawler.run(spark, pagesDf,
      CrawlConfig(seeds, filter, maxRounds = 3, workDir = Some(dir)))
    val log = new SnapshotLog(s"$dir")
    val ids = log.listIds
    assert(ids == Vector(0, 1, 2))
    val snaps = ids.map(log.read)
    assert(snaps.map(_.round) == Vector(0, 1, 2))
    snaps.foreach { s =>
      assert(s.seenDeltaPaths.size == s.round + 1) // cumulative
      val deltaRows = spark.read.parquet(s.seenDeltaPaths.last).count()
      assert(s.lineage.map(_.rows).sum == deltaRows)
      assert(s.metrics.newSeen == deltaRows)
    }
    // seenCount is monotone and equals the union of deltas
    assert(snaps.map(_.seenCount) == snaps.map(_.seenCount).sorted)
    val totalSeen = spark.read.parquet(snaps.last.seenDeltaPaths: _*).count()
    assert(totalSeen == snaps.last.seenCount)
  }

  test("snapshot commit CAS: two interleaved committers — exactly one wins, " +
       "the loser gets CommitConflictException, no manifest is lost") {
    import graft.snapshot.{CommitConflictException, PartitionLineage, RoundMetrics, Snapshot}
    val dir = Files.createTempDirectory("graft-cas").toString
    val log = new SnapshotLog(dir)
    def snap(id: Int, parent: Int, tag: Long) = Snapshot(id, parent, id,
      Vector(s"d$id"), s"f$id", tag, "cfg",
      RoundMetrics(id, tag, 0, 0, 0, 0, tag, 0, 0), Vector(PartitionLineage(0, tag)))
    log.commit(snap(0, -1, 100L))

    // sequential interleave: B sees A's v1 already at HEAD → stale parent
    log.commit(snap(1, 0, 111L)) // A wins
    val e1 = intercept[CommitConflictException] { log.commit(snap(1, 0, 222L)) }
    assert(e1.getMessage.contains("latest committed snapshot is v1"))
    // A's manifest survived untouched — B did NOT last-writer-win
    assert(log.read(1).seenCount == 111L)

    // stale-parent variant: B rebased onto v0 but v1 already advanced HEAD
    val e2 = intercept[CommitConflictException] { log.commit(snap(2, 0, 333L)) }
    assert(e2.getMessage.contains("latest committed snapshot is v1"))

    // TRUE race: two writers enter commit() for v2 simultaneously (barrier
    // aligns them past each other's pre-check window) — the CREATE_NEW
    // hard-link backstop must let exactly one land; the loser conflicts
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val results = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val threads = Seq(444L, 555L).map { tag =>
      new Thread(() => {
        barrier.await()
        try { log.commit(snap(2, 1, tag)); results.put(tag, "ok") }
        catch { case _: CommitConflictException => results.put(tag, "conflict") }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val outcomes = Seq(444L, 555L).map(results.get)
    assert(outcomes.count(_ == "ok") == 1, s"exactly one racer must win: $outcomes")
    assert(outcomes.count(_ == "conflict") == 1)
    // the surviving manifest is the WINNER's, intact
    val winner = Seq(444L, 555L)(outcomes.indexOf("ok"))
    assert(log.read(2).seenCount == winner)
    assert(log.listIds == Vector(0, 1, 2))
  }

  test("bloom-off (below threshold), bloom-on (threshold 0), and mid-crawl " +
       "crossover (threshold 10) produce IDENTICAL seen sets and rounds") {
    val base = CrawlConfig(seeds, filter)
    val off = Crawler.run(spark, pagesDf, base) // default threshold ≫ corpus
    val on = Crawler.run(spark, pagesDf, base.copy(bloomMinSeen = 0L))
    val cross = Crawler.run(spark, pagesDf, base.copy(bloomMinSeen = 10L))
    def seenOf(r: graft.crawler.CrawlResult): Set[(String, Int)] =
      r.seen.select("url", "depth").as[(String, Int)].collect().toSet
    def roundsOf(r: graft.crawler.CrawlResult) =
      r.rounds.map(m => (m.round, m.selected, m.newSeen, m.seenTotal))
    assert(seenOf(on) == seenOf(off))
    assert(seenOf(cross) == seenOf(off))
    assert(roundsOf(on) == roundsOf(off))
    assert(roundsOf(cross) == roundsOf(off))
  }

  private def chainUrl(i: Int) = s"https://chain.test/p$i.html"
  /** pages p0 → p1 → … → p(n-1): one round per page, and the last round
    * fetches the chain end and discovers nothing */
  private def chainPages(n: Int) = spark.createDataset((0 until n).map { i =>
    val html =
      if (i + 1 < n) s"""<html><body><a href="p${i + 1}.html">n</a></body></html>"""
      else "<html><body>end</body></html>"
    graft.corpus.PageRow(chainUrl(i), new java.sql.Timestamp(0L),
      html.getBytes("UTF-8"), "", "en")
  }).toDF()

  test("snapshot-mode seen-delta compaction: manifest path list bounded, " +
       "kill past a compaction boundary + resume ≡ uninterrupted (r7)") {
    // a 10-deep chain forces one round per page — enough rounds to cross
    // the compaction period twice
    val n = 10
    def url(i: Int) = chainUrl(i)
    val pages = chainPages(n)
    val cfg0 = CrawlConfig(Seq(url(0)), ".test/", compactEvery = 3)

    val full = Crawler.run(spark, pages, cfg0) // memory-mode reference

    val dir = Files.createTempDirectory("graft-compact").toString
    val cfgK = cfg0.copy(maxRounds = 5, workDir = Some(dir))
    val killed = Crawler.run(spark, pages, cfgK)
    assert(killed.rounds.size == 5)
    // the kill point is past a compaction boundary: the latest manifest's
    // delta list must already be compacted (bounded ≤ compactEvery + 1,
    // never the O(rounds) cumulative list)
    val logAtKill = new SnapshotLog(dir)
    val snapAtKill = logAtKill.latest.get
    assert(snapAtKill.seenDeltaPaths.size <= cfg0.compactEvery + 1,
      s"path list not compacted: ${snapAtKill.seenDeltaPaths.size} paths")

    val resumed = Crawler.resume(spark, pages, cfgK.copy(maxRounds = Int.MaxValue))
    assert(resumed.resumedFromRound == 5)
    // identical final state vs the uninterrupted memory-mode run
    assert(resumed.seen.select("url", "depth").as[(String, Int)].collect().toSet ==
      full.seen.select("url", "depth").as[(String, Int)].collect().toSet)
    // identical per-round trajectory after the kill point
    val fullTail = full.rounds.drop(5).map(r => (r.round, r.selected, r.newSeen, r.seenTotal))
    val resTail = resumed.rounds.map(r => (r.round, r.selected, r.newSeen, r.seenTotal))
    assert(resTail == fullTail)
    // every committed manifest stays bounded, including post-resume ones
    val log = new SnapshotLog(dir)
    log.listIds.map(log.read).foreach { s =>
      assert(s.seenDeltaPaths.size <= cfg0.compactEvery + 1,
        s"manifest v${s.id} holds ${s.seenDeltaPaths.size} delta paths")
      // the chain stays READABLE: every referenced path exists
      s.seenDeltaPaths.foreach(p => assert(new java.io.File(p).exists(), p))
    }
    // the seen table equals the union of the latest manifest's (compacted)
    // deltas — content survives compaction exactly
    val last = log.latest.get
    assert(spark.read.parquet(last.seenDeltaPaths: _*).count() == last.seenCount)
  }

  test("CrawlConfig rejects a compaction period of 0 or below") {
    for (k <- Seq(0, -3))
      intercept[IllegalArgumentException](CrawlConfig(Seq("x"), "f", compactEvery = k))
    assert(CrawlConfig(Seq("x"), "f", compactEvery = 4).compactEvery == 4)
    assert(CrawlConfig(Seq("x"), "f").compactEvery == 16)
  }

  test("deep crawl (45 rounds, memory mode): seen plan stays FLAT via delta " +
       "compaction, result exact") {
    // a 45-deep page chain forces one round per page — the worst case for
    // the memory-mode union tower the round-2 ADVICE flagged (O(R²)
    // planning without compaction)
    val n = 46
    def url(i: Int) = chainUrl(i)
    val pages = chainPages(n)
    val res = Crawler.run(spark, pages, CrawlConfig(Seq(url(0)), ".test/"))
    // n-1 discovery rounds + the final round that fetches the chain end
    // and discovers nothing
    assert(res.rounds.size == n, s"expected $n rounds")
    // exact: every chained page seen at its chain depth
    val seen = res.seen.select("url", "depth").as[(String, Int)].collect().toMap
    assert(seen == (1 until n).map(i => url(i) -> i).toMap)
    // flat plan: the union tower never exceeds the compaction period
    def unionCount(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Int =
      (if (p.nodeName == "Union") 1 else 0) + p.children.map(unionCount).sum
    val depth = unionCount(res.seen.queryExecution.logical)
    assert(depth <= 16, s"seen plan holds $depth unions — compaction not applied")
  }

  // the production crawl shape on the tiny corpus: per-host budget waves,
  // robots rules, the bloom pre-filter from round 0, and a compaction every
  // 2 rounds, so both stores compact
  private val prodCfg = CrawlConfig(seeds, filter, hostBudget = 2,
    respectRobots = true, bloomMinSeen = 0L, compactEvery = 2)
  private def tmpDir(prefix: String) = Some(Files.createTempDirectory(prefix).toString)

  test("memory mode ≡ snapshot mode ≡ kill at round 2 + resume, " +
       "under the production config") {
    def roundsOf(rounds: Vector[graft.snapshot.RoundMetrics]) =
      rounds.map(_.copy(wallMillis = 0L))
    def seenOf(r: CrawlResult) =
      r.seen.select("url", "url_hash", "depth").as[(String, Long, Int)].collect().toSeq.sorted
    def frontierOf(r: CrawlResult) =
      r.frontier.select("url", "host", "depth").as[(String, String, Int)].collect().toSeq.sorted

    val mem = Crawler.run(spark, pagesDf, prodCfg)
    val snapDir = tmpDir("graft-prod-snap")
    val snap = Crawler.run(spark, pagesDf, prodCfg.copy(workDir = snapDir))
    val killDir = tmpDir("graft-prod-kill")
    val killed = Crawler.run(spark, pagesDf, prodCfg.copy(workDir = killDir, maxRounds = 2))
    val resumed = Crawler.resume(spark, pagesDf, prodCfg.copy(workDir = killDir))
    assert(resumed.resumedFromRound == 2)

    // the crawl runs past the kill point, and both stores compacted
    assert(mem.rounds.size > 3)
    assert(new SnapshotLog(snapDir.get).latest.get.seenDeltaPaths.size <= 2)
    def unions(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Int =
      (if (p.nodeName == "Union") 1 else 0) + p.children.map(unions).sum
    assert(unions(mem.seen.queryExecution.logical) <= 1)

    assert(roundsOf(snap.rounds) == roundsOf(mem.rounds))
    assert(roundsOf(killed.rounds ++ resumed.rounds) == roundsOf(mem.rounds))
    assert(seenOf(snap) == seenOf(mem))
    assert(seenOf(resumed) == seenOf(mem))
    assert(frontierOf(mem).nonEmpty) // robots-blocked urls stay in the frontier
    assert(frontierOf(snap) == frontierOf(mem))
    assert(frontierOf(resumed) == frontierOf(mem))
  }

  test("both collectMetrics values report the same RoundMetrics " +
       "(default and production configs, memory and snapshot mode)") {
    def rounds(cfg: CrawlConfig) =
      Crawler.run(spark, pagesDf, cfg).rounds.map(_.copy(wallMillis = 0L))
    for (cfg <- Seq(CrawlConfig(seeds, filter), prodCfg,
                    prodCfg.copy(workDir = tmpDir("graft-modes-snap")))) {
      val on = rounds(cfg)
      val off = rounds(cfg.copy(collectMetrics = false,
        workDir = cfg.workDir.map(_ => Files.createTempDirectory("graft-modes").toString)))
      assert(on.nonEmpty)
      assert(off == on)
      assert(on.forall(m => m.fetched >= 0 && m.linksExtracted >= 0 && m.dedupDropped >= 0))
    }
  }

  // an Observation read over a plan that never ran blocks forever; the time
  // limit turns such a wait into a failure
  private implicit val signaler: Signaler = ThreadSignaler

  test("round observations are filled when the last round adds no url and " +
       "when a finished snapshot crawl is resumed") {
    // the last round fetches a page without links, or (p3 linking to a
    // missing p4) fetches nothing
    val lastLinkless = chainPages(4)
    val lastMissing = chainPages(5).filter(col("url") =!= chainUrl(4))
    val cfg = CrawlConfig(Seq(chainUrl(0)), ".test/", hostBudget = 2, bloomMinSeen = 0L)
    failAfter(Span(120, Seconds)) {
      for ((pages, fetched) <- Seq(lastLinkless -> Vector(1L, 1L, 1L, 1L),
                                   lastMissing -> Vector(1L, 1L, 1L, 1L, 0L));
           workDir <- Seq(None, tmpDir("graft-finished"))) {
        val done = Crawler.run(spark, pages, cfg.copy(workDir = workDir))
        assert(done.rounds.map(_.fetched) == fetched)
        assert(done.rounds.map(_.newSeen) == fetched.init.map(_ => 1L) :+ 0L)
        assert(done.rounds.last.linksExtracted == 0L)
        assert(done.rounds.last.frontierNext == 0L)
        assert(done.frontier.count() == 0L)
        workDir.foreach { _ =>
          val again = Crawler.resume(spark, pages, cfg.copy(workDir = workDir))
          assert(again.resumedFromRound == fetched.size)
          assert(again.rounds.isEmpty)
          assert(again.seen.count() == fetched.size - 1L)
        }
      }
    }
  }

  test("Spark jobs per tiny-corpus crawl are pinned in memory and snapshot mode") {
    pagesDf.count() // the cached pages table is built outside the counts
    def jobs(cfg: CrawlConfig) =
      SparkJobs.count(spark.sparkContext)(Crawler.run(spark, pagesDf, cfg))
    val memDefault = jobs(CrawlConfig(seeds, filter))
    val memProd = jobs(prodCfg)
    val snapProd = jobs(prodCfg.copy(workDir = tmpDir("graft-jobs-snap")))
    // the benchmark's shape: throughput mode, stopped at round 2 and resumed
    val benchCfg = prodCfg.copy(collectMetrics = false, workDir = tmpDir("graft-jobs-resume"))
    val snapResume = SparkJobs.count(spark.sparkContext) {
      Crawler.run(spark, pagesDf, benchCfg.copy(maxRounds = 2))
      Crawler.resume(spark, pagesDf, benchCfg)
    }
    assert((memDefault, memProd, snapProd, snapResume) == ((19, 100, 109, 113)))
  }
}
