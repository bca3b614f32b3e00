package graft.crawler

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.storage.StorageLevel

import graft.gfn
import graft.functions.{Bloom, BloomAggExpr, BloomProbeExpr}
import graft.snapshot.RoundMetrics

/** Crawl configuration. Neutral defaults reproduce the reference exactly:
  * unlimited per-host budget (the reference has no politeness,
  * SpiderMain.kt:58), robots ignored, count cap only (SpiderMain.kt:52
  * caps urlSet size, not depth — we support both). */
final case class CrawlConfig(
    seeds: Seq[String],
    filter: String,
    maxSeen: Long = Long.MaxValue,
    hostBudget: Int = Int.MaxValue,
    maxDepth: Int = Int.MaxValue,
    respectRobots: Boolean = false,
    maxRounds: Int = Int.MaxValue,
    bloomExpectedItems: Long = 1L << 22,
    bloomFpp: Double = 0.03,
    /** Bloom pre-filter activation threshold on the SEEN count. Below it
      * the exact shuffle-hash anti-join alone is cheaper than maintaining
      * the filter: per round, the bloom costs a multi-hundred-KB aggregate
      * buffer per partition merged on the driver, plus a re-broadcast —
      * all parallelism-INDEPENDENT latency — to route rows around ONE
      * distributed shuffle whose input is small anyway at that scale. At
      * 10⁸+ seen urls the trade inverts hard (the filter skips shuffling
      * ~all-new links against a 10-billion-row table). Crossing the
      * threshold triggers a one-time rebuild from the full seen table;
      * exactness NEVER depends on the bloom (false positives only add
      * anti-join work), proven by the bloom-on ≡ bloom-off fixtures. */
    bloomMinSeen: Long = 1L << 22,
    /** frontier-side broadcast cutoff for the fetch join (rows). Below it
      * the frontier broadcasts (the pages side is scanned in place, never
      * shuffled); above it the join shuffles both sides — a broadcast
      * build is serial driver latency, so past ~10⁵ rows the distributed
      * shuffle wins the scaling ratio even when the absolute wall is
      * close. */
    broadcastMaxRows: Long = 400000L,
    saltBuckets: Int = 16,
    /** Some(dir) keeps the crawl in resumable snapshot tables under dir;
      * None keeps it in local checkpoints (see [[SeenStore]]). */
    workDir: Option[String] = None,
    /** false skips the metrics-only jobs (fetch/link/dedup counts) — the
      * throughput-bench mode; state-machine counts (newSeen, frontier) are
      * always exact. */
    collectMetrics: Boolean = true,
    /** >0 ⇒ the pages table is hive-partitioned by a `bucket` column equal
      * to pmod(xxhash64(url), pagesBuckets); the fetch join then includes
      * bucket equality so dynamic partition pruning reads ONLY the buckets
      * the frontier touches — small rounds stop paying a full-table scan.
      * This is the sandbox stand-in for bucketed/Iceberg-partitioned page
      * storage on a real cluster.
      *
      * CONTRACT: the value MUST equal the modulus the table was written
      * with — the join matches on bucket equality, so a mismatched
      * modulus silently drops most fetches (residues only coincide by
      * accident). The engine cannot introspect the stored layout from a
      * DataFrame; callers own this invariant (Bench threads one constant
      * through writer and config for exactly this reason). */
    pagesBuckets: Int = 0,
    /** the seen set's deltas are compacted into one every `compactEvery`
      * rounds (see [[SeenStore]]) */
    compactEvery: Int = 16) {
  require(compactEvery > 0, s"compactEvery must be positive, got $compactEvery")

  def configHash: String =
    java.lang.Long.toHexString(graft.functions.ExprImpl.hashCfg(
      s"$seeds|$filter|$maxSeen|$hostBudget|$maxDepth|$respectRobots"))
}

final case class CrawlResult(
    seen: DataFrame,     // url, url_hash, depth
    frontier: DataFrame, // url, host, depth (unfetched remainder)
    rounds: Vector[RoundMetrics],
    resumedFromRound: Int)

/** Spark-native URL-frontier crawler: a driver loop of level-synchronous
  * BFS rounds over the `pages` table (the deterministic Spark reading of
  * the reference's racy recursive expansion, SpiderMain.kt:47-61; canonical
  * spec in graft.oracle.ReferenceOracle's scaladoc — engine and oracle
  * implement the same spec and must match EXACTLY).
  *
  * Scale design (north_rule):
  *   - "fetch" = equi-join frontier✕pages on url — broadcast the frontier
  *     side when small, shuffle join otherwise (AQE re-plans at runtime);
  *   - URL-seen set: exact `left_anti` join against the seen table, with a
  *     driver-merged broadcast Bloom pre-filter that routes
  *     definitely-new URLs around the join (false positives only add work
  *     to the exact join; false negatives are impossible — exactness never
  *     depends on the Bloom);
  *   - per-host politeness via two-phase windowing: a first row_number
  *     inside (host, salt) buckets caps hot hosts without a single-task
  *     skew partition, a second row_number over the ≤ B·S survivors picks
  *     the exact per-host top-B by (depth, url) — identical output to the
  *     single-window plan, no hot-host straggler;
  *   - the seen set and frontier live in a [[SeenStore]] chosen once from
  *     `workDir`: local checkpoints, or snapshot tables that commit an
  *     Iceberg-style manifest per round so a killed crawl resumes with
  *     identical ordering (graft.snapshot.SnapshotLog). The round loop is
  *     the same in both modes, and so are its Spark jobs apart from the
  *     snapshot writes: in memory mode the round's stats aggregate is the
  *     one job that materializes the seen delta.
  */
object Crawler {

  def run(spark: SparkSession, pages: DataFrame, cfg: CrawlConfig): CrawlResult =
    runInternal(spark, pages, cfg, resume = false)

  /** Continue from the latest snapshot in cfg.workDir. */
  def resume(spark: SparkSession, pages: DataFrame, cfg: CrawlConfig): CrawlResult =
    runInternal(spark, pages, cfg, resume = true)

  /** host → ARRAY(disallow prefixes), parsed from `…/robots.txt` rows of
    * the pages table (north_rule N2; same parse as the oracle). */
  def robotsTable(pages: DataFrame): DataFrame =
    pages.filter(col("url").endsWith("/robots.txt"))
      // cast, not decode(…, 'UTF-8'): under ANSI mode (Spark 4 default)
      // decode THROWS on malformed byte sequences, so one binary blob
      // served at /robots.txt would abort the whole crawl; the binary→
      // string cast decodes leniently (replacement chars), which at worst
      // mis-parses that one host's rules
      .select(gfn.url_host(col("url")).as("host"),
        explode(split(col("html").cast("string"), "\n")).as("line"))
      .select(col("host"), trim(col("line")).as("line"))
      .filter(lower(col("line")).startsWith("disallow:"))
      .select(col("host"), trim(substring(col("line"), 10, 100000)).as("prefix"))
      .filter(length(col("prefix")) > 0)
      .groupBy("host").agg(collect_list("prefix").as("prefixes"))

  /** One-pass candidate selection: TAGS every frontier row instead of
    * filtering, so the deferred remainder (frontier ∖ selected) falls out
    * of the same pass as the selection, with no anti-join of the frontier
    * against the selection. The windows order by (eligible DESC, depth,
    * url): eligible rows rank 1..E ahead of every ineligible row, so
    * `eligible && rn <= B` is exactly the per-host top-B-of-eligible and
    * everything else is the deferred remainder — two filters over ONE
    * materialized tagged plan.
    *
    * Selection semantics (EngineOracleSpec pins per-round selected counts,
    * the seen set, and frontier contents+depths vs the reference oracle):
    *   - budget = ∞: eligibility alone decides; no window at all;
    *   - salts > 1: phase 1 caps each (host, salt) bucket at B without a
    *     hot-host single-task partition (a row in the global per-host
    *     top-B is in its bucket's top-B a fortiori); phase 2 ranks the
    *     ≤ B·S survivors per host — survivors are all eligible, so phase
    *     2 orders by (depth, url) alone;
    *   - salts = 1: one window over the host.
    *
    * Returns (selected, deferred): selected ⊎ deferred ≡ frontier
    * (projected to url/host/depth), both as filters over the eagerly
    * checkpointed tagged plan — the returned DFs' lineage keeps the
    * checkpoint blocks reachable until the next round's checkpoint
    * truncates it, so no extra lifecycle bookkeeping is needed. */
  private def tagAndSplit(frontier: DataFrame, eligible: Column,
                          budget: Int, salts: Int)
      : (DataFrame, DataFrame) = {
    val outCols = Seq(col("url"), col("host"), col("depth"))
    // drop the robots `prefixes` array BEFORE any materialization: it is
    // per-host metadata and would otherwise be copied into every row of
    // the checkpoint
    val base = frontier.withColumn("__elig", eligible)
      .select(outCols :+ col("__elig"): _*)
    if (budget == Int.MaxValue) {
      // eligibility alone decides — both branches are shuffle-free filters
      // (the robots join is a broadcast), so one materialization suffices
      val ann = base.localCheckpoint(true)
      (ann.filter(col("__elig")).select(outCols: _*),
       ann.filter(!col("__elig")).select(outCols: _*))
    } else if (salts > 1) {
      val w1 = Window.partitionBy(col("host"), pmod(xxhash64(col("url")), lit(salts)))
        .orderBy(col("__elig").desc, col("depth").asc, col("url").asc)
      val ann1 = base.withColumn("__rn1", row_number().over(w1)).localCheckpoint(true)
      val sel1 = col("__elig") && col("__rn1") <= budget
      val w2 = Window.partitionBy(col("host"))
        .orderBy(col("depth").asc, col("url").asc)
      val ann2 = ann1.filter(sel1).withColumn("__rn", row_number().over(w2))
        .localCheckpoint(true)
      val selected = ann2.filter(col("__rn") <= budget).select(outCols: _*)
      val deferred = ann1.filter(!sel1).select(outCols: _*)
        .unionByName(ann2.filter(col("__rn") > budget).select(outCols: _*))
      (selected, deferred)
    } else {
      val w = Window.partitionBy(col("host"))
        .orderBy(col("__elig").desc, col("depth").asc, col("url").asc)
      val ann = base.withColumn("__rn", row_number().over(w)).localCheckpoint(true)
      val sel = col("__elig") && col("__rn") <= budget
      (ann.filter(sel).select(outCols: _*),
       ann.filter(!sel).select(outCols: _*))
    }
  }

  private def runInternal(spark: SparkSession, pages: DataFrame,
                          cfg: CrawlConfig, resume: Boolean): CrawlResult = {
    import spark.implicits._
    val store = SeenStore(spark, cfg, resume)
    val resumed = store.resumed
    val bloomShape = Bloom.shapeFor(cfg.bloomExpectedItems, cfg.bloomFpp)
    def bloomAgg: Column = org.apache.spark.sql.graft.Bridge.column(
      BloomAggExpr(org.apache.spark.sql.graft.Bridge.expression(col("url_hash")),
        bloomShape._1, bloomShape._2).toAggregateExpression())
    var driverBloom = new Bloom(bloomShape._1, bloomShape._2)

    var round = resumed.fold(0)(_.round)
    var seenCount = resumed.fold(0L)(_.seenCount)
    var frontier: DataFrame = resumed.fold(
      cfg.seeds.toDF("url")
        .select(col("url"), gfn.url_host(col("url")).as("host"), lit(0).as("depth")))(_.frontier)

    // bloom maintenance state: active from the start only when the
    // threshold is disabled; otherwise activated (with a one-time rebuild)
    // the first round the seen count crosses cfg.bloomMinSeen
    var bloomActive = cfg.bloomMinSeen <= 0L

    def rebuildBloom(): Unit = if (seenCount > 0) {
      val bytes = store.seen.select(bloomAgg.as("b")).head().getAs[Array[Byte]](0)
      driverBloom = Bloom.deserialize(bytes)
    }
    // a resumed crawl rebuilds the pre-filter from the recovered seen set
    if (resumed.isDefined && bloomActive) rebuildBloom()

    // robots rules are collected ONCE per crawl to a driver-local relation:
    // they are driver-sized by construction (a broadcast collects them to
    // the driver anyway), and a broadcast built from a LocalRelation costs
    // no Spark job on any politeness wave
    val robots = if (cfg.respectRobots) {
      val rt = robotsTable(pages)
      Some(spark.createDataFrame(java.util.Arrays.asList(rt.collect(): _*), rt.schema))
    } else None

    val metrics = Vector.newBuilder[RoundMetrics]
    var stop = false
    var lastFrontierCount: Long =
      if (resumed.isDefined) -1L else cfg.seeds.size.toLong

    while (!stop && round < cfg.maxRounds && seenCount <= cfg.maxSeen) {
      val t0 = System.currentTimeMillis()

      // --- candidate selection: depth cap, robots, politeness -------------
      // when nothing filters the frontier, selected ≡ frontier and its
      // size is already known from the previous round — saves one count
      // job per round
      val noFilters = cfg.hostBudget == Int.MaxValue &&
        !cfg.respectRobots && cfg.maxDepth == Int.MaxValue
      val (selected, deferred) =
        if (noFilters) (frontier, frontier.limit(0))
        else {
          val withRules = robots match {
            case Some(r) => frontier.join(broadcast(r), Seq("host"), "left")
            case None    => frontier
          }
          val allowed: Column = robots match {
            case Some(_) => coalesce(
              !exists(col("prefixes"), p => gfn.url_path(col("url")).startsWith(p)),
              lit(true))
            case None => lit(true)
          }
          val depthOk: Column =
            if (cfg.maxDepth == Int.MaxValue) lit(true)
            else col("depth") <= cfg.maxDepth
          tagAndSplit(withRules, depthOk && allowed, cfg.hostBudget, cfg.saltBuckets)
        }
      val selCount = if (noFilters && lastFrontierCount >= 0) lastFrontierCount
                     else selected.count()

      if (selCount == 0) {
        stop = true
      } else {
        // --- fetch: join the pages table; broadcast small frontiers -------
        val selKeyed =
          if (cfg.pagesBuckets > 0)
            selected.withColumn("bucket",
              pmod(xxhash64(col("url")), lit(cfg.pagesBuckets)).cast("int"))
          else selected
        val joinKeys = if (cfg.pagesBuckets > 0) Seq("bucket", "url") else Seq("url")
        // TINY rounds (seeds, stragglers): collect the whole frontier once —
        // the bucket-IN set AND the broadcast both derive from the local
        // rows, so the round pays ONE collect job instead of a distinct-
        // buckets job plus a broadcast-build job (per-round serial latency
        // is the scaling-efficiency tax; see PLANS.md §9)
        val selLocal: Option[Array[org.apache.spark.sql.Row]] =
          if (selCount <= 4096L) Some(selKeyed.collect()) else None
        // manual partition pruning: Spark's DPP heuristic won't fire for an
        // unfiltered frontier side, so when the frontier is small enough
        // that it plausibly misses buckets, collect its ≤pagesBuckets
        // distinct bucket ids (tiny driver action) and push a static IN
        // filter — the scan then reads only the touched partitions
        val pagesSide =
          if (cfg.pagesBuckets > 0 && selLocal.isDefined) {
            val buckets = selLocal.get
              .map(_.getAs[Int]("bucket")).distinct.toSeq
            pages.filter(col("bucket").isInCollection(buckets))
          } else if (cfg.pagesBuckets > 0 && selCount < 8L * cfg.pagesBuckets) {
            val buckets = selKeyed.select("bucket").distinct()
              .collect().map(_.getInt(0)).toSeq
            pages.filter(col("bucket").isInCollection(buckets))
          } else pages
        val selForJoin = selLocal match {
          case Some(rows) => broadcast(spark.createDataFrame(
            java.util.Arrays.asList(rows: _*), selKeyed.schema))
          case None =>
            if (selCount <= cfg.broadcastMaxRows) broadcast(selKeyed) else selKeyed
        }
        // the parsed-links intermediate is cached ONLY when the metrics
        // pass re-reads it; in throughput mode it streams straight into the
        // per-round dedup (caching it would write every link array to
        // memory for a single consumer)
        val fetched0 = pagesSide.join(selForJoin, joinKeys, "inner")
          .select(col("url"), col("depth"),
            gfn.extract_links(col("html"), col("url"), lit(cfg.filter), lit(true))
              .as("links"))
        val fetched = if (cfg.collectMetrics) fetched0.persist(StorageLevel.MEMORY_AND_DISK)
                      else fetched0
        val (fetchCount, linksExtracted) = if (cfg.collectMetrics) {
          val a = fetched.agg(count(lit(1)),
            coalesce(sum(size(col("links"))), lit(0L))).head()
          (a.getLong(0), a.getLong(1))
        } else (-1L, -1L)

        // --- per-round link dedup with min discovery depth -----------------
        // persisted ONLY in metrics mode, which reads it twice (count +
        // anti-join); the throughput path has exactly one consumer (the
        // seen anti-join, or the bloom branch's eager checkpoint)
        val roundLinks0 = fetched
          .select(explode(col("links")).as("url"), (col("depth") + 1).as("depth"))
          .groupBy("url")
          .agg(min("depth").as("depth"))
        val roundLinks = if (cfg.collectMetrics)
          roundLinks0.persist(StorageLevel.MEMORY_AND_DISK) else roundLinks0
        val distinctLinks = if (cfg.collectMetrics) roundLinks.count() else -1L

        // --- seen-set dedup: bloom pre-filter + exact anti-join ------------
        // activate (and one-time-rebuild) the bloom at the threshold
        if (!bloomActive && seenCount >= cfg.bloomMinSeen) {
          rebuildBloom()
          bloomActive = true
        }
        // the seen side must NEVER be broadcast: it grows every round, and
        // a broadcast rebuild is a serial driver collect per round (and at
        // 10^10-url scale an OOM); shuffle_hash keeps the anti-join
        // distributed
        val newSeen = if (seenCount == 0) {
          roundLinks.select(col("url"), xxhash64(col("url")).as("url_hash"),
            col("depth"))
        } else if (!bloomActive) {
          // below bloomMinSeen: the exact anti-join alone (see the config
          // scaladoc — the filter's serial maintenance dominates there)
          roundLinks
            .join(store.seen.select("url").hint("shuffle_hash"), Seq("url"), "left_anti")
            .select(col("url"), xxhash64(col("url")).as("url_hash"), col("depth"))
        } else {
          // the two probe branches read ONE eager checkpoint of the round's
          // links: a checkpoint truncates the plan, so neither branch can
          // recompute the fetch+extract+dedup (a persist does not
          // guarantee that — filter-over-cache plans can miss the cache)
          val rl = roundLinks.localCheckpoint(true)
          val bc = spark.sparkContext.broadcast(driverBloom)
          val probe = org.apache.spark.sql.graft.Bridge.column(BloomProbeExpr(
            org.apache.spark.sql.graft.Bridge.expression(xxhash64(col("url"))), bc))
          val maybeSeen = rl.filter(probe)
            .join(store.seen.select("url").hint("shuffle_hash"), Seq("url"), "left_anti")
          val definitelyNew = rl.filter(!probe)
          definitelyNew.unionByName(maybeSeen)
            .select(col("url"), xxhash64(col("url")).as("url_hash"), col("depth"))
        }
        val delta = store.append(round, newSeen)

        // one pass over the stored delta: row count, seed hits (for the
        // frontier arithmetic below), and — only while the filter is
        // active — the bloom shard, instead of three separate jobs. With
        // the bloom below threshold the aggregate carries 16-byte buffers
        // per partition instead of filter-sized ones.
        val baseAggs = Seq(
          count(lit(1)),
          coalesce(sum(when(col("url").isInCollection(cfg.seeds), 1L)
            .otherwise(0L)), lit(0L)))
        val aggs = if (bloomActive) baseAggs :+ bloomAgg else baseAggs
        val statsRow = delta.agg(aggs.head, aggs.tail: _*).head()
        val newCount = statsRow.getLong(0)
        val newSeenSeeds = statsRow.getLong(1)
        if (bloomActive && newCount > 0)
          driverBloom.mergeInPlace(Bloom.deserialize(statsRow.getAs[Array[Byte]](2)))
        seenCount += newCount

        // --- next state -----------------------------------------------------
        // only seeds can sit in frontier∖seen, so "already known to the
        // frontier or already visited" ⇔ "is a seed" for newly-seen urls
        val frontierAdd = delta
          .filter(!col("url").isInCollection(cfg.seeds))
          .select(col("url"), gfn.url_host(col("url")).as("host"), col("depth"))
        // the deferred remainder is already two filters over this round's
        // checkpointed tagged plan — no anti-join (see tagAndSplit)
        val frontierNext = store.keep(round,
          if (noFilters) frontierAdd else deferred.unionByName(frontierAdd))
        // |frontierNext| is arithmetic: deferred ⊎ selected ≡ frontier, and
        // frontierAdd = newSeen ∖ seeds is disjoint from the old frontier
        // (frontier residents are already in the seen set, newSeen is not).
        // The one real count left is the first round after a resume, where
        // the recovered frontier's size is unknown.
        val frontierCount =
          if (noFilters) newCount - newSeenSeeds // frontierAdd, arithmetically
          else if (lastFrontierCount >= 0)
            (lastFrontierCount - selCount) + (newCount - newSeenSeeds)
          else frontierNext.count()
        lastFrontierCount = frontierCount

        val m = RoundMetrics(round, selCount, fetchCount, linksExtracted,
          dedupDropped = if (cfg.collectMetrics) distinctLinks - newCount else -1L,
          newSeen = newCount, seenTotal = seenCount,
          frontierNext = frontierCount,
          wallMillis = System.currentTimeMillis() - t0)
        metrics += m
        store.commit(round, seenCount, m)

        frontier = frontierNext
        fetched.unpersist(); roundLinks.unpersist()
        // tagged-checkpoint lifecycle needs no extra bookkeeping: the lazy
        // `frontier` plan references this round's checkpointed RDDs, and
        // the next round's eager tagAndSplit checkpoint truncates that
        // lineage — at which point the old blocks become unreachable and
        // the ContextCleaner reclaims them (unpersist on a checkpointed DF
        // is a no-op, so explicit release would do nothing anyway)
        round += 1
        if (frontierCount == 0) stop = true
      }
    }

    CrawlResult(store.seen, frontier, metrics.result(), resumed.fold(0)(_.round))
  }
}
