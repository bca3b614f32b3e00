package graft.crawler

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.unsafe.types.UTF8String

import graft.gfn
import graft.functions.{Bloom, BloomAggExpr, BloomProbeExpr, RobotsAllowedExpr}
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
    /** Has no effect: every round count is observed on the jobs the round
      * already runs, so both values run one plan and report the same
      * [[RoundMetrics]]. The parameter stays because the frozen `Bench`
      * and perfbench pass it. */
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
  *     the same in both modes: the delta's one materializing job is an
  *     eager checkpoint in memory mode and the parquet write in snapshot
  *     mode, and the frontier costs one more write in snapshot mode only.
  *
  * Round counts are `Dataset.observe` metrics on the jobs that already
  * materialize their data; no job runs only to count. Invariants:
  *   - counts that drive crawl state (the selection count, and the delta's
  *     row count and seed hits) are observed only in the RESULT stage of
  *     the eager checkpoint or write that materializes them. Spark applies
  *     a result task's accumulator update once per partition, but applies
  *     a map stage's updates again on every stage retry. Metrics-only
  *     counts (fetched, links extracted, distinct links) may sit in a map
  *     stage;
  *   - every round creates fresh `Observation`s, and reads each one only
  *     after the action that executes its plan has returned: `get` blocks
  *     forever on a plan that never ran;
  *   - under AQE, a map stage that emits no rows is replaced by an empty
  *     relation, and an observation inside it is dropped. A metrics-only
  *     observation counts nothing unless its stage emits a row, so a
  *     dropped one reads 0 (see [[metric]]).
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
    * Returns (selected, deferred, |selected|): selected ⊎ deferred ≡
    * frontier, both as filters over the eagerly checkpointed tagged plan —
    * the returned DFs' lineage keeps the checkpoint blocks reachable until
    * the next round's checkpoint truncates it, so no extra lifecycle
    * bookkeeping is needed. The count is observed in the result stage of
    * the checkpoint that materializes the selection. */
  private def tagAndSplit(frontier: DataFrame, eligible: Column,
                          budget: Int, salts: Int)
      : (DataFrame, DataFrame, Long) = {
    val outCols = Seq(col("url"), col("host"), col("depth"))
    val base = frontier.select(outCols :+ eligible.as("__elig"): _*)
    val selObs = Observation()
    def materialize(tagged: DataFrame, sel: Column) =
      tagged.observe(selObs, count(when(sel, 1)).as("selected")).localCheckpoint(true)
    def selCount = selObs.get("selected").asInstanceOf[Long]
    if (budget == Int.MaxValue) {
      // eligibility alone decides — both branches are shuffle-free filters,
      // so one materialization suffices
      val ann = materialize(base, col("__elig"))
      (ann.filter(col("__elig")).select(outCols: _*),
       ann.filter(!col("__elig")).select(outCols: _*), selCount)
    } else if (salts > 1) {
      val w1 = Window.partitionBy(col("host"), pmod(xxhash64(col("url")), lit(salts)))
        .orderBy(col("__elig").desc, col("depth").asc, col("url").asc)
      val ann1 = base.withColumn("__rn1", row_number().over(w1)).localCheckpoint(true)
      val sel1 = col("__elig") && col("__rn1") <= budget
      val w2 = Window.partitionBy(col("host"))
        .orderBy(col("depth").asc, col("url").asc)
      val ann2 = materialize(ann1.filter(sel1).withColumn("__rn", row_number().over(w2)),
        col("__rn") <= budget)
      val selected = ann2.filter(col("__rn") <= budget).select(outCols: _*)
      val deferred = ann1.filter(!sel1).select(outCols: _*)
        .unionByName(ann2.filter(col("__rn") > budget).select(outCols: _*))
      (selected, deferred, selCount)
    } else {
      val w = Window.partitionBy(col("host"))
        .orderBy(col("__elig").desc, col("depth").asc, col("url").asc)
      val sel = col("__elig") && col("__rn") <= budget
      val ann = materialize(base.withColumn("__rn", row_number().over(w)), sel)
      (ann.filter(sel).select(outCols: _*),
       ann.filter(!sel).select(outCols: _*), selCount)
    }
  }

  /** A metrics-only count, 0 when AQE dropped its observation together
    * with the stage that emitted no rows. */
  private def metric(obs: Observation, name: String): Long =
    obs.get.getOrElse(name, 0L).asInstanceOf[Long]

  private def runInternal(spark: SparkSession, pages: DataFrame,
                          cfg: CrawlConfig, resume: Boolean): CrawlResult = {
    import spark.implicits._
    val store = SeenStore(spark, cfg, resume)
    val resumed = store.resumed
    val bloomShape = Bloom.shapeFor(cfg.bloomExpectedItems, cfg.bloomFpp)
    def bloomAgg: Column = Bridge.column(
      BloomAggExpr(Bridge.expression(col("url_hash")),
        bloomShape._1, bloomShape._2).toAggregateExpression())
    var driverBloom = new Bloom(bloomShape._1, bloomShape._2)

    var round = resumed.fold(0)(_.round)
    var seenCount = resumed.fold(0L)(_.seenCount)
    var frontier: DataFrame = resumed.fold(
      cfg.seeds.toDF("url")
        .select(col("url"), gfn.url_host(col("url")).as("host"), lit(0).as("depth")))(_.frontier)
    // |frontier| is always known without a job: the seeds, the resumed
    // manifest's count, then the arithmetic below
    var lastFrontierCount: Long = resumed.fold(cfg.seeds.size.toLong)(_.frontierCount)

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

    // robots rules are collected ONCE per crawl (one row per host with
    // rules) and broadcast from the driver, which runs no Spark job; each
    // round probes them with one hash lookup per frontier row (a broadcast
    // join of the collected rows would run a broadcast job every round)
    val robotsOk: Column = if (cfg.respectRobots) {
      val rules = robotsTable(pages).filter(col("host").isNotNull).collect()
        .map(r => UTF8String.fromString(r.getString(0)) ->
          r.getSeq[String](1).map(UTF8String.fromString).toArray).toMap
      Bridge.column(RobotsAllowedExpr(Bridge.expression(col("host")),
        Bridge.expression(gfn.url_path(col("url"))), spark.sparkContext.broadcast(rules)))
    } else lit(true)
    val depthOk: Column =
      if (cfg.maxDepth == Int.MaxValue) lit(true) else col("depth") <= cfg.maxDepth
    // when nothing filters the frontier, selected ≡ frontier and its size
    // is already known
    val noFilters = cfg.hostBudget == Int.MaxValue &&
      !cfg.respectRobots && cfg.maxDepth == Int.MaxValue

    val metrics = Vector.newBuilder[RoundMetrics]
    var stop = false

    while (!stop && round < cfg.maxRounds && seenCount <= cfg.maxSeen) {
      val t0 = System.currentTimeMillis()

      // --- candidate selection: depth cap, robots, politeness -------------
      val (selected, deferred, selCount) =
        if (noFilters) (frontier, frontier.limit(0), lastFrontierCount)
        else tagAndSplit(frontier, depthOk && robotsOk, cfg.hostBudget, cfg.saltBuckets)

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
        // manual partition pruning: Spark's DPP heuristic won't fire for an
        // unfiltered frontier side, so a bucketed round small enough that
        // it plausibly misses buckets pushes a static IN filter of its
        // bucket ids — the scan then reads only the touched partitions.
        // TINY bucketed rounds (seeds, stragglers) collect the whole
        // frontier once, and both the IN set and the broadcast side come
        // from those rows: a collect job plus the broadcast's own job, the
        // same two jobs a distinct-buckets collect and a broadcast cost.
        // Unbucketed rounds collect nothing and broadcast the selection
        val selLocal: Option[Array[org.apache.spark.sql.Row]] =
          if (cfg.pagesBuckets > 0 && selCount <= 4096L) Some(selKeyed.collect()) else None
        val pagesSide = selLocal match {
          case Some(rows) =>
            pages.filter(col("bucket").isInCollection(rows.map(_.getAs[Int]("bucket")).distinct))
          case None if cfg.pagesBuckets > 0 && selCount < 8L * cfg.pagesBuckets =>
            val buckets = selKeyed.select("bucket").distinct()
              .collect().map(_.getInt(0)).toSeq
            pages.filter(col("bucket").isInCollection(buckets))
          case None => pages
        }
        val selForJoin = selLocal match {
          case Some(rows) => broadcast(spark.createDataFrame(
            java.util.Arrays.asList(rows: _*), selKeyed.schema))
          case None =>
            if (selCount <= cfg.broadcastMaxRows) broadcast(selKeyed) else selKeyed
        }
        // metrics-only counts ride on the fetch and the round dedup, both
        // materialized by the checkpoint or write further down. explode_outer
        // keeps one null-url row for a page without links, so the fetch
        // stage emits a row for every fetched page (see [[metric]]); the
        // null group is dropped after the dedup
        val fetchObs = Observation()
        val fetched = pagesSide.join(selForJoin, joinKeys, "inner")
          .select(col("url"), col("depth"),
            gfn.extract_links(col("html"), col("url"), lit(cfg.filter), lit(true))
              .as("links"))
          .observe(fetchObs, count(lit(1)).as("fetched"),
            coalesce(sum(size(col("links"))), lit(0L)).as("links"))

        // --- per-round link dedup with min discovery depth -----------------
        val linksObs = Observation()
        val roundLinks = fetched
          .select(explode_outer(col("links")).as("url"), (col("depth") + 1).as("depth"))
          .groupBy("url")
          .agg(min("depth").as("depth"))
          .observe(linksObs, count(col("url")).as("distinct"))
          .filter(col("url").isNotNull)

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
          val probe = Bridge.column(BloomProbeExpr(
            Bridge.expression(xxhash64(col("url"))), bc))
          val maybeSeen = rl.filter(probe)
            .join(store.seen.select("url").hint("shuffle_hash"), Seq("url"), "left_anti")
          val definitelyNew = rl.filter(!probe)
          definitelyNew.unionByName(maybeSeen)
            .select(col("url"), xxhash64(col("url")).as("url_hash"), col("depth"))
        }

        // the delta's stats arrive with the job that stores it: row count,
        // seed hits (for the frontier arithmetic below), and — only while
        // the filter is active — the bloom shard
        val deltaObs = Observation()
        val baseStats = Seq(
          count(lit(1)).as("rows"),
          coalesce(sum(when(col("url").isInCollection(cfg.seeds), 1L)
            .otherwise(0L)), lit(0L)).as("seeds"))
        val stats = if (bloomActive) baseStats :+ bloomAgg.as("bloom") else baseStats
        val delta = store.append(round, newSeen.observe(deltaObs, stats.head, stats.tail: _*))
        val deltaStats = deltaObs.get
        val newCount = deltaStats("rows").asInstanceOf[Long]
        val newSeenSeeds = deltaStats("seeds").asInstanceOf[Long]
        if (bloomActive && newCount > 0)
          driverBloom.mergeInPlace(Bloom.deserialize(deltaStats("bloom").asInstanceOf[Array[Byte]]))
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
        // (frontier residents are already in the seen set, newSeen is not)
        val frontierCount = (lastFrontierCount - selCount) + (newCount - newSeenSeeds)
        lastFrontierCount = frontierCount

        val m = RoundMetrics(round, selCount,
          fetched = metric(fetchObs, "fetched"),
          linksExtracted = metric(fetchObs, "links"),
          dedupDropped = metric(linksObs, "distinct") - newCount,
          newSeen = newCount, seenTotal = seenCount,
          frontierNext = frontierCount,
          wallMillis = System.currentTimeMillis() - t0)
        metrics += m
        store.commit(round, seenCount, m)

        frontier = frontierNext
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
