package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graft.Bridge

import graft.corpus.TestCorpus
import graft.crawler.{CrawlConfig, Crawler}
import graft.html.{Html, UrlCanon}
import graft.index.Indexer
import graft.ops.{Multimodal, TrainingOps => T}
import graft.rank.{PageRankSpark, Searcher}

/** Driver contract: one `queries` entry per implemented operator family
  * (SURVEY.md §2 + the training-data ops), each SQL-expressible one paired
  * with an equivalent DuckDB oracle in `oracleSql`.
  *
  * Parity rules applied throughout (the driver hash-compares values):
  * identical column names+aliases on both sides; derived integers cast to
  * BIGINT; exact DECIMAL accumulation for money sums, converted to DOUBLE
  * at the boundary; all floating outputs rounded to 4dp; every query
  * deterministically ordered.
  */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** embeddings ∪ near-duplicate copies for the production-threshold LSH
    * gate: vec_id+1e6 with each element shifted +0.05 (double add, cast
    * back to float — bit-portable; DuckDB mirrors it verbatim). +0.05
    * deliberately lands the pairs at the BOTTOM edge of the cos ≥ 0.9
    * band (cos 0.9165-0.9535) — the HARD case for the LSH radius: the
    * old fixed radius 16 measured 1995/2000 recall here at sf0.1 (≈3.2σ,
    * the quantified boundary leak); the auto-calibrated radius
    * (TrainingOps.srpRadiusForN(0.9, 64): mean + 4σ at the threshold
    * boundary ⇒ 21) recalls 1.0 at both scales. BASELINE.md records
    * the calibration history. */
  private def prodDupEmbeddings(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val base = t(spark, dir, "embeddings").select("vec_id", "embedding")
    val pert = base.select(
      (col("vec_id") + lit(1000000L)).as("vec_id"),
      transform(col("embedding"),
        x => (x.cast("double") + lit(0.05)).cast("float")).as("embedding"))
    base.unionByName(pert)
  }

  /** embeddings ∪ planted near-copies of the three ANN query vectors —
    * the derived clustered regime for the MEASURED IVF recall gate
    * (q_ann_ivf). The driver's raw embeddings are not clustered at
    * top-10 granularity (nprobe=3 recall measures 0.3-0.7 there — the
    * honest reading, recorded in BASELINE.md), so a recall floor on the
    * raw corpus would pin weather, not machinery. Planting 15 copies of
    * each query vector at elementwise +0.002·j (cos ≳ 0.97, far above
    * the ~0.5 inter-cluster background) makes the true top-10 provably
    * co-locate in the query's own k-means cell: a correct router scores
    * recall 1.0, a broken cell assignment/probe order drops below the
    * 0.9 floor. Deterministic IEEE arithmetic; ids 1e6 + q·100 + j. */
  private def annClusteredEmbeddings(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val base = t(spark, dir, "embeddings").select("vec_id", "embedding", "label")
    val copies = base.filter(col("vec_id").isin(0L, 1L, 2L))
      .select(col("vec_id"), col("embedding"), col("label"),
        explode(sequence(lit(1), lit(15))).as("j"))
      .select((lit(1000000L) + col("vec_id") * 100L + col("j")).as("vec_id"),
        transform(col("embedding"),
          x => (x.cast("double") + lit(0.002) * col("j")).cast("float"))
          .as("embedding"),
        col("label"))
    base.unionByName(copies)
  }

  /** single source of truth for the demo corpus shape — the politeness
    * oracle's unroll depth below must cover THIS corpus's fixpoint, which
    * PropertySpecs guards by running the engine on the same spec. */
  val demoSpec: TestCorpus.Spec = TestCorpus.Spec(hosts = 3, basePagesPerHost = 8)

  /** rounds unrolled in [[crawlPoliteOracleSql]]; rounds past the engine's
    * fixpoint are no-ops, so this only needs to be ≥ the fixpoint — a
    * corpus-spec change that silently pushed the fixpoint past it would
    * truncate the oracle, hence the PropertySpecs guard (r3 VERDICT #8). */
  val politeOracleRounds: Int = 14

  // shared tiny corpus for the crawl/serp/multimodal queries (independent of
  // sfDir — the crawl fixtures come from the seeded generator, TESTDATA §1)
  private lazy val demoCorpus = TestCorpus.generate(demoSpec)

  private def demoPages(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.createDataset(demoCorpus).toDF()
  }

  /** real media rows for the multimodal gates (binary payload in the html
    * column): header-only PNG + JPEG + animated GIF + fully-DECODABLE PNG
    * (real filtered+deflated RGBA pixels). Width/height come from TRUE
    * header parses, GIF n_frames from the real block walk, and the pix*
    * rows' feature vectors from REAL decoded pixels. ONE shared value
    * feeds both the query input and the oracle's expected table, so the
    * two sides cannot drift. */
  private lazy val mediaCorpus: Vector[graft.corpus.PageRow] =
    TestCorpus.mediaRows(6) ++ TestCorpus.jpegRows(4) ++ TestCorpus.gifRows(4) ++
      TestCorpus.pngPixelRows(4) ++ TestCorpus.jpegPixelRows(4)

  private def mediaPages(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.createDataset(mediaCorpus).toDF()
  }

  // the crawl/index/rank queries share one deterministic pipeline run —
  // memoized per session so Verify doesn't redo the crawl per query
  private var demoCache: Option[(SparkSession, DataFrame, graft.crawler.CrawlResult)] = None
  private var indexCache: Option[(SparkSession, graft.index.IndexTables, DataFrame)] = None
  private var demoSessionCache: Option[(SparkSession, SparkSession)] = None

  /** The demo corpus is fixture-scale by construction (demoSpec: 3 hosts ×
    * 8 pages), so its crawl/index pipeline runs on a
    * [[Bridge.fixedPlanSession]] with shuffle partitions derived from the
    * corpus size, never touching the caller's session conf. Production-scale
    * pipelines do not come through this path (they build their own
    * sessions, e.g. Bench). */
  private def demoSession(spark: SparkSession): SparkSession = synchronized {
    demoSessionCache match {
      case Some((s, c)) if s eq spark => c
      case _ =>
        val child = Bridge.fixedPlanSession(spark, math.max(2, demoCorpus.size / 16))
        demoSessionCache = Some((spark, child))
        child
    }
  }

  private def crawlDemo(spark: SparkSession): (DataFrame, graft.crawler.CrawlResult) =
    synchronized {
      demoCache match {
        case Some((s, p, c)) if s eq spark => (p, c)
        case _ =>
          val s2 = demoSession(spark)
          val pages = demoPages(s2).cache()
          val crawl = Crawler.run(s2, pages,
            CrawlConfig(Seq(TestCorpus.seedUrl), TestCorpus.filterPrefix))
          demoCache = Some((spark, pages, crawl))
          (pages, crawl)
      }
    }

  private def demoIndex(spark: SparkSession): (graft.index.IndexTables, DataFrame) =
    synchronized {
      indexCache match {
        case Some((s, i, r)) if s eq spark => (i, r)
        case _ =>
          val (pages, crawl) = crawlDemo(spark)
          val s2 = demoSession(spark)
          val index = Indexer.build(s2, pages, crawl.seen, TestCorpus.filterPrefix, 8)
          val ranks = PageRankSpark.run(index.links, index.urlDict.select("url_id"), 40)
            .cache()
          indexCache = Some((spark, index, ranks))
          (index, ranks)
      }
    }

  /** The memoized demo index and ranks, for Bench's SERP prepare/serve
    * breakdown, which times Searcher.prepare on a fresh Prepared. */
  private[graft] def demoIndexForProfile(spark: SparkSession): (graft.index.IndexTables, DataFrame) =
    demoIndex(spark)

  // one Prepared per session (VERDICT r4 #2): prepare() caches the rank
  // table and runs a 1-row max aggregate — per-QUERY re-preparation was
  // paying that job (plus cache bookkeeping) on every serve
  private var preparedCache: Option[(SparkSession, Searcher.Prepared)] = None
  private def demoPrepared(spark: SparkSession): Searcher.Prepared =
    synchronized {
      preparedCache match {
        case Some((s, p)) if s eq spark => p
        case _ =>
          val (index, ranks) = demoIndex(spark)
          val p = Searcher.prepare(index, ranks)
          preparedCache = Some((spark, p))
          p
      }
    }

  /** Flagship query (driver smoke-checks rows>0 at sf0.001). */
  def entry(spark: SparkSession): DataFrame =
    queries("q_join_revenue")(spark, "/root/testdata/sf0.001")

  private val bucketedGateSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---------------- scans / filters / projections (S2-S4, F-ops) --------
    // catalog-BUCKETED source (round 6): the documents table written
    // bucketed by the join key and fetch-joined against a frontier of ids —
    // the 10^10-scale form of the crawl's fetch join (PagesTable scaladoc:
    // the pages side never shuffles; plan pinned in SourcesSpec). The gate
    // verifies the bucketed read path returns exactly the rows the plain
    // table would.
    "q_bucketed_fetch" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // unique table name per invocation: a fixed name would let two
      // concurrent sweeps in one session drop each other's catalog entry
      val tbl = s"graft_gate_docs_bucketed_${bucketedGateSeq.incrementAndGet()}"
      val path = java.nio.file.Files.createTempDirectory("graft-bucketed-gate")
      try {
        graft.sources.PagesTable.writeBucketed(docs, tbl,
          s"$path/docs", buckets = 8, key = "doc_id")
        val bucketed = graft.sources.PagesTable.readBucketed(s, tbl)
        val frontier = docs.select(col("doc_id")).filter(col("doc_id") % 3 === 0)
        bucketed.join(frontier, Seq("doc_id"), "inner")
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .orderBy("doc_id")
          // eagerly materialize so the bucketed copy and catalog entry can
          // be cleaned up NOW — otherwise every sweep would orphan a full
          // copy of the documents table in /tmp (DROP TABLE on an external
          // table does not delete its files). The 1-exchange bucketed-join
          // plan shape is pinned separately in SourcesSpec; this gate
          // verifies the ROWS the bucketed read path returns.
          .localCheckpoint(true)
      } finally {
        // cleanup runs on failure too — no orphaned documents copies
        try s.sql(s"DROP TABLE IF EXISTS $tbl")
        catch { case scala.util.control.NonFatal(_) => () }
        def rm(p: java.nio.file.Path): Unit = {
          if (java.nio.file.Files.isDirectory(p)) {
            val children = java.nio.file.Files.list(p)
            try children.forEach(rm(_)) finally children.close()
          }
          java.nio.file.Files.deleteIfExists(p)
        }
        rm(path)
      }
    }),

    "q_scan_filter" -> ((s, d) => {
      t(s, d, "lineitem")
        .filter(col("l_shipdate") < lit("1995-06-17").cast("timestamp") &&
          col("l_discount") > 0.05)
        .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          col("l_quantity"))
        .orderBy("l_orderkey", "l_linenumber")
        .limit(500)
    }),

    // ---------------- aggregations (A1-A6 shapes) --------------------------
    "q_agg_groupby" -> ((s, d) => {
      t(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"),
          count(lit(1)).as("n_rows"),
          gfn.round_exact(sum(col("l_quantity").cast("decimal(18,2)")).cast("double") /
            count(lit(1)), 4).as("avg_qty"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    "q_df_count" -> ((s, d) => {
      // document frequency over whitespace tokens (A4 shape, exact distinct)
      t(s, d, "documents")
        .select(col("doc_id"), explode(T.wsTokens(col("text"))).as("tok"))
        .distinct()
        .groupBy("tok").agg(count(lit(1)).as("df"))
        .orderBy(desc("df"), asc("tok"))
        .limit(200)
    }),

    "q_tfidf" -> ((s, d) => {
      // tf-idf over whitespace tokens (A5 shape): tf * ln(N/df)/ln(2)
      val docs = t(s, d, "documents")
      val toks = docs.select(col("doc_id"), explode(T.wsTokens(col("text"))).as("tok"))
      val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val dfT = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      val n = docs.count()
      tf.join(dfT, "tok")
        .withColumn("tfidf", gfn.round_exact(
          col("tf").cast("double") * log(lit(n.toDouble) / col("df").cast("double"))
            / lit(math.log(2.0)), 4))
        .filter(col("doc_id") < 50)
        .select("doc_id", "tok", "tf", "df", "tfidf")
        .orderBy("doc_id", "tok")
    }),

    // ---------------- joins (J1-J8 shapes) ---------------------------------
    "q_join_revenue" -> ((s, d) => {
      // round-7 (guide §2.3 — aggregate before you shuffle/join): lineitem
      // is pre-aggregated per l_orderkey BEFORE the orders join, so the
      // join probes one row per order instead of one per line item and the
      // exchange carries the ~4×-smaller aggregated rows. Exactly
      // equivalent to joining raw lines and aggregating after: decimal
      // sums are exact and associative, and the outer
      // groupBy(o_orderkey, o_orderpriority) re-aggregation reproduces the
      // original semantics even under duplicate orderkeys on the orders
      // side (each duplicate receives the same per-order partial sums the
      // raw rows would have contributed).
      // round_exact: at sf0.1 one line's revenue straddled the 2-dp cent
      // boundary between Spark round() and DuckDB ROUND (expressions.scala
      // roundExact scaladoc); printf('%.2f') mirrors it in the oracle
      val liAgg = t(s, d, "lineitem")
        .select(col("l_orderkey"),
          gfn.round_exact(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 2)
            .cast("decimal(18,2)").as("rev"))
        .groupBy("l_orderkey")
        .agg(sum("rev").as("rev_sum"), count(lit(1)).as("cnt"))
      liAgg.join(t(s, d, "orders").select("o_orderkey", "o_orderpriority"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(sum("rev_sum").cast("double").as("revenue"),
          sum("cnt").as("n_items"))
        .orderBy(desc("revenue"), asc("o_orderkey"))
        .limit(100)
    }),

    "q_multijoin_dims" -> ((s, d) => {
      // dim joins are broadcast-able: nation/region tiny (J7 shape)
      t(s, d, "customer")
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("sum_bal"))
        .orderBy("r_name")
    }),

    "q_antijoin" -> ((s, d) => {
      // U2/S8: customers with no orders — the seen-set anti-join shape
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey")
        .orderBy("c_custkey")
        .limit(1000)
    }),

    "q_semijoin" -> ((s, d) => {
      t(s, d, "customer")
        .join(t(s, d, "orders").filter(col("o_orderstatus") === "F"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey")
        .orderBy("c_custkey")
        .limit(1000)
    }),

    // ---------------- set ops (U1-U3) ---------------------------------------
    "q_union_dedup" -> ((s, d) => {
      t(s, d, "orders").select(col("o_custkey").as("k"))
        .union(t(s, d, "customer").select(col("c_custkey").as("k")))
        .distinct()
        .orderBy("k")
        .limit(2000)
    }),

    "q_except" -> ((s, d) => {
      t(s, d, "supplier").select(col("s_suppkey").as("k"))
        .except(t(s, d, "lineitem").select(col("l_suppkey").as("k")))
        .orderBy("k")
    }),

    // ---------------- sorts / top-k / windows (T/N ops) --------------------
    "q_topk" -> ((s, d) => {
      t(s, d, "documents")
        .select("doc_id", "n_chars")
        .orderBy(desc("n_chars"), asc("doc_id"))
        .limit(50)
    }),

    "q_window_politeness" -> ((s, d) => {
      // N1: per-key budget via row_number — the politeness window shape
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      t(s, d, "events")
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3 && col("user_id") < 200)
        .select("user_id", "event_id", "rn")
        .orderBy("user_id", "rn")
    }),

    "q_sessionize" -> ((s, d) =>
      T.sessionize(t(s, d, "events"), gapSeconds = 21600L)),

    // ---------------- text analysis ----------------------------------------
    "q_token_counts" -> ((s, d) =>
      T.tokenCounts(t(s, d, "documents"))
        .select(col("doc_id"), col("ws_tokens").cast("long").as("ws_tokens"),
          col("re_tokens").cast("long").as("re_tokens"),
          col("chars").cast("long").as("chars"))),

    "q_quality" -> ((s, d) => T.qualityScores(t(s, d, "documents"))),

    "q_lang_id" -> ((s, d) => T.langId(t(s, d, "documents"))),

    // ---------------- deduplication -----------------------------------------
    "q_dedup_exact" -> ((s, d) => T.exactDupSummary(t(s, d, "documents"))),

    "q_dedup_groups" -> ((s, d) => T.exactDupGroups(t(s, d, "documents"))),

    "q_jaccard_pairs" -> ((s, d) =>
      T.jaccardPairs(t(s, d, "documents"), threshold = 0.4)),

    "q_minhash_lsh" -> ((s, d) => T.minhashLshPairs(t(s, d, "documents"))),

    // near-dup CLUSTERS: connected components (HashMin propagation) over
    // the Jaccard pair graph — keeper = min doc_id per component; the
    // oracle recomputes the same components with a recursive
    // transitive-closure CTE over the identical pair list
    "q_dedup_clusters" -> ((s, d) =>
      T.dupClusters(T.jaccardPairs(t(s, d, "documents"), threshold = 0.4))),

    "q_simhash" -> ((s, d) => T.simhashes(t(s, d, "documents"))),

    "q_simhash_pairs" -> ((s, d) =>
      T.simhashPairs(t(s, d, "documents"), maxHamming = 6)),

    // the PRODUCTION banding scheme (block-PAIR keys for the 10¹¹-doc
    // regime) run end-to-end against the same brute-force-all-pairs oracle
    // as q_simhash_pairs — proving the block-pair candidate generation is
    // complete at h=6, not just plan-shape-equivalent
    "q_simhash_pairs_2stage" -> ((s, d) => {
      val sims = t(s, d, "documents")
        .select(col("doc_id"), array(gfn.simhash_md5(T.wsTokens(col("text")))).as("sh"))
      T.hammingPairs(sims, nbits = 64, radius = 6, blockPairs = true)
    }),

    "q_winnow_pairs" -> ((s, d) =>
      T.winnowPairs(t(s, d, "documents"), minShared = 60)),

    // ---------------- similarity search -------------------------------------
    "q_cosine_topk" -> ((s, d) =>
      T.bruteForceCosineTopK(t(s, d, "embeddings"), Seq(0L, 1L, 2L), k = 10)),

    "q_quantize" -> ((s, d) => T.quantizeEmbeddings(t(s, d, "embeddings"))),

    // the approximate ANN path as a MEASURED gate (r5 verdict #2): emit
    // per-query recall@10 of the nprobe=3 IVF result against the in-query
    // brute-force exact top-10, plus a ≥0.9 floor flag, on the derived
    // clustered corpus (see annClusteredEmbeddings for why the raw table
    // cannot carry a recall floor). The oracle pins the expected rows
    // (recall 1.0), so a quality regression hash-mismatches instead of
    // hiding behind a no_oracle null row.
    "q_ann_ivf" -> ((s, d) =>
      T.ivfRecallGate(annClusteredEmbeddings(s, d), Seq(0L, 1L, 2L), k = 10)),

    // the IVF machinery driven at nprobe = ∞: probing every cell is
    // provably identical to brute force (every vector is scored), so the
    // SAME k-means + cell-routing + top-k code path gets a real DuckDB
    // hash-match (q_cosine_topk's oracle) — closing the last no_oracle
    // row; q_ann_ivf above stays the honest approximate sibling
    "q_ann_fullprobe" -> ((s, d) =>
      T.ivfCosineTopK(t(s, d, "embeddings"), Seq(0L, 1L, 2L), k = 10,
        nprobe = Int.MaxValue)),

    // embedding-cosine near-dup pairs: exact all-pairs baseline (the LSH
    // scale path is cosineDupPairsLsh, recall-fixture-tested in OpsSpec)
    "q_cosine_pairs" -> ((s, d) =>
      T.cosineDupPairsExact(t(s, d, "embeddings"), threshold = 0.4)),

    // the SRP-LSH research-threshold path against the SAME exact-all-pairs
    // oracle, fully AUTO: threshold 0.4 needs a 4σ radius of 40 on 64 bits
    // (srpRadiusForN(0.4, 64)) — past the pigeonhole collapse bound 31,
    // where a 64-bit radius-30 gate measured 893/920 at sf0.1. The auto
    // path picks a 128-bit sketch there (relative σ halves ⇒
    // srpRadiusForN(0.4, 128) = 70 IS a guaranteed-recall radius) and the
    // gate hash-matches the exact oracle at BOTH scales. Production
    // corpora dedup at cos ≥ 0.85-0.95, on the 64-bit block-pair branch
    // (q_cosine_pairs_lsh_prod below).
    "q_cosine_pairs_lsh" -> ((s, d) =>
      T.cosineDupPairsLsh(t(s, d, "embeddings"), threshold = 0.4)),

    // the PRODUCTION-threshold SRP-LSH regime: cos ≥ 0.9 at the
    // AUTO-CALIBRATED radius (srpRadiusForN(0.9, 64) = 21 — boundary mean
    // 9.2 + 4σ). The generated
    // embeddings table has no high-cosine pairs (max 0.51/0.60), so the
    // gate derives a near-dup corpus DETERMINISTICALLY inside the query:
    // each vector unioned with an elementwise (+0.05 in double, cast back
    // to float) copy at vec_id+1_000_000 — pure IEEE add/cast, so DuckDB
    // derives bit-identical vectors. The pairs sit at the band's BOTTOM
    // edge (cos 0.9165-0.9535) — exactly where the old fixed radius 16
    // measurably leaked (1995/2000 at sf0.1). Hash-match vs the exact
    // all-pairs oracle ⇒ the auto radius delivers recall 1.0 at the
    // threshold boundary, at both sf0.01 and sf0.1.
    "q_cosine_pairs_lsh_prod" -> ((s, d) =>
      T.cosineDupPairsLsh(prodDupEmbeddings(s, d), threshold = 0.9)),

    // ---------------- crawl / rank / search (fixture-tested; no SQL form) ---
    "q_crawl_seen" -> ((s, _) => {
      val (_, crawl) = crawlDemo(s)
      crawl.seen.select("url", "depth").orderBy("url")
    }),

    "q_serp" -> ((s, _) => {
      Searcher.search(s, demoPrepared(s), "\"hong kong\" research")
    }),

    "q_serp_details" -> ((s, _) => {
      // J7/T4/F12: full metadata block (top-5 terms, parent/child lists,
      // HKT-rendered dates) on the top-10 of a query. The driver-facing
      // projection stringifies the url lists (the compare harness hashes
      // values and chokes on arrays); the ARRAY form stays on serpDetails
      // and its ScalaTest fixture.
      val prepared = demoPrepared(s)
      val serp = Searcher.search(s, prepared, "research systems", topK = 10)
      Searcher.serpDetails(prepared, serp)
        .select(col("rank"), col("url_id"), col("url"), col("title"),
          col("last_modified_hkt"), col("size_bytes"),
          concat_ws(",", col("parent_urls")).as("parent_urls"),
          concat_ws(",", col("child_urls")).as("child_urls"))
    }),

    "q_extract_invariant" -> ((s, _) => {
      // the per-row invariant of BASELINE.json:input_hint — extract_text(html)
      // byte-identical to pages.text for every corpus row
      demoPages(s).select(col("url"),
          (gfn.extract_text(col("html")) === col("text")).as("byte_identical"))
        .orderBy("url")
    }),

    "q_crawl_polite" -> ((s, _) => {
      // politeness budget + robots: discovered-but-never-fetched urls stay
      // in the frontier (deterministic; fixture-matched to the oracle).
      // Runs on the demo pipeline session (fixture-scale corpus — see
      // demoSession) like the main demo crawl.
      val s2 = demoSession(s)
      val pages = demoPages(s2).cache()
      val crawl = Crawler.run(s2, pages, CrawlConfig(
        Seq(TestCorpus.seedUrl), TestCorpus.filterPrefix,
        hostBudget = 2, respectRobots = true))
      crawl.frontier.select("url", "depth").orderBy("url")
    }),

    "q_pagerank" -> ((s, _) => {
      val (_, ranks) = demoIndex(s)
      ranks.withColumn("rank", gfn.round_exact(col("rank"), 6)).orderBy("url_id")
    }),

    // ---------------- multimodal plumbing (real PNG headers + stub) ---------
    "q_multimodal_meta" -> ((s, _) => {
      val meta = Multimodal.extractFeatures(
        demoPages(s).unionByName(mediaPages(s)))
      meta.toDF().select(col("url"), col("n_bytes"), col("width"), col("height"),
        col("n_frames")).orderBy("url")
    }),

    "q_multimodal_frames" -> ((s, _) => {
      val meta = Multimodal.extractFeatures(
        demoPages(s).unionByName(mediaPages(s)))
      Multimodal.sampleFrames(meta).orderBy("url", "frame_no")
    }),

    // REAL pixel decode (round-4 verdict item 4, widened round 6): the
    // pix*.png rows carry genuine zlib-deflated, per-scanline-filtered
    // pixel data cycling all three 8-bit color types (RGBA/RGB/gray),
    // the anim*.gif rows carry genuine LZW-compressed first frames (one
    // interlaced), and the photo_px*.jpg rows carry genuine entropy-coded
    // JPEG scans (decoded by the JDK's ImageIO codec); the feature
    // columns below are computed from the DECODED pixels (channel means,
    // luma stats, gradient energies — Multimodal.pixelFeature), not the
    // stub. The oracle pins the expected values from the same pure decode
    // driver-side, verifying the distributed path reproduces them.
    "q_multimodal_pixels" -> ((s, _) => {
      val meta = Multimodal.extractFeatures(mediaPages(s))
      val f = meta.toDF().filter(col("url").startsWith("https://cdn.test/pix")
        || col("url").startsWith("https://cdn.test/anim")
        || col("url").startsWith("https://cdn.test/photo_px"))
      (0 until 8).foldLeft(
        f.select(col("url"), col("width"), col("height"), col("feature"))) {
          (df, i) => df.withColumn(s"f$i",
            gfn.round_exact(element_at(col("feature"), i + 1), 6))
        }
        .drop("feature").orderBy("url")
    })
  )

  // ======================================================================
  // DuckDB oracles — identical semantics, names, types, rounding, ordering
  // ======================================================================
  def oracleSql: Map[String, String] = oracleSqlBase ++ Map(
    // the scale-path variants must produce IDENTICAL output to their exact
    // siblings on this corpus (complete banding / recall-1.0 radius), so
    // they share the sibling's oracle verbatim
    "q_simhash_pairs_2stage" -> oracleSqlBase("q_simhash_pairs"),
    "q_cosine_pairs_lsh" -> oracleSqlBase("q_cosine_pairs"),
    // production-threshold LSH gate: EXACT all-pairs at cos ≥ 0.9 over the
    // same derived near-dup corpus (base ∪ +0.05-shifted copies, the band
    // bottom) — a hash-match proves the auto-calibrated radius recalls 1.0
    // at the threshold boundary
    "q_cosine_pairs_lsh_prod" ->
      """WITH base AS (SELECT vec_id, embedding FROM embeddings),
        |pert AS (
        |  SELECT vec_id + 1000000 AS vec_id,
        |         list_transform(embedding,
        |           x -> CAST(CAST(x AS DOUBLE) + 0.05 AS FLOAT)) AS embedding
        |  FROM base),
        |e AS (SELECT * FROM base UNION ALL SELECT * FROM pert),
        |flat AS (
        |  SELECT x.vec_id AS a, y.vec_id AS b,
        |         unnest(x.embedding) AS xa, unnest(y.embedding) AS yb
        |  FROM e x JOIN e y ON x.vec_id < y.vec_id),
        |dots AS (
        |  SELECT a, b, SUM(CAST(xa AS DOUBLE)*CAST(yb AS DOUBLE)) AS dot,
        |         SUM(CAST(xa AS DOUBLE)*CAST(xa AS DOUBLE)) AS na,
        |         SUM(CAST(yb AS DOUBLE)*CAST(yb AS DOUBLE)) AS nb
        |  FROM flat GROUP BY 1,2)
        |SELECT a, b, cos FROM (
        |  SELECT a, b, FLOOR(dot/(SQRT(na)*SQRT(nb)) * 10000.0 + 0.5) / 10000.0 AS cos
        |  FROM dots)
        |WHERE cos >= 0.9
        |ORDER BY a, b""".stripMargin,
    // full-probe IVF ≡ brute force (every cell probed ⇒ every vector
    // scored ⇒ identical top-k), so it shares the exact oracle verbatim
    "q_ann_fullprobe" -> oracleSqlBase("q_cosine_topk"),
    // measured IVF recall gate: Spark emits the MEASURED per-query
    // recall@10 (+ ≥0.9 floor flag) on the derived clustered corpus; the
    // oracle pins the expected quality (recall 1.0 — the true top-10 are
    // the planted near-copies co-located in the query's cell). A routing
    // or probe-order regression produces different numbers ⇒ hash red.
    "q_ann_ivf" ->
      """SELECT * FROM (VALUES
        |  (CAST(0 AS BIGINT), CAST(1.0 AS DOUBLE), true),
        |  (CAST(1 AS BIGINT), CAST(1.0 AS DOUBLE), true),
        |  (CAST(2 AS BIGINT), CAST(1.0 AS DOUBLE), true))
        |  t(query_id, recall, floor_met)
        |ORDER BY query_id""".stripMargin,
    "q_dedup_clusters" -> dedupClustersOracleSql,
    "q_crawl_seen" -> crawlSeenOracleSql,
    "q_pagerank" -> pagerankOracleSql,
    "q_crawl_polite" -> crawlPoliteOracleSql,
    "q_serp" -> serpOracleSql,
    "q_serp_details" -> serpDetailsOracleSql,
    "q_extract_invariant" -> extractInvariantOracleSql,
    "q_multimodal_meta" -> multimodalMetaOracleSql,
    "q_multimodal_frames" -> multimodalFramesOracleSql,
    "q_multimodal_pixels" -> multimodalPixelsOracleSql)

  // --------------------------------------------------------------------
  // Self-contained oracles for the crawl/rank gates (VERDICT r2 next #4).
  // The demo corpus generator and the per-page link pipeline are PURE
  // Scala (no Spark), so the oracle SQL embeds the page-level edge list
  // as a VALUES table — always in sync with the corpus, no pinned dump —
  // and recomputes BFS reachability / PageRank in plain (recursive) SQL.
  // What this verifies independently: the crawler's distributed frontier
  // state machine (seen set, min-discovery-depth) and the 40-iteration
  // PageRank join-aggregate INCLUDING the url→dense-id dictionary. Link
  // extraction itself is verified separately (q_extract_invariant +
  // HtmlSpec byte-identity).
  // --------------------------------------------------------------------

  private def sqlStr(s: String): String = "'" + s.replace("'", "''") + "'"

  /** q_dedup_clusters oracle: the engine's HashMin connected components
    * recomputed INDEPENDENTLY as a recursive transitive-closure CTE over
    * the IDENTICAL pair list (the q_jaccard_pairs oracle embedded as a
    * named subquery, ORDER BY stripped): cluster_id(v) = min over
    * everything reachable from v (including v). Transitive closure is
    * O(V·E) — fine at oracle scale; the engine side is the scalable
    * label-propagation form. */
  private lazy val dedupClustersOracleSql: String = {
    val jp = oracleSqlBase("q_jaccard_pairs").replace("\nORDER BY a, b", "")
    s"""WITH RECURSIVE jp AS (
       |$jp
       |),
       |edges(src, dst) AS (
       |  SELECT a, b FROM jp UNION ALL SELECT b, a FROM jp),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst)
       |SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
       |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin
  }

  /** q_serp oracle: the full SERP (crawl → index → 40-iteration PageRank →
    * query scoring → top-50) computed by the INDEPENDENT sequential
    * reference oracle (graft.oracle.ReferenceOracle — pure Scala, no
    * Spark) and pinned as VALUES. The driver's 1e-9 float tolerance
    * absorbs distributed-vs-sequential summation-order ulps; the ScalaTest
    * fixtures already hold this bound for every score component. */
  private lazy val serpOracleSql: String = {
    import graft.oracle.{ReferenceOracle => RO}
    val crawl = RO.crawl(demoCorpus,
      RO.CrawlParams(Seq(TestCorpus.seedUrl), TestCorpus.filterPrefix))
    val index = RO.buildIndex(demoCorpus, crawl.seen, TestCorpus.filterPrefix)
    val ranks = RO.pageRank(index, 40)
    val res = RO.search("\"hong kong\" research", index, ranks, 50)
    val rows = res.map { case (rank, s) =>
      val url = index.urlsById(s.urlId.toInt)
      val title = index.titles(s.urlId)
      s"($rank, ${s.urlId}, ${sqlStr(url)}, ${s.total}, ${s.cos}, ${s.pr}, " +
        s"${s.title}, ${sqlStr(title)})"
    }.mkString(", ")
    s"""SELECT CAST(rank AS INT) AS rank, CAST(url_id AS BIGINT) AS url_id, url,
       |  CAST(total AS DOUBLE) AS total, CAST(cos AS DOUBLE) AS cos,
       |  CAST(pr AS DOUBLE) AS pr, CAST(title_score AS DOUBLE) AS title_score,
       |  title
       |FROM (VALUES $rows) AS t(rank, url_id, url, total, cos, pr, title_score, title)
       |ORDER BY rank""".stripMargin
  }

  /** q_serp_details oracle: the driver-facing metadata block (top-10 of
    * "research systems" with titles, HKT-rendered last-modified chain,
    * sizes, sorted parent/child url lists) assembled in pure Scala from
    * the sequential oracle's index. The F9 date chain (warc_ts →
    * copyright paragraph → 1990-01-01 default) reuses the expression
    * kernel `ExprImpl.extractCopyrightDateMicros`, whose semantics are
    * independently pinned by HtmlSpec; what THIS oracle verifies is the
    * distributed multi-join assembly (J7/T4/F12). */
  private lazy val serpDetailsOracleSql: String = {
    import graft.oracle.{ReferenceOracle => RO}
    val crawl = RO.crawl(demoCorpus,
      RO.CrawlParams(Seq(TestCorpus.seedUrl), TestCorpus.filterPrefix))
    val index = RO.buildIndex(demoCorpus, crawl.seen, TestCorpus.filterPrefix)
    val ranks = RO.pageRank(index, 40)
    val serp = RO.search("research systems", index, ranks, 10)
    val pageByUrl = demoCorpus.map(p => p.url -> p).toMap
    val parents: Map[Long, Vector[Long]] = index.links.toVector
      .flatMap { case (src, dsts) => dsts.map(d => d -> src) }
      .groupBy(_._1).map { case (d, v) => d -> v.map(_._2) }
    val hktFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    val defaultMicros =
      java.time.LocalDateTime.of(1990, 1, 1, 0, 0, 0)
        .toInstant(java.time.ZoneOffset.UTC).getEpochSecond * 1000000L
    val rows = serp.map { case (rank, s) =>
      val id = s.urlId
      val url = index.urlsById(id.toInt)
      val page = pageByUrl.get(url)
      val micros: Long = page match {
        case Some(p) if p.warc_ts != null => p.warc_ts.getTime * 1000L
        case Some(p) =>
          val c = graft.functions.ExprImpl.extractCopyrightDateMicros(p.html)
          if (c != null) c.longValue() else defaultMicros
        case None => defaultMicros
      }
      val hkt = java.time.Instant
        .ofEpochSecond(micros / 1000000L, (micros % 1000000L) * 1000L)
        .atZone(java.time.ZoneId.of("Asia/Hong_Kong")).format(hktFmt)
      val size = page.map(_.html.length).getOrElse(0)
      val children = index.links.getOrElse(id, Vector.empty)
        .map(d => index.urlsById(d.toInt)).sorted.mkString(",")
      val parentCsv = parents.getOrElse(id, Vector.empty)
        .map(src => index.urlsById(src.toInt)).sorted.mkString(",")
      s"($rank, $id, ${sqlStr(url)}, ${sqlStr(index.titles(id))}, " +
        s"${sqlStr(hkt)}, $size, ${sqlStr(parentCsv)}, ${sqlStr(children)})"
    }.mkString(", ")
    s"""SELECT CAST(rank AS INT) AS rank, CAST(url_id AS BIGINT) AS url_id,
       |  url, title, last_modified_hkt, CAST(size_bytes AS INT) AS size_bytes,
       |  parent_urls, child_urls
       |FROM (VALUES $rows)
       |  AS t(rank, url_id, url, title, last_modified_hkt, size_bytes,
       |       parent_urls, child_urls)
       |ORDER BY rank""".stripMargin
  }

  /** The extraction invariant (BASELINE.json:input_hint) pinned as a real
    * hash-matched oracle: the expected output is `true` for EVERY corpus
    * url by construction, so the oracle enumerates (url, true) — a driver
    * compare then FAILS if any distributed extraction drifts from the
    * generator's text (the previous rows-only check could not see a
    * false). */
  private lazy val extractInvariantOracleSql: String = {
    val rows = demoCorpus.map(p => s"(${sqlStr(p.url)}, true)").mkString(", ")
    s"""SELECT url, byte_identical FROM (VALUES $rows) AS t(url, byte_identical)
       |ORDER BY url""".stripMargin
  }

  /** Multimodal oracles: the decode dispatch (PNG IHDR parse + stub
    * fallback) and the frame-hash chain are PURE functions, so the oracle
    * pins the exact expected table computed driver-side — verifying the
    * distributed mapPartitions/posexplode plumbing reproduces it. */
  private lazy val multimodalExpected: Vector[Multimodal.MediaMeta] =
    (demoCorpus ++ mediaCorpus).map { p =>
      val b = if (p.html == null) Array.empty[Byte] else p.html
      val (w, h, f, feat) = Multimodal.decode(b)
      var hash = 1125899906842597L
      var i = 0
      while (i < b.length) { hash = hash * 31 + (b(i) & 0xff); i += 1 }
      Multimodal.MediaMeta(p.url, b.length, hash, w, h, f, feat)
    }.toVector

  private lazy val multimodalMetaOracleSql: String = {
    val rows = multimodalExpected.map(m =>
      s"(${sqlStr(m.url)}, ${m.n_bytes}, ${m.width}, ${m.height}, ${m.n_frames})")
      .mkString(", ")
    s"""SELECT url, CAST(n_bytes AS INT) AS n_bytes, CAST(width AS INT) AS width,
       |  CAST(height AS INT) AS height, CAST(n_frames AS INT) AS n_frames
       |FROM (VALUES $rows) AS t(url, n_bytes, width, height, n_frames)
       |ORDER BY url""".stripMargin
  }

  private lazy val multimodalFramesOracleSql: String = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val rows = multimodalExpected.flatMap { m =>
      (0 until m.n_frames).map { fno =>
        // xxhash64(frame_seed BIGINT, frame_no INT), seed 42 — the exact
        // hash chain Spark's xxhash64 computes
        val h = XXH64.hashInt(fno, XXH64.hashLong(m.content_hash, 42L))
        s"(${sqlStr(m.url)}, ${m.width}, ${m.height}, $fno, CAST($h AS BIGINT))"
      }
    }.mkString(", ")
    s"""SELECT url, CAST(width AS INT) AS width, CAST(height AS INT) AS height,
       |  CAST(frame_no AS INT) AS frame_no, frame_hash
       |FROM (VALUES $rows) AS t(url, width, height, frame_no, frame_hash)
       |ORDER BY url, frame_no""".stripMargin
  }

  /** q_multimodal_pixels oracle: expected feature vectors from the SAME
    * pure pixel decode (inflate + de-filter + pixelFeature) driver-side,
    * 6dp-rounded with the bit-portable roundExact on BOTH sides; doubles
    * are emitted as CAST('<shortest-repr>' AS DOUBLE) so DuckDB's literal
    * parse cannot skew them. */
  private lazy val multimodalPixelsOracleSql: String = {
    import graft.functions.ExprImpl
    val rows = multimodalExpected
      .filter(m => m.url.startsWith("https://cdn.test/pix")
        || m.url.startsWith("https://cdn.test/anim")
        || m.url.startsWith("https://cdn.test/photo_px"))
      .map { m =>
        val fs = m.feature.map(v =>
          s"CAST('${ExprImpl.roundExact(v, 6)}' AS DOUBLE)").mkString(", ")
        s"(${sqlStr(m.url)}, ${m.width}, ${m.height}, $fs)"
      }.mkString(", ")
    val fCols = (0 until 8).map(i => s"f$i").mkString(", ")
    s"""SELECT url, CAST(width AS INT) AS width, CAST(height AS INT) AS height,
       |  $fCols
       |FROM (VALUES $rows) AS t(url, width, height, $fCols)
       |ORDER BY url""".stripMargin
  }

  /** q_crawl_polite oracle: the politeness/robots crawl unrolled as
    * per-round MATERIALIZED CTEs. Static facts come from pure Scala — the
    * edge list (self=true), and per-url (host, disallowed) where
    * `disallowed` replicates the engine's robots semantics (Disallow:
    * prefixes parsed per host from the corpus robots.txt pages, matched
    * against the url path; hosts without rules allow all). Each round:
    * candidates = frontier minus disallowed → per-host top-B by
    * (depth, url) via row_number → fetch through the edge list with
    * min-discovery-depth → anti-join seen → frontier = unselected
    * remainder + non-seed discoveries. Rounds past the fixpoint are
    * no-ops, so unrolling a fixed 14 is safe for this corpus (the engine
    * stops at ~7). Output = the final frontier: discovered-but-
    * never-fetched urls (robots-blocked leftovers). */
  private lazy val crawlPoliteOracleSql: String = {
    val budget = 2
    val nRounds = politeOracleRounds
    // robots: host → disallow prefixes (engine semantics, robotsTable)
    val robots: Map[String, Vector[String]] = demoCorpus
      .filter(_.url.endsWith("/robots.txt"))
      .map { p =>
        val host = UrlCanon.hostOf(p.url)
        val prefixes = new String(p.html, java.nio.charset.StandardCharsets.UTF_8)
          .split("\n").map(_.trim)
          .filter(_.toLowerCase.startsWith("disallow:"))
          .map(_.substring(9).trim).filter(_.nonEmpty).toVector
        host -> prefixes
      }.toMap
    val edges = demoEdges(self = true)
    val allUrls = (edges.flatMap(e => Seq(e._1, e._2)) :+ TestCorpus.seedUrl).distinct
    val urlRows = allUrls.map { u =>
      val host = UrlCanon.hostOf(u)
      val dis = robots.getOrElse(host, Vector.empty)
        .exists(p => UrlCanon.pathOf(u).startsWith(p))
      s"(${sqlStr(u)}, ${sqlStr(host)}, $dis)"
    }.mkString(", ")
    val seedList = sqlStr(TestCorpus.seedUrl)
    val rounds = (1 to nRounds).map { k =>
      s"""sel_$k AS MATERIALIZED (
         |  SELECT url, depth FROM (
         |    SELECT f.url, f.depth,
         |      row_number() OVER (PARTITION BY u.host ORDER BY f.depth, f.url) AS rn
         |    FROM fr_${k - 1} f JOIN urls u USING (url) WHERE NOT u.disallowed)
         |  WHERE rn <= $budget),
         |new_$k AS MATERIALIZED (
         |  SELECT l.url, l.depth FROM (
         |    SELECT e.dst AS url, MIN(s.depth + 1) AS depth
         |    FROM sel_$k s JOIN edges e ON e.src = s.url GROUP BY e.dst) l
         |  WHERE NOT EXISTS (SELECT 1 FROM seen_${k - 1} x WHERE x.url = l.url)),
         |seen_$k AS MATERIALIZED (
         |  SELECT url, depth FROM seen_${k - 1}
         |  UNION ALL SELECT url, depth FROM new_$k),
         |fr_$k AS MATERIALIZED (
         |  SELECT f.url, f.depth FROM fr_${k - 1} f
         |  WHERE NOT EXISTS (SELECT 1 FROM sel_$k s WHERE s.url = f.url)
         |  UNION ALL SELECT url, depth FROM new_$k WHERE url NOT IN ($seedList))""".stripMargin
    }.mkString(",\n")
    s"""WITH edges(src, dst) AS (
       |  SELECT * FROM (VALUES ${edgeValues(edges)}) AS t(src, dst)),
       |urls(url, host, disallowed) AS (
       |  SELECT * FROM (VALUES $urlRows) AS t(url, host, disallowed)),
       |fr_0 AS (SELECT $seedList AS url, 0 AS depth),
       |seen_0 AS (SELECT url, depth FROM fr_0 WHERE 1 = 0),
       |$rounds
       |SELECT url, CAST(depth AS INT) AS depth FROM fr_$nRounds ORDER BY url""".stripMargin
  }

  /** q_lang_id oracle, GENERATED from [[T.LangProfiles]] so the two sides
    * cannot drift: identical per-word occurrence counts (length-delta of a
    * delimited replace — exact integer-valued doubles), identical argmax
    * chain (each arm compares >= against LATER profiles only, so ties
    * break by profile order in both engines), identical 0.02 floor. */
  private lazy val langIdOracleSql: String = {
    val profiles = T.LangProfiles
    val rawCols = profiles.map { case (l, ws) =>
      val occ = ws.map { w =>
        val tok = s" $w "
        s"(length(text) - length(replace(lower(text), '$tok', ''))) / ${tok.length}"
      }.mkString("\n           + ")
      s"(${occ}) / toks AS ${l}_raw"
    }
    val scoreSel = profiles.map { case (l, _) =>
      s"FLOOR(${l}_raw * 10000.0 + 0.5) / 10000.0 AS ${l}_score" }
    val arms = profiles.zipWithIndex.map { case ((l, _), i) =>
      val later = profiles.drop(i + 1).map { case (m, _) => s"${l}_raw >= ${m}_raw" }
      s"WHEN ${(later :+ s"${l}_raw > 0.02").mkString(" AND ")} THEN '$l'"
    }.mkString("\n       ")
    s"""SELECT doc_id, lang,
       |  ${scoreSel.mkString(",\n  ")},
       |  CASE $arms
       |       ELSE 'other' END AS predicted
       |FROM (SELECT doc_id, lang,
       |  ${rawCols.mkString(",\n  ")}
       |  FROM (SELECT doc_id, lang, text,
       |          GREATEST(CAST(len(list_filter(string_split(text,' '), x -> x <> '')) AS DOUBLE), 1.0) AS toks
       |        FROM documents))
       |ORDER BY doc_id""".stripMargin
  }

  /** page-level canonical edges; `self` mirrors the crawler (true) vs the
    * indexer (false) extraction flag. */
  private def demoEdges(self: Boolean): Vector[(String, String)] =
    demoCorpus.flatMap { p =>
      UrlCanon.extractLinks(Html.parseBytes(p.html).hrefs, p.url,
        TestCorpus.filterPrefix, self).map(dst => (p.url, dst))
    }.toVector

  private def edgeValues(edges: Vector[(String, String)]): String =
    edges.map { case (s, d) => s"(${sqlStr(s)}, ${sqlStr(d)})" }.mkString(", ")

  /** seen set ≡ BFS reachability over the crawl edge list: a url is seen
    * iff some fetched page links to it (depth ≥ 1 path from the seed; the
    * seed itself re-enters seen only via a back-link), and its depth is
    * the minimum discovery depth — level-synchronous BFS makes discovery
    * round = shortest link distance. UNION-distinct recursion terminates;
    * the depth < 40 guard bounds cycle re-walks (corpus diameter ≪ 40). */
  private lazy val crawlSeenOracleSql: String =
    s"""WITH RECURSIVE edges(src, dst) AS (
       |  SELECT * FROM (VALUES ${edgeValues(demoEdges(self = true))}) AS t(src, dst)),
       |reach(url, depth) AS (
       |  SELECT ${sqlStr(TestCorpus.seedUrl)} AS url, 0 AS depth
       |  UNION
       |  SELECT e.dst, r.depth + 1 FROM reach r JOIN edges e ON e.src = r.url
       |  WHERE r.depth < 40)
       |SELECT url, CAST(MIN(depth) AS INT) AS depth FROM reach
       |WHERE depth >= 1 GROUP BY url ORDER BY url""".stripMargin

  /** full rank chain in SQL: seen set (as above) → lexicographic dense ids
    * (T1) → adjacency through the dict (J1 silent-drop inner join, self
    * links dropped at extraction) → 40 unrolled PageRank iterations with
    * the reference's semantics (d=0.85, base 0.15, init 1.0, no dangling
    * redistribution — SpiderMain.kt:225-239). */
  private lazy val pagerankOracleSql: String = {
    // MATERIALIZED: DuckDB inlines plain CTE references, so 40 chained
    // iterations nest the binder past its 128-deep recursion limit;
    // materializing each iteration keeps binding flat (and is also how a
    // real engine would execute the power iteration)
    val iters = (1 to 40).map { k =>
      s"""r$k AS MATERIALIZED (SELECT d.url_id, 0.15 + 0.85 * COALESCE((
         |  SELECT SUM(r.rank / o.od) FROM ilinks l
         |  JOIN outd o ON l.src = o.src JOIN r${k - 1} r ON r.url_id = l.src
         |  WHERE l.dst = d.url_id), 0.0) AS rank FROM dict d)""".stripMargin
    }.mkString(",\n")
    s"""WITH RECURSIVE edges(src, dst) AS (
       |  SELECT * FROM (VALUES ${edgeValues(demoEdges(self = true))}) AS t(src, dst)),
       |reach(url, depth) AS (
       |  SELECT ${sqlStr(TestCorpus.seedUrl)} AS url, 0 AS depth
       |  UNION
       |  SELECT e.dst, r.depth + 1 FROM reach r JOIN edges e ON e.src = r.url
       |  WHERE r.depth < 40),
       |dict AS (
       |  SELECT url, CAST(row_number() OVER (ORDER BY url) - 1 AS BIGINT) AS url_id
       |  FROM (SELECT DISTINCT url FROM reach WHERE depth >= 1)),
       |iedges(src, dst) AS (
       |  SELECT * FROM (VALUES ${edgeValues(demoEdges(self = false))}) AS t(src, dst)),
       |ilinks AS (
       |  SELECT d1.url_id AS src, d2.url_id AS dst
       |  FROM iedges e JOIN dict d1 ON e.src = d1.url JOIN dict d2 ON e.dst = d2.url),
       |outd AS (SELECT src, COUNT(*) AS od FROM ilinks GROUP BY src),
       |r0 AS (SELECT url_id, CAST(1.0 AS DOUBLE) AS rank FROM dict),
       |$iters
       |SELECT url_id, FLOOR(rank * 1000000.0 + 0.5) / 1000000.0 AS rank FROM r40 ORDER BY url_id""".stripMargin
  }

  private def oracleSqlBase: Map[String, String] = Map(

    // the bucketed layout is an optimization, not a semantics change: the
    // oracle is the plain semi-join on the parquet table
    "q_bucketed_fetch" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id % 3 = 0 ORDER BY doc_id""".stripMargin,

    "q_scan_filter" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, l_quantity
        |FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '1995-06-17' AND l_discount > 0.05
        |ORDER BY l_orderkey, l_linenumber LIMIT 500""".stripMargin,

    "q_agg_groupby" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  COUNT(*) AS n_rows,
        |  FLOOR(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) * 10000.0 + 0.5) / 10000.0 AS avg_qty
        |FROM lineitem GROUP BY 1,2 ORDER BY 1,2""".stripMargin,

    "q_df_count" ->
      """WITH toks AS (
        |  SELECT DISTINCT doc_id, tok
        |  FROM (SELECT doc_id, unnest(list_filter(string_split(text,' '), x -> x <> '')) AS tok
        |        FROM documents))
        |SELECT tok, COUNT(*) AS df FROM toks GROUP BY tok
        |ORDER BY df DESC, tok LIMIT 200""".stripMargin,

    "q_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text,' '), x -> x <> '')) AS tok
        |  FROM documents),
        |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1,2),
        |df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n FROM documents)
        |SELECT tf.doc_id, tf.tok, tf.tf, df.df,
        |  FLOOR(CAST(tf.tf AS DOUBLE) * LN(CAST(n.n AS DOUBLE)/CAST(df.df AS DOUBLE)) / LN(2.0) * 10000.0 + 0.5) / 10000.0 AS tfidf
        |FROM tf JOIN df USING (tok) CROSS JOIN n
        |WHERE tf.doc_id < 50
        |ORDER BY doc_id, tok""".stripMargin,

    "q_join_revenue" ->
      """SELECT o_orderkey, o_orderpriority,
        |  CAST(SUM(CAST(FLOOR(l_extendedprice*(1.0-l_discount) * 100.0 + 0.5) / 100.0 AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1,2 ORDER BY revenue DESC, o_orderkey LIMIT 100""".stripMargin,

    "q_multijoin_dims" ->
      """SELECT r_name, COUNT(*) AS n_customers,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_antijoin" ->
      """SELECT c_custkey FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey LIMIT 1000""".stripMargin,

    "q_semijoin" ->
      """SELECT c_custkey FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY c_custkey LIMIT 1000""".stripMargin,

    "q_union_dedup" ->
      """SELECT DISTINCT k FROM (
        |  SELECT o_custkey AS k FROM orders UNION ALL SELECT c_custkey FROM customer)
        |ORDER BY k LIMIT 2000""".stripMargin,

    "q_except" ->
      """SELECT s_suppkey AS k FROM supplier
        |EXCEPT SELECT l_suppkey FROM lineitem ORDER BY k""".stripMargin,

    "q_topk" ->
      """SELECT doc_id, n_chars FROM documents
        |ORDER BY n_chars DESC, doc_id LIMIT 50""".stripMargin,

    "q_window_politeness" ->
      """SELECT user_id, event_id, rn FROM (
        |  SELECT user_id, event_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS rn
        |  FROM events)
        |WHERE rn <= 3 AND user_id < 200 ORDER BY user_id, rn""".stripMargin,

    "q_sessionize" ->
      """WITH gaps AS (
        |  SELECT user_id, event_id, value, epoch_us(ts) AS us,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |  FROM events),
        |marked AS (
        |  SELECT user_id, event_id, value, us,
        |    CASE WHEN prev_us IS NULL OR us - prev_us > 21600000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM gaps),
        |sess AS (
        |  SELECT user_id, event_id, value, us,
        |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
        |  FROM marked)
        |SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
        |  COUNT(*) AS n_events, MIN(us) AS start_us, MAX(us) AS end_us,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM sess GROUP BY user_id, session_no
        |ORDER BY user_id, session_no""".stripMargin,

    "q_token_counts" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split(text,' '), x -> x <> '')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS re_tokens,
        |  CAST(length(text) AS BIGINT) AS chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_quality" ->
      """SELECT doc_id,
        |  FLOOR(chars / GREATEST(toks, 1.0) * 10000.0 + 0.5) / 10000.0 AS mean_tok_len,
        |  FLOOR(punct / GREATEST(chars, 1.0) * 10000.0 + 0.5) / 10000.0 AS punct_ratio,
        |  FLOOR(thec / GREATEST(toks, 1.0) * 10000.0 + 0.5) / 10000.0 AS the_ratio,
        |  FLOOR((LEAST(chars/500.0, 1.0)*0.5
        |      + LEAST(thec/GREATEST(toks,1.0)*10.0, 1.0)*0.3
        |      + (1.0 - LEAST(punct/GREATEST(chars,1.0)*5.0, 1.0))*0.2) * 10000.0 + 0.5) / 10000.0 AS quality
        |FROM (SELECT doc_id,
        |        CAST(length(text) AS DOUBLE) AS chars,
        |        CAST(len(list_filter(string_split(text,' '), x -> x <> '')) AS DOUBLE) AS toks,
        |        CAST(length(text) - length(translate(text, '.,;:!?', '')) AS DOUBLE) AS punct,
        |        CAST((length(text) - length(replace(text, ' the ', ''))) / 5 AS DOUBLE) AS thec
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "q_lang_id" -> langIdOracleSql,

    "q_dedup_exact" ->
      """SELECT COUNT(*) AS total_docs, COUNT(DISTINCT md5(text)) AS distinct_docs
        |FROM documents""".stripMargin,

    "q_dedup_groups" ->
      """SELECT md5(text) AS h, COUNT(*) AS c, MIN(doc_id) AS keeper
        |FROM documents GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY h""".stripMargin,

    "q_jaccard_pairs" ->
      """WITH toksrc AS (
        |  SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS toks
        |  FROM documents),
        |tri AS (
        |  SELECT doc_id, unnest(list_distinct(list_filter(
        |    list_transform(toks, (x,i) -> CASE WHEN i+2 <= len(toks)
        |        THEN toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] END),
        |    s -> s IS NOT NULL))) AS shingle
        |  FROM toksrc),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tri GROUP BY 1),
        |inter AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS inter
        |  FROM tri x JOIN tri y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
        |  GROUP BY 1,2)
        |SELECT a, b, jaccard FROM (
        |  SELECT a, b,
        |    FLOOR(CAST(inter AS DOUBLE)/CAST(sa.sz + sb.sz - inter AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS jaccard
        |  FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b)
        |WHERE jaccard >= 0.4
        |ORDER BY a, b""".stripMargin,

    "q_minhash_lsh" ->
      """WITH toksrc AS (
        |  SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS toks
        |  FROM documents),
        |tri AS (
        |  SELECT doc_id, unnest(list_distinct(list_filter(
        |    list_transform(toks, (x,i) -> CASE WHEN i+2 <= len(toks)
        |        THEN toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] END),
        |    s -> s IS NOT NULL))) AS shingle
        |  FROM toksrc),
        |sig AS (
        |  SELECT doc_id,
        |    MIN(md5(shingle || '#salt0')) AS mh0, MIN(md5(shingle || '#salt1')) AS mh1,
        |    MIN(md5(shingle || '#salt2')) AS mh2, MIN(md5(shingle || '#salt3')) AS mh3,
        |    MIN(md5(shingle || '#salt4')) AS mh4, MIN(md5(shingle || '#salt5')) AS mh5
        |  FROM tri GROUP BY 1),
        |bands AS (
        |  SELECT doc_id, 0 AS band, mh0 || mh1 AS sig FROM sig
        |  UNION ALL SELECT doc_id, 1, mh2 || mh3 FROM sig
        |  UNION ALL SELECT doc_id, 2, mh4 || mh5 FROM sig)
        |SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
        |FROM bands l JOIN bands r ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id
        |ORDER BY a, b""".stripMargin,

    // portable SimHash: token hash = md5_number_lower (last 8 digest bytes,
    // little-endian) = graft's TextExprImpl.md5Lower64; +1/−1 bit votes;
    // signed fingerprint reconstructed in two's complement (bit 63 → −2^63)
    "q_simhash" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text,' '), x -> x <> '')) AS tok
        |  FROM documents),
        |votes AS (
        |  SELECT doc_id, b,
        |    SUM(CASE WHEN (md5_number_lower(tok) >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM toks CROSS JOIN (SELECT unnest(range(0,64)) AS b) bits
        |  GROUP BY 1,2)
        |SELECT doc_id,
        |  CAST(SUM(CASE WHEN v > 0 THEN
        |    CASE WHEN b = 63 THEN -9223372036854775808 ELSE (1::BIGINT << CAST(b AS INT)) END
        |    ELSE 0 END) AS BIGINT) AS simhash
        |FROM votes GROUP BY 1 ORDER BY doc_id""".stripMargin,

    // the oracle brute-forces ALL pairs (n=500 at sf0.01) — so it also
    // verifies the engine's (h+1)-block candidate generation is COMPLETE
    // for hamming <= 6, not just that surviving pairs are correct
    "q_simhash_pairs" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text,' '), x -> x <> '')) AS tok
        |  FROM documents),
        |votes AS (
        |  SELECT doc_id, b,
        |    SUM(CASE WHEN (md5_number_lower(tok) >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM toks CROSS JOIN (SELECT unnest(range(0,64)) AS b) bits
        |  GROUP BY 1,2),
        |fp AS (
        |  SELECT doc_id,
        |    SUM(CASE WHEN v > 0 THEN (1::UBIGINT << CAST(b AS INT)) ELSE 0::UBIGINT END) AS u
        |  FROM votes WHERE b < 63 GROUP BY doc_id),
        |fp64 AS (
        |  SELECT f.doc_id, f.u + CASE WHEN v63.v > 0 THEN 9223372036854775808::UBIGINT
        |                              ELSE 0::UBIGINT END AS u
        |  FROM fp f JOIN (SELECT doc_id, v FROM votes WHERE b = 63) v63 USING (doc_id))
        |SELECT x.doc_id AS a, y.doc_id AS b,
        |  CAST(bit_count(xor(x.u, y.u)) AS BIGINT) AS hamming
        |FROM fp64 x JOIN fp64 y ON x.doc_id < y.doc_id
        |WHERE bit_count(xor(x.u, y.u)) <= 6
        |ORDER BY a, b""".stripMargin,

    // portable winnowing (k=8 char-grams, window w=4): gram hash =
    // md5_number_lower two's-complemented; per-window list_min; distinct
    "q_winnow_pairs" ->
      """WITH grams AS (
        |  SELECT doc_id,
        |    list_transform(range(1, length(text)-8+2), i ->
        |      CAST(CAST(md5_number_lower(text[i:i+7]) AS HUGEINT) -
        |        CASE WHEN md5_number_lower(text[i:i+7]) >= 9223372036854775808::UBIGINT
        |             THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END AS BIGINT)) AS g
        |  FROM documents WHERE length(text) >= 8),
        |fps AS (
        |  SELECT doc_id,
        |    CASE WHEN len(g) <= 4 THEN [list_min(g)]
        |         ELSE list_sort(list_distinct(list_transform(range(0, len(g)-4+1), s ->
        |                list_min(g[s+1:s+4])))) END AS fps
        |  FROM grams),
        |fp AS (SELECT doc_id, unnest(fps) AS f FROM fps)
        |SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS shared
        |FROM fp x JOIN fp y ON x.f = y.f AND x.doc_id < y.doc_id
        |GROUP BY 1,2 HAVING COUNT(*) >= 60
        |ORDER BY a, b""".stripMargin,

    "q_quantize" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |s AS (
        |  SELECT vec_id, v,
        |    GREATEST(list_max(list_transform(v, x -> abs(x))), 1e-12) AS scale
        |  FROM e)
        |SELECT vec_id, FLOOR(scale * 1000000.0 + 0.5) / 1000000.0 AS scale,
        |  array_to_string(list_transform(v, x ->
        |    CAST(LEAST(GREATEST(ROUND(x * 127.0 / scale, 0), -127.0), 127.0) AS INT)),
        |    ',') AS codes
        |FROM s ORDER BY vec_id""".stripMargin,

    "q_cosine_pairs" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |flat AS (
        |  SELECT x.vec_id AS a, y.vec_id AS b,
        |         unnest(x.embedding) AS xa, unnest(y.embedding) AS yb
        |  FROM e x JOIN e y ON x.vec_id < y.vec_id),
        |dots AS (
        |  SELECT a, b, SUM(CAST(xa AS DOUBLE)*CAST(yb AS DOUBLE)) AS dot,
        |         SUM(CAST(xa AS DOUBLE)*CAST(xa AS DOUBLE)) AS na,
        |         SUM(CAST(yb AS DOUBLE)*CAST(yb AS DOUBLE)) AS nb
        |  FROM flat GROUP BY 1,2)
        |SELECT a, b, cos FROM (
        |  SELECT a, b, FLOOR(dot/(SQRT(na)*SQRT(nb)) * 10000.0 + 0.5) / 10000.0 AS cos
        |  FROM dots)
        |WHERE cos >= 0.4
        |ORDER BY a, b""".stripMargin,

    "q_cosine_topk" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |q AS (SELECT vec_id AS query_id, embedding AS qe FROM e WHERE vec_id IN (0,1,2)),
        |flat AS (
        |  SELECT q.query_id, e.vec_id, unnest(e.embedding) AS x, unnest(q.qe) AS y
        |  FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id),
        |dots AS (
        |  SELECT query_id, vec_id,
        |    SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
        |    SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS nx,
        |    SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS ny
        |  FROM flat GROUP BY 1,2),
        |scored AS (
        |  SELECT query_id, vec_id AS neighbor,
        |    FLOOR(dot / (SQRT(nx) * SQRT(ny)) * 10000.0 + 0.5) / 10000.0 AS cos
        |  FROM dots)
        |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor, cos FROM (
        |  SELECT query_id, neighbor, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor) AS rnk
        |  FROM scored)
        |WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin
  )
}
