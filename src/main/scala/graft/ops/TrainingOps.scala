package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.gfn

/** Large-scale training-data pipeline operators over the `documents` /
  * `embeddings` tables — first-class engine components beyond the
  * reference's own surface (deduplication, similarity search, text
  * analysis). Every SQL-expressible op here has a matching DuckDB oracle
  * in SparkEntry.oracleSql; hash choices (md5) are deliberately portable
  * so Spark and DuckDB compute IDENTICAL values.
  *
  * Scale notes: every pairwise op is bucketed (shingle / band / cell) so
  * the self-join is candidate-bounded instead of O(n²); aggregations are
  * map-side-combinable; doubles destined for the oracle compare are
  * rounded at the boundary.
  *
  * EAGERNESS CONTRACT: the pairwise dedup ops ([[jaccardPairs]],
  * [[minhashLshPairs]], [[simhashPairs]], [[hammingPairs]],
  * [[winnowPairs]], [[dupClusters]]), the candidate join of
  * [[cosineDupPairsLsh]] and [[ivfCosineTopK]] are ACTIONS, not lazy
  * transformations — constructing the result runs Spark jobs on the
  * caller's thread (the hot-key scan, an eager localCheckpoint / collect
  * that lets intermediate caches release immediately — cache-leak hygiene
  * in long-lived sessions outweighs plan composability here). Compose
  * further transformations on the returned (near-dup-sized) DataFrame
  * freely (the cosine verify join is one, over the eager candidates);
  * their executed plans are printed by `graft.Plans`. The purely lazy ops
  * (text analysis, [[quantizeEmbeddings]], [[cosineDupPairsExact]],
  * [[bruteForceCosineTopK]], [[sessionize]]) stay transformations.
  */
object TrainingOps {

  def documents(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
  def embeddings(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")

  /** whitespace tokens, empties dropped — `list_filter(string_split(…))`
    * in the DuckDB oracle. */
  def wsTokens(text: Column): Column =
    filter(split(text, " "), t => t =!= "")

  /** Spread a small-but-COMPUTE-HEAVY input across the cluster. A highly
    * compressed tiny file scans as ONE task, so every row-local kernel
    * downstream (shingling, k salted-md5 minima, rolling-hash winnowing)
    * runs on one core until the first shuffle — measured as the entire
    * q_minhash_lsh wall (5+ s of single-threaded md5 at sf0.1, while 31
    * cores idled). Repartitioning text that compresses 10:1 costs a few
    * MB of shuffle against minutes of serial CPU — the same trade a real
    * cluster makes for heavily-compressed web text (a 100 TB corpus in
    * 1 GB gzip'd WARC segments has exactly this shape). No-op when the
    * scan is already at least half as parallel as the cluster. */
  private def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 <= target) df.repartition(target) else df
  }

  // ------------------------------------------------------------------
  // text analysis
  // ------------------------------------------------------------------

  /** token counting: whitespace tokens + a BPE-ish `[a-z0-9]+` regex count. */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        size(wsTokens(col("text"))).as("ws_tokens"),
        size(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)))
          .as("re_tokens"),
        length(col("text")).as("chars"))
      .orderBy("doc_id")

  /** quality scoring: length, punctuation density, stopword-ish density,
    * mean token length. All expressible with portable string primitives. */
  def qualityScores(docs: DataFrame): DataFrame = {
    val chars = length(col("text")).cast("double")
    val toks = size(wsTokens(col("text"))).cast("double")
    val punct = (length(col("text")) -
      length(translate(col("text"), ".,;:!?", ""))).cast("double")
    val theCount = ((length(col("text")) -
      length(replace(col("text"), lit(" the "), lit("")))) / lit(5)).cast("double")
    // round_exact, not round(): at sf0.1 a quality value straddled a 4-dp
    // boundary between Spark's shortest-repr rounding and DuckDB's scaled
    // rounding — the floor-scaled form (ExprImpl.roundExact) is the one
    // semantics both engines compute bit-identically
    docs.select(col("doc_id"),
        gfn.round_exact(chars / greatest(toks, lit(1.0)), 4).as("mean_tok_len"),
        gfn.round_exact(punct / greatest(chars, lit(1.0)), 4).as("punct_ratio"),
        gfn.round_exact(theCount / greatest(toks, lit(1.0)), 4).as("the_ratio"),
        gfn.round_exact(
          least(chars / lit(500.0), lit(1.0)) * lit(0.5)
            + least(theCount / greatest(toks, lit(1.0)) * lit(10.0), lit(1.0)) * lit(0.3)
            + (lit(1.0) - least(punct / greatest(chars, lit(1.0)) * lit(5.0), lit(1.0))) * lit(0.2),
          4).as("quality"))
      .orderBy("doc_id")
  }

  /** Function-word profiles for the stopword-profile language id. Short,
    * high-frequency words only — the same portable occurrence-count
    * primitive (length-delta of a delimited replace) works in Spark and
    * the DuckDB oracle, so both engines compute IDENTICAL doubles and the
    * argmax needs no tolerance. Overlaps ("la" in fr AND es) are real
    * profile overlaps, resolved by the other words. */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "es" -> Seq("el", "la", "los", "que", "es"))

  /** language id v2: per-language function-word densities; predicted =
    * argmax profile score when it clears 0.02 function words per token,
    * else "other". Ties break by profile order (en, de, fr, es) — pinned
    * in both engines by identical comparison chains. */
  def langId(docs: DataFrame): DataFrame = {
    def occ(word: String): Column = {
      val token = s" $word "
      ((length(col("text")) - length(replace(lower(col("text")), lit(token), lit(""))))
        / lit(token.length)).cast("double")
    }
    val toks = greatest(size(wsTokens(col("text"))).cast("double"), lit(1.0))
    val scores = LangProfiles.map { case (langCode, words) =>
      langCode -> words.map(occ).reduce(_ + _) / toks
    }
    val best = greatest(scores.map(_._2): _*)
    // first profile (in declared order) reaching the max wins the tie
    val predicted = scores.reverse.foldLeft(lit("other")) {
      case (acc, (langCode, s)) => when(s === best && best > 0.02, lit(langCode)).otherwise(acc)
    }
    val scoreCols = scores.map { case (langCode, s) =>
      gfn.round_exact(s, 4).as(s"${langCode}_score") }
    docs.select(Seq(col("doc_id"), col("lang")) ++ scoreCols :+
        predicted.as("predicted"): _*)
      .orderBy("doc_id")
  }

  /** Event sessionization — the classic behavioral-pipeline op: per-user
    * events split into sessions at inactivity gaps > `gapSeconds`,
    * aggregated per session. Window functions over (user_id; ts,
    * event_id) — the same partitioning a 100 TB event log would shuffle
    * by anyway; no driver-side state. Money-sum pattern: exact DECIMAL
    * accumulation, DOUBLE at the boundary (oracle-parity rule). */
  def sessionize(events: DataFrame, gapSeconds: Long): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    // events.ts arrives as TIMESTAMP_NTZ from parquet. The micros
    // extraction must NOT route through a NTZ→TIMESTAMP cast: that cast
    // interprets the wall time in spark.sql.session.timeZone, silently
    // shifting absolute start_us/end_us under a non-UTC session (r3
    // ADVICE). timestampdiff between two NTZ values is zone-free by
    // construction; plain TIMESTAMP inputs keep the direct unix_micros.
    val us = events.schema("ts").dataType match {
      case org.apache.spark.sql.types.TimestampNTZType =>
        expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
      case _ => unix_micros(col("ts"))
    }
    events
      .withColumn("prev_us", lag(us, 1).over(w))
      .withColumn("new_sess",
        when(col("prev_us").isNull ||
          us - col("prev_us") > gapSeconds * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("session_no", sum("new_sess").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_no")
      .agg(count(lit(1)).as("n_events"),
        min(us).as("start_us"),
        max(us).as("end_us"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .orderBy("user_id", "session_no")
  }

  // ------------------------------------------------------------------
  // deduplication
  // ------------------------------------------------------------------

  /** exact dedup: content-hash groups with a deterministic keeper. */
  def exactDupGroups(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("h"))
      .agg(count(lit(1)).as("c"), min("doc_id").as("keeper"))
      .filter(col("c") > 1)
      .orderBy("h")

  /** exact dedup summary: corpus size before/after hash dedup. */
  def exactDupSummary(docs: DataFrame): DataFrame =
    docs.agg(count(lit(1)).as("total_docs"),
      countDistinct(md5(col("text"))).as("distinct_docs"))

  /** Default hot-bucket cap for all pairwise dedup ops: a bucket key (a
    * shingle, a band signature, a simhash block, a winnow fingerprint)
    * shared by df docs yields df² candidate pairs in the self-join — one
    * boilerplate shingle shared by 10⁶ docs would be 10¹² pairs at 100 TB.
    * Keys hotter than this are dropped BEFORE the join (they carry no
    * near-dup signal anyway; a df-10⁵ shingle is stop-phrase boilerplate).
    * Fixture corpora sit far below the cap, so oracle outputs are
    * unaffected; PropertySpecs pin both facts. */
  val DefaultMaxBucketDf: Long = 100000L

  /** Drop bucket keys whose posting count exceeds maxDf before a pairwise
    * self-join (skew guard, see [[DefaultMaxBucketDf]]); returns the kept
    * rows and the dropped keys (None when nothing was dropped). The
    * hot-key set holds ≤ |rows|/maxDf keys, so it is COLLECTED: capping is
    * observable (a WARN names the dropped-key count) and the anti-join
    * probe is a broadcast local relation. maxDf <= 0 disables the cap.
    *
    * `keyDfBound` is an upper bound on any key's df, or negative when none
    * is known. Every pairwise op here derives its keys distinct per source
    * row, so df(key) ≤ #source rows; when that bound is ≤ maxDf the scan
    * cannot find a hot key and is skipped (no groupBy shuffle, no collect). */
  private def capHotKeys(df: DataFrame, maxDf: Long, keyDfBound: Long,
                         keys: Seq[String]): (DataFrame, Option[DataFrame]) = {
    if (maxDf <= 0L || (keyDfBound >= 0L && keyDfBound <= maxDf)) (df, None)
    else {
      val hot = df.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("__df")).filter(col("__df") > maxDf)
        .select(keys.map(col): _*)
      val hotRows = hot.collect()
      if (hotRows.isEmpty) (df, None)
      else {
        org.apache.log4j.Logger.getLogger(getClass)
          .warn(s"capHotKeys: dropping ${hotRows.length} bucket key(s) with df > " +
            s"$maxDf before pairwise self-join on (${keys.mkString(", ")}) — " +
            "pairs ONLY reachable through a dropped key are lost (raise maxDf " +
            "or widen the bucket keys if that trade is wrong here)")
        val local = df.sparkSession.createDataFrame(
          java.util.Arrays.asList(hotRows: _*), hot.schema)
        // using-columns joins move the keys to the front — restore the order
        (df.join(broadcast(local), keys, "left_anti")
          .select(df.columns.map(col).toIndexedSeq: _*), Some(local))
      }
    }
  }

  /** The eager lifecycle of every pairwise op. `src` (per-doc shingle
    * arrays, signatures or fingerprints: small next to the corpus but
    * costly to compute) is persisted, because the hot-key scan and both
    * join sides read it; its count materializes the cache and is nDocs,
    * the df bound for [[capHotKeys]]. `body` builds the result from the
    * cached table; the result (near-dup-sized) is checkpointed eagerly and
    * the cache released, so repeated calls in a long-lived session hold no
    * CacheManager entries (checkpoint blocks are ContextCleaner-managed). */
  private def eagerPairs(src: DataFrame)(body: (DataFrame, Long) => DataFrame): DataFrame = {
    val cached = src.persist()
    val nDocs = cached.count()
    val out = body(cached, nDocs).localCheckpoint(true)
    cached.unpersist()
    out
  }

  /** The one candidate self-join: `posting` (doc_id, payload…, keys…) is
    * df-capped on `keys`, then joined with itself on them. One row per
    * shared key and doc pair a < b; payload column p becomes pa / pb.
    * Also returns the dropped hot keys. */
  private def sharedKeyJoin(posting: DataFrame, keys: Seq[String], maxDf: Long,
                            nDocs: Long): (DataFrame, Option[DataFrame]) = {
    val (capped, hot) = capHotKeys(posting, maxDf, nDocs, keys)
    def side(s: String): DataFrame = capped.toDF(capped.columns.toIndexedSeq.map {
      case "doc_id" => s
      case c if keys.contains(c) => c
      case c => c + s
    }: _*)
    (side("a").join(side("b"), keys).filter(col("a") < col("b")), hot)
  }

  /** Shared-key count per doc pair, as (a, b, `countAs`): the per-doc key
    * arrays in column `arrays` (distinct per doc) are exploded into `key`
    * and self-joined. The df cap bounds candidate generation only: when
    * keys were dropped, each pair's count is corrected by the hot keys the
    * two docs share (per-doc hot-key subsets from one broadcast join,
    * intersected per pair — never a hot-key self-join). So a surviving
    * pair's count is exact; only pairs sharing nothing but hot keys are
    * lost. With no hot keys the plan is the plain capped count. */
  private def pairCounts(arrs: DataFrame, arrays: String, key: String, countAs: String,
                         maxDf: Long, nDocs: Long): DataFrame = {
    val posting = arrs.select(col("doc_id"), explode(col(arrays)).as(key))
    val (joined, hot) = sharedKeyJoin(posting, Seq(key), maxDf, nDocs)
    val counts = joined.groupBy("a", "b").agg(count(lit(1)).as(countAs))
    hot.fold(counts) { hotKeys =>
      val hotPerDoc = posting.join(broadcast(hotKeys), Seq(key))
        .groupBy("doc_id").agg(collect_set(col(key)).as("hot"))
      counts
        .join(hotPerDoc.toDF("a", "hot_a"), Seq("a"), "left")
        .join(hotPerDoc.toDF("b", "hot_b"), Seq("b"), "left")
        .withColumn(countAs, col(countAs) + size(array_intersect(
          coalesce(col("hot_a"), array()),
          coalesce(col("hot_b"), array()))).cast("long"))
        .select("a", "b", countAs)
    }
  }

  /** Distinct candidate pairs from per-doc bucket keys (bands, blocks).
    * `posting` is (doc_id, payload…, keys…): one row per doc and key
    * position, exploded in one pass (a per-key union would recompute the
    * upstream hashes once per key), so df ≤ nDocs. The result is
    * (a, b, verify…), with payload column p renamed pa / pb for `verify`. */
  private def bucketPairs(posting: DataFrame, keys: Seq[String], nDocs: Long, maxDf: Long)
                         (verify: Column*): DataFrame =
    sharedKeyJoin(posting, keys, maxDf, nDocs)._1
      .select(col("a") +: col("b") +: verify: _*)
      .distinct()

  /** distinct word-trigram shingles per doc as one row-local ARRAY column —
    * ZERO shuffle: shingles are a pure function of the text (a
    * lead()-window formulation would shuffle+sort every token in the
    * corpus for a row-local computation). Built by the single-pass
    * codegen'd [[gfn.trigram_shingles]] kernel, value-identical to the
    * DuckDB oracle's `list_distinct(list_transform(…))` — the built-in
    * transform/element_at form turned quadratic once CollapseProject
    * inlined the token alias (TextExprImpl.trigramShingles scaladoc). */
  def shingleArrays(docs: DataFrame): DataFrame =
    spread(docs).select(col("doc_id"),
      gfn.trigram_shingles(col("text")).as("shingles"))

  /** distinct word-trigram shingles per doc (doc_id, shingle) — the shared
    * building block of the Jaccard and MinHash paths. */
  def trigramShingles(docs: DataFrame): DataFrame =
    shingleArrays(docs)
      .select(col("doc_id"), explode(col("shingles")).as("shingle"))

  /** n-gram Jaccard near-dup pairs: shingle-bucketed `pairCounts` (the
    * join explodes only where shingles collide — candidate-bounded, not
    * O(n²)), exact Jaccard ≥ threshold. Set sizes come from the shingle
    * ARRAY row-locally (no extra aggregation shuffle); the intersection
    * stays exact under the df cap. */
  def jaccardPairs(docs: DataFrame, threshold: Double,
                   maxShingleDf: Long = DefaultMaxBucketDf): DataFrame =
    eagerPairs(shingleArrays(docs)) { (arrs, nDocs) =>
      val sizes = arrs.select(col("doc_id"), size(col("shingles")).as("sz"))
      pairCounts(arrs, "shingles", "shingle", "inter", maxShingleDf, nDocs)
        .join(sizes.toDF("a", "sa"), "a")
        .join(sizes.toDF("b", "sb"), "b")
        .withColumn("jaccard", gfn.round_exact(col("inter").cast("double") /
          (col("sa") + col("sb") - col("inter")).cast("double"), 4))
        .filter(col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
        .orderBy("a", "b")
    }

  /** MinHash signatures: k md5-salted lexicographic-min hashes over the
    * shingle set (md5 is portable to the DuckDB oracle; at production
    * scale swap for xxhash64 — same plan shape). Computed ROW-LOCALLY in
    * ONE pass by the codegen'd [[gfn.minhash_sigs]] kernel — zero
    * shuffle; identical values to the oracle's GROUP-BY-min over
    * exploded shingles, and ~25× the throughput of the previous
    * `array_min(transform(…, md5(…)))` form (higher-order functions
    * evaluate their lambdas interpreted, with a fresh MessageDigest per
    * element — that was the whole q_minhash_lsh budget at sf0.1). */
  def minhashSignatures(docs: DataFrame, k: Int): DataFrame = {
    val mins = (0 until k).map(i => element_at(col("__sigs"), i + 1).as(s"mh$i"))
    shingleArrays(docs)
      .filter(size(col("shingles")) > 0) // docs with no shingle have no sig
      .select(col("doc_id"), gfn.minhash_sigs(col("shingles"), k).as("__sigs"))
      .select(col("doc_id") +: mins: _*)
  }

  /** MinHash-LSH candidate pairs: band signatures (rows-per-band hashes
    * concatenated) bucket the corpus; docs sharing any band bucket are
    * candidates. k=6, bands of 2 → 3 bands. */
  def minhashLshPairs(docs: DataFrame, k: Int = 6, rowsPerBand: Int = 2,
                      maxBandDf: Long = DefaultMaxBucketDf): DataFrame = {
    // fail fast instead of silently computing (and paying for) k hashes
    // while banding only the first k - k % rowsPerBand of them
    require(k > 0 && rowsPerBand > 0 && k % rowsPerBand == 0,
      s"k=$k must be a positive multiple of rowsPerBand=$rowsPerBand — " +
        "trailing signature hashes would otherwise never bucket anything")
    val bandCols = (0 until k / rowsPerBand).map { bnd =>
      concat((0 until rowsPerBand).map(r => col(s"mh${bnd * rowsPerBand + r}")): _*)
    }
    eagerPairs(minhashSignatures(docs, k)) { (sig, nDocs) =>
      val posting = sig.select(col("doc_id"),
        posexplode(array(bandCols: _*)).as(Seq("band", "sig")))
      bucketPairs(posting, Seq("band", "sig"), nDocs, maxBandDf)()
        .orderBy("a", "b")
    }
  }

  /** Near-dup CLUSTERS from a pair list: connected components by HashMin
    * label propagation — every doc in a component labels itself with the
    * component's MINIMUM doc_id (the canonical keeper). This is the step
    * an actual dedup pipeline runs after candidate-pair generation:
    * near-duplication is transitive in practice (A≈B≈C), so keeping
    * "one of each pair" over-deletes; clusters give one keeper per
    * component.
    *
    * Scale shape: label propagation is the standard shared-nothing CC —
    * per iteration one join + one map-side-combinable min-aggregate, all
    * hash-partitioned on the vertex id, converging in O(component
    * diameter) rounds. Near-dup components are tiny and shallow (they
    * are near-cliques of a document neighborhood), so the loop runs 2-4
    * rounds even at 10¹¹ docs; a giant chain-shaped component would be a
    * data bug, and the `maxIters` guard turns it into an error instead
    * of an unbounded driver loop. EAGER (object scaladoc): returns a
    * localCheckpoint, intermediates released. */
  def dupClusters(pairs: DataFrame, maxIters: Int = 50): DataFrame = {
    val p = pairs.select(col("a"), col("b")).persist()
    // undirected: propagate labels across both directions of every pair
    val edges = p.unionByName(p.select(col("b").as("a"), col("a").as("b")))
      .persist()
    var labels = edges.select(col("a").as("v")).distinct()
      .withColumn("label", col("v")).persist()
    // `labels` lifecycle bookkeeping (ADVICE r5 #5): a localCheckpoint'd
    // generation is NOT in the CacheManager (unpersist on it is a no-op;
    // its blocks live until the ContextCleaner GCs the RDD). The persisted
    // generations that follow keep their LINEAGE rooted at it, and that
    // lineage IS the strong reference — the live `labels` plan chain holds
    // the checkpointed RDD reachable until the next localCheckpoint
    // truncates it, so an evicted cache partition can always recompute.
    // Persisted (non-checkpointed) generations are unpersisted normally.
    var labelsCheckpointed = false
    var changed = 1L
    var iters = 0
    while (changed > 0) {
      iters += 1
      require(iters <= maxIters,
        s"dupClusters did not converge in $maxIters rounds — component " +
          "diameter exceeds the near-dup assumption; inspect the pair graph")
      val neigh = edges.toDF("dst", "src")
        .join(labels.toDF("src", "l"), "src")
        .select(col("dst").as("v"), col("l").as("label"))
      val next0 = labels.unionByName(neigh)
        .groupBy("v").agg(min("label").as("label"))
      // CUT LINEAGE every few rounds: `labels` feeds both the join and the
      // union, so the logical plan DOUBLES per iteration — a deep
      // chain-shaped component (OpsSpec pins a 12-round chain) built a
      // 2^iters-node plan that OOM'd the driver in plan explain before
      // any executor ran. persist() caches data but keeps the plan;
      // localCheckpoint drops it (same cadence idea as the crawler's
      // compactEvery).
      val checkpointNow = iters % 4 == 0
      val next = if (checkpointNow) next0.localCheckpoint(true)
                 else next0.persist()
      // this count materializes every partition of `next` (inner join
      // reads it in full), so the producer generation can be released
      changed = next.toDF("v", "nl").join(labels, "v")
        .filter(col("nl") =!= col("label")).count()
      if (!labelsCheckpointed) labels.unpersist()
      labelsCheckpointed = checkpointNow
      labels = next
    }
    val out = labels
      .select(col("v").as("doc_id"), col("label").as("cluster_id"))
      .orderBy("doc_id")
      .localCheckpoint(true)
    if (!labelsCheckpointed) labels.unpersist()
    edges.unpersist(); p.unpersist()
    out
  }

  /** SimHash near-dup fingerprints. Tokens hash with md5-lower-64 so the
    * DuckDB oracle recomputes the fingerprint bit-exactly. */
  def simhashes(docs: DataFrame): DataFrame =
    spread(docs).select(col("doc_id"),
      gfn.simhash_md5(wsTokens(col("text"))).as("simhash")).orderBy("doc_id")

  /** SimHash near-dup pairs (a, b, hamming) within Hamming distance
    * `maxHamming` of the md5-token fingerprints (the ones the DuckDB oracle
    * recomputes bit-exactly): [[hammingPairs]] over the one-word sketch,
    * with h+1 single-block keys. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
                   maxBucketDf: Long = DefaultMaxBucketDf): DataFrame =
    hammingPairs(spread(docs).select(col("doc_id"),
        array(gfn.simhash_md5(wsTokens(col("text")))).as("sh")),
      64, maxHamming, blockPairs = false, maxBucketDf)

  /** winnowing fingerprint overlap pairs over md5 k-gram hashes (the
    * DuckDB-oracle-matched variant): `pairCounts` of the per-doc
    * fingerprint sets, `shared` ≥ minShared. Winnow fingerprints are
    * deduplicated per doc, so `shared` is the exact overlap, also under
    * the df cap. */
  def winnowPairs(docs: DataFrame, minShared: Int,
                  maxFpDf: Long = DefaultMaxBucketDf): DataFrame =
    eagerPairs(spread(docs).select(col("doc_id"),
        gfn.winnow_md5(col("text"), lit(8), lit(4)).as("fps"))) { (fps, nDocs) =>
      pairCounts(fps, "fps", "fp", "shared", maxFpDf, nDocs)
        .filter(col("shared") >= minShared)
        .orderBy("a", "b")
    }

  /** Bit-slice [lo, lo+width) of an ARRAY<LONG> sketch as a LONG (little-
    * endian global bit order: bit k lives in word k/64 at position k%64 —
    * matching [[graft.functions.TextExprImpl.srpSketchN]]). Width ≤ 64;
    * the off==0 guard below matters because JVM long shifts are mod-64
    * (shiftleft(w, 64) would be a no-op, not zero). */
  private def sliceBitsWide(sh: Column, lo: Int, width: Int): Column = {
    require(width >= 1 && width <= 64, s"width=$width")
    val word = lo / 64
    val off = lo % 64
    val mask = if (width >= 64) -1L else (1L << width) - 1L
    val w0 = shiftrightunsigned(element_at(sh, word + 1), off)
    val c = if (off == 0 || off + width <= 64) w0
            else w0.bitwiseOR(shiftleft(element_at(sh, word + 2), 64 - off))
    c.bitwiseAND(lit(mask))
  }

  /** The Hamming-radius join: every pair a < b of bit sketches
    * (doc_id, sh ARRAY<LONG> of nbits/64 words) that differ in at most
    * `radius` bits, as (a, b, hamming) ordered by (a, b). SimHash and SRP
    * sketches both go through it.
    *
    * Candidates come from pigeonhole block tables (Manku, Jain & Das Sarma,
    * WWW 2007). The sketch is cut into nBlocks contiguous blocks starting at
    * bit i·nbits/nBlocks, and ≤ h differing bits leave at least nBlocks − h
    * of them identical. So every pair within the radius shares a key:
    *   - single keys (`blockPairs` = false): h+1 blocks, one (position,
    *     block) key per block; at least one block is identical;
    *   - block pairs: h+2 blocks, one (position, later position, block,
    *     later block) key per pair of blocks; at least two blocks are
    *     identical. Keys are about twice as wide, so buckets are far
    *     smaller and the df cap binds later, at (h+2)/2 times the posting
    *     rows. Each block is sliced once and paired by a second explode:
    *     one key expression per pair would be C(h+2, 2) expressions, past
    *     what whole-stage codegen compiles at h = 70.
    * nBlocks is at least nbits/64 so that every block fits one 64-bit
    * slice; extra blocks only widen the pigeonhole margin. Radii: 0 ≤ h <
    * nbits for single keys, h ≤ nbits − 2 for block pairs.
    *
    * Candidates are verified with [[gfn.hamming_words]], so a row whose
    * sketch is null never pairs. Keys with df > `maxBucketDf` are dropped
    * before the join, with a WARN, like every pairwise join here. EAGER
    * (object scaladoc). */
  def hammingPairs(sketches: DataFrame, nbits: Int, radius: Int, blockPairs: Boolean,
                   maxBucketDf: Long = DefaultMaxBucketDf): DataFrame = {
    require(nbits >= 64 && nbits % 64 == 0, s"nbits=$nbits")
    val minBlocks = if (blockPairs) radius + 2 else radius + 1
    require(radius >= 0 && minBlocks <= nbits,
      s"radius=$radius for nbits=$nbits, blockPairs=$blockPairs")
    val nBlocks = math.max(minBlocks, nbits / 64)
    val starts = (0 to nBlocks).map(i => i * nbits / nBlocks)
    val blocks = (0 until nBlocks).map(q =>
      sliceBitsWide(col("sh"), starts(q), starts(q + 1) - starts(q)))
    eagerPairs(sketches) { (fps, nDocs) =>
      val posting =
        if (!blockPairs)
          fps.select(col("doc_id"), col("sh"),
            posexplode(array(blocks: _*)).as(Seq("q", "bucket")))
        else // each block against every later one: C(n, 2) keys from n slices
          fps.select(col("doc_id"), col("sh"), array(blocks: _*).as("blk"))
            .select(col("doc_id"), col("sh"), col("blk"),
              posexplode(col("blk")).as(Seq("q", "bucket")))
            .select(col("doc_id"), col("sh"), col("q"), col("bucket"),
              posexplode(slice(col("blk"), col("q") + 2, lit(nBlocks))).as(Seq("q2", "bucket2")))
      bucketPairs(posting, posting.columns.drop(2), nDocs, maxBucketDf)(
          gfn.hamming_words(col("sha"), col("shb")).cast("long").as("hamming"))
        .filter(col("hamming") <= radius)
        .orderBy("a", "b")
    }
  }

  /** int8 max-abs quantization of the embedding column — the standard
    * 4× storage/bandwidth cut before ANN indexing at 100 TB scale. Pure
    * row-local array transform (zero shuffle); per-vector scale =
    * max |x| (floored at 1e-12 against all-zero vectors); values round
    * half-away-from-zero to [-127, 127].
    *
    * Rounding parity is PINNED, not corpus-lucky (r3 ADVICE):
    *  - the display `scale` uses [[gfn.round_exact]] (floor-scaled
    *    half-up — see ExprImpl.roundExact's scaladoc for why that is the
    *    one semantics both engines share); the oracle mirrors it
    *    bit-identically with `FLOOR(scale * 1e6 + 0.5) / 1e6`;
    *  - the integer codes keep plain `round(…, 0)`: at 0 dp Spark's
    *    shortest-repr HALF_UP and DuckDB's exact-binary half-away agree
    *    for EVERY double — k.5 IS exactly representable, so a shortest
    *    repr and its exact value can never straddle a .5 boundary, and
    *    both engines round exact halves away from zero. */
  def quantizeEmbeddings(emb: DataFrame): DataFrame = {
    val v = transform(col("embedding"), x => x.cast("double"))
    val scale = greatest(array_max(transform(v, x => abs(x))), lit(1e-12))
    emb.select(col("vec_id"),
        gfn.round_exact(scale, 6).as("scale"),
        concat_ws(",",
          transform(v, x =>
            least(greatest(round(x * lit(127.0) / scale, 0), lit(-127.0)),
              lit(127.0)).cast("int"))).as("codes"))
      .orderBy("vec_id")
  }

  // ------------------------------------------------------------------
  // similarity search over embeddings
  // ------------------------------------------------------------------

  // codegen'd index-order dot product (round 7, guide §4): the previous
  // `aggregate(zip_with(a, b, _*_), 0.0, _+_)` form evaluated its lambdas
  // INTERPRETED per element and was the dominant CPU of every cosine op;
  // gfn.dot_product is bit-identical (same left fold, same IEEE sequence,
  // same null semantics — TextExprImpl.dotProduct scaladoc).
  private def dot(a: Column, b: Column): Column = gfn.dot_product(a, b)

  private def norm(a: Column): Column = sqrt(dot(a, a))

  /** exact embedding-cosine near-dup pairs (cos ≥ threshold): brute-force
    * all-pairs — the O(n²) exactness anchor, DuckDB-oracle-matched. Both
    * sides filter on the ROUNDED cosine so boundary values agree. For
    * corpora past ~10⁶ vectors use [[cosineDupPairsLsh]]. */
  def cosineDupPairsExact(emb: DataFrame, threshold: Double): DataFrame = {
    val e = spread(emb).select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val a = e.toDF("a", "va")
    val b = e.toDF("b", "vb")
    a.crossJoin(b).filter(col("a") < col("b"))
      .withColumn("cos", gfn.round_exact(dot(col("va"), col("vb")) /
        (norm(col("va")) * norm(col("vb"))), 4))
      .filter(col("cos") >= threshold)
      .select("a", "b", "cos")
      .orderBy("a", "b")
  }

  /** The Hamming radius an `nbits`-wide SRP sketch needs for a cosine
    * `threshold`. A pair at the threshold boundary (angle θ) differs in each
    * bit with p = θ/π, so its distance is Binomial(nbits, p); the radius is
    * the mean + `sigmas`·σ. At 4σ a boundary pair is missed with p ≈ 3×10⁻⁵,
    * and pairs deeper in the band almost never. Clamped to [1, nbits − 2],
    * so a block-pair join has at least two blocks. σ/mean falls as
    * 1/√nbits, so a wider sketch needs a relatively smaller radius:
    * threshold 0.4 needs 40 of 64 bits but 70 of 128. */
  def srpRadiusForN(threshold: Double, nbits: Int, sigmas: Double = 4.0): Int = {
    require(nbits >= 16, s"nbits=$nbits")
    val theta = math.acos(math.min(math.max(threshold, -1.0), 1.0))
    val p = theta / math.Pi
    val mean = nbits * p
    val sigma = math.sqrt(nbits * p * (1.0 - p))
    math.min(nbits - 2, math.max(1, math.ceil(mean + sigmas * sigma).toInt))
  }

  /** Approximate embedding-cosine near-dup pairs (cos ≥ threshold):
    * sign-random-projection sketches (angular distance θ maps to expected
    * Hamming distance nbits·θ/π), candidates from [[hammingPairs]], and
    * exact cosine verification on the candidates only. The sketch width,
    * the radius and the key scheme are all picked here, from the threshold:
    *   - the radius is [[srpRadiusForN]] at the chosen width, so recall at
    *     the threshold boundary is 1 up to the 4σ tail (0.9 ⇒ 21 of 64);
    *   - 64 bits while that radius is ≤ 31 (thresholds ≳ 0.62, where
    *     production dedup runs), with block-pair keys: single keys at
    *     radius 16 are ~4 bits wide, so a bucket holds ~n/13 vectors and
    *     the df cap would erase recall near 10⁶ vectors; pair keys of ~7
    *     bits hold ~n/128 and push that past 10⁷;
    *   - 128 bits below, where 64 bits would need a radius past 31 and
    *     blocks of ≤ 2 bits. The relative σ halves, so a guaranteed radius
    *     exists (0.4 ⇒ 70 of 128). Block pairs only while a pair key keeps
    *     ≥ 7 bits; otherwise single keys, which cost less for the same
    *     selectivity when blocks are 1-2 bits wide.
    * Boundary pairs differ in ~θ/π of all bits, so at low thresholds any
    * complete exact-match key is narrow and the candidates approach all
    * pairs: the wider sketch buys guaranteed recall, not sub-quadratic
    * candidates. */
  def cosineDupPairsLsh(emb: DataFrame, threshold: Double,
                        maxBucketDf: Long = DefaultMaxBucketDf): DataFrame = {
    val width = if (srpRadiusForN(threshold, 64) <= 31) 64 else 128
    val radius = srpRadiusForN(threshold, width)
    val blockPairs = width == 64 || 2 * width / (radius + 2) >= 7
    // the vectors have three consumers but are not persisted: at the scale
    // this op is for, re-reading the pruned source costs less than caching
    // the corpus, and no cache is left behind in a long-lived session
    val e = spread(emb).select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val sketches = e.select(col("vec_id").as("doc_id"),
      gfn.srp_sketch_n(col("v"), width / 64).as("sh"))
    hammingPairs(sketches, width, radius, blockPairs, maxBucketDf)
      .join(e.select(col("vec_id").as("a"), col("v").as("va")), Seq("a"))
      .join(e.select(col("vec_id").as("b"), col("v").as("vb")), Seq("b"))
      .withColumn("cos", gfn.round_exact(dot(col("va"), col("vb")) /
        (norm(col("va")) * norm(col("vb"))), 4))
      .filter(col("cos") >= threshold)
      .select("a", "b", "cos")
      .orderBy("a", "b")
  }

  /** Measured ANN-quality gate (r5 verdict #2): per-query recall@k of
    * [[ivfCosineTopK]] at its production `nprobe` against the exact
    * brute-force top-k, emitted as DATA — (query_id, recall, floor_met) —
    * so the correctness harness hashes the approximate operator's quality
    * against a pinned expectation instead of carrying a `no_oracle` null
    * row. Determinism: both sides are deterministic on fixed data (ties
    * broken by vec_id, Lloyd seeded from label means), so the measured
    * recall is a stable function of the corpus; the oracle pins it. */
  def ivfRecallGate(emb: DataFrame, queryIds: Seq[Long], k: Int,
                    nprobe: Int = 3, lloydIters: Int = 3,
                    floor: Double = 0.9): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val ivf = ivfCosineTopK(emb, queryIds, k, nprobe, lloydIters)
      .select(col("query_id"), col("neighbor"))
    val exact = bruteForceCosineTopK(emb, queryIds, k)
      .select(col("query_id"), col("neighbor"))
    val hits = ivf.join(exact, Seq("query_id", "neighbor"))
      .groupBy("query_id").agg(count(lit(1)).as("hits"))
    // left join from the id list so a hypothetical 0-recall query still
    // emits a (visible, failing) row instead of vanishing
    queryIds.toDF("query_id")
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        gfn.round_exact(
          coalesce(col("hits"), lit(0L)).cast("double") / k, 4).as("recall"),
        (coalesce(col("hits"), lit(0L)).cast("double") / k >= floor)
          .as("floor_met"))
      .orderBy("query_id")
  }

  /** brute-force cosine top-k: every query vector scored against the whole
    * table (the exact baseline an ANN variant must approximate). The query
    * side is broadcast; the scan side never shuffles. */
  def bruteForceCosineTopK(emb: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    val e = spread(emb).select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val q = e.filter(col("vec_id").isInCollection(queryIds))
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val w = Window.partitionBy("query_id")
      .orderBy(desc("cos"), asc("vec_id"))
    e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", gfn.round_exact(dot(col("v"), col("qv")) /
        (norm(col("v")) * norm(col("qv"))), 4))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("vec_id").as("neighbor"), col("cos"))
      .orderBy("query_id", "rnk")
  }

  /** IVF-style ANN with REAL k-means coarse cells: per-label means seed
    * the centroids (deterministic, better than random at this corpus),
    * then `lloydIters` Lloyd iterations run as DataFrame aggregations —
    * assignment via a broadcast-centroid crossJoin + map-side-combinable
    * `max_by` (no window over the full corpus), update via
    * posexplode→avg→reassemble. A query probes only the `nprobe` nearest
    * cells. Returns the brute-force shape; recall is fixture-tested
    * against the exact baseline (OpsSpec).
    *
    * EAGER (see the object scaladoc): runs the full k-means + search on
    * call and returns a ≤ |queryIds|·k-row LocalRelation, so the three
    * internal caches release before returning. */
  def ivfCosineTopK(emb: DataFrame, queryIds: Seq[Long], k: Int,
                    nprobe: Int = 3, lloydIters: Int = 3): DataFrame = {
    val e = spread(emb).select(col("vec_id"), col("label"),
      transform(col("embedding"), x => x.cast("double")).as("v")).persist()

    def meanByCell(assigned: DataFrame): DataFrame =
      assigned.select(col("cell"), posexplode(col("v")).as(Seq("i", "x")))
        .groupBy("cell", "i").agg(avg("x").as("m"))
        .groupBy("cell")
        .agg(transform(sort_array(collect_list(struct(col("i"), col("m")))),
          s => s.getField("m")).as("cv"))

    // seed: element-wise mean per label
    var cent = meanByCell(e.select(col("label").as("cell"), col("v")))

    // Lloyd: assign every vector to its max-cosine centroid, re-average.
    // One crossJoin row per (vector, centroid) — centroids are tiny and
    // broadcast; the argmax is an aggregation, not a global window.
    def assign(c: DataFrame): DataFrame =
      e.crossJoin(broadcast(c))
        .withColumn("sim", dot(col("v"), col("cv")) /
          (norm(col("v")) * norm(col("cv"))))
        .groupBy("vec_id")
        .agg(max_by(col("cell"), struct(col("sim"), -col("cell"))).as("cell"))
        .join(e.select("vec_id", "v"), Seq("vec_id"))

    for (_ <- 1 to lloydIters) cent = meanByCell(assign(cent))
    val cells = cent.persist()
    val assigned = assign(cells).select("vec_id", "cell").persist()

    val q = e.filter(col("vec_id").isInCollection(queryIds))
      .select(col("vec_id").as("query_id"), col("v").as("qv"))

    // pick nprobe closest cells per query (tiny: #cells × #queries)
    val wCell = Window.partitionBy("query_id").orderBy(desc("csim"), asc("cell"))
    val probed = q.crossJoin(broadcast(cells))
      .withColumn("csim", dot(col("qv"), col("cv")) /
        (norm(col("qv")) * norm(col("cv"))))
      .withColumn("r", row_number().over(wCell))
      .filter(col("r") <= nprobe)
      .select("query_id", "qv", "cell")

    val w = Window.partitionBy("query_id").orderBy(desc("cos"), asc("vec_id"))
    val result = e.join(assigned, Seq("vec_id"))
      .join(broadcast(probed), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", gfn.round_exact(dot(col("v"), col("qv")) /
        (norm(col("v")) * norm(col("qv"))), 4))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("vec_id").as("neighbor"), col("cos"))
      .orderBy("query_id", "rnk")
    // ≤ |queryIds|·k rows — materialize as a LocalRelation so all three
    // intermediate caches release immediately (the Searcher.search pattern;
    // repeated ANN calls in a serving session must not accumulate caches)
    val rows = result.collect()
    val spark = emb.sparkSession
    e.unpersist(); cells.unpersist(); assigned.unpersist()
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), result.schema)
  }
}
