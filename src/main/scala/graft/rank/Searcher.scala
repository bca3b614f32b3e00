package graft.rank

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.execution.{LogicalRDD, ReusedSubqueryExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.QueryParam
import graft.gfn
import graft.index.IndexTables
import graft.text.TextPipeline

/** Query-time retrieval + scoring: the reference's Ranker.rankDocs +
  * WebController final scoring (Ranker.kt:48-98, WebController.kt:48-83).
  * The SERP is a DataFrame with the score breakdown columns (total, cos,
  * pr, title_score) — HTML rendering is presentation, out of engine scope
  * (SURVEY.md §2.7).
  *
  * Serve invariants:
  *  - one Spark job per query (AQE off on the serve session, no broadcast
  *    exchange, no subquery): term resolve is driver-side whenever the
  *    term dictionary fits in memory, and the scoring join, mean score and
  *    top-K run in the job that collects the SERP;
  *  - `statics` and postings⋈tfidf are materialized leaves, hash-partitioned
  *    on url_id to the serve session's shuffle partitions, so the scoring
  *    aggregate and the statics join need no exchange of a prepared table;
  *  - no per-query cache: a query leaves nothing persisted behind;
  *  - one executed plan per query shape ([[Shape]]): it is analyzed,
  *    optimized, planned and compiled at the shape's first query, and kept
  *    on the Prepared until close();
  *  - values bound per query: word ids, multiplicities, phrases, stems and
  *    the query length are [[QueryParam]]s, never source literals, so a
  *    new query of a known shape compiles no class;
  *  - a deep copy of that plan per query, with the query's values bound
  *    into the copy, so no plan node, and no exchange with its shuffle
  *    output, is shared between two runs. A copy still points where a
  *    reused node points, so the serve session reuses no exchange, and a
  *    shape's plan may hold no reused, broadcast or adaptive node
  *    ([[sharedNodes]]);
  *  - no analysis, optimization or physical planning per query, and a
  *    serve query posts no SQL-execution events;
  *  - the scoring join runs once: the mean score is a window aggregate
  *    over the scored rows. At one serve partition (every index of up to
  *    50,000 documents) the window needs no exchange. Above one, it
  *    gathers the matched rows into one task, where a cartesian product
  *    with a one-row aggregate scored each partition in place but ran the
  *    scoring join a second time under that aggregate; at 20,000 pages and
  *    4 partitions the window plan still served a term query in 29–108 ms
  *    against 65–134 ms.
  *
  * Exactness notes:
  *  - single-word score = mult · tf · tfidf_r6 (the reference scatter-adds
  *    the ROUNDED tfidf once per posting-list occurrence, once per repeat
  *    of the word in the query);
  *  - phrase score = (Σ over phrase TOKENS, duplicates included, of
  *    tfidf_r6) × non-overlapping phrase count;
  *  - an unknown word inside a phrase kills the whole phrase; an unknown
  *    single word is dropped (Ranker.kt:100-119);
  *  - normalizer = docLen · sqrt(#resolved term ids, flattened);
  *  - meanScore = Σ normalized / (3·|results|) — query-dependent;
  *  - title match uses ALL query stems (pre-resolution,
  *    WebController.kt:69), testing tokenized-title membership OR raw
  *    case-insensitive substring;
  *  - a matched zero-length document scores NaN (0/0), as in the
  *    reference; NaN totals sort after every finite total;
  *  - canonical tie-break: url_id ascending (the reference's tie order is
  *    racy map iteration — SURVEY.md §2.5 T3).
  */
object Searcher {

  final case class Prepared(index: IndexTables, ranks: DataFrame, maxPR: Double,
                            statics: DataFrame, postingsTfidf: DataFrame,
                            serve: SparkSession, viewNames: Seq[String],
                            wordIdLocal: Option[Map[String, Long]] = None) {
    /** The executed scoring plan of each query [[Shape]] served so far,
      * built at that shape's first query. It is never run itself: each
      * query runs a deep copy. */
    private[rank] val plans = new ConcurrentHashMap[Shape, SparkPlan]()

    /** Release everything [[prepare]] materialized — the rank cache, the
      * checkpointed statics and postings⋈tfidf blocks, the cached shape
      * plans — and the global temp views backing the serve session. A
      * long-lived serving session should close() retired Prepared
      * instances. */
    def close(): Unit = {
      plans.clear()
      ranks.unpersist()
      Seq(statics, postingsTfidf).foreach(release)
      viewNames.foreach(serve.catalog.dropGlobalTempView)
      ()
    }
  }

  /** Largest vocabulary [[prepare]] holds as a driver-side term map. */
  private val MaxLocalTerms = 1000000

  private val prepareIds = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The RDD behind a checkpointed DataFrame (a LogicalRDD leaf). */
  private[graft] def checkpointRdd(df: DataFrame): Option[RDD[_]] =
    df.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd }

  /** Frees a checkpointed DataFrame's blocks — `Dataset.unpersist()` only
    * drops cache entries, never a local checkpoint. */
  private def release(df: DataFrame): Unit =
    checkpointRdd(df).foreach(_.unpersist(blocking = false))

  /** One-time serving prep: all query-invariant work happens here.
    *  - the rank table is cached and the global max PR read once;
    *  - `statics` pre-joins every per-doc value the serve consumes
    *    (max_tf ⋈ rank ⋈ title ⋈ url ⋈ doc length, plus the tokenized and
    *    lowercased title);
    *  - `postingsTfidf` pre-joins postings⋈tfidf on (url_id, word_id);
    *  - both are eager local checkpoints hash-partitioned on url_id: a
    *    checkpoint is a leaf, so no per-query plan can re-derive it, and
    *    its partitioning lets the scoring aggregate and join skip the
    *    exchange;
    *  - a term dictionary of ≤ [[MaxLocalTerms]] terms is held driver-side
    *    (one bounded collect); larger ones keep the distributed lookup.
    *
    * The serve runs on a DEDICATED session (`spark.newSession()` — own
    * SQLConf, shared SparkContext + cache): the latency-path conf choices
    * (AQE off, no exchange reuse, the derived shuffle partitions) are set
    * ONCE there and never touch the caller's session, so concurrent
    * non-search queries can't observe serve conf and racing search() calls
    * can't clobber each other. Index tables are
    * rebound onto the serve session through global temp views; the shared
    * CacheManager still substitutes the parent's cached plans. */
  def prepare(index: IndexTables, ranks: DataFrame): Prepared = {
    val parent = ranks.sparkSession
    val cached = ranks.cache()
    // coalesce: max over ZERO rows is SQL NULL — an index built from an
    // empty crawl must serve empty SERPs, not NPE inside prepare()
    val maxPR = cached.agg(coalesce(max("rank"), lit(0.0))).head().getDouble(0)

    val serve = parent.newSession()
    // builder-level confs propagate to new sessions via the SparkContext
    // conf; runtime-set keys the serve path depends on are copied explicitly
    Seq("spark.sql.session.timeZone",
        "spark.sql.ansi.enabled", "spark.sql.autoBroadcastJoinThreshold")
      .foreach(k => parent.conf.getOption(k).foreach(serve.conf.set(k, _)))
    // AQE off: it turns every query stage of the SERP plan into its own
    // driver-replanned job behind a materialization barrier, and the
    // one-job-per-query invariant needs the whole DAG scheduled as one job
    serve.conf.set("spark.sql.adaptive.enabled", "false")
    // no exchange reuse: a query runs a copy of its shape's cached plan, and
    // a copied ReusedExchange still points at the cached plan's exchange
    // (two phrases share the forward index's shuffle), so racing queries
    // would run one node
    serve.conf.set("spark.sql.exchange.reuse", "false")
    // serve-side shuffle partitioning is derived from the index size: the
    // per-query matched set is ≤ n docs, so ~50k docs/partition, capped at
    // the parent's configured shuffle partitions
    val parentSp = parent.conf.getOption("spark.sql.shuffle.partitions")
      .flatMap(s => scala.util.Try(s.toInt).toOption)
      .getOrElse(parent.sparkContext.defaultParallelism)
    val serveSp = math.max(1L,
      math.min(parentSp.toLong, (index.n + 49999L) / 50000L)).toInt
    serve.conf.set("spark.sql.shuffle.partitions", serveSp.toString)

    val id = prepareIds.incrementAndGet()
    var views = List.empty[String]
    var leaves = List.empty[DataFrame]
    def rebind(df: DataFrame, name: String): DataFrame = {
      val vn = s"graft_serve_${id}_$name"
      df.createOrReplaceGlobalTempView(vn)
      views ::= vn
      serve.table(s"global_temp.$vn")
    }
    def materialize(df: DataFrame): DataFrame = {
      val leaf = Bridge.localCheckpoint(df.repartition(serveSp, col("url_id")))
      leaves ::= leaf
      leaf
    }
    // any failure after the first rebind must drop the views and leaves
    // created so far — Prepared was never constructed, so the caller has
    // no close() handle to release them
    try {
      val sIdx = IndexTables(
        urlDict = rebind(index.urlDict, "url_dict"),
        links = rebind(index.links, "links"),
        docWords = rebind(index.docWords, "doc_words"),
        wordDict = rebind(index.wordDict, "word_dict"),
        postings = rebind(index.postings, "postings"),
        maxTf = rebind(index.maxTf, "max_tf"),
        tfidf = rebind(index.tfidf, "tfidf"),
        docLen = rebind(index.docLen, "doc_len"),
        urlInfo = rebind(index.urlInfo, "url_info"),
        n = index.n,
        urlWordCount = rebind(index.urlWordCount, "url_word_count"))
      val sRanks = rebind(cached, "ranks")

      // docLen's keyset equals maxTf's (both derive from the
      // postings-bearing docs), so the inner joins change no rows
      val statics = materialize(sIdx.maxTf
        .join(sRanks, Seq("url_id"), "left")
        .join(sIdx.urlInfo.select("url_id", "title"), Seq("url_id"))
        .join(sIdx.urlDict.select("url_id", "url"), Seq("url_id"))
        .join(sIdx.docLen, Seq("url_id"))
        .select(col("url_id"), col("max_tf"),
          coalesce(col("rank"), lit(0.0)).as("rank"), col("title"), col("url"),
          col("len"),
          gfn.tokenize_words(col("title")).as("title_toks"),
          lower(col("title")).as("title_lc")))

      // tfidf's keyset equals postings' (tfidf derives from postings)
      val postingsTfidf = materialize(sIdx.postings
        .join(sIdx.tfidf, Seq("url_id", "word_id"))
        .select(col("word_id"), col("url_id"), col("tf"), col("tfidf_r6")))

      // coalesce(1): the bounded collect is one job reading at most
      // MaxLocalTerms + 1 rows, whatever the dictionary's partitioning
      val terms = sIdx.wordDict.coalesce(1).limit(MaxLocalTerms + 1).collect()
      val wordIdLocal =
        if (terms.length <= MaxLocalTerms)
          Some(terms.map(r => r.getString(0) -> r.getLong(1)).toMap)
        else None

      Prepared(sIdx, cached, maxPR, statics, postingsTfidf, serve, views,
        wordIdLocal)
    } catch { case e: Throwable =>
      leaves.foreach(l => scala.util.Try(release(l)))
      views.foreach(v => scala.util.Try(serve.catalog.dropGlobalTempView(v)))
      scala.util.Try(cached.unpersist())
      throw e
    }
  }

  private def emptyResult(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(Seq(
        StructField("rank", IntegerType), StructField("url_id", LongType),
        StructField("url", StringType), StructField("total", DoubleType),
        StructField("cos", DoubleType), StructField("pr", DoubleType),
        StructField("title_score", DoubleType), StructField("title", StringType))))
  }

  /** The `spark` parameter is retained for API stability but the query
    * executes on the Prepared's dedicated serve session — the caller's
    * session conf is never touched. */
  def search(spark: SparkSession, p: Prepared, query: String, topK: Int = 50): DataFrame =
    boundPlan(p, query, topK) match {
      case None => emptyResult(p.serve)
      case Some(plan) => collectSerp(p.serve, plan)
    }

  /** What a query's scoring plan is built from besides its values: whether
    * single terms are present, the number of phrases and the SERP size.
    * Every shape has at least one term group, so no plan has an empty
    * branch. */
  private[rank] final case class Shape(singles: Boolean, phrases: Int, topK: Int)

  /** A resolved query: its shape and the value of each [[QueryParam]] slot
    * — the query length, the stems, then three slots per term group (the
    * single terms first, then each phrase): its distinct word ids, their
    * multiplicities and its ids in query order (read by phrases only). */
  private final case class Bound(shape: Shape, values: IndexedSeq[Any])

  private val LengthSlot = 0
  private val StemsSlot = 1
  private def groupSlot(g: Int) = 2 + 3 * g

  /** The executed scoring plan of `query` on the serve session: the top-K
    * rows (url_id, url, total, cos, pr, title_score, title) ordered by
    * (NaN total last, total desc, url_id asc), or None when no query term
    * resolves. It is a deep copy of its shape's cached executed plan with
    * the query's values bound into it: an executed plan keeps its shuffle
    * output, and code generation records each node's parent on the node,
    * so two runs never share a node. */
  private[graft] def boundPlan(p: Prepared, query: String, topK: Int): Option[SparkPlan] =
    resolve(p, query, topK).map { q =>
      p.plans.computeIfAbsent(q.shape, _ => executedShapePlan(shapePlan(p, q)))
        .clone()
        .transformAllExpressions {
          case QueryParam(slot, dt, _) => QueryParam(slot, dt, q.values(slot))
        }
    }

  /** The nodes of `plan` that a bound copy would share with the plan it
    * was copied from, or whose result another run could see: reused
    * exchanges and subqueries (binding does not reach the node a reused
    * one points at), subquery expressions, broadcast exchanges and
    * adaptive plans (both re-plan or cache at run time). */
  private[graft] def sharedNodes(plan: SparkPlan): Seq[String] =
    plan.collectWithSubqueries {
      case n @ (_: ReusedExchangeExec | _: ReusedSubqueryExec | _: BroadcastExchangeExec |
                _: AdaptiveSparkPlanExec) => n.nodeName
      case n if n.subqueries.nonEmpty => s"${n.nodeName} with a subquery"
    }

  /** `df`'s executed plan, required to hold no [[sharedNodes]]. */
  private def executedShapePlan(df: DataFrame): SparkPlan = {
    val plan = df.queryExecution.executedPlan
    val shared = sharedNodes(plan)
    require(shared.isEmpty, "a serve plan must share no node between queries: " +
      s"${shared.mkString(", ")}\n${plan.treeString}")
    plan
  }

  /** Driver-side query analysis (queries are tiny): stems → word ids with
    * the phrase-kill rule (Ranker.kt:100-119), and the parameter values. */
  private def resolve(p: Prepared, query: String, topK: Int): Option[Bound] = {
    val groups = TextPipeline.tokenizeQuery(query)
    if (groups.isEmpty) return None
    val allStems = groups.flatten
    val wordIdMap = p.wordIdLocal match {
      case Some(dict) => allStems.distinct.flatMap(s => dict.get(s).map(s -> _)).toMap
      case None => p.index.wordDict
        .filter(col("word").isInCollection(allStems.distinct))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    val idGroups: List[Vector[Long]] = groups.flatMap { g =>
      val isPhrase = g.size > 1
      val resolved = g.flatMap(wordIdMap.get)
      if (isPhrase && resolved.size != g.size) None
      else if (resolved.isEmpty) None
      else Some(resolved.toVector)
    }
    if (idGroups.isEmpty) return None

    val (singles, phrases) = idGroups.partition(_.size == 1)
    val termGroups = (if (singles.isEmpty) Nil else List(singles.flatten)) ++ phrases
    val values = Vector[Any](
      math.sqrt(idGroups.map(_.size).sum.toDouble),
      new GenericArrayData(allStems.map(s => UTF8String.fromString(s): Any).toArray)) ++
      termGroups.flatMap { ids =>
        val mults = ids.groupBy(identity).map { case (w, occ) => (w, occ.size) }.toSeq.sortBy(_._1)
        Seq(ArrayData.toArrayData(mults.map(_._1).toArray),
          ArrayData.toArrayData(mults.map(_._2).toArray), ArrayData.toArrayData(ids.toArray))
      }
    Some(Bound(Shape(singles.nonEmpty, phrases.size, topK), values))
  }

  /** `postingsTfidf` rows of the word ids in `ids`, each with its
    * multiplicity from the aligned `mults` as the int column `mult`. The
    * ids enter the plan as parameters rather than a joined relation, so
    * the plan has no query-term leaf to broadcast. */
  private def termRows(p: Prepared, ids: Column, mults: Column): DataFrame = {
    val wordId = col("word_id")
    p.postingsTfidf.filter(array_contains(ids, wordId))
      .withColumn("mult", element_at(mults, array_position(ids, wordId).cast("int")))
  }

  /** The scoring plan of `q`'s shape, with `q`'s values in its parameters. */
  private def shapePlan(p: Prepared, q: Bound): DataFrame = {
    def param(slot: Int, dt: DataType): Column = Bridge.column(QueryParam(slot, dt, q.values(slot)))
    val idsType = ArrayType(LongType, containsNull = false)
    def group(g: Int) = (param(groupSlot(g), idsType),
      param(groupSlot(g) + 1, ArrayType(IntegerType, containsNull = false)),
      param(groupSlot(g) + 2, idsType))

    // -- single-word contributions over the prepared postings⋈tfidf leaf ----
    val singleScores =
      if (!q.shape.singles) None
      else {
        val (ids, mults, _) = group(0)
        Some(termRows(p, ids, mults)
          .select(col("url_id"), (col("mult") * col("tf") * col("tfidf_r6")).as("contrib")))
      }

    // -- phrase contributions: forward-index scan per phrase ----------------
    val firstPhrase = if (q.shape.singles) 1 else 0
    val phraseScores = (firstPhrase until firstPhrase + q.shape.phrases).map { g =>
      val (ids, mults, phrase) = group(g)
      val matches = p.index.docWords
        .select(col("url_id"), gfn.count_phrase(col("words"), phrase).as("c"))
        .filter(col("c") > 0)
      val termSum = termRows(p, ids, mults)
        .groupBy("url_id")
        .agg(sum(col("mult") * col("tfidf_r6")).as("term_sum"))
      matches.join(termSum.hint("shuffle_hash"), Seq("url_id"))
        .select(col("url_id"), (col("term_sum") * col("c")).as("contrib"))
    }

    val rawScores = (singleScores.toSeq ++ phraseScores)
      .reduce(_ unionByName _)
      .groupBy("url_id")
      .agg(sum("contrib").as("raw"))

    // -- normalization (Ranker.kt:92-95): one url_id join against statics,
    // which carries the doc length; both sides are url_id-partitioned. A
    // zero-length document gets the IEEE quotient (NaN for 0/0), as in the
    // reference, instead of ANSI's DIVIDE_BY_ZERO ----------------------------
    val norm = col("len") * param(LengthSlot, DoubleType)
    val joined = rawScores.hint("shuffle_hash").join(p.statics, Seq("url_id"))
      .withColumn("score", when(norm === 0.0, signum(col("raw")) * Double.PositiveInfinity)
        .otherwise(col("raw") / norm))

    // meanScore (Σ score / 3n — the reference's driver-side mean) is a
    // window aggregate over every scored row, so it stays inside the SERP's
    // job and the scoring join runs once. statics' keyset equals docLen's,
    // so aggregating over the statics join changes no rows.
    val all = Window.partitionBy()
    val meanScore = sum("score").over(all) / (count(lit(1)).over(all) * 3)

    // -- final scoring (WebController.kt:60-83): the title score adds the
    // mean once per matching stem, so no match scores 0.0 even when the
    // mean is NaN ------------------------------------------------------------
    val scored = joined
      .withColumn("mean_score", meanScore)
      .withColumn("cos", col("score") / col("max_tf"))
      .withColumn("pr", col("rank") / lit(p.maxPR * 3))
      .withColumn("title_hits",
        size(filter(param(StemsSlot, ArrayType(StringType, containsNull = false)), t =>
          array_contains(col("title_toks"), t) ||
            contains(col("title_lc"), t))))
      .withColumn("title_score", when(col("title_hits") === 0, lit(0.0))
        .otherwise(col("title_hits") * col("mean_score")))
      .withColumn("total", col("cos") + col("pr") + col("title_score"))

    // global top-K as a TakeOrderedAndProject (no single-partition sort
    // exchange); the rank column is assigned driver-side over the ≤ topK
    // collected rows
    scored
      .select("url_id", "url", "total", "cos", "pr", "title_score", "title")
      .orderBy(isnan(col("total")), desc("total"), asc("url_id"))
      .limit(q.shape.topK)
  }

  /** Runs the bound scoring plan as one job and returns the SERP as a
    * LocalRelation with the 1-based `rank` column prepended — ≤ topK rows,
    * and a broadcastable local table for downstream joins (serpDetails). */
  private def collectSerp(spark: SparkSession, plan: SparkPlan): DataFrame = {
    val toRow = CatalystTypeConverters.createToScalaConverter(plan.schema)
    val collected = Bridge.withSessionConf(spark)(plan.executeCollect())
      .map(toRow(_).asInstanceOf[Row])
    if (collected.isEmpty) return emptyResult(spark) // pinned empty-SERP schema
    // re-assert the order driver-side (TakeOrderedAndProject returns rows
    // already ordered; this is a ≤ topK-element no-op guard, not a sort job)
    val ordered = collected.sortBy(r => (r.getDouble(2).isNaN, -r.getDouble(2), r.getLong(0)))
    val rows: Seq[Row] = ordered.zipWithIndex.map {
      case (r, i) => Row.fromSeq((i + 1) +: r.toSeq)
    }.toSeq
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("rank",
        org.apache.spark.sql.types.IntegerType, nullable = false) +: plan.schema.fields)
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema)
  }

  /** J7/T4/F12: the SERP metadata block — one multi-way left join of the
    * top-K ids against url_info, the per-doc top-5 term list (first 5
    * entries of the count-desc list, WebController.kt:134-140), PageRank,
    * and the child/parent url lists (parent = transposed edge list — free
    * on (src,dst), no second table; WebController.kt:104-142). Dates render
    * in Asia/Hong_Kong at display time only (WebController.kt:30-33). */
  def serpDetails(p: Prepared, serp: DataFrame): DataFrame = {
    val idx = p.index
    // bound every aggregate to the ≤ topK SERP ids BEFORE the groupBy:
    // the serp is a broadcastable LocalRelation, so each semi-join prunes
    // the corpus-scale side at the scan — without it every details request
    // would collect_list the ENTIRE link/term tables to serve ~50 rows
    val ids = serp.select("url_id")
    val childLists = idx.links
      .join(ids.withColumnRenamed("url_id", "src"), Seq("src"), "left_semi")
      .join(idx.urlDict.select(col("url_id").as("dst"), col("url").as("curl")), "dst")
      .groupBy(col("src").as("url_id"))
      .agg(sort_array(collect_list("curl")).as("child_urls"))
    val parentLists = idx.links
      .join(ids.withColumnRenamed("url_id", "dst"), Seq("dst"), "left_semi")
      .join(idx.urlDict.select(col("url_id").as("src"), col("url").as("purl")), "src")
      .groupBy(col("dst").as("url_id"))
      .agg(sort_array(collect_list("purl")).as("parent_urls"))
    val top5 = idx.urlWordCount
      .join(ids, Seq("url_id"), "left_semi")
      .select(col("url_id"), posexplode(slice(col("pairs"), 1, 5)).as(Seq("i", "p")))
      .join(idx.wordDict, col("p.word_id") === idx.wordDict("word_id"))
      .groupBy("url_id")
      .agg(transform(
        sort_array(collect_list(struct(col("i").as("i"), col("word").as("word"),
          col("p.tf").as("tf")))),
        x => struct(x.getField("word").as("word"), x.getField("tf").as("tf")))
        .as("top_terms"))

    serp
      .join(idx.urlInfo.select("url_id", "last_modified", "size_bytes"), Seq("url_id"))
      .join(childLists, Seq("url_id"), "left")
      .join(parentLists, Seq("url_id"), "left")
      .join(top5, Seq("url_id"), "left")
      .withColumn("last_modified_hkt",
        date_format(from_utc_timestamp(col("last_modified"), "Asia/Hong_Kong"),
          "yyyy-MM-dd HH:mm:ss"))
      .withColumn("child_urls", coalesce(col("child_urls"), array()))
      .withColumn("parent_urls", coalesce(col("parent_urls"), array()))
      .select("rank", "url_id", "url", "total", "cos", "pr", "title_score",
        "title", "last_modified_hkt", "size_bytes", "top_terms",
        "parent_urls", "child_urls")
      .orderBy("rank")
  }
}
