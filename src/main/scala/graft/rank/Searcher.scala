package graft.rank

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.execution.{BaseSubqueryExec, LogicalRDD, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
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
  *  - one Spark job of one stage and one task per query (AQE off on the
  *    serve session, no exchange, no broadcast, no subquery): term resolve
  *    is driver-side whenever the term dictionary fits in memory, and the
  *    scoring aggregate, mean score and top-K run in the job that collects
  *    the SERP;
  *  - `statics` and the postings are materialized leaves, hash-partitioned
  *    on url_id to the serve session's shuffle partitions, so the scoring
  *    aggregate and the statics join need no exchange. Phrases read the
  *    positions on the postings leaf, not a forward index;
  *  - a query reads only its own posting lists: each postings partition is
  *    kept as one block with, per word id, the numbers of its rows
  *    ([[WordSlices]]), and emits the rows of the query's words in leaf
  *    order, so every per-document sum adds in the order of a full scan;
  *  - no per-query cache: a query leaves nothing persisted behind;
  *  - one prepared run per query shape ([[Shape]]): its plan is analyzed,
  *    optimized, planned and compiled, and its RDD is built, at the shape's
  *    first query, and kept on the Prepared until close(). Every query of
  *    the shape runs that RDD again, so a query runs no analysis,
  *    optimization, planning or whole-stage code generation, builds no
  *    RDD, and posts no SQL-execution events;
  *  - values carried per query: word ids, multiplicities, phrases, stems
  *    and the query length are [[QueryParam]]s, carried as a job-local
  *    property of the query's job and decoded once per task, so racing
  *    queries of one shape each read their own values;
  *  - a shape's plan holds no exchange, subquery, broadcast or adaptive
  *    node ([[rerunBlockers]], required at the shape's first query): a
  *    shuffle's output would be reused by the next run of the RDD, which
  *    would then return the first query's rows;
  *  - the scoring join runs once, and the stage runs in generated code
  *    (but for a phrase's `collect_list` aggregate) below a narrow
  *    `coalesce(1)` of the scored rows: the job's function ([[ScoreTopK]])
  *    computes the mean score, the title score and the total over that one
  *    partition and keeps the top K, so above one serve partition the
  *    scored partitions are read by one task, with no exchange, and no
  *    operator generates projection code in the query's task.
  *
  * Exactness notes:
  *  - single-word score = mult · tf · tfidf_r6 (the reference scatter-adds
  *    the ROUNDED tfidf once per posting-list occurrence, once per repeat
  *    of the word in the query);
  *  - phrase score = (Σ over phrase TOKENS, duplicates included, of
  *    tfidf_r6) × non-overlapping phrase count;
  *  - an unknown word inside a phrase kills the whole phrase; an unknown
  *    single word is dropped (Ranker.kt:100-119);
  *  - normalizer = doc length · sqrt(#resolved term ids, flattened);
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
                            serve: SparkSession,
                            wordIdLocal: Option[Map[String, Long]] = None) {
    /** The prepared run of each query [[Shape]] served so far, built at
      * that shape's first query and run again by each query of it. */
    private[rank] val runs = new ConcurrentHashMap[Shape, ShapeRun]()

    /** Release everything [[prepare]] materialized — the rank cache, the
      * checkpointed statics, the postings blocks, the shape runs. A
      * long-lived serving session should close() retired Prepared instances. */
    def close(): Unit = {
      runs.clear()
      ranks.unpersist()
      Seq(statics, postingsTfidf).foreach(release)
    }
  }

  /** Largest vocabulary [[prepare]] holds as a driver-side term map. */
  private val MaxLocalTerms = 1000000

  /** Documents per serve partition that [[prepare]] sizes the leaves for. */
  private val DocsPerServePartition = 50000L

  /** The RDD behind a leaf DataFrame (a LogicalRDD). */
  private[graft] def checkpointRdd(df: DataFrame): Option[RDD[_]] =
    df.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd }

  /** Frees a leaf's blocks — `Dataset.unpersist()` only drops cache
    * entries, never a local checkpoint. */
  private def release(df: DataFrame): Unit = checkpointRdd(df).foreach {
    case slices: WordSlices => slices.blocks.unpersist(blocking = false)
    case rdd => rdd.unpersist(blocking = false)
  }

  /** One-time serving prep: all query-invariant work happens here.
    *  - the rank table is cached and the global max PR read once;
    *  - `statics` pre-joins every per-doc value the serve consumes
    *    (docTerms' max_tf and doc length ⋈ rank ⋈ title ⋈ url, plus the
    *    tokenized and lowercased title);
    *  - `postingsTfidf` is the postings' tf, rounded tf-idf and positions,
    *    with each partition kept as one block sliced by word id
    *    ([[WordSlices]]), read through the query's word ids;
    *  - both are leaves hash-partitioned on url_id, each materialized by
    *    one job: no per-query plan can re-derive them, and their
    *    partitioning lets the scoring aggregate and join skip the
    *    exchange;
    *  - a term dictionary of ≤ [[MaxLocalTerms]] terms is held driver-side
    *    (one bounded collect); larger ones keep the distributed lookup.
    *
    * The serve runs on a [[Bridge.fixedPlanSession]] with the derived serve
    * partitions and the phrase aggregate's in-memory key bound, so
    * concurrent non-search queries never observe serve conf. The index
    * tables and ranks are bound onto it with [[Bridge.onSession]]; the
    * shared cache still substitutes the parent's cached plans. */
  def prepare(index: IndexTables, ranks: DataFrame): Prepared =
    prepare(index, ranks, MaxLocalTerms)

  /** [[prepare]] holding a dictionary of at most `maxLocalTerms` terms
    * driver-side (a larger one is looked up per query), and serving at
    * `servePartitions` url_id partitions when given instead of the ones the
    * index size derives (an index of 50,000 × that many documents would be
    * prepared so). */
  private[graft] def prepare(index: IndexTables, ranks: DataFrame, maxLocalTerms: Int = MaxLocalTerms,
                             servePartitions: Option[Int] = None): Prepared = {
    val parent = ranks.sparkSession
    val cached = ranks.cache()
    // coalesce: max over ZERO rows is SQL NULL — an index built from an
    // empty crawl must serve empty SERPs, not NPE inside prepare()
    val maxPR = cached.agg(coalesce(max("rank"), lit(0.0))).head().getDouble(0)

    // serve-side shuffle partitioning is derived from the index size: the
    // per-query matched set is ≤ n docs, so ~50k docs/partition, capped at
    // the parent's configured shuffle partitions
    val parentSp = parent.conf.getOption("spark.sql.shuffle.partitions")
      .flatMap(s => scala.util.Try(s.toInt).toOption)
      .getOrElse(parent.sparkContext.defaultParallelism)
    val serveSp = servePartitions.getOrElse(math.max(1L, math.min(parentSp.toLong,
      (index.n + DocsPerServePartition - 1) / DocsPerServePartition)).toInt)
    val serve = Bridge.fixedPlanSession(parent, serveSp)
    // a phrase's scoring aggregate (collect_list) keys one serve partition's
    // matched documents: keep them in its hash map rather than sort them
    // in every query once 128 keys are held
    serve.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
      DocsPerServePartition.toString)

    var leaves = List.empty[DataFrame]
    def materialize(df: DataFrame, leaf: DataFrame => DataFrame): DataFrame = {
      val l = leaf(df.repartition(serveSp, col("url_id")))
      leaves ::= l
      l
    }
    def rebind(df: DataFrame): DataFrame = Bridge.onSession(df, serve)
    // any failure must release the leaves made so far — Prepared was never
    // constructed, so the caller has no close() handle to release them
    try {
      val sIdx = IndexTables(
        urlDict = rebind(index.urlDict),
        links = rebind(index.links),
        wordDict = rebind(index.wordDict),
        postings = rebind(index.postings),
        docTerms = rebind(index.docTerms),
        urlInfo = rebind(index.urlInfo),
        n = index.n)
      val sRanks = rebind(cached)

      val statics = materialize(sIdx.docTerms
        .join(sRanks, Seq("url_id"), "left")
        .join(sIdx.urlInfo.select("url_id", "title"), Seq("url_id"))
        .join(sIdx.urlDict.select("url_id", "url"), Seq("url_id"))
        .select(col("url_id"), col("max_tf"),
          coalesce(col("rank"), lit(0.0)).as("rank"), col("title"), col("url"),
          col("len"),
          gfn.tokenize_words(col("title")).as("title_toks"),
          lower(col("title")).as("title_lc")), Bridge.localCheckpoint)

      val postingsTfidf = materialize(sIdx.postings
        .select(col("word_id"), col("url_id"), col("tf"), col("tfidf_r6"), col("positions")),
        sliceByWord)

      // coalesce(1): the bounded collect is one job reading at most
      // maxLocalTerms + 1 rows, whatever the dictionary's partitioning
      val terms = sIdx.wordDict.coalesce(1).limit(maxLocalTerms + 1).collect()
      val wordIdLocal =
        if (terms.length <= maxLocalTerms)
          Some(terms.map(r => r.getString(0) -> r.getLong(1)).toMap)
        else None

      Prepared(sIdx, cached, maxPR, statics, postingsTfidf, serve, wordIdLocal)
    } catch { case e: Throwable =>
      leaves.foreach(l => scala.util.Try(release(l)))
      scala.util.Try(cached.unpersist())
      throw e
    }
  }

  /** `rows`, url_id-partitioned with the word id first, as the serve's
    * postings leaf: one job packs each partition into a [[PostingsBlock]],
    * kept as a local checkpoint, and a query's task emits only the rows of
    * the words in its [[IdsSlot]]. */
  private def sliceByWord(rows: DataFrame): DataFrame = Bridge.withSessionConf(rows.sparkSession) {
    val width = rows.schema.length
    val blocks = rows.queryExecution.toRdd
      .mapPartitions(it => Iterator(PostingsBlock(width, it)))
      .localCheckpoint()
    blocks.count()
    Bridge.hashPartitionedLeaf(rows.sparkSession, rows.schema, new WordSlices(blocks, IdsSlot),
      "url_id", Bridge.storedBytes(blocks))
  }

  private def emptyResult(spark: SparkSession): DataFrame =
    Bridge.localRows(spark,
      StructType(Seq(
        StructField("rank", IntegerType), StructField("url_id", LongType),
        StructField("url", StringType), StructField("total", DoubleType),
        StructField("cos", DoubleType), StructField("pr", DoubleType),
        StructField("title_score", DoubleType), StructField("title", StringType))), Nil)

  /** The `spark` parameter is retained for API stability but the query
    * executes on the Prepared's dedicated serve session — the caller's
    * session conf is never touched. */
  def search(spark: SparkSession, p: Prepared, query: String, topK: Int = 50): DataFrame =
    resolve(p, query) match {
      case Some(q) if topK > 0 => collectSerp(p, q, topK)
      case _ => emptyResult(p.serve)
    }

  /** What a query's scoring plan is built from besides its values: whether
    * single terms are present and the number of phrases. Every shape has at
    * least one term group, so no plan has an empty branch. */
  private[rank] final case class Shape(singles: Boolean, phrases: Int)

  /** A shape's executed plan, whose root is the narrow coalesce of its
    * scored rows, and the plan's RDD, built once: each query of the shape
    * runs the RDD again with its own values. */
  private[graft] final case class ShapeRun(plan: SparkPlan, rows: RDD[InternalRow])

  /** A resolved query: its shape and the value of each [[QueryParam]] slot
    * — the query length, the stems, the distinct word ids of all its term
    * groups (ascending; the postings leaf emits their rows), then three
    * slots per term group (the single terms first, then each phrase): its
    * distinct word ids, their multiplicities and its ids in query order
    * (read by phrases only). */
  private final case class Bound(shape: Shape, values: IndexedSeq[Any])

  private val LengthSlot = 0
  private val StemsSlot = 1
  private val IdsSlot = 2
  private def groupSlot(g: Int) = 3 + 3 * g

  /** The run of `query`'s shape on `p`, built if the shape is new, or None
    * when no query term resolves. */
  private[graft] def shapeRun(p: Prepared, query: String): Option[ShapeRun] =
    resolve(p, query).map(q => shapeRun(p, q.shape))

  private def shapeRun(p: Prepared, shape: Shape): ShapeRun =
    p.runs.computeIfAbsent(shape, _ => Bridge.withSessionConf(p.serve) {
      val plan = shapePlan(p, shape).queryExecution.executedPlan
      val blockers = rerunBlockers(plan)
      require(blockers.isEmpty, "a serve plan must be one stage that can run " +
        s"again: ${blockers.mkString(", ")}\n${plan.treeString}")
      val rows = plan.execute()
      rows.partitions // computed once, before racing queries share the RDD
      ShapeRun(plan, rows)
    })

  /** The nodes of `plan` that keep a result between two runs of its RDD or
    * re-plan at run time: exchanges (a shuffle's output is reused by the
    * next job), reused exchanges and subqueries, subquery expressions,
    * broadcasts and adaptive plans. */
  private[graft] def rerunBlockers(plan: SparkPlan): Seq[String] =
    plan.collectWithSubqueries {
      case n @ (_: Exchange | _: ReusedExchangeExec | _: BaseSubqueryExec |
                _: AdaptiveSparkPlanExec) => n.nodeName
      case n if n.subqueries.nonEmpty => s"${n.nodeName} with a subquery"
    }

  /** Runs `q`'s shape as one job carrying `q`'s values, and returns the
    * SERP as a LocalRelation with the 1-based `rank` column prepended — ≤
    * topK rows, and a broadcastable local table for downstream joins
    * (serpDetails). */
  private def collectSerp(p: Prepared, q: Bound, topK: Int): DataFrame = {
    val run = shapeRun(p, q.shape)
    val scoreTopK = new ScoreTopK(topK)
    val sc = p.serve.sparkContext
    val perPartition = Bridge.withSessionConf(p.serve)(QueryParam.withValues(sc, q.values)(
      sc.runJob(run.rows, scoreTopK)))
    val rows = firstK(perPartition.iterator.flatten, topK)
    if (rows.isEmpty) return emptyResult(p.serve) // pinned empty-SERP schema
    rows.indices.foreach(i => rows(i).setInt(0, i + 1))
    val scored = run.plan.schema
    Bridge.localRows(p.serve, StructType(Seq(StructField("rank", IntegerType, nullable = false),
      scored("url_id"), scored("url"), StructField("total", DoubleType), scored("cos"),
      scored("pr"), StructField("title_score", DoubleType), scored("title"))), rows.toSeq)
  }

  // the ordinals of a shape plan's scored row, and of a SERP row
  private val UrlIdAt = 0
  private val UrlAt = 1
  private val TitleAt = 2
  private val ScoreAt = 3
  private val CosAt = 4
  private val PrAt = 5
  private val HitsAt = 6
  private val SerpUrlIdAt = 1
  private val SerpTotalAt = 3

  /** The job's function over the one partition of a shape's scored rows
    * (WebController.kt:60-83): the mean score Σ score / 3n, summed in row
    * order as a sum aggregate adds it; per row the title score, the mean
    * once per matching stem (so no match scores 0.0 even when the mean is
    * NaN), and the total (cos + pr) + title score; then the first `k` SERP
    * rows (rank left 0) under [[SerpOrder]]. A class, not a closure, so the
    * job cleans no closure. */
  private final class ScoreTopK(k: Int)
      extends ((TaskContext, Iterator[InternalRow]) => Array[InternalRow]) with Serializable {
    def apply(task: TaskContext, rows: Iterator[InternalRow]): Array[InternalRow] = {
      val scored = rows.map(_.copy()).toArray // a scan reuses its row objects
      var sum = 0.0
      scored.foreach(r => sum += r.getDouble(ScoreAt))
      val mean = sum / (3L * scored.length)
      firstK(scored.iterator.map { r =>
        val hits = r.getInt(HitsAt)
        val titleScore = if (hits == 0) 0.0 else hits * mean
        val (cos, pr) = (r.getDouble(CosAt), r.getDouble(PrAt))
        InternalRow(0, r.getLong(UrlIdAt), r.getUTF8String(UrlAt), cos + pr + titleScore, cos, pr,
          titleScore, r.getUTF8String(TitleAt))
      }, k)
    }
  }

  /** The first `k` of `rows` under [[SerpOrder]], in order: of one
    * partition in a task, and of the partitions' results on the driver. */
  private def firstK(rows: Iterator[InternalRow], k: Int): Array[InternalRow] = {
    val kept = new java.util.PriorityQueue[InternalRow](math.min(k, 1024), SerpOrder.reverse)
    rows.foreach { r => // head: the last kept
      if (kept.size < k) kept.add(r)
      else if (SerpOrder.lt(r, kept.peek())) { kept.poll(); kept.add(r) }
    }
    kept.toArray(new Array[InternalRow](0)).sorted(SerpOrder)
  }

  /** The SERP order `(isnan(total), total DESC, url_id ASC)`, with Spark's
    * double comparison (−0.0 equals 0.0). */
  private object SerpOrder extends Ordering[InternalRow] {
    def compare(a: InternalRow, b: InternalRow): Int = {
      val (x, y) = (a.getDouble(SerpTotalAt), b.getDouble(SerpTotalAt))
      if (x.isNaN != y.isNaN) java.lang.Boolean.compare(x.isNaN, y.isNaN)
      else if (x == y || x.isNaN) java.lang.Long.compare(a.getLong(SerpUrlIdAt), b.getLong(SerpUrlIdAt))
      else java.lang.Double.compare(y, x)
    }
  }

  /** Driver-side query analysis (queries are tiny): stems → word ids with
    * the phrase-kill rule (Ranker.kt:100-119), and the parameter values. */
  private def resolve(p: Prepared, query: String): Option[Bound] = {
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
      new GenericArrayData(allStems.map(s => UTF8String.fromString(s): Any).toArray),
      ArrayData.toArrayData(idGroups.flatten.distinct.sorted.toArray)) ++
      termGroups.flatMap { ids =>
        val mults = ids.groupBy(identity).map { case (w, occ) => (w, occ.size) }.toSeq.sortBy(_._1)
        Seq(ArrayData.toArrayData(mults.map(_._1).toArray),
          ArrayData.toArrayData(mults.map(_._2).toArray), ArrayData.toArrayData(ids.toArray))
      }
    Some(Bound(Shape(singles.nonEmpty, phrases.size), values))
  }

  /** The scoring plan of `shape`, reading every query value from its
    * [[QueryParam]]s. */
  private def shapePlan(p: Prepared, shape: Shape): DataFrame = {
    def param(slot: Int, dt: DataType): Column = Bridge.column(QueryParam(slot, dt))
    val idsType = ArrayType(LongType, containsNull = false)
    val wordId = col("word_id")
    // per term group: whether a postings row's word is in the group, the
    // word's multiplicity in it, and the group's ids in query order
    final case class Group(has: Column, mult: Column, order: Column)
    val groups = (0 until (if (shape.singles) 1 else 0) + shape.phrases).map { g =>
      val ids = param(groupSlot(g), idsType)
      Group(array_contains(ids, wordId),
        element_at(param(groupSlot(g) + 1, ArrayType(IntegerType, containsNull = false)),
          array_position(ids, wordId).cast("int")),
        param(groupSlot(g) + 2, idsType))
    }
    val (singles, phrases) = groups.splitAt(if (shape.singles) 1 else 0)

    // -- one aggregate per document over the postings leaf, which emits
    // only the rows of the query's words and is url_id-partitioned, so it
    // needs no exchange: the single-term sum, and per phrase its term sum
    // and the positions of its words. Each input is projected before the
    // aggregate, in generated code ------------------------------------------
    val single = if (shape.singles) Seq(col("single")) else Nil
    val inputs = singles.map(s => when(s.has, s.mult * col("tf") * col("tfidf_r6")).as("single")) ++
      phrases.indices.map(i => when(phrases(i).has, phrases(i).mult * col("tfidf_r6")).as(s"term$i")) ++
      (if (phrases.isEmpty) Nil
       else Seq(when(phrases.map(_.has).reduce(_ || _), struct(wordId, col("positions"))).as("at")))
    val aggs = single.map(sum(_).as("single")) ++
      phrases.indices.map(i => sum(s"term$i").as(s"term_sum$i")) ++
      (if (phrases.isEmpty) Nil else Seq(collect_list("at").as("positions")))
    val perDoc = p.postingsTfidf
      .select(col("url_id") +: inputs: _*)
      .groupBy("url_id")
      .agg(aggs.head, aggs.tail: _*)
      .select((col("url_id") +: single) ++ phrases.indices.flatMap(i => Seq(col(s"term_sum$i"),
        gfn.count_phrase_at(col("positions"), phrases(i).order).as(s"count$i"))): _*)

    // a document's raw score adds its contributions left to right, single
    // terms first, then each matched phrase (term sum × count), skipping an
    // absent one as a sum does; a document with neither has no raw score
    def plus(a: Column, b: Column) = coalesce(a + b, a, b)
    val raw = (single ++ phrases.indices.map(i =>
      when(col(s"count$i") > 0, col(s"term_sum$i") * col(s"count$i")))).reduce(plus)
    val rawScores = perDoc.select(col("url_id"), raw.as("raw")).filter(col("raw").isNotNull)

    // -- normalization (Ranker.kt:92-95): one url_id join against statics,
    // which carries the doc length; both sides are url_id-partitioned. A
    // zero-length document gets the IEEE quotient (NaN for 0/0), as in the
    // reference, instead of ANSI's DIVIDE_BY_ZERO ----------------------------
    val norm = col("len") * param(LengthSlot, DoubleType)
    val joined = rawScores.hint("shuffle_hash").join(p.statics, Seq("url_id"))
      .withColumn("score", when(norm === 0.0, signum(col("raw")) * Double.PositiveInfinity)
        .otherwise(col("raw") / norm))

    // -- final scoring (WebController.kt:60-83): cos, pr and the number of
    // query stems in the title, in the join's generated code. The mean score
    // (Σ score / 3n — the reference's driver-side mean), the title score and
    // the total are the job's function's ([[ScoreTopK]]): the narrow
    // coalesce(1) gives it every scored row in one partition, without an
    // exchange, so the scoring join runs once. The columns are in the order
    // of the scored-row ordinals ---------------------------------------------
    joined
      .select(col("url_id"), col("url"), col("title"), col("score"),
        (col("score") / col("max_tf")).as("cos"), (col("rank") / lit(p.maxPR * 3)).as("pr"),
        gfn.title_hits(param(StemsSlot, ArrayType(StringType, containsNull = false)),
          col("title_toks"), col("title_lc")).as("title_hits"))
      .coalesce(1)
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
    val top5 = idx.docTerms
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
