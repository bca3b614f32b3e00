package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.storage.StorageLevel

import graft.gfn

/** The index tables replacing the reference's 13 RocksDB stores
  * (SpiderMain.kt:19-31 → SURVEY.md §1.2). All columnar Parquet-friendly
  * DataFrames; CSV-string encodings become native arrays. Each value is
  * stored once: a posting's tf-idf on its posting, and a document's
  * count-desc word list, max_tf and length on its one `docTerms` row. */
final case class IndexTables(
    urlDict: DataFrame,   // url, url_id, url_hash        (URL_DB + REVERSE_URL)
    links: DataFrame,     // src, dst                      (URL_CHILD; parent = swap)
    wordDict: DataFrame,  // word, word_id                 (WORD_DB + REVERSE_WORD)
    postings: DataFrame,  // url_id, word_id, tf, first_pos, positions ARRAY<INT>,
                          //   tfidf, tfidf_r6 (SPIDER + TF_IDF; positions stand in
                          //   for URL_WORDS)
    docTerms: DataFrame,  // url_id, pairs ARRAY<STRUCT<word_id,tf>> count-desc, max_tf, len
                          //   (URL_WORD_COUNT, its head, and URL_LENGTH)
    urlInfo: DataFrame,   // url_id, title, last_modified, size_bytes (URL_INFO)
    n: Long)              // corpus size (TfIdfMain.kt:19-20)

object Indexer {

  /** Dense 0-based ids in `orderCols` order WITHOUT a single-partition
    * global sort (SURVEY.md T1: a `Window.orderBy(url)` would funnel the
    * 10^10-row dictionary through one task): range-partition by the sort
    * key, rank within partitions, then add broadcast per-partition offsets.
    * Output: input columns + `idName`. */
  def denseIds(df: DataFrame, orderCols: Seq[String], idName: String,
               partitions: Int): DataFrame = {
    val spark = df.sparkSession
    val cols = orderCols.map(col)
    val parts = df
      .repartitionByRange(math.max(partitions, 1), cols: _*)
      .withColumn("__pid", spark_partition_id())
      .persist(StorageLevel.MEMORY_AND_DISK)
    val counts = parts.groupBy("__pid").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    var acc = 0L
    val offsets = counts.map { case (pid, c) => val o = acc; acc += c; (pid, o) }
    val offsetsDf = broadcast(
      spark.createDataFrame(offsets.toSeq).toDF("__pid", "__offset"))
    val w = Window.partitionBy("__pid").orderBy(cols: _*)
    val out = parts.join(offsetsDf, "__pid")
      .withColumn(idName, row_number().over(w).cast("long") + col("__offset") - 1)
      .drop("__pid", "__offset")
      // eager checkpoint so `parts` (an internal dictionary-scale cache no
      // caller can reach) is releasable before return — otherwise every
      // build() pinned two such caches for the session lifetime
      .localCheckpoint(true)
    parts.unpersist()
    out
  }

  /** Build every index table from the pages table and the crawl's seen set
    * (url STRING [, …]). Mirrors SpiderMain.kt:105-188 + TfIdfMain.kt as
    * one declarative DAG; the oracle (graft.oracle.ReferenceOracle) defines
    * the exact expected contents. */
  def build(spark: SparkSession, pages: DataFrame, seen: DataFrame,
            filter: String, partitions: Int = 32): IndexTables = {

    // T1: canonical ordering — ids 0..N-1 in lexicographic url order
    // (SpiderMain.kt:105-109)
    val urlDict = denseIds(seen.select("url").distinct(), Seq("url"), "url_id", partitions)
      .select(col("url"), col("url_id"), xxhash64(col("url")).as("url_hash"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = urlDict.count()

    // fetch each seen page once; missing pages index as empty docs
    // (reference: failed fetches still get store entries)
    val docs = urlDict
      .join(pages, Seq("url"), "left")
      .select(col("url"), col("url_id"), col("html"), col("warc_ts"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // J1: adjacency; inner join on the dictionary reproduces the silent
    // drop of un-crawled targets (SpiderMain.kt:113-123); self=false
    val dstDict = urlDict.select(col("url").as("dst_url"), col("url_id").as("dst"))
    val links = docs.filter(col("html").isNotNull)
      .select(col("url_id").as("src"),
        explode(gfn.extract_links(col("html"), col("url"), lit(filter), lit(false)))
          .as("dst_url"))
      .join(dstDict, Seq("dst_url"), "inner")
      .select("src", "dst")
      .persist(StorageLevel.MEMORY_AND_DISK)

    // tokenized docs: re-extract text from html (the extract_text(html) ==
    // pages.text invariant is fixture-verified separately)
    val tokenized = docs.select(col("url_id"),
      when(col("html").isNotNull, gfn.tokenize_words(gfn.extract_text(col("html"))))
        .otherwise(array()).as("toks"))
    // each document's distinct words with their positions, in document
    // order: one row per (doc, word), never one per token occurrence
    val docPositions = tokenized
      .select(col("url_id"), explode(gfn.word_positions(col("toks"))).as("wp"))
      .select(col("url_id"), col("wp.word").as("word"), col("wp.positions").as("positions"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // word ids: first-encounter order scanning docs ascending url_id, words
    // in document order (canonicalized SpiderMain.kt:143-158). One row per
    // (doc, word), so the row count per word is its exact df (A4)
    val firstSeen = docPositions.groupBy("word")
      .agg(min(struct(col("url_id"), col("positions")(0).as("pos"))).as("first"),
        count(lit(1)).as("df"))
      .select(col("word"), col("first.url_id").as("f_url"), col("first.pos").as("f_pos"),
        col("df"))
    val words = denseIds(firstSeen, Seq("f_url", "f_pos"), "word_id", partitions)
      .select("word", "word_id", "df")
    val wordDict = words.select("word", "word_id")
      .persist(StorageLevel.MEMORY_AND_DISK)

    // A1/A2/A5: postings with tf, first position and every position in
    // document order (the serve matches phrases on the positions, so no
    // forward index — URL_WORDS — is built), and tf-idf with the
    // reference's exact expression shape tf * ln(N/df) / ln(2)
    // (TfIdfMain.kt:35), its ln the JVM's (gfn.jvm_ln, not Spark's
    // StrictMath-based ln). The rounded copy is kept beside the raw one
    // because the Ranker consumes the ROUNDED value while doc length uses
    // the raw one (F11 split); it is exact-binary-value rounding
    // (gfn.round6_exact), NOT Spark's round(): the reference formats with
    // "%.6f" (java.math.BigDecimal semantics), and Spark's round() rounds
    // the shortest decimal repr, which can differ on exact 6-dp
    // half-boundary doubles
    val tf = size(col("positions"))
    val tfidf = tf.cast("double") * gfn.jvm_ln(lit(n.toDouble) / col("df").cast("double")) /
      lit(math.log(2.0))
    val postings = docPositions.join(words, Seq("word"))
      .select(col("url_id"), col("word_id"), tf.as("tf"),
        col("positions")(0).as("first_pos"), col("positions"), tfidf.as("tfidf"))
      .withColumn("tfidf_r6", gfn.round6_exact(col("tfidf")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // materialize BEFORE dropping the docPositions cache: postings is lazy,
    // and unpersisting its input first would re-run the whole
    // extract+tokenize pass (the most expensive CPU stage of indexing)
    // when postings first evaluates
    postings.count()
    docPositions.unpersist()

    // A3/A6: each document's word-count list, count desc with
    // FIRST-OCCURRENCE-stable ties (SpiderMain.kt:167-174 — Kotlin's stable
    // sortedByDescending over a LinkedHashMap, encoded as a sort by
    // (-count, first_pos)); max_tf is its head (WebController.kt:64-65)
    // and the doc length folds the RAW tf-idf squares over it in that
    // order (TfIdfMain.kt:38-42), so it adds as the reference does,
    // whatever the partitioning. Empty docs have no entry (TfIdfMain.kt:26)
    val docTerms = postings.groupBy("url_id")
      .agg(sort_array(collect_list(struct((-col("tf")).as("neg"), col("first_pos"),
        col("word_id"), col("tf"), col("tfidf")))).as("terms"))
      .select(col("url_id"),
        transform(col("terms"),
          x => struct(x.getField("word_id").as("word_id"), x.getField("tf").as("tf"))).as("pairs"),
        col("terms")(0).getField("tf").as("max_tf"),
        sqrt(aggregate(col("terms"), lit(0.0),
          (acc, x) => acc + x.getField("tfidf") * x.getField("tfidf"))).as("len"))

    // F8-F10: metadata; warc_ts plays the Last-Modified header, the
    // copyright paragraph is the fallback, then the reference default
    // (HTMLParser.kt:197-223)
    // title: lastChild of the first <title>; ANY fetch/parse failure —
    // including a page missing from the table — yields "Unauthorized"
    // (HTMLParser.kt:186-195 catch-all)
    val urlInfo = docs.select(
      col("url_id"),
      when(col("html").isNotNull, gfn.extract_title(col("html")))
        .otherwise(lit("Unauthorized")).as("title"),
      coalesce(col("warc_ts"),
        when(col("html").isNotNull, gfn.extract_copyright_date(col("html"))),
        to_timestamp(lit("1990-01-01 00:00:00"))).as("last_modified"),
      coalesce(octet_length(col("html")), lit(0)).as("size_bytes"))

    IndexTables(urlDict, links, wordDict, postings, docTerms, urlInfo, n)
  }

  /** S6: the reference's quoted-CSV value encoding (CSVParser.kt:10-34 /
    * opencsv CSVWriter — every field double-quoted, comma-joined). Only
    * needed when a fixture pins the exact storage string; the engine's
    * native representation is ArrayType. */
  def csvQuoted(arr: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat_ws(",", transform(arr, x => concat(lit("\""), x.cast("string"), lit("\""))))
}
