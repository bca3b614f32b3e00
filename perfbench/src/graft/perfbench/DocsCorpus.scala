package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded `documents` table for the dedup workload, in the schema the
  * operator family and its DuckDB oracle SQL read (doc_id, text, lang,
  * source, n_chars). Texts are space-separated words from a small
  * vocabulary, so trigram shingles recur across documents the way they do
  * in the repository's synthetic documents table. A share of documents are
  * exact copies of an earlier document and another share are edited copies
  * (a few words replaced, inserted or dropped), so every operator finds
  * pairs. Copies are always made from an original, so duplicate clusters
  * are stars and the cluster propagation converges in a few rounds. The
  * seed fixes the texts and permutes the doc_id order. */
object DocsCorpus {

  final case class Shape(docs: Int, seed: Long)

  val ExactShare = 0.03
  val NearShare = 0.12
  val MinWords = 12
  val MaxWords = 90

  private val vocab = Vector("batch", "part", "spark", "line", "column", "order", "small",
    "sort", "fast", "value", "scan", "a", "hash", "slow", "group", "agg", "filter",
    "query", "big", "key", "window", "row", "table", "stream", "merge", "data", "join",
    "vector", "customer", "the", "index", "shard", "plan", "cache", "page", "rank")

  final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

  private def fresh(rng: SearchCorpus.Rng): Vector[String] =
    Vector.fill(MinWords + rng.nextInt(MaxWords - MinWords))(vocab(rng.nextInt(vocab.size)))

  private def edit(rng: SearchCorpus.Rng, words: Vector[String]): Vector[String] = {
    var w = words
    (0 until 1 + rng.nextInt(3)).foreach { _ =>
      val at = rng.nextInt(w.size)
      w = rng.nextInt(3) match {
        case 0 => w.updated(at, vocab(rng.nextInt(vocab.size)))
        case 1 => w.patch(at, Seq(vocab(rng.nextInt(vocab.size))), 0)
        case _ => if (w.size > 4) w.patch(at, Nil, 1) else w
      }
    }
    w
  }

  /** All documents, in doc_id order. */
  def docs(shape: Shape): Vector[Doc] = {
    val rng = new SearchCorpus.Rng(shape.seed)
    val texts = scala.collection.mutable.ArrayBuffer.empty[Vector[String]]
    val originals = scala.collection.mutable.ArrayBuffer.empty[Vector[String]]
    (0 until shape.docs).foreach { i =>
      val u = rng.nextDouble()
      texts += (
        if (i > 0 && u < ExactShare) originals(rng.nextInt(originals.size))
        else if (i > 0 && u < ExactShare + NearShare) edit(rng, originals(rng.nextInt(originals.size)))
        else { val t = fresh(rng); originals += t; t })
    }
    // doc_id order is a seeded permutation of generation order
    val keys = Array.fill(shape.docs)(rng.nextLong())
    val order = (0 until shape.docs).sortBy(i => (keys(i), i))
    order.zipWithIndex.map { case (gen, id) =>
      val t = texts(gen).mkString(" ")
      Doc(id.toLong, t, if (gen % 7 == 0) "zh" else "en", s"src${gen % 5}", t.length.toLong)
    }.sortBy(_.doc_id).toVector
  }

  def generate(spark: SparkSession, shape: Shape, partitions: Int): DataFrame = {
    import spark.implicits._
    spark.createDataset(docs(shape)).repartition(partitions).toDF()
  }
}
