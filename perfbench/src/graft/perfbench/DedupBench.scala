package graft.perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row}
import org.json4s.JsonDSL._

import graft.SparkEntry
import graft.ops.TrainingOps

/** The dedup workload: the operator family (exact-duplicate summary,
  * Jaccard shingle pairs, MinHash-LSH pairs, winnowing pairs, SimHash
  * pairs, near-duplicate clusters) over a seeded documents table, with the
  * parameters of the repository's gated queries. One unit operation is one
  * operator call; one batch is a pass of the whole family. The first
  * timed pass's outputs are written next to the documents, with each
  * query's DuckDB oracle SQL, for run.py to check; every later timed pass
  * (a traced run makes at least two) must return the same rows. */
object DedupBench extends Bench {
  val aqe = true
  def shufflePartitions: Int = Main.cpus

  val Docs = 600
  val SetupReps = 3
  val MinPasses = 1

  /** (layer name, gated query whose oracle SQL defines the result, operator) */
  val family: Seq[(String, String, DataFrame => DataFrame)] = Seq(
    ("exact", "q_dedup_exact", d => TrainingOps.exactDupSummary(d)),
    ("jaccard", "q_jaccard_pairs", d => TrainingOps.jaccardPairs(d, threshold = 0.4)),
    ("minhash", "q_minhash_lsh", d => TrainingOps.minhashLshPairs(d)),
    ("winnow", "q_winnow_pairs", d => TrainingOps.winnowPairs(d, minShared = 60)),
    ("simhash", "q_simhash_pairs", d => TrainingOps.simhashPairs(d, maxHamming = 6)),
    ("clusters", "q_dedup_clusters", d => TrainingOps.dupClusters(TrainingOps.jaccardPairs(d, threshold = 0.4))))

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val shape = DocsCorpus.Shape(Docs, ctx.args.seed)
    val docsPath = ctx.work("documents.parquet").toString
    val docs = ctx.setup(SetupReps) { _ =>
      DocsCorpus.generate(spark, shape, 2 * Main.cpus).write.mode("overwrite").parquet(docsPath)
      val d = spark.read.parquet(docsPath)
      d.count()
      d
    }
    ctx.items = Docs

    /** One pass: each operator's rows, result frame and span, and the
      * pass wall. */
    def pass(): (Seq[(Array[Row], DataFrame, Span)], Double) = {
      val (outs, span) = ctx.tracer.span("ops.family") {
        family.map { case (name, _, op) =>
          val ((rows, df), s) = ctx.tracer.span(s"ops.$name") { val df = op(docs); (df.collect(), df) }
          (rows, df, s)
        }
      }
      (outs, span.seconds)
    }

    ctx.log("set-up done")
    // a traced run compares traced with untraced passes, so it first makes
    // one untimed pass: both compared passes are then warm
    if (ctx.args.trace) pass()
    val digests = mutable.Map.empty[String, Int]
    val calls = mutable.Map.empty[String, Int].withDefaultValue(0)
    ctx.loop(MinPasses) { (i, traced) =>
      ctx.attempted += family.size
      try {
        val (outs, wall) = pass()
        var ok = true
        family.zip(outs).foreach { case ((name, query, _), (rows, df, span)) =>
          calls(query) += 1
          val d = digest(rows)
          if (!digests.contains(query)) {
            digests(query) = d
            // the oracle check reads this copy of the first answer
            spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
              .coalesce(1).write.mode("overwrite").parquet(ctx.work(s"out/$query").toString)
          } else if (digests(query) != d) {
            ok = false; ctx.wrong += 1; ctx.note(s"$name pass $i differs from the first pass")
          }
          if (traced) {
            ctx.layer(s"ops.${name}_s", span.seconds)
            ctx.layer(s"ops.${name}_shuffle_bytes", ctx.tracer.inclusive(span).shuffleBytes.get.toDouble)
          }
        }
        if (traced) ctx.layer("ops.pairs_out", family.zip(outs).collect {
          case ((n, _, _), (rows, _, _)) if n != "exact" && n != "clusters" => rows.length
        }.sum.toDouble)
        else if (ok) ctx.batchS += wall
        if (ok) outs.map(_._3.seconds) else Nil
      } catch { case NonFatal(e) => ctx.threw += family.size; ctx.note(s"pass $i: $e"); Nil }
    }
    ctx.log("timed loop done")
    family.foreach { case (_, query, _) =>
      if (digests.contains(query)) ctx.checks +=
        ("query" -> query) ~ ("sql" -> SparkEntry.oracleSql(query)) ~
          ("engine" -> ctx.work(s"out/$query").toString) ~ ("calls" -> calls(query)) ~
          ("tables" -> ("documents" -> docsPath))
    }
  }

  /** Order-independent hash of a result's rows. */
  def digest(rows: Array[Row]): Int =
    scala.util.hashing.MurmurHash3.unorderedHash(rows.toSeq.map(_.toSeq.mkString("\u0001")))
}
