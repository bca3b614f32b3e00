package graft.perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, render}

/** The benchmark's JVM side. It runs one workload, times calls into the
  * engine's public functions from outside, checks every result against the
  * engine's reference oracle outside the timed windows, and prints one JSON
  * line of raw samples (prefixed `PERFBENCH_RAW `). perfbench/run.py turns
  * the samples into metrics.
  *
  * Usage: graft.perfbench.Main --workload <name> --seed <n> --seconds <s>
  *          --trace <0|1> --work <dir>
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, work: Path)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath)
  }

  val workloads: Map[String, Bench] = Map(
    "crawl_governed" -> CrawlBench,
    "search" -> SearchBench,
    "dedup_ops" -> DedupBench)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val bench = workloads.getOrElse(a.workload,
      throw new IllegalArgumentException(s"unknown workload ${a.workload}"))
    Files.createDirectories(a.work)
    val spark = session(a.work, bench)
    val out = try {
      val ctx = new Ctx(spark, a)
      bench.run(ctx)
      ctx.tracer.close()
      if (a.trace) ctx.tracer.write(a.work.resolve("spans.jsonl"))
      ctx.result()
    } finally spark.stop()
    println("PERFBENCH_RAW " + out)
  }

  val cpus: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  def session(work: Path, bench: Bench): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", bench.aqe.toString)
      .config("spark.sql.shuffle.partitions", bench.shufflePartitions.toString)
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.hadoop.fs.file.impl", classOf[graft.BareLocalFileSystem].getName)
      .config("spark.hadoop.fs.file.impl.disable.cache", "false")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** One workload: set-up, warm-up, the timed loop and its checks. */
trait Bench {
  /** Adaptive query execution on the benchmark's session. */
  def aqe: Boolean
  def shufflePartitions: Int
  def run(ctx: Ctx): Unit
}

/** Samples and bookkeeping of one run. */
final class Ctx(val spark: SparkSession, val args: Main.Args) {
  val tracer = new Tracer(spark.sparkContext)
  val setupS = mutable.ArrayBuffer.empty[Double]
  /** work items of one batch operation (urls, pages, documents) */
  var items = 0L
  val batchS = mutable.ArrayBuffer.empty[Double]
  /** latency of each completed timed operation, by tracing state; the
    * end-to-end latency is the untraced one, the difference of the two
    * medians is the tracing overhead (run.py) */
  val tracedOpMs = mutable.ArrayBuffer.empty[Double]
  val untracedOpMs = mutable.ArrayBuffer.empty[Double]
  val layers = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0L
  var threw = 0L
  var wrong = 0L
  val notes = mutable.ArrayBuffer.empty[String]
  /** dedup answers for run.py to compare with their DuckDB oracle SQL */
  val checks = mutable.ArrayBuffer.empty[JObject]

  def work(name: String): Path = args.work.resolve(name)

  def layer(name: String, v: Double): Unit =
    layers.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  def note(msg: String): Unit = if (notes.size < 20) notes += msg

  private val t0 = System.nanoTime()
  /** Progress line on stderr, with seconds since the run started. */
  def log(msg: String): Unit = System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%7.2fs $msg")

  /** Runs timed iterations in blocks of `period` until at least
    * `minIters` ran and the next block would end past `seconds` (judged by
    * the mean block so far). Whole blocks keep the mix of operations the
    * same in every run. `body(i, traced)` returns the latencies in seconds
    * of the unit operations it completed. In a traced run the blocks
    * alternate between traced and untraced, and at least one of each runs. */
  def loop(minIters: Int, period: Int = 1)(body: (Int, Boolean) => Seq[Double]): Unit = {
    val need = if (args.trace) math.max(minIters, 2 * period) else minIters
    val t0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - t0) / 1e9
    var i = 0
    while (i < need || i % period != 0 || elapsed * (i / period + 1) / (i / period) < args.seconds) {
      val traced = args.trace && (i / period) % 2 == 0
      val lat = tracer.op(traced)(body(i, traced))
      (if (traced) tracedOpMs else untracedOpMs) ++= lat.map(_ * 1000)
      i += 1
    }
  }

  /** Runs one set-up repetition `reps` times and keeps the last result. */
  def setup[T](reps: Int)(body: Int => T): T = {
    var out: Option[T] = None
    (0 until reps).foreach { r =>
      val t0 = System.nanoTime()
      out = Some(body(r))
      setupS += (System.nanoTime() - t0) / 1e9
    }
    out.get
  }

  def result(): String = compact(render(
    ("workload" -> args.workload) ~ ("seed" -> args.seed) ~ ("trace" -> args.trace) ~
      ("cpus" -> Main.cpus) ~
      ("setup_s" -> setupS.toList) ~ ("items" -> items) ~ ("batch_s" -> batchS.toList) ~
      ("op_ms" -> untracedOpMs.toList) ~ ("traced_op_ms" -> tracedOpMs.toList) ~
      ("attempted" -> attempted) ~ ("threw" -> threw) ~ ("wrong" -> wrong) ~
      ("notes" -> notes.toList) ~
      ("layers" -> layers.toMap.map { case (k, v) => k -> v.toList }) ~
      ("checks" -> JArray(checks.toList))))
}

object Util {
  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  def dirStats(f: File): (Long, Long) =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(dirStats)
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    else if (f.isFile) (1L, f.length) else (0L, 0L)

  /** Order-independent content hash of a url column plus its row count. */
  def urlDigest(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), expr("coalesce(bit_xor(xxhash64(url)), 0L)")).head()
    (r.getLong(0), r.getLong(1))
  }

  def urlDigest(spark: SparkSession, urls: Iterable[String]): (Long, Long) = {
    import spark.implicits._
    urlDigest(spark.createDataset(urls.toSeq).toDF("url"))
  }

  /** Storage memory plus disk held by cached and checkpointed blocks. */
  def storageBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Single-threaded rates of the html and text layers over a page sample:
    * MB of html parsed per second, links extracted per second, tokens per
    * second. Each loop runs for about `seconds`. */
  def layerRates(ctx: Ctx, sample: Seq[graft.corpus.PageRow], filter: String, seconds: Double): Unit = {
    def rate(body: => Long): Double = {
      var units = 0L
      val t0 = System.nanoTime()
      while ((System.nanoTime() - t0) / 1e9 < seconds) units += body
      units / ((System.nanoTime() - t0) / 1e9)
    }
    ctx.layer("html.parse_mb_per_s", rate {
      sample.foreach(p => graft.html.Html.parseBytes(p.html)); sample.map(_.html.length.toLong).sum
    } / 1e6)
    val hrefs = sample.map(p => p.url -> graft.html.Html.parseBytes(p.html).hrefs)
    ctx.layer("html.links_per_s", rate {
      hrefs.map { case (u, h) => graft.html.UrlCanon.extractLinks(h, u, filter, self = true).size.toLong }.sum
    })
    ctx.layer("text.tokens_per_s", rate {
      sample.map(p => graft.text.TextPipeline.tokenize(p.text).size.toLong).sum
    })
  }

  /** Job statistics of a traced span tree as per-layer samples. */
  def jobLayers(ctx: Ctx, prefix: String, st: JobStats): Unit = {
    ctx.layer(s"$prefix.jobs", st.jobs.get.toDouble)
    ctx.layer(s"$prefix.tasks", st.tasks.get.toDouble)
    ctx.layer(s"$prefix.task_cpu_s", st.cpuNs.get / 1e9)
    ctx.layer(s"$prefix.shuffle_bytes", st.shuffleBytes.get.toDouble)
    ctx.layer(s"$prefix.spill_bytes", st.spillBytes.get.toDouble)
  }
}
