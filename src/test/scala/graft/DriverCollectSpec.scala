package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every result the crawl, index, rank, ops and snapshot packages pull to
  * the driver must be bounded by construction, or it grows with the corpus
  * until the driver runs out of memory. Each `.collect()`, `.head()`,
  * `.take(`, `.first()`, a physical plan's `.executeCollect()` and
  * `.executeTake(`, and each `runJob(`, in those packages is listed here
  * with the bound that holds it; a new call fails this test until it is
  * listed, with its bound. Source only: no Spark session. */
class DriverCollectSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala/graft")
  private val packages = Seq("crawler", "index", "rank", "ops", "snapshot")
  private val call = """\.(collect\(\)|head\(\)|take\(|first\(\)|executeCollect\(\)|executeTake\()|runJob\(""".r

  /** (file under graft/, text on the call's line, the bound) */
  private val allowed = Seq(
    ("crawler/Crawler.scala", "store.seen.select(bloomAgg.as(\"b\")).head()",
      "one row: a global aggregate of the seen set"),
    ("crawler/Crawler.scala", "robotsTable(pages).filter(col(\"host\").isNotNull).collect()",
      "KNOWN UNBOUNDED: one row per host with Disallow rules"),
    ("crawler/Crawler.scala", "selCount <= 4096L) Some(selKeyed.collect())",
      "the selected frontier, collected only at ≤ 4,096 rows"),
    ("crawler/Crawler.scala", ".collect().map(_.getInt(0)).toSeq",
      "distinct touched bucket ids ≤ pagesBuckets"),
    ("index/Indexer.scala", ".collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)",
      "dense-id offsets: one row per range partition"),
    ("rank/Searcher.scala", "agg(coalesce(max(\"rank\"), lit(0.0))).head()",
      "one row: the global max PageRank"),
    ("rank/Searcher.scala", "limit(maxLocalTerms + 1).collect()",
      "the term map: ≤ maxLocalTerms + 1 rows"),
    ("rank/Searcher.scala", ".collect().map(r => r.getString(0) -> r.getLong(1)).toMap",
      "dictionary rows of the query's stems"),
    ("rank/Searcher.scala", "sc.runJob(run.rows, scoreTopK)",
      "the SERP: ScoreTopK keeps ≤ topK rows per serve partition, merged to ≤ topK"),
    ("ops/TrainingOps.scala", "hot.collect()",
      "hot bucket keys: ≤ rows / maxDf"),
    ("ops/TrainingOps.scala", "result.collect()",
      "the IVF result: ≤ queries × k rows"))

  test("every driver-side collect in crawler/index/rank/ops/snapshot is " +
       "listed with its bound") {
    val sites = for {
      pkg <- packages
      path <- Files.walk(root.resolve(pkg)).iterator().asScala.toSeq.sorted
      if path.toString.endsWith(".scala")
      file = root.relativize(path).toString
      (line, no) <- Files.readAllLines(path).asScala.zipWithIndex
      code = line.trim
      if !code.startsWith("//") && !code.startsWith("*") && !code.startsWith("/*")
      if call.findFirstIn(code).isDefined
    } yield (file, no + 1, code)
    assert(sites.nonEmpty, s"no source under ${root.toAbsolutePath}")

    val unlisted = sites.filterNot { case (file, _, code) =>
      allowed.exists { case (f, text, _) => f == file && code.contains(text) } }
    assert(unlisted.isEmpty, "driver-side collects with no listed bound:\n" +
      unlisted.map { case (f, n, c) => s"  $f:$n  $c" }.mkString("\n"))

    // each entry names exactly one call, so a stale entry cannot hide a
    // second, unbounded one
    allowed.foreach { case (file, text, bound) =>
      val hits = sites.count { case (f, _, code) => f == file && code.contains(text) }
      assert(hits == 1, s"$file `$text` ($bound) matches $hits call sites")
    }
  }
}
