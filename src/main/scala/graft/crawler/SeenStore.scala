package graft.crawler

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.snapshot.{RoundMetrics, Snapshot, SnapshotLog}

/** Crawl state recovered from the latest committed round: the round to run
  * next, the seen count, the frontier and its size. */
private[crawler] final case class Resumed(round: Int, seenCount: Long, frontier: DataFrame,
                                          frontierCount: Long)

/** Where a crawl keeps its seen set (url, url_hash, depth) and frontier
  * between rounds. Each round the crawler [[append]]s its new-seen delta,
  * [[keep]]s the next frontier, then [[commit]]s the round. Both stores
  * hold these invariants:
  *   - `seen` is the union of the appended deltas as one flat plan, never a
  *     per-round copy of the whole set. Every `compactEvery` deltas fold
  *     into one, so the plan never unions more than `compactEvery` deltas
  *     (an unbounded union is re-analyzed every round: O(R²) planning over
  *     R rounds), and each row is copied O(R / compactEvery) times;
  *   - compaction runs only after the round's commit;
  *   - the returned delta and frontier are stable: reading them again
  *     never re-runs the round;
  *   - `append` runs the delta's plan exactly once, in one eager action, so
  *     an `Observation` attached to the delta is filled when it returns. */
private[crawler] sealed trait SeenStore {
  /** the state to continue from; None starts a fresh crawl */
  def resumed: Option[Resumed]
  /** the seen set, including the last appended delta */
  def seen: DataFrame
  def append(round: Int, delta: DataFrame): DataFrame
  def keep(round: Int, frontier: DataFrame): DataFrame
  def commit(round: Int, seenCount: Long, metrics: RoundMetrics): Unit
}

private[crawler] object SeenStore {
  val SeenSchema: StructType =
    StructType.fromDDL("url STRING NOT NULL, url_hash BIGINT NOT NULL, depth INT NOT NULL")
  val FrontierSchema: StructType = StructType.fromDDL("url STRING, host STRING, depth INT")

  /** A work directory selects snapshot mode, its absence memory mode. */
  def apply(spark: SparkSession, cfg: CrawlConfig, resume: Boolean): SeenStore = {
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      SeenSchema)
    cfg.workDir match {
      case Some(dir) => new SnapshotTables(spark, new SnapshotLog(dir), cfg, resume, empty)
      case None      => new Checkpoints(cfg.compactEvery, empty)
    }
  }
}

/** Memory mode: local checkpoints, nothing to resume from.
  *   - A delta is an EAGER checkpoint: its one job also fills the round's
  *     delta observation (a lazy checkpoint would run the plan outside any
  *     action that reports observed metrics).
  *   - The frontier is kept as is: filters and a union over checkpoints
  *     already materialized, whose lineage the next round's selection
  *     checkpoint truncates.
  *   - Compaction is one eager checkpoint of the union. */
private[crawler] final class Checkpoints(compactEvery: Int, empty: DataFrame)
    extends SeenStore {
  private var deltas = Vector.empty[DataFrame]
  var seen: DataFrame = empty
  def resumed: Option[Resumed] = None

  def append(round: Int, delta: DataFrame): DataFrame = {
    val cp = delta.localCheckpoint(true)
    deltas :+= cp
    seen = deltas.reduce(_ unionByName _)
    cp
  }

  def keep(round: Int, frontier: DataFrame): DataFrame = frontier

  def commit(round: Int, seenCount: Long, metrics: RoundMetrics): Unit =
    if (deltas.length >= compactEvery) {
      seen = seen.localCheckpoint(true)
      deltas = Vector(seen)
    }
}

/** Snapshot mode: each delta and each frontier is a parquet table under the
  * work directory, and each round commits a manifest naming them
  * ([[SnapshotLog]]).
  *   - Write fence: every file this run writes carries its random
  *     `runToken`, so a run that loses the manifest CAS (a stale resumer, a
  *     concurrent writer, a fresh run on a used directory) never overwrites
  *     a file a committed manifest references; its files are only orphaned.
  *   - Readers go only through manifest paths: `seen` is one multi-path
  *     scan of the delta list, and resume reads `latest`.
  *   - Every table is read back with its known schema, so no read runs a
  *     schema-inference job.
  *   - Compaction rewrites the delta list into one fenced delta after the
  *     commit, and the next commit publishes it: a crash inside the
  *     rewrite leaves the committed chain intact. */
private[crawler] final class SnapshotTables(spark: SparkSession, log: SnapshotLog,
    cfg: CrawlConfig, resume: Boolean, empty: DataFrame) extends SeenStore {
  private val runToken = java.lang.Long.toHexString(
    java.util.concurrent.ThreadLocalRandom.current().nextLong() | 1L)
  private val latest = if (resume) log.latest else None
  // the chain's config must be this crawl's: mixing seeds, filter, budget
  // or depth across a resume would corrupt the crawl state
  latest.foreach(snap => require(snap.configHash == cfg.configHash,
    s"resume config mismatch: snapshot v${snap.id} was written under configHash=" +
      s"${snap.configHash}, current config hashes to ${cfg.configHash} — resume " +
      "with the original CrawlConfig or start a fresh workDir"))
  private var nextId = latest.fold(0)(_.id + 1)
  private var paths = latest.fold(Vector.empty[String])(_.seenDeltaPaths)
  private def readSeen(ps: Seq[String]) = spark.read.schema(SeenStore.SeenSchema).parquet(ps: _*)
  private def readFrontier(p: String) = spark.read.schema(SeenStore.FrontierSchema).parquet(p)
  var seen: DataFrame = if (paths.nonEmpty) readSeen(paths) else empty
  val resumed: Option[Resumed] = latest.map(snap => Resumed(snap.round + 1, snap.seenCount,
    readFrontier(snap.frontierPath), snap.metrics.frontierNext))

  private def fenced(prefix: String, round: Int) = s"${log.dir}/$prefix${round}_$runToken"

  def append(round: Int, delta: DataFrame): DataFrame = {
    val path = fenced("seen/delta_r", round)
    delta.write.mode("overwrite").parquet(path)
    paths :+= path
    seen = readSeen(paths)
    readSeen(Seq(path))
  }

  def keep(round: Int, frontier: DataFrame): DataFrame = {
    frontier.write.mode("overwrite").parquet(fenced("frontier/r", round))
    readFrontier(fenced("frontier/r", round))
  }

  def commit(round: Int, seenCount: Long, metrics: RoundMetrics): Unit = {
    log.commit(Snapshot(nextId, nextId - 1, round, paths, fenced("frontier/r", round),
      seenCount, cfg.configHash, metrics))
    nextId += 1
    if (paths.length >= cfg.compactEvery) {
      val path = fenced("seen/compact_r", round)
      seen.write.mode("overwrite").parquet(path)
      paths = Vector(path)
      seen = readSeen(paths)
    }
  }
}
