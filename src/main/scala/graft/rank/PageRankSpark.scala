package graft.rank

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.storage.StorageLevel

/** PageRank as an iterative edge-list join-aggregate — the idiomatic Spark
  * form of the reference's dense matrix power iteration
  * (SpiderMain.kt:201-263), with identical semantics:
  *
  *   rank ← 0.15 + 0.85 · Σ_{src→dst} rank(src) / outdeg(src)
  *
  * init 1.0; NO dangling-mass redistribution; NO 1/N scaling; no
  * convergence test — the reference runs exactly 40 iterations
  * (SpiderMain.kt:229). Zero-in-degree vertices coalesce to 0.15 via the
  * left join back to the full vertex set. Lineage is truncated with
  * localCheckpoint every few iterations (driver-loop best practice for
  * iterative DataFrame jobs). Floating-point reassociation across the
  * shuffle is absorbed by the 1e-6 fixture tolerance (BASELINE.json).
  *
  * Execution shape: the 40-iteration loop runs ~2 exchanges per
  * iteration with a fixed, data-independent structure, so it runs on a
  * [[Bridge.fixedPlanSession]] (AQE off; the caller's session conf is never
  * touched) whose `spark.sql.shuffle.partitions` is derived from the edge
  * count: ~500k edges per partition, capped at the cluster's default
  * parallelism. A 10¹⁰-edge graph still gets full-cluster partitioning,
  * while a small graph stops paying 32 tasks per tiny stage. */
object PageRankSpark {

  /** Iterations between two local checkpoints of the ranks. */
  private val CheckpointEvery = 5

  /** @param links    (src LONG, dst LONG) deduplicated edges
    * @param vertices one column `url_id` covering ALL ids (rows with no
    *                 in/out links still rank 0.15)
    * @return (url_id, rank) — bound to the CALLER's session */
  def run(links: DataFrame, vertices: DataFrame, iters: Int): DataFrame = {
    val parent = links.sparkSession
    // the edge count drives the partitioning below; counting up front is
    // free in context — `weighted.count()` materialized the same pass
    // before, and `links` is persisted by the Indexer in the main pipeline
    val edgeCount = links.count()
    val defaultPar = parent.sparkContext.defaultParallelism
    val parts = math.max(1L, math.min(defaultPar.toLong,
      (edgeCount + 499999L) / 500000L)).toInt
    val child = Bridge.fixedPlanSession(parent, parts)

    val cLinks = Bridge.onSession(links, child)
    val outDeg = cLinks.groupBy("src").agg(count(lit(1)).as("out_deg"))
    // static across iterations: weight of each edge = 1/outdeg(src).
    // Hash-partitioned on src BEFORE the persist so every iteration's
    // ranks⋈edges join reuses the cached partitioning and shuffles ONLY
    // the (small, changing) ranks side — the (much larger) edge table is
    // never re-exchanged across the 40 iterations (PLANS.md §8).
    val weighted = cLinks.join(outDeg, Seq("src"))
      .select(col("src"), col("dst"), (lit(1.0) / col("out_deg")).as("w"))
      .repartition(parts, col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // same trick for the vertex table: partitioned on url_id, the
    // contribs⋈verts left join re-exchanges only the contribs side (which
    // arrives already hash-partitioned on url_id from its groupBy)
    val verts = Bridge.onSession(vertices, child).select(col("url_id"))
      .repartition(parts, col("url_id"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    var ranks = verts.withColumn("rank", lit(1.0))
    var i = 0
    while (i < iters) {
      val contribs = weighted
        .join(ranks.withColumnRenamed("url_id", "src"), Seq("src"))
        .groupBy(col("dst").as("url_id"))
        .agg(sum(col("w") * col("rank")).as("incoming"))
      ranks = verts.join(contribs, Seq("url_id"), "left")
        .select(col("url_id"),
          (lit(0.15) + lit(0.85) * coalesce(col("incoming"), lit(0.0))).as("rank"))
      i += 1
      if (i % CheckpointEvery == 0 || i == iters)
        ranks = ranks.localCheckpoint(true)
    }
    // the final ranks is an eager localCheckpoint (self-contained), so
    // the iteration-only caches can be released NOW — without this a
    // session running PageRank more than once accumulates two
    // edge-table-sized CacheManager entries per run
    weighted.unpersist(); verts.unpersist()
    Bridge.onSession(ranks, parent)
  }
}
