package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Statistics}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils, SparkSession}
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.types.StructType

/** Bridge into the `private[sql]` Column↔Expression converters of Spark 4's
  * classic module — the supported way for third-party Catalyst expressions
  * to surface as `Column`s (Spark 4 removed the public
  * `new Column(expr)` constructor in favor of ColumnNode). */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Runs `body`, which executes a physical plan directly, with `session`
    * active on the driver and its SQL conf propagated to the tasks, as a
    * Dataset action would. No QueryExecution is made, so nothing is
    * analyzed, optimized or planned, and no SQL-execution event is posted. */
  def withSessionConf[T](session: org.apache.spark.sql.SparkSession)(body: => T): T = {
    val s = session.asInstanceOf[SparkSession]
    s.withActive(SQLExecution.withSQLConfPropagated(s)(body))
  }

  /** Runtime-set keys a [[fixedPlanSession]] takes over from its parent;
    * builder-level confs reach every session through the SparkContext conf. */
  private val CarriedKeys = Seq("spark.sql.session.timeZone", "spark.sql.ansi.enabled",
    "spark.sql.autoBroadcastJoinThreshold")

  /** A child of `parent` (own SQL conf; shared SparkContext and cache) for
    * plans whose shape does not depend on the data: the
    * PageRank loop, the serve and the fixture-scale demo pipeline. AQE is
    * off there: it runs each query stage as its own job, re-planned on the
    * driver behind a materialization barrier, a fixed cost per stage that
    * such plans gain nothing from, and a serve plan must be one stage whose
    * RDD can run again. The child shuffles to `shufflePartitions`; the
    * parent's conf is never touched. */
  def fixedPlanSession(parent: org.apache.spark.sql.SparkSession,
                       shufflePartitions: Int): org.apache.spark.sql.SparkSession = {
    val child = parent.newSession()
    CarriedKeys.foreach(k => parent.conf.getOption(k).foreach(child.conf.set(k, _)))
    child.conf.set("spark.sql.adaptive.enabled", "false")
    child.conf.set("spark.sql.shuffle.partitions", shufflePartitions.toString)
    child
  }

  /** `df`'s analyzed plan as a DataFrame on `session`, planned under that
    * session's conf. The shared cache still substitutes `df`'s cached
    * parts, and column references taken from `df` still resolve. */
  def onSession(df: DataFrame, session: org.apache.spark.sql.SparkSession): DataFrame =
    Dataset.ofRows(session.asInstanceOf[SparkSession], df.queryExecution.analyzed)

  /** `rows`, Catalyst values of `schema`, as a DataFrame on `session`: a
    * LocalRelation, so no encoder converts them. */
  def localRows(session: org.apache.spark.sql.SparkSession, schema: StructType,
                rows: Seq[InternalRow]): DataFrame =
    Dataset.ofRows(session.asInstanceOf[SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  /** An eager local checkpoint of `df` whose logical statistics are the
    * size of its stored blocks. `Dataset.localCheckpoint` keeps the source
    * plan's size estimate, which multiplies across joins when cost-based
    * optimization is off; an overestimated single-partition leaf is
    * re-shuffled by the planner (spark.sql.maxSinglePartitionBytes). */
  def localCheckpoint(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint(eager = true)
    cp.queryExecution.logical match {
      case r: LogicalRDD =>
        val session = df.sparkSession.asInstanceOf[SparkSession]
        Dataset.ofRows(session, r.copy()(session, Some(Statistics(BigInt(storedBytes(r.rdd)))), None))
      case _ => cp
    }
  }

  /** A leaf of `schema`'s rows computed by `rdd`, whose partitions are
    * hash-partitioned on the column `key` as `repartition(n, key)` leaves
    * them, with logical size `sizeInBytes`: a plan over it needs no
    * exchange to group or join on `key`. */
  def hashPartitionedLeaf(session: org.apache.spark.sql.SparkSession, schema: StructType,
                          rdd: RDD[InternalRow], key: String, sizeInBytes: Long): DataFrame = {
    val s = session.asInstanceOf[SparkSession]
    val output = DataTypeUtils.toAttributes(schema)
    Dataset.ofRows(s, LogicalRDD(output, rdd,
      HashPartitioning(output.filter(_.name == key), rdd.getNumPartitions))(
      s, Some(Statistics(BigInt(sizeInBytes)))))
  }

  /** The bytes, in memory and on disk, of `rdd`'s stored blocks. */
  def storedBytes(rdd: RDD[_]): Long =
    rdd.sparkContext.getRDDStorageInfo.find(_.id == rdd.id)
      .map(i => i.memSize + i.diskSize).getOrElse(0L)

  /** Blocks until the listener bus has delivered every posted event, so a
    * listener's view is complete right after an action returns. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
