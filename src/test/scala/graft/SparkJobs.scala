package graft

import java.util.Properties
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerStageSubmitted}
import org.apache.spark.sql.graft.Bridge

object SparkJobs {
  private val TagKey = "graft.test.job"

  /** Runs `f` with this thread's jobs carrying a fresh local-property tag
    * and `listener(tag)` registered; the listener should keep only events
    * whose properties carry that tag (see [[ours]]). */
  private def tagged(sc: SparkContext)(listener: String => SparkListener)(f: => Unit): Unit = {
    val tag = java.util.UUID.randomUUID().toString
    val l = listener(tag)
    sc.addSparkListener(l)
    sc.setLocalProperty(TagKey, tag)
    try f
    finally {
      sc.setLocalProperty(TagKey, null)
      Bridge.drainListeners(sc)
      sc.removeSparkListener(l)
    }
  }

  private def ours(props: Properties, tag: String): Boolean =
    props != null && props.getProperty(TagKey) == tag

  /** Jobs started by `f` on this thread. */
  def count(sc: SparkContext)(f: => Unit): Int = jobsAndStages(sc)(f)._1

  /** Jobs started by `f` on this thread, and the stages they submitted. */
  def jobsAndStages(sc: SparkContext)(f: => Unit): (Int, Int) = {
    val jobs = new ConcurrentLinkedQueue[Int]()
    val stages = new ConcurrentLinkedQueue[Int]()
    tagged(sc)(tag => new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (ours(e.properties, tag)) jobs.add(e.jobId)
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (ours(e.properties, tag)) stages.add(e.stageInfo.stageId)
    })(f)
    (jobs.size, stages.size)
  }

  /** Classes Janino compiled while `f` ran, on any thread: the generated
    * code cache counts only its misses. */
  def compiles(f: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    f
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  /** Rows read from files by the jobs `f` starts on this thread: the sum of
    * `inputMetrics.recordsRead` over the stages that scan a file. Stages
    * without a file scan are left out because reading a cached block also
    * counts there, one record per cached batch. */
  def fileRecordsRead(sc: SparkContext)(f: => Unit): Long = {
    val scanStages = ConcurrentHashMap.newKeySet[Int]()
    val records = new AtomicLong()
    tagged(sc)(tag => new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (ours(e.properties, tag) && e.stageInfo.rddInfos.exists(_.name == "FileScanRDD"))
          scanStages.add(e.stageInfo.stageId)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (scanStages.contains(e.stageInfo.stageId))
          records.addAndGet(e.stageInfo.taskMetrics.inputMetrics.recordsRead)
    })(f)
    records.get
  }
}
