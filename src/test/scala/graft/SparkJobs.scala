package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graft.Bridge

object SparkJobs {
  /** Jobs started by `f` on this thread, counted by a listener that keeps
    * only jobs carrying this call's local-property tag. */
  def count(sc: SparkContext)(f: => Unit): Int = {
    val tag = java.util.UUID.randomUUID().toString
    val seen = new ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("graft.test.job") == tag)
          seen.add(e.jobId)
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.test.job", tag)
    try f
    finally {
      sc.setLocalProperty("graft.test.job", null)
      Bridge.drainListeners(sc)
      sc.removeSparkListener(listener)
    }
    seen.size
  }
}
