package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The descriptions of the Spark jobs a block starts on the calling
  * thread. Listener events arrive asynchronously, so the bus is drained
  * before the listener attaches and again before the ledger is read
  * (`waitUntilEmpty` is `private[spark]`, hence this package). A job group
  * tags the block's jobs, so jobs of other threads never count. */
object JobLedger {
  def apply[A](spark: SparkSession)(body: => A): (A, Seq[String]) = {
    val sc = spark.sparkContext
    val group = s"job-ledger-${java.util.UUID.randomUUID()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group)
          seen.add(Option(e.properties.getProperty(
            SparkContext.SPARK_JOB_DESCRIPTION)).getOrElse(""))
    }
    val outer = sc.getLocalProperty(SparkContext.SPARK_JOB_GROUP_ID)
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    sc.setLocalProperty(SparkContext.SPARK_JOB_GROUP_ID, group)
    try {
      val r = body
      sc.listenerBus.waitUntilEmpty()
      (r, seen.toArray(Array.empty[String]).toSeq)
    } finally {
      sc.setLocalProperty(SparkContext.SPARK_JOB_GROUP_ID, outer)
      sc.removeSparkListener(listener)
    }
  }
}
