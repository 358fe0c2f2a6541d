package org.apache.spark.graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The specs' one job counter. Lives in this package only because the
  * listener bus it drains is Spark-private. */
object JobLog {

  /** The description of every Spark job `body` starts, in start order
    * (`<none>` for a job without one). Listener delivery is
    * asynchronous, so the bus is drained before the listener goes on
    * (no earlier job leaks in) and again before the log is read (no job
    * of `body` is missed). */
  def of(spark: SparkSession)(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val descs = new ConcurrentLinkedQueue[String]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        descs.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("<none>"))
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(l)
    try {
      body
      sc.listenerBus.waitUntilEmpty()
      descs.asScala.toSeq
    } finally sc.removeSparkListener(l)
  }
}
