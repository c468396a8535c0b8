package org.apache.spark

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block of code submits. The listener bus is
  * drained before the count is read, so every job the block started is
  * in it; the bus is package-private to Spark, hence this file's package.
  */
object JobCounter {
  def apply[T](sc: SparkContext)(body: => T): (T, Int) = {
    val (out, jobs) = stageTasks(sc)(body)
    (out, jobs.size)
  }

  /** The jobs a block of code submits, each as its stages' task counts
    * (in stage id order), in job start order.
    */
  def stageTasks[T](sc: SparkContext)(body: => T): (T, Seq[Seq[Int]]) = {
    val jobs = new ConcurrentLinkedQueue[Seq[Int]]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(e.stageInfos.sortBy(_.stageId).map(_.numTasks))
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, jobs.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
