package org.apache.spark.graftsupport

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Test helper: the Spark jobs a block of code starts. Lives under
  * org.apache.spark only to drain the listener bus (`private[spark]`),
  * so no job event of the block is still in flight when it is counted.
  */
object Jobs {

  /** `body`'s result and the stage names of every job it started. */
  def recorded[T](sc: SparkContext)(body: => T): (T, Seq[Seq[String]]) = {
    val jobs = new ConcurrentLinkedQueue[Seq[String]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(e.stageInfos.map(_.name))
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      val r = body
      sc.listenerBus.waitUntilEmpty()
      (r, jobs.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
