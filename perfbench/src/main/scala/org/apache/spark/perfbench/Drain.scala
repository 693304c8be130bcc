package org.apache.spark.perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerInterface

/** `SparkContext.listenerBus` is `private[spark]`; the benchmark needs its
  * `waitUntilEmpty` so that every job, stage and task event of a finished
  * action has reached the benchmark's listeners before they are read. */
object Drain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Every listener registered on the context's bus. */
  def listeners(sc: SparkContext): Seq[SparkListenerInterface] = sc.listenerBus.listeners.asScala.toSeq
}
