package org.apache.spark

import scala.jdk.CollectionConverters._

/** Specs' access to a SparkContext's listener bus, which is
  * `private[spark]`.
  */
object Listeners {
  def classNames(sc: SparkContext): Seq[String] =
    sc.listenerBus.listeners.asScala.map(_.getClass.getName).toSeq

  /** Block until every event posted so far has reached its listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
