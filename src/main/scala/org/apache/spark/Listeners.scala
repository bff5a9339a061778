package org.apache.spark

import scala.jdk.CollectionConverters._

/** Access to a SparkContext's listener bus, which is `private[spark]`:
  * specs and [[graft.Plans]] wait on it for the events of the jobs and
  * queries they ran.
  */
object Listeners {
  def classNames(sc: SparkContext): Seq[String] =
    sc.listenerBus.listeners.asScala.map(_.getClass.getName).toSeq

  /** Block until every event posted so far has reached its listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
