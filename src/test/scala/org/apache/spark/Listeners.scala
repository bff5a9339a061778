package org.apache.spark

import scala.jdk.CollectionConverters._

/** Class names of the listeners registered on a SparkContext's bus; the bus
  * itself is `private[spark]`, so specs read it through this object.
  */
object Listeners {
  def classNames(sc: SparkContext): Seq[String] =
    sc.listenerBus.listeners.asScala.map(_.getClass.getName).toSeq
}
