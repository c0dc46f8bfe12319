package org.apache.spark

import scala.jdk.CollectionConverters._

/** Test-side reach into the private[spark] listener bus: the class names of
  * the listeners registered on it, for leak checks.
  */
object ListenerBusProbe {
  def classNames(sc: SparkContext): Seq[String] =
    sc.listenerBus.listeners.asScala.map(_.getClass.getName).toSeq
}
