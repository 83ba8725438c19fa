package org.apache.spark.graftspec

import scala.reflect.ClassTag

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerInterface

/** Reads which listeners sit on a context's bus. Lives in the
  * `org.apache.spark` package because the listener bus is `private[spark]`. */
object ListenerBusProbe {
  def count[T <: SparkListenerInterface : ClassTag](sc: SparkContext): Int =
    sc.listenerBus.findListenersByClass[T]().size
}
