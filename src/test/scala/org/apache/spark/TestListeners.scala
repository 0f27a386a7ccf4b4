package org.apache.spark

import org.apache.spark.scheduler.SparkListenerInterface

import scala.reflect.ClassTag

/** The listeners of one class registered on a context's bus, for specs
  * (`listenerBus` is `private[spark]`, hence this file's package). */
object TestListeners {
  def count[T <: SparkListenerInterface: ClassTag](sc: SparkContext): Int =
    sc.listenerBus.findListenersByClass[T]().size
}
