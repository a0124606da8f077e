package org.apache.spark

import scala.reflect.ClassTag
import org.apache.spark.scheduler.SparkListenerInterface

/** Test-only access to `private[spark]` state of a SparkContext. */
object GraftTestHooks {
  /** The listeners of class `T` currently registered on the bus. */
  def listeners[T <: SparkListenerInterface: ClassTag](
      sc: SparkContext): Seq[T] =
    sc.listenerBus.findListenersByClass[T]()
}
