package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** Drains the listener bus, so a traced op's job, stage and micro-batch
  * events are all delivered before its spans are read. The bus is
  * `private[spark]`; this object lives under `org.apache.spark` only to
  * reach it. */
object Flush {
  def apply(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty(30000L)
    catch { case _: java.util.concurrent.TimeoutException => () }
}
