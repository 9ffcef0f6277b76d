package org.apache.spark

import scala.jdk.CollectionConverters._

/** Access to the listener bus, which is private to Spark: the traced run
  * waits for every queued event before it reads the tracer, and reports
  * how many events the bus dropped, which the tracer then never saw. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def droppedEvents(sc: SparkContext): Long =
    sc.listenerBus.metrics.metricRegistry.getCounters.asScala.collect {
      case (name, c) if name.endsWith("numDroppedEvents") => c.getCount
    }.sum
}
