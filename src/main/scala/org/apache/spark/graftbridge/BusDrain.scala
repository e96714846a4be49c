package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Bench-only bridge to the `private[spark]` listener bus.
  *
  * The bench reads per-query stage counts from an async SparkListener at
  * each timing-window edge; without draining the bus first, stage events
  * from the previous query's reps can be attributed to the next query,
  * skewing the drift-adjusted floors (the per-query medians themselves
  * are unaffected — only the stage attribution). Package placement (a
  * descendant of org.apache.spark) is the supported way to reach a
  * `private[spark]` member from library code; only such bridges live
  * here.
  */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
