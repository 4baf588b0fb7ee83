package org.apache.spark

import org.apache.spark.scheduler.StageInfo

/** The two Spark internals the benchmark's trace needs, reached from inside
  * Spark's package: draining the async listener bus before reading the
  * listener's totals, and the RDD operation scope names of a stage (the
  * physical plan node that built each RDD, e.g. "MapPartitions"). */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def scopeNames(stage: StageInfo): Seq[String] =
    stage.rddInfos.flatMap(_.scope.map(_.name)).toSeq
}
