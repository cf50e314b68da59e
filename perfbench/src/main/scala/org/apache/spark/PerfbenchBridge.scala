package org.apache.spark

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.status.api.v1.StageData

/** Read-only access to Spark internals the benchmark measures with: the
  * application status store, the listener bus, and the codegen metrics
  * (all `private[spark]`).
  */
object PerfbenchBridge {

  /** Block until every posted listener event has been delivered, so the
    * status store and listeners reflect every finished job.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** Every stage the status store still retains. */
  def stages(sc: SparkContext): Seq[StageData] = sc.statusStore.stageList(null)

  /** Janino compilations so far and their summed time in seconds (count
    * times the mean of the metric's sampling reservoir).
    */
  def codegen(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getCount * h.getSnapshot.getMean / 1000.0)
  }
}
