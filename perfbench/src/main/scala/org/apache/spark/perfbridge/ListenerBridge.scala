package org.apache.spark.perfbridge

import org.apache.spark.SparkContext

/** The listener-bus drain and the job-group property key are private[spark];
  * this shim (living under the spark package) re-exports the two the
  * benchmark's layer trace needs. */
object ListenerBridge {
  /** Block until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
  val JobGroupKey: String = SparkContext.SPARK_JOB_GROUP_ID
}
