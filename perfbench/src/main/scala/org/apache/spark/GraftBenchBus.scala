package org.apache.spark

/** Package-private Spark internals the traced run needs: draining the
  * listener bus before it reads per-span metrics, and the local
  * property key that carries a job's group. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  val JobGroupKey: String = SparkContext.SPARK_JOB_GROUP_ID
}
