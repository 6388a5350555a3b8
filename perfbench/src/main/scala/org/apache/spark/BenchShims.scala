package org.apache.spark

/** Reaches two package-private parts of Spark: the listener bus, so the
  * benchmark reads its listener's counters only after every event of the
  * measured jobs has been delivered, and the job-tag property key. */
object BenchShims {
  val JobTagsKey: String = SparkContext.SPARK_JOB_TAGS

  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
