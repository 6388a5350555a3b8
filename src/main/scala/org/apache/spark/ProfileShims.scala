package org.apache.spark

/** Reaches two package-private parts of Spark for [[graft.tools.Profile]]:
  * the job-tag property key its listener reads, and the listener bus, so
  * counters are read only after every event of the profiled jobs has been
  * delivered. */
object ProfileShims {
  val JobTagsKey: String = SparkContext.SPARK_JOB_TAGS

  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
