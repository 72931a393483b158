package org.apache.spark

/** The one package-private hook the trace recorder needs: block until
  * the listener bus has delivered every event posted so far, so span
  * attribution sees all jobs, tasks and query executions of the run.
  */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
