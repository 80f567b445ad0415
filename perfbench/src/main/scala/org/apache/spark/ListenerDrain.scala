package org.apache.spark

/** Waits until every listener event posted so far has been delivered.
  * Spark posts a job's end event before the job's caller returns, so
  * after a drain the benchmark's listener has seen all of that call's
  * jobs, stages and tasks. The bus is package-private to Spark; Spark's
  * own test suites reach it the same way.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
