package org.apache.spark

/** Waits until every listener has seen every event posted so far, so a
  * traced op's job, task and query events are all counted before its
  * span closes. The bus is package-private to Spark; hence this file's
  * package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
