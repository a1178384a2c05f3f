package org.apache.spark

/** The one package-private hook the benchmark's tracer needs: block
  * until the listener bus has delivered every event posted so far. */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
