package org.apache.spark

/** Package-escape helper for the stage listeners (graft.Harness.stages,
  * the benchmark's tracer): the listener bus is `private[spark]`, and
  * draining it is the only way to read complete per-stage aggregates for
  * a short query right after its action returns.
  */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty(10000)
    catch { case _: Throwable => Thread.sleep(300) }
}
