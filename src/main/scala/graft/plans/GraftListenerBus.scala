package org.apache.spark

/** Package-escape helpers for what graft needs from `private[spark]`
  * members:
  *  - [[drain]], for the stage listeners (graft.Harness.stages, the
  *    benchmark's tracer): draining the listener bus is the only way to
  *    read complete per-stage aggregates for a short query right after
  *    its action returns;
  *  - [[unpersist]], for graft.Checkpointed.release.
  */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty(10000)
    catch { case _: Throwable => Thread.sleep(300) }

  /** Frees a checkpointed RDD's blocks, local or reliable. `RDD.unpersist`
    * calls the same `SparkContext.unpersistRDD`, but for a local
    * checkpoint first logs a WARN that the truncated lineage cannot be
    * recomputed, once per release; a released checkpoint is never
    * executed again, so neither that warning nor the storage-level reset
    * `RDD.unpersist` adds does anything.
    */
  def unpersist(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
