package org.apache.spark.rdd

/** Frees the blocks of a pin its owner releases on purpose, after its
  * last read (`graft.operators.Checkpoints.unpin`). `RDD.unpersist` on a
  * locally checkpointed RDD logs a WARN that its truncated lineage cannot
  * be recomputed — one line per released pin, all of them intended — so
  * such an RDD goes straight to the context's unpersist, as
  * `RDD.unpersist` itself does after the warning. That call and
  * `isLocallyCheckpointed` are package-private, hence this package. */
object GraftPinRelease {
  def unpersist(rdd: RDD[_]): Unit =
    if (rdd.isLocallyCheckpointed)
      rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
    else rdd.unpersist()
}
