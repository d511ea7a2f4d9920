package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Stable global ordinal assignment — the operator behind "give every
 * document a contiguous 0..N-1 id in key order". Spark has no scalable
 * built-in: `row_number()` over a global ORDER BY plans a single-task
 * window (one reducer sorts everything), and
 * `monotonically_increasing_id` is neither contiguous nor order-stable.
 *
 * Two-phase shape (the standard distributed scan pattern):
 *  1. range-partition by the order key (one shuffle; Spark samples key
 *     ranges so partitions are balanced);
 *  2. per-partition `row_number()` windows run IN PARALLEL (partitioned
 *     by `spark_partition_id()`), then add each partition's cumulative
 *     offset.
 * The offsets come from one `groupBy(pid).count()` — numPartitions rows
 * to the driver (bounded by cluster size, like IVF's centroid table,
 * NOT by data size) and back as a broadcast join.
 *
 * At 100 TB: one range shuffle + parallel windows; no single-reducer
 * sort anywhere.
 */
object Ids {

  /**
   * Add `ordCol` holding this row's 0-based rank in `orderCol` order.
   * `orderCol` must be unique (enforced nowhere — ties get arbitrary but
   * deterministic-per-partitioning order; pass a unique key).
   */
  def stableOrdinals(df: DataFrame, orderCol: String,
                     ordCol: String = "ordinal",
                     numPartitions: Int = 0)
      : DataFrame = Checkpoints.scoped { s =>
    val parts = if (numPartitions > 0) numPartitions
      else df.sparkSession.sparkContext.defaultParallelism
    // pinned for one partitioning across both branches (Pack.prefixSum)
    val ranged = s.pinLocal(df.repartitionByRange(parts, col(orderCol))
      .withColumn("__pid", spark_partition_id()))
    // partition sizes: numPartitions rows — driver-safe by construction
    val offsets = ranged.groupBy(col("__pid")).count()
      .select(col("__pid"),
        (sum(col("count")).over(
          Window.orderBy(col("__pid"))
            .rowsBetween(Window.unboundedPreceding, -1)))
          .as("__offset"))
      .na.fill(0L, Seq("__offset"))
    val w = Window.partitionBy(col("__pid")).orderBy(col(orderCol))
    ranged.withColumn("__rn", row_number().over(w).cast("long"))
      .join(broadcast(offsets), "__pid")
      .withColumn(ordCol, col("__rn") + col("__offset") - 1L)
      .drop("__pid", "__rn", "__offset")
  }
}
