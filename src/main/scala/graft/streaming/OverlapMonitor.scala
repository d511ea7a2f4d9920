package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Frequency
import graft.plans.NativeFunctions

/**
 * Continuous key-set monitoring over ingestion streams — the theta
 * twin of [[QuantileMonitor]] (KLL) and [[FrequencyMonitor]] (MG),
 * built on the round-15 mergeable theta aggregates
 * ([[graft.plans.ThetaSketchAgg]]). Each micro-batch reduces to ONE
 * ≤(2^lgK·8 B) sketch row appended to a partitioned parquet log;
 * because theta sketches support INTERSECTION and DIFFERENCE (not
 * just union, HLL's ceiling), the log answers the cross-corpus
 * questions a 100 TB training pipeline actually asks:
 *
 *  - [[runningDistinct]]: lifetime distinct keys of one stream
 *    (union of any subset of the log, lower/estimate/upper bounds);
 *  - [[overlap]]: |A ∩ B| between two monitor logs — "how many doc
 *    ids did the train feed share with the eval feed", continuous
 *    contamination monitoring from two sketch logs, no data re-read;
 *  - [[novelty]]: |A \ B| — "how many of this feed's keys has the
 *    history never seen".
 *
 * Error contract: exact while each union's retained set fits 2^lgK
 * (theta == 1); beyond that, relative std error ≈ 1/sqrt(2^lgK) with
 * bounds that propagate through the set ops. The library's fixed
 * hash seed makes every estimate a deterministic function of the
 * data. Per-batch state discipline follows the family rules: O(batch
 * + sketch) per batch, nothing running on the write path; epoch-keyed
 * partition overwrite (`md5(checkpointDir)_epoch`) makes replays
 * idempotent re-dos and keeps checkpoint resets from clobbering
 * another lineage's partitions; empty batches write nothing.
 */
object OverlapMonitor {

  /** Start the monitor: per micro-batch, one theta sketch row
    * `(theta binary, n_rows long)` under an epoch-keyed partition of
    * `outDir`. Read back with [[runningDistinct]]/[[overlap]]/
    * [[novelty]], or plain `spark.read.parquet(outDir)` for the
    * per-batch trajectory. */
  def streamingKeySketches(stream: DataFrame, keyCol: String,
                           outDir: String, checkpointDir: String,
                           lgK: Int = 12,
                           trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery = {
    val ckKey = BatchKeys.lineageKey(checkpointDir)
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        val spark = batch.sparkSession
        val row = batch
          .select(col(keyCol).as("__k"))
          .where(col("__k").isNotNull)
          .agg(count(col("__k")).as("n"),
            NativeFunctions.thetaAggNative(col("__k"), lgK).as("theta"))
          .collect()(0)
        if (row.getLong(0) > 0L) {
          import spark.implicits._
          Seq((row.getAs[Array[Byte]](1), row.getLong(0)))
            .toDF("theta", "n_rows")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(s"$outDir/batch_key=${BatchKeys.batchKey(ckKey, epoch)}")
        }
      }
      .start()
  }

  /** Union of one monitor log → one sketch binary (internal). */
  private def unionOf(spark: SparkSession, outDir: String,
                      lgK: Int): DataFrame =
    Frequency.thetaUnionSketch(spark.read.parquet(outDir), "theta", lgK)

  /** Lifetime distinct-key estimate of one monitor log: one row
    * `(lower, estimate, upper)` at 3 std-devs. */
  def runningDistinct(spark: SparkSession, outDir: String,
                      lgK: Int = 12): DataFrame =
    unionOf(spark, outDir, lgK)
      .select(
        element_at(Frequency.thetaEstimate(col("theta")), 1).as("lower"),
        element_at(Frequency.thetaEstimate(col("theta")), 2).as("estimate"),
        element_at(Frequency.thetaEstimate(col("theta")), 3).as("upper"))

  /** |A ∩ B| between two monitor logs — continuous contamination:
    * one row `(lower, estimate, upper)`. */
  def overlap(spark: SparkSession, outDirA: String, outDirB: String,
              lgK: Int = 12): DataFrame =
    setOp(spark, outDirA, outDirB, lgK, "intersect")

  /** |A \ B| between two monitor logs — "never-seen-by-B" novelty:
    * one row `(lower, estimate, upper)`. */
  def novelty(spark: SparkSession, outDirA: String, outDirB: String,
              lgK: Int = 12): DataFrame =
    setOp(spark, outDirA, outDirB, lgK, "anotb")

  private def setOp(spark: SparkSession, outDirA: String,
                    outDirB: String, lgK: Int, op: String): DataFrame = {
    val a = unionOf(spark, outDirA, lgK).select(col("theta").as("ta"))
    val b = unionOf(spark, outDirB, lgK).select(col("theta").as("tb"))
    a.crossJoin(broadcast(b)) // 1 x 1 sketch rows
      .select(Frequency.thetaEstimate(
        Frequency.thetaSetOp(col("ta"), col("tb"), op)).as("e"))
      .select(element_at(col("e"), 1).as("lower"),
        element_at(col("e"), 2).as("estimate"),
        element_at(col("e"), 3).as("upper"))
  }
}
