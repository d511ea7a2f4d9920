package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Frequency
import graft.plans.NativeFunctions

/**
 * Continuous quantile monitoring over an ingestion stream — "what is
 * the p50/p95 of document length / latency / score in the feed", the
 * quantile twin of [[FrequencyMonitor]] built on the round-14
 * mergeable KLL aggregates ([[graft.plans.KllDoublesAgg]]). Each
 * micro-batch reduces to ONE ~3 KB sketch row appended to a
 * partitioned parquet log; [[runningQuantiles]] unions any subset of
 * the log at read time ([[graft.plans.KllUnionAgg]]) and answers any
 * percentile with the merged-sketch guarantee (rank error ≈ 1.65% at
 * k = 200, surviving merges — Karnin–Lang–Liberty FOCS'16).
 *
 * Per-batch state discipline (the [[FrequencyMonitor]] rules):
 *  - per-batch cost is O(batch + sketch), independent of history —
 *    nothing running is read on the write path;
 *  - the partition key is `md5(checkpointDir)_epoch`: KLL sketch
 *    BYTES are not replay-deterministic (randomized compaction
 *    offsets), so a content-derived key would let a replayed batch
 *    land beside its orphaned original and double-count N; the
 *    epoch-keyed overwrite makes a replay an idempotent re-do, and
 *    the checkpoint-identity prefix keeps a checkpoint reset from
 *    clobbering another lineage's partitions;
 *  - empty batches write nothing.
 *
 * The log doubles as a trajectory: each partition row carries its
 * batch's own sketch + `n_seen`, so "when did p95 move" is one
 * ordered scan of per-batch probes, while the union answers the
 * corpus-lifetime percentile — the same persist-then-combine shape as
 * `q_kll_log`, fed continuously.
 */
object QuantileMonitor {

  /** Start the monitor: per micro-batch, one KLL sketch row
    * `(kll binary, n_seen long)` under an epoch-keyed partition of
    * `outDir`. Read back with [[runningQuantiles]] (merged view) or
    * plain `spark.read.parquet(outDir)` (per-batch trajectory). */
  def streamingQuantiles(stream: DataFrame, valueCol: String,
                         outDir: String, checkpointDir: String,
                         k: Int = 200,
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
          .select(col(valueCol).cast("double").as("__v"))
          .where(col("__v").isNotNull)
          .agg(count(col("__v")).as("n"),
            NativeFunctions.kllAggNative(col("__v"), k).as("kll"))
          .collect()(0)
        if (row.getLong(0) > 0L) {
          import spark.implicits._
          Seq((row.getAs[Array[Byte]](1), row.getLong(0)))
            .toDF("kll", "n_seen")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(s"$outDir/batch_key=${BatchKeys.batchKey(ckKey, epoch)}")
        }
      }
      .start()
  }

  /**
   * Merged view of a monitor log: quantile estimates at `ranks` over
   * the UNION of every logged batch sketch, plus the exact total row
   * count (KLL tracks N exactly through merges — the deterministic
   * mergeability pin; the estimates carry the usual randomized-sketch
   * caveat, gate with bounded-error verdicts). One row:
   * `(quantiles array<double>, n_total long)`.
   */
  def runningQuantiles(spark: SparkSession, outDir: String,
                       ranks: Seq[Double], k: Int = 200): DataFrame = {
    require(ranks.nonEmpty, "need at least one rank to probe")
    val log = spark.read.parquet(outDir)
    Frequency.kllUnionSketch(log, "kll", k)
      .select(
        Frequency.kllQuantiles(col("kll"), ranks).as("quantiles"),
        element_at(Frequency.kllQuantiles(col("kll"), Seq(-1.0)), 1)
          .cast("long").as("n_total"))
  }
}
