package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Frequency
import graft.plans.NativeFunctions

/**
 * Continuous heavy-hitter monitoring over an ingestion stream — "which
 * tokens / URLs / sources dominate the feed" while it runs, the
 * frequency twin of [[DriftMonitor]]. Each micro-batch reduces to its
 * own Misra–Gries summary (ONE aggregation pass per batch: total item
 * count + the ≤ `capacity`-entry sketch via
 * [[graft.plans.MisraGriesAgg]]) and appends it to a partitioned
 * parquet log; [[runningTopK]] merges the logged summaries at read
 * time with [[Frequency.mergeSummaries]] — exact-per-theory mergeable
 * summaries, combined error Σ n_batch / (capacity + 1).
 *
 * Per-batch state discipline (the [[DriftMonitor]] / IngestPipeline
 * lessons applied):
 *  - per-batch cost is O(batch + capacity), independent of history —
 *    no running state is read on the write path, so there is nothing
 *    to corrupt mid-crash;
 *  - the partition key is `md5(checkpointDir)_epoch` — deterministic
 *    under foreachBatch replay (the summary CONTENT is not: in the
 *    sketch regime the final-merge order is shuffle-fetch order, so
 *    counter values can differ run to run — a content-derived key
 *    would let a replay land beside its orphaned original and double-
 *    count), so a replay overwrites its own partition as an
 *    idempotent re-do; the checkpoint-identity prefix keeps a
 *    checkpoint RESET (epoch ids restart) from clobbering another
 *    lineage's partitions. Re-ingesting the same source under a fresh
 *    checkpoint into the same log double-counts by construction —
 *    one log per checkpoint lineage; use a fresh `outDir` with a
 *    fresh checkpoint. The `_` in the key also pins partition-column
 *    inference to string (an all-digit hex key would otherwise be
 *    read back as a number);
 *  - empty batches write nothing.
 *
 * The log is also an auditable trajectory: each partition carries the
 * batch's own top items and `n_seen`, so "when did this URL start
 * dominating" is one ordered scan — a running-state design would have
 * answered only "what dominates now".
 */
object FrequencyMonitor {

  /** Start the monitor: per micro-batch, one MG summary appended to
    * `outDir` as rows (item, est, n_seen) under a content-keyed
    * partition. Read back with [[runningTopK]] (merged view) or plain
    * `spark.read.parquet(outDir)` (per-batch trajectory). */
  def streamingHeavyHitters(stream: DataFrame, itemCol: String,
                            capacity: Int, outDir: String,
                            checkpointDir: String,
                            trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery = {
    require(capacity >= 1, s"capacity must be >= 1, got $capacity")
    val ckKey = BatchKeys.lineageKey(checkpointDir)
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        val spark = batch.sparkSession
        val row = batch
          .select(col(itemCol).cast("string").as("__it"))
          .where(col("__it").isNotNull)
          .agg(count(col("__it")).as("n"),
            NativeFunctions.mgSummaryNative(col("__it"), capacity)
              .as("mg"))
          .collect()(0)
        val n = row.getLong(0)
        if (n > 0L) {
          val summary = row.getSeq[Row](1)
            .map(e => (e.getString(0), e.getLong(1)))
          import spark.implicits._
          summary.toDF("item", "est")
            .withColumn("n_seen", lit(n))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(s"$outDir/batch_key=${BatchKeys.batchKey(ckKey, epoch)}")
        }
      }
      .start()
  }

  /**
   * Merged view of a monitor log: top-`k` (item, est) over every
   * logged batch summary plus `n_total`, via the driver-side
   * [[Frequency.mergeSummaries]]. Reads batches × capacity rows to
   * the driver — bounded by the log horizon, not the data; compact
   * the log (re-log the merged summary) if the horizon grows
   * unbounded. Estimates carry the merged MG bound: true count ∈
   * [est, est + n_total/(capacity+1)].
   */
  def runningTopK(spark: SparkSession, outDir: String, capacity: Int,
                  k: Int): DataFrame = {
    import spark.implicits._
    // an all-empty-batches monitor has logged nothing yet: zero rows,
    // not an unreadable-directory AnalysisException
    if (!hasLoggedData(spark, outDir))
      return Seq.empty[(String, Long)].toDF("item", "est")
        .withColumn("n_total", lit(0L))
    val logged = spark.read.parquet(outDir)
      .select(col("batch_key").cast("string"), col("item"),
        col("est"), col("n_seen"))
      .collect()
    val byBatch = logged.groupBy(_.getString(0)).values.toSeq
    val summaries = byBatch.map(_.map(r =>
      (r.getString(1), r.getLong(2))).toSeq)
    val nTotal = byBatch.map(_.head.getLong(3)).sum
    Frequency.mergeSummaries(summaries, capacity)
      .take(k)
      .toDF("item", "est")
      .withColumn("n_total", lit(nTotal))
  }

  /** True iff the log holds at least one committed data file — the
    * shared [[IngestPipeline.hasCommittedParquet]] probe (dir-exists
    * is not data-exists; `.parquet`-suffix checks miss Hive-style
    * file names). */
  private def hasLoggedData(spark: SparkSession, outDir: String): Boolean =
    IngestPipeline.hasCommittedParquet(spark, outDir)
}
