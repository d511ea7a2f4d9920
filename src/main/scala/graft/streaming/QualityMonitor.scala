package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.functions.LanguageModel
import graft.operators.Checkpoints
import graft.functions.LanguageModel.BigramLm

/**
 * Streaming quality gate — the streaming twin of the batch
 * `q_curation_pipeline` quality stage: every micro-batch is scored by
 * perplexity under a FROZEN bigram LM ([[LanguageModel]], CCNet-style)
 * and split into admitted (ppl ≤ threshold) and rejected documents,
 * with a one-row quality summary per batch. An ingestion stream
 * surfaces "the crawl quality collapsed" while it runs, instead of at
 * the next batch audit.
 *
 * Per-batch state discipline (the [[DriftMonitor]] /
 * [[FrequencyMonitor]] lessons applied):
 *  - the model is pinned (local pin) ONCE at start — the
 *    unigram/bigram counting aggregations over the target corpus run
 *    once, not once per micro-batch (the Lloyd-loop pinning rule) —
 *    and released when the query terminates;
 *  - per-batch cost is O(batch tokens) against the materialized model
 *    tables — no running state on the write path, nothing to corrupt
 *    mid-crash;
 *  - both outputs are partitioned by `md5(checkpointDir)_epoch`:
 *    scoring under a frozen model with a fixed threshold is
 *    deterministic, so a foreachBatch replay regenerates identical
 *    rows and the overwrite is an idempotent re-do; the
 *    checkpoint-identity prefix keeps a checkpoint reset (epoch ids
 *    restart at 0) from clobbering another lineage's partitions, and
 *    the `_` pins partition-column inference to string;
 *  - empty batches write nothing.
 *
 * Documents with fewer than two tokens are unscorable (no bigram
 * evidence) and are REJECTED — the CCNet convention; admit them
 * upstream by policy if desired. Admitted rows carry their `ppl` so
 * downstream tiering ([[LanguageModel.perplexityBuckets]]) needs no
 * re-score.
 */
object QualityMonitor {

  /**
   * Start the gate: per micro-batch, admitted documents (all input
   * columns + `ppl`) land under `admittedDir/batch_key=…` and one
   * summary row (n_in, n_scored, n_admitted, mean_ppl, max_ppl) under
   * `statsDir/batch_key=…`. Read either with partition discovery;
   * the stats log ordered by batch is the quality trajectory.
   */
  def qualityGate(stream: DataFrame, idCol: String, textCol: String,
                  model: BigramLm, maxPpl: Double,
                  admittedDir: String, statsDir: String,
                  checkpointDir: String,
                  trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery = {
    require(maxPpl > 0.0, s"maxPpl must be > 0, got $maxPpl")
    require(!stream.columns.contains("ppl") &&
        !stream.columns.contains("batch_key"),
      "input stream must not already have a 'ppl' or 'batch_key' " +
        "column — the gate appends ppl and partitions by batch_key " +
        "(rename or drop the existing column first)")
    val ckKey = BatchKeys.lineageKey(checkpointDir)
    // one-time materialization: per-batch scoring must not re-run the
    // target-corpus counting aggregations; the pins live with the stream
    val pinned = Checkpoints.scoped { s =>
      BigramLm(s.pinLocal(model.unigrams), s.pinLocal(model.bigrams),
        s.pinLocal(model.stats))
    }
    val pins = Seq(pinned.unigrams, pinned.bigrams, pinned.stats)
    val query = try stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        // the batch and its scoring both feed two actions (admitted
        // write + summary agg) — persist for the body's scope so the
        // bigram explode + model joins run once, not per action
        val b = batch.persist()
        try {
          if (!b.isEmpty) {
            val scored = LanguageModel.perplexity(
              b, idCol, textCol, pinned).persist()
            try {
              val admitted = b
                .join(scored.where(col("ppl") <= maxPpl)
                  .select(col(idCol), col("ppl")), idCol)
              admitted.write.mode("overwrite")
                .parquet(s"$admittedDir/batch_key=${
                  BatchKeys.batchKey(ckKey, epoch)}")
              // summary AFTER the admitted write: a crash between the
              // two loses at most the summary row, and the replay
              // regenerates both — never a summary describing
              // unwritten admissions. Aggregates coalesce: a batch of
              // only unscorable docs must log 0s, not nulls.
              val summary = b.agg(count(lit(1)).as("n_in"))
                .crossJoin(scored.agg(
                  count(lit(1)).as("n_scored"),
                  coalesce(sum(when(col("ppl") <= maxPpl, 1L)
                    .otherwise(0L)), lit(0L)).as("n_admitted"),
                  avg(col("ppl")).as("mean_ppl"),
                  max(col("ppl")).as("max_ppl")))
              summary.coalesce(1).write.mode("overwrite")
                .parquet(s"$statsDir/batch_key=${
                  BatchKeys.batchKey(ckKey, epoch)}")
            } finally scored.unpersist()
          }
        } finally b.unpersist()
      }
      .start()
    catch { case e: Throwable => pins.foreach(Checkpoints.unpin); throw e }
    Checkpoints.unpinOnTermination(query, pins: _*)
    query
  }
}
