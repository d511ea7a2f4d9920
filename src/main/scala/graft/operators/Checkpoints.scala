package graft.operators

import org.apache.spark.sql.DataFrame

/**
 * Lineage-pinning policy for ITERATIVE operators (connected components,
 * PageRank, Lloyd/PQ training): each round's frame must be materialized
 * so plans don't grow with iterations, but the materialization tier is
 * a deployment decision:
 *
 *  - `localCheckpoint(eager = true)` (the default, no configuration):
 *    blocks live in executor storage — fast, no I/O, but LOST on
 *    executor failure. On a 1000-executor cluster a single lost
 *    executor mid-iteration fails the whole job, because truncated
 *    lineage cannot recompute the lost blocks.
 *  - reliable `checkpoint(eager = true)` (opt-in): when the session has
 *    a checkpoint directory configured
 *    (`spark.sparkContext.setCheckpointDir(...)` — typically an HDFS/
 *    object-store path beside the corpus), rounds persist THERE and
 *    survive any executor loss; the job resumes from the last
 *    materialized round instead of dying. Costs one distributed write
 *    per round — the standard hardening for long iterative jobs.
 *    Implementation detail that matters: `Dataset.checkpoint` runs an
 *    action and THEN `doCheckpoint` re-runs the lineage to write the
 *    files, so [[pin]] caches the frame around the checkpoint and
 *    unpersists after — one compute + one write per round instead of
 *    two computes. Checkpoint FILES for superseded rounds are
 *    reclaimed by `spark.cleaner.referenceTracking.cleanCheckpoints`
 *    (set it true on long-running sessions) or by deleting the
 *    session's checkpoint subdirectory after the job — a 20-round CC
 *    job otherwise retains 20 materializations on the store.
 *
 * The switch is the presence of the checkpoint dir, not an operator
 * parameter: the same pipeline code runs unchanged in tests (no dir →
 * local) and production (dir set once per session → reliable). Results
 * are identical in both modes — CheckpointModeSpec pins that.
 *
 * Single-shot pins (a frame read by 2-3 consumers within one job, e.g.
 * the skew-sketch or media-decode pins) intentionally stay on
 * `localCheckpoint`: losing them costs one recompute of a single pass,
 * which is cheaper than a per-job distributed write.
 */
object Checkpoints {

  /** Pin an iteration round: reliable checkpoint when the session has a
    * checkpoint dir, local otherwise. Eager in both modes — callers
    * rely on materialize-now semantics (observe metrics, unpersist of
    * the previous round). */
  def pin(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) {
      // cache so the checkpoint's file-writing recompute reads blocks
      // instead of re-running the round's joins/aggs (checkpoint runs
      // the plan once for the eager action and once in doCheckpoint)
      df.persist()
      try df.checkpoint(eager = true)
      finally df.unpersist()
    } else df.localCheckpoint(eager = true)

  /** `.pinned()` chain syntax for [[pin]] — reads like the
    * `.localCheckpoint(true)` it replaces at the iterative call sites. */
  implicit final class PinOps(private val df: DataFrame) extends AnyVal {
    def pinned(): DataFrame = Checkpoints.pin(df)
  }

  /** [[pin]] submitted from a background thread (guide §2.6 "overlap
    * independent jobs"): the pin's job back-fills executor cores while
    * the caller's own eager jobs run, instead of serializing through
    * the driver. Join the future before first use of the frame. Spark's
    * scheduler runs concurrent jobs FIFO; actions are thread-safe. */
  def pinAsync(df: DataFrame)
      : java.util.concurrent.CompletableFuture[DataFrame] =
    java.util.concurrent.CompletableFuture.supplyAsync(() => pin(df))

  /** Join a [[pinAsync]]-style future, rethrowing the task's own
    * failure instead of the `CompletionException` that wraps it. */
  def await[T](f: java.util.concurrent.CompletableFuture[T]): T =
    try f.join()
    catch {
      case e: java.util.concurrent.CompletionException
          if e.getCause != null => throw e.getCause
    }

  /** Release a [[pin]]'s blocks. `Dataset.unpersist` alone leaves a
    * local pin's checkpointed RDD persisted, so unpersist that too. */
  def unpin(df: DataFrame): Unit = {
    df.unpersist()
    df.queryExecution.logical.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist()
      case _ =>
    }
  }
}
