package graft.operators

import java.util.concurrent.{ConcurrentLinkedQueue, TimeoutException}
import java.util.concurrent.atomic.AtomicBoolean

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import scala.runtime.NonLocalReturnControl

import org.apache.spark.rdd.GraftPinRelease
import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.streaming.StreamingQueryListener._

/**
 * The one owner of operator intermediates held in memory: pins,
 * observed metrics and background jobs all live in a [[Scope]] opened
 * by [[scoped]], and every pin the result does not need is released
 * when the scope ends — on return AND on failure.
 *
 * == Pin policy ==
 *
 *  - [[Scope.pin]] (iteration rounds, multi-job frames): a reliable
 *    `checkpoint(eager = true)` when the session has a checkpoint dir
 *    (`spark.sparkContext.setCheckpointDir(...)` — typically an HDFS/
 *    object-store path beside the corpus), so rounds survive executor
 *    loss and a long job resumes from the last materialized round;
 *    a local checkpoint otherwise — blocks in executor
 *    storage, fast, no I/O, but lost with their executor. The switch is
 *    the checkpoint dir, not an operator parameter: the same code runs
 *    in tests (no dir → local) and production (dir set once → reliable)
 *    with identical results (CheckpointModeSpec). `Dataset.checkpoint`
 *    runs an action and then re-runs the lineage to write the files, so
 *    the reliable path caches around it: one compute + one write per
 *    round. Checkpoint FILES of superseded rounds are reclaimed by
 *    `spark.cleaner.referenceTracking.cleanCheckpoints` or by deleting
 *    the session's checkpoint subdirectory after the job.
 *  - [[Scope.pinLocal]] (single-shot pins: a frame read by 2-3
 *    consumers within one job, e.g. the skew-sketch or media-decode
 *    pins): always `localCheckpoint` — losing one costs a recompute of
 *    a single pass, cheaper than a per-job distributed write.
 *
 * Both are eager: callers rely on materialize-now semantics. A local
 * pin is owned by the scope before its job runs, so a job that fails
 * inside a pin leaves no persisted RDD behind either.
 *
 * == Lifetimes ==
 *
 *  - On return the scope first waits for its [[Scope.async]] bodies (a
 *    failed one fails the scope, as below), then KEEPS every pin the
 *    result reads — a pin whose checkpointed RDD appears as a
 *    `LogicalRDD` in the plan of a DataFrame reachable from the result
 *    (the result itself, or a tuple/case-class field, collection element
 *    or option inside it; subqueries included) — and releases the rest.
 *    A result holding no DataFrame releases all. A `return` from the
 *    enclosing method counts as a return.
 *  - On an exception it waits for its async bodies, releases every pin
 *    and rethrows the original exception (async failures ride along as
 *    suppressed).
 *  - A kept pin belongs to the enclosing scope of the caller (nested
 *    operators: `semanticDedup` → `duplicateClusters`), and is released
 *    when THAT scope's result no longer reads it. With no enclosing
 *    scope it lives with the result: release it with [[unpin]], or,
 *    for pins a streaming query's batches read, with
 *    [[unpinOnTermination]].
 *  - [[Scope.release]] frees a pin mid-iteration (the previous round).
 *
 * Only [[unpin]] frees a local pin: `Dataset.unpersist` alone leaves the
 * checkpointed RDD persisted until driver GC.
 *
 * [[Scope.observed]] waits at most [[ObserveTimeout]] for its metric row
 * after the pin's job has finished, then fails naming the observation —
 * a metric that can never arrive (an AQE-collapsed subtree) is an
 * error, never a hang.
 */
object Checkpoints {

  /** Upper bound on [[Scope.observed]]'s wait for a metric row. The pin
    * has already run the job when the wait starts; only the listener
    * bus's delivery remains, which a backlogged bus can delay by tens of
    * seconds, and a full one can drop. */
  val ObserveTimeout: FiniteDuration = 60.seconds

  private val current = new ThreadLocal[Scope]

  /** A fresh named daemon thread per body, started by the caller — so
    * it inherits the caller's InheritableThreadLocals (Spark local
    * properties, the session's job tags); a pool's threads would not. */
  private val freshThread = ExecutionContext.fromExecutor { r =>
    val t = new Thread(r, "graft-async")
    t.setDaemon(true)
    t.start()
  }

  /** Run `body` with a fresh [[Scope]]; see the object doc for what is
    * kept and what is released when it ends. */
  def scoped[T](body: Scope => T): T = {
    val scope = new Scope(Option(current.get))
    val result =
      try scope.run(body(scope))
      catch {
        case r: NonLocalReturnControl[_] => scope.close(r.value); throw r
        case e: Throwable => scope.abort(e)
      }
    scope.close(result)
    result
  }

  /** Release every pin `ds` reads: its cache entry and the checkpointed
    * RDD behind each `LogicalRDD` in its plan. */
  def unpin(ds: Dataset[_]): Unit = {
    ds.unpersist()
    rdds(ds).foreach(GraftPinRelease.unpersist)
  }

  /** [[unpin]] each of `pins` once `query` has terminated (stopped,
    * finished or failed) — the lifetime of pins its batches read. */
  def unpinOnTermination(query: StreamingQuery, pins: Dataset[_]*): Unit = {
    val streams = query.sparkSession.streams
    val released = new AtomicBoolean
    lazy val listener: StreamingQueryListener = new StreamingQueryListener {
      def onQueryStarted(e: QueryStartedEvent): Unit = ()
      def onQueryProgress(e: QueryProgressEvent): Unit = ()
      def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        if (e.runId == query.runId) release()
    }
    def release(): Unit = if (released.compareAndSet(false, true)) {
      streams.removeListener(listener)
      pins.foreach(unpin)
    }
    streams.addListener(listener)
    // a query that ended before the listener was added posts no more events
    if (!query.isActive) release()
  }

  private def rdds(ds: Dataset[_]) = ds.queryExecution.logical
    .collectWithSubqueries { case r: LogicalRDD => r.rdd }

  /** Ids of the checkpointed RDDs read by the DataFrames reachable from
    * `x` (see "Lifetimes"). */
  private def rddIds(x: Any): Set[Int] = x match {
    case ds: Dataset[_] => rdds(ds).map(_.id).toSet
    case i: Iterable[_] => i.flatMap(rddIds).toSet
    case p: Product => p.productIterator.flatMap(rddIds).toSet
    case _ => Set.empty
  }

  final class Scope private[Checkpoints] (parent: Option[Scope]) {
    private val pins = new ConcurrentLinkedQueue[Dataset[_]]()
    private val jobs = new ConcurrentLinkedQueue[Future[_]]()

    /** Pin by the session's policy (see "Pin policy"). */
    def pin[T](ds: Dataset[T]): Dataset[T] =
      if (ds.sparkSession.sparkContext.getCheckpointDir.isEmpty) pinLocal(ds)
      else {
        ds.persist()
        try own(ds.checkpoint(eager = true)) finally ds.unpersist()
      }

    /** Single-shot local pin (see "Pin policy"). Owned before its job
      * runs — the job an eager `localCheckpoint` runs — so a job that
      * fails leaves no persisted RDD behind. */
    def pinLocal[T](ds: Dataset[T]): Dataset[T] = {
      val p = own(ds.localCheckpoint(eager = false))
      rdds(p).foreach(_.count())
      p
    }

    /** Free a pin of this scope now — e.g. the previous round once the
      * next one is materialized. Anything else (a frame derived from a
      * pin) is left alone. */
    def release(ds: Dataset[_]): Unit = if (pins.remove(ds)) unpin(ds)

    /** [[pin]] `df` with `metrics` observed on the pin's job; the metric
      * row (fields named by the metrics' aliases) rides along. Fails
      * with an error naming the observation when the row has not
      * arrived [[ObserveTimeout]] after the pin. */
    def observed(df: DataFrame, metric: Column, more: Column*)
        : (DataFrame, Row) = {
      val obs = Observation()
      val pinned =
        if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
          pin(df.observe(obs, metric, more: _*))
        else {
          // the metrics ride the job that fills the pin; a SQL
          // execution, not a bare RDD job, is what delivers them
          val p = own(df.localCheckpoint(eager = false))
          p.observe(obs, metric, more: _*)
            .write.format("noop").mode("overwrite").save()
          p
        }
      try (pinned, Await.result(obs.future, ObserveTimeout))
      catch {
        case _: TimeoutException => throw new IllegalStateException(
          s"observation ${obs.name}: metrics did not arrive within " +
            s"$ObserveTimeout of the pin's job")
      }
    }

    /** Run `body` on a fresh daemon thread that inherits this thread's
      * Spark local properties and job tags; the returned function waits
      * for it and rethrows the body's own exception. The scope waits
      * for every body before it ends, and a failed one fails the scope. */
    def async[T](body: => T): () => T = {
      val job = Future(run(body))(freshThread)
      jobs.add(job)
      () => Await.result(job, Duration.Inf)
    }

    private def own[T](ds: Dataset[T]): Dataset[T] = { pins.add(ds); ds }

    private[Checkpoints] def run[T](body: => T): T = {
      val outer = current.get
      current.set(this)
      try body finally current.set(outer)
    }

    private def failures(): Seq[Throwable] = jobs.asScala.toSeq
      .flatMap(j => Await.ready(j, Duration.Inf).value.get.failed.toOption)

    private def drain(): Seq[Dataset[_]] =
      Iterator.continually(pins.poll()).takeWhile(_ != null).toSeq

    private[Checkpoints] def close(result: Any): Unit = {
      failures().headOption.foreach(abort)
      val kept = rddIds(result)
      drain().foreach { p =>
        if (rddIds(p).exists(kept)) parent.foreach(_.own(p)) else unpin(p)
      }
    }

    private[Checkpoints] def abort(e: Throwable): Nothing = {
      failures().filter(_ ne e).foreach(e.addSuppressed)
      drain().foreach(unpin)
      throw e
    }
  }
}
