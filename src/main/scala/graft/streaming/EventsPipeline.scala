package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Streaming-session input row (user_id, event time, value). */
final case class SessionEvent(user_id: Long, ts: java.sql.Timestamp,
                              value: Double)

/** Mutable-state buffer for one user's open session (epoch millis). */
final case class OpenSession(start: Long, end: Long, n: Long, sum: Double)

/** One closed session. */
final case class UserSession(user_id: Long, session_start: java.sql.Timestamp,
                             session_end: java.sql.Timestamp,
                             n_events: Long, sum_value: Double)

/**
 * Structured Streaming over the `events` table shape
 * (event_id, ts, user_id, event_type, value, props).
 *
 * Extension beyond the reference (parquery is strictly batch, one file per
 * call — SURVEY.md §2.13). The transform functions here take a plain
 * `DataFrame`, so the SAME logic runs in batch (for the oracle-checked
 * queries) and under `readStream` (incremental, watermarked) — Spark's
 * unified batch/streaming model, where the reference's production system
 * instead re-runs batch aggregations when a writer publishes new shards.
 *
 * Scale notes: windowed aggregation state is bounded by the watermark
 * (late data beyond 1 hour is dropped, state evicted); keys are
 * (window, event_type) — low cardinality, no skew concern. The parquet
 * file-stream source tracks processed files in the checkpoint, which is
 * exactly the "concurrent writer publishes shard updates" scenario the
 * reference handles with inode pinning (SURVEY.md §2.1/S4) — solved here
 * by design instead of by fd tricks.
 */
object EventsPipeline {

  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Tumbling-window rollup; batch and streaming share this plan. */
  def hourlyRollup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value"),
        approx_count_distinct(col("user_id")).as("approx_users"))
      .select(col("win.start").as("hour_start"), col("event_type"),
        col("n_events"), col("sum_value"), col("approx_users"))

  /** Sliding-window per-user activity (10 min windows every 5 min). */
  def slidingUserActivity(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("win"),
        col("user_id"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("v"))
      .select(col("win.start").as("win_start"), col("user_id"),
        col("n"), col("v"))

  /**
   * Streaming exact deduplication: drop events whose `idCols` were
   * already seen, keeping state only within the watermark horizon.
   * Without the watermark the seen-keys state grows unboundedly; with it,
   * Spark evicts keys older than `watermarkDelay` — the streaming
   * equivalent of [[graft.operators.Dedup.exact]] for at-least-once
   * sources (the reference's concurrent-writer world republished shards;
   * this is how a stream consumer would see them exactly once).
   */
  def streamingDedup(events: DataFrame, idCols: Seq[String],
                     tsCol: String = "ts",
                     watermarkDelay: String = "1 hour"): DataFrame =
    events.withWatermark(tsCol, watermarkDelay)
      .dropDuplicates(idCols :+ tsCol)

  /**
   * Streaming near-duplicate filter: admit only documents whose MinHash
   * signature has not been seen inside the watermark horizon. Composes
   * the native signature expression with Spark's streaming dedup state:
   * exact dups and heavy near-dups (identical signatures) are dropped
   * in-flight. State is one (signatureHash) key per admitted doc;
   * `dropDuplicatesWithinWatermark` is what makes the watermark actually
   * evict it — plain `dropDuplicates` only evicts when the event-time
   * column is part of the dedup key, so keying on the signature alone
   * would grow state unboundedly. For docs that share only SOME bands,
   * see [[streamingBandedNearDupFilter]].
   */
  def streamingNearDupFilter(docs: DataFrame, textCol: String,
                             tsCol: String = "ts",
                             watermarkDelay: String = "1 hour",
                             numHashes: Int = 64,
                             shingleWords: Int = 3): DataFrame = {
    docs
      .withColumn("__sig_hash", xxhash64(
        graft.plans.NativeFunctions.minhashNative(col(textCol), numHashes,
          shingleWords)))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(Seq("__sig_hash"))
      .drop("__sig_hash")
  }

  /**
   * Streaming banded-LSH near-duplicate filter: the streaming analog of
   * [[graft.operators.Dedup.minhashCandidates]]. Each document explodes
   * into `bands` (bandIdx, bandHash) keys; per-band state
   * (`dropDuplicatesWithinWatermark`) keeps the first document that
   * claimed each band key within the watermark horizon; a document is
   * admitted only if it survives on ALL its bands — i.e. no band
   * collided with an earlier document. Near-dups sharing some-but-not-
   * all bands (which [[streamingNearDupFilter]] would stream through)
   * are dropped.
   *
   * State: `bands` keys per admitted doc (8 B hash + eviction timestamp
   * each), evicted once the watermark passes — bands× the signature
   * filter's state, same eviction bound. The re-group that counts
   * surviving bands is a watermarked tumbling-window aggregation
   * (`windowSize`; any size works — a doc's bands share one timestamp,
   * so they always land in the same window), so output emits when the
   * watermark passes the window, like any append-mode windowed agg.
   *
   * Conservative edge: two colliding docs in one microbatch may split
   * band survivorship so neither is admitted (both dropped, none
   * duplicated) — acceptable for a dedup filter, where false drops of
   * near-identical content are cheap and false admits are the failure.
   */
  def streamingBandedNearDupFilter(docs: DataFrame, idCol: String,
                                   textCol: String,
                                   tsCol: String = "ts",
                                   watermarkDelay: String = "1 hour",
                                   numHashes: Int = 64, bands: Int = 16,
                                   shingleWords: Int = 3,
                                   windowSize: String = "5 minutes")
      : DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val payload = docs.columns.toSeq.map(col)
    docs
      .withColumn("__doc", struct(payload: _*))
      .withColumn("__sig", graft.plans.NativeFunctions.minhashNative(
        col(textCol), numHashes, shingleWords))
      .withColumn("__band", explode(sequence(lit(0), lit(bands - 1))))
      .withColumn("__band_hash",
        xxhash64(slice(col("__sig"), col("__band") * rows + lit(1),
          lit(rows))))
      .select(col(idCol).as("__id"), col(tsCol).as("__ts"),
        col("__doc"), col("__band"), col("__band_hash"))
      .withWatermark("__ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(Seq("__band", "__band_hash"))
      .groupBy(window(col("__ts"), windowSize), col("__id"))
      .agg(count(lit(1)).as("__n"), first(col("__doc")).as("__doc"))
      .where(col("__n") === bands)
      .select(col("__doc.*"))
  }

  /**
   * Gap-based sessions via Spark's NATIVE `session_window` — the
   * built-in operator equivalent of [[sessionizeBatch]] (window
   * functions) and [[sessionizeStream]] (explicit state). Same semantics
   * on the same events; one `groupBy` whose window merges rows within
   * `gapMinutes` of each other. The Spark-first choice when you don't
   * need the custom per-event state logic: the planner handles merging,
   * state format, and watermark eviction. Note: `session_window`'s end
   * is `last event + gap`; the reported `session_end` here is the max
   * event time, matching the other two implementations.
   */
  def sessionizeNative(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    events
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$gapMinutes minutes").as("__w"))
      .agg(min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value"))
      .drop("__w")

  /**
   * Watermarked stream-stream join: clicks enriched with the view that
   * preceded them by at most `withinMinutes` for the same user — the
   * canonical Structured Streaming interval join. Both sides keep state
   * bounded by watermark + the join's time-range condition (Spark derives
   * each side's state horizon from the inequality), so neither buffer
   * grows with stream length.
   */
  def clickViewJoin(clicks: DataFrame, views: DataFrame,
                    withinMinutes: Int = 10,
                    watermarkDelay: String = "30 minutes"): DataFrame = {
    val c = clicks.withWatermark("ts", watermarkDelay)
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val v = views.withWatermark("ts", watermarkDelay)
      .select(col("user_id").as("v_user_id"),
        col("event_id").as("view_id"), col("ts").as("view_ts"))
    c.join(v,
      c("user_id") === v("v_user_id") &&
        v("view_ts") <= c("click_ts") &&
        v("view_ts") >= c("click_ts") - expr(
          s"INTERVAL $withinMinutes MINUTES"))
      .select(col("user_id"), col("click_id"), col("click_ts"),
        col("view_id"), col("view_ts"))
  }

  /**
   * Batch sessionization via window functions: a session breaks when the
   * gap to the previous event of the same user exceeds `gapMinutes`.
   * Session ids are running sums of break flags — one shuffle on
   * user_id, SQL-expressible (oracle-checkable), and the exact batch
   * equivalent of [[sessionizeStream]].
   */
  def sessionizeBatch(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val gapSec = gapMinutes * 60L
    events
      .withColumn("__prev", lag(col("ts"), 1).over(w))
      .withColumn("__brk",
        when(col("__prev").isNull ||
          unix_timestamp(col("ts")) - unix_timestamp(col("__prev")) > gapSec,
          1L).otherwise(0L))
      .withColumn("session_id", sum(col("__brk"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value"))
  }

  /**
   * Streaming sessionization with explicit state:
   * `flatMapGroupsWithState` + event-time timeout. Per user the open
   * session lives in the state store; intra-batch gaps close sessions
   * immediately, and the watermark passing (last event + gap) closes the
   * final one via timeout. State per key is one `OpenSession` (4 fields)
   * — bounded regardless of stream length, evicted on timeout.
   */
  def sessionizeStream(events: DataFrame,
                       gapMinutes: Int = 30): Dataset[UserSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes * 60000L

    def close(uid: Long, s: OpenSession): UserSession =
      UserSession(uid, new java.sql.Timestamp(s.start),
        new java.sql.Timestamp(s.end), s.n, s.sum)

    events
      .withWatermark("ts", s"$gapMinutes minutes")
      .select(col("user_id"), col("ts"), col("value")).as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, UserSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, batch: Iterator[SessionEvent],
         state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(close(uid, s))
          } else {
            val evs = batch.toSeq.sortBy(_.ts.getTime)
            if (evs.isEmpty) Iterator.empty
            else {
              var open = state.getOption.orNull
              val closed = Seq.newBuilder[UserSession]
              evs.foreach { e =>
                val t = e.ts.getTime
                if (open == null) open = OpenSession(t, t, 1L, e.value)
                else if (t - open.end > gapMs) {
                  closed += close(uid, open)
                  open = OpenSession(t, t, 1L, e.value)
                } else open = OpenSession(open.start, math.max(open.end, t),
                  open.n + 1, open.sum + e.value)
              }
              state.update(open)
              state.setTimeoutTimestamp(open.end + gapMs)
              closed.result().iterator
            }
          }
      }
  }

  /**
   * Incrementally-maintained rollup snapshot over parquet: the streaming
   * hourly rollup runs in UPDATE mode, and each micro-batch's changed
   * (hour, event_type) rows REPLACE their partition via dynamic
   * partition overwrite — a materialized view over plain parquet that
   * readers query with partition pruning. Correctness hinges on the
   * partition key equaling the aggregation key ((hourKey, event_type) —
   * an updated row is a COMPLETE partition), so a replace never drops
   * sibling rows. Replaying a batch after a crash rewrites the same
   * partitions with the same content: foreachBatch + idempotent
   * overwrite gives effectively-exactly-once publishing.
   *
   * This is the Spark-native form of the reference's production loop
   * (writers republish per-shard aggregate files, readers pick up
   * whole-file swaps — README.md:4,10).
   */
  def publishHourlySnapshots(events: DataFrame, outDir: String,
                             checkpointDir: String,
                             trigger: Trigger =
                               Trigger.ProcessingTime("10 seconds"))
      : StreamingQuery =
    hourlyRollup(events).writeStream
      .outputMode("update")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          graft.sources.Writer.overwritePartitions(
            batch.withColumn("hour_key",
              date_format(col("hour_start"), "yyyyMMddHH")),
            outDir, Seq("hour_key", "event_type"))
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  /**
   * File-source streaming wiring: watch `inputDir` for new parquet files
   * (the reference's "concurrent writer publishes shards" scenario),
   * maintain the hourly rollup incrementally, write append-mode parquet.
   */
  def startFileStream(spark: SparkSession, inputDir: String,
                      checkpointDir: String, outputDir: String,
                      trigger: Trigger = Trigger.ProcessingTime("10 seconds"))
      : StreamingQuery = {
    val in = spark.readStream.schema(eventsSchema).parquet(inputDir)
    hourlyRollup(in).writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .format("parquet")
      .option("path", outputDir)
      .start()
  }
}
