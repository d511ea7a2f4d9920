package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import SparkEntry._

/** Time-ordered data: event rollups and sessions over the events
  * table, and the CDC merge/snapshot family over orders (one change
  * set, one final-state oracle). */
private[graft] object RegistryStreaming {

  /** One oracle for BOTH q_merge_upsert and q_cdc_snapshot — the two
    * queries are documented to produce the identical final state, so
    * they must share one literal (two copies would let the gates
    * silently test different oracles if the change set evolves). */
  private val mergeUpsertOracleSql =
    """WITH base AS (SELECT o_orderkey, o_totalprice,
                o_orderstatus, 0 AS version, FALSE AS is_delete, 0 AS src
                FROM orders),
              upd AS (
                SELECT o_orderkey, CAST(o_orderkey AS DOUBLE)
                    AS o_totalprice, 'U' AS o_orderstatus, 1 AS version,
                  FALSE AS is_delete, 1 AS src
                FROM orders WHERE o_orderkey % 10 < 3
                UNION ALL
                SELECT o_orderkey, NULL, NULL, 1, TRUE, 1
                FROM orders WHERE o_orderkey % 10 = 3
                UNION ALL
                SELECT -o_orderkey, CAST(o_orderkey AS DOUBLE), 'N', 1,
                  FALSE, 1
                FROM orders WHERE o_orderkey % 10 = 4),
              log AS (SELECT * FROM base UNION ALL SELECT * FROM upd),
              win AS (SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY o_orderkey
                  ORDER BY version DESC, src DESC) AS rk FROM log)
              SELECT o_orderkey, o_totalprice, o_orderstatus
              FROM win WHERE rk = 1 AND NOT is_delete"""

  /** Shared CDC change set over orders: base snapshot (version 0) plus
    * updates / tombstones / inserts (version 1) — exact-valued payloads
    * (a cast key), so no FP arithmetic rides the gate. Used by
    * `q_merge_upsert` (one-shot merge) and `q_cdc_snapshot` (the same
    * merge through the epoch/bucket snapshot layout) so both share one
    * oracle shape. */
  private def ordersChangeSet(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val orders = s.read.parquet(pq(d, "orders"))
    val base = orders.select(col("o_orderkey"), col("o_totalprice"),
      col("o_orderstatus"), lit(0L).as("version"),
      lit(false).as("is_delete"))
    val updates = orders.where(col("o_orderkey") % 10 < 3)
      .select(col("o_orderkey"),
        col("o_orderkey").cast("double").as("o_totalprice"),
        lit("U").as("o_orderstatus"), lit(1L).as("version"),
        lit(false).as("is_delete"))
      .unionAll(orders.where(col("o_orderkey") % 10 === 3)
        .select(col("o_orderkey"),
          lit(null).cast("double").as("o_totalprice"),
          lit(null).cast("string").as("o_orderstatus"),
          lit(1L).as("version"), lit(true).as("is_delete")))
      .unionAll(orders.where(col("o_orderkey") % 10 === 4)
        .select((-col("o_orderkey")).as("o_orderkey"),
          col("o_orderkey").cast("double").as("o_totalprice"),
          lit("N").as("o_orderstatus"), lit(1L).as("version"),
          lit(false).as("is_delete")))
    (base, updates)
  }

  /** Lazily-materialized CDC snapshot fixture: the [[ordersChangeSet]]
    * applied as two epochs through [[graft.streaming.CdcPipeline]]'s
    * log-structured layout — built once per testdata identity, so the
    * steady-state bench time measures the snapshot READ (latest
    * committed epoch per bucket), the shape a downstream consumer
    * pays. */
  private def cdcSnapshotFixture(s: SparkSession, d: String): String = {
    val root = Fixture(new java.io.File(d, "orders.parquet"),
      "graft_cdc_snapshot") { tmp =>
      val snap = new java.io.File(tmp, "snap").toString
      val (base, updates) = ordersChangeSet(s, d)
      graft.streaming.CdcPipeline.applyBatch(s, base, snap,
        Seq("o_orderkey"), "version", "is_delete", numBuckets = 16,
        epoch = 0L)
      graft.streaming.CdcPipeline.applyBatch(s, updates, snap,
        Seq("o_orderkey"), "version", "is_delete", numBuckets = 16,
        epoch = 1L)
    }
    new java.io.File(root, "snap").toString
  }

  /** [[cdcSnapshotFixture]]'s end-of-life twin: the same two epochs,
    * then a FULL compaction, then the old epoch dirs deleted — the
    * retention flow the log-structured layout exists for. The staged
    * rename-commit (data + tombstoned-empty-bucket sentinels + bucket
    * marker published atomically) is what makes the deletion safe: the
    * compacted epoch alone must serve every bucket, including the
    * empty-now ones, or deleted keys would resurrect. Final state is
    * identical to the uncompacted snapshot, so the oracle is shared. */
  private def cdcCompactedFixture(s: SparkSession, d: String): String = {
    val root = Fixture(new java.io.File(d, "orders.parquet"),
      "graft_cdc_compacted") { tmp =>
      val snap = new java.io.File(tmp, "snap").toString
      val (base, updates) = ordersChangeSet(s, d)
      graft.streaming.CdcPipeline.applyBatch(s, base, snap,
        Seq("o_orderkey"), "version", "is_delete", numBuckets = 16,
        epoch = 0L)
      graft.streaming.CdcPipeline.applyBatch(s, updates, snap,
        Seq("o_orderkey"), "version", "is_delete", numBuckets = 16,
        epoch = 1L)
      val next = graft.streaming.CdcPipeline.compactSnapshot(s, snap,
        Seq("o_orderkey"), numBuckets = 16)
      require(next == 2L, s"expected compaction epoch 2, got $next")
      Seq(0L, 1L).foreach { e =>
        org.apache.commons.io.FileUtils.deleteDirectory(
          new java.io.File(s"$snap/epoch=$e"))
      }
    }
    new java.io.File(root, "snap").toString
  }

  /** A sessionization's rows as the session oracles print them: the
    * key columns, start and end as second-precision strings, and the
    * per-session count and value sum. */
  private def sessionRows(sessions: DataFrame, keys: String*): DataFrame =
    sessions.select(keys.map(col) ++ Seq(
      date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss")
        .as("start_str"),
      date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss")
        .as("end_str"),
      col("n_events"), col("sum_value")): _*)

  /** DuckDB replay of a gap sessionization of events: a user's session
    * breaks wherever `gapBreak` holds between an event's `ts` and the
    * previous event's `prev_ts`; `idCol` numbers the sessions and `keys`
    * are the selected key columns. */
  private def sessionOracleSql(keys: String, idCol: String,
                               gapBreak: String): String =
    s"""SELECT $keys,
        strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS start_str,
        strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS end_str,
        COUNT(*) AS n_events, ROUND(SUM(value), 4) AS sum_value
      FROM (
        SELECT user_id, ts, value,
          CAST(SUM(brk) OVER (PARTITION BY user_id
            ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS $idCol
        FROM (
          SELECT user_id, event_id, ts, value,
            CASE WHEN prev_ts IS NULL OR $gapBreak
              THEN 1 ELSE 0 END AS brk
          FROM (SELECT user_id, event_id, ts, value,
            LAG(ts) OVER (PARTITION BY user_id
              ORDER BY ts, event_id) AS prev_ts FROM events) a
        ) b
      ) c GROUP BY user_id, $idCol"""

  val entries: Seq[Q] = Seq(
    // ---- events / time-series --------------------------------------
    Q("q_events_hourly",
      (s, d) => graft.streaming.EventsPipeline.hourlyRollup(events(s, d))
        .select(date_format(col("hour_start"), "yyyy-MM-dd HH:00:00")
          .as("hour_str"), col("event_type"), col("n_events"),
          col("sum_value"))
        .withColumn("sum_value", round(col("sum_value"), 4)),
      Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00')
                AS hour_str, event_type, COUNT(*) AS n_events,
              ROUND(SUM(value), 4) AS sum_value
              FROM events GROUP BY 1, 2""")),

    // sliding-window rollup (10-min windows every 5 min): each event
    // lands in exactly two windows — the oracle materializes both via
    // the [0, 300]s offset unnest on the same 5-min grid arithmetic
    // Spark's window() uses; naive-timestamp math end to end (no tz)
    Q("q_events_sliding",
      (s, d) => graft.streaming.EventsPipeline
        .slidingUserActivity(events(s, d))
        .select(date_format(col("win_start"), "yyyy-MM-dd HH:mm:ss")
          .as("win_str"), col("user_id"), col("n"), col("v")),
      Some("""WITH e AS (SELECT user_id, value,
                make_timestamp(CAST((floor(epoch(ts) / 300) * 300 - off)
                  * 1000000 AS BIGINT)) AS win_start
                FROM events, unnest([0, 300]) AS t(off))
              SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_str,
                user_id, COUNT(*) AS n, ROUND(SUM(value), 4) AS v
              FROM e GROUP BY 1, 2""")),

    Q("q_events_type_stats",
      (s, d) => events(s, d).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          count_distinct(col("user_id")).as("n_users"),
          round(avg(col("value")), 4).as("avg_value")),
      Some("""SELECT event_type, COUNT(*) AS n,
              COUNT(DISTINCT user_id) AS n_users,
              ROUND(AVG(value), 4) AS avg_value
              FROM events GROUP BY event_type""")),

    Q("q_sessionize",
      (s, d) => sessionRows(graft.streaming.EventsPipeline
        .sessionizeBatch(events(s, d), gapMinutes = 30),
        "user_id", "session_id"),
      Some(sessionOracleSql("user_id, session_id", "session_id",
        "CAST(FLOOR(epoch(ts)) AS BIGINT)" +
          " - CAST(FLOOR(epoch(prev_ts)) AS BIGINT) > 1800"))),

    // Spark's NATIVE session_window operator — same gap semantics as the
    // hand-rolled q_sessionize (split at gap >= 30min; the oracle's
    // break uses >= on full-precision timestamps, exactly
    // session_window's merge rule)
    Q("q_session_window",
      (s, d) => sessionRows(graft.streaming.EventsPipeline
        .sessionizeNative(events(s, d), gapMinutes = 30), "user_id"),
      Some(sessionOracleSql("user_id", "sid",
        "ts >= prev_ts + INTERVAL 30 MINUTE"))),

    // ---- change data capture ---------------------------------------
    // CDC merge to latest snapshot: updates (version 1) overwrite the
    // base rows, tombstones drop keys, unseen keys insert — the kept
    // row per key is a pure function of (key, version, side), replayed
    // by the oracle's window. Update payloads are exact values (a cast
    // key), so no FP arithmetic rides the gate.
    Q("q_merge_upsert",
      (s, d) => {
        val (base, updates) = ordersChangeSet(s, d)
        graft.operators.Merge.mergeUpsert(base, updates,
            Seq("o_orderkey"), "version", deleteCol = Some("is_delete"))
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderstatus"))
      },
      Some(mergeUpsertOracleSql)),

    // the SAME merge driven through CdcPipeline's log-structured
    // epoch/bucket snapshot (two applied epochs, prebuilt fixture):
    // readSnapshot serves every bucket from its newest committed epoch
    // — identical final state to the one-shot merge, same oracle shape
    Q("q_cdc_snapshot",
      (s, d) => graft.streaming.CdcPipeline
        .readSnapshot(s, cdcSnapshotFixture(s, d))
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus")),
      Some(mergeUpsertOracleSql)),

    // time travel over the same fixture: as-of epoch 0 must reproduce
    // the pre-update state exactly (the base change set — unique keys,
    // no deletes — so the oracle is the base projection itself)
    Q("q_cdc_time_travel",
      (s, d) => graft.streaming.CdcPipeline
        .readSnapshotAsOf(s, cdcSnapshotFixture(s, d), epoch = 0L)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus")),
      Some("""SELECT o_orderkey, o_totalprice, o_orderstatus
              FROM orders""")),

    // the retention end-state: same epochs, then compactSnapshot and
    // DELETION of the old epoch dirs — the compacted epoch alone must
    // reproduce the identical snapshot (tombstoned-empty buckets
    // included, via the atomically-committed sentinels), same oracle
    Q("q_cdc_compacted",
      (s, d) => graft.streaming.CdcPipeline
        .readSnapshot(s, cdcCompactedFixture(s, d))
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus")),
      Some(mergeUpsertOracleSql)))
}
