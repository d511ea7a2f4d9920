package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Event-analytics operators over the `events` stream table: funnel
 * conversion, cohort retention, fixed-width histograms and z-score
 * outlier detection. All are classic OLAP compositions — each is one
 * or two key-partitioned aggregations, no windows over the full
 * stream, no driver-side state — so they hold their shape when the
 * events table is 100 TB (shuffles are on user_id / event_type / bin,
 * all partial-aggregated map-side).
 *
 * Extension beyond the reference surface (SURVEY.md §2.13 context: the
 * reference has no event/temporal operators at all).
 */
object Analytics {

  /**
   * Strict-order funnel: for each user, step i counts only if it has
   * an event strictly after the user's (conditional) step i-1 time —
   * the textbook "first touch then next step" funnel, not a mere
   * per-step existence check. k steps = k passes over the events
   * (each a filtered agg on user_id, partial-aggregated map-side);
   * the per-user step-time frame stays one row per user.
   *
   * Scale trade, explicitly: k passes is the right shape for short
   * funnels (k ≤ ~5, the product norm) — each pass is a narrow
   * filtered scan + key-partitioned agg, and the frontier joined back
   * is one row per surviving user. For LONG step lists the k scans
   * dominate; the single-pass alternative is one `groupBy(user)` with
   * a capped `sort_array(collect_list(ts, type))` per user and a
   * per-user fold through the step sequence — one shuffle, but a
   * per-user event buffer (cap it: funnels over power users' full
   * history are where that buffer blows up). Switch shapes at the
   * point the buffer bound is credible, not before.
   *
   * Output: (step, step_idx, n_users) — users whose funnel reached
   * that step.
   */
  def funnel(events: DataFrame, userCol: String, tsCol: String,
             typeCol: String, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    // t0: first occurrence of step 0 per user
    var cur = events.where(col(typeCol) === steps.head)
      .groupBy(col(userCol)).agg(min(col(tsCol)).as("__t0"))
    var acc = cur.agg(count(lit(1)).as("n_users"))
      .select(lit(steps.head).as("step"), lit(1).as("step_idx"),
        col("n_users"))
    steps.zipWithIndex.drop(1).foreach { case (step, i) =>
      val prev = s"__t${i - 1}"
      val nxt = s"__t$i"
      // earliest `step` event strictly after the user's previous step
      // time: join the (small, one-row-per-user) frontier to the
      // filtered events, then min per user
      cur = events.where(col(typeCol) === step)
        .join(cur, userCol)
        .where(col(tsCol) > col(prev))
        .groupBy(col(userCol))
        .agg(min(col(tsCol)).as(nxt))
      acc = acc.unionByName(
        cur.agg(count(lit(1)).as("n_users"))
          .select(lit(step).as("step"), lit(i + 1).as("step_idx"),
            col("n_users")))
    }
    acc
  }

  /**
   * Cohort retention: users are cohorted by the calendar date of their
   * first event; each (cohort, weeks-since-cohort) cell counts the
   * distinct users from that cohort active that week. Two shuffles —
   * one on user (first-event date), one on (cohort, age) — both
   * decomposable.
   */
  def cohortRetention(events: DataFrame, userCol: String,
                      tsCol: String): DataFrame = {
    val firstSeen = events.groupBy(col(userCol))
      .agg(to_date(min(col(tsCol))).as("__cohort"))
    events.select(col(userCol), to_date(col(tsCol)).as("__day"))
      .join(firstSeen, userCol)
      .select(col(userCol), col("__cohort"),
        floor(datediff(col("__day"), col("__cohort")) / 7).as("age_weeks"))
      .groupBy(col("__cohort"), col("age_weeks"))
      .agg(count_distinct(col(userCol)).as("n_users"))
      .select(date_format(col("__cohort"), "yyyy-MM-dd").as("cohort_date"),
        col("age_weeks"), col("n_users"))
  }

  /**
   * Fixed-width histogram of a numeric column: bin i covers
   * [i*width, (i+1)*width). Fixed widths (vs equi-depth) keep this a
   * single map-side-combinable aggregation — no global sort, no
   * percentile pass; null values are dropped.
   */
  def histogram(df: DataFrame, valueCol: String, width: Double): DataFrame = {
    require(width > 0, "bin width must be positive")
    df.where(col(valueCol).isNotNull)
      .select(floor(col(valueCol) / width).cast("long").as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"))
      .select((col("bin") * width).as("bin_lo"), col("n"))
  }

  /**
   * Distribution drift between two corpus snapshots over a numeric
   * column: per-bin probabilities of each side (fixed-width bins, full
   * outer join so one-sided bins count) plus the scalar total-variation
   * distance TV = Σ|p−q|/2 ∈ [0, 1] repeated on every row — the
   * standard "did the new crawl shift the data?" QA gate between
   * ingestion rounds. A fully one-sided comparison (one snapshot empty)
   * reports TV = 1.0 by convention, never a null-skewed partial sum.
   *
   * Scale shape: each side reduces to its bin histogram (one
   * partial-aggregated groupBy per side over a single projected
   * column); the join and the TV sum run on bin-vocabulary-sized
   * frames. Counts become probabilities against window-free broadcast
   * totals (a 1-row cross join, like tfidf's corpus count). Nothing is
   * driver-side.
   */
  def distributionDrift(before: DataFrame, after: DataFrame,
                        valueCol: String, width: Double)
      : DataFrame = Checkpoints.scoped { s =>
    val hb = histogram(before, valueCol, width)
      .select(col("bin_lo"), col("n").as("__nb"))
    val ha = histogram(after, valueCol, width)
      .select(col("bin_lo"), col("n").as("__na"))
    // materialized once: this bin-vocabulary-sized frame feeds the
    // probabilities, the totals AND the TV aggregate — without the
    // checkpoint the two input histograms would appear four times in
    // one plan and re-execute wherever exchange reuse misses
    val joined = s.pinLocal(hb.join(ha, Seq("bin_lo"), "full_outer")
      .select(col("bin_lo"),
        coalesce(col("__nb"), lit(0L)).as("__nb"),
        coalesce(col("__na"), lit(0L)).as("__na")))
    val totals = joined.agg(sum(col("__nb")).as("__tb"),
      sum(col("__na")).as("__ta"))
    // an EMPTY side would make its total 0 and Spark's x/0 null — the
    // null probabilities would silently vanish from the TV sum and emit
    // a misleadingly small tv_distance; instead the empty side's
    // probability coalesces to 0 and a fully one-sided comparison
    // reports the convention TV = 1.0 (maximal drift)
    val withP = joined.crossJoin(broadcast(totals))
      .select(col("bin_lo"),
        when(col("__tb") > 0, col("__nb").cast("double") / col("__tb"))
          .otherwise(lit(0.0)).as("p_before"),
        when(col("__ta") > 0, col("__na").cast("double") / col("__ta"))
          .otherwise(lit(0.0)).as("p_after"),
        (col("__tb") > 0 && col("__ta") > 0).as("__both"))
    // TV accumulates in exact DECIMAL over 6-dp-rounded terms: a double
    // sum's value depends on partial order (the round-1 q_join_star
    // lesson), decimal addition doesn't
    val tv = withP.agg(
        (sum(abs(round(col("p_before"), 6) - round(col("p_after"), 6))
          .cast("decimal(18,6)")) / 2).cast("double").as("__tv"),
        min(col("__both")).as("__both"))
      .select(when(col("__both"), col("__tv")).otherwise(lit(1.0))
        .as("__tv"))
    withP.crossJoin(broadcast(tv))
      .select(col("bin_lo"),
        round(col("p_before"), 6).as("p_before"),
        round(col("p_after"), 6).as("p_after"),
        round(col("__tv"), 6).as("tv_distance"))
  }

  /**
   * Per-group z-score outlier counts: events whose value sits more
   * than `zThreshold` sample standard deviations from their group's
   * mean. Group moments come from ONE aggregation (sum / sum-of-
   * squares decomposition is unnecessary — avg/stddev_samp partial-
   * aggregate natively); the flagging pass joins the tiny moments
   * frame back (broadcast at any realistic group count).
   */
  /**
   * Per-group percentile-rank normalization: adds `outCol` =
   * `percent_rank` of `scoreCol` within its `groupCol` partition —
   * the curation primitive that makes quality thresholds comparable
   * ACROSS sources ("keep the top 30% of every source" instead of one
   * global cutoff that a high-scoring source monopolizes). Null
   * scores get a null rank.
   *
   * Scale shape: the naive `percent_rank() OVER (PARTITION BY
   * source)` puts an ENTIRE source in one task's sorter — with a
   * handful of 10 TB sources that is the single-task global-window
   * failure mode with a fig leaf. This computes the same number from
   * the per-group CDF over DISTINCT score values instead: one
   * `groupBy(group, score)` count (map-side combined), windows over
   * the distinct-value frame (per-task data = distinct scores per
   * group, not rows per group), then a hash join back on (group,
   * score). Exact same value as `percent_rank` — (rows strictly
   * below) / (group rows - 1) — at any tie structure. For
   * real-valued scores with unbounded distinct cardinality, round
   * the score first or use [[rankNormalizeApprox]].
   */
  def rankNormalize(df: DataFrame, groupCol: String, scoreCol: String,
                    outCol: String = "pct_rank"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df.where(col(scoreCol).isNotNull)
      .groupBy(col(groupCol), col(scoreCol))
      .agg(count(lit(1)).as("__n"))
    val ordered = Window.partitionBy(col(groupCol)).orderBy(col(scoreCol))
    val whole = Window.partitionBy(col(groupCol))
    val cdf = counts.select(col(groupCol), col(scoreCol),
      ((sum(col("__n")).over(ordered) - col("__n")) /
        greatest(sum(col("__n")).over(whole) - 1L, lit(1L)))
        .cast("double").as(outCol))
    df.join(cdf, Seq(groupCol, scoreCol), "left")
  }

  /**
   * Sketch-based variant for unbounded-cardinality scores: per-group
   * quantile cut points from ONE `approx_percentile` aggregation
   * (t-digest-style state, map-side partials), then each row's rank
   * estimate = fraction of cut points at or below its score — a
   * `buckets`-step staircase approximation of [[rankNormalize]],
   * with per-group state O(buckets) instead of O(distinct scores).
   */
  def rankNormalizeApprox(df: DataFrame, groupCol: String,
                          scoreCol: String, buckets: Int = 20,
                          outCol: String = "pct_rank"): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val pcts = array((1 until buckets).map(i =>
      lit(i.toDouble / buckets)): _*)
    val cuts = df.where(col(scoreCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(percentile_approx(col(scoreCol), pcts, lit(10000))
        .as("__cuts"))
    df.join(cuts, Seq(groupCol), "left")
      .withColumn(outCol,
        when(col(scoreCol).isNull || col("__cuts").isNull, lit(null))
          .otherwise(size(filter(col("__cuts"),
            c => c <= col(scoreCol))).cast("double") / buckets))
      .drop("__cuts")
  }

  def zscoreOutliers(df: DataFrame, groupCol: String, valueCol: String,
                     zThreshold: Double = 3.0): DataFrame = {
    val moments = df.groupBy(col(groupCol)).agg(
      avg(col(valueCol)).as("__mu"),
      stddev_samp(col(valueCol)).as("__sd"))
    df.join(broadcast(moments), groupCol)
      .select(col(groupCol),
        when(col("__sd") > 0,
          abs(col(valueCol) - col("__mu")) / col("__sd"))
          .otherwise(lit(0.0)).as("__z"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(when(col("__z") > zThreshold, 1L).otherwise(0L)).as("n_outliers"))
  }

  /**
   * Curation-funnel accounting in ONE aggregation pass: for ordered
   * quality gates `(name, predicate)`, one row with the corpus size
   * (`rows_in`) and the survivor count through each CUMULATIVE gate
   * prefix (column per gate, in order) — the "where did my data go"
   * report every 100 TB curation run needs before anyone trusts its
   * output. Running it as N `filter().count()` stages would scan the
   * corpus N times; conditional partial aggregation makes it one
   * map-side-combined pass whatever the gate count. Counts are exact
   * and engine-portable as long as the predicates are (every gate in
   * the driver-gated query replays verbatim in SQL). Gate names must
   * be unique — they become output columns.
   */
  def gateFunnel(df: DataFrame, gates: Seq[(String, Column)])
      : DataFrame = {
    require(gates.nonEmpty, "need at least one gate")
    val names = gates.map(_._1)
    require(names.distinct.size == names.size,
      s"duplicate gate names: $names")
    require(!names.contains("rows_in"),
      "'rows_in' is the reserved corpus-size column")
    val cum = gates.scanLeft(lit(true))((acc, g) => acc && g._2).tail
    // coalesce: sum over an EMPTY corpus is null in SQL, but this is
    // a counting report — 0 is the honest value
    val aggs = cum.zip(names).map { case (c, n) =>
      coalesce(sum(when(c, 1L).otherwise(0L)), lit(0L)).as(n)
    }
    df.agg(count(lit(1)).as("rows_in"), aggs: _*)
  }
}
