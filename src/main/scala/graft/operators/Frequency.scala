package graft.operators

import graft.plans.NativeFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Heavy hitters over unbounded-cardinality columns — "what are the
 * most frequent tokens / URLs / user ids in this 100 TB column" with
 * bounded memory everywhere.
 *
 * The engine piece is [[graft.plans.MisraGriesAgg]] (native Catalyst
 * aggregate, ≤ `capacity` counters per task regardless of
 * cardinality). This operator wraps it in the production two-pass
 * shape: the sketch pass nominates candidates, then an exact
 * re-count pass (one broadcast semi-join + a map-side-combined
 * groupBy over JUST the candidate items) replaces the sketch's
 * under-estimates with exact counts. The result: exact counts and
 * deterministic output, while no task ever holds more than
 * max(capacity, candidate-set) counters — the sketch bounds the
 * memory, the re-count restores exactness.
 *
 * Correctness window, stated precisely: the Misra–Gries guarantee
 * puts every item with true count > n/(capacity + 1) in the candidate
 * set, so the re-counted top-k is THE true top-k whenever the k-th
 * item clears that threshold; size `capacity` ≫ n/count(k-th) to make
 * the window comfortable. With `recount = false` the sketch's own
 * (under-)estimates are returned directly — one pass, no second scan,
 * estimates low by at most n/(capacity + 1).
 */
object Frequency {

  /**
   * One-pass Misra–Gries summary of `itemCol`: `(item, est)` rows,
   * at most `capacity`, est ≤ true count ≤ est + n/(capacity+1).
   * Nulls are not counted. Works on any castable-to-string column.
   */
  def mgSummary(df: DataFrame, itemCol: String, capacity: Int): DataFrame = {
    require(capacity >= 1, s"capacity must be >= 1, got $capacity")
    df.select(col(itemCol).cast("string").as("__it"))
      .where(col("__it").isNotNull)
      .agg(NativeFunctions.mgSummaryNative(col("__it"), capacity)
        .as("__mg"))
      .select(explode(col("__mg")).as("__e"))
      .select(col("__e.item").as("item"), col("__e.cnt").as("est"))
  }

  /**
   * Driver-side n-way merge of Misra–Gries summaries — the SAME rule
   * as [[graft.plans.MisraGriesAgg.merge]] (Agarwal et al., mergeable
   * summaries): sum counters keywise; while over `capacity`, subtract
   * the (capacity+1)-th largest count and drop the non-positive. Each
   * input is ≤ capacity entries, so this is KBs of driver work — the
   * read-time combiner for summaries persisted per micro-batch /
   * per day / per source by
   * [[graft.streaming.FrequencyMonitor]]-style logs. The merged
   * result keeps the MG guarantee with error bounded by
   * Σ n_i / (capacity + 1). Output sorted (est desc, item asc).
   */
  def mergeSummaries(summaries: Seq[Seq[(String, Long)]],
                     capacity: Int): Seq[(String, Long)] = {
    require(capacity >= 1, s"capacity must be >= 1, got $capacity")
    val acc = scala.collection.mutable.HashMap.empty[String, Long]
    summaries.foreach { s =>
      s.foreach { case (k, c) => acc.update(k, acc.getOrElse(k, 0L) + c) }
      if (acc.size > capacity) {
        val counts = acc.values.toArray
        java.util.Arrays.sort(counts)
        val cut = counts(counts.length - capacity - 1)
        acc.mapValuesInPlace((_, c) => c - cut)
        acc.filterInPlace((_, c) => c > 0L)
      }
    }
    acc.toSeq.sortBy { case (k, c) => (-c, k) }
  }

  /**
   * Top-`k` most frequent values of `itemCol` as `(item, cnt)`,
   * ordered (cnt desc, item asc). `recount = true` (default) re-counts
   * the sketch's candidates exactly — output is exact top-k whenever
   * the k-th item's count exceeds n/(capacity+1), and `cnt` is always
   * the true count for the rows returned. `recount = false` returns
   * the sketch's lower-bound estimates directly (single pass).
   */
  def heavyHitters(df: DataFrame, itemCol: String, k: Int,
                   capacity: Int = 4096,
                   recount: Boolean = true): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val cand = mgSummary(df, itemCol, capacity)
    if (!recount)
      cand.orderBy(col("est").desc, col("item"))
        .limit(k)
        .select(col("item"), col("est").as("cnt"))
    else {
      // candidate set ≤ capacity entries — broadcast by construction
      val items = cand.select(col("item"))
      df.select(col(itemCol).cast("string").as("item"))
        .where(col("item").isNotNull)
        .join(broadcast(items), Seq("item"), "left_semi")
        .groupBy(col("item"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("item"))
        .limit(k)
    }
  }

  /**
   * Count-Min sketch of `itemCol` as a one-row binary frame — built
   * by Spark's OWN `count_min_sketch` aggregate (map-side partial
   * sketches, counter-wise SUM merge: fully commutative, so the
   * sketch — and every estimate from it — is a pure function of the
   * input multiset and `seed`, independent of partitioning). The
   * complement of [[mgSummary]]: MG answers "which items are
   * frequent" with ≤ capacity counters; CMS answers point queries
   * "how often did THIS item occur" for ANY item, in
   * width·depth = ⌈e/eps⌉·⌈ln(1/(1-confidence))⌉ counters, with the
   * one-sided guarantee estimate ≥ true count, and
   * estimate ≤ true count + eps·n with probability ≥ confidence
   * (Cormode & Muthukrishnan 2005, public).
   *
   * Scale shape: the sketch is KBs regardless of input size; the
   * exchange carries numPartitions × sketch bytes. Works per-group
   * too (it is Spark's own AggregateFunction under the hood).
   */
  def cmsSketch(df: DataFrame, itemCol: String,
                eps: Double = 0.001, confidence: Double = 0.99,
                seed: Int = 42): DataFrame =
    df.where(col(itemCol).isNotNull)
      .agg(count_min_sketch(col(itemCol), lit(eps), lit(confidence),
        lit(seed)).as("cms"))

  /**
   * Per-group MERGEABLE distinct-count sketches — Datasketches HLL
   * binaries via Spark's own `hll_sketch_agg` (NOT the internal
   * HLL++ behind `approx_count_distinct`, which cannot be persisted
   * or unioned across frames). This is the incremental-cardinality
   * state store shape: persist one sketch row per (source, day,
   * shard, …); any later union answers "distinct over any subset"
   * without touching the data again. `lgK` trades size for error
   * (2^lgK registers; 12 → ~1.6 KB, rse ≈ 0.8%).
   *
   * Scale shape: one aggregation with map-side partial sketches;
   * the output is groups-sized, each row KBs. Estimates carry the
   * usual approximate-sketch caveat — gate with bounded-error
   * verdicts (`q_hll_log`), not exact compares.
   */
  def hllSketches(df: DataFrame, itemCol: String, groupCol: String,
                  lgK: Int = 12): DataFrame =
    df.where(col(itemCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(hll_sketch_agg(col(itemCol), lit(lgK)).as("hll"))

  /** Union a sketch column (any subset of a persisted sketch log)
    * into ONE distinct-count estimate — the read-time combiner. */
  def hllUnionEstimate(sketches: DataFrame,
                       sketchCol: String = "hll"): DataFrame =
    sketches.agg(hll_sketch_estimate(hll_union_agg(col(sketchCol)))
      .as("distinct_est"))

  /**
   * Per-group MERGEABLE quantile sketches — KLL binaries via
   * [[graft.plans.KllDoublesAgg]] (Datasketches KLL, the library
   * already behind Spark's `hll_sketch_agg` family; Spark itself
   * ships no persistable quantile state — `percentile_approx` cannot
   * be stored or unioned). This is the quantile member of the
   * sketch-log shape: persist one ~3 KB row per (source, day, shard);
   * [[kllUnionSketch]] over any subset answers any percentile without
   * re-reading data. Rank error ≈ 1.65% at the default k=200 with
   * 99% confidence per probe (Karnin–Lang–Liberty FOCS'16), and the
   * guarantee survives merging; N is exact through merges. Estimates
   * are randomized (compaction offsets) — gate with bounded-error
   * verdicts (`q_kll_log`), never exact compares.
   *
   * Scale shape: one aggregation with map-side partial sketches; the
   * exchange carries numPartitions × ~3 KB per group, independent of
   * input volume.
   */
  def kllSketches(df: DataFrame, valueCol: String, groupCol: String,
                  k: Int = 200): DataFrame = {
    df.where(col(valueCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(NativeFunctions.kllAggNative(col(valueCol), k).as("kll"))
  }

  /** Union a KLL sketch column (any subset of a persisted sketch
    * log) into ONE merged sketch binary — the read-time combiner.
    * Pass the k the logs were built with. */
  def kllUnionSketch(sketches: DataFrame, sketchCol: String = "kll",
                     k: Int = 200): DataFrame = {
    sketches.agg(
      NativeFunctions.kllUnionNative(col(sketchCol), k).as("kll"))
  }

  /** Quantile estimates for `ranks` against a sketch column →
    * `array<double>` (INCLUSIVE criterion; rank -1.0 probes the
    * sketch's exact N — deterministic, unlike the estimates). */
  def kllQuantiles(sketch: org.apache.spark.sql.Column,
                   ranks: Seq[Double]): org.apache.spark.sql.Column =
    NativeFunctions.kllQuantilesNative(sketch, ranks)

  /** The inverse probe: normalized-rank (CDF) estimates for `values`
    * against a sketch column → `array<double>` in [0, 1] (INCLUSIVE:
    * fraction of the stream ≤ the value) — "what fraction of docs
    * are shorter than X" asked of a persisted sketch log directly,
    * same ε guarantee as the quantile direction. */
  def kllRanks(sketch: org.apache.spark.sql.Column,
               values: Seq[Double]): org.apache.spark.sql.Column =
    NativeFunctions.kllRanksNative(sketch, values)

  /**
   * Per-group MERGEABLE theta sketches — the SET-OPERATION member of
   * the persisted-sketch-log family (HLL unions but cannot
   * intersect; train/eval contamination at 100 TB asks "how many
   * keys are in BOTH corpora", i.e. sketch intersection). Backed by
   * [[graft.plans.ThetaSketchAgg]] over `org.apache.datasketches
   * .theta` (same classpath library as KLL). Persist one ≤(2^lgK·8B)
   * row per (corpus, day, shard); [[thetaUnionSketch]] /
   * [[thetaSetOp]] / [[thetaEstimate]] answer any union /
   * intersection / difference cardinality over any subset without
   * re-reading data. EXACT while distinct keys ≤ 2^lgK (theta == 1);
   * past that, relative std error ≈ 1/sqrt(2^lgK) with
   * lower/upper bounds that propagate through set ops. Fixed default
   * hash seed → estimates are deterministic functions of the data.
   */
  def thetaSketches(df: DataFrame, keyCol: String, groupCol: String,
                    lgK: Int = 12): DataFrame = {
    df.where(col(keyCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(NativeFunctions.thetaAggNative(col(keyCol), lgK).as("theta"))
  }

  /** Union a theta sketch column (any subset of a persisted sketch
    * log) into ONE merged sketch binary — the read-time combiner.
    * Pass the lgK the logs were built with. */
  def thetaUnionSketch(sketches: DataFrame, sketchCol: String = "theta",
                       lgK: Int = 12): DataFrame = {
    sketches.agg(
      NativeFunctions.thetaUnionNative(col(sketchCol), lgK).as("theta"))
  }

  /** Set operation over two theta sketch binary columns → the result
    * sketch binary (op ∈ intersect/anotb/union) — composable with
    * [[thetaEstimate]] and further set ops. */
  def thetaSetOp(a: org.apache.spark.sql.Column,
                 b: org.apache.spark.sql.Column,
                 op: String): org.apache.spark.sql.Column =
    NativeFunctions.thetaSetOpNative(a, b, op)

  /** Probe a theta sketch binary → array(lower, estimate, upper) at
    * `numStdDev` std-devs; in exact mode all three equal the true
    * distinct count. */
  def thetaEstimate(sketch: org.apache.spark.sql.Column,
                    numStdDev: Int = 3): org.apache.spark.sql.Column =
    NativeFunctions.thetaEstimateNative(sketch, numStdDev)

  /**
   * Point estimates for every row of `keys` against ONE sketch of
   * `df`'s `itemCol`: the keys frame gains an `est` column. The
   * sketch is collected to the driver (one row of
   * ⌈e/eps⌉·depth·8 bytes — ~100 KB at eps 0.001, the bounded
   * centroid-table collect class) and ships as a plan LITERAL, so it
   * crosses to each task exactly once and deserializes once per task
   * ([[graft.plans.CmsEstimateExpr]] memoizes on reference identity).
   * NOT a broadcast join: a joined binary column is copied into
   * every output row — ~100 KB × |keys| of pure row-copy (measured
   * 8.1 s for 20k keys at sf0.1; the literal form is 0.4 s).
   * Key and item columns must share a type (bigint or string):
   * estimates are bit-exact against what the builder added.
   */
  def cmsEstimates(df: DataFrame, itemCol: String,
                   keys: DataFrame, keyCol: String,
                   eps: Double = 0.001, confidence: Double = 0.99,
                   seed: Int = 42): DataFrame = {
    val bytes = cmsSketch(df, itemCol, eps, confidence, seed)
      .head().getAs[Array[Byte]]("cms")
    keys.withColumn("est",
      NativeFunctions.cmsEstimateNative(lit(bytes), col(keyCol)))
  }
}
