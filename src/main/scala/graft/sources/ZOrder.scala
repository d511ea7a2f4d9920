package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Z-order (Morton-curve) clustered layout — multi-column data skipping
 * for the parquet sink. Extension beyond the reference surface (its
 * writer emits one file per shard in arrival order,
 * `parquery/write.py:57-203`; the only skipping it enables is
 * whatever that order happens to give one column).
 *
 * Sorting a table by `(a, b)` clusters `a` tightly and `b` not at all:
 * row-group min/max ranges for `b` span the whole domain, so a filter
 * on `b` reads everything. Interleaving the BITS of both columns'
 * bucket ids (the Morton curve — public technique, used by
 * Delta/Iceberg `OPTIMIZE ZORDER BY`) makes row-group ranges tight in
 * EVERY keyed dimension at once: a rectangle filter prunes row groups
 * on all of them, turning a full scan into a few-percent scan. At
 * 100 TB this is THE read-amplification lever for multi-dimensional
 * slicing (time × tenant, orderkey × partkey): pay one range shuffle
 * at write time, skip at every query after.
 *
 * Bucketization is linear min/max scaling by default — one aggregation
 * pass, two doubles per column to the driver (the documented
 * bounded-collect class) — with a skew-robust `"quantile"` mode (rank
 * bucketization over `approxQuantile` cut points) for heavy-hitter
 * distributions; see [[withZKey]]. The interleave and write path are
 * identical in both modes.
 */
object ZOrder {

  /**
   * Morton bit-interleave of pre-bucketized long columns, each in
   * `[0, 2^bits)`: bit `j` of column `i` lands at output position
   * `j * n + i`, so all columns' low bits come before any column's
   * high bits — the property that makes the curve locality-preserving
   * in every dimension. Null buckets read as 0. Static expression
   * tree (`bits × n` shift/mask/or terms), fully codegen'd.
   */
  def interleaveBits(buckets: Seq[Column], bits: Int): Column = {
    val n = buckets.length
    require(n >= 1, "need at least one column to interleave")
    require(bits >= 1 && bits * n <= 63,
      s"bits * columns must fit a long: got $bits * $n")
    val safe = buckets.map(b => coalesce(b, lit(0L)))
    var key: Column = lit(0L)
    for (j <- 0 until bits; i <- 0 until n) {
      key = key.bitwiseOR(
        shiftleft(shiftright(safe(i), j).bitwiseAND(lit(1L)), j * n + i))
    }
    key
  }

  /**
   * Append a Morton key column computed from `cols` (numeric or
   * date/timestamp — anything castable to double): each column is
   * bucketized to `[0, 2^bits)`, then bit-interleaved. Nulls and
   * degenerate columns (min == max, or all null) land in bucket 0.
   *
   * Two bucketizers:
   *  - `"linear"` (default): min/max scaling from ONE aggregation
   *    pass. Cheapest, but skew-sensitive — a heavy-hitter value
   *    squeezes the rest of the domain into few buckets, and those
   *    buckets' row-group stats go wide.
   *  - `"quantile"`: rank bucketization over `approxQuantile` cut
   *    points (Greenwald–Khanna sketch, one pass, driver state
   *    2^bits doubles per column — the bounded-collect class). Every
   *    bucket holds ~equal ROW COUNT whatever the distribution, so
   *    file/row-group boundaries stay balanced under Zipfian keys —
   *    the right mode for tenant ids, counts, prices. Assignment is
   *    a binary search per row ([[graft.plans.BucketizeExpr]],
   *    codegen'd, boundaries as a reference object). Capped at
   *    `bits ≤ 16` (65535 cut points per column — already far past
   *    useful row-group resolution; larger would 2^bits the driver
   *    probe array and, past 30, silently overflow to zero probes).
   *    `relativeError < 0` (the default) auto-sizes the quantile
   *    sketch to half the probe spacing, `1 / 2^(bits+1)` — a FIXED
   *    error coarser than the spacing would collapse runs of adjacent
   *    cut points to one sketch sample and silently burn resolution.
   */
  def withZKey(df: DataFrame, cols: Seq[String], bits: Int = 12,
               keyCol: String = "__zkey",
               bucketize: String = "linear",
               relativeError: Double = -1.0): DataFrame = {
    require(cols.nonEmpty, "need at least one z-order column")
    require(bits >= 1 && bits * cols.length <= 63,
      s"bits * columns must fit a long: got $bits * ${cols.length}")
    require(bucketize == "linear" || bucketize == "quantile",
      s"bucketize must be linear or quantile, got $bucketize")
    require(bucketize == "linear" || bits <= 16,
      s"quantile bucketization caps bits at 16, got $bits")
    val top = (1L << bits) - 1
    val buckets = if (bucketize == "linear") {
      val aggs = cols.flatMap(c => Seq(
        min(col(c).cast("double")).as(s"__mn_$c"),
        max(col(c).cast("double")).as(s"__mx_$c")))
      val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
      cols.zipWithIndex.map { case (c, i) =>
        val mn = if (row.isNullAt(2 * i)) 0.0 else row.getDouble(2 * i)
        val mx = if (row.isNullAt(2 * i + 1)) 0.0 else row.getDouble(2 * i + 1)
        val span = mx - mn
        if (span <= 0) lit(0L)
        else least(lit(top), greatest(lit(0L),
          ((col(c).cast("double") - lit(mn)) / lit(span) * top)
            .cast("long")))
      }
    } else {
      val projected = df.select(cols.zipWithIndex.map { case (c, i) =>
        col(c).cast("double").as(s"__q_$i")
      }: _*)
      val probes = (1 until (1 << bits)).map(_.toDouble / (1 << bits))
      val err =
        if (relativeError >= 0) relativeError
        else 1.0 / (1L << (bits + 1)).toDouble
      val cuts = projected.stat.approxQuantile(
        cols.indices.map(i => s"__q_$i").toArray,
        probes.toArray, err)
      cols.zipWithIndex.map { case (c, i) =>
        // distinct: approxQuantile repeats a cut at heavy-hitter
        // values; duplicates would burn bucket ids on one value
        val b = cuts(i).distinct.sorted.toSeq
        if (b.isEmpty) lit(0L) // all-null column
        else graft.plans.NativeFunctions.bucketizeNative(col(c), b)
      }
    }
    df.withColumn(keyCol, interleaveBits(buckets, bits))
  }

  /**
   * Write `df` to parquet clustered along the Morton curve of `cols`:
   * range-repartition on the key (sampled boundaries → even file
   * sizes), sort within each partition, drop the key, write via
   * [[Writer.dfToParquet]] (zstd). `maxRecordsPerFile` additionally
   * caps file size; row-group granularity inside each file follows
   * `parquet.block.size` as usual — both the file and row-group stats
   * end up tight in every keyed dimension, which is what the reader's
   * predicate pushdown prunes on.
   */
  def writeZOrdered(df: DataFrame, path: String, cols: Seq[String],
                    bits: Int = 12, numFiles: Int = 0,
                    maxRecordsPerFile: Long = 0L,
                    bucketize: String = "linear"): Unit = {
    val keyed = withZKey(df, cols, bits, bucketize = bucketize)
    val ranged =
      if (numFiles > 0) keyed.repartitionByRange(numFiles, col("__zkey"))
      else keyed.repartitionByRange(col("__zkey"))
    Writer.dfToParquet(
      ranged.sortWithinPartitions("__zkey").drop("__zkey"),
      path, maxRecordsPerFile = maxRecordsPerFile)
  }
}
