package graft.sources

import java.io.FileNotFoundException

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.GraftLocalWrite
import org.apache.spark.sql.execution.datasources.parquet.GraftFooterSchema

import graft.AggregateEngine

/**
 * Parquet sink — the reference's `df_to_parquet` (`parquery/write.py:57-203`).
 *
 * The reference writes one file with ZSTD compression, deleting any
 * pre-existing target first (`write.py:52-53`), optionally slicing a
 * pandas frame into 100k-row chunks through a single `ParquetWriter` so one
 * file holds many row groups (`write.py:141-203`). In Spark the chunked
 * path is unnecessary: each task writes its partition independently, which
 * is both the parallel version of chunking and what a 1000-executor write
 * needs. Row-group sizing within a task's file is controlled by
 * `parquet.block.size`; file granularity by `maxRecordsPerFile`.
 *
 * One write shape runs on the driver, as the reference's does: a
 * single-file write (`singleFile`, no `partitionBy`, no
 * `maxRecordsPerFile`) of a DataFrame whose optimized plan is a local
 * relation — a deserialized Arrow batch, the same batch renamed by
 * `Naming`, a `Seq.toDF`. Its rows are already on the driver, so a Spark
 * job would only add scheduling, planning and commit set-up to a
 * milliseconds-long file write; [[GraftLocalWrite]] writes the file with
 * Spark's own Parquet writer instead, after the checks Spark's write
 * runs. The publish contract is the same on both paths: the directory
 * holds `part-00000-<uuid>-c000.zstd.parquet` and `_SUCCESS`, with the
 * same footer, a reader never lists a partial file, and an overwrite
 * publishes under a fresh file name. Every other write is Spark's.
 */
object Writer {

  /**
   * @param maxRecordsPerFile analog of the reference's `chunksize`
   *   (`write.py:61`, default 100k rows) but at file granularity; 0 = off.
   * @param singleFile true → coalesce to one output file (the reference's
   *   one-file-per-shard layout). Leave false at scale: a single writer
   *   task is a bottleneck; shard layout should come from partitioning.
   */
  def dfToParquet(df: DataFrame, path: String,
                  overwrite: Boolean = true,
                  maxRecordsPerFile: Long = 0L,
                  singleFile: Boolean = false,
                  partitionBy: Seq[String] = Nil,
                  bloomFilterCols: Seq[String] = Nil,
                  bloomFilterNdv: Map[String, Long] = Map.empty)
      : Unit = {
    val options = zstd ++ bloomOptions(df, bloomFilterCols, bloomFilterNdv)
    val local =
      if (singleFile && partitionBy.isEmpty && maxRecordsPerFile <= 0L)
        GraftLocalWrite.local(df)
      else None
    local match {
      case Some((schema, rows)) =>
        GraftLocalWrite.write(df.sparkSession, schema, rows.iterator, path,
          overwrite, options)
      case None =>
        var w = (if (singleFile) df.coalesce(1) else df).write
          .mode(if (overwrite) "overwrite" else "errorifexists")
          .options(options)
        if (maxRecordsPerFile > 0)
          w = w.option("maxRecordsPerFile", maxRecordsPerFile)
        if (partitionBy.nonEmpty)
          w = w.partitionBy(partitionBy: _*)
        w.parquet(path)
    }
  }

  private val zstd = Map("compression" -> "zstd")

  /**
   * NATIVE parquet bloom filters on the named columns (parquet-mr's
   * per-row-group sketches, read by Spark's parquet reader for
   * equality/IN pushdown): the row-group-level complement of
   * [[StatsIndex]]'s per-FILE sketches — point lookups on an
   * unclustered key skip row groups the min/max stats can't rule
   * out. WITHOUT sizing, parquet-mr allocates its MAXIMUM bitset
   * (~1 MB per column per row group — measured); so a caller-known
   * cardinality goes through `bloomFilterNdv`, and otherwise the
   * adaptive sizer (parquet-mr 1.13+) picks the bitset from the
   * observed NDV. Enable only on lookup keys.
   */
  private def bloomOptions(df: DataFrame, bloomFilterCols: Seq[String],
                           bloomFilterNdv: Map[String, Long])
      : Map[String, String] = {
    if (bloomFilterCols.isEmpty) return Map.empty
    // misspelled columns would be accepted-and-ignored by parquet-mr
    // (a file with NO sketch, silently); nested paths are the
    // documented carve-out from the top-level check
    bloomFilterCols.filterNot(_.contains(".")).foreach(c =>
      require(df.columns.contains(c),
        s"bloomFilterCols: no such column '$c' " +
          s"(have: ${df.columns.mkString(", ")})"))
    // an NDV entry for a column not being sketched (typo'd case,
    // stale map) would be accepted-and-ignored — the silent failure
    // the column check above exists to prevent
    require(bloomFilterNdv.keySet.subsetOf(bloomFilterCols.toSet),
      "bloomFilterNdv keys must be bloomFilterCols entries; extras: " +
        (bloomFilterNdv.keySet -- bloomFilterCols).mkString(", "))
    bloomFilterNdv.foreach { case (c, n) =>
      require(n > 0, s"bloomFilterNdv['$c'] must be positive, got $n")
    }
    Map("parquet.bloom.filter.adaptive.enabled" -> "true") ++
      bloomFilterCols.map(c => s"parquet.bloom.filter.enabled#$c" -> "true") ++
      bloomFilterNdv.map { case (c, n) =>
        s"parquet.bloom.filter.expected.ndv#$c" -> n.toString }
  }

  /**
   * Small-file compaction: rewrite a parquet dataset into files of
   * roughly `targetFileBytes`. Streaming sinks and per-shard publishers
   * (the reference's model — one file per `df_to_parquet` call) accrete
   * thousands of small files; at 100 TB that means task-per-tiny-file
   * scheduling overhead, footer-read storms, and poor scan locality.
   * Output file count = max(1, ceil(inputBytes / targetFileBytes)),
   * from the compressed bytes of the listed data files (the quantity
   * that matters for scan cost). One listing feeds that total and the
   * input schema, read from the footers on the driver and merged as a
   * `mergeSchema` read merges them (Hive `k=v` directories still read as
   * partition columns); one output file is written after `coalesce(1)`,
   * so the compaction runs as one job with no Exchange. A missing
   * `inDir` is a FileNotFoundException, one with no data file an
   * IllegalArgumentException. Writes to `outDir` — compact
   * into a fresh location and swap atomically at the catalog/manifest
   * layer; an in-place rewrite that crashes mid-way loses data.
   */
  def compact(spark: SparkSession, inDir: String, outDir: String,
              targetFileBytes: Long = 128L * 1024 * 1024): Unit = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val conf = spark.sessionState.newHadoopConf()
    val leaves = AggregateEngine.leafFiles(conf, inDir)
      .getOrElse(throw new FileNotFoundException(inDir))
    val schema = GraftFooterSchema.merged(spark, conf, leaves)
      .getOrElse(throw new IllegalArgumentException(
        s"compact: no parquet data file under $inDir"))
    val bytes = leaves.map(_.getLen).sum
    val nFiles = math.max(1L, (bytes + targetFileBytes - 1) /
      targetFileBytes).toInt
    val in = spark.read.schema(schema).parquet(inDir)
    dfToParquet(if (nFiles == 1) in.coalesce(1) else in.repartition(nFiles),
      outDir)
  }

  /**
   * Dynamic partition overwrite: rewrite ONLY the partitions present in
   * `df`, leaving sibling partitions untouched — the Spark-native form
   * of the reference's republish-a-shard model (a writer replaces one
   * shard file; readers see old-or-new, never a mix —
   * `parquery/README.md` concurrent-writer notes, SURVEY.md §2.1/S4).
   * Static overwrite (the default) would delete EVERY partition under
   * `path` first; dynamic scopes the delete to partitions being written,
   * which is what an incremental 100 TB pipeline needs.
   */
  def overwritePartitions(df: DataFrame, path: String,
                          partitionBy: Seq[String]): Unit = {
    require(partitionBy.nonEmpty,
      "overwritePartitions needs partition columns")
    // a per-write option, read before the session's
    // spark.sql.sources.partitionOverwriteMode: the session's settings
    // stay as they are for every other write on it
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .options(zstd)
      .partitionBy(partitionBy: _*)
      .parquet(path)
  }

  /**
   * Bucketed parquet table for shuffle-free co-located joins: both sides
   * bucketed by the join key with the same bucket count join without an
   * exchange (SortMergeJoin reads buckets pairwise). This is THE layout
   * lever for repeated large-fact joins at 100 TB — pay the shuffle once
   * at write time, never at query time. Requires a table (bucket metadata
   * lives in the catalog), hence `saveAsTable` rather than a bare path.
   */
  def dfToBucketedTable(df: DataFrame, table: String,
                        bucketCols: Seq[String], numBuckets: Int,
                        overwrite: Boolean = true): Unit = {
    require(bucketCols.nonEmpty)
    df.write
      .mode(if (overwrite) "overwrite" else "errorifexists")
      .options(zstd)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }
}
