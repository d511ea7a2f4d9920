package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * External per-file statistics index — manifest-level pruning, the
 * Delta/Iceberg move, for plain parquet directories. Extension beyond
 * the reference surface (its reader opens every shard it is handed,
 * `parquery/aggregate.py:21-38`).
 *
 * Parquet footers already carry row-group min/max, and Spark skips row
 * groups with them — but only AFTER listing the directory and opening
 * every file's footer. At 100 TB that is ~10^6 files: the listing and
 * footer round-trips ARE the query latency for a selective read. An
 * external index inverts the cost: per-file (min, max, rows) collected
 * into ONE tiny parquet table at write time, so planning a selective
 * read touches one table instead of a million footers, and only
 * surviving files are ever opened (their footers then prune row groups
 * as usual — the two layers compose). Pairs with [[ZOrder]]: a
 * clustered layout is what makes per-file ranges TIGHT, the index is
 * what makes them CHEAP to consult.
 *
 * Pruning is conservative by construction: a file survives unless a
 * predicate's interval provably misses the file's [min, max]; files
 * with null stats (all-null column) always survive. The exact filter
 * still runs on the scanned rows, so pruning can never change a query
 * result — only the bytes read (the [[graft.operators.Skew
 * .bloomGatedJoin]] no-false-negatives discipline applied to files).
 */
object StatsIndex {

  /**
   * One distributed pass over `dataPath`: one index row per data file
   * with `(file, n_rows, min_<c>, max_<c> ...)` for each of `cols`.
   * `file` is the RELATIVE file name (basename), not the absolute
   * URI — the manifest stays valid when the dataset moves (storage
   * migration, staged-rename commits) and is resolved against the
   * caller's `dataPath` at read time. The index is files-count-sized —
   * KBs per thousand files — aggregated map-side like any groupBy
   * (the per-file grouping is partition-local by construction: a task
   * reads one file split).
   */
  def buildIndex(spark: SparkSession, dataPath: String,
                 cols: Seq[String],
                 bloomCols: Seq[String] = Nil,
                 bloomBits: Long = 1L << 16): DataFrame = {
    require(cols.nonEmpty, "buildIndex needs at least one column")
    requireFlat(spark, dataPath)
    buildIndexForFiles(spark, Seq(dataPath), cols, bloomCols, bloomBits)
  }

  /** Basename-relative resolution assumes a FLAT directory; a
    * hive-partitioned layout (`date=.../part-*.parquet`) would record
    * basenames that no longer resolve against `dataPath`. Checked
    * loudly at build time, not discovered at first pruned read.
    * Partitioned layouts: index each leaf directory separately (their
    * partition values are already pruned by Spark's own
    * PartitionFilters — the manifest's job is the file level BELOW
    * that). */
  private def requireFlat(spark: SparkSession, dataPath: String): Unit = {
    val hPath = new org.apache.hadoop.fs.Path(dataPath)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(hPath)
    val nested = spark.read.parquet(dataPath).inputFiles
      .filter(f => new org.apache.hadoop.fs.Path(f).getParent != root)
    require(nested.isEmpty,
      s"StatsIndex needs a flat directory; found nested data files " +
        s"under $dataPath (e.g. ${nested.head}) — index leaf " +
        "directories separately")
  }

  /** Build and persist the index beside the data (one small parquet
    * table; overwrite = rebuild after a data rewrite). */
  def writeIndex(spark: SparkSession, dataPath: String,
                 indexPath: String, cols: Seq[String],
                 bloomCols: Seq[String] = Nil,
                 bloomBits: Long = 1L << 16): Unit =
    buildIndex(spark, dataPath, cols, bloomCols, bloomBits).coalesce(1)
      .write.mode("overwrite").parquet(indexPath)

  /**
   * Incremental maintenance: index ONLY the data files absent from
   * the existing manifest and return the union — an append-heavy
   * dataset (streaming ingestion, daily drops) never rescans indexed
   * history, the `incrementalMinhashAgainstIndex` discipline applied
   * to file stats. The already-indexed majority participates as its
   * manifest rows only; the new files are discovered by an
   * anti-semi-join of the directory listing's basenames against the
   * manifest (file-count-sized on both sides) and scanned once.
   * Rewritten-in-place files (same name, new content) are NOT
   * detected — parquet writers emit unique part file names, and a
   * rewrite that reuses names is a full rebuild (`writeIndex`).
   * Persist by overwriting the index path with the returned frame.
   *
   * ==Reader/writer concurrency (the S4 torn-read class)==
   * SINGLE WRITER: persisting via `mode("overwrite")` deletes the old
   * index before committing the new one, so two concurrent updaters
   * can interleave delete/commit and a reader racing the overwrite
   * can observe a missing or partially-listed index directory —
   * serialize index maintenance externally (one updater per index,
   * the ChunkIndex `append.lock` discipline). Readers racing that
   * window FAIL VISIBLY, never silently wrong: [[prunedRead]] reads
   * the manifest as parquet, and a deleted-or-uncommitted index
   * directory raises a read error (Spark's commit protocol never
   * exposes half-written part files as a SMALLER valid manifest —
   * the dangerous outcome, a torn manifest silently pruning away
   * live files, cannot occur). Retry after the overwrite commits, or
   * rebuild (`writeIndex`). Readers of the DATA directory are
   * unaffected — updateIndex never mutates data files.
   */
  def updateIndex(spark: SparkSession, dataPath: String,
                  index: DataFrame, cols: Seq[String],
                  bloomCols: Seq[String] = Nil,
                  bloomBits: Long = 1L << 16): DataFrame = {
    requireFlat(spark, dataPath)
    val known = index.select(col("file")).collect()
      .map(_.getString(0)).toSet
    val all = spark.read.parquet(dataPath).inputFiles
      .map(f => f.substring(f.lastIndexOf('/') + 1)).toSet
    val fresh = (all -- known).toSeq.sorted
    if (fresh.isEmpty) index
    else {
      val dir = dataPath.stripSuffix("/")
      val freshIdx = buildIndexForFiles(spark,
        fresh.map(f => s"$dir/$f"), cols, bloomCols, bloomBits)
      index.unionByName(freshIdx)
    }
  }

  private def buildIndexForFiles(spark: SparkSession,
                                 files: Seq[String], cols: Seq[String],
                                 bloomCols: Seq[String],
                                 bloomBits: Long): DataFrame = {
    val df = spark.read.parquet(files: _*)
    // the indexed type rides in the manifest so a point probe with a
    // wrongly-typed literal fails loudly (xxhash64 hashes by type — a
    // mis-typed probe would silently prune EVERY file)
    val aggs = cols.flatMap(c => Seq(
      min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))) ++
      bloomCols.flatMap(c => Seq(
        graft.plans.NativeFunctions.bloomAggNative(
          xxhash64(col(c)), bloomBits / 16, bloomBits).as(s"bloom_$c"),
        first(lit(df.schema(df.schema.fieldIndex(c))
          .dataType.simpleString)).as(s"btype_$c")))
    df.groupBy(regexp_extract(input_file_name(), "[^/]+$", 0).as("file"))
      .agg(count(lit(1)).as("n_rows"), aggs: _*)
  }

  /** Closed-interval predicate against an indexed column: rows with
    * `col ∈ [lo, hi]`. The building block callers compose (equality
    * on a range-indexed column = `Range(c, v, v)`). */
  final case class Range(column: String, lo: Any, hi: Any)

  /** Point-membership predicate against a BLOOM-indexed column
    * (`bloomCols` at build time): rows with `col = value`. Min/max
    * intervals barely prune equality on uncorrelated columns (every
    * file's range covers most values); the per-file sketch answers
    * "can this file contain value?" directly — the needle-in-haystack
    * lookup (one document by id in a 100 TB corpus) touches only the
    * sketch-positive files. The literal must carry the COLUMN's exact
    * type ([[graft.operators.Skew.bloomGatedJoin]]'s xxhash64
    * type-sensitivity). */
  final case class Point(column: String, value: Any)

  /** Relative names of the files that can hold rows matching every
    * predicate — intervals via `lo <= max_c AND hi >= min_c`, points
    * via a membership probe of the file's sketch; null stats (all-null
    * column, or a file absent from a partial rebuild) conservatively
    * survive. The returned list is index-sized at worst (the Spark
    * FileIndex / manifest-listing collect class — file COUNT, never
    * data). */
  def prunedFiles(index: DataFrame, preds: Seq[Range],
                  points: Seq[Point] = Nil): Seq[String] = {
    require(preds.nonEmpty || points.nonEmpty,
      "prunedFiles needs at least one predicate")
    if (points.nonEmpty) {
      // loud type guard: the manifest records each bloom column's
      // indexed type; a literal of another type hashes differently and
      // would silently prune every file (the bloomGatedJoin hazard)
      val btypes = index
        .select(points.map(p => first(col(s"btype_${p.column}"))
          .as(p.column)): _*)
        .collect()(0)
      points.zipWithIndex.foreach { case (p, i) =>
        val want = btypes.getString(i)
        val got = org.apache.spark.sql.catalyst.expressions
          .Literal(p.value).dataType.simpleString
        require(got == want,
          s"Point('${p.column}') literal is $got but the column was " +
            s"indexed as $want — pass a matching-typed literal")
      }
    }
    val survive = (preds.map { case Range(c, lo, hi) =>
      coalesce(lit(lo) <= col(s"max_$c") && lit(hi) >= col(s"min_$c"),
        lit(true))
    } ++ points.map { case Point(c, v) =>
      coalesce(graft.plans.NativeFunctions.bloomProbe(
        col(s"bloom_$c"), xxhash64(lit(v))), lit(true))
    }).reduce(_ && _)
    index.where(survive).select(col("file"))
      .collect().map(_.getString(0)).toSeq
  }

  /**
   * Read only the files that can hold rows matching the predicates,
   * THEN apply them exactly — result ≡ the full-directory filtered
   * read, bytes read ∝ surviving files. An empty survivor list reads
   * nothing (empty frame with the data's schema).
   */
  def prunedRead(spark: SparkSession, dataPath: String,
                 indexPath: String, preds: Seq[Range],
                 points: Seq[Point] = Nil): DataFrame = {
    val files = prunedFiles(spark.read.parquet(indexPath), preds, points)
    val exact = (preds.map(r =>
      col(r.column) >= lit(r.lo) && col(r.column) <= lit(r.hi)) ++
      points.map(p => col(p.column) === lit(p.value)))
      .reduce(_ && _)
    if (files.isEmpty) {
      // schema from ONE file named by the manifest — never a full
      // directory listing (the cost this class exists to avoid); an
      // empty manifest means an empty dataset, where the listing is
      // trivially cheap
      val sample = spark.read.parquet(indexPath)
        .select(col("file")).limit(1).collect()
      val schema =
        if (sample.isEmpty) spark.read.parquet(dataPath).schema
        else spark.read.parquet(
          s"$dataPath/${sample(0).getString(0)}").schema
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    } else spark.read.parquet(
      files.map(f => s"$dataPath/$f"): _*).where(exact)
  }
}
