package graft

import scala.util.Try
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftFooterSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * The engine: `SELECT dims, AGG(measures) FROM parquet(path) WHERE filters
 * GROUP BY dims` — the full query surface of the reference's
 * `aggregate_pq(...)` (`parquery/aggregate.py:72-83`), re-expressed as a
 * declarative Spark plan.
 *
 * Execution maps 1:1 onto what the reference hand-rolls
 * (SURVEY.md §3.2/§4):
 *  - column pruning / projection pushdown: Catalyst `ColumnPruning` — only
 *    requested columns reach the Parquet reader
 *    (vs `parquery/aggregate_pyarrow.py:119-130`);
 *  - predicate pushdown: filters reach `FileSourceScanExec.pushedFilters`,
 *    skipping row groups via footer stats
 *    (vs `parquery/aggregate_pyarrow.py:148-151`);
 *  - partial→final aggregation: `HashAggregateExec(partial)` → shuffle →
 *    `HashAggregateExec(final)`, planned automatically for *all* ops
 *    (vs the reference's `SAFE_PREAGGREGATE` subset, `parquery/tool.py:37`);
 *  - the shuffle between partial and final is the distributed
 *    generalization of `pa.concat_tables` (`aggregate_pyarrow.py:260`);
 *  - a small input — listed leaf bytes at most Spark's file-open cost
 *    estimate, `spark.sql.files.openCostInBytes` (4 MB) — is aggregated
 *    in one task instead: `coalesce(1)` before the aggregation gives a
 *    single-partition child, so partial and final run in that task with
 *    no shuffle, and the call runs as one Spark job; a second after it
 *    keeps the caller's column order out of the aggregate's generated
 *    class.
 *
 * The schema-drift front-end (M1–M6, SURVEY.md §2.9) is deliberately
 * app-level DataFrame code *above* the planner, not a Catalyst rule: it
 * changes the query based on a file's actual footer schema, which is I/O,
 * not plan algebra. These behaviors are contractual in the reference
 * (old files lag new schemas in production, `RELEASE_NOTES.md:102`):
 *  - M1 missing file → empty result (`parquery/aggregate.py:154-159`);
 *  - M2 all requested columns missing → empty (`aggregate.py:161-170`);
 *  - M3 some columns missing → query the rest, patch defaults: missing
 *    dim → `standardMissingId`, missing measure → 0.0
 *    (`aggregate.py:176-181`, `parquery/tool.py:240-301`);
 *  - M4 filter on missing column → empty result (`parquery/tool.py:145-178`);
 *  - M5/M6 empty file / fully filtered → empty, correct schema (free).
 *
 * At cluster scale `path` may be a glob/directory of many files; Spark
 * assigns one task per split, which is the distributed version of the
 * reference's one-file-per-Lambda-call model (`README.md:4`).
 */
object AggregateEngine {

  /** Valid values for the API-parity `engine` parameter (§2.11/E1). */
  private val validEngines = Set("auto", "duckdb", "pyarrow", "spark")

  /**
   * @param fileName   parquet file / directory / glob
   * @param groupbyCols dimension columns (empty → global aggregate)
   * @param measureCols raw measure specs, normalized per
   *                    `parquery/tool.py:181-204` — see [[Measure.normalize]]
   * @param dataFilter  ANDed predicates
   * @param aggregate   false → return filtered raw rows, columns sorted by
   *                    name (`parquery/aggregate_duckdb.py:337-341`)
   * @param standardMissingId default value for a requested dim absent from
   *                    the file (`parquery/aggregate.py:79`, default −1)
   * @param handleMissingFile true (default) → missing path yields an empty
   *                    result; false → throw (`parquery/aggregate.py:154-159`)
   */
  def aggregatePq(
      spark: SparkSession,
      fileName: String,
      groupbyCols: Seq[String],
      measureCols: Seq[Seq[String]],
      dataFilter: Seq[Filter] = Nil,
      aggregate: Boolean = true,
      standardMissingId: Long = -1L,
      handleMissingFile: Boolean = true,
      countNaDuckdbCompat: Boolean = false,
      engine: String = "auto"): DataFrame =
    aggregatePqShards(spark, Seq(fileName), groupbyCols, measureCols,
      dataFilter, aggregate, standardMissingId, handleMissingFile,
      countNaDuckdbCompat, engine)

  /**
   * Multi-shard aggregation: the reference's callers loop over "hundreds
   * of files" one `aggregate_pq` call each and re-combine results through
   * the transport layer (`README.md:4,10`, SURVEY.md §3.3). Here the
   * shard list becomes ONE distributed scan — each file split is a task,
   * partial aggregation happens per split, and the single shuffle
   * replaces all the per-shard result plumbing; a shard list of at most
   * `spark.sql.files.openCostInBytes` is aggregated in one task with no
   * shuffle. Missing shards are skipped (the M1 rule per shard) when
   * `handleMissingFile`.
   *
   * Cross-shard schema drift (shards written under different schema
   * versions): the footers of all listed shard files are read and
   * merged on the driver, as `mergeSchema` merges them, so a
   * requested column present in ANY shard is seen — the probe never
   * depends on which file Spark happens to read first. Cells for a
   * column absent from a PARTICULAR shard are null there, with SQL
   * semantics downstream: sum/mean/min/max/count skip them, `count_na`
   * counts them. This is a documented divergence from the reference's
   * per-file loop, which patches each file's result with defaults
   * (missing dim → standardMissingId, missing measure → 0.0,
   * `parquery/tool.py:240-301`): per-file default patching cannot
   * compose through a single distributed aggregation (a shard-level
   * `mean`/`std` of patched zeros is not recoverable after the
   * combine), and null-skipping is the semantic a SQL engine user
   * expects of ragged shards. Columns missing from EVERY shard still
   * get the reference's M3 defaults via the patch below.
   *
   * Publish contract: the returned DataFrame reads the shard files as
   * they were listed when it was built. A shard rewritten in place (same
   * file name) between this call and the DataFrame's execution is read
   * at its planned length — Spark's split covers [0, listed length) and
   * skips row groups whose midpoint lies past it — so a file that grew
   * loses the rows past that length, with no error. Publish a new
   * version under a new file name, as [[graft.sources.Writer]] does, or
   * call again after the publish. A listed file deleted before this call
   * reads its footer (an overwrite deletes the shard before writing it
   * again) fails the call with a `FileNotFoundException` naming it.
   */
  def aggregatePqShards(
      spark: SparkSession,
      fileNames: Seq[String],
      groupbyCols: Seq[String],
      measureCols: Seq[Seq[String]],
      dataFilter: Seq[Filter] = Nil,
      aggregate: Boolean = true,
      standardMissingId: Long = -1L,
      handleMissingFile: Boolean = true,
      countNaDuckdbCompat: Boolean = false,
      engine: String = "auto"): DataFrame = {

    // E1 API parity (`parquery/aggregate.py:31-69`): validate the engine
    // string exactly; execution is always Spark (single-engine build).
    if (!validEngines.contains(engine))
      throw new IllegalArgumentException(
        s"Unknown engine '$engine'; valid: ${validEngines.toSeq.sorted.mkString(", ")}")

    val measures = Measure.normalize(measureCols)
    val resultCols: Seq[String] =
      if (aggregate) groupbyCols ++ measures.map(_.output)
      // no-agg path: column-name order is sorted lexicographically
      // (aggregate_duckdb.py:339)
      else (groupbyCols ++ measures.map(_.input)).distinct.sorted

    // ---- M1: missing file(s) ---------------------------------------------
    // one listing: the present/missing split, the footer read and the
    // input byte total all come from it; the error names the shards it
    // missed
    val conf = spark.sessionState.newHadoopConf()
    val listed = fileNames.map(p => p -> leafFiles(conf, p))
    val present = listed.collect { case (p, Some(_)) => p }
    val missing = listed.collect { case (p, None) => p }
    if (missing.nonEmpty && !handleMissingFile)
      throw new java.io.FileNotFoundException(missing.mkString(", "))
    if (present.isEmpty)
      return defaultEmpty(spark, groupbyCols, measures, aggregate, resultCols)
    val leaves = listed.flatMap(_._2).flatten.distinctBy(_.getPath)

    // ---- footer schema probe (parquery/tool.py:123-142) ------------------
    // One read builds both the probe schema and the scan below: the union
    // of every shard's footer (see scaladoc on cross-shard drift), read
    // and merged on the driver with no Spark job. Unreadable schema → "no
    // columns exist" → empty; a listed file gone before its footer read
    // is an error. Footers giving one column conflicting types are an
    // error, as in the reference's per-file loop (which fails at
    // `pa.concat_tables`).
    val loaded: Option[DataFrame] =
      try GraftFooterSchema.merged(spark, conf, leaves)
        .map(spark.read.schema(_).parquet(present: _*))
      catch {
        case e: Exception if isSchemaConflict(e) =>
          throw new IllegalArgumentException(
            s"shards with conflicting column types: ${present.mkString(", ")}",
            e)
        case e: Exception if fileGone(e).nonEmpty => throw fileGone(e).get
        case NonFatal(_) => None
      }
    val fileSchema: StructType =
      loaded.map(_.schema).getOrElse(new StructType())
    val existing = fileSchema.fieldNames.toSet

    // ---- M2: every requested data column missing -------------------------
    val requestedData = (groupbyCols ++ measures.map(_.input)).distinct
    if (!requestedData.exists(existing.contains))
      return defaultEmpty(spark, groupbyCols, measures, aggregate, resultCols)

    val existingDims = groupbyCols.filter(existing.contains)
    val existingMeasures = measures.filter(m => existing.contains(m.input))
    val missingDims = groupbyCols.filterNot(existing.contains)
    val missingMeasures = measures.filterNot(m => existing.contains(m.input))

    // ---- M4: filter on a missing column → empty (typed) ------------------
    // Implemented by running the *same* plan with a constant-false filter:
    // the result is empty but every column keeps its true file-derived type.
    val filterColMissing = dataFilter.exists(f => !existing.contains(f.column))

    // dims are read and grouped in one canonical order (by data type,
    // then name), so calls that list the same dims in another order share
    // every generated class below the one that writes the result row; the
    // final select restores the caller's order
    val keyDims = existingDims.sortBy(d =>
      (fileSchema(d).dataType.catalogString, d))

    val needed = (keyDims ++ existingMeasures.map(_.input) ++
      (if (filterColMissing) Nil else dataFilter.map(_.column))).distinct

    val base = loaded.get.select(needed.map(col): _*)
    val filtered =
      if (filterColMissing) base.where(lit(false))
      else Filters.compileAll(dataFilter).map(base.where).getOrElse(base)

    // An input Spark opens in less time than it scans (its own file-open
    // cost estimate) is aggregated in one task: a single-partition child
    // satisfies the final aggregate, so the plan has no Exchange and runs
    // as one job.
    val oneTask = leaves.map(_.getLen).sum <=
      spark.sessionState.conf.filesOpenCostInBytes
    val grouped = if (oneTask) filtered.coalesce(1) else filtered

    val core: DataFrame =
      if (!aggregate) {
        val keep = (existingDims ++ existingMeasures.map(_.input))
          .distinct.sorted
        filtered.select(keep.map(col): _*)
      } else if (existingMeasures.nonEmpty) {
        val aggExprs = Aggs.compileAll(existingMeasures, countNaDuckdbCompat)
        if (keyDims.nonEmpty)
          grouped.groupBy(keyDims.map(col): _*)
            .agg(aggExprs.head, aggExprs.tail: _*)
        else grouped.agg(aggExprs.head, aggExprs.tail: _*)
      } else {
        // dims exist but no measure column does: the elided query is
        // SELECT dims GROUP BY dims ≡ distinct dims
        grouped.select(keyDims.map(col): _*).distinct()
      }

    // In one task, a second coalesce(1) after the aggregate moves no data
    // but ends the aggregate's generated class: the select into the
    // caller's order below then compiles as a small class of its own,
    // shared by every call whose result columns have the same types in
    // the same order, and the aggregate's class is shared by every order
    val shaped = if (oneTask && aggregate) core.coalesce(1) else core

    // ---- M3: patch elided columns with defaults (tool.py:240-301) --------
    val withDims = missingDims.foldLeft(shaped)(
      (df, d) => df.withColumn(d, lit(standardMissingId)))
    val patched = missingMeasures.foldLeft(withDims)((df, m) =>
      df.withColumn(if (aggregate) m.output else m.input, lit(0.0)))

    patched.select(resultCols.map(col): _*)
  }

  /** Raw-rows convenience: `aggregate=False` path. */
  def selectPq(
      spark: SparkSession,
      fileName: String,
      columns: Seq[String],
      dataFilter: Seq[Filter] = Nil,
      handleMissingFile: Boolean = true): DataFrame =
    aggregatePq(spark, fileName, groupbyCols = Nil,
      measureCols = columns.map(c => Seq(c, "sum", c)),
      dataFilter = dataFilter, aggregate = false,
      handleMissingFile = handleMissingFile)

  private def causes(e: Throwable): Iterator[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)

  /** A type conflict between footers (`StructType.merge`, in
    * `GraftFooterSchema.merged`), anywhere in the cause chain. */
  private def isSchemaConflict(e: Throwable): Boolean =
    causes(e).exists {
      case s: org.apache.spark.SparkThrowable =>
        s.getCondition == "CANNOT_MERGE_INCOMPATIBLE_DATA_TYPE"
      case _ => false
    }

  /** A listed leaf deleted before its footer was read, anywhere in the
    * cause chain. Read as "no columns", it would give the typed empty
    * result and lose every other shard's rows too. */
  private def fileGone(e: Throwable): Option[java.io.FileNotFoundException] =
    causes(e).collectFirst { case f: java.io.FileNotFoundException => f }

  /** The leaf files of the path's glob matches, walked as Spark's file
    * index walks them: a matched directory is listed whatever its name,
    * every other `_`/`.` name is skipped. None when the path matches
    * nothing or cannot be globbed; a walk that fails gives no leaves
    * (the read below then fails, as it would have). */
  private[graft] def leafFiles(conf: Configuration,
                               p: String): Option[Seq[FileStatus]] = {
    val path = new Path(p)
    def visible(st: FileStatus) = !GraftFooterSchema.hidden(st.getPath.getName)
    Try {
      val fs = path.getFileSystem(conf)
      def walk(st: FileStatus): Seq[FileStatus] =
        if (st.isDirectory)
          fs.listStatus(st.getPath).toSeq.filter(visible).flatMap(walk)
        else Seq(st)
      Option(fs.globStatus(path)).filter(_.nonEmpty).map(matches =>
        Try(matches.toSeq.filter(m => m.isDirectory || visible(m))
          .flatMap(walk)).getOrElse(Nil))
    }.toOption.flatten
  }

  /**
   * Empty result when no file schema is available (M1/M2). The reference
   * returns null-typed Arrow columns (`parquery/tool.py:223-237`); we
   * return *typed* columns (SURVEY.md §7.3): dims → LongType (reference
   * contract: "dimension columns should contain numeric IDs",
   * `parquery/aggregate_pyarrow.py:94`), counting ops → LongType, other
   * measures → DoubleType.
   */
  private def defaultEmpty(
      spark: SparkSession,
      groupbyCols: Seq[String],
      measures: Seq[Measure],
      aggregate: Boolean,
      resultCols: Seq[String]): DataFrame = {
    val dimSet = groupbyCols.toSet
    val outType: Map[String, DataType] = measures.map { m =>
      val t: DataType = m.op match {
        case AggOp.Count | AggOp.CountNa | AggOp.CountDistinct |
             AggOp.SortedCountDistinct => LongType
        case _ => DoubleType
      }
      (if (aggregate) m.output else m.input) -> t
    }.toMap
    val fields = resultCols.map { c =>
      StructField(c,
        if (dimSet.contains(c)) LongType
        else outType.getOrElse(c, DoubleType),
        nullable = true)
    }
    spark.createDataFrame(new java.util.ArrayList[Row](),
      StructType(fields))
  }
}
