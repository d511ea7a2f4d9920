package org.apache.spark.sql.execution.datasources

import java.util.{Date, UUID}

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.lib.output.FileOutputCommitter
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl

import org.apache.spark.internal.io.SparkHadoopWriterUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.classic.ClassicConversions
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.SchemaUtils

/** One Parquet file written on the driver from rows the driver already
  * holds (`graft.sources.Writer`'s single-file publish of a local
  * relation), with Spark's own Parquet writer: `prepareWrite` configures
  * it as a write job does and its `OutputWriterFactory` writes the file,
  * so the footer and the file name are the ones Spark's write gives —
  * without the job, its planning and its commit set-up. The checks
  * Spark's write runs come first, in its order and with its error
  * conditions. The file is written in a hidden `_temporary-<uuid>`
  * directory under the output path and renamed into place, then
  * `_SUCCESS` is written and cached plans over the path are refreshed,
  * as the write command does; a reader never lists a partial file.
  * No commit protocol runs, so a custom
  * `spark.sql.sources.commitProtocolClass` and Parquet summary files
  * (`parquet.summary.metadata.level`, off by default) do not apply here.
  * `DataSource`'s schema check and the write-path helpers are
  * package-private, hence this package. */
object GraftLocalWrite {

  /** The schema and rows of `df` when its optimized plan is a local
    * relation, i.e. its rows are already on the driver. */
  def local(df: DataFrame): Option[(StructType, Seq[InternalRow])] =
    df.queryExecution.optimizedPlan match {
      case r: LocalRelation if !r.isStreaming =>
        Some((DataTypeUtils.fromAttributes(r.output), r.data))
      case _ => None
    }

  /** Write `rows` as `path`'s one file, `part-00000-<uuid>-c000` plus the
    * codec's extension. `overwrite = false` on an existing path is
    * PATH_ALREADY_EXISTS; `overwrite = true` deletes it first, as
    * Spark's static overwrite does. `options` are the write's options,
    * as `DataFrameWriter.options` takes them. */
  def write(spark: SparkSession, schema: StructType,
            rows: Iterator[InternalRow], path: String, overwrite: Boolean,
            options: Map[String, String]): Unit = spark.withActive {
    val session = ClassicConversions.castToImpl(spark)
    val sqlConf = session.sessionState.conf
    val format = new ParquetFileFormat
    DataSource.validateSchema(format.toString, schema, sqlConf)
    SchemaUtils.checkColumnNameDuplication(schema.fieldNames.toSeq,
      sqlConf.caseSensitiveAnalysis)

    val hadoopConf = session.sessionState.newHadoopConfWithOptions(options)
    val out = new Path(path)
    val fs = out.getFileSystem(hadoopConf)
    val dir = out.makeQualified(fs.getUri, fs.getWorkingDirectory)
    if (fs.exists(dir)) {
      if (!overwrite)
        throw QueryCompilationErrors.outputPathAlreadyExistsError(dir)
      if (!fs.delete(dir, true))
        throw new java.io.IOException(s"Unable to clear output directory $dir")
    }
    DataSourceUtils.verifySchema(format, schema)
    DataSourceUtils.checkFieldNames(format, schema)

    val job = Job.getInstance(hadoopConf)
    val factory = format.prepareWrite(session, job,
      CaseInsensitiveMap(options), schema)

    // the context of a one-task write job's only task
    val conf = job.getConfiguration
    val context = new TaskAttemptContextImpl(conf, new TaskAttemptID(
      new TaskID(SparkHadoopWriterUtils.createJobID(new Date, 0),
        TaskType.MAP, 0), 0))
    val jobId = UUID.randomUUID().toString
    val name = s"part-00000-$jobId-c000" + factory.getFileExtension(context)
    val temp = new Path(dir, s"_temporary-$jobId")
    try {
      val file = new Path(temp, name)
      val writer = factory.newInstance(file.toString, schema, context)
      try rows.foreach(writer.write)
      catch {
        case e: Throwable =>
          try writer.close() catch { case c: Throwable => e.addSuppressed(c) }
          throw e
      }
      writer.close()
      if (!fs.rename(file, new Path(dir, name)))
        throw new java.io.IOException(s"Failed to rename $file into $dir")
    } finally fs.delete(temp, true)
    if (conf.getBoolean(FileOutputCommitter.SUCCESSFUL_JOB_OUTPUT_DIR_MARKER,
        true))
      fs.create(new Path(dir, FileOutputCommitter.SUCCEEDED_FILE_NAME), true)
        .close()
    session.sharedState.cacheManager.recacheByPath(session, dir, fs)
  }
}
