package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Spark's own Parquet schema merge, run on the driver over listed leaf
  * files (`graft.AggregateEngine`'s shard lists): the footers are
  * read by the reader `mergeSchema` uses, each is converted with the
  * session's conversions (binary-as-string, INT96, nanos-as-long), and
  * they are merged in path order under the session's case sensitivity,
  * as that read merges them — so the schema equals a `mergeSchema`
  * read's without its Spark job. A type conflict is `StructType.merge`'s
  * CANNOT_MERGE_INCOMPATIBLE_DATA_TYPE. The footer reader, the merge and
  * the leaf-name filter are package-private, hence this package. */
object GraftFooterSchema {
  def merged(spark: SparkSession, conf: Configuration,
             leaves: Seq[FileStatus]): Option[StructType] = {
    val sqlConf = spark.sessionState.conf
    ParquetFileFormat.readParquetFootersInParallel(conf,
        leaves.sortBy(_.getPath.toString), sqlConf.ignoreCorruptFiles)
      .flatMap(footer => ParquetFileFormat.readSchema(Seq(footer), spark))
      .reduceOption(_.merge(_, sqlConf.caseSensitiveAnalysis))
  }

  /** Names a file listing skips: `_`/`.` names (not `_metadata`
    * summaries, not `_k=v` partition dirs) and `._COPYING_` files. */
  def hidden(name: String): Boolean =
    HadoopFSUtils.shouldFilterOutPathName(name)
}
