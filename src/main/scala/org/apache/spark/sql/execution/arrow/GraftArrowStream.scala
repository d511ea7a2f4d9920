package org.apache.spark.sql.execution.arrow

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.{ClassicConversions, Dataset}
import org.apache.spark.sql.execution.SQLExecution

/** Spark's own Arrow codec for one IPC stream held on the driver
  * (`graft.sources.Transport`): the classes PySpark's `toPandas` and
  * Spark Connect use, so every type they carry round-trips here too.
  * Timestamps are stamped "UTC"; top-level column names go through as
  * they are, duplicates included, while duplicate field names inside a
  * struct are Spark's DUPLICATED_FIELD_NAME_IN_ARROW_STRUCT error rather
  * than silently renamed. `ArrowConverters` and
  * `ArrowBatchStreamWriter` are package-private, hence this package. */
object GraftArrowStream {
  private val Zone = "UTC"

  /** Write the schema, then collect `df` as `Dataset.collect` does,
    * without its `Row` deserializer, and write its rows as one record
    * batch (none for an empty result). A schema Arrow cannot carry
    * fails before any job runs. */
  def write(df: DataFrame): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val writer = new ArrowBatchStreamWriter(df.schema, out, Zone,
      errorOnDuplicatedFieldNames = true, largeVarTypes = false)
    val qe = df.queryExecution
    val rows = SQLExecution.withNewExecutionId(qe, Some("collect"))(
      qe.executedPlan.executeCollect())
    val batches = ArrowConverters.toBatchIterator(rows.iterator, df.schema,
      0L, Zone, errorOnDuplicatedFieldNames = true, largeVarTypes = false,
      null)
    try {
      writer.writeBatches(batches)
      writer.end()
    } finally batches.close()
    out.toByteArray
  }

  /** Every batch of an IPC stream as one local relation — the plan
    * `createDataFrame(java.util.List[Row], schema)` builds. */
  def read(spark: SparkSession, bytes: Array[Byte]): DataFrame = {
    val (rows, schema) = ArrowConverters.fromIPCStream(bytes)
    val copy = UnsafeProjection.create(schema)
    val data = try rows.map(copy(_).copy()).toVector finally rows.close()
    Dataset.ofRows(ClassicConversions.castToImpl(spark),
      LocalRelation(DataTypeUtils.toAttributes(schema), data))
  }
}
