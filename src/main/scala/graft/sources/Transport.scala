package graft.sources

import java.util.Base64

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.arrow.GraftArrowStream

/**
 * Arrow IPC transport — the reference's result-shipping layer
 * (`parquery/transport.py:12-75`): serialize a result table to Arrow IPC
 * stream bytes (or base64 for text protocols like SQS/JSON), and back.
 *
 * In the reference's deployment this is how per-shard results travel
 * between Lambda workers — it externalizes the "shuffle" (SURVEY.md §3.3).
 * In Spark, intermediate data stays in the cluster; this utility exists for
 * API parity at the *edges*: handing a final (small, post-aggregation)
 * result to an external consumer. It is driver-side by design — do not use
 * it to move bulk data (that is what shuffle/parquet are for).
 *
 * The codec is Spark's own (`ArrowConverters`, `ArrowBatchStreamWriter`,
 * `ArrowUtils`, through [[GraftArrowStream]]): serializing collects the
 * plan's internal rows (no `Row` conversion) and writes them as one
 * record batch; deserializing reads every batch of the stream into a
 * local relation. Every type that codec carries ships — scalars,
 * decimals, dates, `timestamp` (stamped "UTC", the session zone
 * `GraftSession` sets) and `timestamp_ntz` (a zone-less Arrow
 * timestamp, as pyarrow writes naive datetimes), arrays, maps and
 * structs.
 *
 * Base64 adds ~33% size overhead vs binary (`parquery/transport.py:52`).
 */
object Transport {

  /** DataFrame → Arrow IPC stream bytes (`serialize_pa_table_bytes`). */
  def serializeArrowBytes(df: DataFrame): Array[Byte] =
    GraftArrowStream.write(df)

  /** Arrow IPC stream bytes → DataFrame (`deserialize_pa_table_bytes`). */
  def deserializeArrowBytes(spark: SparkSession,
                            bytes: Array[Byte]): DataFrame =
    GraftArrowStream.read(spark, bytes)

  /** Base64 variants (`serialize_pa_table_base64` / `..._deserialize`). */
  def serializeArrowBase64(df: DataFrame): String =
    Base64.getEncoder.encodeToString(serializeArrowBytes(df))

  def deserializeArrowBase64(spark: SparkSession, s: String): DataFrame =
    deserializeArrowBytes(spark, Base64.getDecoder.decode(s))
}
