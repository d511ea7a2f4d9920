package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Avro object-container ingestion — the schema'd binary hand-off
 * format beside JSONL/CSV/parquet in real data-engineering drops
 * (Kafka archive dumps, Sqoop/DB exports, event-log shards all ship
 * as `.avro` container files). Written against the public Avro 1.12
 * container spec via the avro-core library ALREADY on the Spark
 * classpath (`org.apache.avro.file.DataFileStream` + generic datum
 * reader — Spark itself ships the jars; the separate spark-avro
 * CONNECTOR is not present, which is exactly why this surface
 * exists).
 *
 * Shape — the [[Wat]] two-layer split, for the same reason:
 *
 *  1. **Record walk** ([[recordsJson]]): one task per shard
 *     (`binaryFile`, the [[Warc.responses]] geometry), each record
 *     surfaced as its JSON encoding (`GenericRecord.toString` is the
 *     avro library's own spec-defined JSON rendering — an encoder
 *     this repo did not write, so fixture round-trips anchor against
 *     the library, not against themselves). Corrupt shards
 *     quarantine per-FILE with the named error; per-shard record and
 *     byte caps stop a lying block header from OOMing a task.
 *  2. **Typing** : callers `from_json` the record column with their
 *     declared subtree — the [[Wat]]/[[Ipynb]] schema-on-read
 *     pattern, codegen'd, pruning unconsumed fields.
 *
 * Documented boundary: this is the GENERIC read (any schema, records
 * as JSON). A fixed-schema hot path wanting vectorized decode belongs
 * in a connector; at ingestion-time scale the cost is dominated by
 * the downstream text work, and the generic read keeps one code path
 * for every producer schema. Deflate-codec blocks are handled by the
 * library; unknown codecs (snappy is NOT on this classpath) err
 * NAMED per-file rather than crashing the job.
 *
 * The reference engine (parquery) reads parquet only — this is a
 * training-data-pipeline extension (SURVEY §8).
 */
object Avro {

  private def err(msg: String): Nothing =
    throw new IllegalArgumentException(s"AVRO: $msg")

  /** Caps per shard: records and total JSON bytes — a container
    * whose block headers lie about counts errs NAMED instead of
    * allocating past the quarantine. */
  private[graft] val MaxRecordsPerShard = 10_000_000
  private[graft] val MaxJsonBytesPerShard: Long = Pdf.MaxDecodedBytes.toLong

  private val headerSyncField = {
    val f = classOf[org.apache.avro.file.DataFileStream.Header]
      .getDeclaredField("sync")
    f.setAccessible(true)
    f
  }

  /** In-memory record walk: container bytes → (schema JSON, records
    * as the library's JSON rendering). Caps + named errors —
    * including TRUNCATION: the avro reader's `hasNext` swallows an
    * incomplete trailing block as clean EOF (probed: dropping even
    * ONE byte off a 1-block container reads as ZERO records, no
    * exception — silent data loss), so this walk additionally
    * requires the container to END with the header's 16-byte sync
    * marker, which every spec-valid container does (the header and
    * every block are sync-terminated). Documented boundary: a cut
    * that removes an exact whole block INCLUDING its sync leaves a
    * byte-valid shorter container and is indistinguishable without
    * an external length manifest. */
  private[graft] def recordsOf(bytes: Array[Byte]): (String, Seq[String]) = {
    val reader = try {
      new org.apache.avro.file.DataFileStream(
        new java.io.ByteArrayInputStream(bytes),
        new org.apache.avro.generic.GenericDatumReader[
          org.apache.avro.generic.GenericRecord]())
    } catch {
      case e: java.io.IOException =>
        err(s"not an Avro container: ${e.getMessage}")
    }
    try {
      val sync = headerSyncField.get(reader.getHeader)
        .asInstanceOf[Array[Byte]]
      if (bytes.length < 16 || !java.util.Arrays.equals(
          java.util.Arrays.copyOfRange(bytes, bytes.length - 16,
            bytes.length), sync))
        err("container does not end at a block sync marker " +
          "(truncated shard — the avro reader would silently drop " +
          "the incomplete block)")
      val out = Seq.newBuilder[String]
      var n = 0
      var jsonBytes = 0L
      while (reader.hasNext) {
        val rec = reader.next()
        n += 1
        if (n > MaxRecordsPerShard)
          err(s"shard exceeds $MaxRecordsPerShard records (lying block header?)")
        val js = rec.toString
        jsonBytes += js.length
        if (jsonBytes > MaxJsonBytesPerShard)
          err(s"shard JSON exceeds $MaxJsonBytesPerShard bytes")
        out += js
      }
      (reader.getSchema.toString, out.result())
    } catch {
      case e: org.apache.avro.AvroRuntimeException =>
        err(s"corrupt container: ${e.getMessage}")
      case e: java.io.IOException =>
        err(s"corrupt container: ${e.getMessage}")
    } finally reader.close()
  }

  /**
   * Every record of every `.avro` container under `pathGlob` as
   * `(path, schema_json, record_json, avro_error)` — one task per
   * shard, corrupt shards quarantined per-FILE with the named error
   * (one error row carrying the path). Callers type the records with
   * `from_json(record_json, <declared subtree>)`.
   */
  def recordsJson(spark: SparkSession, pathGlob: String): DataFrame = {
    import spark.implicits._
    Payload.perFile(spark, pathGlob) { (path, bytes) =>
      val (schema, recs) = recordsOf(bytes)
      recs.map(r => (path, schema, r, null: String))
    } { (path, error) => (path, null: String, null: String, error) }
      .toDF("path", "schema_json", "record_json", "avro_error")
  }

  // ---------------------------------------------------------------
  // fixture writer (the avro LIBRARY writes — external anchor)
  // ---------------------------------------------------------------

  /** An Avro container of `(id, title, body)` records under the
    * given codec (null/deflate), written by the avro library's own
    * `DataFileWriter`. */
  def buildContainer(rows: Seq[(Long, String, String)],
                     codec: String = "null"): Array[Byte] = {
    val schema = new org.apache.avro.Schema.Parser().parse(
      """{"type":"record","name":"doc","fields":[
        |{"name":"id","type":"long"},
        |{"name":"title","type":"string"},
        |{"name":"body","type":"string"}]}""".stripMargin)
    val out = new java.io.ByteArrayOutputStream()
    val w = new org.apache.avro.file.DataFileWriter(
      new org.apache.avro.generic.GenericDatumWriter[
        org.apache.avro.generic.GenericRecord](schema))
    w.setCodec(org.apache.avro.file.CodecFactory.fromString(codec))
    w.create(schema, out)
    rows.foreach { case (id, title, body) =>
      val r = new org.apache.avro.generic.GenericData.Record(schema)
      r.put("id", id)
      r.put("title", title)
      r.put("body", body)
      w.append(r)
    }
    w.close()
    out.toByteArray
  }
}
