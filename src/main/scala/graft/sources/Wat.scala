package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * WAT metadata ingestion — the third leg of the Common Crawl triple
 * (WARC raw + WAT metadata + WET text; [[Warc.responses]] and
 * [[Warc.wetDocuments]] are the other two). A WAT shard is a WARC
 * file whose records are `WARC-Type: metadata` with
 * `Content-Type: application/json`: per crawled page, a JSON envelope
 * describing the response — and crucially its `HTML-Metadata.Links`
 * array, which is how the web LINK GRAPH is built at 100 TB without
 * re-parsing any HTML. Written from the public WAT specification
 * (IIPC web archive metadata format; envelope path
 * `Envelope.Payload-Metadata.HTTP-Response-Metadata.HTML-Metadata`).
 *
 * Two layers, split exactly like the sibling formats:
 *
 *  1. **Record walk** ([[metadataJson]]): per-shard flatMap over
 *     [[Warc.records]] (gzip/zstd auto-sniffed, bounded memory per
 *     record, corrupt shards quarantined per-FILE with the named
 *     error) keeping metadata-type JSON records as raw strings.
 *  2. **Envelope parse** ([[links]]): `from_json` with a schema
 *     declaring ONLY the consumed subtree — Catalyst's JSON parser
 *     materializes just the schema'd fields, the JSON analog of
 *     parquet column pruning — then one `explode` over the links
 *     array. All codegen'd; the only shuffle is whatever the caller
 *     does with the edges. A record whose JSON is malformed or
 *     missing the subtree yields a null parse and drops here
 *     (documented: record-level corruption is already NAMED by
 *     layer 1; envelope-shape variance is data, not error — WAT
 *     carries request and warcinfo envelopes too, which have no
 *     HTML metadata and must drop silently).
 *
 * The edges feed [[graft.operators.Graph.pageRank]] and the crawl
 * frontier exactly as the HTML-parsed edges of
 * [[graft.functions.TextAnalysis.extractLinks]] do — same columns,
 * interchangeable sources. Scale shape: one task per shard
 * (`binaryFile`, the [[Warc.responses]] geometry and its 100 TB
 * arithmetic), fixed-width edge rows out.
 *
 * The reference engine (parquery) reads parquet only — this is a
 * training-data-pipeline extension (SURVEY §8).
 */
object Wat {

  /** The consumed subtree of the WAT envelope — declaring only this
    * is the JSON analog of parquet ReadSchema pruning. */
  val WatSchema: StructType = StructType(Seq(
    StructField("Envelope", StructType(Seq(
      StructField("Payload-Metadata", StructType(Seq(
        StructField("HTTP-Response-Metadata", StructType(Seq(
          StructField("HTML-Metadata", StructType(Seq(
            StructField("Head", StructType(Seq(
              StructField("Title", StringType)))),
            StructField("Links", ArrayType(StructType(Seq(
              StructField("path", StringType),
              StructField("url", StringType)))))))))))))))))))

  /**
   * Every metadata-type JSON record of every WAT shard under
   * `pathGlob` as `(path, target_uri, json, wat_error)` — corrupt
   * shards quarantine per-FILE with the named error.
   */
  def metadataJson(spark: SparkSession, pathGlob: String): DataFrame = {
    import spark.implicits._
    Payload.perFile(spark, pathGlob) { (path, bytes) =>
      Warc.records(new java.io.ByteArrayInputStream(bytes))
        .filter(r => r.warcType == "metadata" &&
          r.contentType.toLowerCase.startsWith("application/json"))
        .map(r => (path, r.targetUri,
          new String(r.payload, java.nio.charset.StandardCharsets.UTF_8),
          null: String))
        .toSeq
    } { (path, error) => (path, null: String, null: String, error) }
      .toDF("path", "target_uri", "json", "wat_error")
  }

  /** The envelope's links subtree as a column expression. */
  private def parsedEnvelope(json: Column): Column =
    from_json(json, WatSchema)
      .getField("Envelope").getField("Payload-Metadata")
      .getField("HTTP-Response-Metadata").getField("HTML-Metadata")

  /**
   * The link-graph edges of parsed WAT metadata: one row per link,
   * `(src_url, title, link_path, link_url)`. Input is
   * [[metadataJson]] output (or any frame with `target_uri` and
   * `json` columns); envelopes without HTML links (request/warcinfo
   * envelopes, non-HTML pages, malformed JSON) contribute no rows.
   */
  def links(metadata: DataFrame): DataFrame = {
    val html = parsedEnvelope(col("json"))
    metadata
      .where(col("wat_error").isNull)
      .select(col("target_uri").as("src_url"),
        html.getField("Head").getField("Title").as("title"),
        explode(html.getField("Links")).as("link"))
      .select(col("src_url"), col("title"),
        col("link").getField("path").as("link_path"),
        col("link").getField("url").as("link_url"))
  }

  /** One-call surface: shards → edges. */
  def links(spark: SparkSession, pathGlob: String): DataFrame =
    links(metadataJson(spark, pathGlob))

  // ---------------------------------------------------------------
  // fixture writer (independent spec-valid WAT builder)
  // ---------------------------------------------------------------

  private[graft] def jsonEscape(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 8)
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.toString
  }

  /**
   * Build a WAT shard: one `warcinfo` record (which the type filter
   * must walk over) plus one metadata record per page — each with a
   * spec-shaped envelope carrying extra siblings the schema must
   * prune past (`WARC-Header-Metadata`, `Container`) beside the
   * consumed `HTML-Metadata` subtree. `gzipped` emits one gzip
   * member per record (the standard layout).
   */
  def buildWat(pages: Seq[(String, String, Seq[(String, String)])],
               gzipped: Boolean = false): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def emit(record: Array[Byte]): Unit =
      if (gzipped) {
        val gz = new java.util.zip.GZIPOutputStream(out)
        gz.write(record); gz.close()
      } else out.write(record, 0, record.length)
    def rec(typ: String, uri: String, ct: String, body: String): Unit = {
      val b = body.getBytes("UTF-8")
      val head = (s"WARC/1.0\r\nWARC-Type: $typ\r\n" +
        (if (uri != null) s"WARC-Target-URI: $uri\r\n" else "") +
        s"WARC-Record-ID: <urn:uuid:wat-${b.length}>\r\n" +
        "WARC-Date: 2026-01-01T00:00:00Z\r\n" +
        s"Content-Type: $ct\r\nContent-Length: ${b.length}\r\n\r\n")
        .getBytes("ISO-8859-1")
      emit(head ++ b ++ "\r\n\r\n".getBytes("ISO-8859-1"))
    }
    rec("warcinfo", null, "application/warc-fields",
      "software: graft-wat-fixture\r\n")
    pages.foreach { case (uri, title, links) =>
      val linkJson = links.map { case (p, u) =>
        s"""{"path":"${jsonEscape(p)}","url":"${jsonEscape(u)}"}"""
      }.mkString("[", ",", "]")
      val envelope =
        s"""{"Container":{"Offset":"0","Filename":"fixture.warc.gz"},
           |"Envelope":{"Format":"WARC",
           |"WARC-Header-Metadata":{"WARC-Type":"response",
           |"WARC-Target-URI":"${jsonEscape(uri)}"},
           |"Payload-Metadata":{"Actual-Content-Type":"application/http",
           |"HTTP-Response-Metadata":{"Response-Message":{"Status":"200"},
           |"HTML-Metadata":{"Head":{"Title":"${jsonEscape(title)}"},
           |"Links":$linkJson}}}}}""".stripMargin.replace("\n", "")
      rec("metadata", uri, "application/json", envelope)
    }
    out.toByteArray
  }
}
