package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * CDXJ capture-index ingestion — the fourth leg of the Common Crawl
 * family ([[Warc]] raw, [[Wat]] metadata, WET text; the CDX index is
 * how you FETCH from the other three selectively). Each crawl ships
 * ~300 gzip index shards of line records
 *
 * {{{
 * com,example)/page 20260101123456 {"url":"…","mime":"…","status":
 *   "200","digest":"SHA1…","length":"1234","offset":"5678",
 *   "filename":"crawl-data/…/x.warc.gz"}
 * }}}
 *
 * (SURT key, 14-digit timestamp, JSON blob — the public pywb CDXJ
 * format). The 100 TB significance is the access pattern it unlocks:
 * instead of scanning every WARC shard, a pipeline joins its url/
 * digest selection against the index and fetches ONLY the matching
 * `(filename, offset, length)` byte ranges — the difference between
 * reading 100 TB and reading the 50 GB you actually want. This
 * module is that plan's builder:
 *
 *  - [[entries]]: index lines → typed capture rows. Pure codegen'd
 *    projections (one `split`, one schema'd `from_json`, `try_`
 *    casts — no UDF, no typed map); malformed lines quarantine
 *    per-ROW with `cdx_error` (named, counted — never dropped).
 *  - [[latestCaptures]]: the dedup policy view — one row per SURT
 *    key, newest capture wins (per-key window, keyed shuffle).
 *  - [[fetchPlan]]: selected captures → per-WARC-file fetch lists,
 *    offset-sorted (range coalescing is the fetcher's job; sorted
 *    input makes it a linear pass) with per-file row/byte totals for
 *    task sizing. One keyed shuffle on filename; the plan output is
 *    KB-per-file — the driver never sees record data.
 *
 * Scale shape: the gzip shards read one-task-per-file (the [[Warc]]
 * arithmetic: ~300 × ~1 GB per crawl); everything downstream is
 * keyed. The reference engine (parquery) reads parquet only — this
 * is a training-data-pipeline extension (SURVEY §8).
 */
object Cdx {

  /** The consumed subtree of the CDXJ blob — all strings in the wire
    * format (numbers arrive quoted); typing happens in [[entries]]
    * via try_cast so a stray "-" nulls instead of erroring the row. */
  private val BlobSchema = StructType(Seq(
    StructField("url", StringType), StructField("mime", StringType),
    StructField("status", StringType),
    StructField("digest", StringType),
    StructField("length", StringType),
    StructField("offset", StringType),
    StructField("filename", StringType)))

  /**
   * CDXJ lines under `pathGlob` as capture rows: `(surt, capture_ts,
   * url, mime, status, digest, length, offset, filename, cdx_error)`.
   * A line that is not `key ts {json}` (or whose timestamp/JSON is
   * malformed) yields nulls + the named `cdx_error`.
   */
  def entries(spark: SparkSession, pathGlob: String): DataFrame =
    parseLines(spark.read.textFile(pathGlob).toDF("value"))

  /** The parse core over any frame with a `value` line column —
    * [[entries]] is the file surface; streaming/test callers compose
    * this directly. */
  def parseLines(lines: DataFrame): DataFrame = {
    val parts = split(col("value"), " ", 3)
    val j = from_json(parts.getItem(2), BlobSchema)
    lines
      .where(trim(col("value")) =!= "")
      .select(
        parts.getItem(0).as("surt"),
        try_to_timestamp(parts.getItem(1),
          lit("yyyyMMddHHmmss")).as("capture_ts"),
        j.as("j"))
      .select(col("surt"), col("capture_ts"),
        col("j.url").as("url"), col("j.mime").as("mime"),
        expr("try_cast(j.status AS INT)").as("status"),
        col("j.digest").as("digest"),
        expr("try_cast(j.length AS BIGINT)").as("length"),
        expr("try_cast(j.offset AS BIGINT)").as("offset"),
        col("j.filename").as("filename"),
        when(col("capture_ts").isNull,
          lit("CDX: malformed timestamp field"))
          .when(col("j").isNull || col("j.filename").isNull,
            lit("CDX: malformed JSON blob"))
          .otherwise(lit(null).cast(StringType)).as("cdx_error"))
  }

  /**
   * One row per SURT key — the newest capture (ties broken by
   * offset desc then filename, deterministic). Input is [[entries]]
   * output; error rows are excluded (they have no key to dedup on).
   */
  def latestCaptures(entries: DataFrame): DataFrame =
    entries
      .where(col("cdx_error").isNull)
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("surt"))
          .orderBy(col("capture_ts").desc, col("offset").desc,
            col("filename"))))
      .where(col("__rn") === 1).drop("__rn")

  /**
   * Selected captures → the per-WARC-file fetch plan:
   * `(filename, n_records, total_bytes, ranges)` where `ranges` is
   * the offset-SORTED `array<struct<offset,length>>` — ready for a
   * linear coalescing fetcher. Documented boundary: rows without a
   * usable range (error rows, null offset/length) are excluded here;
   * a caller wanting the drop count takes it from [[entries]]
   * directly (`cdx_error IS NOT NULL OR offset IS NULL`) — the plan
   * builder does not hide a second accounting surface.
   */
  def fetchPlan(captures: DataFrame): DataFrame =
    captures
      .where(col("cdx_error").isNull && col("offset").isNotNull &&
        col("length").isNotNull)
      .groupBy(col("filename"))
      .agg(count(lit(1)).as("n_records"),
        sum(col("length")).as("total_bytes"),
        sort_array(collect_list(struct(col("offset"), col("length"))))
          .as("ranges"))

  /**
   * The selective fetch itself: a [[fetchPlan]] frame → the indexed
   * records, read as POSITIONED RANGE READS (`FSDataInputStream
   * .readFully(position, …)` — a ranged GET on object-store
   * filesystems, a pread locally; the surrounding 100 TB of shard
   * bytes are never touched). One task per shard file, ranges
   * visited in offset order (the plan pre-sorts); each range is one
   * WARC record (its own gzip member in the standard layout —
   * [[Warc.records]] sniffs and inflates per slice). Output:
   * `(filename, offset, warc_type, target_uri, payload,
   * fetch_error)` with payload as BINARY (payload bytes are
   * arbitrary; text decode is caller policy). Quarantine per-RANGE
   * (a bad offset/length or corrupt member errs NAMED on its row;
   * the file's other ranges still fetch) and per-FILE (an unopenable
   * shard yields one named error row).
   *
   * Executor-side filesystem access uses a fresh Hadoop
   * `Configuration()` — scheme routing comes from the path URI;
   * deployments needing credentialed conf pass it through the
   * cluster's core-site, the standard posture.
   */
  def fetchRecords(plan: DataFrame, base: String): DataFrame = {
    val spark = plan.sparkSession
    import spark.implicits._
    plan.select(col("filename"),
      col("ranges.offset").as("offs"), col("ranges.length").as("lens"))
      .as[(String, Seq[Long], Seq[Long])]
      .flatMap { case (fn, offs, lens) =>
        val ranges = offs.zip(lens)
        val path = new org.apache.hadoop.fs.Path(base, fn)
        try {
          val fs = path.getFileSystem(
            new org.apache.hadoop.conf.Configuration())
          val in = fs.open(path)
          try {
            ranges.map { case (off, len) =>
              try {
                if (len <= 0 || len > Pdf.MaxDecodedBytes)
                  throw new IllegalArgumentException(
                    s"CDX: range length $len out of bounds")
                val buf = new Array[Byte](len.toInt)
                in.readFully(off, buf, 0, len.toInt)
                val it = Warc.records(
                  new java.io.ByteArrayInputStream(buf))
                if (!it.hasNext)
                  throw new IllegalArgumentException(
                    "CDX: no WARC record in range")
                val rec = it.next()
                (fn, off, rec.warcType, rec.targetUri, rec.payload,
                  null: String)
              } catch {
                case scala.util.control.NonFatal(e) =>
                  (fn, off, null: String, null: String,
                    null: Array[Byte], Payload.named(e))
              }
            }
          } finally in.close()
        } catch {
          case scala.util.control.NonFatal(e) =>
            Seq((fn, -1L, null: String, null: String,
              null: Array[Byte], s"shard: ${Payload.named(e)}"))
        }
      }
      .toDF("filename", "offset", "warc_type", "target_uri",
        "payload", "fetch_error")
  }

  // ---------------------------------------------------------------
  // fixture writer
  // ---------------------------------------------------------------

  /**
   * An INDEXED WARC shard — the CDX-side fixture twin: one gzip
   * member per record (warcinfo first, then one `resource` record
   * per page), returning the shard bytes AND the per-record
   * `(uri, offset, length)` index exactly as a real crawl's CDX
   * describes it. Java's gzip writes MTIME=0, so offsets are
   * deterministic.
   */
  def buildIndexedWarc(pages: Seq[(String, String)])
      : (Array[Byte], Seq[(String, Long, Long)]) = {
    val out = new java.io.ByteArrayOutputStream()
    val idx = Seq.newBuilder[(String, Long, Long)]
    def member(record: Array[Byte]): (Long, Long) = {
      val start = out.size().toLong
      val gz = new java.util.zip.GZIPOutputStream(out)
      gz.write(record); gz.close()
      (start, out.size().toLong - start)
    }
    def rec(typ: String, uri: String, ct: String,
            body: Array[Byte]): Array[Byte] = {
      val head = (s"WARC/1.0\r\nWARC-Type: $typ\r\n" +
        (if (uri != null) s"WARC-Target-URI: $uri\r\n" else "") +
        s"WARC-Record-ID: <urn:uuid:cdx-${body.length}>\r\n" +
        "WARC-Date: 2026-01-01T00:00:00Z\r\n" +
        s"Content-Type: $ct\r\nContent-Length: ${body.length}\r\n\r\n")
        .getBytes("ISO-8859-1")
      head ++ body ++ "\r\n\r\n".getBytes("ISO-8859-1")
    }
    member(rec("warcinfo", null, "application/warc-fields",
      "software: graft-cdx-fixture\r\n".getBytes("ISO-8859-1")))
    pages.foreach { case (uri, html) =>
      val (o, l) = member(rec("resource", uri, "text/html",
        html.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      idx += ((uri, o, l))
    }
    (out.toByteArray, idx.result())
  }

  /** CDXJ lines for `(surt, ts14, url, status, digest, length,
    * offset, filename)` captures — JSON escaping via the shared
    * [[Wat.jsonEscape]]. */
  def buildCdx(rows: Seq[(String, String, String, Int, String, Long,
      Long, String)]): String =
    rows.map { case (surt, ts, url, status, digest, len, off, fn) =>
      s"""$surt $ts {"url":"${Wat.jsonEscape(url)}",""" +
        s""""mime":"text/html","status":"$status",""" +
        s""""digest":"${Wat.jsonEscape(digest)}","length":"$len",""" +
        s""""offset":"$off","filename":"${Wat.jsonEscape(fn)}"}"""
    }.mkString("", "\n", "\n")
}
