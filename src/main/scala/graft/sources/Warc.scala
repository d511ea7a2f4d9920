package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * WARC/WET ingestion — the format web crawls actually arrive in
 * (ISO 28500, public; Common Crawl ships text extracts as WET, a WARC
 * profile whose `conversion` records carry plain-text payloads).
 * Extension beyond the reference surface (parquet-only,
 * `parquery/aggregate_pq.py`): a crawl pipeline's FIRST step is
 * WET → typed rows, and doing it inside the engine keeps the
 * record-splitting distributed instead of a preprocessing fleet.
 *
 * Two layers, so the parse logic is driver-gate testable:
 *  - [[readWetRecords]]: FILE layer — `spark.read.text` with the
 *    record SEPARATOR (blank line + version line, e.g.
 *    `\r\n\r\nWARC/1.0\r\n`) as a custom delimiter. Hadoop's line
 *    reader handles delimiters straddling input splits, so a 1 GiB
 *    WET file fans out across tasks with no pre-splitting pass — the
 *    100 TB-correct shape (record-at-split-boundary is the classic
 *    hand-rolled-reader bug). The WARC version is a parameter
 *    (`WARC/1.0` default; pass `WARC/1.1` for ISO 28500:2017
 *    archives — a wrong version would otherwise collapse a whole
 *    file into one record).
 *  - [[parseWet]] / [[wetHeader]] / [[wetPayload]]: COLUMN layer —
 *    pure codegen'd regexp extraction of the header fields + payload
 *    from one record string.
 *
 * Records that lack a parseable header block yield null fields rather
 * than failing the scan — crawl archives contain truncated/corrupt
 * records and an ingest must skim past them (filter on
 * `url IS NOT NULL`).
 *
 * Documented boundary of delimiter-scan splitting: a payload that
 * itself contains a blank line immediately followed by a version
 * line (i.e. quotes a WARC file verbatim) still splits there — the
 * spurious fragment parses to null fields and is dropped, but the
 * quoting record's text is truncated at the quote. Strict
 * `Content-Length` framing cannot false-split but cannot byte-range
 * parallelize either (records must be walked sequentially from the
 * file head); this reader takes the distributed side of that trade,
 * as splittable-WARC readers generally do.
 */
object Warc {

  /** Record separator inside an archive: the record terminator (blank
    * line) followed by the next record's version line. Requiring the
    * preceding blank line keeps a bare in-payload `WARC/1.0` LINE
    * from splitting a record (only a full blank-line + version
    * sequence can — see the object scaladoc). */
  def recordSeparator(version: String): String =
    "\r\n\r\n" + version + "\r\n"

  /**
   * Raw WET records from `path` (file, directory, or glob): one row
   * per record in column `record`, each carrying its version line
   * (the first record keeps its own; later ones get the separator's
   * consumed copy conceptually — parsing never depends on it).
   * Whitespace-only fragments are dropped. Uses the text source's
   * `lineSep`, so records split correctly across Hadoop input splits
   * and the scan parallelizes by byte range like any text read.
   */
  def readWetRecords(spark: SparkSession, path: String,
                     version: String = "WARC/1.0"): DataFrame =
    spark.read.option("lineSep", recordSeparator(version)).text(path)
      .select(col("value").as("record"))
      .where(length(trim(col("record"))) > 0)

  /** Header block of a record (everything before the first blank
    * line), non-greedy so a blank line inside the payload cannot
    * extend it. */
  private def headerBlock(rec: Column): Column =
    regexp_extract(rec, "(?s)^(.*?)\\r?\\n\\r?\\n", 1)

  /** One named WARC header value out of a record's header block
    * (case-exact per the WARC spec's canonical spelling; values run
    * to end-of-line). Anchored to line START, so a hostile header
    * VALUE containing another header's name (e.g. a URI with
    * `Content-Length:` in its query string) cannot win the
    * extraction. Empty string when absent. */
  def wetHeader(rec: Column, name: String): Column =
    regexp_extract(headerBlock(rec),
      "(?m)^" + name + ":\\s*([^\\r\\n]*)", 1)

  /** Payload of a record: everything after the first blank line, with
    * exactly ONE trailing blank-line record terminator stripped when
    * present (the file's last record keeps its terminator; earlier
    * records lost theirs to the separator). Content newlines are
    * PRESERVED — stripping all trailing newlines would silently alter
    * document bytes ahead of exact-dedup hashing. */
  def wetPayload(rec: Column): Column =
    regexp_replace(
      regexp_extract(rec, "(?s)\\r?\\n\\r?\\n(.*)$", 1),
      // \z (absolute end), NOT $: Java's default-mode $ also matches
      // BEFORE a final line terminator, which would let the strip eat
      // a genuine content newline ahead of the terminator
      "\\r?\\n\\r?\\n\\z", "")

  /**
   * Typed fields from one WET `conversion` record:
   * `(url, warc_date, content_length, text)`. Missing headers give
   * empty strings / null length — filter, don't throw, on corrupt
   * records. All codegen'd regexp projections, zero shuffle.
   */
  def parseWet(records: DataFrame,
               recordCol: String = "record"): DataFrame = {
    val rec = col(recordCol)
    records.select(
      nullif(wetHeader(rec, "WARC-Target-URI"), lit("")).as("url"),
      nullif(wetHeader(rec, "WARC-Date"), lit("")).as("warc_date"),
      nullif(wetHeader(rec, "Content-Length"), lit(""))
        .cast("long").as("content_length"),
      wetPayload(rec).as("text"))
  }

  /** File path → parsed WET documents in one call: the ingestion
    * entry point (`readWetRecords` ∘ `parseWet`), corrupt records
    * surfaced as null-url rows. */
  def wetDocuments(spark: SparkSession, path: String,
                   version: String = "WARC/1.0"): DataFrame =
    parseWet(readWetRecords(spark, path, version))

  /** Streaming twin of [[readWetRecords]]: WET archives landing in
    * `dir` become micro-batches of records — the crawl-drop ingestion
    * shape (each new Common Crawl segment file is picked up once,
    * tracked by the stream's file index). */
  def wetRecordStream(spark: SparkSession, dir: String,
                      version: String = "WARC/1.0"): DataFrame =
    spark.readStream.option("lineSep", recordSeparator(version))
      .text(dir)
      .select(col("value").as("record"))
      .where(length(trim(col("record"))) > 0)

  /**
   * End-to-end streaming crawl ingestion: WET archives → parsed docs
   * (corrupt records dropped) → exact-dedup append into `corpusDir`,
   * composed from [[parseWet]] and [[graft.streaming.IngestPipeline
   * .dedupIngest]] — the URL is the document id, so re-crawled
   * identical pages and replayed micro-batches both dedup away
   * (idempotent by the ingest pipeline's contract). Swap in
   * `nearDupIngest` for the Bloom + banded-MinHash admission when
   * near-copies must be rejected too — same composition.
   */
  def wetIngest(spark: SparkSession, wetDir: String, corpusDir: String,
                checkpointDir: String,
                version: String = "WARC/1.0",
                trigger: org.apache.spark.sql.streaming.Trigger =
                  org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.IngestPipeline.dedupIngest(
      parseWet(wetRecordStream(spark, wetDir, version))
        .where(col("url").isNotNull),
      "url", "text", corpusDir, checkpointDir, trigger)

  /** Render rows as spec-shaped WET `conversion` records — version
    * line included, `Content-Length` in OCTETS (the WARC spec's unit;
    * a character count would mis-frame any conformant reader on
    * multi-byte text), blank-line terminator appended, so
    * concatenated outputs form a valid archive that [[readWetRecords]]
    * splits back apart (the round trip WarcSpec pins). */
  def toWetRecord(url: Column, date: Column, text: Column,
                  version: String = "WARC/1.0"): Column =
    concat(
      lit(version + "\r\nWARC-Type: conversion\r\nWARC-Target-URI: "),
      url,
      lit("\r\nWARC-Date: "), date,
      lit("\r\nContent-Length: "), octet_length(text),
      lit("\r\n\r\n"), text, lit("\r\n\r\n"))

  // ---------------------------------------------------------------
  // Full WARC (response records): Content-Length framing, per-record
  // gzip members, HTTP split — the RAW-crawl layer beside the WET
  // text-extract layer above. WET rides the splittable delimiter
  // scan; full WARC cannot (binary payloads may contain any byte
  // sequence, and .warc.gz members need sequential reads), so its
  // Spark surface rides binaryFile — one task per shard, the
  // Manifest geometry; a 100 TB crawl is ~100k ~1 GB shards, one
  // task each. Per-record bodies cap at Pdf.MaxDecodedBytes (a lying
  // Content-Length must err NAMED, not OOM). Responses surface the
  // HTTP Content-Type beside raw payload bytes, feeding
  // Html.decodeHtmlBytes's transport-precedence charset sniff.
  // ---------------------------------------------------------------

  private def err(msg: String): Nothing =
    throw new IllegalArgumentException(s"WARC: $msg")

  /** One parsed record: WARC headers (original case-insensitive names
    * lower-cased), the raw body, and — for HTTP response records —
    * the split HTTP Content-Type and payload. */
  final case class Record(warcType: String, targetUri: String,
                          contentType: String,
                          httpContentType: String,
                          payload: Array[Byte])

  /** Gzip/zstd magic sniff ([[Zstd.sniffWrap]]): `.warc.gz` members
    * and whole-stream `.warc.zst` hand-offs both unwrap; plain bytes
    * pass through. */
  private def maybeGunzip(in: java.io.InputStream): java.io.InputStream =
    Zstd.sniffWrap(in)

  /** Read one CRLF- (or LF-) terminated header line; None at EOF.
    * Length-capped: a gzip bomb with no newline would otherwise
    * accumulate its whole decompressed stream into one line and OOM
    * past the per-shard quarantine (header lines are tiny in any
    * real archive). */
  private def readLine(in: java.io.InputStream): Option[String] = {
    val out = new java.io.ByteArrayOutputStream(80)
    var c = in.read()
    if (c < 0) return None
    while (c >= 0 && c != '\n') {
      if (c != '\r') {
        if (out.size() >= (1 << 20))
          err("header line exceeds 1 MiB (decompression bomb?)")
        out.write(c)
      }
      c = in.read()
    }
    Some(new String(out.toByteArray, "ISO-8859-1"))
  }

  private def readFully(in: java.io.InputStream, n: Int): Array[Byte] = {
    val out = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val k = in.read(out, off, n - off)
      if (k < 0) err(s"truncated record body (wanted $n, got $off)")
      off += k
    }
    out
  }

  /** Iterate the records of a WARC payload (gzip auto-sniffed).
    * Streaming: bounded memory per record, never the whole shard. */
  def records(rawIn: java.io.InputStream): Iterator[Record] =
    new Iterator[Record] {
      private val in = maybeGunzip(rawIn)
      private var nextRec: Record = _
      private var done = false

      private def advance(): Unit = {
        // skip blank separator lines between records
        var line: Option[String] = readLine(in)
        while (line.exists(_.isEmpty)) line = readLine(in)
        line match {
          case None => done = true
          case Some(v) if !v.startsWith("WARC/") =>
            err(s"expected a WARC version line, got '${v.take(40)}'")
          case Some(_) =>
            // headers (with RFC-style continuation folding)
            val hdrs = scala.collection.mutable.Map[String, String]()
            var last: String = null
            var h = readLine(in).getOrElse(err("truncated record headers"))
            while (h.nonEmpty) {
              if ((h.charAt(0) == ' ' || h.charAt(0) == '\t') && last != null)
                hdrs(last) = hdrs(last) + " " + h.trim
              else h.indexOf(':') match {
                case -1 => err(s"malformed WARC header '${h.take(40)}'")
                case i =>
                  last = h.substring(0, i).trim.toLowerCase
                  hdrs(last) = h.substring(i + 1).trim
              }
              h = readLine(in).getOrElse(err("truncated record headers"))
            }
            val len = hdrs.getOrElse("content-length",
              err("record without Content-Length"))
            val n = try len.toLong catch {
              case _: NumberFormatException =>
                err(s"bad Content-Length '$len'")
            }
            if (n < 0 || n > Pdf.MaxDecodedBytes)
              err(s"Content-Length $n out of bounds")
            val body = readFully(in, n.toInt)
            val warcType = hdrs.getOrElse("warc-type", "")
            val ct = hdrs.getOrElse("content-type", "")
            val (httpCt, payload) =
              if (warcType == "response" &&
                  ct.toLowerCase.contains("application/http"))
                splitHttp(body)
              else (null: String, body)
            nextRec = Record(warcType,
              hdrs.getOrElse("warc-target-uri", null), ct, httpCt, payload)
        }
      }

      advance()

      override def hasNext: Boolean = !done
      override def next(): Record = {
        if (done) throw new NoSuchElementException
        val r = nextRec
        advance()
        r
      }
    }

  /** Split an HTTP message into (Content-Type header value or null,
    * payload bytes after the blank line). Tolerates LF-only header
    * termination (crawled servers do ship it). */
  private[sources] def splitHttp(body: Array[Byte]): (String, Array[Byte]) = {
    var i = 0
    var split = -1
    var sepLen = 0
    while (i + 1 < body.length && split < 0) {
      if (body(i) == '\r' && i + 3 < body.length && body(i + 1) == '\n' &&
          body(i + 2) == '\r' && body(i + 3) == '\n') {
        split = i; sepLen = 4
      } else if (body(i) == '\n' && body(i + 1) == '\n') {
        split = i; sepLen = 2
      }
      i += 1
    }
    if (split < 0) return (null, body) // header-only or degenerate
    val head = new String(body, 0, split, "ISO-8859-1")
    val ct = head.split("\r?\n").iterator.drop(1) // skip the status line
      .map(_.split(":", 2))
      .collectFirst {
        case Array(k, v) if k.trim.equalsIgnoreCase("content-type") =>
          v.trim
      }.orNull
    (ct, java.util.Arrays.copyOfRange(body, split + sepLen, body.length))
  }

  /**
   * Spark surface: every response record of every shard under
   * `pathGlob` as `(path, target_uri, http_content_type, payload,
   * warc_error)` — one task per shard (`binaryFile`; WARC is not
   * splittable), corrupt shards quarantined per-FILE with the named
   * error and a null payload row, never a failed job.
   */
  def responses(spark: SparkSession, pathGlob: String): DataFrame = {
    import spark.implicits._
    Payload.perFile(spark, pathGlob) { (path, bytes) =>
      records(new java.io.ByteArrayInputStream(bytes))
        .filter(_.warcType == "response")
        .map(r => (path, r.targetUri, r.httpContentType, r.payload,
          null: String))
        .toSeq
    } { (path, error) =>
      (path, null: String, null: String, null: Array[Byte], error)
    }.toDF("path", "target_uri", "http_content_type", "payload",
      "warc_error")
  }

  // ---------------------------------------------------------------
  // fixture writer (independent spec-valid WARC builder)
  // ---------------------------------------------------------------

  /**
   * Build a WARC shard carrying one `warcinfo` record plus, per
   * entry, a `request`/`response` pair — the record mix real crawls
   * ship, so the reader's type filter is exercised on every build.
   * `gzipped` emits one gzip member PER RECORD (the standard layout
   * for `.warc.gz`).
   */
  def buildWarc(entries: Seq[(String, String, Array[Byte])],
                gzipped: Boolean): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def emit(record: Array[Byte]): Unit =
      if (gzipped) {
        val gz = new java.util.zip.GZIPOutputStream(out)
        gz.write(record); gz.close() // BAOS close is a no-op
      } else out.write(record, 0, record.length)
    def rec(typ: String, uri: String, ct: String,
            body: Array[Byte]): Array[Byte] = {
      val sb = new StringBuilder
      sb.append("WARC/1.0\r\n")
      sb.append(s"WARC-Type: $typ\r\n")
      if (uri != null) sb.append(s"WARC-Target-URI: $uri\r\n")
      sb.append(s"WARC-Record-ID: <urn:uuid:${typ.hashCode}-${body.length}>\r\n")
      sb.append("WARC-Date: 2026-01-01T00:00:00Z\r\n")
      if (ct != null) sb.append(s"Content-Type: $ct\r\n")
      sb.append(s"Content-Length: ${body.length}\r\n\r\n")
      val head = sb.toString.getBytes("ISO-8859-1")
      val o = new java.io.ByteArrayOutputStream(head.length + body.length + 4)
      o.write(head, 0, head.length); o.write(body, 0, body.length)
      o.write('\r'); o.write('\n'); o.write('\r'); o.write('\n')
      o.toByteArray
    }
    emit(rec("warcinfo", null, "application/warc-fields",
      "software: graft-fixture\r\n".getBytes("ISO-8859-1")))
    entries.foreach { case (uri, httpCt, payload) =>
      emit(rec("request", uri, "application/http;msgtype=request",
        s"GET $uri HTTP/1.1\r\nHost: fixture\r\n\r\n".getBytes("ISO-8859-1")))
      val http = new java.io.ByteArrayOutputStream()
      val head = ("HTTP/1.1 200 OK\r\n" +
        (if (httpCt != null) s"Content-Type: $httpCt\r\n" else "") +
        s"Content-Length: ${payload.length}\r\n\r\n").getBytes("ISO-8859-1")
      http.write(head, 0, head.length)
      http.write(payload, 0, payload.length)
      emit(rec("response", uri, "application/http;msgtype=response",
        http.toByteArray))
    }
    out.toByteArray
  }

  /**
   * Streaming twin of [[responses]]: `.warc`/`.warc.gz` shards
   * landing in `dir` become micro-batches of decoded documents —
   * the raw-crawl-drop ingestion shape (each new shard file is
   * picked up once, tracked by the stream's file index; `binaryFile`
   * is a streaming-capable file source). Each response record's
   * payload rides the transport-aware charset sniff
   * ([[Html.decodeHtmlBytes]]) and the HTML extract chain, then the
   * URL-keyed exact-dedup admission of [[graft.streaming
   * .IngestPipeline.dedupIngest]] — re-crawled identical pages and
   * replayed micro-batches both dedup away. Corrupt shards and
   * undecodable records drop with their named error COUNTED: each
   * failure becomes a `warc_error` row filtered out before the sink,
   * and the stream `observe`s `corrupt_rows` so every micro-batch's
   * `StreamingQueryProgress.observedMetrics("warc_ingest")` carries
   * the drop count — the batch [[responses]] surface's accounting,
   * streamed.
   */
  def warcIngest(spark: SparkSession, warcDir: String, corpusDir: String,
                 checkpointDir: String,
                 trigger: org.apache.spark.sql.streaming.Trigger =
                   org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val shards = spark.readStream.format("binaryFile")
      // streaming sources need the schema stated (binaryFile's is
      // fixed by the format)
      .schema("path STRING, modificationTime TIMESTAMP, " +
        "length LONG, content BINARY")
      .load(warcDir)
      .select("path", "content").as[(String, Array[Byte])]
    val docs = shards.flatMap { case (path, bytes) =>
      try records(new java.io.ByteArrayInputStream(bytes))
        .filter(_.warcType == "response")
        .map { r =>
          try (r.targetUri,
            Html.decodeHtmlBytes(r.payload, r.httpContentType),
            null: String)
          catch { case scala.util.control.NonFatal(e) =>
            (r.targetUri, null: String, s"record: ${Payload.named(e)}") }
        }.toSeq
      catch {
        case scala.util.control.NonFatal(e) =>
          Seq((path, null: String, s"shard: ${Payload.named(e)}"))
      }
    }.toDF("url", "html", "warc_error")
      // named-error accounting: corrupt rows are counted into every
      // micro-batch's observed metrics, then filtered before the sink
      .observe("warc_ingest",
        org.apache.spark.sql.functions.count(col("warc_error"))
          .as("corrupt_rows"))
      .where(col("warc_error").isNull)
      .select(col("url"),
        graft.functions.TextAnalysis.extractHtmlText(col("html"))
          .as("text"))
    graft.streaming.IngestPipeline.dedupIngest(
      docs.where(col("url").isNotNull), "url", "text", corpusDir,
      checkpointDir, trigger)
  }
}
