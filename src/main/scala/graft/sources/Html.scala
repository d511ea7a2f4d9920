package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset}

/**
 * Raw-bytes charset sniffing for crawled HTML — the step a real WARC
 * response path needs BEFORE [[graft.functions.TextAnalysis
 * .extractHtmlText]] can run: WET files arrive pre-decoded, raw HTTP
 * bodies do not, and decoding a windows-1252 or shift_jis page as
 * UTF-8 silently mangles exactly the high-value non-English text a
 * multilingual corpus is built for.
 *
 * Sniffing follows the HTML standard's encoding sniffing algorithm
 * (WHATWG HTML §13.2.3.2) precedence, JDK charsets only:
 *  1. BOM (UTF-8 / UTF-16LE / UTF-16BE) — certain, wins over all;
 *  2. the TRANSPORT layer (the Content-Type header's `charset=`
 *     parameter, passed alongside the bytes) — the server knows;
 *  3. meta prescan over the first 1024 bytes (`<meta charset=…>` and
 *     `<meta http-equiv="Content-Type" content="…charset=…">`,
 *     ASCII-compatible by construction); a meta-declared UTF-16 is
 *     treated as UTF-8 per the standard (a UTF-16 document could not
 *     carry an ASCII-readable meta tag);
 *  4. UTF-8 default.
 * (The ordering is the standard's, not "meta first": a transport
 * charset is authoritative over in-document hints.)
 *
 * Malformed byte sequences under the sniffed charset decode with
 * U+FFFD replacement (the WHATWG decoder behavior — crawled bytes
 * are routinely torn mid-sequence and must not fail the document).
 * An UNKNOWN declared charset is a NAMED error (quarantined per-row
 * by [[decodeAll]]): silently guessing would mangle text the
 * declaration proves is not UTF-8.
 *
 * The reference engine (parquery) has no crawl surface — this is a
 * training-data-pipeline extension (SURVEY §8).
 */
object Html {

  private def err(msg: String): Nothing =
    throw new IllegalArgumentException(s"HTML: $msg")

  private val MetaCharsetRe =
    "(?i)<meta[\\t\\n\\f\\r /][^>]*?charset[\\t\\n\\f\\r ]*=" +
      "[\\t\\n\\f\\r ]*[\"']?[\\t\\n\\f\\r ]*([A-Za-z0-9._:-]+)"
  private val HeaderCharsetRe =
    "(?i)charset[\\t\\n\\f\\r ]*=[\\t\\n\\f\\r ]*[\"']?([A-Za-z0-9._:-]+)"

  private def charsetOrErr(name: String): java.nio.charset.Charset =
    try java.nio.charset.Charset.forName(name)
    catch {
      case _: java.nio.charset.UnsupportedCharsetException |
           _: java.nio.charset.IllegalCharsetNameException =>
        err(s"declared charset '$name' not supported by the JDK")
    }

  /** Resolve (charset, bytes-to-skip) for a raw HTML payload. */
  private[graft] def sniffCharset(bytes: Array[Byte], contentType: String)
      : (java.nio.charset.Charset, Int) = {
    // 1. BOM
    if (bytes.length >= 3 && (bytes(0) & 0xFF) == 0xEF &&
        (bytes(1) & 0xFF) == 0xBB && (bytes(2) & 0xFF) == 0xBF)
      return (java.nio.charset.StandardCharsets.UTF_8, 3)
    if (bytes.length >= 2 && (bytes(0) & 0xFF) == 0xFF &&
        (bytes(1) & 0xFF) == 0xFE)
      return (java.nio.charset.StandardCharsets.UTF_16LE, 2)
    if (bytes.length >= 2 && (bytes(0) & 0xFF) == 0xFE &&
        (bytes(1) & 0xFF) == 0xFF)
      return (java.nio.charset.StandardCharsets.UTF_16BE, 2)
    // 2. transport layer
    if (contentType != null) {
      val m = HeaderCharsetRe.r.findFirstMatchIn(contentType)
      if (m.isDefined) return (charsetOrErr(m.get.group(1)), 0)
    }
    // 3. meta prescan (first 1024 bytes, ASCII-compatible read)
    val head = new String(bytes, 0, math.min(1024, bytes.length),
      java.nio.charset.StandardCharsets.ISO_8859_1)
    val m = MetaCharsetRe.r.findFirstMatchIn(head)
    if (m.isDefined) {
      val name = m.get.group(1)
      // a meta-declared UTF-16 cannot be right (the meta itself was
      // ASCII-readable): the standard says treat it as UTF-8
      if (name.toLowerCase.startsWith("utf-16"))
        return (java.nio.charset.StandardCharsets.UTF_8, 0)
      return (charsetOrErr(name), 0)
    }
    // 4. default
    (java.nio.charset.StandardCharsets.UTF_8, 0)
  }

  /** Decode one raw HTML payload to a string (U+FFFD on malformed
    * sequences, the WHATWG decoder behavior). */
  def decodeHtmlBytes(bytes: Array[Byte],
                      contentType: String = null): String = {
    if (bytes == null) err("null payload")
    val (cs, skip) = sniffCharset(bytes, contentType)
    val dec = cs.newDecoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPLACE)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPLACE)
    dec.decode(java.nio.ByteBuffer.wrap(bytes, skip,
      bytes.length - skip)).toString
  }

  /** Spark surface: decode every (id, bytes, content_type) row with
    * per-row quarantine accounting (the [[Pdf.extractTexts]] /
    * `sources.Csv` pattern) — an unsupported declared charset keeps
    * its row with `html` null and the NAMED error in `html_error`.
    * Deterministic per-row byte walk; nothing crosses rows. */
  def decodeAll(ds: Dataset[(Long, Array[Byte], String)]): DataFrame = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.map { case (id, bytes, ct) =>
      try (id, decodeHtmlBytes(bytes, ct), null: String)
      catch {
        case scala.util.control.NonFatal(e) =>
          (id, null: String, Payload.named(e))
      }
    }.toDF("id", "html", "html_error")
  }
}
