package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/**
 * Email text extraction — mbox archives and RFC 5322/MIME messages,
 * the shape mail corpora (Enron-class dumps, mailing-list archives)
 * actually ship. JDK-only, written from the public RFCs:
 *
 *  - mbox (RFC 4155): messages separated by `From ` lines at line
 *    start; body lines beginning `>From ` are unescaped ("mboxrd"
 *    quoting — also safe on never-quoted "mboxo" archives where a
 *    bare in-body `From ` line would otherwise split a message: the
 *    splitter requires the RFC 4155 envelope shape, `From <addr>
 *    <date>`, not just the prefix);
 *  - message (RFC 5322): CRLF- or LF-terminated header lines with
 *    continuation folding, then a blank line, then the body;
 *  - MIME (RFC 2045/2046): `multipart` containers walked recursively by
 *    boundary (preamble/epilogue dropped, nested multiparts
 *    descended, depth-capped against crafted bombs);
 *    `text/plain` parts concatenate into the extracted text —
 *    `text/html` parts are CARRIED SEPARATELY (column `html`) so the
 *    caller can route them through [[Html.decodeHtmlBytes]]-style
 *    handling; other leaf types (attachments) contribute metadata
 *    only (count);
 *  - transfer decodings (RFC 2045): `quoted-printable` (soft line
 *    breaks, `=HH`) and `base64`; `7bit/8bit/binary` pass through;
 *  - charsets: each text part decodes by its OWN `charset=` param
 *    (JDK charsets, unknown → NAMED error), U+FFFD on torn bytes;
 *  - encoded-words (RFC 2047): `=?charset?B|Q?…?=` in Subject/From
 *    decode, including Q-encoding's `_` = space rule and adjacent-
 *    word joining (whitespace between two encoded words is ignored
 *    per §6.2 — the rule naive decoders miss).
 *
 * Honest boundaries (NAMED): unknown charsets and transfer encodings,
 * multipart without a boundary parameter, boundary nesting deeper
 * than 32. The Spark surface quarantines per-row like
 * [[Pdf.extractTexts]].
 *
 * The reference engine (parquery) has no mail surface — this is a
 * training-data-pipeline extension (SURVEY §8), verified against
 * fixture archives from [[buildMbox]] (an independent writer that
 * exercises multipart, both transfer encodings, per-part charsets,
 * and RFC 2047 subjects).
 */
object Mime {

  private def err(msg: String): Nothing =
    throw new IllegalArgumentException(s"MIME: $msg")

  /** One parsed message: decoded headline headers, the concatenated
    * text/plain body, html alternative (null if none), attachment
    * leaf count. */
  final case class Message(from: String, subject: String, date: String,
                           text: String, html: String, attachments: Int)

  // ---------------------------------------------------------------
  // header machinery
  // ---------------------------------------------------------------

  /** Split a message into (headers in order, body string) at the
    * first blank line. Header folding (continuation lines starting
    * with SP/TAB) is unfolded with a single space. */
  private def splitMessage(raw: String): (Seq[(String, String)], String) = {
    val lines = raw.split("\r?\n", -1)
    val hdrs = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var i = 0
    var done = false
    while (i < lines.length && !done) {
      val l = lines(i)
      if (l.isEmpty) done = true
      else if ((l.charAt(0) == ' ' || l.charAt(0) == '\t') && hdrs.nonEmpty) {
        val (k, v) = hdrs.last
        hdrs(hdrs.length - 1) = (k, v + " " + l.trim)
        i += 1
      } else l.indexOf(':') match {
        case -1 => done = true // malformed: treat the rest as body
        case c =>
          hdrs += ((l.substring(0, c).trim.toLowerCase,
            l.substring(c + 1).trim))
          i += 1
      }
    }
    val bodyStart = if (done && i < lines.length && lines(i).isEmpty) i + 1 else i
    (hdrs.toSeq, lines.drop(bodyStart).mkString("\n"))
  }

  private def header(hdrs: Seq[(String, String)], name: String): String =
    hdrs.collectFirst { case (k, v) if k == name => v }.orNull

  /** `value; a=b; c="d"` → (value, params lower-keyed). */
  private def contentParams(v: String): (String, Map[String, String]) = {
    if (v == null) return ("text/plain", Map.empty)
    val parts = v.split(";").map(_.trim)
    val params = parts.drop(1).flatMap { p =>
      p.split("=", 2) match {
        case Array(k, raw) =>
          Some(k.trim.toLowerCase -> raw.trim.stripPrefix("\"")
            .stripSuffix("\""))
        case _ => None
      }
    }.toMap
    (parts.head.toLowerCase, params)
  }

  private def charsetOf(name: String): java.nio.charset.Charset =
    try java.nio.charset.Charset.forName(name)
    catch {
      case _: Exception => err(s"unknown charset '$name'")
    }

  private def decodeBytes(b: Array[Byte], cs: java.nio.charset.Charset)
      : String = {
    val dec = cs.newDecoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPLACE)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPLACE)
    dec.decode(java.nio.ByteBuffer.wrap(b)).toString
  }

  // ---------------------------------------------------------------
  // transfer decodings
  // ---------------------------------------------------------------

  private[graft] def decodeQuotedPrintable(s: String): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '=') {
        if (i + 1 < s.length && s.charAt(i + 1) == '\n') i += 2 // soft LF
        else if (i + 2 < s.length && s.charAt(i + 1) == '\r' &&
          s.charAt(i + 2) == '\n') i += 3 // soft CRLF
        else if (i + 2 < s.length) {
          val hi = Character.digit(s.charAt(i + 1), 16)
          val lo = Character.digit(s.charAt(i + 2), 16)
          if (hi < 0 || lo < 0) err(s"bad quoted-printable at $i")
          out.write((hi << 4) | lo); i += 3
        } else err("truncated quoted-printable escape")
      } else { out.write(c.toInt & 0xFF); i += 1 }
    }
    out.toByteArray
  }

  private def decodeTransfer(body: String, encoding: String): Array[Byte] =
    Option(encoding).map(_.trim.toLowerCase).getOrElse("7bit") match {
      case "" | "7bit" | "8bit" | "binary" =>
        body.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
      case "quoted-printable" => decodeQuotedPrintable(body)
      case "base64" =>
        try java.util.Base64.getMimeDecoder.decode(body)
        catch {
          case e: IllegalArgumentException =>
            err(s"bad base64 body: ${e.getMessage}")
        }
      case other => err(s"unknown transfer encoding '$other'")
    }

  // ---------------------------------------------------------------
  // RFC 2047 encoded-words
  // ---------------------------------------------------------------

  private val EncodedWordRe =
    "=\\?([^?]+)\\?([bBqQ])\\?([^?]*)\\?=".r

  /** Decode every `=?cs?B|Q?...?=` in a header; whitespace BETWEEN two
    * adjacent encoded words is dropped (RFC 2047 §6.2). */
  private[graft] def decodeEncodedWords(v: String): String = {
    if (v == null) return null
    // drop whitespace between adjacent encoded words first
    val joined = v.replaceAll("(\\?=)\\s+(=\\?)", "$1$2")
    EncodedWordRe.replaceAllIn(joined, m => {
      val cs = charsetOf(m.group(1))
      val bytes = m.group(2).toLowerCase match {
        case "b" => java.util.Base64.getMimeDecoder.decode(m.group(3))
        case _ => decodeQuotedPrintable(m.group(3).replace('_', ' '))
      }
      java.util.regex.Matcher.quoteReplacement(decodeBytes(bytes, cs))
    })
  }

  // ---------------------------------------------------------------
  // MIME part walk
  // ---------------------------------------------------------------

  private def walkPart(hdrs: Seq[(String, String)], body: String,
                       texts: scala.collection.mutable.ArrayBuffer[String],
                       htmls: scala.collection.mutable.ArrayBuffer[String],
                       depth: Int): Int = {
    if (depth > 32) err("multipart nesting deeper than 32")
    val (ctype, params) = contentParams(header(hdrs, "content-type"))
    if (ctype.startsWith("multipart/")) {
      val boundary = params.getOrElse("boundary",
        err(s"$ctype without a boundary parameter"))
      var attachments = 0
      // split on delimiter lines: --boundary (and --boundary-- close)
      val delim = "--" + boundary
      val lines = body.split("\r?\n", -1)
      val sections = scala.collection.mutable.ArrayBuffer[StringBuilder]()
      var inPart = false
      var closed = false
      lines.foreach { l =>
        // RFC 2046 §5.1.1: delimiter lines may carry trailing LWSP
        // (and ONLY LWSP) — strip it before the exact match; after
        // the close delimiter everything is epilogue, so a later
        // '--boundary' line must NOT re-open a section
        val t = {
          var end = l.length
          while (end > 0 && (l.charAt(end - 1) == ' ' ||
            l.charAt(end - 1) == '\t')) end -= 1
          if (end == l.length) l else l.substring(0, end)
        }
        if (!closed && t == delim) {
          sections += new StringBuilder; inPart = true
        } else if (!closed && t == delim + "--") {
          inPart = false; closed = true
        } else if (inPart && !closed) {
          val sb = sections.last
          if (sb.nonEmpty) sb.append('\n')
          sb.append(l)
        } // else: preamble/epilogue, dropped
      }
      sections.foreach { sec =>
        val (ph, pb) = splitMessage(sec.toString)
        attachments += walkPart(ph, pb, texts, htmls, depth + 1)
      }
      attachments
    } else if (ctype == "message/rfc822") {
      val (ih, ib) = splitMessage(body)
      walkPart(ih, ib, texts, htmls, depth + 1)
    } else {
      val bytes = decodeTransfer(body,
        header(hdrs, "content-transfer-encoding"))
      val cs = charsetOf(params.getOrElse("charset", "US-ASCII"))
      if (ctype == "text/plain") {
        texts += decodeBytes(bytes, cs); 0
      } else if (ctype == "text/html") {
        htmls += decodeBytes(bytes, cs); 0
      } else 1 // attachment-ish leaf
    }
  }

  /** Parse ONE RFC 5322 message (headers + MIME body). */
  def parseMessage(raw: String): Message = {
    val (hdrs, body) = splitMessage(raw)
    val texts = scala.collection.mutable.ArrayBuffer[String]()
    val htmls = scala.collection.mutable.ArrayBuffer[String]()
    val attachments = walkPart(hdrs, body, texts, htmls, 0)
    Message(
      decodeEncodedWords(header(hdrs, "from")),
      decodeEncodedWords(header(hdrs, "subject")),
      header(hdrs, "date"),
      texts.mkString("\n"),
      if (htmls.isEmpty) null else htmls.mkString("\n"),
      attachments)
  }

  // ---------------------------------------------------------------
  // mbox splitting
  // ---------------------------------------------------------------

  /** RFC 4155 envelope line: `From <addr> <asctime-ish date>` at line
    * start — requiring the two fields keeps a bare in-body `From `
    * sentence (unquoted "mboxo" archives) from splitting a message. */
  private val FromLineRe =
    "^From \\S+ +[A-Z][a-z]{2} [A-Z][a-z]{2} [ \\d]\\d [\\d:]{8} \\d{4}".r

  /** Split an mbox payload into raw messages (envelope lines dropped,
    * `>From ` unquoted per mboxrd). */
  def splitMbox(mbox: String): Seq[String] = {
    val lines = mbox.split("\r?\n", -1)
    val msgs = scala.collection.mutable.ArrayBuffer[StringBuilder]()
    lines.foreach { l =>
      if (FromLineRe.findPrefixOf(l).isDefined) msgs += new StringBuilder
      else if (msgs.nonEmpty) {
        val sb = msgs.last
        if (sb.nonEmpty) sb.append('\n')
        sb.append(if (l.startsWith(">From ")) l.substring(1) else l)
      } // else: junk before the first envelope — not an mbox message
    }
    if (msgs.isEmpty) err("no RFC 4155 'From ' envelope found (not mbox?)")
    msgs.map(_.toString).toSeq
  }

  /** Spark surface: explode every message of every (id, mbox bytes)
    * row into decoded columns, with per-ARCHIVE quarantine for
    * unsplittable payloads and per-MESSAGE quarantine for messages
    * whose MIME structure fails (the Csv accounting pattern, two
    * granularities). */
  def parseMboxes(ds: Dataset[(Long, Array[Byte])]): DataFrame = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.flatMap { case (id, bytes) =>
      try {
        val mbox = new String(bytes,
          java.nio.charset.StandardCharsets.ISO_8859_1)
        splitMbox(mbox).zipWithIndex.map { case (raw, i) =>
          try {
            val m = parseMessage(raw)
            (id, i, m.from, m.subject, m.text, m.html, m.attachments,
              null: String)
          } catch {
            case scala.util.control.NonFatal(e) =>
              (id, i, null: String, null: String, null: String,
                null: String, 0, Payload.named(e))
          }
        }
      } catch {
        case scala.util.control.NonFatal(e) =>
          Seq((id, -1, null: String, null: String, null: String,
            null: String, 0, Payload.named(e)))
      }
    }.toDF("id", "msg_idx", "from", "subject", "text", "html",
      "attachments", "mime_error")
  }

  /**
   * Streaming twin of [[parseMboxes]] — the list-archive sync shape:
   * mbox drops landing in `mboxDir` become micro-batches of parsed
   * messages (each archive file is picked up once by the binaryFile
   * stream's file index), keyed on from+subject and exact-deduped by
   * text through [[graft.streaming.IngestPipeline.dedupIngest]] — a
   * re-synced archive carrying already-ingested messages and a
   * replayed micro-batch both dedup away. Corrupt archives and
   * unparseable messages drop with their named error COUNTED: each
   * failure becomes a `mime_error` row filtered out before the sink,
   * and the stream `observe`s `corrupt_rows` so every micro-batch's
   * `StreamingQueryProgress.observedMetrics("mbox_ingest")` carries
   * the drop count — the [[Warc.warcIngest]] accounting, for mail.
   */
  def mboxIngest(spark: SparkSession, mboxDir: String, corpusDir: String,
                 checkpointDir: String,
                 trigger: org.apache.spark.sql.streaming.Trigger =
                   org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, concat_ws, count}
    val shards = spark.readStream.format("binaryFile")
      .schema("path STRING, modificationTime TIMESTAMP, " +
        "length LONG, content BINARY")
      .load(mboxDir)
      .select("path", "content").as[(String, Array[Byte])]
    val msgs = shards.flatMap { case (path, bytes) =>
      try {
        val mbox = new String(bytes,
          java.nio.charset.StandardCharsets.ISO_8859_1)
        splitMbox(mbox).map { raw =>
          try {
            val m = parseMessage(raw)
            (m.from, m.subject, m.text, null: String)
          } catch {
            case scala.util.control.NonFatal(e) =>
              (null: String, null: String, null: String,
                s"message: ${Payload.named(e)}")
          }
        }
      } catch {
        case scala.util.control.NonFatal(e) =>
          Seq((null: String, null: String, null: String,
            s"archive ${path.substring(path.lastIndexOf('/') + 1)}: " +
              Payload.named(e)))
      }
    }.toDF("from", "subject", "text", "mime_error")
      .observe("mbox_ingest",
        count(col("mime_error")).as("corrupt_rows"))
      .where(col("mime_error").isNull)
      // control-char key separator: a bare concat would collide
      // ("ab"+"c" vs "a"+"bc"), and U+0001 never survives header
      // decode into either field
      .select(concat_ws("\u0001", col("from"), col("subject"))
        .as("msg_key"), col("text"))
    graft.streaming.IngestPipeline.dedupIngest(
      msgs.where(col("msg_key").isNotNull), "msg_key", "text",
      corpusDir, checkpointDir, trigger)
  }

  // ---------------------------------------------------------------
  // fixture writer
  // ---------------------------------------------------------------

  /**
   * Build an mbox with one message per entry `(from, subject, text)`:
   * multipart/alternative with a quoted-printable text/plain part
   * (charset windows-1252) and a base64 text/html part (UTF-8), plus
   * a small application/octet-stream attachment inside a nested
   * multipart/mixed — the full real-mail shape. Subjects with
   * non-ASCII get RFC 2047 B-encoding. Bodies containing `From ` at
   * line start are mboxrd-quoted.
   */
  def buildMbox(entries: Seq[(String, String, String)]): Array[Byte] = {
    val sb = new StringBuilder
    entries.zipWithIndex.foreach { case ((from, subject, text), i) =>
      val subj =
        if (subject.forall(_ < 0x80)) subject
        else "=?UTF-8?B?" + java.util.Base64.getEncoder.encodeToString(
          subject.getBytes("UTF-8")) + "?="
      val qp = text.getBytes("windows-1252").map { b =>
        val c = b & 0xFF
        if (c == '=' || c >= 0x80) f"=$c%02X"
        else c.toChar.toString // '\n' stays literal: a QP hard break
      }.mkString
      val html64 = java.util.Base64.getMimeEncoder.encodeToString(
        s"<p>$text</p>".getBytes("UTF-8"))
      sb.append(s"From sender$i@x.test Mon Jan  5 10:0$i:00 2026\n")
      sb.append(s"From: $from\n")
      sb.append(s"Subject: $subj\n")
      sb.append(s"Date: Mon, 5 Jan 2026 10:0$i:00 +0000\n")
      sb.append("MIME-Version: 1.0\n")
      sb.append(s"Content-Type: multipart/mixed; boundary=\"outer$i\"\n\n")
      sb.append("preamble to be dropped\n")
      sb.append(s"--outer$i\n")
      sb.append(s"Content-Type: multipart/alternative; boundary=\"inner$i\"\n\n")
      sb.append(s"--inner$i\n")
      sb.append("Content-Type: text/plain; charset=windows-1252\n")
      sb.append("Content-Transfer-Encoding: quoted-printable\n\n")
      sb.append(qp.split("\n", -1).map(l =>
        if (l.startsWith("From ")) ">" + l else l).mkString("\n"))
      sb.append(s"\n--inner$i\n")
      sb.append("Content-Type: text/html; charset=UTF-8\n")
      sb.append("Content-Transfer-Encoding: base64\n\n")
      sb.append(html64).append("\n")
      sb.append(s"--inner$i--\n")
      sb.append(s"--outer$i\n")
      sb.append("Content-Type: application/octet-stream\n")
      sb.append("Content-Transfer-Encoding: base64\n\n")
      sb.append(java.util.Base64.getEncoder
        .encodeToString(Array[Byte](1, 2, 3))).append("\n")
      sb.append(s"--outer$i--\n")
      sb.append("epilogue to be dropped\n")
    }
    sb.toString.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
  }
}
