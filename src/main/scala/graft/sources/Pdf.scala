package graft.sources

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset}

/**
 * PDF text extraction, written from the PUBLIC format specification
 * (ISO 32000-1, the freely published Adobe PDF 1.7 reference). This
 * closes the document-format gap in the crawl/text family: the
 * scientific/books corpora a training pipeline ingests arrive as PDF,
 * and everything needed for a useful subset is JDK-only — FlateDecode
 * is `java.util.zip.Inflater`, WinAnsi/MacRoman are the JDK's
 * windows-1252 / x-MacRoman charsets, and every other parameter
 * (xref layout, object graph, CMaps) rides in the file.
 *
 * Supported surface:
 *  - classic xref tables (incl. /Prev incremental-update chains and
 *    hybrid /XRefStm), cross-reference STREAMS (/Type /XRef with /W,
 *    /Index, PNG predictors) and object streams (/Type /ObjStm) —
 *    the PDF 1.5+ layout real documents use;
 *  - stream filters: FlateDecode and LZWDecode (both with
 *    /Predictor 2 and the PNG predictors 10..15, LZW with
 *    /EarlyChange), RunLengthDecode, ASCIIHexDecode, ASCII85Decode,
 *    filter chains; other filters are NAMED errors;
 *  - page-tree walk with /Resources inheritance, /Contents arrays;
 *  - text operators BT/ET, Tj, ', ", TJ (kerning gaps < −180/1000 em
 *    become spaces), Td/TD/Tm/T* (line breaks), Tf font tracking,
 *    BI..EI inline images skipped;
 *  - simple-font byte decoding via /Encoding (WinAnsiEncoding,
 *    MacRomanEncoding, /Differences with uniXXXX + common glyph
 *    names) and /ToUnicode CMaps (codespace widths 1-2 bytes,
 *    bfchar/bfrange, UTF-16BE targets) — Type0/CID fonts REQUIRE a
 *    ToUnicode CMap, else a NAMED error.
 *
 * Honest boundaries (all named, never silently wrong): encrypted
 * documents (/Encrypt), image-codec filters (DCT/JPX/JBIG2/CCITT) on
 * content-path streams, CID fonts without ToUnicode, glyph names outside the
 * supported set. The Spark surface quarantines failed payloads with
 * the error message instead of failing the job (the `sources.Csv`
 * accounting pattern).
 *
 * The reference engine (parquery) has no document surface — this is
 * a training-data-pipeline extension (SURVEY §8), verified against
 * fixture PDFs from [[buildPdf]] (an independent spec-valid writer,
 * the Mp4.scala pattern) across all three xref layouts.
 */
object Pdf {

  // ---------------------------------------------------------------
  // object model
  // ---------------------------------------------------------------

  sealed trait Obj
  case object PNull extends Obj
  final case class PBool(v: Boolean) extends Obj
  final case class PNum(v: Double) extends Obj { def i: Int = v.toInt }
  final case class PName(v: String) extends Obj
  final case class PString(bytes: Array[Byte]) extends Obj
  final case class PArr(v: Vector[Obj]) extends Obj
  final case class PDict(m: Map[String, Obj]) extends Obj {
    def get(k: String): Option[Obj] = m.get(k)
  }
  final case class PRef(num: Int, gen: Int) extends Obj
  final case class PStream(dict: PDict, raw: Array[Byte]) extends Obj

  private def err(msg: String): Nothing =
    throw new IllegalArgumentException(s"PDF: $msg")

  // ---------------------------------------------------------------
  // lexer / object parser
  // ---------------------------------------------------------------

  private def isWs(c: Int): Boolean =
    c == 0 || c == 9 || c == 10 || c == 12 || c == 13 || c == 32
  private def isDelim(c: Int): Boolean =
    c == '(' || c == ')' || c == '<' || c == '>' || c == '[' ||
      c == ']' || c == '{' || c == '}' || c == '/' || c == '%'

  /** Recursive-descent PDF object lexer over a byte buffer. The
    * `lengthOf` hook resolves indirect /Length values when a stream
    * body must be taken (null during xref-chain bootstrap, where
    * lengths are required to be direct). */
  final class Lexer(val buf: Array[Byte], var pos: Int,
                    lengthOf: Obj => Int) {
    def this(buf: Array[Byte], pos: Int) =
      this(buf, pos, {
        case PNum(v) => v.toInt
        case _ => err("indirect /Length where a direct one is required")
      })

    @inline private def cur: Int =
      if (pos < buf.length) buf(pos) & 0xFF else -1

    /** Recursion guard for parseArray/parseDict: a crafted file of
      * 100k '[' bytes would otherwise StackOverflowError — which is
      * fatal (not NonFatal) and escapes the per-row quarantine,
      * killing the whole task. Same failure class the resolve()
      * 64-hop cap and the page-tree depth-64 guard already close;
      * 256 is far past any real document's nesting. */
    private var nest = 0
    @inline private def enterNest(): Unit = {
      nest += 1
      if (nest > 256) err("object nesting deeper than 256 (corrupt or crafted file)")
    }

    private[sources] def skipWs(): Unit = {
      var go = true
      while (go) {
        while (pos < buf.length && isWs(cur)) pos += 1
        if (cur == '%') { while (pos < buf.length && cur != 10 && cur != 13) pos += 1 }
        else go = false
      }
    }

    /** keyword (regular characters) at pos, not consumed. */
    private def peekKeyword(): String = {
      val sb = new StringBuilder
      var p = pos
      while (p < buf.length && !isWs(buf(p) & 0xFF) && !isDelim(buf(p) & 0xFF)) {
        sb.append((buf(p) & 0xFF).toChar); p += 1
      }
      sb.toString
    }
    private[sources] def takeKeyword(): String = {
      val k = peekKeyword(); pos += k.length; k
    }
    private[sources] def expectKeyword(k: String): Unit = {
      skipWs()
      val got = takeKeyword()
      if (got != k) err(s"expected '$k', got '$got' at $pos")
    }

    private[sources] def parseValue(): Obj = {
      skipWs()
      cur match {
        case -1 => err("unexpected end of data")
        case '<' =>
          if (pos + 1 < buf.length && buf(pos + 1) == '<') parseDict()
          else parseHexString()
        case '(' => parseLiteralString()
        case '/' => parseName()
        case '[' => parseArray()
        case c if c == '+' || c == '-' || c == '.' || (c >= '0' && c <= '9') =>
          parseNumberOrRef()
        case _ =>
          takeKeyword() match {
            case "true" => PBool(true)
            case "false" => PBool(false)
            case "null" => PNull
            case k => err(s"unexpected token '$k' at $pos")
          }
      }
    }

    private[sources] def parseName(): PName = {
      pos += 1 // '/'
      val sb = new StringBuilder
      while (pos < buf.length && !isWs(cur) && !isDelim(cur)) {
        if (cur == '#' && pos + 2 < buf.length) {
          sb.append(Integer.parseInt(
            new String(buf, pos + 1, 2, "ISO-8859-1"), 16).toChar)
          pos += 3
        } else { sb.append(cur.toChar); pos += 1 }
      }
      PName(sb.toString)
    }

    private def parseNumberOrRef(): Obj = {
      val start = pos
      if (cur == '+' || cur == '-') pos += 1
      var digits = 0
      while (cur >= '0' && cur <= '9') { pos += 1; digits += 1 }
      var isInt = true
      if (cur == '.') {
        isInt = false; pos += 1
        while (cur >= '0' && cur <= '9') pos += 1
      }
      val text = new String(buf, start, pos - start, "ISO-8859-1")
      val n = PNum(text.toDouble)
      if (isInt && digits > 0 && n.v >= 0) {
        // lookahead for "gen R"
        val save = pos
        skipWs()
        val gStart = pos
        var gDigits = 0
        while (cur >= '0' && cur <= '9') { pos += 1; gDigits += 1 }
        if (gDigits > 0) {
          val gen = new String(buf, gStart, pos - gStart, "ISO-8859-1").toInt
          skipWs()
          if (cur == 'R' && (pos + 1 >= buf.length ||
              isWs(buf(pos + 1) & 0xFF) || isDelim(buf(pos + 1) & 0xFF))) {
            pos += 1
            return PRef(n.i, gen)
          }
        }
        pos = save
      }
      n
    }

    private[sources] def parseLiteralString(): PString = {
      pos += 1 // '('
      val out = new ArrayBuffer[Byte]()
      var depth = 1
      while (depth > 0) {
        if (pos >= buf.length) err("unterminated string")
        val c = cur
        pos += 1
        c match {
          case '(' => depth += 1; out += '('.toByte
          case ')' =>
            depth -= 1
            if (depth > 0) out += ')'.toByte
          case '\\' =>
            val e = cur; pos += 1
            e match {
              case 'n' => out += 10
              case 'r' => out += 13
              case 't' => out += 9
              case 'b' => out += 8
              case 'f' => out += 12
              case '(' => out += '('.toByte
              case ')' => out += ')'.toByte
              case '\\' => out += '\\'.toByte
              case 13 => if (cur == 10) pos += 1 // line continuation
              case 10 => ()
              case d if d >= '0' && d <= '7' =>
                var v = d - '0'
                var k = 0
                while (k < 2 && cur >= '0' && cur <= '7') {
                  v = v * 8 + (cur - '0'); pos += 1; k += 1
                }
                out += (v & 0xFF).toByte
              case other => out += (other & 0xFF).toByte
            }
          case other => out += other.toByte
        }
      }
      PString(out.toArray)
    }

    private[sources] def parseHexString(): PString = {
      pos += 1 // '<'
      val out = new ArrayBuffer[Byte]()
      var hi = -1
      while (cur != '>') {
        if (pos >= buf.length) err("unterminated hex string")
        val c = cur
        pos += 1
        val d = Character.digit(c, 16)
        if (d >= 0) {
          if (hi < 0) hi = d
          else { out += ((hi << 4) | d).toByte; hi = -1 }
        } else if (!isWs(c)) err(s"bad hex digit '${c.toChar}'")
      }
      pos += 1
      if (hi >= 0) out += (hi << 4).toByte // odd count: low nibble 0
      PString(out.toArray)
    }

    private[sources] def parseArray(): PArr = {
      enterNest()
      try {
        pos += 1 // '['
        val items = Vector.newBuilder[Obj]
        skipWs()
        while (cur != ']') {
          if (pos >= buf.length) err("unterminated array")
          items += parseValue()
          skipWs()
        }
        pos += 1
        PArr(items.result())
      } finally nest -= 1
    }

    private[sources] def parseDict(): Obj = {
      enterNest()
      try parseDictBody() finally nest -= 1
    }

    private def parseDictBody(): Obj = {
      pos += 2 // '<<'
      val m = Map.newBuilder[String, Obj]
      skipWs()
      while (cur != '>') {
        if (pos >= buf.length) err("unterminated dictionary")
        val key = parseName()
        m += key.v -> parseValue()
        skipWs()
      }
      if (pos + 1 >= buf.length || buf(pos + 1) != '>') err("bad dict end")
      pos += 2
      val dict = PDict(m.result())
      // stream?
      val save = pos
      skipWs()
      if (peekKeyword() == "stream") {
        takeKeyword()
        // EOL after 'stream': CRLF or LF
        if (cur == 13) pos += 1
        if (cur == 10) pos += 1
        val len = lengthOf(dict.get("Length").getOrElse(
          err("stream without /Length")))
        if (pos + len > buf.length) err("stream body past end of file")
        val raw = java.util.Arrays.copyOfRange(buf, pos, pos + len)
        pos += len
        skipWs()
        expectKeyword("endstream")
        PStream(dict, raw)
      } else { pos = save; dict }
    }
  }

  // ---------------------------------------------------------------
  // stream filters
  // ---------------------------------------------------------------

  /** Hard ceiling on ONE decoded stream. A decompression bomb (a few
    * KB of Flate expanding to multi-GB) would otherwise OOM the
    * executor JVM — an Error the per-row quarantine cannot catch,
    * unlike every other parse failure here, which is a NAMED
    * IllegalArgumentException. 256 MiB is orders of magnitude past
    * any real page content / ObjStm / document.xml payload. */
  private[graft] val MaxDecodedBytes: Int = 256 << 20

  private def inflate(data: Array[Byte]): Array[Byte] = {
    val inf = new java.util.zip.Inflater()
    inf.setInput(data)
    val out = new java.io.ByteArrayOutputStream(math.max(64, data.length * 4))
    val chunk = new Array[Byte](8192)
    try {
      while (!inf.finished()) {
        val n = inf.inflate(chunk)
        if (n == 0) {
          if (inf.needsInput() || inf.needsDictionary())
            err("truncated FlateDecode data")
        } else {
          if (out.size().toLong + n > MaxDecodedBytes)
            err(s"FlateDecode output exceeds $MaxDecodedBytes bytes " +
              "(decompression bomb?)")
          out.write(chunk, 0, n)
        }
      }
    } catch {
      case e: java.util.zip.DataFormatException =>
        err(s"corrupt FlateDecode data: ${e.getMessage}")
    } finally inf.end()
    out.toByteArray
  }

  /** PNG (predictors 10..15) and TIFF (2) row un-prediction (§7.4.4.4). */
  private def unpredict(data: Array[Byte], predictor: Int, columns: Int,
                        colors: Int, bpc: Int): Array[Byte] = {
    if (predictor <= 1) return data
    val bpp = math.max(1, colors * bpc / 8)
    val rowLen = (columns * colors * bpc + 7) / 8
    if (predictor == 2) { // TIFF horizontal differencing (8-bit only)
      require(bpc == 8, "PDF: TIFF predictor with bpc != 8 unsupported")
      val out = data.clone()
      var r = 0
      while (r * rowLen < out.length) {
        var i = r * rowLen + bpp
        val end = math.min((r + 1) * rowLen, out.length)
        while (i < end) { out(i) = (out(i) + out(i - bpp)).toByte; i += 1 }
        r += 1
      }
      return out
    }
    // PNG: each row prefixed by a filter-type byte
    val nRows = data.length / (rowLen + 1)
    val out = new Array[Byte](nRows * rowLen)
    var prev = new Array[Byte](rowLen)
    var r = 0
    while (r < nRows) {
      val ft = data(r * (rowLen + 1)) & 0xFF
      val row = new Array[Byte](rowLen)
      System.arraycopy(data, r * (rowLen + 1) + 1, row, 0, rowLen)
      var i = 0
      while (i < rowLen) {
        val a = if (i >= bpp) row(i - bpp) & 0xFF else 0
        val b = prev(i) & 0xFF
        val c = if (i >= bpp) prev(i - bpp) & 0xFF else 0
        val x = row(i) & 0xFF
        val v = ft match {
          case 0 => x
          case 1 => x + a
          case 2 => x + b
          case 3 => x + ((a + b) >> 1)
          case 4 =>
            val p = a + b - c
            val pa = math.abs(p - a); val pb = math.abs(p - b)
            val pc = math.abs(p - c)
            x + (if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c)
          case other => err(s"PNG filter type $other")
        }
        row(i) = (v & 0xFF).toByte
        i += 1
      }
      System.arraycopy(row, 0, out, r * rowLen, rowLen)
      prev = row
      r += 1
    }
    out
  }

  private def asciiHexDecode(data: Array[Byte]): Array[Byte] = {
    val out = new ArrayBuffer[Byte]()
    var hi = -1
    var i = 0
    var done = false
    while (i < data.length && !done) {
      val c = data(i) & 0xFF
      if (c == '>') done = true
      else if (!isWs(c)) {
        val d = Character.digit(c, 16)
        if (d < 0) err(s"bad ASCIIHex digit '${c.toChar}'")
        if (hi < 0) hi = d else { out += ((hi << 4) | d).toByte; hi = -1 }
      }
      i += 1
    }
    if (hi >= 0) out += (hi << 4).toByte
    out.toArray
  }

  private def ascii85Decode(data: Array[Byte]): Array[Byte] = {
    val out = new ArrayBuffer[Byte]()
    var acc = 0L
    var n = 0
    var i = 0
    var done = false
    while (i < data.length && !done) {
      val c = data(i) & 0xFF
      if (c == '~') done = true
      else if (c == 'z' && n == 0) { out ++= Array[Byte](0, 0, 0, 0) }
      else if (!isWs(c)) {
        if (c < '!' || c > 'u') err(s"bad ASCII85 char '${c.toChar}'")
        acc = acc * 85 + (c - '!')
        n += 1
        if (n == 5) {
          out += ((acc >> 24) & 0xFF).toByte
          out += ((acc >> 16) & 0xFF).toByte
          out += ((acc >> 8) & 0xFF).toByte
          out += (acc & 0xFF).toByte
          acc = 0; n = 0
        }
      }
      i += 1
    }
    if (n > 0) {
      require(n >= 2, "PDF: bad ASCII85 tail")
      var k = n
      while (k < 5) { acc = acc * 85 + 84; k += 1 }
      val bytes = Array(((acc >> 24) & 0xFF).toByte, ((acc >> 16) & 0xFF).toByte,
        ((acc >> 8) & 0xFF).toByte)
      out ++= bytes.take(n - 1)
    }
    out.toArray
  }

  /**
   * LZWDecode (ISO 32000-1 §7.4.4; the TIFF/GIF-family algorithm).
   * Codes are packed MSB-first at a variable width starting at 9
   * bits; 256 = ClearTable, 257 = EOD, new entries from 258. The
   * dictionary builds FROM the stream — there are no constant tables
   * here to transcribe, which is what admits a native implementation
   * (the FLAC rule). `earlyChange` (DecodeParms, default 1 per spec)
   * widens the code length one entry early — the decoder reads with
   * width w while `size + earlyChange < 2^w` (the libtiff/pdf.js
   * convention). Output is capped like [[inflate]]: LZW bombs err
   * NAMED instead of OOMing the executor.
   */
  private[graft] def lzwDecode(data: Array[Byte],
                               earlyChange: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(math.max(64, data.length * 4))
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    val stack = new Array[Byte](4096)
    var size = 258
    var width = 9
    var prev = -1
    var acc = 0L; var nbits = 0; var i = 0
    def firstByte(code: Int): Byte = {
      var c = code
      while (c >= 258) c = prefix(c)
      c.toByte
    }
    def emit(code: Int): Unit = {
      var sp = 0
      var c = code
      while (c >= 258) { stack(sp) = suffix(c); sp += 1; c = prefix(c) }
      if (out.size().toLong + sp + 1 > MaxDecodedBytes)
        err(s"LZWDecode output exceeds $MaxDecodedBytes bytes " +
          "(decompression bomb?)")
      out.write(c)
      while (sp > 0) { sp -= 1; out.write(stack(sp)) }
    }
    while (true) {
      while (width < 12 && size + earlyChange >= (1 << width)) width += 1
      while (nbits < width) {
        if (i >= data.length) err("truncated LZWDecode data (no EOD)")
        acc = (acc << 8) | (data(i) & 0xFF); nbits += 8; i += 1
      }
      val code = ((acc >> (nbits - width)) & ((1L << width) - 1)).toInt
      nbits -= width
      if (code == 256) { size = 258; width = 9; prev = -1 }
      else if (code == 257) return out.toByteArray
      else if (prev < 0) {
        if (code >= 256) err(s"LZW: non-literal first code $code")
        emit(code); prev = code
      } else {
        if (code > size) err(s"LZW code $code out of range (size $size)")
        if (code == size) { // KwKwK: prev's string + its own first byte
          if (size >= 4096) err("LZW dictionary overflow")
          prefix(size) = prev; suffix(size) = firstByte(prev); size += 1
          emit(code)
        } else {
          emit(code)
          // a full table stops growing (an encoder MAY keep emitting
          // existing codes without a Clear — decode them, add nothing)
          if (size < 4096) {
            prefix(size) = prev; suffix(size) = firstByte(code); size += 1
          }
        }
        prev = code
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** LZW encoder, width-synchronized with [[lzwDecode]] by SIMULATING
    * the decoder's table: the decoder adds an entry while processing
    * every data code after the first since a Clear, so before it
    * reads any code its size is `258 + max(0, d-1)` where d = data
    * codes already consumed since the Clear. Syncing off the
    * encoder's own dictionary instead is off by one exactly when an
    * EOD/Clear follows the final flushed code at a width boundary
    * (entry 511/1023/2047) — a data-dependent corruption a plain
    * round-trip test misses until an input lands on the boundary.
    * Used by the fixture writer and specs — real corpora only ever
    * exercise the decoder. */
  private[graft] def lzwEncode(data: Array[Byte],
                               earlyChange: Int = 1): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(math.max(64, data.length / 2))
    var acc = 0L; var nbits = 0
    var width = 9
    var size = 258 // encoder dictionary size (next code to assign)
    var d = 0 // data codes written since the last Clear
    def put(code: Int, isData: Boolean): Unit = {
      val decSize = 258 + math.max(0, d - 1)
      while (width < 12 && decSize + earlyChange >= (1 << width)) width += 1
      acc = (acc << width) | code; nbits += width
      while (nbits >= 8) {
        out.write(((acc >> (nbits - 8)) & 0xFF).toInt); nbits -= 8
      }
      if (isData) d += 1
    }
    val dict = new java.util.HashMap[Long, Integer]()
    put(256, isData = false)
    var w = -1
    var i = 0
    while (i < data.length) {
      val b = data(i) & 0xFF
      if (w < 0) w = b
      else {
        val key = (w.toLong << 8) | b
        val hit = dict.get(key)
        if (hit != null) w = hit.intValue()
        else {
          put(w, isData = true)
          dict.put(key, size); size += 1
          // clear before the decoder would need a 13-bit code
          if (size >= 4096 - earlyChange) {
            put(256, isData = false)
            dict.clear(); size = 258; width = 9; d = 0
          }
          w = b
        }
      }
      i += 1
    }
    if (w >= 0) put(w, isData = true)
    put(257, isData = false)
    if (nbits > 0) out.write(((acc << (8 - nbits)) & 0xFF).toInt)
    out.toByteArray
  }

  /** RunLengthDecode (ISO 32000-1 §7.4.5): length byte 0..127 copies
    * the next L+1 bytes verbatim; 129..255 repeats the next byte
    * 257−L times; 128 is EOD. */
  private[graft] def runLengthDecode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(math.max(64, data.length * 2))
    var i = 0
    while (i < data.length) {
      val l = data(i) & 0xFF
      i += 1
      if (l == 128) return out.toByteArray
      else if (l < 128) {
        if (i + l + 1 > data.length) err("truncated RunLengthDecode literal")
        if (out.size().toLong + l + 1 > MaxDecodedBytes)
          err(s"RunLengthDecode output exceeds $MaxDecodedBytes bytes")
        out.write(data, i, l + 1); i += l + 1
      } else {
        if (i >= data.length) err("truncated RunLengthDecode run")
        if (out.size().toLong + (257 - l) > MaxDecodedBytes)
          err(s"RunLengthDecode output exceeds $MaxDecodedBytes bytes")
        var k = 257 - l
        while (k > 0) { out.write(data(i) & 0xFF); k -= 1 }
        i += 1
      }
    }
    err("RunLengthDecode data ended without EOD")
  }

  /** RunLength encoder for the fixture writer: repeats ≥3 become
    * runs, everything else literal chunks of ≤128. */
  private[graft] def runLengthEncode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length + 8)
    var i = 0
    while (i < data.length) {
      var run = 1
      while (i + run < data.length && run < 128 &&
        data(i + run) == data(i)) run += 1
      if (run >= 3) {
        out.write(257 - run); out.write(data(i) & 0xFF); i += run
      } else {
        var lit = 1 // scan forward to the next ≥3-repeat (or 128 cap)
        while (i + lit < data.length && lit < 128 &&
          !(i + lit + 2 < data.length && data(i + lit) == data(i + lit + 1) &&
            data(i + lit) == data(i + lit + 2))) lit += 1
        out.write(lit - 1); out.write(data, i, lit); i += lit
      }
    }
    out.write(128)
    out.toByteArray
  }

  // ---------------------------------------------------------------
  // document: xref chain + object access
  // ---------------------------------------------------------------

  final class Document(buf: Array[Byte]) {
    require(buf.length > 8 && buf(0) == '%' && buf(1) == 'P' &&
      buf(2) == 'D' && buf(3) == 'F', "PDF: missing %PDF header")

    // object number -> byte offset, or -> (objstm number, index)
    private val offsets = mutable.Map[Int, Int]()
    private val inObjStm = mutable.Map[Int, (Int, Int)]()
    private val cache = mutable.Map[Int, Obj]()
    // declared BEFORE trailer: recoverByScan sets it during the
    // trailer initializer, and Scala re-initializes later-declared
    // fields after earlier initializers run
    private var rebuilt = false
    val trailer: PDict =
      try parseXrefChain()
      catch {
        case scala.util.control.NonFatal(e) => recoverByScan(e)
      }

    // hop-bounded: a reference cycle ('1 0 obj 2 0 R' / '2 0 obj
    // 1 0 R' — trivially produced by torn files and by the recovery
    // scan's heuristic object map) must surface as a NAMED error the
    // per-row quarantine can catch, never a StackOverflowError
    // (fatal, not NonFatal, kills the whole task)
    def resolve(o: Obj): Obj = {
      var cur = o
      var hops = 0
      while (cur.isInstanceOf[PRef]) {
        hops += 1
        if (hops > 64) err("reference cycle (or >64-deep chain)")
        cur = obj(cur.asInstanceOf[PRef].num)
      }
      cur
    }
    private[sources] def resolveOpt(d: PDict, k: String): Option[Obj] =
      d.get(k).map(resolve)

    // objects whose parse is in progress: a /Length (or ObjStm field)
    // that indirectly references its own object would otherwise
    // recurse obj->resolve->obj unboundedly (StackOverflowError — see
    // resolve's scaladoc)
    private val inFlight = mutable.Set[Int]()

    // explicit get/update rather than getOrElseUpdate: the rebuild
    // path CLEARS the cache from inside what would be the default
    // thunk, and mutating a mutable.HashMap during getOrElseUpdate's
    // default evaluation is undefined behavior
    def obj(num: Int): Obj = cache.get(num).getOrElse {
      if (!inFlight.add(num))
        err(s"object $num participates in a reference cycle")
      try objUncached(num)
      finally inFlight.remove(num)
    }

    private def objUncached(num: Int): Obj = {
      def lookup(): Option[Obj] = {
        // VALIDATED offset lookup: a broken xref (zeroed or shifted
        // offsets — the torn-download shape) parses cleanly but lands
        // object lookups on the wrong body; requiring the parsed
        // header number to match the requested one turns that silent
        // wrong-object read into a recovery trigger
        val direct = offsets.get(num).flatMap { off =>
          try {
            val (n, v) = parseIndirectAt(off)
            if (n == num) Some(v) else None
          } catch { case scala.util.control.NonFatal(_) => None }
        }
        direct.orElse(inObjStm.get(num).flatMap(si =>
          try Some(objFromStream(si._1, si._2))
          catch { case scala.util.control.NonFatal(_) => None }))
      }
      // rebuild only when the xref CLAIMED this object and lied (the
      // zeroed/shifted-offset shape): a reference to an object absent
      // from the xref is spec-DEFINED to read as null (freed objects,
      // dangling /Annots are routine in valid files) and must not
      // trade the valid object map for the heuristic byte scan
      val claimed = offsets.contains(num) || inObjStm.contains(num)
      val v = lookup().getOrElse {
        if (claimed && !rebuilt) {
          rebuilt = true
          rebuildByScan()
          lookup().getOrElse(PNull)
        } else PNull // per spec, a missing object reads as null
      }
      cache.update(num, v)
      v
    }

    private def lexerAt(off: Int): Lexer =
      new Lexer(buf, off, o => resolve(o) match {
        case PNum(v) => v.toInt
        case other => err(s"bad /Length $other")
      })

    private def parseIndirectAt(off: Int): (Int, Obj) = {
      val lx = lexerAt(off)
      lx.skipWs()
      val num = lx.takeKeyword()
      lx.skipWs()
      lx.takeKeyword() // generation
      lx.expectKeyword("obj")
      val v = lx.parseValue()
      (num.toInt, v)
    }

    private def objFromStream(stmNum: Int, idx: Int): Obj = {
      val st = resolve(obj(stmNum)) match {
        case s: PStream => s
        case other => err(s"object stream $stmNum is $other")
      }
      require(st.dict.get("Type").contains(PName("ObjStm")),
        "PDF: /Type /ObjStm expected")
      val n = resolve(st.dict.m("N")) match { case PNum(v) => v.toInt; case _ => err("bad /N") }
      val first = resolve(st.dict.m("First")) match { case PNum(v) => v.toInt; case _ => err("bad /First") }
      require(idx < n, s"PDF: ObjStm index $idx >= /N $n")
      val data = decode(st)
      val head = new Lexer(data, 0)
      var objOff = -1
      var i = 0
      while (i <= idx) {
        head.skipWs(); head.takeKeyword() // object number
        head.skipWs()
        val off = head.takeKeyword().toInt
        if (i == idx) objOff = off
        i += 1
      }
      new Lexer(data, first + objOff).parseValue()
    }

    /** Apply the stream's filter chain. */
    def decode(st: PStream): Array[Byte] = {
      val filters: Seq[Obj] = st.dict.get("Filter").map(resolve) match {
        case None => Seq.empty
        case Some(n: PName) => Seq(n)
        case Some(PArr(v)) => v.map(resolve)
        case Some(other) => err(s"bad /Filter $other")
      }
      val parms: Seq[Option[PDict]] =
        st.dict.get("DecodeParms").orElse(st.dict.get("DP")).map(resolve) match {
          case None => Seq.fill(filters.length)(None)
          case Some(d: PDict) => Some(d) +: Seq.fill(math.max(0, filters.length - 1))(None)
          case Some(PArr(v)) => v.map(resolve).map {
            case d: PDict => Some(d); case _ => None
          }
          case Some(_) => Seq.fill(filters.length)(None)
        }
      var data = st.raw
      filters.zipAll(parms, PNull, None).foreach {
        case (PName("FlateDecode" | "Fl"), pm) =>
          data = inflate(data)
          pm.foreach { d =>
            def iv(k: String, dflt: Int) = resolveOpt(d, k) match {
              case Some(PNum(v)) => v.toInt; case _ => dflt
            }
            data = unpredict(data, iv("Predictor", 1), iv("Columns", 1),
              iv("Colors", 1), iv("BitsPerComponent", 8))
          }
        case (PName("ASCIIHexDecode" | "AHx"), _) => data = asciiHexDecode(data)
        case (PName("ASCII85Decode" | "A85"), _) => data = ascii85Decode(data)
        case (PName("LZWDecode" | "LZW"), pm) =>
          def iv(k: String, dflt: Int) = pm.flatMap(d =>
            resolveOpt(d, k)) match {
            case Some(PNum(v)) => v.toInt; case _ => dflt
          }
          data = lzwDecode(data, iv("EarlyChange", 1))
          data = unpredict(data, iv("Predictor", 1), iv("Columns", 1),
            iv("Colors", 1), iv("BitsPerComponent", 8))
        case (PName("RunLengthDecode" | "RL"), _) =>
          data = runLengthDecode(data)
        case (PName(other), _) =>
          err(s"stream filter /$other unsupported (named boundary: " +
            "Flate/LZW/RunLength/ASCIIHex/ASCII85 decode natively)")
        case (PNull, _) => ()
        case (other, _) => err(s"bad filter entry $other")
      }
      data
    }

    private def parseXrefChain(): PDict = {
      // find startxref in the tail
      val tailLen = math.min(buf.length, 2048)
      val tail = new String(buf, buf.length - tailLen, tailLen, "ISO-8859-1")
      val sx = tail.lastIndexOf("startxref")
      require(sx >= 0, "PDF: no startxref")
      val lx0 = new Lexer(buf, buf.length - tailLen + sx + "startxref".length)
      lx0.skipWs()
      var nextOff = lx0.takeKeyword().toInt
      var trailerDict: PDict = null
      val seen = mutable.Set[Int]()
      while (nextOff >= 0 && !seen.contains(nextOff)) {
        seen += nextOff
        require(nextOff < buf.length, "PDF: xref offset past EOF")
        val lx = lexerAt(nextOff)
        lx.skipWs()
        if (lx.buf(lx.pos) == 'x') { // classic "xref" table
          lx.expectKeyword("xref")
          lx.skipWs()
          while (lx.buf(lx.pos) != 't') { // until "trailer"
            val start = lx.takeKeyword().toInt
            lx.skipWs()
            val count = lx.takeKeyword().toInt
            lx.skipWs()
            var i = 0
            while (i < count) {
              val off = new String(lx.buf, lx.pos, 10, "ISO-8859-1").trim.toInt
              val typ = lx.buf(lx.pos + 17).toChar
              lx.pos += 20
              // skip entries already claimed by a NEWER section
              val num = start + i
              if (typ == 'n' && !offsets.contains(num) &&
                  !inObjStm.contains(num) && num != 0)
                offsets(num) = off
              i += 1
            }
            lx.skipWs()
          }
          lx.expectKeyword("trailer")
          val t = lx.parseValue() match {
            case d: PDict => d; case other => err(s"bad trailer $other")
          }
          if (trailerDict == null) trailerDict = t
          // hybrid-reference: also load the xref STREAM the table points at
          t.get("XRefStm") match {
            case Some(PNum(v)) => loadXrefStream(v.toInt)
            case _ => ()
          }
          nextOff = t.get("Prev") match {
            case Some(PNum(v)) => v.toInt
            case _ => -1
          }
        } else { // xref stream
          val d = loadXrefStream(nextOff)
          if (trailerDict == null) trailerDict = d
          nextOff = d.get("Prev") match {
            case Some(PNum(v)) => v.toInt
            case _ => -1
          }
        }
      }
      require(trailerDict != null, "PDF: no trailer found")
      trailerDict
    }

    private def loadXrefStream(off: Int): PDict = {
      val (_, o) = parseIndirectAt(off)
      val st = o match {
        case s: PStream => s
        case other => err(s"xref stream expected at $off, got $other")
      }
      require(st.dict.get("Type").contains(PName("XRef")),
        "PDF: /Type /XRef expected")
      val w = st.dict.m.get("W") match {
        case Some(PArr(v)) => v.map { case PNum(x) => x.toInt; case _ => err("bad /W") }
        case _ => err("xref stream without /W")
      }
      require(w.length >= 3, "PDF: /W needs 3 entries")
      val size = st.dict.m.get("Size") match {
        case Some(PNum(v)) => v.toInt; case _ => err("xref stream without /Size")
      }
      val index: Seq[(Int, Int)] = st.dict.m.get("Index") match {
        case Some(PArr(v)) =>
          val nums = v.map { case PNum(x) => x.toInt; case _ => err("bad /Index") }
          nums.grouped(2).collect { case Seq(a, b) => (a, b) }.toSeq
        case _ => Seq((0, size))
      }
      val data = decode(st)
      val entryLen = w.sum
      var p = 0
      index.foreach { case (start, count) =>
        var i = 0
        while (i < count) {
          require(p + entryLen <= data.length, "PDF: xref stream truncated")
          def field(k: Int): Long = {
            var v = 0L
            var j = 0
            val base = p + w.take(k).sum
            while (j < w(k)) { v = (v << 8) | (data(base + j) & 0xFF); j += 1 }
            v
          }
          val typ = if (w(0) == 0) 1L else field(0)
          val f2 = field(1)
          val f3 = field(2)
          val num = start + i
          if (num != 0 && !offsets.contains(num) && !inObjStm.contains(num)) {
            if (typ == 1L) offsets(num) = f2.toInt
            else if (typ == 2L) inObjStm(num) = (f2.toInt, f3.toInt)
            // typ 0: free — absent
          }
          p += entryLen
          i += 1
        }
      }
      st.dict
    }

    /**
     * Xref RECOVERY for crawled/torn documents — the fallback that
     * makes real-corpus PDF readers useful: a truncated download, a
     * mis-copied file, or a writer bug breaks the startxref/xref
     * machinery long before it breaks the object bodies. When the
     * chain walk fails, rebuild the object map by scanning the raw
     * bytes for `N G obj` headers (LAST occurrence of each object
     * number wins — the incremental-update rule), register any
     * recoverable object streams, and take the last parseable
     * `trailer` dict carrying /Root (or, for xref-stream-only files,
     * any recovered dict carrying /Root). Best-effort by design: a
     * header-shaped byte run inside a string/stream can shadow a real
     * object, which is the standard trade every recovering reader
     * makes; an unrecoverable file still fails with a NAMED error
     * carrying the original cause.
     */
    /** Rebuild the object map from a raw byte scan — shared by the
      * chain-failure recovery and the validated-lookup retry. */
    private def rebuildByScan(): Unit = {
      offsets.clear(); inObjStm.clear(); cache.clear()
      val s = new String(buf, "ISO-8859-1")
      val objRe =
        "(?<![0-9])(\\d{1,9})[ \t\r\n]+(\\d{1,9})[ \t\r\n]+obj\\b".r
      objRe.findAllMatchIn(s).foreach(m =>
        offsets(m.group(1).toInt) = m.start(1))
      // register recoverable object streams (direct-valued dicts only
      // — an indirect /N//First//Length needs the very xref we lost)
      offsets.toMap.foreach { case (num, off) =>
        try parseIndirectAt(off)._2 match {
          case st: PStream
            if st.dict.get("Type").contains(PName("ObjStm")) =>
            (st.dict.get("N"), st.dict.get("First")) match {
              case (Some(PNum(n)), Some(PNum(_))) =>
                val data = decode(st)
                val head = new Lexer(data, 0)
                var i = 0
                while (i < n.toInt) {
                  head.skipWs()
                  val objNum = head.takeKeyword().toInt
                  head.skipWs(); head.takeKeyword() // offset
                  if (!offsets.contains(objNum))
                    inObjStm(objNum) = (num, i)
                  i += 1
                }
              case _ => ()
            }
          case _ => ()
        } catch { case scala.util.control.NonFatal(_) => () }
      }
    }

    private def recoverByScan(cause: Throwable): PDict = {
      rebuilt = true
      rebuildByScan()
      val s = new String(buf, "ISO-8859-1")
      // newest parseable trailer dict with /Root
      var t: PDict = null
      var idx = s.lastIndexOf("trailer")
      while (t == null && idx >= 0) {
        try {
          val lx = lexerAt(idx + "trailer".length)
          lx.parseValue() match {
            case d: PDict if d.m.contains("Root") => t = d
            case _ => ()
          }
        } catch { case scala.util.control.NonFatal(_) => () }
        idx = s.lastIndexOf("trailer", idx - 1)
      }
      if (t == null) {
        // xref-stream layout: the /Root rides the XRef stream's dict
        offsets.toMap.foreach { case (_, off) =>
          if (t == null)
            try parseIndirectAt(off)._2 match {
              case st: PStream if st.dict.m.contains("Root") => t = st.dict
              case d: PDict if d.m.contains("Root") => t = d
              case _ => ()
            } catch { case scala.util.control.NonFatal(_) => () }
        }
      }
      if (t == null) err("xref recovery found no /Root " +
        s"(original failure: ${cause.getMessage})")
      t
    }
  }

  // ---------------------------------------------------------------
  // fonts
  // ---------------------------------------------------------------

  /** The small glyph-name table for /Differences entries: uniXXXX and
    * uXXXX[XX] by convention, ASCII letters/digits by name, plus the
    * handful of names fixture and common documents use. Anything else
    * is a NAMED error — never a silent drop. */
  private val glyphNames: Map[String, String] = Map(
    "space" -> " ", "exclam" -> "!", "quotedbl" -> "\"",
    "numbersign" -> "#", "dollar" -> "$", "percent" -> "%",
    "ampersand" -> "&", "quotesingle" -> "'", "parenleft" -> "(",
    "parenright" -> ")", "asterisk" -> "*", "plus" -> "+",
    "comma" -> ",", "hyphen" -> "-", "period" -> ".", "slash" -> "/",
    "zero" -> "0", "one" -> "1", "two" -> "2", "three" -> "3",
    "four" -> "4", "five" -> "5", "six" -> "6", "seven" -> "7",
    "eight" -> "8", "nine" -> "9", "colon" -> ":", "semicolon" -> ";",
    "less" -> "<", "equal" -> "=", "greater" -> ">", "question" -> "?",
    "at" -> "@", "bracketleft" -> "[", "backslash" -> "\\",
    "bracketright" -> "]", "asciicircum" -> "^", "underscore" -> "_",
    "grave" -> "`", "braceleft" -> "{", "bar" -> "|",
    "braceright" -> "}", "asciitilde" -> "~", "bullet" -> "•",
    "endash" -> "–", "emdash" -> "—",
    "quoteleft" -> "‘", "quoteright" -> "’",
    "quotedblleft" -> "“", "quotedblright" -> "”",
    "fi" -> "ﬁ", "fl" -> "ﬂ", "degree" -> "°",
    "Euro" -> "€", "trademark" -> "™",
    "copyright" -> "©", "registered" -> "®")

  private def glyphToChar(name: String): String =
    if (name.length == 1) name
    else if (name.startsWith("uni") && name.length == 7)
      Integer.parseInt(name.substring(3), 16).toChar.toString
    else if (name.startsWith("u") && (name.length == 5 || name.length == 7))
      new String(Character.toChars(Integer.parseInt(name.substring(1), 16)))
    else glyphNames.getOrElse(name,
      err(s"glyph name /$name unmapped (named boundary)"))

  /** code-bytes → text for one font. */
  private sealed trait FontDec {
    def dec(bytes: Array[Byte]): String
  }
  private final class SimpleFontDec(charset: java.nio.charset.Charset,
                                    diffs: Map[Int, String]) extends FontDec {
    def dec(bytes: Array[Byte]): String = {
      val sb = new StringBuilder
      bytes.foreach { b =>
        val code = b & 0xFF
        diffs.get(code) match {
          case Some(s) => sb.append(s)
          case None => sb.append(new String(Array(b), charset))
        }
      }
      sb.toString
    }
  }
  private final class CmapFontDec(codeLen: Int, map: Map[Int, String])
      extends FontDec {
    def dec(bytes: Array[Byte]): String = {
      val sb = new StringBuilder
      var i = 0
      while (i + codeLen <= bytes.length) {
        var code = 0
        var j = 0
        while (j < codeLen) { code = (code << 8) | (bytes(i + j) & 0xFF); j += 1 }
        map.get(code) match {
          case Some(s) => sb.append(s)
          case None => err(f"code $code%04X outside the font's ToUnicode CMap")
        }
        i += codeLen
      }
      sb.toString
    }
  }

  private def parseToUnicode(cmap: Array[Byte]): FontDec = {
    val lx = new Lexer(cmap, 0)
    var codeLen = 1
    val map = Map.newBuilder[Int, String]
    def num(b: Array[Byte]): Int = {
      var v = 0
      b.foreach(x => v = (v << 8) | (x & 0xFF))
      v
    }
    def str(b: Array[Byte]): String =
      new String(b, java.nio.charset.StandardCharsets.UTF_16BE)
    while (lx.pos < cmap.length) {
      lx.skipWs()
      if (lx.pos >= cmap.length) ()
      else if ((cmap(lx.pos) & 0xFF) == '<') {
        // CMap boilerplate: <<...>> dicts (CIDSystemInfo etc.) or a
        // stray hex string outside a begin..end section — skip either
        if (lx.pos + 1 < cmap.length && cmap(lx.pos + 1) == '<')
          lx.parseDict()
        else lx.parseHexString()
      } else if ((cmap(lx.pos) & 0xFF) == '/') { lx.parseName() }
      else if ((cmap(lx.pos) & 0xFF) == '(') { lx.parseLiteralString() }
      else if ((cmap(lx.pos) & 0xFF) == '[') { lx.parseArray() }
      else if (isDelim(cmap(lx.pos) & 0xFF)) { lx.pos += 1 }
      else lx.takeKeyword() match {
        case "begincodespacerange" =>
          lx.skipWs()
          while ((cmap(lx.pos) & 0xFF) == '<') {
            val lo = lx.parseHexString()
            lx.skipWs(); lx.parseHexString()
            codeLen = lo.bytes.length
            lx.skipWs()
          }
          lx.expectKeyword("endcodespacerange")
        case "beginbfchar" =>
          lx.skipWs()
          while ((cmap(lx.pos) & 0xFF) == '<') {
            val src = lx.parseHexString()
            lx.skipWs()
            val dst = lx.parseHexString()
            map += num(src.bytes) -> str(dst.bytes)
            lx.skipWs()
          }
          lx.expectKeyword("endbfchar")
        case "beginbfrange" =>
          lx.skipWs()
          while ((cmap(lx.pos) & 0xFF) == '<') {
            val lo = lx.parseHexString()
            lx.skipWs()
            val hi = lx.parseHexString()
            lx.skipWs()
            if ((cmap(lx.pos) & 0xFF) == '[') {
              val arr = lx.parseArray()
              var c = num(lo.bytes)
              arr.v.foreach {
                case PString(b) => map += c -> str(b); c += 1
                case other => err(s"bad bfrange array entry $other")
              }
            } else {
              val dst = lx.parseHexString()
              val base = num(dst.bytes)
              var c = num(lo.bytes)
              val top = num(hi.bytes)
              while (c <= top) {
                map += c -> new String(Character.toChars(base + c - num(lo.bytes)))
                c += 1
              }
            }
            lx.skipWs()
          }
          lx.expectKeyword("endbfrange")
        case _ => () // CMap boilerplate (usecmap, def, dict ops, ...)
      }
    }
    new CmapFontDec(codeLen, map.result())
  }

  private val winAnsi = java.nio.charset.Charset.forName("windows-1252")

  private def fontDecoder(doc: Document, fd: PDict): FontDec = {
    doc.resolveOpt(fd, "ToUnicode") match {
      case Some(st: PStream) => parseToUnicode(doc.decode(st))
      case _ =>
        val subtype = doc.resolveOpt(fd, "Subtype")
        if (subtype.contains(PName("Type0")))
          err("Type0/CID font without /ToUnicode (named boundary: " +
            "composite fonts need the CMap to recover text)")
        doc.resolveOpt(fd, "Encoding") match {
          case None | Some(PName("WinAnsiEncoding")) |
               Some(PName("StandardEncoding")) =>
            new SimpleFontDec(winAnsi, Map.empty)
          case Some(PName("MacRomanEncoding")) =>
            new SimpleFontDec(
              java.nio.charset.Charset.forName("x-MacRoman"), Map.empty)
          case Some(ed: PDict) =>
            val base = doc.resolveOpt(ed, "BaseEncoding") match {
              case Some(PName("MacRomanEncoding")) =>
                java.nio.charset.Charset.forName("x-MacRoman")
              case _ => winAnsi
            }
            val diffs = Map.newBuilder[Int, String]
            doc.resolveOpt(ed, "Differences") match {
              case Some(PArr(items)) =>
                var code = 0
                items.map(doc.resolve).foreach {
                  case PNum(v) => code = v.toInt
                  case PName(g) => diffs += code -> glyphToChar(g); code += 1
                  case other => err(s"bad /Differences entry $other")
                }
              case _ => ()
            }
            new SimpleFontDec(base, diffs.result())
          case Some(other) => err(s"unsupported /Encoding $other")
        }
    }
  }

  // ---------------------------------------------------------------
  // text extraction
  // ---------------------------------------------------------------

  /** Kerning gap (thousandths of an em, TJ numbers) below which a
    * space is inserted — the conventional word-gap threshold. */
  private val KernSpace = -180.0

  def extractText(bytes: Array[Byte]): String = {
    val doc = new Document(bytes)
    require(!doc.trailer.m.contains("Encrypt"),
      "PDF: encrypted document (named boundary: no decryption support)")
    val root = doc.resolve(doc.trailer.m.getOrElse("Root",
      err("trailer without /Root"))) match {
      case d: PDict => d
      case other => err(s"bad catalog $other")
    }
    val sb = new StringBuilder
    def newline(): Unit =
      if (sb.nonEmpty && sb.charAt(sb.length - 1) != '\n') sb.append('\n')

    def go(node: PDict, inheritedRes: Option[PDict],
           depth: Int = 0): Unit = {
      // a /Kids edge back to an ancestor (torn files, recovery-scan
      // object maps) must be a NAMED error, not a StackOverflowError
      if (depth > 64) err("page tree deeper than 64 (cycle?)")
      val res = doc.resolveOpt(node, "Resources") match {
        case Some(d: PDict) => Some(d)
        case _ => inheritedRes
      }
      doc.resolveOpt(node, "Type") match {
        case Some(PName("Pages")) =>
          doc.resolveOpt(node, "Kids") match {
            case Some(PArr(kids)) => kids.foreach { k =>
              doc.resolve(k) match {
                case d: PDict => go(d, res, depth + 1)
                case other => err(s"bad page-tree kid $other")
              }
            }
            case _ => err("/Pages without /Kids")
          }
        case Some(PName("Page")) =>
          val content: Array[Byte] = doc.resolveOpt(node, "Contents") match {
            case None => Array.emptyByteArray
            case Some(st: PStream) => doc.decode(st)
            case Some(PArr(parts)) =>
              val out = new java.io.ByteArrayOutputStream()
              parts.foreach { p =>
                doc.resolve(p) match {
                  case st: PStream => out.write(doc.decode(st)); out.write('\n')
                  case other => err(s"bad /Contents entry $other")
                }
              }
              out.toByteArray
            case Some(other) => err(s"bad /Contents $other")
          }
          extractFromContent(doc, content, res, sb, () => newline())
          newline()
        case other => err(s"bad page-tree node type $other")
      }
    }
    go(doc.resolve(root.m.getOrElse("Pages",
      err("catalog without /Pages"))) match {
      case d: PDict => d
      case other => err(s"bad /Pages $other")
    }, None)
    // strip the trailing newline the last page appended
    while (sb.nonEmpty && sb.charAt(sb.length - 1) == '\n')
      sb.deleteCharAt(sb.length - 1)
    sb.toString
  }

  private def extractFromContent(doc: Document, content: Array[Byte],
                                 res: Option[PDict], sb: StringBuilder,
                                 newline: () => Unit): Unit = {
    val fonts: Map[String, PDict] = res.flatMap(r =>
      doc.resolveOpt(r, "Font").collect { case d: PDict => d }) match {
      case Some(fd) => fd.m.map { case (k, v) =>
        k -> (doc.resolve(v) match {
          case d: PDict => d
          case other => err(s"bad font resource $other")
        })
      }
      case None => Map.empty
    }
    val decCache = mutable.Map[String, FontDec]()
    var cur: FontDec = new SimpleFontDec(winAnsi, Map.empty)
    val lx = new Lexer(content, 0)
    val operands = ArrayBuffer[Obj]()
    def show(s: PString): Unit = sb.append(cur.dec(s.bytes))
    while ({ lx.skipWs(); lx.pos < content.length }) {
      val c = content(lx.pos) & 0xFF
      if (c == '(' || c == '<' || c == '/' || c == '[' || c == '+' ||
          c == '-' || c == '.' || (c >= '0' && c <= '9')) {
        operands += lx.parseValue()
      } else {
        val op = lx.takeKeyword()
        op match {
          case "Tf" =>
            operands.headOption match {
              case Some(PName(f)) =>
                cur = decCache.getOrElseUpdate(f, fonts.get(f) match {
                  case Some(fd) => fontDecoder(doc, fd)
                  case None => err(s"font /$f not in /Resources")
                })
              case _ => err("Tf without a font name")
            }
          case "Tj" =>
            operands.lastOption match {
              case Some(s: PString) => show(s)
              case _ => err("Tj without a string")
            }
          case "'" =>
            newline()
            operands.lastOption match {
              case Some(s: PString) => show(s)
              case _ => err("' without a string")
            }
          case "\"" =>
            newline()
            operands.lastOption match {
              case Some(s: PString) => show(s)
              case _ => err("\" without a string")
            }
          case "TJ" =>
            operands.lastOption match {
              case Some(PArr(items)) => items.foreach {
                case s: PString => show(s)
                case PNum(v) => if (v < KernSpace) sb.append(' ')
                case other => err(s"bad TJ element $other")
              }
              case _ => err("TJ without an array")
            }
          case "Td" | "TD" | "T*" | "Tm" => newline()
          case "ET" => newline()
          case "BI" =>
            // inline image: scan for the EI operator delimiter
            var p = lx.pos
            var found = -1
            while (found < 0 && p + 1 < content.length) {
              if (content(p) == 'E' && content(p + 1) == 'I' &&
                  (p + 2 >= content.length || isWs(content(p + 2) & 0xFF)) &&
                  (p == 0 || isWs(content(p - 1) & 0xFF))) found = p + 2
              p += 1
            }
            if (found < 0) err("unterminated inline image")
            lx.pos = found
          case _ => () // path/color/state operators carry no text
        }
        operands.clear()
      }
    }
  }

  // ---------------------------------------------------------------
  // Spark surface (quarantine accounting, the sources.Csv pattern)
  // ---------------------------------------------------------------

  /**
   * Extract text from `(id, pdfBytes)` rows → `(id, text, pdf_error)`
   * with quarantine accounting: a payload that fails extraction keeps
   * its row with `text` null and the NAMED error in `pdf_error`
   * (the `sources.Csv` pattern) instead of failing the job. Runs as a
   * deterministic per-row byte walk — the same opaque-payload shape
   * as the multimodal decoders; nothing crosses rows, so it scales
   * linearly and never shuffles.
   */
  def extractTexts(ds: Dataset[(Long, Array[Byte])]): DataFrame =
    Payload.extractTexts(ds, "pdf_error")(extractText)

  // ---------------------------------------------------------------
  // fixture writer (independent spec-valid PDF builder)
  // ---------------------------------------------------------------

  private def escapeLit(s: String): String =
    s.flatMap {
      case '(' => "\\("
      case ')' => "\\)"
      case '\\' => "\\\\"
      case c => c.toString
    }

  private def deflate(data: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(data); d.finish()
    val out = new java.io.ByteArrayOutputStream(data.length)
    val chunk = new Array[Byte](8192)
    while (!d.finished()) out.write(chunk, 0, d.deflate(chunk))
    d.end()
    out.toByteArray
  }

  /**
   * Build a one-page PDF carrying `title` and `body` as extractable
   * text, across the three xref layouts real documents use:
   *  - variant 0: classic xref table, uncompressed content, Tj;
   *  - variant 1: classic xref table, FlateDecode content, the body
   *    shown as a TJ array with −200 kerning gaps replacing spaces;
   *  - variant 2: cross-reference STREAM + object stream (the PDF
   *    1.5+ layout) with FlateDecode content;
   *  - variant 3: classic xref table, LZWDecode content (the filter
   *    older scanned/scientific corpora carry);
   *  - variant 4: classic xref table, a [RunLengthDecode LZWDecode]
   *    filter CHAIN (decode order: RunLength first, then LZW).
   * All variants extract to exactly `title + "\n" + body`.
   */
  def buildPdf(title: String, body: String, variant: Int): Array[Byte] = {
    val contentStr = variant match {
      case 1 =>
        val parts = body.split(" ", -1)
          .map(w => s"(${escapeLit(w)})").mkString(" -200 ")
        s"BT /F1 12 Tf 72 720 Td (${escapeLit(title)}) Tj 0 -14 Td [ $parts ] TJ ET"
      case _ =>
        s"BT /F1 12 Tf 72 720 Td (${escapeLit(title)}) Tj 0 -14 Td (${escapeLit(body)}) Tj ET"
    }
    val contentRaw = contentStr.getBytes("ISO-8859-1")
    val (contentBytes, contentFilter) = variant match {
      case 0 => (contentRaw, "")
      case 3 => (lzwEncode(contentRaw), " /Filter /LZWDecode")
      case 4 => // decode order RunLength→LZW, so encode LZW→RunLength
        (runLengthEncode(lzwEncode(contentRaw)),
          " /Filter [ /RunLengthDecode /LZWDecode ]")
      case _ => (deflate(contentRaw), " /Filter /FlateDecode")
    }

    val font = "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica " +
      "/Encoding /WinAnsiEncoding >>"
    val page = "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
      "/Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >>"
    val pages = "<< /Type /Pages /Kids [3 0 R] /Count 1 >>"
    val catalog = "<< /Type /Catalog /Pages 2 0 R >>"

    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    def wb(b: Array[Byte]): Unit = out.write(b, 0, b.length)
    w("%PDF-1.5\n%âãÏÓ\n")

    if (variant != 2) {
      val offs = mutable.Map[Int, Int]()
      def obj(num: Int)(gen: => Unit): Unit = {
        offs(num) = out.size()
        w(s"$num 0 obj\n"); gen; w("\nendobj\n")
      }
      obj(1)(w(catalog))
      obj(2)(w(pages))
      obj(3)(w(page))
      obj(4) {
        w(s"<< /Length ${contentBytes.length}$contentFilter >>\nstream\n")
        wb(contentBytes)
        w("\nendstream")
      }
      obj(5)(w(font))
      val xrefOff = out.size()
      w("xref\n0 6\n")
      w("0000000000 65535 f \n")
      (1 to 5).foreach(n => w(f"${offs(n)}%010d 00000 n \n"))
      w(s"trailer\n<< /Size 6 /Root 1 0 R >>\nstartxref\n$xrefOff\n%%EOF\n")
    } else {
      // objects 1,2,3,5 live in an object stream (6); content (4)
      // must stay a top-level stream (streams cannot nest in ObjStm)
      val inner = Seq(1 -> catalog, 2 -> pages, 3 -> page, 5 -> font)
      val innerBodies = inner.map(_._2.getBytes("ISO-8859-1"))
      val headerPairs = new StringBuilder
      var running = 0
      inner.zip(innerBodies).foreach { case ((num, _), b) =>
        headerPairs.append(s"$num $running ")
        running += b.length + 1
      }
      val headBytes = headerPairs.toString.getBytes("ISO-8859-1")
      val stmPayload = new java.io.ByteArrayOutputStream()
      stmPayload.write(headBytes)
      innerBodies.foreach { b => stmPayload.write(b); stmPayload.write('\n') }
      val objStmData = deflate(stmPayload.toByteArray)

      val contentOff = out.size()
      w(s"4 0 obj\n<< /Length ${contentBytes.length}$contentFilter >>\nstream\n")
      wb(contentBytes)
      w("\nendstream\nendobj\n")
      val objStmOff = out.size()
      w(s"6 0 obj\n<< /Type /ObjStm /N 4 /First ${headBytes.length} " +
        s"/Length ${objStmData.length} /Filter /FlateDecode >>\nstream\n")
      wb(objStmData)
      w("\nendstream\nendobj\n")
      val xrefOff = out.size()
      // xref stream: W [1 4 2]; entries for objects 0..7
      val entries = ArrayBuffer[(Int, Int, Int)]()
      entries += ((0, 0, 65535)) // free
      entries += ((2, 6, 0)) // 1 -> objstm 6 idx 0
      entries += ((2, 6, 1)) // 2
      entries += ((2, 6, 2)) // 3
      entries += ((1, contentOff, 0)) // 4
      entries += ((2, 6, 3)) // 5
      entries += ((1, objStmOff, 0)) // 6
      entries += ((1, xrefOff, 0)) // 7 (this xref stream)
      val xrefData = new java.io.ByteArrayOutputStream()
      entries.foreach { case (t, f2, f3) =>
        xrefData.write(t)
        xrefData.write((f2 >> 24) & 0xFF); xrefData.write((f2 >> 16) & 0xFF)
        xrefData.write((f2 >> 8) & 0xFF); xrefData.write(f2 & 0xFF)
        xrefData.write((f3 >> 8) & 0xFF); xrefData.write(f3 & 0xFF)
      }
      val xz = deflate(xrefData.toByteArray)
      w(s"7 0 obj\n<< /Type /XRef /Size 8 /W [1 4 2] /Root 1 0 R " +
        s"/Length ${xz.length} /Filter /FlateDecode >>\nstream\n")
      wb(xz)
      w("\nendstream\nendobj\n")
      w(s"startxref\n$xrefOff\n%%EOF\n")
    }
    out.toByteArray
  }
}
