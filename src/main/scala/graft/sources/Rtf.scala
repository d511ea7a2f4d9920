package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset}

/**
 * RTF text extraction — the third legacy document format real dumps
 * carry beside `.doc` and PDF, written from the public Microsoft RTF
 * specification (1.5–1.9.1; the token grammar is stable across
 * versions). JDK-only: RTF is 7-bit ASCII text with escapes, so the
 * whole parser is one linear byte walk.
 *
 * Grammar (spec §"Syntax"): control words `\word[N][ ]` (letter run +
 * optional signed numeric parameter + one optional swallowed space),
 * control symbols `\X`, groups `{…}`, plain text. Extraction rules:
 *
 *  - DESTINATIONS that never contribute display text are skipped with
 *    their whole group: `fonttbl colortbl stylesheet info pict
 *    object header footer footnote field-instructions…`, plus EVERY
 *    `{\*\…}` group (the spec's forward-compatibility rule: an
 *    unknown starred destination MUST be ignored);
 *  - `{\field {\*\fldinst …} {\fldrslt …}}` keeps only the result —
 *    the same rule Docx/Doc apply to field instructions;
 *  - `\'hh` decodes one byte in the document codepage (`\ansicpgN`,
 *    default windows-1252 — JDK charsets only, unknown → NAMED);
 *  - `\uN` emits the Unicode scalar and skips the next `\ucN`
 *    fallback characters (uc state is GROUP-SCOPED, as the spec
 *    requires — a `{\uc2 …}` group must not leak its skip count);
 *    negative N wraps per the spec's signed-16-bit encoding;
 *  - `\par`/`\line` → newline, `\tab`/`\cell` → tab, `\row` →
 *    newline, `\~` → space, `\-`/`\_` → hyphen-ish, `\{ \} \\` →
 *    literals; CR/LF in the source are SYNTAX (ignored), not text;
 *  - `\binN` swallows exactly N raw bytes (picture payloads — the one
 *    place RTF carries binary, and the classic parser bug when
 *    treated as text).
 *
 * Honest boundaries (NAMED): payloads not starting `{\rtf`,
 * unbalanced groups / truncation, unknown `\ansicpg` codepages,
 * encrypted containers (RTF has none — a `.doc`/OLE payload is
 * detected and named at the magic check). The Spark surface
 * quarantines per-row like [[Pdf.extractTexts]].
 *
 * The reference engine (parquery) has no document surface — this is
 * a training-data-pipeline extension (SURVEY §8), verified against
 * fixture files from [[buildRtf]] (an independent writer that
 * alternates the `\'hh` and `\uN` escape paths).
 */
object Rtf {

  private def err(msg: String): Nothing =
    throw new IllegalArgumentException(s"RTF: $msg")

  /** Destinations whose groups carry no display text. `fldinst` is
    * here (field instructions); `fldrslt` is NOT (field results are
    * the displayed text). */
  private val SkipDestinations = Set(
    "fonttbl", "colortbl", "stylesheet", "info", "pict", "object",
    "header", "headerl", "headerr", "headerf", "footer", "footerl",
    "footerr", "footerf", "footnote", "annotation", "xe", "tc",
    "fldinst", "ftnsep", "ftnsepc", "aftnsep", "aftnsepc", "revtbl",
    "listtable", "listoverridetable", "generator", "themedata",
    "colorschememapping", "datastore", "latentstyles", "pgdsctbl")

  def extractText(bytes: Array[Byte]): String = {
    if (bytes.length >= 4 && (bytes(0) & 0xFF) == 0xD0 &&
        (bytes(1) & 0xFF) == 0xCF)
      err("OLE compound file (.doc?) — not RTF")
    if (bytes.length < 5 || bytes(0) != '{' || bytes(1) != '\\' ||
        bytes(2) != 'r' || bytes(3) != 't' || bytes(4) != 'f')
      err("not an RTF payload (missing {\\rtf header)")

    var charset = java.nio.charset.Charset.forName("windows-1252")
    val out = new StringBuilder
    // group-scoped state: (uc skip count, suppressing output?)
    var uc = 1
    var skip = false
    var stack = List.empty[(Int, Boolean)]
    var pendingUcSkip = 0
    var i = 0
    val n = bytes.length

    def append(c: Char): Unit = {
      if (pendingUcSkip > 0) pendingUcSkip -= 1
      else if (!skip) out.append(c)
    }

    while (i < n) {
      (bytes(i) & 0xFF) match {
        case '{' =>
          stack = (uc, skip) :: stack
          i += 1
        case '}' =>
          stack match {
            case (u, s) :: rest => uc = u; skip = s; stack = rest
            case Nil => err("unbalanced '}'")
          }
          i += 1
        case '\\' =>
          if (i + 1 >= n) err("truncated control sequence")
          val c = bytes(i + 1) & 0xFF
          if (c == '\'') { // \'hh — one byte in the document codepage
            if (i + 3 >= n) err("truncated \\'hh escape")
            val hi = Character.digit(bytes(i + 2), 16)
            val lo = Character.digit(bytes(i + 3), 16)
            if (hi < 0 || lo < 0) err("bad \\'hh escape")
            val decoded = new String(Array(((hi << 4) | lo).toByte), charset)
            decoded.foreach(append)
            i += 4
          } else if (c == '\\' || c == '{' || c == '}') {
            append(c.toChar); i += 2
          } else if (c == '~') { append(' '); i += 2 }
          else if (c == '-' || c == '_') { append('-'); i += 2 }
          else if (c == '*') {
            // {\*\dest …}: ignorable destination — suppress the group
            skip = true; i += 2
          } else if (c == '\r' || c == '\n') {
            // \<newline> is a \par alias per the spec
            append('\n'); i += 2
          } else if (Character.isLetter(c)) {
            // control word: letters, optional signed parameter
            var j = i + 1
            val w = new StringBuilder
            while (j < n && Character.isLetter(bytes(j) & 0xFF)) {
              w.append((bytes(j) & 0xFF).toChar); j += 1
            }
            var param = 0L
            var hasParam = false
            var neg = false
            if (j < n && bytes(j) == '-') { neg = true; j += 1 }
            while (j < n && Character.isDigit(bytes(j) & 0xFF)) {
              hasParam = true
              param = param * 10 + (bytes(j) - '0')
              if (param > Int.MaxValue) err("control parameter overflow")
              j += 1
            }
            if (neg) param = -param
            if (j < n && bytes(j) == ' ') j += 1 // swallowed delimiter
            val word = w.toString
            word match {
              case "par" | "line" | "row" | "sect" | "page" => append('\n')
              case "tab" | "cell" => append('\t')
              case "emdash" | "endash" => append('-')
              case "lquote" | "rquote" => append('\'')
              case "ldblquote" | "rdblquote" => append('"')
              case "bullet" => append('*')
              case "uc" => uc = math.max(0, param.toInt)
              case "u" =>
                // signed-16-bit wrap per spec; then skip uc fallbacks
                val cp = (if (param < 0) param + 65536 else param).toInt
                if (!skip) {
                  if (pendingUcSkip > 0) pendingUcSkip -= 1
                  else if (Character.isValidCodePoint(cp))
                    out.appendAll(Character.toChars(cp))
                }
                pendingUcSkip = uc
              case "ansicpg" =>
                charset =
                  try java.nio.charset.Charset.forName(
                    if (param == 65001) "UTF-8" else s"windows-$param")
                  catch {
                    case _: Exception =>
                      err(s"unsupported \\ansicpg$param codepage")
                  }
              case "bin" =>
                if (param < 0 || j + param > n) err("\\bin past end of data")
                j += param.toInt // raw bytes: never text
              case d if SkipDestinations.contains(d) => skip = true
              case _ => () // formatting word: no text contribution
            }
            i = j
          } else err(s"bad control symbol '\\${c.toChar}'")
        case '\r' | '\n' => i += 1 // source line breaks are syntax
        case b =>
          // plain text byte in the document codepage (ASCII fast path)
          if (b < 0x80) append(b.toChar)
          else {
            val decoded = new String(Array(b.toByte), charset)
            decoded.foreach(append)
          }
          i += 1
      }
    }
    if (stack.nonEmpty) err(s"unbalanced groups (${stack.length} open)")
    // trailing whitespace the closing \par chain left
    var end = out.length
    while (end > 0 && (out.charAt(end - 1) == '\n' ||
      out.charAt(end - 1) == ' ')) end -= 1
    out.substring(0, end)
  }

  /** Spark surface: per-row quarantine accounting (the
    * [[Pdf.extractTexts]] pattern). */
  def extractTexts(ds: Dataset[(Long, Array[Byte])]): DataFrame =
    Payload.extractTexts(ds, "rtf_error")(extractText)

  // ---------------------------------------------------------------
  // fixture writer
  // ---------------------------------------------------------------

  /** Escape one char for an RTF body: ASCII specials by symbol,
    * cp1252-able non-ASCII as `\'hh` when `hexEscapes`, anything
    * else as `\uN ?`. */
  private def esc(c: Char, hexEscapes: Boolean,
                  cs: java.nio.charset.Charset): String = c match {
    case '\\' => "\\\\"
    case '{' => "\\{"
    case '}' => "\\}"
    case '\n' => "\\par "
    case '\t' => "\\tab "
    case c if c < 0x80 => c.toString
    case c =>
      val b = c.toString.getBytes(cs)
      if (hexEscapes && b.length == 1 && new String(b, cs) == c.toString)
        f"\\'${b(0) & 0xFF}%02x"
      else s"\\u${c.toInt}?"
  }

  /**
   * Build a spec-valid RTF document: header with font/color tables
   * (must be skipped), an `\info` destination (skipped), a starred
   * unknown destination (the forward-compat rule), the title
   * paragraph, a field whose instruction must be dropped and result
   * kept, then the body. `hexEscapes` selects `\'hh` (cp1252) vs
   * `\uN` encoding for non-ASCII — both real-world shapes.
   */
  def buildRtf(title: String, body: String,
               hexEscapes: Boolean = false): Array[Byte] = {
    val cs = java.nio.charset.Charset.forName("windows-1252")
    def t(s: String) = s.flatMap(esc(_, hexEscapes, cs))
    val rtf = "{\\rtf1\\ansi\\ansicpg1252\\deff0" +
      "{\\fonttbl{\\f0\\froman Times New Roman;}{\\f1\\fswiss Arial;}}" +
      "{\\colortbl;\\red0\\green0\\blue0;\\red255\\green0\\blue0;}" +
      "{\\info{\\title metadata title NOT body text}{\\author nobody}}" +
      "{\\*\\unknowndest this whole group must be ignored}" +
      "\\viewkind4\\uc1\\pard\\f0\\fs24 " +
      t(title) + "\\par\n" +
      "{\\field{\\*\\fldinst HYPERLINK \"http://x.test\"}" +
      "{\\fldrslt " + t(body) + "}}" +
      "\\par}"
    rtf.getBytes("ISO-8859-1")
  }
}
