package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/**
 * MediaWiki XML dump ingestion + wikitext→text extraction — the
 * highest-hit-rate corpus format of them all: Wikipedia is in
 * essentially every pretraining mix, shipped as
 * `pages-articles*.xml.bz2` (bzip2 is block-splittable, and the
 * Hadoop codec is built in, so a multi-GB dump parallelizes across
 * tasks WITHOUT re-compression — unlike the gzip corpora).
 *
 * Written from the public dump format
 * (https://www.mediawiki.org/xml/export-0.10/: `<mediawiki>` root,
 * `<siteinfo>` header, then `<page>` elements carrying `<title>`,
 * `<ns>`, optional `<redirect title=…/>`, and `<revision><text>`)
 * and the public wikitext markup rules. Two layers:
 *
 *  1. **Dump split + page parse.** The Spark surface splits the dump
 *     on the `</page>` close tag via the text source's custom
 *     `lineSep` — the standard Hadoop trick for MediaWiki dumps:
 *     page TEXT is XML-escaped in dumps, so a literal `</page>` can
 *     only be structure, never content. Each fragment then parses
 *     with StAX (per-thread factory, DTD and external entities OFF —
 *     the [[Docx]] XXE discipline; a dump is untrusted input).
 *  2. **Wikitext→text.** Linear bounded walks, never backtracking
 *     regex over whole pages: comments and `<ref>` blocks drop;
 *     `{{templates}}` and `{|tables|}` drop with nesting (DEPTH-
 *     CAPPED — a crafted brace bomb errs NAMED, the quarantine
 *     contract); `[[target|label]]` keeps the label, `[[File:…]]` /
 *     `[[Image:…]]` / `[[Category:…]]` drop whole including nested
 *     caption links; `[http://… label]` keeps the label;
 *     bold/italic quote runs unwrap; headings and list markers
 *     strip; HTML-ish tags strip; entities decode leniently
 *     (unknown names stay — wikitext is not XML, [[Epub]]'s hard
 *     error contract would quarantine half of Wikipedia).
 *
 * Scale shape: the dump read is `spark.read.text` with a custom
 * delimiter — splittable over bzip2 blocks, so one 20 GB
 * pages-articles dump becomes hundreds of tasks with NO driver-side
 * work; extraction is a per-row typed map (codegen-friendly
 * shuffle-free narrow stage). Per-page caps ride the same
 * [[Pdf.MaxDecodedBytes]] ceiling as every other extractor.
 *
 * The reference engine (parquery) reads parquet only — this is a
 * training-data-pipeline extension (SURVEY §8).
 */
object Wiki {

  private def err(msg: String): Nothing =
    throw new IllegalArgumentException(s"WIKI: $msg")

  /** One dump page: title, namespace, redirect target (if any), raw
    * wikitext. */
  final case class Page(title: String, ns: Int,
                        redirect: Option[String], text: String)

  // ---------------------------------------------------------------
  // page XML parse (StAX, XXE off)
  // ---------------------------------------------------------------

  /** Parse one `<page>…</page>` fragment. Missing title errs NAMED;
    * a page with no revision text yields empty text (deleted-text
    * stubs exist in real dumps). */
  def parsePage(xml: String): Page = {
    if (xml.length > Pdf.MaxDecodedBytes)
      err(s"page fragment exceeds the ${Pdf.MaxDecodedBytes} byte cap")
    val r = Payload.reader(xml, "WIKI")
    var title: String = null
    var ns = 0
    var sawNs = false
    var redirect: Option[String] = None
    var text: String = null
    var path = List.empty[String]
    val buf = new StringBuilder
    try {
      while (r.hasNext) {
        r.next() match {
          case javax.xml.stream.XMLStreamConstants.START_ELEMENT =>
            path ::= r.getLocalName
            buf.clear()
            if (r.getLocalName == "redirect")
              redirect = Some(Option(
                r.getAttributeValue(null, "title")).getOrElse(""))
          case javax.xml.stream.XMLStreamConstants.CHARACTERS |
               javax.xml.stream.XMLStreamConstants.CDATA =>
            if (buf.length + r.getTextLength > Pdf.MaxDecodedBytes)
              err("page text exceeds the decode cap")
            buf.append(r.getText)
          case javax.xml.stream.XMLStreamConstants.END_ELEMENT =>
            path match {
              case "title" :: "page" :: _ => title = buf.toString
              case "ns" :: "page" :: _ =>
                ns = try buf.toString.trim.toInt
                catch { case _: NumberFormatException =>
                  err(s"non-numeric <ns> '${buf.toString.trim.take(20)}'") }
                sawNs = true
              case "text" :: "revision" :: "page" :: _ =>
                text = buf.toString
              case _ => ()
            }
            if (path.nonEmpty) path = path.tail
          case _ => ()
        }
      }
    } finally r.close()
    if (title == null) err("page without <title>")
    if (!sawNs) err(s"page '$title' without <ns>")
    Page(title, ns, redirect, if (text == null) "" else text)
  }

  // ---------------------------------------------------------------
  // wikitext → text
  // ---------------------------------------------------------------

  /** MediaWiki's own template expansion depth limit is 40; anything
    * deeper in a dump is a crafted brace bomb and errs NAMED. */
  private val MaxNesting = 100
  private val MaxLinkDepth = 16

  /** `<!-- … -->` comments drop; an unterminated open comment drops
    * to end of page (the MediaWiki parser's behavior). */
  private[graft] def stripComments(s: String): String = {
    // java.lang.StringBuilder: the (CharSequence, from, to) append —
    // Scala's StringBuilder auto-tuples those 3 args into append(Any)
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val open = s.indexOf("<!--", i)
      if (open < 0) { sb.append(s, i, s.length); i = s.length }
      else {
        sb.append(s, i, open)
        val close = s.indexOf("-->", open + 4)
        i = if (close < 0) s.length else close + 3
      }
    }
    sb.toString
  }

  /** `<ref…>…</ref>` and self-closing `<ref…/>` drop (citations are
    * not display text). Case-insensitive on the tag name; an
    * unterminated open ref drops to end of page. */
  private[graft] def stripRefs(s: String): String = {
    val lower = s.toLowerCase
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val open = lower.indexOf("<ref", i)
      val isRef = open >= 0 && open + 4 < s.length &&
        (lower.charAt(open + 4) == '>' || lower.charAt(open + 4) == ' ' ||
          lower.charAt(open + 4) == '/' || lower.charAt(open + 4) == '\t')
      if (!isRef) {
        val stop = if (open < 0) s.length else open
        sb.append(s, i, stop)
        i = if (open < 0) s.length
            else { sb.append(s, open, math.min(open + 4, s.length))
                   open + 4 }
      } else {
        sb.append(s, i, open)
        val gt = lower.indexOf('>', open)
        if (gt < 0) i = s.length // unterminated tag
        else if (lower.charAt(gt - 1) == '/') i = gt + 1 // <ref name=x/>
        else {
          val close = lower.indexOf("</ref>", gt)
          i = if (close < 0) s.length else close + 6
        }
      }
    }
    sb.toString
  }

  /** `{{templates}}` / `{{{params}}}` and `{|tables|}` drop with
    * nesting; depth past [[MaxNesting]] errs NAMED; unbalanced opens
    * drop to end of page. A marker STACK (entry = opening brace
    * count, 2 or 3) keeps `{{a{{b}}}}` (close run 4 = two closes)
    * and `{{{p}}}` (close run 3 = one close) both exact. Single
    * linear pass — a brace bomb costs O(n), never O(n²). */
  private[graft] def stripBracesAndTables(s: String): String = {
    val sb = new StringBuilder(s.length)
    val n = s.length
    var i = 0
    var stack = List.empty[Int] // 2 = {{…}}, 3 = {{{…}}}
    var tbl = 0
    def checkDepth(): Unit =
      if (stack.length + tbl > MaxNesting)
        err(s"template/table nesting deeper than $MaxNesting " +
          "(brace bomb?)")
    while (i < n) {
      val c = s.charAt(i)
      if (c == '{' && i + 1 < n && s.charAt(i + 1) == '{') {
        val three = i + 2 < n && s.charAt(i + 2) == '{'
        stack ::= (if (three) 3 else 2)
        checkDepth()
        i += (if (three) 3 else 2)
      } else if (c == '}' && i + 1 < n && s.charAt(i + 1) == '}' &&
          stack.nonEmpty) {
        val m = stack.head
        stack = stack.tail
        // a 3-marker closed by only `}}` is tolerated (lenient)
        val take = if (m == 3 && i + 2 < n && s.charAt(i + 2) == '}') 3
                   else 2
        i += take
      } else if (c == '{' && i + 1 < n && s.charAt(i + 1) == '|' &&
          stack.isEmpty) {
        tbl += 1
        checkDepth()
        i += 2
      } else if (c == '|' && i + 1 < n && s.charAt(i + 1) == '}' &&
          tbl > 0 && stack.isEmpty) {
        tbl -= 1
        i += 2
      } else {
        if (stack.isEmpty && tbl == 0) sb.append(c)
        i += 1
      }
    }
    sb.toString
  }

  /** Link prefixes whose whole `[[…]]` (nested caption links
    * included) is non-display: media and category plumbing. */
  private val DropPrefixes = Set("file", "image", "category")

  /** Index of the first top-level `|` in a link body (pipes inside
    * nested `[[…]]` belong to the nested link). */
  private def topLevelPipe(s: String): Int = {
    var depth = 0
    var i = 0
    while (i < s.length) {
      if (s.startsWith("[[", i)) { depth += 1; i += 2 }
      else if (s.startsWith("]]", i)) { depth -= 1; i += 2 }
      else if (s.charAt(i) == '|' && depth == 0) return i
      else i += 1
    }
    -1
  }

  /** `[[target|label]]` → label, `[[target]]` → target,
    * `[[File:…]]`/`[[Image:…]]`/`[[Category:…]]` → nothing (the
    * caption, nested links and all, is not body text). A leading
    * `:` (the visible-link escape, `[[:Category:X]]`) strips.
    * Nested labels re-process to a bounded depth, then pass raw. */
  private[graft] def stripLinks(s: String, depth: Int = 0): String = {
    if (depth > MaxLinkDepth) return s
    val sb = new StringBuilder(s.length)
    val n = s.length
    var i = 0
    while (i < n) {
      if (s.startsWith("[[", i)) {
        var d = 1
        var j = i + 2
        while (j < n && d > 0) {
          if (s.startsWith("[[", j)) { d += 1; j += 2 }
          else if (s.startsWith("]]", j)) { d -= 1; j += 2 }
          else j += 1
        }
        if (d > 0) i = n // unterminated: drop remainder
        else {
          val inner = s.substring(i + 2, j - 2)
          val pipe = topLevelPipe(inner)
          val rawTarget = if (pipe < 0) inner else inner.substring(0, pipe)
          // leading ':' is the visible-link escape ([[:Category:X]]
          // SHOWS as a link) — it disarms the drop, never the label
          val escaped = rawTarget.startsWith(":")
          val target = rawTarget.stripPrefix(":")
          val colon = target.indexOf(':')
          val prefix =
            if (colon > 0) target.substring(0, colon).trim.toLowerCase
            else ""
          if (escaped || !DropPrefixes.contains(prefix)) {
            val label =
              if (pipe < 0) target else inner.substring(pipe + 1)
            sb.append(stripLinks(label, depth + 1))
          }
          i = j
        }
      } else {
        sb.append(s.charAt(i))
        i += 1
      }
    }
    sb.toString
  }

  /** `[http://url label]` → label; bare `[http://url]` → nothing. */
  private val ExternalLinkRe =
    "\\[(?:https?|ftp)://[^ \\]\\n]*(?: +([^\\]\\n]*))?\\]".r

  /** HTML-ish tags (`<br/>`, `<small>`, `<nowiki>`, …): tags strip,
    * content stays. Bounded tag body — an unclosed `<` is text. */
  private val TagRe = "</?[A-Za-z][^>\\n]{0,200}/?>".r

  /** The lenient wikitext entity set: XML natives + the punctuation
    * and Latin-1 names routine in article prose. Unknown names STAY
    * (wikitext is not XML; erring would quarantine real pages). */
  private val EntityMap = Map(
    "amp" -> 38, "lt" -> 60, "gt" -> 62, "quot" -> 34, "apos" -> 39,
    "nbsp" -> 160, "ndash" -> 8211, "mdash" -> 8212, "hellip" -> 8230,
    "lsquo" -> 8216, "rsquo" -> 8217, "ldquo" -> 8220, "rdquo" -> 8221,
    "deg" -> 176, "middot" -> 183, "laquo" -> 171, "raquo" -> 187,
    "copy" -> 169, "reg" -> 174, "sect" -> 167, "para" -> 182,
    "times" -> 215, "minus" -> 8722, "prime" -> 8242, "Prime" -> 8243,
    "eacute" -> 233, "egrave" -> 232, "agrave" -> 224, "ccedil" -> 231,
    "uuml" -> 252, "ouml" -> 246, "auml" -> 228, "szlig" -> 223,
    "oslash" -> 248, "aring" -> 229, "aelig" -> 230, "ntilde" -> 241)

  private val EntityRe =
    "&(#[0-9]{1,7}|#x[0-9A-Fa-f]{1,6}|[A-Za-z][A-Za-z0-9]{1,10});".r

  private[graft] def decodeEntities(s: String): String =
    EntityRe.replaceAllIn(s, m => {
      val name = m.group(1)
      val cp =
        if (name.startsWith("#x") || name.startsWith("#X"))
          try Some(Integer.parseInt(name.substring(2), 16))
          catch { case _: NumberFormatException => None }
        else if (name.startsWith("#"))
          try Some(Integer.parseInt(name.substring(1)))
          catch { case _: NumberFormatException => None }
        else EntityMap.get(name)
      cp.filter(c => c > 0 && c <= 0x10FFFF &&
          !(c >= 0xD800 && c <= 0xDFFF))
        .map(c => java.util.regex.Matcher.quoteReplacement(
          new String(Character.toChars(c))))
        .getOrElse(java.util.regex.Matcher.quoteReplacement(m.matched))
    })

  private val HeadingRe = "^(={1,6})\\s*(.*?)\\s*={1,6}\\s*$".r

  /** Wikitext → display text: the full strip chain, then per-line
    * cleanup (headings unwrap, list markers and horizontal rules
    * drop, blank lines drop). */
  def extractWikitext(wikitext: String): String = {
    var s = stripComments(wikitext)
    s = stripRefs(s)
    s = stripBracesAndTables(s)
    s = stripLinks(s)
    s = ExternalLinkRe.replaceAllIn(s, m =>
      java.util.regex.Matcher.quoteReplacement(
        Option(m.group(1)).getOrElse("")))
    s = TagRe.replaceAllIn(s, "")
    s = s.replace("'''''", "").replace("'''", "").replace("''", "")
    s = decodeEntities(s)
    s.split("\n", -1).iterator
      .map { raw =>
        var l = raw.trim
        l = l match {
          case HeadingRe(_, inner) => inner
          case _ => l
        }
        l = l.replaceFirst("^[*#:;]+\\s*", "")
        if (l.nonEmpty && l.forall(_ == '-') && l.length >= 4) "" else l
      }
      .filter(_.nonEmpty)
      .mkString("\n")
  }

  // ---------------------------------------------------------------
  // Spark surfaces
  // ---------------------------------------------------------------

  /**
   * Every page of the dump(s) at `path` (`.xml` or `.xml.bz2`) as
   * `(title, ns, redirect, wikitext, wiki_error)` — malformed pages
   * quarantine per-ROW with their named error.
   *
   * Scale shape: the read splits on the `</page>` close tag via the
   * text source's `lineSep` (page text is XML-escaped in dumps, so
   * the literal can only be structure); bzip2 is block-splittable,
   * so a 20 GB dump parallelizes WITHOUT decompressing on one task —
   * the property that makes `pages-articles.xml.bz2` the rare
   * big-single-file corpus that needs no re-sharding. The siteinfo
   * header and `</mediawiki>` tail fall out as fragments with no
   * `<page>` open tag and skip.
   */
  def pages(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.read.option("lineSep", "</page>").textFile(path)
      .flatMap { chunk =>
        val st = chunk.indexOf("<page>")
        if (st < 0) None
        else {
          try {
            val p = parsePage(chunk.substring(st) + "</page>")
            Some((p.title, p.ns, p.redirect.orNull, p.text,
              null: String))
          } catch {
            case scala.util.control.NonFatal(e) =>
              Some((null: String, -1, null: String, null: String,
                Payload.named(e)))
          }
        }
      }
      .toDF("title", "ns", "redirect", "wikitext", "wiki_error")
  }

  /** The training-corpus view: main-namespace (`ns = 0`),
    * non-redirect pages, wikitext extracted to display text —
    * `(title, text)`. Redirects and non-article namespaces are
    * FILTERED (the standard pretraining recipe), parse failures ride
    * the [[pages]] quarantine. */
  def documents(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    pages(spark, path)
      .where(col("wiki_error").isNull && col("ns") === 0 &&
        col("redirect").isNull)
      .select(col("title"), col("wikitext"))
      .as[(String, String)]
      .map { case (title, w) => (title, extractWikitext(w)) }
      .toDF("title", "text")
  }

  /**
   * Streaming twin of [[documents]] — the dump-sync arrival shape:
   * dump files landing in `dumpDir` (a monthly pages-articles
   * re-sync, an incremental adds-dump) become micro-batches of
   * extracted articles, exact-deduped by text through
   * [[graft.streaming.IngestPipeline.dedupIngest]] keyed on title —
   * a re-synced dump's unchanged articles dedup away, an updated
   * revision (same title, new text) ingests as a new document, and a
   * replayed micro-batch is idempotent. Malformed pages drop with
   * their named error COUNTED: each failure is a `wiki_error` row
   * filtered before the sink, and the stream `observe`s
   * `corrupt_rows` so every micro-batch's
   * `StreamingQueryProgress.observedMetrics("wiki_ingest")` carries
   * the drop count (the [[Warc.warcIngest]]/[[Mime.mboxIngest]]
   * accounting). Redirects and non-article namespaces filter as in
   * [[documents]].
   */
  def wikiIngest(spark: SparkSession, dumpDir: String, corpusDir: String,
                 checkpointDir: String,
                 trigger: org.apache.spark.sql.streaming.Trigger =
                   org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import spark.implicits._
    import org.apache.spark.sql.functions.count
    val frags = spark.readStream
      .option("lineSep", "</page>").text(dumpDir)
      .select("value").as[String]
    val docs = frags.flatMap { chunk =>
      val st = chunk.indexOf("<page>")
      if (st < 0) None
      else {
        try {
          val p = parsePage(chunk.substring(st) + "</page>")
          if (p.ns == 0 && p.redirect.isEmpty)
            Some((p.title, extractWikitext(p.text), null: String))
          else None
        } catch {
          case scala.util.control.NonFatal(e) =>
            Some((null: String, null: String, Payload.named(e)))
        }
      }
    }.toDF("title", "text", "wiki_error")
      .observe("wiki_ingest",
        count(col("wiki_error")).as("corrupt_rows"))
      .where(col("wiki_error").isNull)
      .select("title", "text")
    graft.streaming.IngestPipeline.dedupIngest(
      docs, "title", "text", corpusDir, checkpointDir, trigger)
  }

  // ---------------------------------------------------------------
  // fixture writer
  // ---------------------------------------------------------------

  /** One export-format `<page>` element. NO stripMargin anywhere
    * near the interpolation: wikitext tables put `|` at line starts,
    * and stripMargin over an interpolated result eats them. */
  def buildPage(title: String, ns: Int, wikitext: String,
                redirect: Option[String] = None): String = {
    val r = redirect.map(t =>
      "    <redirect title=\"" + Payload.xmlEscape(t) + "\" />\n").getOrElse("")
    "  <page>\n" +
      "    <title>" + Payload.xmlEscape(title) + "</title>\n" +
      "    <ns>" + ns + "</ns>\n" +
      "    <id>1</id>\n" +
      r +
      "    <revision>\n" +
      "      <id>2</id>\n" +
      "      <timestamp>2026-01-05T00:00:00Z</timestamp>\n" +
      "      <text bytes=\"" + wikitext.length +
      "\" xml:space=\"preserve\">" + Payload.xmlEscape(wikitext) + "</text>\n" +
      "    </revision>\n" +
      "  </page>\n"
  }

  /** A spec-shaped dump: `<mediawiki>` root + `<siteinfo>` header
    * (which the split must skip) + pages. */
  def buildDump(pages: Seq[String]): String =
    """<mediawiki xmlns="http://www.mediawiki.org/xml/export-0.10/"
      |           version="0.10" xml:lang="en">
      |  <siteinfo>
      |    <sitename>Fixture</sitename>
      |    <dbname>fixturewiki</dbname>
      |    <namespaces>
      |      <namespace key="0" />
      |      <namespace key="14">Category</namespace>
      |    </namespaces>
      |  </siteinfo>
      |""".stripMargin + pages.mkString + "</mediawiki>\n"
}
