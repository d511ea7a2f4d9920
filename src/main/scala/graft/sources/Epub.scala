package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset}

/**
 * EPUB text extraction — the ebook container book corpora ship
 * (Gutenberg-class dumps and publisher archives are EPUB 2/3), and
 * books are the highest-quality long-form text a training pipeline
 * ingests. JDK-only, written from the public specs (OCF/OPF, IDPF →
 * W3C):
 *
 *  - the container is a ZIP; `META-INF/container.xml` names the OPF
 *    package document (`rootfile@full-path`);
 *  - the OPF carries the manifest (id → href) and the SPINE — the
 *    author's reading order; chapters extract in spine order, which
 *    is the load-bearing difference from "cat all the XHTML files"
 *    (ZIP entry order is alphabetical-ish, not narrative);
 *  - hrefs resolve relative to the OPF's own directory (the spec
 *    rule; most real books keep content under `OEBPS/`);
 *  - each spine chapter is XHTML, parsed with StAX (DTD and external
 *    entities OFF — crawled books are untrusted, and the XXE stance
 *    matches [[Docx]]): character data inside `<body>` concatenates,
 *    block elements (`p`, `div`, `h1..h6`, `li`, `br`, `tr`, …)
 *    break lines, `script`/`style` subtrees drop. XHTML's named
 *    entities live in its DTD, which is disabled — the common set
 *    (`&nbsp; &copy; &mdash; …`) is pre-mapped to numeric references
 *    the parser resolves without a DTD; an UNKNOWN named entity is a
 *    NAMED error (quarantined), never silently dropped text.
 *
 * Honest boundaries (NAMED): not a ZIP / OLE payloads, missing
 * container.xml/OPF/spine, chapters missing from the archive, DRM'd
 * books (encryption.xml present → named, no decryption), malformed
 * XHTML, a repeated entry name. The ZIP walk, its bomb caps and the
 * XXE-off StAX reader are [[Payload]]'s. The Spark surface
 * quarantines per-row like [[Pdf.extractTexts]].
 *
 * The reference engine (parquery) has no document surface — this is
 * a training-data-pipeline extension (SURVEY §8), verified against
 * fixture books from [[buildEpub]] (an independent writer whose spine
 * order deliberately differs from its ZIP entry order).
 */
object Epub {

  private def err(msg: String): Nothing =
    throw new IllegalArgumentException(s"EPUB: $msg")

  /** XHTML named entities → numeric refs the DTD-less parser resolves.
    * The common publishing set; anything else stays and errs NAMED at
    * parse (silently dropping text would be worse). `&amp; &lt; &gt;
    * &quot; &apos;` are XML-native and need no mapping. */
  private val EntityMap = Map(
    "nbsp" -> 160, "copy" -> 169, "reg" -> 174, "deg" -> 176,
    "middot" -> 183, "laquo" -> 171, "raquo" -> 187, "frac12" -> 189,
    "mdash" -> 8212, "ndash" -> 8211, "lsquo" -> 8216, "rsquo" -> 8217,
    "ldquo" -> 8220, "rdquo" -> 8221, "hellip" -> 8230, "bull" -> 8226,
    "dagger" -> 8224, "sect" -> 167, "para" -> 182, "shy" -> 173,
    "eacute" -> 233, "egrave" -> 232, "agrave" -> 224, "ccedil" -> 231,
    "uuml" -> 252, "ouml" -> 246, "auml" -> 228, "szlig" -> 223)

  private val EntityRe = "&([A-Za-z][A-Za-z0-9]{1,10});".r

  private def mapEntities(xml: String): String =
    EntityRe.replaceAllIn(xml, m => m.group(1) match {
      case "amp" | "lt" | "gt" | "quot" | "apos" => m.matched
      case name => EntityMap.get(name) match {
        case Some(cp) => s"&#$cp;"
        case None => err(s"unknown XHTML entity &$name;")
      }
    })

  private val BlockTags = Set("p", "div", "h1", "h2", "h3", "h4", "h5",
    "h6", "li", "br", "tr", "blockquote", "section", "article",
    "figcaption", "title")

  /** Display text of one XHTML chapter. */
  private[graft] def xhtmlText(bytes: Array[Byte]): String = {
    val xml = mapEntities(new String(bytes,
      java.nio.charset.StandardCharsets.UTF_8))
    val sb = new StringBuilder
    def newline(): Unit =
      if (sb.nonEmpty && sb.charAt(sb.length - 1) != '\n') sb.append('\n')
    var dropDepth = 0 // script/style subtrees
    var inBody = false
    val r = Payload.reader(xml, "EPUB")
    try {
      while (r.hasNext) {
        r.next() match {
          case javax.xml.stream.XMLStreamConstants.START_ELEMENT =>
            val name = r.getLocalName.toLowerCase
            if (name == "body") inBody = true
            else if (name == "script" || name == "style") dropDepth += 1
            else if (BlockTags.contains(name)) newline()
          case javax.xml.stream.XMLStreamConstants.END_ELEMENT =>
            val name = r.getLocalName.toLowerCase
            if (name == "script" || name == "style")
              dropDepth = math.max(0, dropDepth - 1)
            else if (BlockTags.contains(name)) newline()
          case javax.xml.stream.XMLStreamConstants.CHARACTERS |
               javax.xml.stream.XMLStreamConstants.CDATA =>
            if (inBody && dropDepth == 0) sb.append(r.getText)
          case _ => ()
        }
      }
    } finally r.close()
    // collapse whitespace runs the markup layout left behind, keep
    // the block-derived line structure
    sb.toString.split("\n").iterator
      .map(_.replaceAll("[ \\t\\x0B\\f\\r]+", " ").trim)
      .filter(_.nonEmpty).mkString("\n")
  }

  private def attr(tag: String, name: String): Option[String] = {
    val m = java.util.regex.Pattern
      .compile(name + "\\s*=\\s*\"([^\"]*)\"").matcher(tag)
    if (m.find()) Some(m.group(1)) else None
  }

  def extractText(bytes: Array[Byte]): String = {
    val entries = Payload.zipEntries(bytes, "EPUB", Pdf.MaxDecodedBytes)
    if (entries.contains("META-INF/encryption.xml"))
      err("DRM-protected EPUB (encryption.xml) — named boundary")
    val container = entries.getOrElse("META-INF/container.xml",
      err("no META-INF/container.xml (not an EPUB?)"))
    val cxml = new String(container,
      java.nio.charset.StandardCharsets.UTF_8)
    val rootfileTag = "<rootfile\\b[^>]*>".r.findFirstIn(cxml)
      .getOrElse(err("container.xml without a rootfile element"))
    val opfPath = attr(rootfileTag, "full-path")
      .getOrElse(err("rootfile without full-path"))
    val opfBytes = entries.getOrElse(opfPath,
      err(s"OPF '$opfPath' missing from the archive"))
    val opfDir = opfPath.lastIndexOf('/') match {
      case -1 => ""
      case i => opfPath.substring(0, i + 1)
    }
    val opf = new String(opfBytes, java.nio.charset.StandardCharsets.UTF_8)
    // manifest: id -> href
    val items = "<item\\b[^>]*>".r.findAllIn(opf).flatMap { tag =>
      for (id <- attr(tag, "id"); href <- attr(tag, "href"))
        yield id -> href
    }.toMap
    // spine: ordered idrefs (the reading order)
    val spine = "<itemref\\b[^>]*>".r.findAllIn(opf)
      .flatMap(attr(_, "idref")).toSeq
    if (spine.isEmpty) err("OPF without a spine")
    val chapters = spine.map { idref =>
      val href = items.getOrElse(idref,
        err(s"spine idref '$idref' not in the manifest"))
      val path = opfDir + href
      entries.getOrElse(path,
        err(s"spine chapter '$path' missing from the archive"))
    }
    chapters.map(xhtmlText).filter(_.nonEmpty).mkString("\n")
  }

  /** Spark surface: per-row quarantine accounting
    * ([[Payload.extractTexts]]). */
  def extractTexts(ds: Dataset[(Long, Array[Byte])]): DataFrame =
    Payload.extractTexts(ds, "epub_error")(extractText)

  // ---------------------------------------------------------------
  // fixture writer
  // ---------------------------------------------------------------

  /**
   * Build a spec-valid two-chapter EPUB: mimetype first (stored, the
   * OCF rule), container.xml → OPF under `OEBPS/`, a manifest with a
   * css item NOT in the spine (must not leak into text), and the
   * chapter ZIP entries written in REVERSE spine order — extraction
   * order must come from the spine, not the archive layout. The body
   * chapter carries `&nbsp;`/`&mdash;` entities and a script tag the
   * parser must handle.
   */
  def buildEpub(title: String, body: String): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(out)
    def put(name: String, data: Array[Byte], stored: Boolean = false): Unit = {
      val e = new java.util.zip.ZipEntry(name)
      if (stored) {
        e.setMethod(java.util.zip.ZipEntry.STORED)
        e.setSize(data.length)
        val crc = new java.util.zip.CRC32
        crc.update(data)
        e.setCrc(crc.getValue)
      }
      z.putNextEntry(e); z.write(data); z.closeEntry()
    }
    put("mimetype", "application/epub+zip".getBytes("US-ASCII"),
      stored = true)
    put("META-INF/container.xml",
      ("""<?xml version="1.0"?><container version="1.0" """ +
        """xmlns="urn:oasis:names:tc:opendocument:xmlns:container">""" +
        """<rootfiles><rootfile full-path="OEBPS/content.opf" """ +
        """media-type="application/oebps-package+xml"/></rootfiles>""" +
        """</container>""").getBytes("UTF-8"))
    def chapter(heading: String, text: String, extras: String = "") =
      ("""<?xml version="1.0" encoding="UTF-8"?>""" +
        """<html xmlns="http://www.w3.org/1999/xhtml"><head>""" +
        """<title>front matter must not leak</title>""" + extras +
        s"""</head><body><h1>${Payload.xmlEscape(heading)}</h1>""" +
        s"""<p>${Payload.xmlEscape(text)}</p></body></html>""")
        .getBytes("UTF-8")
    // ZIP order is REVERSE of spine order on purpose
    put("OEBPS/ch2.xhtml", chapter("Chapter Two", body,
      "<style>p { color: red }</style>"))
    put("OEBPS/ch1.xhtml",
      ("""<?xml version="1.0" encoding="UTF-8"?>""" +
        """<html xmlns="http://www.w3.org/1999/xhtml"><head></head>""" +
        """<body><script>var x = 1;</script>""" +
        s"""<h1>${Payload.xmlEscape(title)}</h1>""" +
        """<p>one&nbsp;space and a dash&mdash;here</p>""" +
        """</body></html>""").getBytes("UTF-8"))
    put("OEBPS/style.css", "p { margin: 0 }".getBytes("UTF-8"))
    put("OEBPS/content.opf",
      ("""<?xml version="1.0"?><package version="3.0" """ +
        """xmlns="http://www.idpf.org/2007/opf" unique-identifier="id">""" +
        """<metadata/><manifest>""" +
        """<item id="c1" href="ch1.xhtml" media-type="application/xhtml+xml"/>""" +
        """<item id="c2" href="ch2.xhtml" media-type="application/xhtml+xml"/>""" +
        """<item id="css" href="style.css" media-type="text/css"/>""" +
        """</manifest><spine>""" +
        """<itemref idref="c1"/><itemref idref="c2"/>""" +
        """</spine></package>""").getBytes("UTF-8"))
    z.close()
    out.toByteArray
  }
}
