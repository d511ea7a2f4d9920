package graft.sources

/**
 * OpenDocument Text (ODT) extraction — the LibreOffice/OpenOffice
 * half of the office-document family ([[Docx]]/[[Doc]] cover the
 * Word formats; enterprise and public-sector corpora carry ODF
 * heavily). Written from the public ODF structure (OASIS
 * OpenDocument): a ZIP container whose `content.xml` carries
 * `<office:body>/<office:text>` with
 *
 *  - `<text:p>` paragraphs and `<text:h>` headings → one line each,
 *    document order; `<text:span>` runs concatenate within;
 *  - `<text:s text:c="n"/>` expands to n spaces (ODF collapses
 *    literal runs, so writers emit these), `<text:tab/>` is a tab,
 *    `<text:line-break/>` breaks within the paragraph;
 *  - `<text:note>` (foot/endnotes: citation mark AND body) and
 *    `<office:annotation>` (reviewer comments) drop WHOLE — the
 *    [[Latex]] footnote posture: neither is running display text;
 *  - table cells carry their own `<text:p>` and emit as lines.
 *
 * Hardening is [[Payload]]'s: ZIP decode caps (per entry AND per
 * archive), XXE-off StAX, OLE named; additionally an ODF package
 * whose manifest declares `encryption-data` errs NAMED (ODF encrypts
 * per-entry — the ZIP opens fine and `content.xml` is ciphertext, so
 * without the manifest check the failure would be an unnamed XML
 * error). The `<text:s>` count is capped so a crafted
 * `text:c="2000000000"` cannot allocate past the quarantine.
 *
 * The reference engine (parquery) has no document surface — this is
 * a training-data-pipeline extension (SURVEY §8), verified against
 * [[buildOdt]] fixtures and the q_odt_extract analytic oracle.
 */
object Odt {

  private def err(msg: String): Nothing =
    throw new IllegalArgumentException(s"ODT: $msg")

  /** A `<text:s text:c=…/>` past this is a crafted allocation bomb
    * (real writers emit small runs — ODF only needs it because
    * consecutive literal spaces collapse). */
  private val MaxSpaceRun = 65536

  /** An ODF package's `content.xml` (the [[Ods]]/[[Odp]] entry too):
    * a manifest that declares `encryption-data` errs NAMED, as does a
    * package without `content.xml`. */
  private[graft] def content(bytes: Array[Byte], tag: String)
      : Array[Byte] = {
    def err(msg: String): Nothing =
      throw new IllegalArgumentException(s"$tag: $msg")
    val entries = Payload.zipEntries(bytes, tag, Payload.OfficeEntryBytes)
    entries.get("META-INF/manifest.xml").foreach { m =>
      if (new String(m, java.nio.charset.StandardCharsets.UTF_8)
          .contains("encryption-data"))
        err("encrypted ODF package — named boundary, no decryption")
    }
    entries.getOrElse("content.xml",
      err("no content.xml entry (not an ODF package?)"))
  }

  def extractText(bytes: Array[Byte]): String = {
    val r = Payload.reader(content(bytes, "ODT"), "ODT")
    val out = new StringBuilder
    val para = new StringBuilder
    var paraDepth = 0 // nested text:p inside cells/lists still emit once
    var skipDepth = 0 // inside text:note / office:annotation
    def emitPara(): Unit = {
      if (out.nonEmpty) out.append('\n')
      out.append(para)
      para.clear()
    }
    try {
      while (r.hasNext) {
        r.next() match {
          case javax.xml.stream.XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "note" | "annotation" => skipDepth += 1
              case _ if skipDepth > 0 => ()
              case "p" | "h" => paraDepth += 1
              case "s" if paraDepth > 0 =>
                val c = Option(r.getAttributeValue(null, "c"))
                  .map(v => try v.toInt catch {
                    case _: NumberFormatException =>
                      err(s"bad text:c '${v.take(20)}'")
                  }).getOrElse(1)
                if (c < 0 || c > MaxSpaceRun)
                  err(s"text:c $c out of bounds (allocation bomb?)")
                var i = 0
                while (i < c) { para.append(' '); i += 1 }
              case "tab" if paraDepth > 0 => para.append('\t')
              case "line-break" if paraDepth > 0 => para.append('\n')
              case _ => ()
            }
          case javax.xml.stream.XMLStreamConstants.CHARACTERS |
               javax.xml.stream.XMLStreamConstants.CDATA =>
            if (skipDepth == 0 && paraDepth > 0) {
              if (para.length + r.getTextLength > Pdf.MaxDecodedBytes)
                err("paragraph exceeds the decode cap")
              para.append(r.getText)
            }
          case javax.xml.stream.XMLStreamConstants.END_ELEMENT =>
            r.getLocalName match {
              case "note" | "annotation" =>
                skipDepth = math.max(0, skipDepth - 1)
              case ("p" | "h") if skipDepth == 0 && paraDepth > 0 =>
                paraDepth -= 1
                if (paraDepth == 0) emitPara()
              case _ => ()
            }
          case _ => ()
        }
      }
    } finally r.close()
    out.toString
  }

  // ---------------------------------------------------------------
  // fixture writer
  // ---------------------------------------------------------------

  /** An ODF package of one `content.xml`: `mimetype` first (per ODF
    * packaging, `application/vnd.oasis.opendocument.<kind>`), then a
    * manifest naming the content. */
  private[graft] def buildPackage(kind: String, content: String)
      : Array[Byte] =
    Payload.buildZip(Seq(
      ("mimetype",
        s"application/vnd.oasis.opendocument.$kind".getBytes("UTF-8")),
      ("META-INF/manifest.xml",
        ("<manifest:manifest xmlns:manifest=\"urn:oasis:names:tc:" +
          "opendocument:xmlns:manifest:1.0\"><manifest:file-entry " +
          "manifest:full-path=\"content.xml\"/></manifest:manifest>")
          .getBytes("UTF-8")),
      ("content.xml", content.getBytes("UTF-8"))))

  /**
   * A spec-shaped ODF text package around a heading and body
   * paragraphs: `mimetype` first (per ODF packaging), a manifest, and
   * a `content.xml` exercising spans, `text:s`/`text:tab`, a
   * footnote and an annotation (both of which must drop), and a list
   * item. Each body paragraph's words alternate literal spaces with
   * `<text:s/>` elements and every third word rides its own span —
   * the writer/parser-independence trick: the XML never contains the
   * plain text, so extraction must actually reassemble it.
   */
  def buildOdt(heading: String, paragraphs: Seq[String]): Array[Byte] = {
    val e = Payload.xmlEscape _
    val body = paragraphs.map { p =>
      val words = p.split(" ").zipWithIndex.map { case (w, i) =>
        if (i % 3 == 2) s"<text:span>${e(w)}</text:span>" else e(w)
      }
      words.zipWithIndex.map { case (w, i) =>
        if (i == 0) w
        else if (i % 2 == 0) s"<text:s/>$w"
        else s" $w"
      }.mkString
    }.map(p => s"<text:p>$p</text:p>").mkString
    val content =
      """<?xml version="1.0" encoding="UTF-8"?>""" +
        "<office:document-content " +
        "xmlns:office=\"urn:oasis:names:tc:opendocument:xmlns:office:1.0\" " +
        "xmlns:text=\"urn:oasis:names:tc:opendocument:xmlns:text:1.0\">" +
        "<office:body><office:text>" +
        s"<text:h text:outline-level=\"1\">${e(heading)}</text:h>" +
        body +
        "<text:p>base<text:note text:note-class=\"footnote\">" +
        "<text:note-citation>1</text:note-citation>" +
        "<text:note-body><text:p>dropped note</text:p></text:note-body>" +
        "</text:note><office:annotation><text:p>dropped comment" +
        "</text:p></office:annotation> end</text:p>" +
        "<text:p>col1<text:tab/>col2</text:p>" +
        "</office:text></office:body></office:document-content>"
    buildPackage("text", content)
  }
}
