package graft.sources

/**
 * OpenDocument Presentation (ODP) extraction — the third ODF member
 * beside [[Odt]] and [[Ods]], mirroring [[Pptx]] on the OOXML side
 * and completing the office family's format matrix. Written from the
 * public ODF structure (OASIS OpenDocument): `content.xml` carries
 * `<office:body>/<office:presentation>` with `<draw:page>` slides
 * IN DOCUMENT ORDER (ODF inlines pages — there is no [[Pptx]]-style
 * spine indirection to honor), each holding `<draw:frame>` shapes
 * whose `<draw:text-box>` content is `<text:p>` paragraphs (spans
 * concatenate, `<text:s>`/`<text:tab>` expand — the [[Odt]] rules).
 *
 * Drops: `<presentation:notes>` (speaker notes — the [[Pptx]] notes
 * posture), `<office:annotation>` reviewer comments, and
 * `<draw:page-thumbnail>`/metadata. Output shape mirrors
 * [[Pptx.extractText]]: slides join with newlines, one line per
 * paragraph, slide order = document order.
 *
 * Hardening is [[Odt]]'s verbatim: ZIP caps, XXE-off StAX,
 * `encryption-data` manifest named, `<text:s text:c>` runs capped.
 *
 * The reference engine (parquery) has no document surface — this is
 * a training-data-pipeline extension (SURVEY §8).
 */
object Odp {

  private def err(msg: String): Nothing =
    throw new IllegalArgumentException(s"ODP: $msg")

  private val MaxSpaceRun = 65536

  def extractText(bytes: Array[Byte]): String = {
    val r = Payload.reader(Odt.content(bytes, "ODP"), "ODP")
    val out = new StringBuilder
    val para = new StringBuilder
    var paraDepth = 0
    var skipDepth = 0 // notes / annotations
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
              case "notes" | "annotation" => skipDepth += 1
              case _ if skipDepth > 0 => ()
              case "p" => paraDepth += 1
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
              case "notes" | "annotation" =>
                skipDepth = math.max(0, skipDepth - 1)
              case "p" if skipDepth == 0 && paraDepth > 0 =>
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

  /** A spec-shaped ODF presentation: one `<draw:page>` per slide
    * (document order IS slide order), each paragraph in its own
    * frame/text-box; the first slide carries speaker notes and an
    * annotation that must DROP. */
  def buildOdp(slides: Seq[Seq[String]]): Array[Byte] = {
    val e = Payload.xmlEscape _
    val body = slides.zipWithIndex.map { case (paras, i) =>
      val frames = paras.map { p =>
        "<draw:frame><draw:text-box>" +
          s"<text:p>${e(p)}</text:p>" +
          "</draw:text-box></draw:frame>"
      }.mkString
      val notes =
        if (i == 0)
          "<presentation:notes><draw:frame><draw:text-box>" +
            "<text:p>dropped speaker note</text:p>" +
            "</draw:text-box></draw:frame></presentation:notes>" +
            "<office:annotation><text:p>dropped comment</text:p>" +
            "</office:annotation>"
        else ""
      s"""<draw:page draw:name="page${i + 1}">$frames$notes</draw:page>"""
    }.mkString
    val content =
      """<?xml version="1.0" encoding="UTF-8"?>""" +
        "<office:document-content " +
        "xmlns:office=\"urn:oasis:names:tc:opendocument:xmlns:office:1.0\" " +
        "xmlns:draw=\"urn:oasis:names:tc:opendocument:xmlns:drawing:1.0\" " +
        "xmlns:presentation=\"urn:oasis:names:tc:opendocument:xmlns:" +
        "presentation:1.0\" " +
        "xmlns:text=\"urn:oasis:names:tc:opendocument:xmlns:text:1.0\">" +
        "<office:body><office:presentation>" + body +
        "</office:presentation></office:body></office:document-content>"
    Odt.buildPackage("presentation", content)
  }
}
