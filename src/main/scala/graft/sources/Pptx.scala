package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset}

/**
 * OOXML presentation (PPTX) text extraction — the slide-deck half of
 * the office family, sharing [[Payload]]'s container plumbing with
 * [[Xlsx]]. Written from the public PresentationML structure
 * (ECMA-376):
 *
 *  - `ppt/presentation.xml` carries `<p:sldIdLst><p:sldId r:id=…/>`
 *    in PRESENTATION order (the deck's slide order — which the
 *    output must follow; ZIP entry order is writer-arbitrary);
 *  - `ppt/_rels/presentation.xml.rels` maps `r:id` → slide part;
 *  - slide text lives in DrawingML runs: `<a:t>` character data
 *    concatenates within a paragraph `<a:p>`, paragraphs become
 *    lines, `<a:br/>` is a line break.
 *
 * Output shape: slides in deck order, one line per paragraph,
 * slides joined with newlines. Hardening is [[Payload]]'s: ZIP decode
 * caps, XXE-off StAX, OLE/CFB NAMED, per-row Spark quarantine.
 *
 * The reference engine (parquery) has no document surface — this is
 * a training-data-pipeline extension (SURVEY §8), verified against
 * [[buildPptx]] fixtures and the q_pptx_extract analytic oracle.
 */
object Pptx {

  private def err(msg: String): Nothing =
    throw new IllegalArgumentException(s"PPTX: $msg")

  def extractText(bytes: Array[Byte]): String = {
    val entries = Payload.zipEntries(bytes, "PPTX", Payload.OfficeEntryBytes)
    val pres = entries.getOrElse("ppt/presentation.xml",
      err("no ppt/presentation.xml entry (not a PPTX?)"))
    val rels = entries.get("ppt/_rels/presentation.xml.rels")
      .map(Payload.parseRels(_, "PPTX"))
      .getOrElse(err("no ppt/_rels/presentation.xml.rels entry"))
    val slideRids = parseSlideList(pres)
    val out = new StringBuilder
    slideRids.foreach { rid =>
      val target = rels.getOrElse(rid,
        err(s"slide references unknown relationship $rid"))
      val part = Payload.resolvePart("ppt", target)
      val slide = entries.getOrElse(part,
        err(s"slide part $part missing from the archive"))
      slideText(slide).foreach { line =>
        if (out.nonEmpty) out.append('\n')
        out.append(line)
      }
    }
    out.toString
  }

  /** Slide `r:id`s from `<p:sldIdLst>`, deck order. */
  private def parseSlideList(xml: Array[Byte]): Seq[String] = {
    val r = Payload.reader(xml, "PPTX")
    val rids = scala.collection.mutable.ArrayBuffer[String]()
    var inList = false
    try {
      while (r.hasNext) {
        r.next() match {
          case javax.xml.stream.XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "sldIdLst" => inList = true
              case "sldId" if inList =>
                // r:id is namespaced — match by local name
                var i = 0
                while (i < r.getAttributeCount) {
                  if (r.getAttributeLocalName(i) == "id" &&
                      r.getAttributeValue(i).startsWith("rId"))
                    rids += r.getAttributeValue(i)
                  i += 1
                }
              case _ => ()
            }
          case javax.xml.stream.XMLStreamConstants.END_ELEMENT =>
            if (r.getLocalName == "sldIdLst") inList = false
          case _ => ()
        }
      }
    } finally r.close()
    if (rids.isEmpty) err("presentation has no slides")
    rids.toSeq
  }

  /** Paragraph lines of one slide: `<a:t>` runs concatenate inside
    * `<a:p>`, `<a:br/>` breaks the line. Empty paragraphs drop. */
  private def slideText(xml: Array[Byte]): Seq[String] = {
    val r = Payload.reader(xml, "PPTX")
    val lines = scala.collection.mutable.ArrayBuffer[String]()
    val cur = new StringBuilder
    var inT = false
    var inP = 0
    def flush(): Unit = {
      if (cur.nonEmpty) lines += cur.toString
      cur.clear()
    }
    try {
      while (r.hasNext) {
        r.next() match {
          case javax.xml.stream.XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "p" => inP += 1
              case "t" if inP > 0 => inT = true
              case "br" if inP > 0 => flush()
              case _ => ()
            }
          case javax.xml.stream.XMLStreamConstants.CHARACTERS |
               javax.xml.stream.XMLStreamConstants.CDATA =>
            if (inT) cur.append(r.getText)
          case javax.xml.stream.XMLStreamConstants.END_ELEMENT =>
            r.getLocalName match {
              case "p" => inP -= 1; flush()
              case "t" => inT = false
              case _ => ()
            }
          case _ => ()
        }
      }
    } finally r.close()
    lines.toSeq
  }

  /** Spark surface: per-row quarantine ([[Payload.extractTexts]]). */
  def extractTexts(ds: Dataset[(Long, Array[Byte])]): DataFrame =
    Payload.extractTexts(ds, "pptx_error")(extractText)

  // ---------------------------------------------------------------
  // fixture writer
  // ---------------------------------------------------------------

  /** Spec-shaped deck: `slides(i)` = that slide's paragraphs. The
    * sldIdLst lists slides in the GIVEN order while the ZIP carries
    * the parts REVERSED — an extractor walking ZIP order scrambles
    * the deck. */
  def buildPptx(slides: Seq[Seq[String]]): Array[Byte] = {
    val slideParts = slides.zipWithIndex.map { case (paras, i) =>
      val body = paras.map { p =>
        s"<a:p><a:r><a:t>${Payload.xmlEscape(p)}</a:t></a:r></a:p>"
      }.mkString
      (s"ppt/slides/slide${i + 1}.xml",
        ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<p:sld xmlns:p="http://schemas.openxmlformats.org/""" +
          """presentationml/2006/main" xmlns:a="http://schemas.""" +
          """openxmlformats.org/drawingml/2006/main"><p:cSld>""" +
          s"""<p:spTree>$body</p:spTree></p:cSld></p:sld>""")
          .getBytes("UTF-8"))
    }
    val pres =
      ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<p:presentation xmlns:p="http://schemas.openxmlformats.""" +
        """org/presentationml/2006/main" xmlns:r="http://schemas.""" +
        """openxmlformats.org/officeDocument/2006/relationships">""" +
        "<p:sldIdLst>" +
        slides.indices.map(i =>
          s"""<p:sldId id="${256 + i}" r:id="rId${i + 1}"/>""").mkString +
        "</p:sldIdLst></p:presentation>").getBytes("UTF-8")
    val rels =
      ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Relationships xmlns="http://schemas.openxmlformats.org/""" +
        """package/2006/relationships">""" +
        slides.indices.map { i =>
          s"""<Relationship Id="rId${i + 1}" Type="http://schemas.""" +
            """openxmlformats.org/officeDocument/2006/relationships/""" +
            s"""slide" Target="slides/slide${i + 1}.xml"/>"""
        }.mkString + "</Relationships>").getBytes("UTF-8")
    Payload.buildZip(
      Seq("ppt/presentation.xml" -> pres,
        "ppt/_rels/presentation.xml.rels" -> rels) ++ slideParts.reverse)
  }
}
