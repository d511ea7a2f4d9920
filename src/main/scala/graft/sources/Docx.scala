package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset}

/**
 * DOCX (OOXML WordprocessingML) text extraction — the other document
 * format real corpora carry, JDK-only by construction: the container
 * is a ZIP (`java.util.zip`), the payload is `word/document.xml`
 * (StAX, with DTD/external-entity resolution DISABLED — a crawled
 * docx is untrusted input and must not be an XXE vector).
 *
 * Extraction rules (deterministic, element-driven):
 *  - `w:p` paragraphs join with a newline; `w:br`/`w:cr` inside a
 *    run is a newline; `w:tab` is a tab;
 *  - `w:t` character runs concatenate verbatim (split runs — the
 *    normal shape after any edit history — reassemble seamlessly);
 *  - table cells (`w:tc`) join with tabs, rows with newlines;
 *  - everything else (run properties, themes, proofing marks, field
 *    instructions `w:instrText`, deleted text `w:delText`) is
 *    ignored — only displayed character data survives.
 *
 * Honest boundaries (NAMED errors): a payload that is not a ZIP
 * (legacy .doc and ENCRYPTED OOXML are OLE compound files — the
 * 0xD0CF11E0 signature is detected and named), a ZIP without
 * `word/document.xml`, a repeated entry name before it, and
 * malformed XML ([[Payload]]'s ZIP walk and StAX reader). The walk
 * reads only `word/document.xml` and ends there. The Spark surface
 * quarantines failures per-row like [[Pdf.extractTexts]].
 *
 * The reference engine (parquery) has no document surface — this is
 * a training-data-pipeline extension (SURVEY §8), verified against
 * fixture archives from [[buildDocx]] (an independent writer).
 */
object Docx {

  private def err(msg: String): Nothing =
    throw new IllegalArgumentException(s"DOCX: $msg")

  def extractText(bytes: Array[Byte]): String = {
    // the walk ends at word/document.xml: nothing after it is inflated
    val doc = Payload.zipEntries(bytes, "DOCX", Pdf.MaxDecodedBytes,
      Some(Set("word/document.xml"))).getOrElse("word/document.xml",
      err("no word/document.xml entry (not a DOCX?)"))
    val sb = new StringBuilder
    def newline(): Unit =
      if (sb.nonEmpty && sb.charAt(sb.length - 1) != '\n') sb.append('\n')
    var inT = false
    var inRun = 0 // w:r nesting depth
    // per-ROW cell counters as a stack: tables nest inside cells
    // (w:tbl in w:tc is routine in real documents), and a flat
    // boolean/counter lets the inner row's end corrupt the outer
    // row's tab/newline state
    var rowCells = List.empty[Int]
    var cellDepth = 0
    val r = Payload.reader(doc, "DOCX")
    try {
      while (r.hasNext) {
        r.next() match {
          case javax.xml.stream.XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "t" => inT = true
              case "r" => inRun += 1
              // ONLY the run-level <w:tab/> is a tab CHARACTER —
              // <w:pPr><w:tabs><w:tab .../> entries with the same
              // local name are tab-stop DEFINITIONS, not text
              case "tab" => if (inRun > 0) sb.append('\t')
              case "br" | "cr" => if (inRun > 0) sb.append('\n')
              case "tr" => rowCells = 0 :: rowCells
              case "tc" =>
                rowCells match {
                  case n :: rest =>
                    if (n > 0) sb.append('\t') // cells join with tabs
                    rowCells = (n + 1) :: rest
                  case Nil => () // tc outside tr: malformed, ignore
                }
                cellDepth += 1
              case _ => ()
            }
          case javax.xml.stream.XMLStreamConstants.END_ELEMENT =>
            r.getLocalName match {
              case "t" => inT = false
              case "r" => inRun = math.max(0, inRun - 1)
              // paragraph breaks inside a cell would split the row
              // line — cell-internal paragraphs just concatenate
              case "p" => if (cellDepth == 0) newline()
              case "tc" => cellDepth = math.max(0, cellDepth - 1)
              case "tr" =>
                newline()
                rowCells = rowCells.drop(1)
              case _ => ()
            }
          case javax.xml.stream.XMLStreamConstants.CHARACTERS |
               javax.xml.stream.XMLStreamConstants.CDATA =>
            if (inT) sb.append(r.getText)
          case _ => ()
        }
      }
    } finally r.close()
    while (sb.nonEmpty && sb.charAt(sb.length - 1) == '\n')
      sb.deleteCharAt(sb.length - 1)
    sb.toString
  }

  /** `(id, docxBytes)` → `(id, text, docx_error)` with per-row
    * quarantine ([[Payload.extractTexts]]). */
  def extractTexts(ds: Dataset[(Long, Array[Byte])]): DataFrame =
    Payload.extractTexts(ds, "docx_error")(extractText)

  // ---------------------------------------------------------------
  // fixture writer (independent spec-valid OOXML builder)
  // ---------------------------------------------------------------

  /**
   * Minimal valid DOCX: `[Content_Types].xml`, `_rels/.rels` and a
   * `word/document.xml` whose paragraphs carry `title` then `body`.
   * `splitRuns` breaks the body into per-word `w:r` runs (the shape
   * real editors produce); extraction must reassemble it seamlessly.
   */
  def buildDocx(title: String, body: String,
                splitRuns: Boolean = false): Array[Byte] = {
    val ns = "xmlns:w=\"http://schemas.openxmlformats.org/" +
      "wordprocessingml/2006/main\""
    val bodyRuns =
      if (splitRuns)
        body.split(" ", -1).zipWithIndex.map { case (tok, i) =>
          val sp = if (i == 0) "" else
            "<w:r><w:t xml:space=\"preserve\"> </w:t></w:r>"
          s"$sp<w:r><w:t xml:space=\"preserve\">${Payload.xmlEscape(tok)}</w:t></w:r>"
        }.mkString
      else s"<w:r><w:t xml:space=\"preserve\">${Payload.xmlEscape(body)}</w:t></w:r>"
    val documentXml =
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<w:document $ns><w:body>
<w:p><w:r><w:t xml:space="preserve">${Payload.xmlEscape(title)}</w:t></w:r></w:p>
<w:p>$bodyRuns</w:p>
</w:body></w:document>"""
    val contentTypes =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
<Default Extension="xml" ContentType="application/xml"/>
<Override PartName="/word/document.xml" ContentType="application/vnd.openxmlformats-officedocument.wordprocessingml.document.main+xml"/>
</Types>"""
    val rels =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="word/document.xml"/>
</Relationships>"""
    Payload.buildZip(Seq("[Content_Types].xml" -> contentTypes,
      "_rels/.rels" -> rels, "word/document.xml" -> documentXml)
      .map { case (name, xml) => name -> xml.getBytes("UTF-8") })
  }

  /** A document.xml fragment with tabs, breaks and a 2x2 table, for
    * the structural-extraction spec. */
  private[graft] def buildStructuredDocx(): Array[Byte] = {
    val ns = "xmlns:w=\"http://schemas.openxmlformats.org/" +
      "wordprocessingml/2006/main\""
    val documentXml =
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<w:document $ns><w:body>
<w:p><w:r><w:t>col a</w:t><w:tab/><w:t>col b</w:t></w:r></w:p>
<w:p><w:r><w:t>line one</w:t><w:br/><w:t>line two</w:t></w:r></w:p>
<w:tbl><w:tr><w:tc><w:p><w:r><w:t>r1c1</w:t></w:r></w:p></w:tc>
<w:tc><w:p><w:r><w:t>r1c2</w:t></w:r></w:p></w:tc></w:tr>
<w:tr><w:tc><w:p><w:r><w:t>r2c1</w:t></w:r></w:p></w:tc>
<w:tc><w:p><w:r><w:t>r2c2</w:t></w:r></w:p></w:tc></w:tr></w:tbl>
<w:p><w:r><w:rPr><w:b/></w:rPr><w:t>after &amp; entities &lt;ok&gt;</w:t></w:r></w:p>
</w:body></w:document>"""
    Payload.buildZip(
      Seq("word/document.xml" -> documentXml.getBytes("UTF-8")))
  }
}
