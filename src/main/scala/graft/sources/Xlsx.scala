package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset}

/**
 * OOXML spreadsheet (XLSX) text extraction — enterprise corpora name
 * spreadsheet dumps only as generic ZIP members, and the office
 * family so far covers `.docx`/`.doc` prose only. JDK-only, written
 * from the public SpreadsheetML structure (ECMA-376):
 *
 *  - `xl/workbook.xml` lists `<sheet name=… r:id=…/>` in WORKBOOK
 *    order (which the output must follow — ZIP entry order is
 *    whatever the writer buffered, the [[Epub]] spine lesson);
 *  - `xl/_rels/workbook.xml.rels` maps `r:id` → worksheet part;
 *  - `xl/sharedStrings.xml` holds `<si>` items (plain `<t>` or rich
 *    `<r><t>` runs that concatenate; `<rPh>` phonetic runs are NOT
 *    display text and skip);
 *  - worksheet cells `<c t=…>` resolve by type: `s` = sharedStrings
 *    index (out-of-range errs NAMED), `inlineStr` = nested
 *    `<is><t>`, `str` = literal formula result, `b` = boolean
 *    (`1`→TRUE), default = the number's verbatim `<v>` text.
 *
 * Output shape: per sheet, its NAME line, then one line per row with
 * cells tab-joined (the [[Docx]] table rule); sheets join with
 * newlines. Hardening is [[Payload]]'s, as for every container
 * extractor: ZIP walk with per-entry AND per-archive decode caps
 * (bomb-named), StAX with DTD/external entities OFF (XXE),
 * encrypted/legacy OLE compound files (CFB magic) NAMED, per-row
 * quarantine on the Spark surface.
 *
 * The reference engine (parquery) has no document surface — this is
 * a training-data-pipeline extension (SURVEY §8), verified against
 * [[buildXlsx]] fixtures (an independent writer) and the
 * q_xlsx_extract analytic oracle.
 */
object Xlsx {

  private def err(msg: String): Nothing =
    throw new IllegalArgumentException(s"XLSX: $msg")

  /** One resilient cell spec for the fixture writer: value + kind
    * (`s` shared, `i` inline, `n` number, `b` boolean, `f` formula
    * string result). */
  final case class Cell(value: String, kind: Char)

  def extractText(bytes: Array[Byte]): String = {
    val entries = Payload.zipEntries(bytes, "XLSX", Payload.OfficeEntryBytes)
    val workbook = entries.getOrElse("xl/workbook.xml",
      err("no xl/workbook.xml entry (not an XLSX?)"))
    val rels = entries.get("xl/_rels/workbook.xml.rels")
      .map(Payload.parseRels(_, "XLSX"))
      .getOrElse(err("no xl/_rels/workbook.xml.rels entry"))
    val shared = entries.get("xl/sharedStrings.xml")
      .map(parseSharedStrings).getOrElse(Vector.empty)

    // workbook order, not ZIP order
    val sheets = parseWorkbookSheets(workbook)
    val out = new StringBuilder
    sheets.foreach { case (name, rid) =>
      val target = rels.getOrElse(rid,
        err(s"sheet '$name' references unknown relationship $rid"))
      val part = Payload.resolvePart("xl", target)
      val ws = entries.getOrElse(part,
        err(s"worksheet part $part missing from the archive"))
      if (out.nonEmpty) out.append('\n')
      out.append(name)
      sheetRows(ws, shared).foreach { row =>
        out.append('\n').append(row.mkString("\t"))
      }
    }
    out.toString
  }

  /** `(name, r:id)` per `<sheet>`, in document order. */
  private def parseWorkbookSheets(xml: Array[Byte])
      : Seq[(String, String)] = {
    val r = Payload.reader(xml, "XLSX")
    val sheets = scala.collection.mutable.ArrayBuffer[(String, String)]()
    try {
      while (r.hasNext) {
        if (r.next() == javax.xml.stream.XMLStreamConstants.START_ELEMENT
            && r.getLocalName == "sheet") {
          var name: String = null
          var rid: String = null
          var i = 0
          while (i < r.getAttributeCount) {
            r.getAttributeLocalName(i) match {
              case "name" => name = r.getAttributeValue(i)
              case "id" => rid = r.getAttributeValue(i)
              case _ => ()
            }
            i += 1
          }
          if (name == null || rid == null)
            err("<sheet> without name or r:id")
          sheets += name -> rid
        }
      }
    } finally r.close()
    if (sheets.isEmpty) err("workbook has no sheets")
    sheets.toSeq
  }

  /** sharedStrings `<si>` items: `<t>` and rich-run `<r><t>` text
    * concatenates; `<rPh>`/`<phoneticPr>` subtrees skip. */
  private def parseSharedStrings(xml: Array[Byte]): Vector[String] = {
    val r = Payload.reader(xml, "XLSX")
    val items = Vector.newBuilder[String]
    val cur = new StringBuilder
    var inSi = false
    var inT = false
    var phonetic = 0
    try {
      while (r.hasNext) {
        r.next() match {
          case javax.xml.stream.XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "si" => inSi = true; cur.clear()
              case "rPh" | "phoneticPr" => phonetic += 1
              case "t" if inSi && phonetic == 0 => inT = true
              case _ => ()
            }
          case javax.xml.stream.XMLStreamConstants.CHARACTERS |
               javax.xml.stream.XMLStreamConstants.CDATA =>
            if (inT) cur.append(r.getText)
          case javax.xml.stream.XMLStreamConstants.END_ELEMENT =>
            r.getLocalName match {
              case "si" => inSi = false; items += cur.toString
              case "rPh" | "phoneticPr" => phonetic -= 1
              case "t" => inT = false
              case _ => ()
            }
          case _ => ()
        }
      }
    } finally r.close()
    items.result()
  }

  /** Rows of resolved cell texts, document order. */
  private def sheetRows(xml: Array[Byte], shared: Vector[String])
      : Seq[Seq[String]] = {
    val r = Payload.reader(xml, "XLSX")
    val rows = scala.collection.mutable.ArrayBuffer[Seq[String]]()
    var row: scala.collection.mutable.ArrayBuffer[String] = null
    var cellType = ""
    var inV = false
    var inIsT = false
    var inIs = false
    val v = new StringBuilder
    val is = new StringBuilder
    try {
      while (r.hasNext) {
        r.next() match {
          case javax.xml.stream.XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "row" =>
                row = scala.collection.mutable.ArrayBuffer[String]()
              case "c" if row != null =>
                cellType = Option(r.getAttributeValue(null, "t"))
                  .getOrElse("")
                v.clear(); is.clear()
              case "v" => inV = true
              case "is" => inIs = true
              case "t" if inIs => inIsT = true
              case _ => ()
            }
          case javax.xml.stream.XMLStreamConstants.CHARACTERS |
               javax.xml.stream.XMLStreamConstants.CDATA =>
            if (inV) v.append(r.getText)
            else if (inIsT) is.append(r.getText)
          case javax.xml.stream.XMLStreamConstants.END_ELEMENT =>
            r.getLocalName match {
              case "row" =>
                if (row != null) rows += row.toSeq
                row = null
              case "c" if row != null =>
                row += resolveCell(cellType, v.toString, is.toString,
                  shared)
              case "v" => inV = false
              case "is" => inIs = false
              case "t" => inIsT = false
              case _ => ()
            }
          case _ => ()
        }
      }
    } finally r.close()
    rows.toSeq
  }

  private def resolveCell(t: String, v: String, is: String,
                          shared: Vector[String]): String = t match {
    case "s" =>
      val idx = try v.trim.toInt
      catch { case _: NumberFormatException =>
        err(s"non-numeric sharedStrings index '${v.trim.take(20)}'") }
      if (idx < 0 || idx >= shared.length)
        err(s"sharedStrings index $idx out of range " +
          s"(${shared.length} items)")
      shared(idx)
    case "inlineStr" => is
    case "str" => v
    case "b" => if (v.trim == "1") "TRUE" else "FALSE"
    case "" | "n" => v // number: verbatim <v> text
    case other => err(s"unknown cell type '$other'")
  }

  /** Spark surface: per-row quarantine ([[Payload.extractTexts]]). */
  def extractTexts(ds: Dataset[(Long, Array[Byte])]): DataFrame =
    Payload.extractTexts(ds, "xlsx_error")(extractText)

  // ---------------------------------------------------------------
  // fixture writer
  // ---------------------------------------------------------------

  /** Spec-shaped workbook: sheets in the GIVEN order (and the ZIP
    * carries worksheet parts in REVERSE, so an extractor reading ZIP
    * order mismatches), shared strings for `s` cells (rich `<r>`
    * runs on odd indexes — split-run reassembly is on the hot path),
    * inline/number/boolean/formula cells by [[Cell]] kind. */
  def buildXlsx(sheets: Seq[(String, Seq[Seq[Cell]])]): Array[Byte] = {
    val sharedPool = scala.collection.mutable.LinkedHashMap[String, Int]()
    def sharedIdx(s: String): Int =
      sharedPool.getOrElseUpdate(s, sharedPool.size)
    val sheetXml = sheets.zipWithIndex.map { case ((_, rows), si) =>
      val body = rows.zipWithIndex.map { case (cells, ri) =>
        // cell `r` refs are optional per ECMA-376 (cells sequence in
        // document order) — and letter refs break past column Z
        val cs = cells.map { c =>
          c.kind match {
            case 's' =>
              s"""<c t="s"><v>${sharedIdx(c.value)}</v></c>"""
            case 'i' =>
              s"""<c t="inlineStr"><is><t>${
                Payload.xmlEscape(c.value)}</t></is></c>"""
            case 'n' => s"""<c><v>${c.value}</v></c>"""
            case 'b' =>
              s"""<c t="b"><v>${
                if (c.value == "TRUE") "1" else "0"}</v></c>"""
            case 'f' =>
              s"""<c t="str"><f>FIXTURE()</f><v>${
                Payload.xmlEscape(c.value)}</v></c>"""
            case k => err(s"fixture: unknown cell kind '$k'")
          }
        }.mkString
        s"""<row r="${ri + 1}">$cs</row>"""
      }.mkString
      (s"xl/worksheets/sheet${si + 1}.xml",
        ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<worksheet xmlns="http://schemas.openxmlformats.org/""" +
          s"""spreadsheetml/2006/main"><sheetData>$body</sheetData>""" +
          "</worksheet>").getBytes("UTF-8"))
    }
    val workbook =
      ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<workbook xmlns="http://schemas.openxmlformats.org/""" +
        """spreadsheetml/2006/main" xmlns:r="http://schemas.""" +
        """openxmlformats.org/officeDocument/2006/relationships">""" +
        "<sheets>" +
        sheets.zipWithIndex.map { case ((name, _), i) =>
          s"""<sheet name="${Payload.xmlEscape(name)}" sheetId="${
            i + 1}" r:id="rId${i + 1}"/>"""
        }.mkString + "</sheets></workbook>").getBytes("UTF-8")
    val rels =
      ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Relationships xmlns="http://schemas.openxmlformats.org/""" +
        """package/2006/relationships">""" +
        sheets.indices.map { i =>
          s"""<Relationship Id="rId${i + 1}" Type="http://schemas.""" +
            """openxmlformats.org/officeDocument/2006/relationships/""" +
            s"""worksheet" Target="worksheets/sheet${i + 1}.xml"/>"""
        }.mkString + "</Relationships>").getBytes("UTF-8")
    // rich-run si on odd indexes: split the string into two <r> runs
    val sst =
      ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<sst xmlns="http://schemas.openxmlformats.org/""" +
        s"""spreadsheetml/2006/main" count="${sharedPool.size}" """ +
        s"""uniqueCount="${sharedPool.size}">""" +
        sharedPool.keysIterator.zipWithIndex.map { case (s, i) =>
          if (i % 2 == 1 && s.length > 1) {
            val mid = s.length / 2
            s"<si><r><t xml:space=\"preserve\">${
              Payload.xmlEscape(s.substring(0, mid))}</t></r><r>" +
              s"<t xml:space=\"preserve\">${
                Payload.xmlEscape(s.substring(mid))}</t></r></si>"
          } else
            s"<si><t xml:space=\"preserve\">${
              Payload.xmlEscape(s)}</t></si>"
        }.mkString + "</sst>").getBytes("UTF-8")
    Payload.buildZip(
      Seq("xl/workbook.xml" -> workbook,
        "xl/_rels/workbook.xml.rels" -> rels,
        "xl/sharedStrings.xml" -> sst) ++ sheetXml.reverse)
  }
}

