package graft.sources

/**
 * OpenDocument Spreadsheet (ODS) extraction — completing the office
 * family's ODF half beside [[Odt]] (as [[Xlsx]] sits beside
 * [[Docx]]). Written from the public ODF structure (OASIS
 * OpenDocument): `content.xml` carries
 * `<office:body>/<office:spreadsheet>` with `<table:table>` sheets,
 * `<table:table-row>` rows, `<table:table-cell>` cells whose value
 * resolves by `office:value-type` — `string` → the nested
 * `<text:p>` content (paragraphs joined with a space), everything
 * else (`float`/`currency`/`percentage` → `office:value`, `date` →
 * `office:date-value`, `time` → `office:time-value`, `boolean` →
 * `office:boolean-value` upcased) from its typed attribute, matching
 * [[Xlsx]]'s number-verbatim rule.
 *
 * The format's characteristic trap is REPEAT COUNTS:
 * `table:number-columns-repeated` / `table:number-rows-repeated` are
 * how real writers encode runs — including the notorious trailing
 * `number-columns-repeated="16384"` empty cell every LibreOffice
 * export carries. Handling: trailing EMPTY repeats trim (pending
 * counts never materialize unless content follows), non-empty (or
 * interior) expansions past [[MaxRepeat]] err NAMED — a crafted
 * `repeated="2000000000"` quarantines per-row instead of allocating.
 * `<table:covered-table-cell>` merge placeholders carry no text: an
 * interior one keeps its empty slot (tab-separated), a trailing one
 * trims with the empties.
 *
 * Output shape mirrors [[Xlsx.extractText]]: per sheet its NAME
 * line, then rows with cells tab-joined; hardening mirrors [[Odt]]:
 * ZIP caps, XXE-off StAX, `encryption-data` manifest named, and
 * `<office:annotation>` reviewer comments inside cells drop WHOLE
 * (their `<text:p>` content is not cell text).
 *
 * The reference engine (parquery) has no document surface — this is
 * a training-data-pipeline extension (SURVEY §8).
 */
object Ods {

  private def err(msg: String): Nothing =
    throw new IllegalArgumentException(s"ODS: $msg")

  /** Cap on materialized repeat expansions (cells per row / row
    * copies). Real content runs sit far below; trailing empty runs
    * (which go to 16384 in every LibreOffice export) never
    * materialize at all. */
  private[graft] val MaxRepeat = 65536

  def extractText(bytes: Array[Byte]): String = {
    val r = Payload.reader(Odt.content(bytes, "ODS"), "ODS")
    val out = new StringBuilder

    // per-sheet state
    var inSheet = false
    var pendingEmptyRows = 0L // trailing-empty-row trim
    // per-row state
    var inRow = false
    var rowRepeat = 1L
    val cells = Vector.newBuilder[String]
    var nCells = 0
    var pendingEmptyCells = 0L // trailing-empty-cell trim
    // per-cell state
    var inCell = false
    var cellRepeat = 1L
    var typedValue: String = null // from office:* value attributes
    val cellText = new StringBuilder
    var cellParas = 0
    var textDepth = 0
    var noteDepth = 0 // inside office:annotation — the [[Odt]] drop

    def attr(name: String): Option[String] =
      Option(r.getAttributeValue(null, name))
    def repeatOf(name: String): Long =
      attr(name).map { v =>
        val n = try v.toLong catch {
          case _: NumberFormatException => err(s"bad $name '${v.take(20)}'")
        }
        if (n < 1) err(s"bad $name $n")
        n
      }.getOrElse(1L)
    def emitCell(): Unit = {
      val text =
        if (typedValue != null) typedValue else cellText.toString
      if (text.isEmpty) pendingEmptyCells += cellRepeat
      else {
        val total = pendingEmptyCells + cellRepeat
        if (nCells + total > MaxRepeat)
          err(s"row expands past $MaxRepeat cells (repeat bomb?)")
        var i = 0L
        while (i < pendingEmptyCells) { cells += ""; i += 1 }
        pendingEmptyCells = 0
        i = 0L
        while (i < cellRepeat) { cells += text; i += 1 }
        nCells = (nCells + total).toInt
      }
    }
    def emitRow(): Unit = {
      val row = cells.result()
      cells.clear(); nCells = 0; pendingEmptyCells = 0
      if (row.isEmpty) pendingEmptyRows += rowRepeat
      else {
        if (pendingEmptyRows + rowRepeat > MaxRepeat)
          err(s"sheet expands past $MaxRepeat rows (repeat bomb?)")
        var i = 0L
        while (i < pendingEmptyRows) { out.append('\n'); i += 1 }
        pendingEmptyRows = 0
        val line = row.mkString("\t")
        i = 0L
        while (i < rowRepeat) {
          out.append('\n').append(line); i += 1
        }
      }
    }
    try {
      while (r.hasNext) {
        r.next() match {
          case javax.xml.stream.XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "table" =>
                inSheet = true
                pendingEmptyRows = 0
                if (out.nonEmpty) out.append('\n')
                out.append(attr("name").getOrElse(""))
              case "table-row" if inSheet =>
                inRow = true
                rowRepeat = repeatOf("number-rows-repeated")
              case "table-cell" | "covered-table-cell" if inRow =>
                inCell = true
                cellRepeat = repeatOf("number-columns-repeated")
                cellText.setLength(0)
                cellParas = 0
                typedValue =
                  if (r.getLocalName == "covered-table-cell") ""
                  else attr("value-type") match {
                    case Some("string") | None => null // from text:p
                    case Some("boolean") =>
                      attr("boolean-value")
                        .map(_.toUpperCase).getOrElse("")
                    case Some("date") =>
                      attr("date-value").getOrElse("")
                    case Some("time") =>
                      attr("time-value").getOrElse("")
                    case _ => attr("value").getOrElse("")
                  }
              case "annotation" => noteDepth += 1
              case "p" if inCell && noteDepth == 0 =>
                if (cellParas > 0) cellText.append(' ')
                cellParas += 1
                textDepth += 1
              case "s" if inCell && textDepth > 0 && noteDepth == 0 =>
                cellText.append(' ')
              case "tab" if inCell && textDepth > 0 && noteDepth == 0 =>
                cellText.append('\t')
              case _ => ()
            }
          case javax.xml.stream.XMLStreamConstants.CHARACTERS |
               javax.xml.stream.XMLStreamConstants.CDATA =>
            if (inCell && textDepth > 0 && noteDepth == 0 &&
                typedValue == null) {
              if (cellText.length + r.getTextLength > Pdf.MaxDecodedBytes)
                err("cell exceeds the decode cap")
              cellText.append(r.getText)
            }
          case javax.xml.stream.XMLStreamConstants.END_ELEMENT =>
            r.getLocalName match {
              case "annotation" => noteDepth = math.max(0, noteDepth - 1)
              case "table" => inSheet = false
              case "table-row" if inRow =>
                inRow = false
                emitRow()
              case "table-cell" | "covered-table-cell" if inCell =>
                inCell = false
                emitCell()
              case "p" if inCell && textDepth > 0 && noteDepth == 0 =>
                textDepth -= 1
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

  /** One fixture cell: `value` + `kind` (`s` string via text:p, `2`
    * string split on `|` across TWO text:p paragraphs, `f` float,
    * `b` boolean, `d` date, `r` string repeated twice via
    * number-columns-repeated, `c` covered placeholder). */
  final case class Cell(value: String, kind: Char)

  /** A spec-shaped ODF spreadsheet package. Every row ends with the
    * LibreOffice trailing `number-columns-repeated="16384"` empty
    * cell, and every sheet with a `number-rows-repeated="1048576"`
    * empty row — both of which extraction must TRIM, not allocate. */
  def buildOds(sheets: Seq[(String, Seq[Seq[Cell]])]): Array[Byte] = {
    val e = Payload.xmlEscape _
    def cellXml(c: Cell): String = c.kind match {
      case 's' =>
        s"""<table:table-cell office:value-type="string">""" +
          s"<text:p>${e(c.value)}</text:p></table:table-cell>"
      case '2' =>
        val Array(a, b) = c.value.split("\\|", 2)
        s"""<table:table-cell office:value-type="string">""" +
          s"<text:p>${e(a)}</text:p><text:p>${e(b)}</text:p>" +
          "</table:table-cell>"
      case 'f' =>
        s"""<table:table-cell office:value-type="float" """ +
          s"""office:value="${e(c.value)}"><text:p>formatted ignored""" +
          "</text:p></table:table-cell>"
      case 'b' =>
        s"""<table:table-cell office:value-type="boolean" """ +
          s"""office:boolean-value="${e(c.value.toLowerCase)}"/>"""
      case 'd' =>
        s"""<table:table-cell office:value-type="date" """ +
          s"""office:date-value="${e(c.value)}"/>"""
      case 'r' =>
        s"""<table:table-cell table:number-columns-repeated="2" """ +
          s"""office:value-type="string"><text:p>${e(c.value)}""" +
          "</text:p></table:table-cell>"
      case 'c' => "<table:covered-table-cell/>"
      case k => err(s"fixture: unknown cell kind '$k'")
    }
    val body = sheets.map { case (name, rows) =>
      val rowXml = rows.map { cells =>
        "<table:table-row>" + cells.map(cellXml).mkString +
          """<table:table-cell table:number-columns-repeated="16384"/>""" +
          "</table:table-row>"
      }.mkString
      s"""<table:table table:name="${e(name)}">""" + rowXml +
        """<table:table-row table:number-rows-repeated="1048576">""" +
        "<table:table-cell/></table:table-row></table:table>"
    }.mkString
    val content =
      """<?xml version="1.0" encoding="UTF-8"?>""" +
        "<office:document-content " +
        "xmlns:office=\"urn:oasis:names:tc:opendocument:xmlns:office:1.0\" " +
        "xmlns:table=\"urn:oasis:names:tc:opendocument:xmlns:table:1.0\" " +
        "xmlns:text=\"urn:oasis:names:tc:opendocument:xmlns:text:1.0\">" +
        "<office:body><office:spreadsheet>" + body +
        "</office:spreadsheet></office:body></office:document-content>"
    Odt.buildPackage("spreadsheet", content)
  }
}
