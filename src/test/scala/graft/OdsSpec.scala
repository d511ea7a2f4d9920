package graft

import graft.sources.Ods

class OdsSpec extends SparkSpec {

  test("full fixture: value types resolve, two-paragraph cells join " +
      "with a space, repeats materialize, covered cells keep their " +
      "slot, trailing 16384-cell and 1048576-row runs TRIM") {
    val ods = Ods.buildOds(Seq(
      ("Meta", Seq(Seq(Ods.Cell("title", 's'),
        Ods.Cell("42.5", 'f'), Ods.Cell("TRUE", 'b'),
        Ods.Cell("2026-01-05", 'd')))),
      ("Body", Seq(
        Seq(Ods.Cell("a|b", '2'), Ods.Cell("x", 'r')),
        Seq(Ods.Cell("m", 's'), Ods.Cell("", 'c'),
          Ods.Cell("end", 's'))))))
    assert(Ods.extractText(ods) ==
      "Meta\ntitle\t42.5\tTRUE\t2026-01-05\n" +
        "Body\na b\tx\tx\nm\t\tend")
  }

  test("interior empty runs keep their slots; fully empty rows " +
      "between content become blank lines") {
    // hand-built content: empty cell between values; empty row
    // between rows
    val xml =
      """<?xml version="1.0"?><office:document-content """ +
        "xmlns:office=\"urn:oasis:names:tc:opendocument:xmlns:office:1.0\" " +
        "xmlns:table=\"urn:oasis:names:tc:opendocument:xmlns:table:1.0\" " +
        "xmlns:text=\"urn:oasis:names:tc:opendocument:xmlns:text:1.0\">" +
        "<office:body><office:spreadsheet>" +
        """<table:table table:name="S">""" +
        "<table:table-row>" +
        "<table:table-cell office:value-type=\"string\"><text:p>a</text:p></table:table-cell>" +
        "<table:table-cell table:number-columns-repeated=\"3\"/>" +
        "<table:table-cell office:value-type=\"string\"><text:p>b</text:p></table:table-cell>" +
        "</table:table-row>" +
        "<table:table-row><table:table-cell/></table:table-row>" +
        "<table:table-row>" +
        "<table:table-cell office:value-type=\"string\"><text:p>c</text:p></table:table-cell>" +
        "</table:table-row>" +
        "</table:table></office:spreadsheet></office:body>" +
        "</office:document-content>"
    val pkg = graft.sources.Payload.buildZip(Seq(
      ("content.xml", xml.getBytes("UTF-8"))))
    assert(Ods.extractText(pkg) == "S\na\t\t\t\tb\n\nc")
  }

  test("repeat bombs err NAMED: interior cell expansion and " +
      "non-empty row repeat past the cap; bad counts err NAMED") {
    def sheet(rowXml: String): Array[Byte] =
      graft.sources.Payload.buildZip(Seq(("content.xml",
        ("""<?xml version="1.0"?><office:document-content """ +
          "xmlns:office=\"urn:oasis:names:tc:opendocument:xmlns:office:1.0\" " +
          "xmlns:table=\"urn:oasis:names:tc:opendocument:xmlns:table:1.0\" " +
          "xmlns:text=\"urn:oasis:names:tc:opendocument:xmlns:text:1.0\">" +
          "<office:body><office:spreadsheet>" +
          s"""<table:table table:name="S">$rowXml</table:table>""" +
          "</office:spreadsheet></office:body></office:document-content>")
          .getBytes("UTF-8"))))
    val interiorBomb = "<table:table-row>" +
      "<table:table-cell table:number-columns-repeated=\"2000000000\"/>" +
      "<table:table-cell office:value-type=\"string\"><text:p>x</text:p></table:table-cell>" +
      "</table:table-row>"
    val rowBomb = "<table:table-row " +
      "table:number-rows-repeated=\"2000000000\">" +
      "<table:table-cell office:value-type=\"string\"><text:p>x</text:p></table:table-cell>" +
      "</table:table-row>"
    val badCount = "<table:table-row>" +
      "<table:table-cell table:number-columns-repeated=\"-4\"/>" +
      "</table:table-row>"
    for (bad <- Seq(interiorBomb, rowBomb, badCount)) {
      val e = intercept[IllegalArgumentException] {
        Ods.extractText(sheet(bad))
      }
      assert(e.getMessage.startsWith("ODS:"))
    }
  }

  test("office:annotation inside a cell drops WHOLE — reviewer " +
      "comments are not cell text") {
    val xml =
      """<?xml version="1.0"?><office:document-content """ +
        "xmlns:office=\"urn:oasis:names:tc:opendocument:xmlns:office:1.0\" " +
        "xmlns:table=\"urn:oasis:names:tc:opendocument:xmlns:table:1.0\" " +
        "xmlns:text=\"urn:oasis:names:tc:opendocument:xmlns:text:1.0\">" +
        "<office:body><office:spreadsheet>" +
        """<table:table table:name="S"><table:table-row>""" +
        "<table:table-cell office:value-type=\"string\">" +
        "<office:annotation><text:p>dropped comment</text:p>" +
        "</office:annotation><text:p>kept</text:p></table:table-cell>" +
        "</table:table-row></table:table>" +
        "</office:spreadsheet></office:body></office:document-content>"
    val pkg = graft.sources.Payload.buildZip(Seq(
      ("content.xml", xml.getBytes("UTF-8"))))
    assert(Ods.extractText(pkg) == "S\nkept")
  }

  test("encrypted package and missing content.xml err NAMED") {
    val enc = graft.sources.Payload.buildZip(Seq(
      ("META-INF/manifest.xml",
        "<m><encryption-data/></m>".getBytes("UTF-8")),
      ("content.xml", "<x/>".getBytes("UTF-8"))))
    val e1 = intercept[IllegalArgumentException](Ods.extractText(enc))
    assert(e1.getMessage.contains("encrypted"))
    val none = graft.sources.Payload.buildZip(Seq(
      ("other.xml", "<x/>".getBytes("UTF-8"))))
    val e2 = intercept[IllegalArgumentException](Ods.extractText(none))
    assert(e2.getMessage.contains("content.xml"))
  }
}
