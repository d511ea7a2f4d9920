package graft

import graft.sources.Odp

class OdpSpec extends SparkSpec {

  test("slides extract in document order, one line per paragraph; " +
      "speaker notes and annotations drop WHOLE") {
    val odp = Odp.buildOdp(Seq(
      Seq("Title Slide", "subtitle here"),
      Seq("second slide", "with two paragraphs")))
    assert(Odp.extractText(odp) ==
      "Title Slide\nsubtitle here\nsecond slide\nwith two paragraphs")
  }

  test("text:s expansion capped, bad counts err NAMED; encrypted " +
      "and non-ODF packages err NAMED") {
    val bombXml =
      """<?xml version="1.0"?><office:document-content """ +
        "xmlns:office=\"urn:oasis:names:tc:opendocument:xmlns:office:1.0\" " +
        "xmlns:draw=\"urn:oasis:names:tc:opendocument:xmlns:drawing:1.0\" " +
        "xmlns:text=\"urn:oasis:names:tc:opendocument:xmlns:text:1.0\">" +
        "<office:body><office:presentation><draw:page>" +
        "<draw:frame><draw:text-box><text:p>x" +
        "<text:s text:c=\"2000000000\"/>y</text:p>" +
        "</draw:text-box></draw:frame>" +
        "</draw:page></office:presentation></office:body>" +
        "</office:document-content>"
    val bomb = graft.sources.Payload.buildZip(Seq(
      ("content.xml", bombXml.getBytes("UTF-8"))))
    val e1 = intercept[IllegalArgumentException](Odp.extractText(bomb))
    assert(e1.getMessage.contains("out of bounds"))
    val enc = graft.sources.Payload.buildZip(Seq(
      ("META-INF/manifest.xml",
        "<m><encryption-data/></m>".getBytes("UTF-8")),
      ("content.xml", "<x/>".getBytes("UTF-8"))))
    val e2 = intercept[IllegalArgumentException](Odp.extractText(enc))
    assert(e2.getMessage.contains("encrypted"))
    val none = graft.sources.Payload.buildZip(Seq(
      ("other.xml", "<x/>".getBytes("UTF-8"))))
    val e3 = intercept[IllegalArgumentException](Odp.extractText(none))
    assert(e3.getMessage.contains("content.xml"))
  }
}
