package graft

import graft.sources.{Odt, Payload}

class OdtSpec extends SparkSpec {

  test("fixture round-trips: spans reassemble, text:s/tab expand, " +
      "notes and annotations drop whole") {
    val got = Odt.extractText(
      Odt.buildOdt("Heading One", Seq("alpha beta gamma delta")))
    assert(got == "Heading One\nalpha beta gamma delta\n" +
      "base end\ncol1\tcol2")
  }

  test("text:s with a count expands; a bomb count errs NAMED") {
    val content = ("""<?xml version="1.0"?><office:document-content """ +
      """xmlns:office="urn:o" xmlns:text="urn:t"><office:body>""" +
      """<office:text><text:p>a<text:s text:c="3"/>b</text:p>""" +
      """</office:text></office:body></office:document-content>""")
    def pkg(c: String) = Payload.buildZip(Seq(
      ("content.xml", c.getBytes("UTF-8"))))
    assert(Odt.extractText(pkg(content)) == "a   b")
    val e = intercept[IllegalArgumentException] {
      Odt.extractText(pkg(content.replace("\"3\"", "\"2000000000\"")))
    }
    assert(e.getMessage.contains("ODT") && e.getMessage.contains("bomb"))
  }

  test("encrypted ODF packages err NAMED off the manifest") {
    val pkg = Payload.buildZip(Seq(
      ("META-INF/manifest.xml",
        ("<manifest:manifest><manifest:file-entry full-path=\"content.xml\">" +
          "<manifest:encryption-data/></manifest:file-entry>" +
          "</manifest:manifest>").getBytes("UTF-8")),
      ("content.xml", Array[Byte](1, 2, 3))))
    val e = intercept[IllegalArgumentException] {
      Odt.extractText(pkg)
    }
    assert(e.getMessage.contains("ODT") &&
      e.getMessage.contains("encrypted"))
  }

  test("non-ODF inputs err NAMED: missing content.xml, OLE, not ZIP") {
    val e1 = intercept[IllegalArgumentException] {
      Odt.extractText(Payload.buildZip(Seq(
        ("other.xml", "<x/>".getBytes("UTF-8")))))
    }
    assert(e1.getMessage.contains("content.xml"))
    val e2 = intercept[IllegalArgumentException] {
      Odt.extractText(Array[Byte](0xD0.toByte, 0xCF.toByte, 0x11,
        0xE0.toByte, 0, 0))
    }
    assert(e2.getMessage.contains("OLE"))
    val e3 = intercept[IllegalArgumentException] {
      Odt.extractText("plain text".getBytes("UTF-8"))
    }
    assert(e3.getMessage.contains("ZIP"))
  }

  test("malformed content.xml errs NAMED") {
    val e = intercept[IllegalArgumentException] {
      Odt.extractText(Payload.buildZip(Seq(
        ("content.xml", "<office:text><text:p>unclosed"
          .getBytes("UTF-8")))))
    }
    assert(e.getMessage.contains("ODT") &&
      e.getMessage.contains("malformed"))
  }
}
