package graft

import graft.sources.Docx

/**
 * DOCX text extraction: title/body round-trips (single and split-run
 * shapes), XML entities, tabs/breaks/tables, NAMED errors (OLE
 * compound = legacy/encrypted, non-ZIP, missing document.xml,
 * malformed XML, XXE attempts), and the quarantining Spark surface.
 */
class DocxSpec extends SparkSpec {

  test("title/body round-trip, single-run and split-run shapes") {
    val cases = Seq(
      ("A Title", "plain body text"),
      ("Entities & <angles>", "body with & ampersand < less > greater"),
      ("multi  space", "a  double  and   triple   spaced body"))
    cases.foreach { case (t, b) =>
      assert(Docx.extractText(Docx.buildDocx(t, b)) == s"$t\n$b")
      assert(Docx.extractText(Docx.buildDocx(t, b, splitRuns = true)) ==
        s"$t\n$b", s"split runs: '$b'")
    }
  }

  test("structural extraction: tabs, breaks, table rows/cells") {
    val text = Docx.extractText(Docx.buildStructuredDocx())
    assert(text ==
      "col a\tcol b\n" +
      "line one\nline two\n" +
      "r1c1\tr1c2\n" +
      "r2c1\tr2c2\n" +
      "after & entities <ok>")
  }

  test("tab-stop DEFINITIONS (w:pPr/w:tabs/w:tab) are not tab " +
      "characters; nested tables keep the outer row's state") {
    def zipDoc(xml: String): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      val z = new java.util.zip.ZipOutputStream(out)
      z.putNextEntry(new java.util.zip.ZipEntry("word/document.xml"))
      z.write(xml.getBytes("UTF-8")); z.closeEntry(); z.close()
      out.toByteArray
    }
    val ns = "xmlns:w=\"http://schemas.openxmlformats.org/" +
      "wordprocessingml/2006/main\""
    // paragraph with two tab-stop definitions, then normal text with
    // ONE run-level tab — extraction must carry exactly one \t
    val stops = zipDoc(
      s"""<w:document $ns><w:body><w:p>
<w:pPr><w:tabs><w:tab w:val="left" w:pos="720"/>
<w:tab w:val="right" w:pos="8640"/></w:tabs></w:pPr>
<w:r><w:t>left</w:t><w:tab/><w:t>right</w:t></w:r>
</w:p></w:body></w:document>""")
    assert(Docx.extractText(stops) == "left\tright")
    // 2x1 outer table whose first cell CONTAINS a 1x2 inner table —
    // the outer row must still join its cells with a tab
    val nested = zipDoc(
      s"""<w:document $ns><w:body><w:tbl><w:tr>
<w:tc><w:tbl><w:tr>
<w:tc><w:p><w:r><w:t>i1</w:t></w:r></w:p></w:tc>
<w:tc><w:p><w:r><w:t>i2</w:t></w:r></w:p></w:tc>
</w:tr></w:tbl><w:p><w:r><w:t>after inner</w:t></w:r></w:p></w:tc>
<w:tc><w:p><w:r><w:t>outer c2</w:t></w:r></w:p></w:tc>
</w:tr></w:tbl></w:body></w:document>""")
    // the inner row renders as its own line inside the outer cell
    // (documented); the OUTER cells still join with a tab
    assert(Docx.extractText(nested) ==
      "i1\ti2\nafter inner\touter c2")
  }

  test("NAMED errors: OLE compound (legacy/encrypted), non-ZIP, " +
      "missing document.xml, malformed XML") {
    val ole = Array[Byte](0xD0.toByte, 0xCF.toByte, 0x11, 0xE0.toByte,
      0, 0, 0, 0)
    val e1 = intercept[IllegalArgumentException](Docx.extractText(ole))
    assert(e1.getMessage.contains("OLE"))
    intercept[IllegalArgumentException](
      Docx.extractText("not zipped at all".getBytes))
    // valid zip without the payload entry
    val out = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(out)
    z.putNextEntry(new java.util.zip.ZipEntry("other.txt"))
    z.write("x".getBytes); z.closeEntry(); z.close()
    val e3 = intercept[IllegalArgumentException](
      Docx.extractText(out.toByteArray))
    assert(e3.getMessage.contains("document.xml"))
    // malformed XML payload
    val bad = new java.io.ByteArrayOutputStream()
    val zb = new java.util.zip.ZipOutputStream(bad)
    zb.putNextEntry(new java.util.zip.ZipEntry("word/document.xml"))
    zb.write("<w:document><unclosed".getBytes)
    zb.closeEntry(); zb.close()
    val e4 = intercept[IllegalArgumentException](
      Docx.extractText(bad.toByteArray))
    assert(e4.getMessage.contains("malformed"))
  }

  test("XXE attempt: DOCTYPE with external entity is rejected, not " +
      "resolved (crawled docx is untrusted input)") {
    val evil = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(evil)
    z.putNextEntry(new java.util.zip.ZipEntry("word/document.xml"))
    z.write(("""<?xml version="1.0"?>""" +
      """<!DOCTYPE d [<!ENTITY x SYSTEM "file:///etc/hostname">]>""" +
      """<w:document xmlns:w="ns"><w:body><w:p><w:r><w:t>&x;</w:t>""" +
      """</w:r></w:p></w:body></w:document>""").getBytes)
    z.closeEntry(); z.close()
    // with DTD support off this must fail as malformed, never read
    // the file
    val e = intercept[IllegalArgumentException](
      Docx.extractText(evil.toByteArray))
    assert(e.getMessage.contains("malformed"))
  }

  test("a ZIP-bomb document.xml errs NAMED at the output cap instead " +
      "of OOMing the executor") {
    val evil = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(evil)
    z.setLevel(java.util.zip.Deflater.BEST_COMPRESSION)
    z.putNextEntry(new java.util.zip.ZipEntry("word/document.xml"))
    val zeros = new Array[Byte](1 << 16)
    var fed = 0L
    while (fed < (300L << 20)) { z.write(zeros); fed += zeros.length }
    z.closeEntry(); z.close()
    assert(evil.size() < (4 << 20), "bomb payload itself must be small")
    val e = intercept[IllegalArgumentException](
      Docx.extractText(evil.toByteArray))
    assert(e.getMessage.contains("bomb"), e.getMessage)
  }

  test("bytes after word/document.xml are never read: a corrupt " +
      "tail still extracts") {
    val good = Docx.buildDocx("Title", "body text")
    // buildDocx writes word/document.xml last: where the central
    // directory was, put a local-header signature followed by garbage,
    // which errs if the walk goes on to read it
    val at = good.indexOfSlice(Array[Byte](0x50, 0x4B, 0x01, 0x02))
    assert(at > 0)
    val corrupt = good.take(at) ++ Array[Byte](0x50, 0x4B, 0x03, 0x04) ++
      Array.fill[Byte](64)(0x5A)
    assert(Docx.extractText(corrupt) == "Title\nbody text")
  }

  test("Spark surface quarantines failed payloads per-row") {
    import spark.implicits._
    val rows: Seq[(Long, Array[Byte])] = Seq(
      (1L, Docx.buildDocx("t1", "body one")),
      (2L, "garbage".getBytes),
      (3L, Docx.buildDocx("t3", "body three", splitRuns = true)))
    val out = Docx.extractTexts(spark.createDataset(rows))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1)
    assert(out(0) == ((1L, "t1\nbody one", null)))
    assert(out(1)._2 == null && out(1)._3 != null)
    assert(out(2) == ((3L, "t3\nbody three", null)))
  }
}
