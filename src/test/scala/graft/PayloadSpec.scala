package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources._

/**
 * The shared hostile-payload rules across every consumer: a repeated
 * entry name in a document container errs NAMED (ZIP shards keep one
 * row per member), and no StAX consumer resolves an external entity.
 */
class PayloadSpec extends AnyFunSuite {

  /** `entries` with a second `name` entry (holding `copy`) inserted at
    * `at`. `ZipOutputStream` refuses duplicates, so the copy is written
    * under a same-length stand-in and the stand-in is patched to `name`
    * in the local header and the central directory. */
  private def withDuplicate(entries: Seq[(String, Array[Byte])],
                            name: String, copy: Array[Byte],
                            at: Int = -1): Array[Byte] = {
    val standIn = name.init + "#"
    val zip = Payload.buildZip(
      entries.patch(if (at < 0) entries.size else at,
        Seq(standIn -> copy), 0))
    val from = standIn.getBytes("UTF-8")
    val to = name.getBytes("UTF-8")
    var patched = 0
    var i = 0
    while (i <= zip.length - from.length) {
      if (java.util.Arrays.equals(zip, i, i + from.length, from, 0,
          from.length)) {
        System.arraycopy(to, 0, zip, i, to.length)
        patched += 1
      }
      i += 1
    }
    assert(patched == 2, "stand-in name must sit in the local header " +
      "and the central directory")
    zip
  }

  private def entriesOf(container: Array[Byte]): Seq[(String, Array[Byte])] =
    Payload.zipEntries(container, "T", Pdf.MaxDecodedBytes).toSeq

  private def assertDuplicate(tag: String, name: String)(
      extract: => String): Unit = {
    val e = intercept[IllegalArgumentException](extract)
    assert(e.getMessage == s"$tag: duplicate entry $name", e.getMessage)
  }

  test("DOCX: a repeated entry name before word/document.xml errs NAMED") {
    val ns = "xmlns:w=\"http://schemas.openxmlformats.org/" +
      "wordprocessingml/2006/main\""
    val doc = s"<w:document $ns><w:body><w:p><w:r><w:t>text</w:t>" +
      "</w:r></w:p></w:body></w:document>"
    val bytes = withDuplicate(Seq(
      "word/styles.xml" -> "<w:styles/>".getBytes("UTF-8"),
      "word/document.xml" -> doc.getBytes("UTF-8")),
      "word/styles.xml", "<w:styles>other</w:styles>".getBytes("UTF-8"),
      at = 1)
    assertDuplicate("DOCX", "word/styles.xml")(Docx.extractText(bytes))
  }

  test("EPUB: a repeated chapter entry errs NAMED") {
    val book = entriesOf(Epub.buildEpub("Title", "body"))
    val bytes = withDuplicate(book, "OEBPS/ch1.xhtml",
      "<html><body><p>other copy</p></body></html>".getBytes("UTF-8"))
    assertDuplicate("EPUB", "OEBPS/ch1.xhtml")(Epub.extractText(bytes))
  }

  test("XLSX: a repeated worksheet entry errs NAMED") {
    val wb = entriesOf(Xlsx.buildXlsx(Seq(
      ("S", Seq(Seq(Xlsx.Cell("one", 'i')))))))
    val sheet = wb.toMap.apply("xl/worksheets/sheet1.xml")
    val other = new String(sheet, "UTF-8").replace(">one<", ">two<")
    val bytes = withDuplicate(wb, "xl/worksheets/sheet1.xml",
      other.getBytes("UTF-8"))
    assertDuplicate("XLSX", "xl/worksheets/sheet1.xml")(
      Xlsx.extractText(bytes))
  }

  test("PPTX: a repeated slide entry errs NAMED") {
    val deck = entriesOf(Pptx.buildPptx(Seq(Seq("one"))))
    val slide = deck.toMap.apply("ppt/slides/slide1.xml")
    val other = new String(slide, "UTF-8").replace(">one<", ">two<")
    val bytes = withDuplicate(deck, "ppt/slides/slide1.xml",
      other.getBytes("UTF-8"))
    assertDuplicate("PPTX", "ppt/slides/slide1.xml")(
      Pptx.extractText(bytes))
  }

  test("ODF (ODT, ODS, ODP): a repeated content.xml errs NAMED") {
    def dup(pkg: Array[Byte]): Array[Byte] = {
      val entries = entriesOf(pkg)
      withDuplicate(entries, "content.xml", entries.toMap.apply(
        "content.xml"))
    }
    assertDuplicate("ODT", "content.xml")(
      Odt.extractText(dup(Odt.buildOdt("Heading", Seq("body")))))
    assertDuplicate("ODS", "content.xml")(
      Ods.extractText(dup(Ods.buildOds(Seq(
        ("S", Seq(Seq(Ods.Cell("x", 's')))))))))
    assertDuplicate("ODP", "content.xml")(
      Odp.extractText(dup(Odp.buildOdp(Seq(Seq("slide"))))))
  }

  test("ZIP shards keep one row per member, repeated names included") {
    val bytes = withDuplicate(
      Seq("a.txt" -> "first".getBytes("UTF-8")), "a.txt",
      "second".getBytes("UTF-8"))
    val (members, skipped) = Zip.textMembers(bytes)
    assert(members == Seq("a.txt" -> "first", "a.txt" -> "second"))
    assert(skipped == 0)
  }

  test("no StAX consumer resolves an external entity: each fails NAMED " +
      "or returns text without the entity file's content") {
    val marker = "XXE-MARKER-5b1f"
    val file = java.nio.file.Files.createTempFile("graft-xxe", ".txt")
    try {
      java.nio.file.Files.write(file, marker.getBytes("UTF-8"))
      val doctype = "<!DOCTYPE r [<!ENTITY x SYSTEM \"" + file.toUri +
        "\">]>"
      // the DOCTYPE goes after the XML declaration, and `&x;` replaces
      // the planted word
      def evil(xml: String): String = {
        val at = if (xml.startsWith("<?xml")) xml.indexOf("?>") + 2 else 0
        (xml.substring(0, at) + doctype + xml.substring(at))
          .replace("PLANTED", "&x;")
      }
      def inContainer(container: Array[Byte], part: String): Array[Byte] =
        Payload.buildZip(entriesOf(container).map {
          case (`part`, xml) =>
            part -> evil(new String(xml, "UTF-8")).getBytes("UTF-8")
          case other => other
        })
      val consumers: Seq[(String, () => String)] = Seq(
        "DOCX" -> (() => Docx.extractText(inContainer(
          Docx.buildDocx("PLANTED", "body"), "word/document.xml"))),
        "EPUB" -> (() => Epub.extractText(inContainer(
          Epub.buildEpub("PLANTED", "body"), "OEBPS/ch1.xhtml"))),
        "XLSX" -> (() => Xlsx.extractText(inContainer(
          Xlsx.buildXlsx(Seq(("S", Seq(Seq(Xlsx.Cell("PLANTED", 's')))))),
          "xl/sharedStrings.xml"))),
        "PPTX" -> (() => Pptx.extractText(inContainer(
          Pptx.buildPptx(Seq(Seq("PLANTED"))), "ppt/slides/slide1.xml"))),
        "ODT" -> (() => Odt.extractText(inContainer(
          Odt.buildOdt("PLANTED", Seq("body")), "content.xml"))),
        "ODS" -> (() => Ods.extractText(inContainer(
          Ods.buildOds(Seq(("S", Seq(Seq(Ods.Cell("PLANTED", 's')))))),
          "content.xml"))),
        "ODP" -> (() => Odp.extractText(inContainer(
          Odp.buildOdp(Seq(Seq("PLANTED"))), "content.xml"))),
        "WIKI" -> (() => {
          val p = Wiki.parsePage(evil(Wiki.buildPage("PLANTED", 0, "body")))
          p.title + "\n" + p.text
        }),
        "STACKEXCHANGE" -> (() => StackExchange.parseRow(
          evil("<row Id=\"1\" Body=\"PLANTED\" />")).values.mkString("\n")))
      assert(consumers.size == 9)
      consumers.foreach { case (tag, extract) =>
        try {
          val text = extract()
          assert(!text.contains(marker), s"$tag resolved the entity")
        } catch {
          case e: IllegalArgumentException =>
            assert(e.getMessage.startsWith(s"$tag: ") &&
              !e.getMessage.contains(marker), e.getMessage)
        }
      }
    } finally java.nio.file.Files.delete(file)
  }
}
