package graft

import graft.sources.{Pptx, Xlsx}

/**
 * OOXML spreadsheet/presentation extraction: workbook/deck order vs
 * ZIP order, every cell-type resolution, rich-run reassembly, named
 * boundaries (OLE, bad shared index, missing parts, unknown cell
 * type), the shared-plumbing bomb cap, and per-row quarantine.
 */
class OfficeSpec extends SparkSpec {

  private def cells(s: String*): Seq[Xlsx.Cell] =
    s.map(Xlsx.Cell(_, 'i'))

  test("XLSX: sheets in WORKBOOK order (parts stored reversed), " +
      "shared/inline/number/boolean/formula cells resolve, rich runs " +
      "reassemble") {
    val wb = Xlsx.buildXlsx(Seq(
      ("First", Seq(
        Seq(Xlsx.Cell("alpha", 's'), Xlsx.Cell("beta", 's'),
          Xlsx.Cell("inline", 'i')),
        Seq(Xlsx.Cell("7.25", 'n'), Xlsx.Cell("TRUE", 'b'),
          Xlsx.Cell("FALSE", 'b'), Xlsx.Cell("fres", 'f')))),
      ("Second", Seq(Seq(Xlsx.Cell("tail", 's'))))))
    // "beta" lands at shared index 1 → written as two rich runs
    assert(Xlsx.extractText(wb) ==
      "First\nalpha\tbeta\tinline\n7.25\tTRUE\tFALSE\tfres\n" +
        "Second\ntail")
  }

  test("XLSX named boundaries: OLE magic, not-a-zip, missing " +
      "workbook, shared index out of range, unknown cell type") {
    val ole = Array[Byte](0xD0.toByte, 0xCF.toByte, 0x11, 0xE0.toByte,
      0, 0, 0, 0)
    assert(intercept[IllegalArgumentException](
      Xlsx.extractText(ole)).getMessage.contains("OLE"))
    assert(intercept[IllegalArgumentException](
      Xlsx.extractText("nope".getBytes)).getMessage.contains("ZIP"))
    val noWb = graft.sources.Payload.buildZip(
      Seq("other.xml" -> "<x/>".getBytes))
    assert(intercept[IllegalArgumentException](
      Xlsx.extractText(noWb)).getMessage.contains("workbook"))
    // corrupt a valid workbook's sharedStrings reference: rebuild the
    // sheet with an out-of-range index
    val good = Xlsx.buildXlsx(Seq(("S", Seq(cells("x")))))
    val entries = graft.sources.Payload.zipEntries(good, "T",
      graft.sources.Payload.OfficeEntryBytes)
    val badSheet = new String(
      entries("xl/worksheets/sheet1.xml"), "UTF-8")
      .replace("t=\"inlineStr\"><is><t>x</t></is>",
        "t=\"s\"><v>99</v>")
    val bad = graft.sources.Payload.buildZip(
      (entries + ("xl/worksheets/sheet1.xml" ->
        badSheet.getBytes("UTF-8"))).toSeq)
    assert(intercept[IllegalArgumentException](
      Xlsx.extractText(bad)).getMessage.contains("out of range"))
    val badType = new String(
      entries("xl/worksheets/sheet1.xml"), "UTF-8")
      .replace("t=\"inlineStr\"", "t=\"wat\"")
    val bad2 = graft.sources.Payload.buildZip(
      (entries + ("xl/worksheets/sheet1.xml" ->
        badType.getBytes("UTF-8"))).toSeq)
    assert(intercept[IllegalArgumentException](
      Xlsx.extractText(bad2)).getMessage.contains("wat"))
  }

  test("the shared OOXML walk errs NAMED when entries together blow " +
      "the archive decode budget (per-entry caps alone allow N times " +
      "the cap)") {
    val out = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(out)
    z.setLevel(9)
    val zeros = new Array[Byte](1 << 16)
    (0 until 5).foreach { i =>
      z.putNextEntry(new java.util.zip.ZipEntry(s"part$i.bin"))
      var fed = 0L
      while (fed < (60L << 20)) { z.write(zeros); fed += zeros.length }
      z.closeEntry()
    }
    z.close()
    assert(out.size() < (2 << 20), "bomb must be small on disk")
    val e = intercept[IllegalArgumentException](
      graft.sources.Payload.zipEntries(out.toByteArray, "T",
        graft.sources.Payload.OfficeEntryBytes))
    assert(e.getMessage.contains("bomb"), e.getMessage)
  }

  test("PPTX: slides in sldIdLst order (parts stored reversed), " +
      "paragraphs become lines; missing parts err NAMED") {
    val deck = Pptx.buildPptx(Seq(
      Seq("Title Slide"), Seq("para one", "para two"), Seq("end")))
    assert(Pptx.extractText(deck) ==
      "Title Slide\npara one\npara two\nend")
    val noPres = graft.sources.Payload.buildZip(
      Seq("other.xml" -> "<x/>".getBytes))
    assert(intercept[IllegalArgumentException](
      Pptx.extractText(noPres)).getMessage.contains("presentation"))
    // a deck whose rels lost a slide: unknown relationship NAMED
    val entries = graft.sources.Payload.zipEntries(deck, "T",
      graft.sources.Payload.OfficeEntryBytes)
    val brokenRels = new String(
      entries("ppt/_rels/presentation.xml.rels"), "UTF-8")
      .replace("Id=\"rId2\"", "Id=\"rIdX\"")
    val broken = graft.sources.Payload.buildZip(
      (entries + ("ppt/_rels/presentation.xml.rels" ->
        brokenRels.getBytes("UTF-8"))).toSeq)
    assert(intercept[IllegalArgumentException](
      Pptx.extractText(broken)).getMessage.contains("rId2"))
  }

  test("Spark surfaces quarantine failed payloads per-row") {
    import spark.implicits._
    val xrows: Seq[(Long, Array[Byte])] = Seq(
      (1L, Xlsx.buildXlsx(Seq(("S", Seq(cells("ok")))))),
      (2L, "garbage".getBytes))
    val xout = Xlsx.extractTexts(spark.createDataset(xrows))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1)
    assert(xout(0) == ((1L, "S\nok", null)))
    assert(xout(1)._2 == null && xout(1)._3 != null)
    val prows: Seq[(Long, Array[Byte])] = Seq(
      (1L, Pptx.buildPptx(Seq(Seq("ok")))),
      (2L, "garbage".getBytes))
    val pout = Pptx.extractTexts(spark.createDataset(prows))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1)
    assert(pout(0) == ((1L, "ok", null)))
    assert(pout(1)._2 == null && pout(1)._3 != null)
  }
}
