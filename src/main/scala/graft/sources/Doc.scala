package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset}

/**
 * Legacy `.doc` (Word 97–2003 binary) text extraction — the format
 * pre-2007 document dumps are mostly made of, JDK-only and written
 * from the two public specs:
 *
 *  - MS-CFB (the OLE compound file container, the 0xD0CF11E0
 *    signature [[Docx]] already detects-and-names): 512/4096-byte
 *    sectors, a FAT built from the header DIFAT (+ chained DIFAT
 *    sectors), a directory stream of 128-byte entries, and a
 *    mini-FAT over 64-byte mini sectors inside the root entry's
 *    mini stream for streams under the 4096-byte cutoff (the table
 *    stream of a small document lives there).
 *  - MS-DOC: the `WordDocument` stream opens with the FIB. FibBase
 *    carries wIdent 0xA5EC, the flags word (fComplex, fEncrypted,
 *    fWhichTblStm), and the variable-length tail is parsed
 *    STRUCTURALLY (csw → fibRgW, cslw → fibRgLw, cbRgFcLcb →
 *    fibRgFcLcb) rather than by absolute offsets, so nFib variants
 *    with different section sizes still resolve. `ccpText` is
 *    FibRgLw97 field 3; `fcClx`/`lcbClx` are FibRgFcLcb97 pair 32
 *    (0-based — the 33rd fc/lcb pair, per the §2.5.7 field order:
 *    stshfOrig stshf plcffndRef plcffndTxt plcfandRef plcfandTxt
 *    plcfSed plcPad phe sttbfGlsy plcfGlsy plcfHdd plcfBteChpx
 *    plcfBtePapx sttbfFfn plcfFldMom plcfFldHdr plcfFldFtn
 *    plcfFldAtn plcfFldMcr sttbfBkmk plcfBkf plcfBkl cmds plcMcr
 *    sttbfMcr prDrvr prEnvPort prEnvLand wss dop sttbfAssoc → clx).
 *    The Clx in the table stream (`0Table`/`1Table` by
 *    fWhichTblStm) is RgPrc (0x01-tagged property blocks, skipped)
 *    + Pcdt (0x02 + PlcPcd). Each PCD's FcCompressed word selects
 *    8-bit windows-1252 at fc/2 or 16-bit UTF-16LE at fc; CPs are
 *    clamped to `ccpText` (the main document; footnotes/headers
 *    subdocuments follow it and are out of scope).
 *
 * A WRONG structural constant cannot produce silently wrong text:
 * the Clx is validated (leading tag ∈ {1,2}, Pcdt length arithmetic,
 * piece offsets bounds-checked against the stream) so a bad fcClx
 * read errs NAMED rather than decoding garbage.
 *
 * Control characters map like [[Docx]]'s element rules: 0x0D
 * (paragraph mark) and 0x0B (line break) → newline, 0x07 (cell/row
 * mark) → tab, field instructions between 0x13 and 0x14 dropped
 * (the result between 0x14 and 0x15 kept), object placeholders
 * (0x01, 0x08) and page breaks (0x0C) dropped, the document-final
 * paragraph marks stripped.
 *
 * Honest boundaries (NAMED errors): encrypted documents
 * (fEncrypted), fast-saved/incremental documents (fComplex),
 * documents whose FIB/Clx/piece arithmetic does not validate, and
 * non-CFB payloads. The Spark surface quarantines failures per-row
 * like [[Pdf.extractTexts]].
 *
 * The reference engine (parquery) has no document surface — this is
 * a training-data-pipeline extension (SURVEY §8), verified against
 * fixture files from [[buildDoc]] (an independent writer that
 * exercises both the FAT and mini-FAT read paths).
 */
object Doc {

  private def err(msg: String): Nothing =
    throw new IllegalArgumentException(s"DOC: $msg")

  private val FreeSect = 0xFFFFFFFF
  private val EndOfChain = 0xFFFFFFFE
  private val NoStream = 0xFFFFFFFF

  // ---------------------------------------------------------------
  // MS-CFB container reader
  // ---------------------------------------------------------------

  private final class Cfb(b: Array[Byte]) {
    if (b.length < 512) err("truncated payload (no CFB header)")
    if (!((b(0) & 0xFF) == 0xD0 && (b(1) & 0xFF) == 0xCF &&
        (b(2) & 0xFF) == 0x11 && (b(3) & 0xFF) == 0xE0 &&
        (b(4) & 0xFF) == 0xA1 && (b(5) & 0xFF) == 0xB1 &&
        (b(6) & 0xFF) == 0x1A && (b(7) & 0xFF) == 0xE1))
      err("not an OLE compound file")

    private def u16(o: Int): Int =
      if (o + 2 > b.length) err("read past end of file")
      else (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8)
    private def i32(o: Int): Int =
      if (o + 4 > b.length) err("read past end of file")
      else u16(o) | (u16(o + 2) << 16)

    if (u16(28) != 0xFFFE) err("bad CFB byte-order mark")
    private val sectorShift = u16(30)
    if (sectorShift != 9 && sectorShift != 12)
      err(s"bad CFB sector shift $sectorShift")
    private val ssz = 1 << sectorShift
    private val miniShift = u16(32)
    if (miniShift != 6) err(s"bad CFB mini sector shift $miniShift")
    private val miniCutoff = i32(56)
    private val entriesPerSector = ssz / 4

    private def sectorOff(n: Int): Int = {
      val off = (n.toLong + 1) * ssz
      if (n < 0 || off + ssz > b.length) err(s"sector $n out of bounds")
      off.toInt
    }

    // FAT from the 109 header DIFAT entries + chained DIFAT sectors
    private val fat: Array[Int] = {
      val numFat = i32(44)
      if (numFat < 0 || numFat.toLong * ssz > b.length)
        err(s"implausible FAT sector count $numFat")
      val fatSectors = new scala.collection.mutable.ArrayBuffer[Int]()
      var i = 0
      while (i < 109 && fatSectors.length < numFat) {
        val s = i32(76 + 4 * i)
        if (s != FreeSect) fatSectors += s
        i += 1
      }
      var difat = i32(68)
      var hops = 0
      while (difat != EndOfChain && difat != FreeSect) {
        if (hops > (b.length / ssz) + 1) err("DIFAT chain cycle")
        val off = sectorOff(difat)
        var j = 0
        while (j < entriesPerSector - 1 && fatSectors.length < numFat) {
          val s = i32(off + 4 * j)
          if (s != FreeSect) fatSectors += s
          j += 1
        }
        difat = i32(off + 4 * (entriesPerSector - 1))
        hops += 1
      }
      val out = new Array[Int](fatSectors.length * entriesPerSector)
      var k = 0
      fatSectors.foreach { s =>
        val off = sectorOff(s)
        var j = 0
        while (j < entriesPerSector) { out(k) = i32(off + 4 * j); k += 1; j += 1 }
      }
      out
    }

    /** Read a FAT sector chain, truncated to `size` bytes. */
    private def readChain(start: Int, size: Long): Array[Byte] = {
      if (size < 0 || size > Pdf.MaxDecodedBytes)
        err(s"stream size $size out of bounds")
      val out = new java.io.ByteArrayOutputStream(math.max(64, size.toInt))
      var s = start
      var hops = 0
      while (s != EndOfChain && out.size() < size) {
        if (s < 0 || s >= fat.length) err(s"FAT chain sector $s out of range")
        if (hops > fat.length) err("FAT chain cycle")
        val off = sectorOff(s)
        val take = math.min(ssz.toLong, size - out.size()).toInt
        out.write(b, off, take)
        s = fat(s)
        hops += 1
      }
      if (out.size() < size) err("stream chain shorter than directory size")
      out.toByteArray
    }

    // directory: linear walk over the chain (the red-black sibling
    // tree is a lookup accelerator; a flat scan is robust to the
    // torn/mangled trees crawled files carry)
    private case class Entry(name: String, objType: Int, startSector: Int,
                             size: Long)
    private val dirEntries: Vector[Entry] = {
      val firstDir = i32(48)
      // directory stream size is not in the v3 header: read whole chain
      val raw = {
        val out = new java.io.ByteArrayOutputStream(ssz)
        var s = firstDir
        var hops = 0
        while (s != EndOfChain) {
          if (s < 0 || s >= fat.length) err(s"directory sector $s out of range")
          if (hops > fat.length) err("directory chain cycle")
          // a crafted FAT can REVISIT sectors for fat.length hops
          // before the cycle guard fires — bound the bytes too, or
          // the walk allocates hops*sector and OOMs past quarantine
          if (out.size() + ssz > Pdf.MaxDecodedBytes)
            err("directory stream exceeds the size cap (crafted FAT?)")
          out.write(b, sectorOff(s), ssz)
          s = fat(s)
          hops += 1
        }
        out.toByteArray
      }
      (0 until raw.length / 128).map { i =>
        val o = i * 128
        def du16(p: Int) = (raw(o + p) & 0xFF) | ((raw(o + p + 1) & 0xFF) << 8)
        def di32(p: Int) = du16(p) | (du16(p + 2) << 16)
        val nameLen = du16(64)
        val name =
          if (nameLen >= 2 && nameLen <= 64)
            new String(raw, o, nameLen - 2, "UTF-16LE")
          else ""
        // v3 stream sizes are ≤ 32-bit; read the low word only
        Entry(name, raw(o + 66) & 0xFF, di32(116),
          di32(120).toLong & 0xFFFFFFFFL)
      }.toVector
    }

    private val root = dirEntries.headOption
      .filter(_.objType == 5).getOrElse(err("no CFB root entry"))

    private lazy val miniFat: Array[Int] = {
      val n = i32(64)
      if (n == 0) Array.empty
      else {
        val raw = readChain(i32(60), n.toLong * ssz)
        Array.tabulate(raw.length / 4)(i =>
          (raw(4 * i) & 0xFF) | ((raw(4 * i + 1) & 0xFF) << 8) |
            ((raw(4 * i + 2) & 0xFF) << 16) | ((raw(4 * i + 3) & 0xFF) << 24))
      }
    }
    private lazy val miniStream: Array[Byte] =
      readChain(root.startSector, root.size)

    private def readMiniChain(start: Int, size: Long): Array[Byte] = {
      if (size < 0 || size > Pdf.MaxDecodedBytes)
        err(s"mini stream size $size out of bounds")
      val out = new java.io.ByteArrayOutputStream(math.max(64, size.toInt))
      var s = start
      var hops = 0
      while (s != EndOfChain && out.size() < size) {
        if (s < 0 || s >= miniFat.length) err(s"mini-FAT sector $s out of range")
        if (hops > miniFat.length) err("mini-FAT chain cycle")
        val off = s * 64
        if (off + 64 > miniStream.length) err("mini sector past mini stream")
        out.write(miniStream, off, math.min(64L, size - out.size()).toInt)
        s = miniFat(s)
        hops += 1
      }
      if (out.size() < size) err("mini chain shorter than directory size")
      out.toByteArray
    }

    /** Stream payload by directory-entry name (first match). */
    def stream(name: String): Option[Array[Byte]] =
      dirEntries.find(e => e.objType == 2 && e.name == name).map { e =>
        if (e.size < miniCutoff) readMiniChain(e.startSector, e.size)
        else readChain(e.startSector, e.size)
      }
  }

  // ---------------------------------------------------------------
  // MS-DOC text extraction
  // ---------------------------------------------------------------

  private val Cp1252 = java.nio.charset.Charset.forName("windows-1252")

  def extractText(bytes: Array[Byte]): String = {
    val cfb = new Cfb(bytes)
    val wd = cfb.stream("WordDocument")
      .getOrElse(err("no WordDocument stream (not a .doc?)"))
    def u16(o: Int): Int =
      if (o + 2 > wd.length) err("FIB read past WordDocument end")
      else (wd(o) & 0xFF) | ((wd(o + 1) & 0xFF) << 8)
    def i32(o: Int): Int = u16(o) | (u16(o + 2) << 16)
    if (u16(0) != 0xA5EC) err(f"bad FIB wIdent 0x${u16(0)}%04X")
    val flags = u16(0x0A)
    if ((flags & 0x0100) != 0)
      err("encrypted document (fEncrypted) — named boundary, no decryption")
    if ((flags & 0x0004) != 0)
      err("fast-saved document (fComplex) — named boundary")
    val tableStreamName = if ((flags & 0x0200) != 0) "1Table" else "0Table"
    // structural FIB walk: FibBase(32) | csw | fibRgW | cslw | fibRgLw
    //                      | cbRgFcLcb | fibRgFcLcbBlob
    val csw = u16(0x20)
    val posLw = 0x22 + csw * 2
    val cslw = u16(posLw)
    if (cslw < 4) err(s"FIB cslw $cslw too small for ccpText")
    val ccpText = i32(posLw + 2 + 3 * 4)
    if (ccpText < 0) err(s"negative ccpText $ccpText")
    val posFcLcb = posLw + 2 + cslw * 4
    val cbRgFcLcb = u16(posFcLcb)
    if (cbRgFcLcb < 33 * 2)
      err(s"FIB cbRgFcLcb $cbRgFcLcb too small for fcClx")
    val blob = posFcLcb + 2
    val fcClx = i32(blob + 32 * 8)
    val lcbClx = i32(blob + 32 * 8 + 4)

    val table = cfb.stream(tableStreamName)
      .getOrElse(err(s"no $tableStreamName stream"))
    if (fcClx < 0 || lcbClx <= 0 || fcClx.toLong + lcbClx > table.length)
      err(s"Clx [$fcClx,+$lcbClx) outside $tableStreamName " +
        s"(${table.length} bytes)")

    // Clx = RgPrc* then Pcdt
    var p = fcClx
    val clxEnd = fcClx + lcbClx
    def cu16(o: Int) = (table(o) & 0xFF) | ((table(o + 1) & 0xFF) << 8)
    def ci32(o: Int) = cu16(o) | (cu16(o + 2) << 16)
    var guard = 0
    while (p < clxEnd && (table(p) & 0xFF) == 0x01) {
      if (p + 3 > clxEnd) err("truncated Prc in Clx")
      val cb = cu16(p + 1)
      if (cb < 0 || p + 3 + cb > clxEnd) err("Prc length past Clx end")
      p += 3 + cb
      guard += 1
      if (guard > (1 << 16)) err("Prc run-away in Clx")
    }
    if (p >= clxEnd || (table(p) & 0xFF) != 0x02)
      err(s"Clx has no Pcdt (tag ${if (p < clxEnd) table(p) & 0xFF else -1})")
    val lcbPlcPcd = ci32(p + 1)
    if (lcbPlcPcd < 4 + 8 || p + 5 + lcbPlcPcd > clxEnd ||
        (lcbPlcPcd - 4) % 12 != 0)
      err(s"bad PlcPcd length $lcbPlcPcd")
    val plc = p + 5
    val n = (lcbPlcPcd - 4) / 12
    val cps = Array.tabulate(n + 1)(i => ci32(plc + 4 * i))
    val pcds = plc + 4 * (n + 1)

    val sb = new StringBuilder
    var i = 0
    while (i < n && cps(i) < ccpText) {
      val cpStart = cps(i)
      val cpEnd = math.min(cps(i + 1), ccpText)
      if (cpEnd < cpStart) err(s"PlcPcd CPs not monotonic at piece $i")
      val fcRaw = ci32(pcds + 8 * i + 2)
      val compressed = (fcRaw & 0x40000000) != 0
      val fc = fcRaw & 0x3FFFFFFF
      val count = cpEnd - cpStart
      if (compressed) {
        val off = fc / 2
        if (off.toLong + count > wd.length)
          err(s"8-bit piece $i [$off,+$count) past WordDocument end")
        sb.append(new String(wd, off, count, Cp1252))
      } else {
        if (fc + 2L * count > wd.length)
          err(s"16-bit piece $i [$fc,+${2 * count}) past WordDocument end")
        sb.append(new String(wd, fc, 2 * count, "UTF-16LE"))
      }
      i += 1
    }

    // control-character mapping (the Docx element rules, §scaladoc)
    val out = new StringBuilder(sb.length)
    var fieldSkip = false
    sb.foreach {
      case '\u0013' => fieldSkip = true // field begin: drop instruction
      case '\u0014' => fieldSkip = false // field separator: keep result
      case '\u0015' => fieldSkip = false // field end
      case _ if fieldSkip => ()
      case '\r' | '\u000B' => out.append('\n') // para mark, line break
      case '\u0007' => out.append('\t') // cell/row mark
      case '\u000C' | '\u0001' | '\u0008' => () // page break, objects
      case c => out.append(c)
    }
    var end = out.length
    while (end > 0 && out.charAt(end - 1) == '\n') end -= 1
    out.substring(0, end)
  }

  /** Spark surface: extract every payload in (id, bytes) rows, with
    * per-row quarantine accounting (the [[Pdf.extractTexts]] /
    * `sources.Csv` pattern) — a corrupt document keeps its row with
    * `text` null and the NAMED error in `doc_error`. Deterministic
    * per-row byte walk; nothing crosses rows. */
  def extractTexts(ds: Dataset[(Long, Array[Byte])]): DataFrame =
    Payload.extractTexts(ds, "doc_error")(extractText)

  // ---------------------------------------------------------------
  // fixture writer (independent spec-valid .doc builder)
  // ---------------------------------------------------------------

  /**
   * Build a minimal spec-valid Word 97 binary: CFB v3 with the
   * directory, FAT, DIFAT, mini-FAT and mini stream all real — the
   * table stream is written SMALL so it exercises the mini-FAT path,
   * and WordDocument is padded past the 4096-byte cutoff so it
   * exercises the FAT path. Text is `title ¶ body ¶` as either one
   * 16-bit piece and one 8-bit piece (`split16` — the mixed shape
   * piece tables exist for) or a single 8-bit piece when the text is
   * CP1252-safe, else a single 16-bit piece. `withPrc` prepends a
   * property block to the Clx (parsers must skip it).
   */
  def buildDoc(title: String, body: String, split16: Boolean = false,
               withPrc: Boolean = false): Array[Byte] = {
    val text = title + "\r" + body + "\r"
    val enc = Cp1252.newEncoder()
    def cp1252able(s: String): Boolean = enc.canEncode(s)

    // pieces: (cpLen, bytes, compressed)
    val pieces: Seq[(Int, Array[Byte], Boolean)] =
      if (split16) {
        val head = title + "\r"
        val tail = body + "\r"
        Seq((head.length, head.getBytes("UTF-16LE"), false)) ++ {
          if (cp1252able(tail)) Seq((tail.length, tail.getBytes(Cp1252), true))
          else Seq((tail.length, tail.getBytes("UTF-16LE"), false))
        }
      } else if (cp1252able(text))
        Seq((text.length, text.getBytes(Cp1252), true))
      else Seq((text.length, text.getBytes("UTF-16LE"), false))
    val ccpText = pieces.map(_._1).sum

    // --- WordDocument stream: FIB then text runs ---
    val cbRgFcLcb = 93 // nFib 0x00C1 (Word 97)
    val fibLen = 0x9A + cbRgFcLcb * 8
    val wd = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = { wd.write(v & 0xFF); wd.write((v >> 8) & 0xFF) }
    def w32(v: Int): Unit = { w16(v & 0xFFFF); w16((v >>> 16) & 0xFFFF) }
    w16(0xA5EC) // wIdent
    w16(0x00C1) // nFib
    w16(0); w16(0x0409) // unused, lid
    w16(0) // pnNext
    w16(0) // flags: not complex, not encrypted, 0Table
    w16(0x00C1) // nFibBack
    w32(0) // lKey
    wd.write(0); wd.write(0) // envr, flags2
    w16(0); w16(0); w32(0); w32(0) // reserved3/4/5/6 → 32 bytes total
    require(wd.size() == 0x20, s"FibBase must be 32 bytes, got ${wd.size()}")
    w16(14) // csw
    (0 until 14).foreach(_ => w16(0)) // fibRgW
    w16(22) // cslw
    // fibRgLw: cbMac, res1, res2, ccpText, then zeros
    w32(0); w32(0); w32(0); w32(ccpText)
    (4 until 22).foreach(_ => w32(0))
    w16(cbRgFcLcb)
    val blobPos = wd.size()
    (0 until cbRgFcLcb * 2).foreach(_ => w32(0))
    require(wd.size() == fibLen)
    // text runs after the FIB
    val fcs = new scala.collection.mutable.ArrayBuffer[(Int, Boolean)]()
    pieces.foreach { case (_, b, compressed) =>
      // 8-bit pieces address bytes at fc/2: keep the byte offset even
      if (compressed && wd.size() % 2 != 0) wd.write(0x20)
      fcs += ((wd.size(), compressed))
      wd.write(b, 0, b.length)
    }
    while (wd.size() < 4096 + 64) wd.write(0) // past the mini cutoff
    val wdBytes = wd.toByteArray

    // --- table stream: Clx ---
    val tbl = new java.io.ByteArrayOutputStream()
    def t8(v: Int): Unit = tbl.write(v & 0xFF)
    def t16(v: Int): Unit = { t8(v); t8(v >> 8) }
    def t32(v: Int): Unit = { t16(v & 0xFFFF); t16((v >>> 16) & 0xFFFF) }
    if (withPrc) { t8(0x01); t16(4); t32(0) } // a Prc to be skipped
    t8(0x02) // Pcdt
    val nPieces = pieces.length
    t32(4 * (nPieces + 1) + 8 * nPieces)
    var cp = 0
    pieces.foreach { p => t32(cp); cp += p._1 }
    t32(cp)
    pieces.zipWithIndex.foreach { case ((_, _, _), i) =>
      val (off, compressed) = fcs(i)
      t16(0) // flags
      t32(if (compressed) (off * 2) | 0x40000000 else off)
      t16(0) // prm
    }
    val tblBytes = tbl.toByteArray
    require(tblBytes.length < 4096, "fixture table stream must be mini")
    // back-patch fcClx/lcbClx into the FIB blob (pair 32)
    val fcClxOff = blobPos + 32 * 8
    def patch32(at: Int, v: Int): Unit = {
      wdBytes(at) = (v & 0xFF).toByte
      wdBytes(at + 1) = ((v >> 8) & 0xFF).toByte
      wdBytes(at + 2) = ((v >> 16) & 0xFF).toByte
      wdBytes(at + 3) = ((v >>> 24) & 0xFF).toByte
    }
    patch32(fcClxOff, 0) // Clx (incl. any leading Prc) starts at offset 0
    patch32(fcClxOff + 4, tblBytes.length)

    buildCfb(Seq("WordDocument" -> wdBytes, "0Table" -> tblBytes))
  }

  /** Assemble a CFB v3 container around named streams: streams under
    * 4096 bytes go to the mini stream (mini-FAT chained), larger ones
    * to FAT-chained sectors. */
  private def buildCfb(streams: Seq[(String, Array[Byte])]): Array[Byte] = {
    val ssz = 512
    def sectorsFor(len: Int) = (len + ssz - 1) / ssz

    // mini stream assembly: 64-byte mini sectors, sequentially chained
    val miniParts = streams.filter(_._2.length < 4096)
    val bigParts = streams.filter(_._2.length >= 4096)
    val mini = new java.io.ByteArrayOutputStream()
    val miniStarts = scala.collection.mutable.Map[String, Int]()
    miniParts.foreach { case (nm, data) =>
      miniStarts(nm) = mini.size() / 64
      mini.write(data, 0, data.length)
      while (mini.size() % 64 != 0) mini.write(0)
    }
    val miniBytes = mini.toByteArray
    val nMini = miniBytes.length / 64
    val miniFat = new Array[Int](((nMini + 127) / 128) * 128)
    java.util.Arrays.fill(miniFat, FreeSect)
    var mcur = 0
    miniParts.foreach { case (_, data) =>
      val secs = (data.length + 63) / 64
      (0 until secs).foreach { j =>
        miniFat(mcur + j) = if (j == secs - 1) EndOfChain else mcur + j + 1
      }
      mcur += secs
    }

    // sector plan: dir | miniFAT | miniStream | big streams | FAT
    val nDir = 1
    val nMiniFatSec = math.max(1, (miniFat.length * 4 + ssz - 1) / ssz)
    val nMiniStreamSec = sectorsFor(miniBytes.length)
    val bigStarts = scala.collection.mutable.Map[String, Int]()
    var next = nDir + nMiniFatSec
    val miniStreamStart = next
    next += nMiniStreamSec
    bigParts.foreach { case (nm, data) =>
      bigStarts(nm) = next; next += sectorsFor(data.length)
    }
    val fatStart = next
    val nFatSec = 1
    val totalSectors = next + nFatSec
    require(totalSectors <= ssz / 4, "fixture exceeds one FAT sector")

    val fat = new Array[Int](ssz / 4)
    java.util.Arrays.fill(fat, FreeSect)
    fat(0) = EndOfChain // directory
    (0 until nMiniFatSec).foreach(j =>
      fat(nDir + j) = if (j == nMiniFatSec - 1) EndOfChain else nDir + j + 1)
    (0 until nMiniStreamSec).foreach(j =>
      fat(miniStreamStart + j) =
        if (j == nMiniStreamSec - 1) EndOfChain else miniStreamStart + j + 1)
    bigParts.foreach { case (nm, data) =>
      val st = bigStarts(nm); val k = sectorsFor(data.length)
      (0 until k).foreach(j => fat(st + j) = if (j == k - 1) EndOfChain else st + j + 1)
    }
    fat(fatStart) = 0xFFFFFFFD // FATSECT

    // directory entries: Root + one per stream
    val dir = new Array[Byte](ssz)
    def dentry(idx: Int, name: String, typ: Int, left: Int, right: Int,
               child: Int, start: Int, size: Long): Unit = {
      val o = idx * 128
      val nb = name.getBytes("UTF-16LE")
      System.arraycopy(nb, 0, dir, o, nb.length)
      val nameLen = nb.length + 2
      dir(o + 64) = (nameLen & 0xFF).toByte; dir(o + 65) = (nameLen >> 8).toByte
      dir(o + 66) = typ.toByte
      dir(o + 67) = 1 // black
      def d32(p: Int, v: Int): Unit = {
        dir(o + p) = (v & 0xFF).toByte; dir(o + p + 1) = ((v >> 8) & 0xFF).toByte
        dir(o + p + 2) = ((v >> 16) & 0xFF).toByte
        dir(o + p + 3) = ((v >>> 24) & 0xFF).toByte
      }
      d32(68, left); d32(72, right); d32(76, child)
      d32(116, start); d32(120, size.toInt); d32(124, 0)
    }
    dentry(0, "Root Entry", 5, NoStream, NoStream, 1, miniStreamStart,
      miniBytes.length.toLong)
    streams.zipWithIndex.foreach { case ((nm, data), i) =>
      val start =
        if (data.length < 4096) miniStarts(nm) else bigStarts(nm)
      val right = if (i + 1 < streams.length) i + 2 else NoStream
      dentry(i + 1, nm, 2, NoStream, right, NoStream, start,
        data.length.toLong)
    }

    // header
    val out = new java.io.ByteArrayOutputStream()
    def h16(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF) }
    def h32(v: Int): Unit = { h16(v & 0xFFFF); h16((v >>> 16) & 0xFFFF) }
    out.write(Array(0xD0, 0xCF, 0x11, 0xE0, 0xA1, 0xB1, 0x1A, 0xE1)
      .map(_.toByte), 0, 8)
    (0 until 16).foreach(_ => out.write(0)) // CLSID
    h16(0x003E); h16(0x0003) // minor, major (v3)
    h16(0xFFFE) // little-endian
    h16(9); h16(6) // sector shift, mini shift
    (0 until 6).foreach(_ => out.write(0))
    h32(0) // numDirSectors (v3: 0)
    h32(nFatSec)
    h32(0) // first directory sector
    h32(0) // transaction
    h32(4096) // mini cutoff
    h32(if (nMini > 0) nDir else EndOfChain) // first miniFAT sector
    h32(if (nMini > 0) nMiniFatSec else 0)
    h32(EndOfChain); h32(0) // no DIFAT chain
    h32(fatStart)
    (1 until 109).foreach(_ => h32(FreeSect))
    require(out.size() == 512, s"CFB header must be 512, got ${out.size()}")

    // sectors
    out.write(dir, 0, ssz)
    val mf = new java.io.ByteArrayOutputStream()
    miniFat.foreach(v => { mf.write(v & 0xFF); mf.write((v >> 8) & 0xFF)
      mf.write((v >> 16) & 0xFF); mf.write((v >>> 24) & 0xFF) })
    val mfb = java.util.Arrays.copyOf(mf.toByteArray, nMiniFatSec * ssz)
    out.write(mfb, 0, mfb.length)
    val msb = java.util.Arrays.copyOf(miniBytes, nMiniStreamSec * ssz)
    out.write(msb, 0, msb.length)
    bigParts.foreach { case (_, data) =>
      val padded = java.util.Arrays.copyOf(data, sectorsFor(data.length) * ssz)
      out.write(padded, 0, padded.length)
    }
    val fb = new java.io.ByteArrayOutputStream()
    fat.foreach(v => { fb.write(v & 0xFF); fb.write((v >> 8) & 0xFF)
      fb.write((v >> 16) & 0xFF); fb.write((v >>> 24) & 0xFF) })
    out.write(fb.toByteArray, 0, ssz)
    out.toByteArray
  }
}
