package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * TAR shard ingestion — the other archive shape text dumps arrive in
 * (`.tar` and `.tar.gz`; Gutenberg-class corpora and dataset mirrors
 * ship tarballs). JDK-only, written from the public POSIX ustar
 * layout (+ the two extensions real tarballs carry):
 *
 *  - 512-byte headers: name[100] mode uid gid size[12, octal or
 *    GNU base-256 for >8 GiB] mtime chksum typeflag linkname
 *    magic("ustar") … prefix[155]; the ustar prefix field joins the
 *    name with '/' for deep paths;
 *  - entry data padded to 512; two zero blocks end the archive (a
 *    single trailing zero block is tolerated — truncated-final-block
 *    tarballs are routine);
 *  - GNU long names: a typeflag 'L' pseudo-entry carries the NEXT
 *    entry's real name;
 *  - PAX extended headers (typeflag 'x'): `len key=value\n` records;
 *    `path=` overrides the next entry's name and `size=` its size
 *    (the >8 GiB convention PAX writers use instead of GNU
 *    base-256), other keys skip; global 'g' headers skip whole.
 *
 * `.tar.gz` is one gzip stream around the whole tar, `.tar.zst` one
 * zstd frame — magic-sniffed (1F 8B / 28 B5 2F FD via
 * [[Zstd.sniffWrap]]), not extension-trusted, like [[Warc]]. Text
 * members (by
 * extension, the [[Zip]] set) decode BOM-aware; others skip COUNTED.
 * Per-entry and per-shard decode caps (the [[Epub]] rule); header
 * checksums are VALIDATED, accepting either the unsigned-byte sum
 * (the standard) or the signed-byte sum some historical writers
 * computed — the GNU tar compatibility rule (a drifted read errs
 * named instead of walking garbage offsets); corrupt shards
 * quarantine per-FILE.
 *
 * Scale shape: `binaryFile`, one task per shard (tar has no central
 * index; gzip makes byte-range splits impossible anyway) — the
 * [[Manifest]]/[[Warc.responses]]/[[Zip.textShards]] geometry.
 *
 * The reference engine (parquery) reads parquet only — this is a
 * training-data-pipeline extension (SURVEY §8).
 */
object Tar {

  private def err(msg: String): Nothing =
    throw new IllegalArgumentException(s"TAR: $msg")

  private val TextExtensions =
    Set("txt", "text", "jsonl", "json", "md", "csv", "tsv", "tex")

  private def extOf(name: String): String =
    name.lastIndexOf('.') match {
      case -1 => ""
      case i => name.substring(i + 1).toLowerCase
    }

  private def cstr(b: Array[Byte], off: Int, len: Int): String = {
    var end = off
    while (end < off + len && b(end) != 0) end += 1
    new String(b, off, end - off, "ISO-8859-1")
  }

  /** Octal (or GNU base-256) numeric field. */
  private def numeric(b: Array[Byte], off: Int, len: Int): Long = {
    if ((b(off) & 0x80) != 0) { // GNU base-256
      var v = (b(off) & 0x7F).toLong
      var i = off + 1
      while (i < off + len) { v = (v << 8) | (b(i) & 0xFF); i += 1 }
      v
    } else {
      val s = cstr(b, off, len).trim
      if (s.isEmpty) 0L
      else try java.lang.Long.parseLong(s, 8)
      catch { case _: NumberFormatException => err(s"bad octal field '$s'") }
    }
  }

  private def readFully(in: java.io.InputStream, n: Int): Array[Byte] = {
    val out = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val k = in.read(out, off, n - off)
      if (k < 0) err(s"truncated archive (wanted $n, got $off)")
      off += k
    }
    out
  }

  private def skipFully(in: java.io.InputStream, n: Long): Unit = {
    var left = n
    val buf = new Array[Byte](8192)
    while (left > 0) {
      val k = in.read(buf, 0, math.min(left, buf.length.toLong).toInt)
      if (k < 0) err("truncated archive body")
      left -= k
    }
  }

  /** Explode one shard's text members: (member, text) + skipped
    * non-text count. Gzip and zstd auto-sniffed ([[Zstd.sniffWrap]] —
    * `.tar.gz` and `.tar.zst` drops both land here). */
  private[graft] def textMembers(bytes: Array[Byte])
      : (Seq[(String, String)], Int) = {
    if (bytes.length < 2) err("truncated payload")
    val in: java.io.InputStream =
      Zstd.sniffWrap(new java.io.ByteArrayInputStream(bytes))
    val out = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var skipped = 0
    var total = 0L
    var sawEntry = false
    var pendingName: String = null
    var pendingSize = -1L // PAX size= override for the next data entry
    var done = false
    while (!done) {
      val hdr = {
        val h = new Array[Byte](512)
        var off = 0
        var eof = false
        while (off < 512 && !eof) {
          val k = in.read(h, off, 512 - off)
          if (k < 0) eof = true else off += k
        }
        if (off == 0) { done = true; null } // clean EOF at a boundary
        else if (off < 512) err("truncated header block")
        else h
      }
      if (!done) {
        if (hdr.forall(_ == 0)) done = true // terminator block
        else {
          // checksum: header bytes with the chksum field as spaces.
          // GNU tar compatibility rule: accept EITHER the unsigned-
          // byte sum (the standard) or the signed-byte sum (some
          // historical writers; differs exactly when headers carry
          // high-bit bytes, e.g. base-256 size fields)
          val stored = numeric(hdr, 148, 8)
          var sum = 0L
          var signedSum = 0L
          var i = 0
          while (i < 512) {
            if (i >= 148 && i < 156) { sum += 32; signedSum += 32 }
            else { sum += hdr(i) & 0xFF; signedSum += hdr(i) }
            i += 1
          }
          if (sum != stored && signedSum != stored)
            err(f"header checksum mismatch ($sum%d != $stored%d)")
          sawEntry = true
          val headerSize = numeric(hdr, 124, 12)
          if (headerSize < 0) err(s"negative entry size $headerSize")
          // PAX size= overrides the header field (entries >8 GiB from
          // writers that use PAX instead of GNU base-256)
          val size = if (pendingSize >= 0) pendingSize else headerSize
          // NOTE: only entries we BUFFER are capped below — skipped
          // members (binaries) may legitimately exceed the decode cap
          def capBuffered(): Unit =
            if (size > Pdf.MaxDecodedBytes)
              err(s"entry size $size exceeds the decode cap")
          val typeflag = (hdr(156) & 0xFF).toChar
          val pad = (512 - (size % 512)) % 512
          // a PAX header's OWN body is always framed by its header
          // field — size= applies to the following data entry only
          val paxPad = (512 - (headerSize % 512)) % 512
          typeflag match {
            case 'L' => // GNU long name: body = next entry's name
              // pseudo-entry: framed by its OWN header field, and a
              // preceding PAX size= survives past it to the data entry
              if (headerSize > Pdf.MaxDecodedBytes)
                err(s"entry size $headerSize exceeds the decode cap")
              val nm = readFully(in, headerSize.toInt)
              pendingName = cstr(nm, 0, nm.length)
              skipFully(in, paxPad)
            case 'x' => // PAX: parse path= and size=, skip the rest
              if (headerSize > Pdf.MaxDecodedBytes)
                err(s"entry size $headerSize exceeds the decode cap")
              val pax = new String(readFully(in, headerSize.toInt), "UTF-8")
              pax.split("\n").foreach { rec =>
                val sp = rec.indexOf(' ')
                if (sp > 0) {
                  val kv = rec.substring(sp + 1)
                  if (kv.startsWith("path="))
                    pendingName = kv.substring(5)
                  else if (kv.startsWith("size="))
                    pendingSize =
                      try java.lang.Long.parseLong(kv.substring(5))
                      catch { case _: NumberFormatException =>
                        err(s"bad PAX size record '$kv'") }
                }
              }
              skipFully(in, paxPad)
            case 'g' => // global PAX header: skip
              skipFully(in, headerSize + paxPad)
            case '0' | '\u0000' | ' ' => // regular file (NUL pre-POSIX)
              val name =
                if (pendingName != null) pendingName
                else {
                  val prefix = cstr(hdr, 345, 155)
                  val base = cstr(hdr, 0, 100)
                  if (prefix.nonEmpty) prefix + "/" + base else base
                }
              pendingName = null
              pendingSize = -1L
              if (TextExtensions.contains(extOf(name))) {
                capBuffered()
                total += size
                if (total > Pdf.MaxDecodedBytes)
                  err(s"$name pushes the shard past " +
                    s"${Pdf.MaxDecodedBytes} decoded bytes")
                val data = readFully(in, size.toInt)
                skipFully(in, pad)
                out += name -> Html.decodeHtmlBytes(data)
              } else {
                skipped += 1
                skipFully(in, size + pad)
              }
            case _ => // dirs, links, devices, sparse, …: skip counted
              pendingName = null
              pendingSize = -1L
              skipped += 1
              skipFully(in, size + pad)
          }
        }
      }
    }
    if (!sawEntry) err("no TAR entries (truncated or corrupt shard?)")
    (out.toSeq, skipped)
  }

  /**
   * Spark surface: every text member of every shard under `pathGlob`
   * as `(path, member, text, skipped_members, tar_error)` — one task
   * per shard, corrupt shards quarantined per-FILE.
   */
  def textShards(spark: SparkSession, pathGlob: String): DataFrame =
    memberShards(spark, pathGlob, "tar_error")(textMembers)

  /** The TAR/ZIP shard surface over a `(members, skipped)` reader: a
    * row per text member, a member-less row for a shard with none, an
    * error row for a shard that fails ([[Payload.perFile]]). */
  private[graft] def memberShards(spark: SparkSession, pathGlob: String,
      errorColumn: String)(
      members: Array[Byte] => (Seq[(String, String)], Int)): DataFrame = {
    import spark.implicits._
    Payload.perFile(spark, pathGlob) { (path, bytes) =>
      val (texts, skipped) = members(bytes)
      if (texts.isEmpty)
        Seq((path, null: String, null: String, skipped, null: String))
      else texts.map { case (m, t) => (path, m, t, skipped, null: String) }
    } { (path, error) => (path, null: String, null: String, 0, error) }
      .toDF("path", "member", "text", "skipped_members", errorColumn)
  }

  // ---------------------------------------------------------------
  // fixture writer
  // ---------------------------------------------------------------

  /** Spec-valid ustar shard: named text members, one long-named
    * member routed through a GNU 'L' pseudo-entry, one deep-path
    * member split across prefix+name, and one binary member that must
    * skip-count. `gzipped` wraps the whole tar in one gzip stream. */
  def buildShard(members: Seq[(String, String)],
                 gzipped: Boolean = false): Array[Byte] = {
    val raw = new java.io.ByteArrayOutputStream()
    def hdr(name: String, size: Long, typeflag: Char,
            prefix: String = ""): Array[Byte] = {
      val h = new Array[Byte](512)
      def put(s: String, off: Int, len: Int): Unit = {
        val b = s.getBytes("ISO-8859-1")
        System.arraycopy(b, 0, h, off, math.min(b.length, len))
      }
      put(name, 0, 100)
      put("0000644", 100, 8); put("0000000", 108, 8); put("0000000", 116, 8)
      put(f"$size%011o", 124, 12)
      put("00000000000", 136, 12)
      h(156) = typeflag.toByte
      put("ustar", 257, 6); h(263) = '0'; h(264) = '0'
      put(prefix, 345, 155)
      java.util.Arrays.fill(h, 148, 156, ' '.toByte)
      var sum = 0L
      h.foreach(b => sum += (b & 0xFF))
      put(f"$sum%06o", 148, 8); h(154) = 0; h(155) = ' '
      h
    }
    def entry(name: String, data: Array[Byte], typeflag: Char = '0',
              prefix: String = ""): Unit = {
      raw.write(hdr(name, data.length.toLong, typeflag, prefix))
      raw.write(data)
      val pad = (512 - (data.length % 512)) % 512
      raw.write(new Array[Byte](pad))
    }
    members.zipWithIndex.foreach { case ((name, text), i) =>
      if (i == 0 && name.length < 90) {
        // route the first member through a GNU long-name pseudo-entry
        val longName = "very/long/gnu/name/prefix/" + name
        entry("././@LongLink", longName.getBytes("ISO-8859-1"), 'L')
        entry(longName.take(100), text.getBytes("UTF-8"))
      } else entry(name, text.getBytes("UTF-8"))
    }
    entry("file.txt", "deep path member".getBytes("UTF-8"),
      prefix = "some/deep/dir")
    entry("image.bin", Array[Byte](0, 1, 2, 3))
    raw.write(new Array[Byte](1024)) // two terminator blocks
    val tar = raw.toByteArray
    if (!gzipped) tar
    else {
      val out = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(out)
      gz.write(tar); gz.close()
      out.toByteArray
    }
  }
}
