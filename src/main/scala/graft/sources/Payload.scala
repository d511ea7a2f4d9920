package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import scala.util.control.NonFatal

/**
 * The hostile-payload toolkit every format extractor shares. A crawl,
 * a dump or a hand-off carries untrusted bytes, so each decode keeps
 * the same four rules, and they live here once:
 *
 *  - '''Bounded ZIP walk''' ([[zipWalk]], [[zipEntries]]). OLE
 *    compound files (legacy binary or ENCRYPTED OOXML, signature
 *    `D0 CF 11 E0`), payloads without the `PK` magic and truncated
 *    payloads err NAMED. A ZIP bomb (KB of Deflate, GB inflated)
 *    would OOM the executor, an Error the per-row quarantine cannot
 *    catch, so every read entry is capped: per entry by the caller's
 *    constant (64 MiB [[OfficeEntryBytes]] for OOXML and ODF parts,
 *    [[Pdf.MaxDecodedBytes]] for DOCX, EPUB and ZIP shards) and per
 *    archive by [[MaxArchiveBytes]], because per-entry caps alone
 *    still allow N times the cap in sum. The whole entry map is
 *    buffered per row, so the archive cap is also the executor-memory
 *    bound. A name filter keeps entries a format never reads out of
 *    memory and out of the caps (they are inflated only to step past
 *    them); with a filter the walk ends once every wanted entry is
 *    read, so a DOCX never inflates what follows `word/document.xml`.
 *    A container whose walked entries repeat a name errs NAMED
 *    ("duplicate entry"): which copy a reader sees differs between
 *    readers, so no copy is the document (a DOCX walk, which ends at
 *    `word/document.xml`, checks the names up to it). ZIP shards are
 *    archives of members, not containers, and keep one row per member.
 *  - '''XXE off''' ([[reader]]): one StAX factory per thread with DTD
 *    support and external entities OFF, so a
 *    `<!DOCTYPE … <!ENTITY x SYSTEM "file://…">` fails as malformed
 *    XML and is never resolved. `newInstance()` walks the classpath's
 *    provider files on every call (about 90 µs a row, more than the
 *    parse) and factories are not specified thread-safe, hence one
 *    per executor thread.
 *  - '''Quarantine''': a failed decode keeps its row with the NAMED
 *    error text of [[named]] instead of failing the job — per row for
 *    `(id, bytes)` documents ([[extractTexts]]), per file for
 *    `binaryFile` shards ([[perFile]]).
 *  - '''Fixture writers''' ([[xmlEscape]], [[buildZip]]), so every
 *    builder escapes and packs one way.
 *
 * OOXML `.rels` parsing and part resolution ([[parseRels]],
 * [[resolvePart]]) serve [[Xlsx]] and [[Pptx]].
 */
private[graft] object Payload {

  /** Per-entry cap for OOXML and ODF parts: real office parts are
    * KB-to-MB scale, so 64 MiB is orders of magnitude of headroom. */
  val OfficeEntryBytes: Int = 64 << 20

  /** Per-archive cap on the bytes the walk buffers. */
  val MaxArchiveBytes: Int = Pdf.MaxDecodedBytes

  private def fail(tag: String, msg: String): Nothing =
    throw new IllegalArgumentException(s"$tag: $msg")

  /** The error text of a failed decode: its message, else its class
    * name (a bare NPE has no message). */
  def named(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getSimpleName)

  /**
   * Walks the file entries of a ZIP payload in archive order. `visit`
   * gets each name and a reader for its bytes; only entries it reads
   * are buffered and count toward the caps. The walk ends when
   * `visit` returns false or the entries run out.
   */
  def zipWalk(bytes: Array[Byte], tag: String, maxEntryBytes: Int)(
      visit: (String, () => Array[Byte]) => Boolean): Unit = {
    if (bytes.length < 4) fail(tag, "truncated payload")
    if ((bytes(0) & 0xFF) == 0xD0 && (bytes(1) & 0xFF) == 0xCF &&
        (bytes(2) & 0xFF) == 0x11 && (bytes(3) & 0xFF) == 0xE0)
      fail(tag, "OLE compound file (legacy binary or ENCRYPTED OOXML) " +
        "— named boundary, no decryption/legacy support")
    if (!(bytes(0) == 'P' && bytes(1) == 'K')) fail(tag, "not a ZIP container")
    val zin = new java.util.zip.ZipInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val chunk = new Array[Byte](8192)
    var total = 0L
    try {
      var e = zin.getNextEntry
      var more = true
      while (more && e != null) {
        if (!e.isDirectory) {
          val name = e.getName
          val size = e.getSize
          more = visit(name, () => {
            val buf = new java.io.ByteArrayOutputStream(
              math.min(math.max(64L, size), 1L << 20).toInt)
            var n = zin.read(chunk)
            while (n >= 0) {
              total += n
              if (buf.size().toLong + n > maxEntryBytes ||
                  total > MaxArchiveBytes)
                fail(tag, s"$name pushes the archive past the decode " +
                  "cap (decompression bomb?)")
              buf.write(chunk, 0, n)
              n = zin.read(chunk)
            }
            buf.toByteArray
          })
        }
        if (more) e = zin.getNextEntry
      }
    } catch {
      case ex: java.io.IOException => // ZipException, truncation EOF
        fail(tag, s"bad ZIP: ${ex.getMessage}")
    } finally zin.close()
  }

  /** The entries of a document container by name: all of them, or
    * only the `wanted` names (the walk then ends once each is read).
    * A repeated name among the walked entries errs NAMED. */
  def zipEntries(bytes: Array[Byte], tag: String, maxEntryBytes: Int,
                 wanted: Option[Set[String]] = None)
      : Map[String, Array[Byte]] = {
    val seen = scala.collection.mutable.HashSet[String]()
    val out = Map.newBuilder[String, Array[Byte]]
    var read = 0
    zipWalk(bytes, tag, maxEntryBytes) { (name, data) =>
      if (!seen.add(name)) fail(tag, s"duplicate entry $name")
      if (wanted.forall(_.contains(name))) {
        out += name -> data()
        read += 1
      }
      wanted.forall(_.size > read)
    }
    out.result()
  }

  private val staxFactory =
    new ThreadLocal[javax.xml.stream.XMLInputFactory] {
      override def initialValue(): javax.xml.stream.XMLInputFactory = {
        val f = javax.xml.stream.XMLInputFactory.newInstance()
        f.setProperty(javax.xml.stream.XMLInputFactory.SUPPORT_DTD, false)
        f.setProperty(
          javax.xml.stream.XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES,
          false)
        f
      }
    }

  /** An XXE-off StAX reader over XML bytes (encoding from the
    * declaration). Malformed XML errs NAMED: `<tag>: malformed XML`,
    * from `next()`/`hasNext()` as from the prolog. */
  def reader(xml: Array[Byte], tag: String)
      : javax.xml.stream.XMLStreamReader =
    open(tag, staxFactory.get().createXMLStreamReader(
      new java.io.ByteArrayInputStream(xml)))

  /** An XXE-off StAX reader over decoded XML text. */
  def reader(xml: String, tag: String): javax.xml.stream.XMLStreamReader =
    open(tag, staxFactory.get().createXMLStreamReader(
      new java.io.StringReader(xml)))

  private def open(tag: String,
                   create: => javax.xml.stream.XMLStreamReader)
      : javax.xml.stream.XMLStreamReader = {
    def malformed(e: javax.xml.stream.XMLStreamException): Nothing =
      fail(tag, s"malformed XML: ${e.getMessage}")
    val r = try create
      catch { case e: javax.xml.stream.XMLStreamException => malformed(e) }
    new javax.xml.stream.util.StreamReaderDelegate(r) {
      override def next(): Int =
        try super.next()
        catch { case e: javax.xml.stream.XMLStreamException => malformed(e) }
      override def hasNext(): Boolean =
        try super.hasNext()
        catch { case e: javax.xml.stream.XMLStreamException => malformed(e) }
    }
  }

  /** `(id, bytes)` → `(id, text, errorColumn)`: one row per payload,
    * the NAMED error and a null text where `extract` fails. */
  def extractTexts(ds: Dataset[(Long, Array[Byte])], errorColumn: String)(
      extract: Array[Byte] => String): DataFrame = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.map { case (id, bytes) =>
      try (id, extract(bytes), null: String)
      catch { case NonFatal(e) => (id, null: String, named(e)) }
    }.toDF("id", "text", errorColumn)
  }

  /** Every file under `pathGlob` (`binaryFile`, one task per file
    * group) exploded by `rows(path, bytes)`; a file whose decode fails
    * becomes the single row `failed(path, error)`. */
  def perFile[T: Encoder](spark: SparkSession, pathGlob: String)(
      rows: (String, Array[Byte]) => Seq[T])(
      failed: (String, String) => T): Dataset[T] = {
    import spark.implicits._
    spark.read.format("binaryFile").load(pathGlob)
      .select("path", "content").as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        try rows(path, bytes)
        catch { case NonFatal(e) => Seq(failed(path, named(e))) }
      }
  }

  /** `.rels` part: Id → Target. */
  def parseRels(xml: Array[Byte], tag: String): Map[String, String] = {
    val r = reader(xml, tag)
    val out = Map.newBuilder[String, String]
    try {
      while (r.hasNext) {
        if (r.next() == javax.xml.stream.XMLStreamConstants.START_ELEMENT
            && r.getLocalName == "Relationship") {
          val id = r.getAttributeValue(null, "Id")
          val target = r.getAttributeValue(null, "Target")
          if (id != null && target != null) out += id -> target
        }
      }
    } finally r.close()
    out.result()
  }

  /** Resolve a relationship target against its base part directory
    * (`Target="worksheets/sheet1.xml"` under `xl/` →
    * `xl/worksheets/sheet1.xml`; a leading `/` is package-absolute). */
  def resolvePart(baseDir: String, target: String): String =
    if (target.startsWith("/")) target.substring(1)
    else s"$baseDir/$target"

  /** XML text escape, safe in element content and attribute values
    * (`\n`/`\r` as character references, or attribute-value
    * normalization would turn them into spaces). */
  def xmlEscape(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 16)
    s.foreach {
      case '&' => sb.append("&amp;")
      case '<' => sb.append("&lt;")
      case '>' => sb.append("&gt;")
      case '"' => sb.append("&quot;")
      case '\n' => sb.append("&#xA;")
      case '\r' => sb.append("&#xD;")
      case c => sb.append(c)
    }
    sb.toString
  }

  /** Deflated ZIP from named entries, in the given order. */
  def buildZip(entries: Seq[(String, Array[Byte])]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(out)
    entries.foreach { case (name, data) =>
      z.putNextEntry(new java.util.zip.ZipEntry(name))
      z.write(data)
      z.closeEntry()
    }
    z.close()
    out.toByteArray
  }
}
