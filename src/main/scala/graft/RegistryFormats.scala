package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import SparkEntry._

/** Formats and storage: document, office, crawl-record and archive
  * extractors (each with an ANALYTIC oracle written from the source
  * columns), row-format round-trips, storage layouts and transport. */
private[graft] object RegistryFormats {

  /** The extractor input: the first 150 documents as (doc_id, source,
    * text). Each extractor gate renders these rows into its format and
    * reads them back; its oracle writes the expected text from the same
    * columns of the same rows. */
  private def extractorInput(s: SparkSession, d: String)
      : Dataset[(Long, String, String)] = {
    import s.implicits._
    s.read.parquet(pq(d, "documents"))
      .where(col("doc_id") < 150)
      .select(col("doc_id"), col("source"), col("text"))
      .as[(Long, String, String)]
  }

  /** The archive-ingest gates: each extractor row's title and body
    * become the text members of the shard `build(doc_id, members)`
    * writes, read back by `textMembers` — one row per document of the
    * member count, the skipped-member count and the joined texts. */
  private def shardIngest(s: SparkSession, d: String)(
      build: (Long, Seq[(String, String)]) => Array[Byte],
      textMembers: Array[Byte] => (Seq[(String, String)], Int))
      : DataFrame = {
    import s.implicits._
    extractorInput(s, d).map { case (id, src, txt) =>
      val (members, skipped) =
        textMembers(build(id, Seq(("title.txt", src), ("body.txt", txt))))
      (id, members.length.toLong, skipped.toLong,
        members.map(_._2).mkString("\n"))
    }.toDF("doc_id", "n_members", "n_skipped", "joined")
  }

  /** Oracle of the extractors that give back exactly the title and the
    * body they were built from: source, a newline, text. */
  private val titleBodyOracle =
    """SELECT doc_id, source || chr(10) || text AS extracted
      FROM documents WHERE doc_id < 150"""

  /** Oracle of the two-slide decks (PPTX and ODP build the same deck):
    * the title slide, the body paragraph and the `deck <id>` line. */
  private val deckOracle =
    """SELECT doc_id, source || chr(10) || text || chr(10) ||
        'deck ' || doc_id AS extracted
      FROM documents WHERE doc_id < 150"""

  /** ONE oracle literal for q_tar_text_ingest and (round 19) its
    * .tar.zst twin — the two gates ingest identical members through
    * identical walks, differing only in the sniffed decompressor, so
    * they must share one literal (two copies could silently drift). */
  private val tarIngestOracle =
    """SELECT doc_id, CAST(3 AS BIGINT) AS n_members,
          CAST(1 AS BIGINT) AS n_skipped,
          source || chr(10) || text || chr(10) ||
          'deep path member' AS joined
        FROM documents WHERE doc_id < 150"""

  /** Lazily-materialized Z-ordered lineitem fixture via
    * [[Fixture]]: built once per testdata identity and
    * REUSED — earlier revisions rebuilt the clustered copy into a
    * fresh never-deleted temp dir on EVERY query construction (each
    * bench warmup/run, each Verify, each PlanGuard plan), leaking a
    * full table copy per call. The steady-state bench number now
    * measures the read-side skipping, which is the operator's claim —
    * the one-time write cost is the build, exercised by ZOrderSpec. */
  private def zorderFixture(s: SparkSession, d: String): String =
    Fixture(new java.io.File(d, "lineitem.parquet"),
      "graft_zorder") { tmp =>
      val li = s.read.parquet(pq(d, "lineitem"))
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
      graft.sources.ZOrder.writeZOrdered(li, tmp.toString,
        Seq("l_orderkey", "l_partkey"), bits = 10, numFiles = 16)
    }.toString

  /** Range-clustered lineitem copy (16 files tight in l_orderkey) plus
    * its [[graft.sources.StatsIndex]] manifest, built once per source
    * content — the bench then measures the index-consulted read. */
  private def statsIndexFixture(s: SparkSession, d: String): java.io.File =
    Fixture(new java.io.File(d, "lineitem.parquet"),
      "graft_stats_index_v3") { tmp =>
      val li = s.read.parquet(pq(d, "lineitem"))
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
      val data = new java.io.File(tmp, "data").toString
      li.repartitionByRange(16, col("l_orderkey"))
        .sortWithinPartitions("l_orderkey")
        .write.mode("overwrite").parquet(data)
      graft.sources.StatsIndex.writeIndex(s, data,
        new java.io.File(tmp, "index").toString, Seq("l_orderkey"),
        bloomCols = Seq("l_orderkey"))
    }

  /** The documents columns the row-format round-trips read back under
    * an explicit schema. */
  private val documentsSchema = new org.apache.spark.sql.types.StructType()
    .add("doc_id", org.apache.spark.sql.types.LongType)
    .add("text", org.apache.spark.sql.types.StringType)
    .add("lang", org.apache.spark.sql.types.StringType)
    .add("source", org.apache.spark.sql.types.StringType)
    .add("n_chars", org.apache.spark.sql.types.LongType)

  /** The two corrupt lines (broken JSON, a type-mismatched field) each
    * JSONL round-trip plants beside the corpus. */
  private val corruptJsonl =
    "{broken\n{\"doc_id\": \"notanumber\"}\n".getBytes("UTF-8")

  /** A JSONL round-trip's verdict over its quarantining read-back:
    * valid and corrupt counts plus the corpus sums, which
    * [[jsonlRoundtripOracle]] recomputes from the source table. */
  private def jsonlRoundtripSummary(back: DataFrame): DataFrame = {
    val c = col(graft.sources.Jsonl.CorruptCol)
    back.agg(count(when(c.isNull, lit(1))).as("n_valid"),
      count(c).as("n_corrupt"),
      sum(when(c.isNull, col("n_chars"))).cast("long").as("sum_chars"),
      sum(when(c.isNull, length(col("text")))).cast("long")
        .as("sum_text_len"),
      count_distinct(when(c.isNull, col("lang"))).as("n_langs"))
  }

  private val jsonlRoundtripOracle =
    """SELECT
      (SELECT COUNT(*) FROM documents) AS n_valid,
      CAST(2 AS BIGINT) AS n_corrupt,
      (SELECT CAST(SUM(n_chars) AS BIGINT) FROM documents)
        AS sum_chars,
      (SELECT CAST(SUM(length(text)) AS BIGINT) FROM documents)
        AS sum_text_len,
      (SELECT COUNT(DISTINCT lang) FROM documents)
        AS n_langs"""

  val entries: Seq[Q] = Seq(
    // ---- document extractors ---------------------------------------
    // PDF text extraction: each document is rendered into a
    // spec-valid fixture PDF (graft.sources.Pdf.buildPdf — an
    // independent writer) cycling through the layouts and filters
    // real corpora carry (classic table / classic + FlateDecode /
    // xref stream + ObjStm / LZWDecode / RunLength→LZW chain, chosen
    // by doc_id % 5), then extracted
    // back through the full parser (xref chain, filters, page walk,
    // WinAnsi fonts, Tj/TJ with kerning-gap spaces). The oracle is
    // ANALYTIC — the expected text is written directly from the
    // source columns, so a writer/parser bug pair cannot cancel out
    // the way a parse-replay oracle would let it
    Q("q_pdf_extract",
      (s, d) => {
        import s.implicits._
        extractorInput(s, d).map { case (id, src, txt) =>
          val pdf = graft.sources.Pdf.buildPdf(src, txt, (id % 5).toInt)
          (id, graft.sources.Pdf.extractText(pdf))
        }.toDF("doc_id", "extracted")
      },
      Some(titleBodyOracle)),

    // DOCX text extraction: q_pdf_extract's construction for the
    // other document format — each document rendered into a minimal
    // valid OOXML archive (graft.sources.Docx.buildDocx), split-run
    // bodies (the shape real editors produce) on odd ids, extracted
    // back through ZIP + StAX (DTD off). Same ANALYTIC oracle
    Q("q_docx_extract",
      (s, d) => {
        import s.implicits._
        extractorInput(s, d).map { case (id, src, txt) =>
          val docx = graft.sources.Docx.buildDocx(src, txt,
            splitRuns = id % 2 == 1)
          (id, graft.sources.Docx.extractText(docx))
        }.toDF("doc_id", "extracted")
      },
      Some(titleBodyOracle)),

    // Legacy .doc text extraction: q_pdf_extract's construction for
    // the Word 97 binary format — each document rendered into a
    // minimal spec-valid CFB container (graft.sources.Doc.buildDoc,
    // an independent writer whose every build exercises both the FAT
    // path, via the ≥4096-byte WordDocument stream, and the mini-FAT
    // path, via the small table stream), split 8/16-bit pieces on
    // odd ids (the mixed shape piece tables exist for), extracted
    // back through the CFB walk + FIB + Clx/piece table. Same
    // ANALYTIC oracle: expected text written from the source columns,
    // so a writer/parser bug pair cannot cancel
    Q("q_doc_extract",
      (s, d) => {
        import s.implicits._
        extractorInput(s, d).map { case (id, src, txt) =>
          val doc = graft.sources.Doc.buildDoc(src, txt,
            split16 = id % 2 == 1, withPrc = id % 3 == 0)
          (id, graft.sources.Doc.extractText(doc))
        }.toDF("doc_id", "extracted")
      },
      Some(titleBodyOracle)),

    // RTF text extraction: the q_doc_extract construction for the
    // third legacy format — each document rendered into a spec-valid
    // RTF (graft.sources.Rtf.buildRtf: font/color/info tables and a
    // starred unknown destination that must all be skipped, a field
    // whose instruction drops and result keeps), with non-ASCII
    // planted so BOTH escape shapes are on the hot path (\'hh
    // codepage bytes on odd ids, \uN with uc fallback on even — the
    // appended suffix carries é, cp1252-able, and №, which is not).
    // Same ANALYTIC oracle family
    Q("q_rtf_extract",
      (s, d) => {
        import s.implicits._
        extractorInput(s, d).map { case (id, src, txt) =>
          val rtf = graft.sources.Rtf.buildRtf(src,
            txt + " résumé №" + id, hexEscapes = id % 2 == 1)
          (id, graft.sources.Rtf.extractText(rtf))
        }.toDF("doc_id", "extracted")
      },
      Some("""SELECT doc_id, source || chr(10) || text ||
                ' résumé №' || doc_id AS extracted
              FROM documents WHERE doc_id < 150""")),

    // ODT extraction: each document becomes an ODF text package
    // (graft.sources.Odt.buildOdt — heading + body paragraph whose
    // words alternate literal spaces with <text:s/> elements and ride
    // spans, so the XML never contains the plain text; plus a
    // footnote and an annotation that must DROP, and a tabbed line).
    // ANALYTIC oracle: heading, reassembled body, and the fixed
    // fixture lines recomputed from the source columns
    Q("q_odt_extract",
      (s, d) => {
        import s.implicits._
        extractorInput(s, d).map { case (id, src, txt) =>
          (id, graft.sources.Odt.extractText(
            graft.sources.Odt.buildOdt(src, Seq(txt))))
        }.toDF("doc_id", "extracted")
      },
      Some("""SELECT doc_id, source || chr(10) || text || chr(10) ||
                'base end' || chr(10) || 'col1' || chr(9) || 'col2'
                AS extracted
              FROM documents WHERE doc_id < 150""")),

    // EPUB extraction: each document becomes a two-chapter book
    // (graft.sources.Epub.buildEpub — OCF container + OPF whose SPINE
    // order is deliberately the REVERSE of the ZIP entry order, a css
    // manifest item outside the spine, an in-body script, and
    // DTD-less named entities), extracted back through the container
    // walk + spine-ordered XHTML text. The oracle writes the expected
    // text analytically INCLUDING the fixture's entity-bearing line
    // (chr(160)/chr(8212) — a parser that drops or mis-maps entities,
    // leaks head/css/script content, or reads chapters in ZIP order
    // hash-mismatches)
    Q("q_epub_extract",
      (s, d) => {
        import s.implicits._
        extractorInput(s, d).map { case (id, src, txt) =>
          val epub = graft.sources.Epub.buildEpub(src, txt)
          (id, graft.sources.Epub.extractText(epub))
        }.toDF("doc_id", "extracted")
      },
      Some("""SELECT doc_id, source || chr(10) || 'one' || chr(160) ||
                'space and a dash' || chr(8212) || 'here' || chr(10) ||
                'Chapter Two' || chr(10) || text AS extracted
              FROM documents WHERE doc_id < 150""")),

    // Markdown extraction: each document is rendered into CommonMark-
    // core markdown (header from source; body words cycled through
    // bold/italic/inline-code/link wrappers by position) and run
    // through the codegen'd extractMarkdownText chain. ANALYTIC
    // oracle: the wrappers must all unwrap back to exactly the
    // original words — a chain that eats markers, link targets, or
    // word text hash-mismatches
    Q("q_markdown_extract",
      (s, d) => {
        import s.implicits._
        val md = extractorInput(s, d).map { case (id, src, txt) =>
          val body = txt.split(" ").zipWithIndex.map { case (w, i) =>
            if (i % 13 == 3) s"[$w](http://x.test/$i)"
            else if (i % 11 == 2) s"`$w`"
            else if (i % 7 == 1) s"**$w**"
            else if (i % 5 == 1) s"*$w*"
            else w
          }.mkString(" ")
          (id, s"# $src\n\n$body")
        }.toDF("doc_id", "md")
        md.select(col("doc_id"),
          graft.functions.TextAnalysis
            .extractMarkdownText(col("md")).as("extracted"))
      },
      Some(titleBodyOracle)),

    // LaTeX extraction: each document renders into a full
    // article-shaped .tex (graft.sources.Latex.buildLatex — preamble
    // + comments + sectioning + inline/display/environment math +
    // floats + lists + verbatim + accents/ligatures/escapes + links
    // + postamble junk; body words cycled through
    // bold/emph/texttt/cite wrappers by position) and extracts
    // through the full chain. ANALYTIC oracle: every wrapper must
    // unwrap to exactly the original words and every fixed fixture
    // line must transform to its known text, so a chain that eats
    // words, leaks math/float/preamble noise, or mis-composes
    // accents hash-mismatches
    Q("q_latex_extract",
      (s, d) => {
        import s.implicits._
        extractorInput(s, d).map { case (id, src, txt) =>
          val body = txt.split(" ").zipWithIndex.map { case (w, i) =>
            if (i % 13 == 3) s"\\textbf{$w}"
            else if (i % 11 == 2) s"\\emph{$w}"
            else if (i % 7 == 1) s"$w\\cite{ref$i}"
            else if (i % 5 == 1) s"\\texttt{$w}"
            else w
          }.mkString(" ")
          (id, graft.sources.Latex.extractLatexText(
            graft.sources.Latex.buildLatex(src, body, id)))
        }.toDF("doc_id", "extracted")
      },
      Some("""SELECT doc_id, source || chr(10) || text || chr(10) ||
                'Energy conservation balance' || chr(10) ||
                'Müller & Søn — "cited" 100% #' || doc_id || ' fin' ||
                chr(10) || 'ext-label and http://u.test/' || doc_id ||
                chr(10) || 'first point' || chr(10) || 'second point' ||
                chr(10) || 'raw % not comment $x_' || doc_id
                AS extracted
              FROM documents WHERE doc_id < 150""")),

    // Wikitext extraction, end-to-end through the dump layer: each
    // document renders into export-format page XML
    // (graft.sources.Wiki.buildPage — an independent writer whose
    // XML escaping the StAX parse must invert), parses back
    // (XXE-off), and its wikitext — body words cycled through
    // link/bold/italic/template wrappers by position, plus a
    // heading, comment, table, <ref>, external link, File/Category
    // links, and both named and numeric entities — extracts through
    // the full strip chain. ANALYTIC oracle: every wrapper must
    // unwrap to exactly the original words and the planted entity
    // suffix must decode, so a chain that eats markers, leaks
    // template/table/citation noise, or mis-decodes entities
    // hash-mismatches
    Q("q_wikitext_extract",
      (s, d) => {
        import s.implicits._
        extractorInput(s, d).map { case (id, src, txt) =>
          val body = txt.split(" ").zipWithIndex.map { case (w, i) =>
            if (i % 13 == 3) s"[[Target $i|$w]]"
            else if (i % 11 == 2) s"'''$w'''"
            else if (i % 7 == 1) s"''$w''"
            else if (i % 5 == 1) s"{{fmt|$i}}$w"
            else w
          }.mkString(" ")
          val wikitext =
            s"== $src ==\n<!-- build $id -->\n" +
              "{| class=\"wikitable\"\n|-\n| dropped || cell\n|}\n" +
              body + s"<ref>cite $id</ref> [http://ext.test/$id " +
              "ext-label] M&uuml;ller &amp; S&oslash;n &#8212; fin\n" +
              s"[[File:p$id.png|thumb|cap [[X|y]]]]\n[[Category:Fix]]\n"
          val page = graft.sources.Wiki.parsePage(
            graft.sources.Wiki.buildPage(s"Doc $id", 0, wikitext))
          (id, graft.sources.Wiki.extractWikitext(page.text))
        }.toDF("doc_id", "extracted")
      },
      Some("""SELECT doc_id, source || chr(10) || text ||
                ' ext-label Müller & Søn — fin' AS extracted
              FROM documents WHERE doc_id < 150""")),

    // Subtitle parsing (SRT/WebVTT): each document's words become
    // 5-word cues with deterministic timestamps, rendered as SRT on
    // even ids and WebVTT (with NOTE blocks, cue identifiers,
    // settings, and inline markup the parser must strip) on odd, then
    // parsed back and re-aggregated. The oracle recomputes the cue
    // count / total duration / rejoined text analytically from the
    // word count, so timestamp math, cue splitting, and markup
    // stripping are each on the hook
    Q("q_subtitle_extract",
      (s, d) => {
        import s.implicits._
        val docs = s.read.parquet(pq(d, "documents"))
          .where(col("doc_id") < 150)
          .select(col("doc_id"), col("text"))
          .as[(Long, String)]
        docs.map { case (id, txt) =>
          val words = txt.split(" ")
          val cueTexts = words.grouped(5).map(_.mkString(" ")).toSeq
          val cues = cueTexts.zipWithIndex.map { case (t, i) =>
            (i * 2000L, i * 2000L + 1500L, t)
          }
          val content =
            if (id % 2 == 0) graft.sources.Subtitles.buildSrt(cues)
            else graft.sources.Subtitles.buildVtt(cues)
          val parsed = graft.sources.Subtitles.parse(content)
          (id, parsed.length.toLong,
            parsed.map(c => c.endMs - c.startMs).sum,
            parsed.map(_.text).mkString(" "))
        }.toDF("doc_id", "n_cues", "total_ms", "joined")
      },
      Some("""SELECT doc_id,
                CAST(ceil(len(string_split(text, ' ')) / 5.0) AS BIGINT)
                  AS n_cues,
                CAST(1500 * ceil(len(string_split(text, ' ')) / 5.0)
                  AS BIGINT) AS total_ms,
                text AS joined
              FROM documents WHERE doc_id < 150""")),

    // Email/mbox extraction: each document becomes one full-shape
    // message in an mbox archive (graft.sources.Mime.buildMbox —
    // multipart/mixed over multipart/alternative, quoted-printable
    // cp1252 text part, base64 UTF-8 html part, an attachment leaf,
    // RFC 2047 B-encoded subject), split on RFC 4155 envelopes and
    // parsed back. The planted suffixes force the QP (€ is a cp1252
    // byte) and encoded-word (№ is not cp1252-able) decode paths —
    // a parser that skips either mangles the analytic oracle's
    // expected text
    Q("q_mbox_extract",
      (s, d) => {
        import s.implicits._
        extractorInput(s, d).map { case (id, src, txt) =>
          val mbox = graft.sources.Mime.buildMbox(Seq(
            (s"$src@corpus.test", s"$src Grüße №$id",
              txt + " café 3€")))
          val msg = graft.sources.Mime.parseMessage(
            graft.sources.Mime.splitMbox(
              new String(mbox, "ISO-8859-1")).head)
          (id, msg.subject, msg.text)
        }.toDF("doc_id", "subject", "extracted")
      },
      Some("""SELECT doc_id, source || ' Grüße №' || doc_id AS subject,
                text || ' café 3€' AS extracted
              FROM documents WHERE doc_id < 150""")),

    // ---- office spreadsheets and slides ----------------------------
    // XLSX extraction: each document becomes a two-sheet workbook
    // (graft.sources.Xlsx.buildXlsx — worksheet PARTS stored in the
    // ZIP in reverse, so only workbook order yields the right sheet
    // sequence; body words alternate sharedStrings / inline-string
    // cells, with rich-run <r> splits on odd shared indexes, plus a
    // number, a boolean, and a formula-result cell). ANALYTIC
    // oracle: sheet names, the tab-joined cells, and every cell-type
    // resolution are all recomputed from the source columns
    Q("q_xlsx_extract",
      (s, d) => {
        import s.implicits._
        extractorInput(s, d).map { case (id, src, txt) =>
          import graft.sources.Xlsx
          val bodyCells = txt.split(" ").zipWithIndex.map {
            case (w, i) => Xlsx.Cell(w, if (i % 2 == 0) 's' else 'i')
          }.toSeq ++ Seq(Xlsx.Cell("42.5", 'n'),
            Xlsx.Cell("TRUE", 'b'), Xlsx.Cell(s"f$id", 'f'))
          val wb = Xlsx.buildXlsx(Seq(
            ("Meta", Seq(Seq(Xlsx.Cell(src, 's'),
              Xlsx.Cell(id.toString, 'n')))),
            ("Body", Seq(bodyCells))))
          (id, Xlsx.extractText(wb))
        }.toDF("doc_id", "extracted")
      },
      Some("""SELECT doc_id, 'Meta' || chr(10) || source || chr(9) ||
                doc_id || chr(10) || 'Body' || chr(10) ||
                replace(text, ' ', chr(9)) || chr(9) || '42.5' ||
                chr(9) || 'TRUE' || chr(9) || 'f' || doc_id
                AS extracted
              FROM documents WHERE doc_id < 150""")),

    // ODS extraction: each document becomes an ODF spreadsheet
    // (graft.sources.Ods.buildOds) whose Meta sheet carries a
    // two-paragraph title cell + typed float/boolean/date cells and
    // whose Body sheet spreads the text words over cells cycling
    // string / repeated / covered kinds — with every row trailing
    // the LibreOffice 16384-empty-cell run and every sheet the
    // 1048576-empty-row run, so extraction must TRIM rather than
    // allocate on every single row. ANALYTIC oracle: sheet names,
    // typed values, repeat doubling, and covered-cell slots
    // recomputed from the source columns
    Q("q_ods_extract",
      (s, d) => {
        import s.implicits._
        extractorInput(s, d).map { case (id, src, txt) =>
          import graft.sources.Ods
          val bodyCells = txt.split(" ").toSeq.map(Ods.Cell(_, 's')) ++
            Seq(Ods.Cell(s"dup$id", 'r'), Ods.Cell("", 'c'),
              Ods.Cell(s"tail$id", 's'))
          val ods = Ods.buildOds(Seq(
            ("Meta", Seq(Seq(Ods.Cell(s"$src|sub$id", '2'),
              Ods.Cell("42.5", 'f'), Ods.Cell("TRUE", 'b'),
              Ods.Cell("2026-01-05", 'd')))),
            ("Body", Seq(bodyCells))))
          (id, Ods.extractText(ods))
        }.toDF("doc_id", "extracted")
      },
      Some("""SELECT doc_id, 'Meta' || chr(10) || source || ' sub' ||
                doc_id || chr(9) || '42.5' || chr(9) || 'TRUE' ||
                chr(9) || '2026-01-05' || chr(10) || 'Body' ||
                chr(10) || replace(text, ' ', chr(9)) || chr(9) ||
                'dup' || doc_id || chr(9) || 'dup' || doc_id ||
                chr(9) || chr(9) || 'tail' || doc_id AS extracted
              FROM documents WHERE doc_id < 150""")),

    // PPTX extraction: each document becomes a two-slide deck
    // (graft.sources.Pptx.buildPptx — slide parts stored in the ZIP
    // reversed, so only sldIdLst order yields the right deck;
    // slide 2 carries two paragraphs). ANALYTIC oracle: title slide,
    // body paragraphs, and deck order recomputed from the source
    // columns
    Q("q_pptx_extract",
      (s, d) => {
        import s.implicits._
        extractorInput(s, d).map { case (id, src, txt) =>
          val deck = graft.sources.Pptx.buildPptx(Seq(
            Seq(src), Seq(txt, s"deck $id")))
          (id, graft.sources.Pptx.extractText(deck))
        }.toDF("doc_id", "extracted")
      },
      Some(deckOracle)),

    // ODP extraction: each document becomes a two-slide ODF
    // presentation (graft.sources.Odp.buildOdp — slide 1 carries
    // speaker notes AND a reviewer annotation that must DROP, slide
    // order is document order). ANALYTIC oracle: title slide and
    // body paragraphs recomputed from the source columns
    Q("q_odp_extract",
      (s, d) => {
        import s.implicits._
        extractorInput(s, d).map { case (id, src, txt) =>
          val odp = graft.sources.Odp.buildOdp(Seq(
            Seq(src), Seq(txt, s"deck $id")))
          (id, graft.sources.Odp.extractText(odp))
        }.toDF("doc_id", "extracted")
      },
      Some(deckOracle)),

    // ---- crawl records ---------------------------------------------
    // Raw-HTML charset sniffing ahead of the extract chain: each
    // document is wrapped in HTML carrying charset-stress text and
    // ENCODED to raw bytes in a rotation of real crawl shapes
    // (UTF-8+BOM / windows-1252 via <meta charset> / shift_jis via
    // <meta http-equiv> / iso-8859-1 via the Content-Type header
    // param), then decoded back through the WHATWG-precedence sniff
    // (graft.sources.Html.decodeHtmlBytes) and the standard
    // extractHtmlText chain. The oracle is ANALYTIC — expected text
    // written from the source columns plus the per-variant planted
    // suffix, so a decode that silently mangles the non-ASCII
    // characters (what UTF-8-always does to 3 of the 4 variants)
    // hash-mismatches immediately
    Q("q_html_extract_charset",
      (s, d) => {
        import s.implicits._
        val decoded = extractorInput(s, d).map { case (id, src, txt) =>
          val (metaTag, suffix, charset, ct) = ((id % 4).toInt: @unchecked) match {
            case 0 => ("", "", "UTF-8", null)
            case 1 => ("<meta charset=\"windows-1252\">",
              " café déjà vu", "windows-1252", null)
            case 2 => ("<meta http-equiv=\"Content-Type\" " +
              "content=\"text/html; charset=shift_jis\">",
              " 日本語テキスト",
              "shift_jis", null)
            case 3 => ("", " ¡señor!", "ISO-8859-1",
              "text/html; charset=iso-8859-1")
          }
          val html = s"<html><head>$metaTag</head><body><h1>$src</h1>" +
            s"<p>$txt$suffix</p></body></html>"
          val enc = html.getBytes(charset)
          val raw = if (id % 4 == 0)
            Array(0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++ enc
          else enc
          (id, graft.sources.Html.decodeHtmlBytes(raw, ct))
        }.toDF("doc_id", "html")
        decoded.select(col("doc_id"),
          graft.functions.TextAnalysis.extractHtmlText(col("html"))
            .as("extracted"))
      },
      Some("""SELECT doc_id, source || chr(10) || text ||
                CASE doc_id % 4 WHEN 0 THEN ''
                  WHEN 1 THEN ' café déjà vu'
                  WHEN 2 THEN ' 日本語テキスト'
                  ELSE ' ¡señor!' END AS extracted
              FROM documents WHERE doc_id < 150""")),

    // Full-WARC raw-crawl path, end-to-end: each document becomes an
    // HTTP response inside a spec-valid WARC shard
    // (graft.sources.Warc.buildWarc — warcinfo + request + response
    // records, one gzip member per record on odd ids, the standard
    // .warc.gz layout), walked back through the Content-Length-framed
    // record reader, HTTP-split (the Content-Type header surfaces the
    // transport charset), charset-decoded (windows-1252 — bytes a
    // UTF-8-always decode would mangle), and text-extracted. Same
    // ANALYTIC oracle family as q_html_extract_charset
    Q("q_warc_extract_responses",
      (s, d) => {
        import s.implicits._
        val decoded = extractorInput(s, d).map { case (id, src, txt) =>
          val html = s"<html><head></head><body><h1>$src</h1>" +
            s"<p>$txt fiancée nº $id</p></body></html>"
          val shard = graft.sources.Warc.buildWarc(
            Seq((s"http://corpus.test/$id",
              "text/html; charset=windows-1252",
              html.getBytes("windows-1252"))),
            gzipped = id % 2 == 1)
          val r = graft.sources.Warc.records(
              new java.io.ByteArrayInputStream(shard))
            .find(_.warcType == "response").get
          (id, graft.sources.Html.decodeHtmlBytes(r.payload,
            r.httpContentType))
        }.toDF("doc_id", "html")
        decoded.select(col("doc_id"),
          graft.functions.TextAnalysis.extractHtmlText(col("html"))
            .as("extracted"))
      },
      Some("""SELECT doc_id, source || chr(10) || text ||
                ' fiancée nº ' || doc_id AS extracted
              FROM documents WHERE doc_id < 150""")),

    // WET (Common Crawl text-extract) record parsing: render each doc
    // as a WARC conversion record (version line, octet
    // Content-Length, blank-line terminator), parse it back with the
    // codegen'd regexp layer — the payload round-trips EXACTLY (one
    // terminator stripped, content newlines preserved). The oracle is
    // ANALYTIC — expected fields written directly from the source
    // columns, not by replaying the regex — so a parse bug cannot
    // cancel itself out. File-level record splitting (custom lineSep
    // across Hadoop splits) is WarcSpec-tier.
    Q("q_wet_parse",
      (s, d) => {
        val docs = s.read.parquet(pq(d, "documents"))
        graft.sources.Warc.parseWet(docs.select(
          graft.sources.Warc.toWetRecord(
            concat(lit("https://example.com/doc/"),
              col("doc_id").cast("string")),
            lit("2024-01-01T00:00:00Z"), col("text")).as("record")))
      },
      Some("""SELECT 'https://example.com/doc/' ||
                CAST(doc_id AS VARCHAR) AS url,
              '2024-01-01T00:00:00Z' AS warc_date,
              CAST(strlen(text) AS BIGINT) AS content_length,
              text
              FROM documents""")),

    // WAT link-graph ingestion, end-to-end through the record layer:
    // each document becomes a WAT shard (graft.sources.Wat.buildWat —
    // an independent writer whose JSON escaping the from_json parse
    // must invert; warcinfo record walked over, envelope carrying
    // sibling subtrees the schema must prune past), its metadata
    // record's envelope parses through the declared-subtree schema,
    // and the links array explodes to edge rows. ANALYTIC oracle:
    // the edge set is recomputed from the source columns (first five
    // words become link targets), so a walk that loses records,
    // mis-parses the envelope, or drops/duplicates edges
    // hash-mismatches
    Q("q_wat_links",
      (s, d) => {
        import s.implicits._
        val metas = extractorInput(s, d).map { case (id, src, txt) =>
          val links = txt.split(" ").take(5).toSeq.map(w =>
            ("A@/href", s"http://out.test/$id/$w"))
          val shard = graft.sources.Wat.buildWat(Seq(
            (s"http://site.test/$id", src, links)))
          val rec = graft.sources.Warc.records(
            new java.io.ByteArrayInputStream(shard))
            .filter(_.warcType == "metadata").next()
          (rec.targetUri, new String(rec.payload,
            java.nio.charset.StandardCharsets.UTF_8), null: String)
        }.toDF("target_uri", "json", "wat_error")
        graft.sources.Wat.links(metas)
      },
      Some("""SELECT 'http://site.test/' || doc_id AS src_url,
                source AS title, 'A@/href' AS link_path,
                'http://out.test/' || doc_id || '/' || w AS link_url
              FROM (SELECT doc_id, source,
                unnest(string_split(text, ' ')[1:5]) AS w
                FROM documents WHERE doc_id < 150)""")),

    // CDX capture-index latest-capture selection: each document
    // becomes two CDXJ captures of the same SURT key (the 2025 one
    // must LOSE to the 2026 one) plus one malformed line per
    // doc_id % 9 == 0 (which must quarantine, not poison the key) —
    // built by graft.sources.Cdx.buildCdx, parsed back through the
    // codegen'd split + from_json + try_cast chain, deduped by the
    // per-SURT window. ANALYTIC oracle: the winning capture's every
    // field recomputed from the source columns
    Q("q_cdx_latest",
      (s, d) => {
        import s.implicits._
        val docs = s.read.parquet(pq(d, "documents"))
          .where(col("doc_id") < 150)
          .select(col("doc_id")).as[Long]
        val lines = docs.flatMap { id =>
          val surt = s"org,doc$id)/"
          val cdx = graft.sources.Cdx.buildCdx(Seq(
            (surt, "20250101000000", s"http://doc$id.org/?v=1", 200,
              s"OLD-$id", id % 1000 + 10, id * 7, s"w${id % 13}.warc.gz"),
            (surt, "20260101000000", s"http://doc$id.org/?v=2", 200,
              s"NEW-$id", id % 1000 + 99, id * 7 + 4096,
              s"w${(id + 1) % 13}.warc.gz"))) +
            (if (id % 9 == 0) s"$surt notatimestamp {}\n" else "")
          cdx.split("\n").toSeq.filter(_.nonEmpty)
        }.toDF("value")
        graft.sources.Cdx.latestCaptures(
          graft.sources.Cdx.parseLines(lines))
          .select(col("surt"),
            date_format(col("capture_ts"), "yyyyMMddHHmmss")
              .as("capture_str"),
            col("url"), col("status"), col("digest"), col("length"),
            col("offset"), col("filename"))
      },
      Some("""SELECT 'org,doc' || doc_id || ')/' AS surt,
                '20260101000000' AS capture_str,
                'http://doc' || doc_id || '.org/?v=2' AS url,
                200 AS status, 'NEW-' || doc_id AS digest,
                doc_id % 1000 + 99 AS length,
                doc_id * 7 + 4096 AS offset,
                'w' || ((doc_id + 1) % 13) || '.warc.gz' AS filename
              FROM documents WHERE doc_id < 150""")),

    // Index-driven selective fetch, end-to-end: ONE member-per-record
    // WARC shard holding ALL 150 documents is built and written by an
    // executor task (Cdx.buildIndexedWarc — offsets deterministic,
    // gzip MTIME=0) which emits the (uri, offset, length) index; CDX
    // lines are built for the EVEN doc_ids only; fetchPlan groups the
    // ranges and fetchRecords positioned-reads exactly those members
    // back ([[FSDataInputStream.readFully(pos, …)]] — the odd docs'
    // bytes are never parsed). ANALYTIC oracle: the even docs' url +
    // html recomputed from source columns — a fetch that reads the
    // wrong range, loses a member, or leaks unselected records
    // row-count/hash-mismatches
    Q("q_cdx_fetch",
      (s, d) => {
        import s.implicits._
        // shard + index cached via the Fixture store (optimization
        // round 19): the previous form rebuilt the WARC shard into a
        // fresh NEVER-DELETED temp dir on every query construction —
        // every bench warmup/run, every Verify — leaking a dir per
        // call (the zorderFixture lesson, verbatim). The steady-state
        // number now measures the index-driven selective FETCH, which
        // is the operator's actual claim; the one-time build is the
        // fixture, exercised end-to-end by CdxSpec.
        val root = Fixture(
          new java.io.File(d, "documents.parquet"),
          "graft_cdx_fetch", codeKey = "v1:150docs") { tmp =>
          val dir = tmp.toString
          extractorInput(s, d).repartition(1).mapPartitions { it =>
            val rows = it.toSeq.sortBy(_._1)
            val (shard, index) = graft.sources.Cdx.buildIndexedWarc(
              rows.map { case (id, src, txt) =>
                (s"http://doc$id.test/",
                  s"<h1>$src</h1><p>$txt</p>")
              })
            java.nio.file.Files.write(
              java.nio.file.Paths.get(dir, "w0.warc.gz"), shard)
            index.iterator.map { case (uri, off, len) =>
              (uri, off, len)
            }
          }.toDF("url", "offset", "length")
            .write.mode("overwrite")
            .parquet(new java.io.File(tmp, "index").toString)
        }
        val dir = root.toString
        val idx = s.read.parquet(new java.io.File(root, "index").toString)
        val cdxLines = idx
          .where(expr("CAST(regexp_extract(url, 'doc(\\\\d+)', 1) " +
            "AS BIGINT) % 2 = 0"))
          .select(concat(lit("t)/"), col("url"), lit(" 20260101000000 "),
            to_json(struct(col("url"),
              col("length").cast("string").as("length"),
              col("offset").cast("string").as("offset"),
              lit("w0.warc.gz").as("filename")))).as("value"))
        val fetched = graft.sources.Cdx.fetchRecords(
          graft.sources.Cdx.fetchPlan(
            graft.sources.Cdx.parseLines(cdxLines)), dir)
        fetched
          .where(col("fetch_error").isNull)
          .select(col("target_uri").as("url"), col("warc_type"),
            decode(col("payload"), "UTF-8").as("html"))
      },
      Some("""SELECT 'http://doc' || doc_id || '.test/' AS url,
                'resource' AS warc_type,
                '<h1>' || source || '</h1><p>' || text || '</p>'
                AS html
              FROM documents WHERE doc_id < 150 AND doc_id % 2 = 0""")),

    // ---- archives and dumps ----------------------------------------
    // ZIP shard ingestion: each document becomes a two-text-member
    // shard (plus a planted binary member that must be SKIP-COUNTED,
    // never decoded into the corpus), read back through the member
    // walk + BOM-aware decode. The oracle pins member count, skip
    // count, and the joined text analytically
    Q("q_zip_text_ingest",
      (s, d) => shardIngest(s, d)((_, members) =>
        graft.sources.Zip.buildShard(members), graft.sources.Zip.textMembers),
      Some("""SELECT doc_id, CAST(2 AS BIGINT) AS n_members,
                CAST(1 AS BIGINT) AS n_skipped,
                source || chr(10) || text AS joined
              FROM documents WHERE doc_id < 150""")),

    // TAR shard ingestion: the zip gate's construction for tarballs —
    // each document becomes a ustar shard whose first member routes
    // through a GNU long-name pseudo-entry, plus a prefix-split deep
    // path member and a binary member that must skip-count; gzipped
    // whole-stream on odd ids. Oracle pins member/skip counts and the
    // joined text (the fixture's fixed deep-path member included)
    Q("q_tar_text_ingest",
      (s, d) => shardIngest(s, d)((id, members) =>
        graft.sources.Tar.buildShard(members, gzipped = id % 2 == 1),
        graft.sources.Tar.textMembers),
      Some(tarIngestOracle)),

    // .tar.zst shard ingestion: the q_tar_text_ingest construction
    // with the whole-stream zstd wrap in place of gzip — same
    // members, same walk, same ORACLE LITERAL (shared verbatim, so
    // the two gates can never silently drift apart); what changes is
    // only the magic-sniffed decompressor (Zstd.sniffWrap, pure-Java
    // airlift stream already on the classpath)
    Q("q_tar_text_ingest_zst",
      (s, d) => shardIngest(s, d)((_, members) =>
        graft.sources.Zstd.compress(graft.sources.Tar.buildShard(members)),
        graft.sources.Tar.textMembers),
      Some(tarIngestOracle)),

    // Jupyter notebook cell extraction: each document becomes an
    // nbformat-4 notebook (graft.sources.Ipynb.buildIpynb) planting
    // BOTH live source shapes — a markdown cell whose source is the
    // spec's plain STRING and a code cell whose source is nbformat's
    // LIST OF LINES (each carrying its own newline) — and every
    // doc_id % 7 == 0 notebook is truncated to malformed JSON, which
    // must surface as ONE parse_ok=false row (counted, not dropped).
    // The read is Spark-4 variant-typed (try_parse_json +
    // try_variant_get both shapes + coalesce — schema-on-read over
    // the polymorphic field, no UDF). ANALYTIC oracle: cell text
    // recomputed from the source columns, so a reader that collapses
    // the list shape, loses cell order, or miscounts malformed
    // notebooks hash-mismatches
    Q("q_ipynb_cells",
      (s, d) => {
        import s.implicits._
        val nbs = extractorInput(s, d).map { case (id, src, txt) =>
          val json = graft.sources.Ipynb.buildIpynb(Seq(
            ("markdown", Left(src)),
            ("code", Right(txt.split(" ").toSeq.map(_ + "\n")))))
          (id, if (id % 7 == 0) json.dropRight(7) else json)
        }.toDF("doc_id", "json")
        graft.sources.Ipynb.cells(nbs, "doc_id")
          .withColumnRenamed("source", "cell_source")
      },
      Some("""SELECT doc_id, true AS parse_ok, 0 AS cell_idx,
                'markdown' AS cell_type, source AS cell_source
              FROM documents WHERE doc_id < 150 AND doc_id % 7 != 0
              UNION ALL
              SELECT doc_id, true, 1, 'code',
                replace(text, ' ', chr(10)) || chr(10)
              FROM documents WHERE doc_id < 150 AND doc_id % 7 != 0
              UNION ALL
              SELECT doc_id, false, NULL, NULL, NULL
              FROM documents WHERE doc_id < 150 AND doc_id % 7 = 0""")),

    // Stack Exchange Q&A flattening, end-to-end through the dump
    // layer: each document becomes a dump-shaped Posts.xml
    // (graft.sources.StackExchange.buildPostsXml — attributes
    // XML-escaped, so HTML bodies arrive DOUBLE-encoded exactly as
    // in real dumps) carrying one question and two answers where the
    // ACCEPTED answer has the LOWER score — so the qaPairs rank
    // (accepted-first, then score) is pinned against a plain
    // score-sort. Rows parse back through the StAX attribute decode,
    // then the real qaPairs join+window runs distributed. ANALYTIC
    // oracle: both (question, answer) rows recomputed from the
    // source columns
    Q("q_stackexchange_qa",
      (s, d) => {
        import s.implicits._
        val posts = extractorInput(s, d).flatMap { case (id, src, txt) =>
          val xml = graft.sources.StackExchange.buildPostsXml(Seq(
            Map("Id" -> s"${2 * id}", "PostTypeId" -> "1",
              "AcceptedAnswerId" -> s"${4 * id + 1}",
              "Score" -> s"${id % 7}", "Title" -> src,
              "Body" -> s"<p>$txt</p>",
              "Tags" -> s"<t${id % 5}><graft>"),
            Map("Id" -> s"${4 * id + 1}", "PostTypeId" -> "2",
              "ParentId" -> s"${2 * id}", "Score" -> s"${id % 10}",
              "Body" -> s"<p>accepted answer $id</p>"),
            Map("Id" -> s"${4 * id + 3}", "PostTypeId" -> "2",
              "ParentId" -> s"${2 * id}", "Score" -> s"${id % 10 + 5}",
              "Body" -> s"<p>top answer $id</p>")))
          xml.split("\n").toSeq.filter(_.contains("<row")).map { l =>
            val a = graft.sources.StackExchange.parseRow(l)
            def num(k: String): java.lang.Long =
              a.get(k).map(v => java.lang.Long.valueOf(v)).orNull
            (num("Id"), num("PostTypeId"), num("ParentId"),
              num("AcceptedAnswerId"), num("Score"),
              a.getOrElse("Title", null), a.getOrElse("Body", null),
              graft.sources.StackExchange.parseTags(
                a.getOrElse("Tags", null)),
              null: String)
          }
        }.toDF("id", "post_type_id", "parent_id",
          "accepted_answer_id", "score", "title", "body_html", "tags",
          "se_error")
        graft.sources.StackExchange.qaPairs(posts)
      },
      Some("""SELECT 2 * doc_id AS question_id, source AS title,
                't' || (doc_id % 5) || ',graft' AS tags,
                text AS question_text,
                'accepted answer ' || doc_id AS answer_text,
                doc_id % 10 AS answer_score, true AS is_accepted,
                1 AS answer_rank
              FROM documents WHERE doc_id < 150
              UNION ALL
              SELECT 2 * doc_id, source, 't' || (doc_id % 5) || ',graft',
                text, 'top answer ' || doc_id, doc_id % 10 + 5, false, 2
              FROM documents WHERE doc_id < 150""")),

    // Avro container ingestion: each document becomes a two-record
    // container WRITTEN BY THE AVRO LIBRARY ITSELF
    // (graft.sources.Avro.buildContainer — an encoder this repo did
    // not write, so writer/parser bug pairs cannot cancel), deflate
    // codec on odd ids, walked back through the record layer and
    // typed via the from_json schema-on-read pattern. ANALYTIC
    // oracle: both records' fields recomputed from the source columns
    Q("q_avro_ingest",
      (s, d) => {
        import s.implicits._
        val recs = extractorInput(s, d).flatMap { case (id, src, txt) =>
          val bytes = graft.sources.Avro.buildContainer(
            Seq((2 * id, src, txt),
              (2 * id + 1, s"re: $src", s"reply $id")),
            if (id % 2 == 1) "deflate" else "null")
          graft.sources.Avro.recordsOf(bytes)._2.map(r => (id, r))
        }.toDF("doc_id", "record_json")
        recs.select(col("doc_id"),
          from_json(col("record_json"),
            org.apache.spark.sql.types.StructType.fromDDL(
              "id BIGINT, title STRING, body STRING")).as("r"))
          .select(col("doc_id"), col("r.id").as("rec_id"),
            col("r.title").as("title"), col("r.body").as("body"))
      },
      Some("""SELECT doc_id, 2 * doc_id AS rec_id, source AS title,
                text AS body
              FROM documents WHERE doc_id < 150
              UNION ALL
              SELECT doc_id, 2 * doc_id + 1, 're: ' || source,
                'reply ' || doc_id
              FROM documents WHERE doc_id < 150""")),

    // ---- row formats -----------------------------------------------
    // JSONL edge round-trip under hostility: the corpus written as
    // JSONL (Spark-escaped text incl. newlines/quotes/unicode), two
    // corrupt lines planted (broken JSON + type-mismatched field),
    // read back under the EXPLICIT schema with quarantine — valid
    // rows must reproduce the parquet corpus exactly (the sums/counts
    // pin it) and the corrupt accounting must be 2, not a failed scan
    // and not a silent drop. Fixture is content-keyed like the other
    // on-disk fixtures.
    Q("q_jsonl_roundtrip",
      (s, d) => {
        val src = new java.io.File(pq(d, "documents"))
        val root = Fixture(src, "graft_jsonl") { tmp =>
          val data = new java.io.File(tmp, "data")
          graft.sources.Jsonl.write(s.read.parquet(src.getPath),
            data.toString)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(data.toString, "corrupt-0.json"),
            corruptJsonl)
        }
        jsonlRoundtripSummary(graft.sources.Jsonl.read(s,
          new java.io.File(root, "data").toString, documentsSchema))
      },
      Some(jsonlRoundtripOracle)),

    // zstd-compressed JSONL round-trip: q_jsonl_roundtrip's
    // construction and oracle VERBATIM over `.jsonl.zst` shards (the
    // compression The-Pile/RedPajama-class corpora ship) decoded by
    // the pure-Java airlift codec — Spark's stock zstd path needs
    // native libhadoop and is unavailable here by construction, so
    // identical results prove the registered codec, not a silent
    // fallback. The corrupt shard is itself zstd-compressed:
    // quarantine accounting must survive the codec
    Q("q_jsonl_zst_roundtrip",
      (s, d) => {
        val src = new java.io.File(pq(d, "documents"))
        val root = Fixture(src, "graft_jsonl_zst") { tmp =>
          val data = new java.io.File(tmp, "data")
          graft.sources.Zstd.writeJsonlZst(s.read.parquet(src.getPath),
            data.toString)
          val zbytes = {
            val out = new java.io.ByteArrayOutputStream()
            val z = new io.airlift.compress.zstd.ZstdOutputStream(out)
            z.write(corruptJsonl)
            z.close()
            out.toByteArray
          }
          java.nio.file.Files.write(
            java.nio.file.Paths.get(data.toString, "corrupt-0.jsonl.zst"),
            zbytes)
        }
        jsonlRoundtripSummary(graft.sources.Zstd.readJsonlZst(s,
          new java.io.File(root, "data").toString, documentsSchema))
      },
      Some(jsonlRoundtripOracle)),

    // CSV edge round-trip under hostility (round 13): the corpus
    // UNIONED with planted rows carrying the whole CSV metacharacter
    // set — commas, doubled quotes, embedded \n and \r\n, a null
    // numeric, an empty-vs-null string pair (the classic CSV
    // data-loss case) — written as RFC 4180 CSV (sources.Csv pins
    // quote-doubling + multiLine) and read back under the explicit
    // schema with quarantine. Two corrupt rows planted (both TYPE
    // mismatches; token-count drift also quarantines — CsvSpec pins
    // the full quarantine semantics). The gate is
    // EXACT set equality against the written frame (both exceptAll
    // directions empty), not aggregate pins — a quoting bug that
    // splits one row into two garbled ones cannot cancel out.
    Q("q_csv_roundtrip",
      (s, d) => {
        import graft.sources.Csv
        def hostile: DataFrame = s.range(8).select(
          (col("id") + 900000L).as("doc_id"),
          concat(lit("a,b \"quo\"\"ted\" line\nsecond,line\r\nthird "),
            col("id").cast("string")).as("text"),
          when(col("id") === 0L, lit("")) // empty string, survives
            .when(col("id") === 1L, lit(null)) // vs null, survives
            .otherwise(lit("x,\"x")).as("lang"),
          lit("csv,torture \"src\"").as("source"),
          when(col("id") === 2L, lit(null))
            .otherwise(col("id")).cast("long").as("n_chars"))
        val src = new java.io.File(pq(d, "documents"))
        // keyed on the dialect too: the fixture's BYTES are a
        // function of the writer configuration, and /tmp outlives
        // code changes
        val root = Fixture(src, "graft_csv",
            codeKey = Csv.dialectKey) { tmp =>
          val data = new java.io.File(tmp, "data")
          Csv.write(s.read.parquet(src.getPath).unionByName(hostile),
            data.toString, maxRecordsPerFile = 200L)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(data.toString, "corrupt-0.csv"),
            ("doc_id,text,lang,source,n_chars\n" +
              "notanumber,\"x\",en,web,5\n" +
              "7,\"y\",en,web,notanumber\n").getBytes("UTF-8"))
        }
        val dataDir = new java.io.File(root, "data").toString
        val clean = Csv.readClean(s, dataDir, documentsSchema)
        val source = s.read.parquet(src.getPath)
          .select(documentsSchema.fieldNames.toIndexedSeq.map(col): _*)
          .unionByName(hostile)
        Csv.quarantineStats(s, dataDir, documentsSchema)
          .crossJoin(clean.exceptAll(source)
            .agg(count(lit(1)).as("n_extra")))
          .crossJoin(source.exceptAll(clean)
            .agg(count(lit(1)).as("n_missing")))
      },
      Some("""SELECT (SELECT COUNT(*) + 8 FROM documents) AS n_valid,
              CAST(2 AS BIGINT) AS n_corrupt,
              CAST(0 AS BIGINT) AS n_extra,
              CAST(0 AS BIGINT) AS n_missing""")),

    // ORC edge round-trip (round 13): the OTHER columnar format a
    // lake migration hands an ingestion pipeline. lineitem exercises
    // int64/int32/double/string/timestamp, embeddings exercises
    // list<float> — both written as zstd ORC via Spark's native
    // source and read back; the gate is exact set equality in both
    // directions for BOTH tables, in one plan.
    Q("q_orc_roundtrip",
      (s, d) => {
        val li = new java.io.File(pq(d, "lineitem"))
        val root = Fixture(li, "graft_orc") { tmp =>
          Seq("lineitem", "embeddings").foreach { t =>
            s.read.parquet(pq(d, t)).write.mode("overwrite")
              .option("compression", "zstd")
              .orc(new java.io.File(tmp, t).toString)
          }
        }
        // set equality via ONE signed-multiset aggregation per table
        // (optimization round 19, guide §2.3/§2.4): the exceptAll pair
        // shuffled every wide row twice per direction (4 exchanges per
        // table) plus a third scan for the row count; tagging back-rows
        // +1 / source-rows −1 and aggregating the per-row-value net
        // yields the identical three counts — extra = Σ positive net,
        // missing = Σ −negative net (exceptAll is multiset difference,
        // which is exactly the positive part of the signed sum), rows =
        // the +1 side's count — from one shuffle over the union.
        def diffs(t: String): DataFrame = {
          val back = s.read.orc(new java.io.File(root, t).toString)
          val orig = s.read.parquet(pq(d, t))
          val cols = orig.columns.toSeq.map(col)
          back.select(struct(cols: _*).as("__r"), lit(1L).as("__s"))
            .unionAll(orig.select(struct(cols: _*).as("__r"),
              lit(-1L).as("__s")))
            .groupBy(col("__r"))
            .agg(sum(col("__s")).as("__net"),
              count(when(col("__s") > 0, 1)).as("__nb"))
            .agg(
              coalesce(sum(when(col("__net") > 0, col("__net"))), lit(0L))
                .as(s"${t}_extra"),
              coalesce(sum(when(col("__net") < 0, -col("__net"))), lit(0L))
                .as(s"${t}_missing"),
              coalesce(sum(col("__nb")), lit(0L)).as(s"${t}_rows"))
        }
        diffs("lineitem").crossJoin(diffs("embeddings"))
      },
      Some("""SELECT CAST(0 AS BIGINT) AS lineitem_extra,
              CAST(0 AS BIGINT) AS lineitem_missing,
              (SELECT COUNT(*) FROM lineitem) AS lineitem_rows,
              CAST(0 AS BIGINT) AS embeddings_extra,
              CAST(0 AS BIGINT) AS embeddings_missing,
              (SELECT COUNT(*) FROM embeddings) AS embeddings_rows""")),

    // shard-integrity manifest: export documents as 4 parquet shards,
    // write _MANIFEST.json (per-shard sha256/bytes/rows via the
    // distributed binaryFile hash pass), verify, and prove the
    // verified totals against the source table — n_files/n_ok pin the
    // shard count and the all-ok contract, rows_total pins that the
    // manifest's row accounting equals the corpus row count (an
    // ANALYTIC oracle: the manifest cannot grade its own homework)
    Q("q_export_manifest",
      (s, d) => {
        val src = new java.io.File(pq(d, "documents"))
        val root = Fixture(src, "graft_manifest") { tmp =>
          val data = new java.io.File(tmp, "data")
          s.read.parquet(src.getPath).repartition(4)
            .write.mode("overwrite").parquet(data.toString)
          graft.sources.Manifest.write(s, data.toString)
        }
        val dataDir = new java.io.File(root, "data").toString
        val st = graft.sources.Manifest.verify(s, dataDir)
        val entries = graft.sources.Manifest.read(s, dataDir)
        st.agg(count(lit(1)).as("n_files"),
            count(when(col("status") === "ok", 1)).as("n_ok"))
          .crossJoin(broadcast(
            entries.agg(sum("rows").cast("long").as("rows_total"))))
      },
      Some("""SELECT CAST(4 AS BIGINT) AS n_files,
              CAST(4 AS BIGINT) AS n_ok,
              (SELECT COUNT(*) FROM documents) AS rows_total""")),

    // ---- storage layouts -------------------------------------------
    // Z-order clustered write + read-back: the multi-dimensional data-
    // skipping layout (Morton interleave of l_orderkey × l_partkey
    // bucket bits; row-group stats tight in BOTH dimensions, so the
    // rectangle filter prunes on both — ZOrderSpec asserts the actual
    // row-group pruning; here the driver checks the round-trip answer)
    Q("q_zorder_skipping",
      (s, d) => {
        s.read.parquet(zorderFixture(s, d))
          .where(col("l_orderkey") <= 6000 && col("l_partkey") <= 200)
          .agg(count(lit(1)).as("n"),
            round(sum(col("l_quantity")), 4).as("qty"))
      },
      Some("""SELECT COUNT(*) AS n, ROUND(SUM(l_quantity), 4) AS qty
              FROM lineitem
              WHERE l_orderkey <= 6000 AND l_partkey <= 200""")),

    // manifest-level file skipping: the external per-file stats index
    // picks the files whose [min,max] can intersect the range BEFORE
    // any footer is opened; the exact filter then runs on the scanned
    // rows, so the answer ≡ the full-directory read the oracle runs
    // (StatsIndexSpec asserts the actual file-count reduction)
    Q("q_file_skipping",
      (s, d) => {
        val root = statsIndexFixture(s, d)
        graft.sources.StatsIndex.prunedRead(s,
            new java.io.File(root, "data").toString,
            new java.io.File(root, "index").toString,
            Seq(graft.sources.StatsIndex.Range("l_orderkey",
              1000L, 5000L)))
          .agg(count(lit(1)).as("n"),
            round(sum(col("l_quantity")), 4).as("qty"))
      },
      Some("""SELECT COUNT(*) AS n, ROUND(SUM(l_quantity), 4) AS qty
              FROM lineitem
              WHERE l_orderkey BETWEEN 1000 AND 5000""")),

    // needle-in-haystack point lookup: the per-file Bloom sketch in
    // the manifest (not the min/max interval) decides which files can
    // contain the key; no false negatives, exact filter on top —
    // answer ≡ the plain equality read
    Q("q_point_lookup",
      (s, d) => {
        val root = statsIndexFixture(s, d)
        graft.sources.StatsIndex.prunedRead(s,
            new java.io.File(root, "data").toString,
            new java.io.File(root, "index").toString,
            preds = Nil,
            points = Seq(graft.sources.StatsIndex.Point("l_orderkey",
              1000L)))
          .agg(count(lit(1)).as("n"),
            round(sum(col("l_quantity")), 4).as("qty"))
      },
      Some("""SELECT COUNT(*) AS n, ROUND(SUM(l_quantity), 4) AS qty
              FROM lineitem WHERE l_orderkey = 1000""")),

    // Bucketed co-located join (round 15): Spark TABLE bucketing —
    // the storage-level scale tool the LSH "bucketing" operators do
    // not cover. Both sides are written once CLUSTERED BY their join
    // key INTO 8 BUCKETS (sources.Bucketed: external tables +
    // idempotent DDL re-attach, since the in-memory catalog is
    // session-scoped); the recurring fact-to-fact join then runs
    // with ZERO exchange on either side — at 100 TB that converts
    // two full-data shuffles PER QUERY into one shuffle paid once at
    // write. BucketedSpec + the GoldenPlans pin assert the
    // exchange-free join plan (1 shuffle total — the final
    // group-by); the oracle replays the join+agg over the raw
    // parquet, so the bucketed layout is also proven
    // semantics-preserving.
    Q("q_bucketed_join",
      (s, d) => {
        import graft.sources.Bucketed
        def liProj = s.read.parquet(pq(d, "lineitem"))
          .select(col("l_orderkey"), col("l_quantity"),
            col("l_returnflag"))
        def ordProj = s.read.parquet(pq(d, "orders"))
          .select(col("o_orderkey"), col("o_orderstatus"))
        val root = Fixture(
          new java.io.File(d, "lineitem.parquet"),
          "graft_bucketed_join", codeKey = "v1:8buckets") { tmp =>
          Bucketed.writeBucketed(liProj, "graft_bli",
            new java.io.File(tmp, "li").toString, "l_orderkey", 8)
          Bucketed.writeBucketed(ordProj, "graft_bord",
            new java.io.File(tmp, "ord").toString, "o_orderkey", 8)
        }
        val li = Bucketed.attach(s, "graft_bli", liProj.schema.toDDL,
          "l_orderkey", 8, "l_orderkey",
          new java.io.File(root, "li").toString)
        val ord = Bucketed.attach(s, "graft_bord", ordProj.schema.toDDL,
          "o_orderkey", 8, "o_orderkey",
          new java.io.File(root, "ord").toString)
        // hint("merge"): at gated SFs the orders side fits the
        // broadcast threshold, which would hide the point — at 100 TB
        // NEITHER side broadcasts, and the merge join over bucketed
        // scans is exactly the exchange-free plan being demonstrated
        li.join(ord.hint("merge"),
            li("l_orderkey") === ord("o_orderkey"))
          .groupBy(col("l_returnflag"), col("o_orderstatus"))
          .agg(sum(col("l_quantity")).as("sum_qty"),
            count(lit(1)).as("n_rows"))
      },
      Some("""SELECT l_returnflag, o_orderstatus,
                SUM(l_quantity) AS sum_qty, COUNT(*) AS n_rows
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              GROUP BY 1, 2""")),

    // Bucketed DOCUMENTS-family join (round 16): q_bucketed_join
    // demonstrated the layout on lineitem ⋈ orders; this cashes the
    // header claim ("corpus ⋈ embeddings") on the join the retrieval
    // family re-runs every query — documents ⋈ embeddings on
    // doc_id = vec_id (the q_hybrid_search/q_ann_recall_gate corpus
    // construction). Both tables are written once CLUSTERED BY their
    // join key INTO 8 BUCKETS; the corpus join then plans with ZERO
    // exchange on either side (GoldenPlans pins 1 shuffle total — the
    // final per-source agg — and 1 smj). At 100 TB the corpus ⋈
    // embeddings join recurs across every retrieval/dedup/curation
    // query; the bucketed layout converts its two full-corpus
    // shuffles per query into one paid at ingest. The oracle replays
    // the join + agg over the raw parquet — the layout is
    // semantics-preserving, same contract as q_bucketed_join.
    Q("q_bucketed_doc_join",
      (s, d) => {
        import graft.sources.Bucketed
        def docProj = s.read.parquet(pq(d, "documents"))
          .select(col("doc_id"), col("source"), col("n_chars"))
        def embProj = s.read.parquet(pq(d, "embeddings"))
          .select(col("vec_id"), col("label"))
        val root = Fixture(
          new java.io.File(d, "documents.parquet"),
          "graft_bucketed_docs", codeKey = "v1:8buckets") { tmp =>
          Bucketed.writeBucketed(docProj, "graft_bdocs",
            new java.io.File(tmp, "docs").toString, "doc_id", 8)
          Bucketed.writeBucketed(embProj, "graft_bemb",
            new java.io.File(tmp, "emb").toString, "vec_id", 8)
        }
        val docs = Bucketed.attach(s, "graft_bdocs",
          docProj.schema.toDDL, "doc_id", 8, "doc_id",
          new java.io.File(root, "docs").toString)
        val emb = Bucketed.attach(s, "graft_bemb",
          embProj.schema.toDDL, "vec_id", 8, "vec_id",
          new java.io.File(root, "emb").toString)
        // hint("merge") for the same reason as q_bucketed_join: at
        // gated SFs one side fits the broadcast threshold; at 100 TB
        // neither does, and the exchange-free merge join over the
        // bucketed scans is the plan being demonstrated
        docs.join(emb.hint("merge"),
            docs("doc_id") === emb("vec_id"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            sum(col("label").cast("long")).as("sum_label"),
            min(col("vec_id")).as("min_vec"),
            max(col("vec_id")).as("max_vec"))
      },
      Some("""SELECT source, COUNT(*) AS n_docs,
                CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
                CAST(SUM(label) AS BIGINT) AS sum_label,
                MIN(vec_id) AS min_vec, MAX(vec_id) AS max_vec
              FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
              GROUP BY 1""")),

    // ---- transport round-trip (S7/S8) ------------------------------
    Q("q_transport_roundtrip",
      (s, d) => {
        val agg = AggregateEngine.aggregatePq(s, pq(d, "lineitem"),
          Seq("l_returnflag", "l_linestatus"),
          Seq(Seq("l_extendedprice", "sum", "price_sum"),
            Seq("l_orderkey", "count", "n")))
          .withColumn("price_sum", round(col("price_sum"), 4))
        graft.sources.Transport.deserializeArrowBytes(s,
          graft.sources.Transport.serializeArrowBytes(agg))
      },
      Some("""SELECT l_returnflag, l_linestatus,
              ROUND(SUM(l_extendedprice), 4) AS price_sum,
              COUNT(l_orderkey) AS n
              FROM lineitem GROUP BY l_returnflag, l_linestatus""")),

    // array columns through the IPC edge (reference transport is
    // generic-table; the digest projection after the round-trip keeps
    // the oracle comparison on scalar columns)
    Q("q_transport_embeddings",
      (s, d) => {
        val emb = s.read.parquet(pq(d, "embeddings"))
          .where(col("vec_id") < 20)
          .select(col("vec_id"), col("embedding"))
        val back = graft.sources.Transport.deserializeArrowBytes(s,
          graft.sources.Transport.serializeArrowBytes(emb))
        back.select(col("vec_id"), size(col("embedding")).as("dim"),
          round(element_at(col("embedding"), 1).cast("double"), 4).as("e0"))
      },
      Some("""SELECT vec_id, len(embedding) AS dim,
              ROUND(CAST(embedding[1] AS DOUBLE), 4) AS e0
              FROM embeddings WHERE vec_id < 20""")))
}
