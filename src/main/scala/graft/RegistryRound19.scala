package graft

import org.apache.spark.sql.functions._

import SparkEntry._

/** Round-19 extensions: MediaWiki dump ingestion + wikitext
  * extraction (the highest-hit-rate pretraining corpus format), zstd
  * auto-sniff for the binary shard families (`.tar.zst` /
  * `.warc.zst` — RedPajama-class hand-offs), and office spreadsheet/
  * slide text extraction. Each gate shares an existing family's
  * analytic oracle construction. */
private[graft] object RegistryRound19 {

  private[graft] val entries: Seq[Q] = Seq(

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
        val docs = s.read.parquet(pq(d, "documents"))
          .where(col("doc_id") < 150)
          .select(col("doc_id"), col("source"), col("text"))
          .as[(Long, String, String)]
        docs.map { case (id, src, txt) =>
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

    // .tar.zst shard ingestion: the q_tar_text_ingest construction
    // with the whole-stream zstd wrap in place of gzip — same
    // members, same walk, same ORACLE LITERAL (shared verbatim, so
    // the two gates can never silently drift apart); what changes is
    // only the magic-sniffed decompressor (Zstd.sniffWrap, pure-Java
    // airlift stream already on the classpath)
    Q("q_tar_text_ingest_zst",
      (s, d) => {
        import s.implicits._
        val docs = s.read.parquet(pq(d, "documents"))
          .where(col("doc_id") < 150)
          .select(col("doc_id"), col("source"), col("text"))
          .as[(Long, String, String)]
        docs.map { case (id, src, txt) =>
          val shard = graft.sources.Zstd.compress(
            graft.sources.Tar.buildShard(Seq(
              ("title.txt", src), ("body.txt", txt))))
          val (members, skipped) = graft.sources.Tar.textMembers(shard)
          (id, members.length.toLong, skipped.toLong,
            members.map(_._2).mkString("\n"))
        }.toDF("doc_id", "n_members", "n_skipped", "joined")
      },
      Some(RegistryRound18.tarIngestOracle)),

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
        val docs = s.read.parquet(pq(d, "documents"))
          .where(col("doc_id") < 150)
          .select(col("doc_id"), col("source"), col("text"))
          .as[(Long, String, String)]
        docs.map { case (id, src, txt) =>
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
        val docs = s.read.parquet(pq(d, "documents"))
          .where(col("doc_id") < 150)
          .select(col("doc_id"), col("source"), col("text"))
          .as[(Long, String, String)]
        docs.map { case (id, src, txt) =>
          (id, graft.sources.Odt.extractText(
            graft.sources.Odt.buildOdt(src, Seq(txt))))
        }.toDF("doc_id", "extracted")
      },
      Some("""SELECT doc_id, source || chr(10) || text || chr(10) ||
                'base end' || chr(10) || 'col1' || chr(9) || 'col2'
                AS extracted
              FROM documents WHERE doc_id < 150""")),

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
        val docs = s.read.parquet(pq(d, "documents"))
          .where(col("doc_id") < 150)
          .select(col("doc_id"), col("source"), col("text"))
          .as[(Long, String, String)]
        val metas = docs.map { case (id, src, txt) =>
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

    // PPTX extraction: each document becomes a two-slide deck
    // (graft.sources.Pptx.buildPptx — slide parts stored in the ZIP
    // reversed, so only sldIdLst order yields the right deck;
    // slide 2 carries two paragraphs). ANALYTIC oracle: title slide,
    // body paragraphs, and deck order recomputed from the source
    // columns
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
        val docs = s.read.parquet(pq(d, "documents"))
          .where(col("doc_id") < 150)
          .select(col("doc_id"), col("source"), col("text"))
          .as[(Long, String, String)]
        docs.map { case (id, src, txt) =>
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

    Q("q_pptx_extract",
      (s, d) => {
        import s.implicits._
        val docs = s.read.parquet(pq(d, "documents"))
          .where(col("doc_id") < 150)
          .select(col("doc_id"), col("source"), col("text"))
          .as[(Long, String, String)]
        docs.map { case (id, src, txt) =>
          val deck = graft.sources.Pptx.buildPptx(Seq(
            Seq(src), Seq(txt, s"deck $id")))
          (id, graft.sources.Pptx.extractText(deck))
        }.toDF("doc_id", "extracted")
      },
      Some("""SELECT doc_id, source || chr(10) || text || chr(10) ||
                'deck ' || doc_id AS extracted
              FROM documents WHERE doc_id < 150""")),

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
        val docs = s.read.parquet(pq(d, "documents"))
          .where(col("doc_id") < 150)
          .select(col("doc_id"), col("source"), col("text"))
          .as[(Long, String, String)]
        val nbs = docs.map { case (id, src, txt) =>
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
        val docs = s.read.parquet(pq(d, "documents"))
          .where(col("doc_id") < 150)
          .select(col("doc_id"), col("source"), col("text"))
          .as[(Long, String, String)]
        val posts = docs.flatMap { case (id, src, txt) =>
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
        val docs = s.read.parquet(pq(d, "documents"))
          .where(col("doc_id") < 150)
          .select(col("doc_id"), col("source"), col("text"))
          .as[(Long, String, String)]
        val recs = docs.flatMap { case (id, src, txt) =>
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
          val docs0 = s.read.parquet(pq(d, "documents"))
            .where(col("doc_id") < 150)
            .select(col("doc_id"), col("source"), col("text"))
            .as[(Long, String, String)]
          docs0.repartition(1).mapPartitions { it =>
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
        val docs = s.read.parquet(pq(d, "documents"))
          .where(col("doc_id") < 150)
          .select(col("doc_id"), col("source"), col("text"))
          .as[(Long, String, String)]
        docs.map { case (id, src, txt) =>
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

    // ODP extraction: each document becomes a two-slide ODF
    // presentation (graft.sources.Odp.buildOdp — slide 1 carries
    // speaker notes AND a reviewer annotation that must DROP, slide
    // order is document order). ANALYTIC oracle: title slide and
    // body paragraphs recomputed from the source columns
    Q("q_odp_extract",
      (s, d) => {
        import s.implicits._
        val docs = s.read.parquet(pq(d, "documents"))
          .where(col("doc_id") < 150)
          .select(col("doc_id"), col("source"), col("text"))
          .as[(Long, String, String)]
        docs.map { case (id, src, txt) =>
          val odp = graft.sources.Odp.buildOdp(Seq(
            Seq(src), Seq(txt, s"deck $id")))
          (id, graft.sources.Odp.extractText(odp))
        }.toDF("doc_id", "extracted")
      },
      Some("""SELECT doc_id, source || chr(10) || text || chr(10) ||
                'deck ' || doc_id AS extracted
              FROM documents WHERE doc_id < 150"""))
  )
}
