package graft

import org.apache.spark.sql.functions._

import SparkEntry._

/** Round-17 extensions: native FLAC decode for the audio family
  * (the format LibriSpeech/MLS-class speech corpora actually ship
  * in), PDF and DOCX text extraction for the document family, and
  * EXIF-orientation-normalized image pHash. Each gate shares an
  * existing family's oracle construction — the codec/container
  * agnosticism contract. */
private[graft] object RegistryRound17 {

  private[graft] val entries: Seq[Q] = Seq(

    // FLAC audio near-dup: q_audio_fp_dedup's construction and
    // oracle VERBATIM, but every payload is a real FLAC stream
    // (STREAMINFO + FIXED/CONSTANT subframes + Rice residuals +
    // per-frame stereo-mode choice) decoded by the built-in
    // CRC+MD5-verified graft.multimodal.Flac decoder instead of an
    // external SPI binding. Identical oracle = the losslessness
    // contract: FLAC decode must reproduce the EXACT samples the WAV
    // corpus carries, so the ZCR fingerprints collide at Hamming 0
    // for planted copies exactly as they do for WAV
    Q("q_audio_fp_dedup_flac",
      (s, d) => {
        import graft.multimodal.Multimodal
        Multimodal.audioNearDuplicates(
          Multimodal.syntheticAudioCorpusFlac(s, nContents = 40,
            copies = 3), maxHamming = 4)
      },
      Some("""SELECT a.i AS id_a, b.i AS id_b, 0 AS hamming
              FROM generate_series(0, 119) a(i)
                JOIN generate_series(0, 119) b(i)
                ON a.i < b.i AND a.i % 40 = b.i % 40""")),

    // FLAC constellation matching: q_audio_constellation's planted
    // time-offset fixture and oracle VERBATIM over FLAC payloads —
    // the offset-voting landmark matcher runs on losslessly decoded
    // samples, so the planted pairs land at the same 290 votes and
    // chance pairs at the same ≤24 as the WAV fixture
    Q("q_audio_constellation_flac",
      (s, d) => {
        import graft.multimodal.Multimodal
        Multimodal.audioConstellationMatches(
          Multimodal.syntheticShiftedAudioCorpusFlac(s, nContents = 20,
            nShifted = 10), minVotes = 100)
          .select(col("id_a"), col("id_b"))
      },
      Some("""SELECT i AS id_a, i + 1000 AS id_b
              FROM generate_series(0, 9) t(i)""")),

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
        val docs = s.read.parquet(pq(d, "documents"))
          .where(col("doc_id") < 150)
          .select(col("doc_id"), col("source"), col("text"))
          .as[(Long, String, String)]
        docs.map { case (id, src, txt) =>
          val pdf = graft.sources.Pdf.buildPdf(src, txt, (id % 5).toInt)
          (id, graft.sources.Pdf.extractText(pdf))
        }.toDF("doc_id", "extracted")
      },
      Some("""SELECT doc_id, source || chr(10) || text AS extracted
              FROM documents WHERE doc_id < 150""")),

    // DOCX text extraction: q_pdf_extract's construction for the
    // other document format — each document rendered into a minimal
    // valid OOXML archive (graft.sources.Docx.buildDocx), split-run
    // bodies (the shape real editors produce) on odd ids, extracted
    // back through ZIP + StAX (DTD off). Same ANALYTIC oracle
    Q("q_docx_extract",
      (s, d) => {
        import s.implicits._
        val docs = s.read.parquet(pq(d, "documents"))
          .where(col("doc_id") < 150)
          .select(col("doc_id"), col("source"), col("text"))
          .as[(Long, String, String)]
        docs.map { case (id, src, txt) =>
          val docx = graft.sources.Docx.buildDocx(src, txt,
            splitRuns = id % 2 == 1)
          (id, graft.sources.Docx.extractText(docx))
        }.toDF("doc_id", "extracted")
      },
      Some("""SELECT doc_id, source || chr(10) || text AS extracted
              FROM documents WHERE doc_id < 150""")),

    // EXIF-orientation-normalized pHash: q_image_phash_dedup's
    // construction and oracle VERBATIM, but copy set 1 is stored
    // rotated 90° CCW under orientation tag 6 and copy set 2 rotated
    // 180° under tag 3 (the phone-photo re-upload shape ImageIO
    // ignores). Lossless PNG + eXIf planting ⇒ normalization
    // recovers pixel-identical images ⇒ planted pairs at Hamming 0;
    // without the normalization the rotated copies hash far away
    // (MultimodalSpec pins that miss)
    Q("q_image_phash_dedup_exif",
      (s, d) => {
        import graft.multimodal.Multimodal
        Multimodal.imageNearDuplicates(
          Multimodal.syntheticImageCorpusExif(s, nContents = 60,
            copies = 3), maxHamming = 4)
      },
      Some("""SELECT a.i AS id_a, b.i AS id_b, 0 AS hamming
              FROM generate_series(0, 179) a(i)
                JOIN generate_series(0, 179) b(i)
                ON a.i < b.i AND a.i % 60 = b.i % 60""")),

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
            z.write("{broken\n{\"doc_id\": \"notanumber\"}\n"
              .getBytes("UTF-8"))
            z.close()
            out.toByteArray
          }
          java.nio.file.Files.write(
            java.nio.file.Paths.get(data.toString, "corrupt-0.jsonl.zst"),
            zbytes)
        }
        val schema = new org.apache.spark.sql.types.StructType()
          .add("doc_id", org.apache.spark.sql.types.LongType)
          .add("text", org.apache.spark.sql.types.StringType)
          .add("lang", org.apache.spark.sql.types.StringType)
          .add("source", org.apache.spark.sql.types.StringType)
          .add("n_chars", org.apache.spark.sql.types.LongType)
        val c = col(graft.sources.Jsonl.CorruptCol)
        graft.sources.Zstd.readJsonlZst(s,
            new java.io.File(root, "data").toString, schema)
          .agg(count(when(c.isNull, lit(1))).as("n_valid"),
            count(c).as("n_corrupt"),
            sum(when(c.isNull, col("n_chars"))).cast("long")
              .as("sum_chars"),
            sum(when(c.isNull, length(col("text")))).cast("long")
              .as("sum_text_len"),
            count_distinct(when(c.isNull, col("lang"))).as("n_langs"))
      },
      Some("""SELECT
              (SELECT COUNT(*) FROM documents) AS n_valid,
              CAST(2 AS BIGINT) AS n_corrupt,
              (SELECT CAST(SUM(n_chars) AS BIGINT) FROM documents)
                AS sum_chars,
              (SELECT CAST(SUM(length(text)) AS BIGINT) FROM documents)
                AS sum_text_len,
              (SELECT COUNT(DISTINCT lang) FROM documents)
                AS n_langs""")),

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
              (SELECT COUNT(*) FROM documents) AS rows_total"""))
  )
}
