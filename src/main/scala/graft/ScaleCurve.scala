package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Scale-curve harness: measures how the most expensive operator families
 * actually scale with corpus size, instead of arguing it from plan shape.
 *
 * Self-synthesizes 10x/30x corpora from the sf0.1 tables by salt-union
 * (no driver data is touched):
 *   - documents: copy i shifts doc_id by i*10M and interleaves a per-copy
 *     salt token into every whitespace gap, so every 3-shingle differs
 *     across copies — scaled corpora grow the DISTINCT document
 *     population rather than planting N-1 near-duplicates of every doc
 *     (which would make any near-dup family quadratic BY CONSTRUCTION
 *     and measure the synthetic corpus, not the engine);
 *   - embeddings: copy i shifts vec_id and perturbs every component by a
 *     deterministic ±10% factor derived from xxhash64(vec_id, j), keeping
 *     the vectors random-like so LSH/IVF cells stay balanced;
 *   - lineitem: copy i shifts l_orderkey by i*100M, values unchanged.
 *
 * For each family: one warm-up at 1x (absorbs codegen/JIT), then two
 * timed runs per factor ascending, reporting the min. The per-family
 * scaling exponents are e10 = ln(t10/t1)/ln(10) and — less polluted by
 * fixed job overheads — e30/10 = ln(t30/t10)/ln(3). Linear work is
 * exponent 1.0; an exponent well above ~1.3 on the t10→t30 leg is a
 * finding, not noise.
 *
 * Families with a DIFFERENT scaling contract than "linear in corpus":
 *   - admission: the batch is FIXED (1000 docs) while the history scales;
 *     the steady-state design claim is per-batch cost independent of
 *     history size, so its exponent should be ~0 (flat), not 1;
 *   - constellation: corpus is synthesized media, scaled by clip count.
 *
 * Output: one JSON line per family on stdout (and scale_out.json), plus
 * a final markdown table for SCALE.md.
 */
object ScaleCurve {

  /** Deterministic synthetic centroid table (dim 64, matching the
    * driver embeddings) for the assignment-isolation families —
    * content is irrelevant to assignment COST, determinism keeps runs
    * comparable. */
  private def synthCentroids(nlist: Int): Array[Seq[Double]] =
    Array.tabulate(nlist)(c =>
      Seq.tabulate(64)(j => math.sin(c * 64.0 + j)))

  private def run(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** None when the family errored (missing parquet, OOM, …) — an
    * errored run must NOT contribute a bogus fast timing to the
    * published scaling exponents; failed points are omitted from the
    * results and the omission is visible in the JSON (missing factor
    * key) as well as on stderr. */
  private def timeOnce(f: => DataFrame): Option[Double] = {
    val s = System.nanoTime()
    try { run(f); Some((System.nanoTime() - s) / 1e9) }
    catch { case t: Throwable =>
      System.err.println(
        s"[scale] ERROR ${t.getClass.getSimpleName}: ${t.getMessage}")
      None
    }
  }

  /** Salt-union `documents` to `factor` copies with distinct shingles. */
  private def scaleDocuments(spark: SparkSession, baseDir: String,
                             outDir: String, factor: Int): Unit = {
    val base = spark.read.parquet(s"$baseDir/documents.parquet")
      .select(col("doc_id"), col("text"), col("source"))
    val copies = (0 until factor).map { i =>
      if (i == 0) base
      else base.select(
        (col("doc_id") + i * 10000000L).as("doc_id"),
        regexp_replace(col("text"), "\\s+", s" w$i ").as("text"),
        col("source"))
    }
    copies.reduce(_ unionByName _)
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
  }

  private def scaleEmbeddings(spark: SparkSession, baseDir: String,
                              outDir: String, factor: Int): Unit = {
    val base = spark.read.parquet(s"$baseDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val copies = (0 until factor).map { i =>
      if (i == 0) base
      else base.select(
        (col("vec_id") + i * 10000000L).as("vec_id"),
        transform(col("embedding"), (x, j) =>
          x * (lit(1.0) + (pmod(xxhash64(col("vec_id"), j, lit(i)),
            lit(1000L)).cast("double") - 500.0) / 5000.0))
          .cast("array<float>").as("embedding"))
    }
    copies.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
  }

  private def scaleLineitem(spark: SparkSession, baseDir: String,
                            outDir: String, factor: Int): Unit = {
    val base = spark.read.parquet(s"$baseDir/lineitem.parquet")
    val copies = (0 until factor).map { i =>
      if (i == 0) base
      else base.withColumn("l_orderkey",
        col("l_orderkey") + i * 100000000L)
    }
    copies.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")
  }

  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val workDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_scale")
    val budget = sys.env.getOrElse("SPARK_GRAFT_SCALE_BUDGET_SEC", "2400").toDouble
    val factors = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTORS", "1,10,30")
      .split(",").map(_.trim.toInt).toSeq
    val t0 = System.nanoTime()
    val elapsed = () => (System.nanoTime() - t0) / 1e9

    val spark = GraftSession.local("graft-scale",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    import graft.functions.{TextAnalysis, TextSearch}
    import graft.operators.{Dedup, Pack, Profile, Similarity}
    import graft.multimodal.{MediaCorpus, Mp4Shape, Multimodal}

    // ---- corpora (idempotent: skip factors already materialized) ----
    factors.foreach { k =>
      val dir = s"$workDir/x$k"
      val done = new java.io.File(s"$dir/_scaled_ok")
      if (!done.exists()) {
        System.err.println(s"[scale] materializing x$k under $dir")
        scaleDocuments(spark, baseDir, dir, k)
        scaleEmbeddings(spark, baseDir, dir, k)
        scaleLineitem(spark, baseDir, dir, k)
        done.getParentFile.mkdirs(); done.createNewFile()
      }
      // persisted CDC chunk index per factor — the novelty family's
      // steady-state contract is measured against a PREBUILT index
      // (building it is the linear one-time cost, not the per-batch one)
      val idxDone = new java.io.File(s"$dir/_chunk_index_ok")
      if (!idxDone.exists()) {
        graft.operators.Dedup.cdcChunkHashes(
            spark.read.parquet(s"$dir/documents.parquet")
              .select(col("doc_id"), col("text")), "doc_id", "text")
          .write.mode("overwrite").parquet(s"$dir/chunk_index.parquet")
        idxDone.createNewFile()
      }
      // shard fixtures for the ingest families (round 19): 64·k
      // shards of FIXED content size per format, written in parallel
      // by the executors (the driver never touches shard bytes)
      val shardsDone = new java.io.File(s"$dir/_shards_ok")
      if (!shardsDone.exists()) {
        import spark.implicits._
        Seq("zip", "tar", "warc").foreach { fmt =>
          new java.io.File(s"$dir/shards_$fmt").mkdirs()
        }
        spark.range(64L * k)
          .repartition(spark.sparkContext.defaultParallelism).as[Long]
          .foreachPartition { (it: Iterator[Long]) =>
            it.foreach { i =>
              val members = (0 until 40).map(m =>
                (s"doc$m.txt",
                  s"shard $i member $m " + ("token " * 300)))
              def put(rel: String, bytes: Array[Byte]): Unit =
                java.nio.file.Files.write(
                  java.nio.file.Paths.get(s"$dir/$rel"), bytes)
              put(s"shards_zip/s$i.zip",
                graft.sources.Zip.buildShard(members))
              put(s"shards_tar/s$i.tar.gz",
                graft.sources.Tar.buildShard(members, gzipped = true))
              put(s"shards_warc/s$i.warc.gz",
                graft.sources.Warc.buildWarc(members.map { case (n, t) =>
                  (s"http://fixture.test/$i/$n",
                    "text/html; charset=utf-8",
                    s"<html><body><p>$t</p></body></html>"
                      .getBytes("UTF-8"))
                }, gzipped = true))
            }
          }
        shardsDone.createNewFile()
      }
    }
    def docs(k: Int) = spark.read.parquet(s"$workDir/x$k/documents.parquet")
    def embs(k: Int) = spark.read.parquet(s"$workDir/x$k/embeddings.parquet")
    def li(k: Int)   = spark.read.parquet(s"$workDir/x$k/lineitem.parquet")
    val par = spark.sparkContext.defaultParallelism

    // ---- family definitions: name -> (factor => DataFrame) ----------
    val families: Seq[(String, Int => DataFrame)] = Seq(
      // fixed 1000-doc batch vs a history that scales: contract = flat
      "admission_fixed_batch" -> { k =>
        val history = docs(k).select(col("doc_id"), col("text"))
        val batch = history.where(pmod(col("doc_id"), lit(9973L)) < 3)
          .limit(1000)
          .select((col("doc_id") + 500000000L).as("doc_id"), col("text"))
        Dedup.ingestAdmission(batch, history, "doc_id", "text",
          expectedItems = 200000L, numBits = 1L << 21, minJaccard = 0.95)
          .select(col("doc_id"))
      },
      "dedup_minhash" -> { k =>
        Dedup.minhashDuplicates(docs(k).select(col("doc_id"), col("text")),
          "doc_id", "text", minJaccard = 0.5)
      },
      "dedup_simhash" -> { k =>
        Dedup.simhashDuplicates(
          docs(k).select(col("doc_id"), col("text")).repartition(par),
          "doc_id", "text", maxHamming = 8)
      },
      // nlist grows LINEARLY with the corpus — the operator's documented
      // dedup rule (bounded cell size ⇒ bounded within-cell pairs).
      // First measurement used the ANN-recall rule nlist ∝ √N instead
      // and PRODUCED the round's one superlinear exponent (e₁₀→₃₀ =
      // 1.95: cell size grows as √N, pairs as N²/nlist): the measured
      // lesson is that the two rules are not interchangeable — see
      // dedup_semantic_sqrt below, kept as the counterexample.
      "dedup_semantic" -> { k =>
        Dedup.semanticDedup(embs(k).select(col("vec_id"), col("embedding")),
          "vec_id", "embedding",
          nlist = 32 * k, minCosine = 0.999)
      },
      "dedup_semantic_sqrt" -> { k =>
        Dedup.semanticDedup(embs(k).select(col("vec_id"), col("embedding")),
          "vec_id", "embedding",
          nlist = (32 * math.sqrt(k.toDouble)).toInt, minCosine = 0.999)
      },
      // the round-13 scale-safe mode: SAME nlist ∝ N rule as
      // dedup_semantic, but assignment is the two-level coarse-
      // quantized argmax (O(√nlist·dim) per row instead of
      // O(nlist·dim)). At LOCAL corpus sizes both end-to-end modes sit
      // on a common floor (Lloyd shuffle + pair verification + CC
      // dominate; measured r13: 9.25 vs 9.29 s at x30), so the
      // assignment-complexity claim is measured in ISOLATION by the
      // assign_* families below.
      "dedup_semantic_twolevel" -> { k =>
        Dedup.semanticDedup(embs(k).select(col("vec_id"), col("embedding")),
          "vec_id", "embedding",
          nlist = 32 * k, minCosine = 0.999, twoLevel = true)
      },
      // the r13 verdict's unmeasured combination, root-caused (round
      // 14): with nlist ∝ N even two-level assignment is O(N·√nlist)
      // = N^1.5 asymptotically, so the twolevel e2e leg trending to
      // e≈1.0 at x30 is the ALGEBRA, not a defect. The production
      // configuration SemDeDup actually runs at web scale (Abbas et
      // al. §2) is a FIXED cluster table (~50k cells) where two-level
      // makes assignment O(N·√const) = linear, and the within-cell
      // pair growth (N²/nlist when cells outgrow the corpus ratio) is
      // bounded by the maxBucket cap with observe-metric drop
      // accounting. THIS family is that mode, end-to-end: fixed
      // nlist=960 (≈ the x30 corpus's 32·k), twoLevel, maxBucket —
      // contract linear, expect e ≤ 0.9 at these overhead-dominated
      // sizes.
      "dedup_semantic_production" -> { k =>
        Dedup.semanticDedup(embs(k).select(col("vec_id"), col("embedding")),
          "vec_id", "embedding",
          nlist = 960, minCosine = 0.999, twoLevel = true,
          maxBucket = 1000)
      },
      // ---- assignment-stage isolation (round 13) ------------------
      // Deterministic synthetic centroids (cost is content-independent
      // — the flat scan always touches all nlist, the two-level scan
      // coarse + one group), one assignment pass, noop sink. nlist is
      // scaled AGGRESSIVELY (320·k) so the per-row argmax dominates
      // job overhead at x30 and the exponents separate:
      //   flat, nlist ∝ N       → work ∝ N·nlist       → e ≈ 2
      //   two-level, nlist ∝ N  → work ∝ N·√nlist      → e ≈ 1.5
      //   two-level, fixed nlist→ work ∝ N·√(const)    → e ≈ 1
      // The production reading (SCALE.md): SemDeDup's web-scale config
      // is the FIXED ~50k-cluster table, where two-level cuts the
      // per-row constant from 50k to ~450 dot products — the third
      // family is that mode's linearity, measured.
      // repartition(par): x1's embeddings parquet is a single small
      // file → 1 input partition → single-core row work, which would
      // mask per-row cost growth as parallelism growth across factors
      "assign_flat_nlist_linear" -> { k =>
        val cents = synthCentroids(320 * k)
        embs(k).repartition(par).select(
          graft.plans.NativeFunctions.nearestCentroidNative(
            col("embedding").cast("array<double>"),
            cents.toSeq.map(_.toSeq)).as("cell"))
      },
      "assign_twolevel_nlist_linear" -> { k =>
        val cents = synthCentroids(320 * k)
        val (coarse, members) = Similarity.coarseCentroidGroups(cents)
        embs(k).repartition(par).select(
          graft.plans.NativeFunctions.nearestCentroidTwoLevelNative(
            col("embedding").cast("array<double>"),
            coarse.toSeq.map(_.toSeq), members.toSeq.map(_.toSeq),
            cents.toSeq.map(_.toSeq)).as("cell"))
      },
      "assign_twolevel_nlist_fixed" -> { k =>
        val cents = synthCentroids(9600)
        val (coarse, members) = Similarity.coarseCentroidGroups(cents)
        embs(k).repartition(par).select(
          graft.plans.NativeFunctions.nearestCentroidTwoLevelNative(
            col("embedding").cast("array<double>"),
            coarse.toSeq.map(_.toSeq), members.toSeq.map(_.toSeq),
            cents.toSeq.map(_.toSeq)).as("cell"))
      },
      "ann_ivfpq" -> { k =>
        val e = embs(k).select(col("vec_id"), col("embedding"))
        val queries = e.where(col("vec_id") < 100)
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
        Similarity.ivfpqTopK(e, queries, "vec_id", "embedding",
          "query_id", "qv", k = 5,
          nlist = (16 * math.sqrt(k.toDouble)).toInt,
          nprobe = 4, m = 8, ksub = 16, shortlist = 64)
      },
      "bm25_search" -> { k =>
        import spark.implicits._
        val queries = Seq((0L, "hash join"), (1L, "customer order data"),
          (2L, "vector vector scan")).toDF("query_id", "qtext")
        TextSearch.bm25Search(docs(k).select(col("doc_id"), col("text")),
          "doc_id", "text", queries, "query_id", "qtext", k = 5)
      },
      "profile_approx" -> { k =>
        Profile.profileNumeric(li(k),
          Seq("l_quantity", "l_extendedprice", "l_discount"),
          exactDistinct = false)
      },
      "gopher_full" -> { k =>
        val d = docs(k).repartition(par)
          .select(col("doc_id"), col("text"))
        val rules = TextAnalysis.gopherSignals(d, "doc_id", "text",
          minWords = 10).select(col("doc_id"), col("keep"))
        val rep = TextAnalysis.repetitionStats(d, "doc_id", "text")
        rules.join(rep, "doc_id")
          .select(col("doc_id"),
            ((col("keep") === 1) && (col("dup_word_frac") <= 0.5) &&
              (col("top_bigram_frac") <= 0.08)).cast("int").as("keep"))
      },
      "pack_sequences" -> { k =>
        Pack.packSequences(docs(k).select(col("doc_id"), col("n_chars")),
          "doc_id", "n_chars", maxTokens = 2000L)
          .select(col("doc_id"), col("seq_id"), col("seq_offset"))
      },
      // CMS point-frequency (round 13): the sketch build is one
      // linear scan with commutative partial merges (O(sketch) per
      // task at any cardinality); the probe side is fixed (l_partkey's
      // distinct set doesn't grow under the salt-union) — contract
      // linear in rows
      "cms_estimate" -> { k =>
        import graft.operators.Frequency
        val keys = li(k).select(col("l_partkey")).distinct()
        Frequency.cmsEstimates(li(k).select(col("l_partkey")),
          "l_partkey", keys, "l_partkey", eps = 0.001)
      },
      // HITS (round 13): node and edge counts scale with the corpus
      // (orderkey x partkey bipartite slice); per round two key joins
      // + two map-side-combined aggs — contract linear in edges
      "hits" -> { k =>
        graft.operators.Graph.hits(
          li(k).select(col("l_orderkey").as("src"),
            (col("l_partkey") + 1000000000L).as("dst")),
          "src", "dst", iters = 2)
      },
      // H.264 video dedup scaled by clip count (round 13): encode +
      // the built-in I_PCM decode + pHash are per-clip work, the
      // near-dup match is banded — contract linear in clips. This
      // measures the whole real-bitstream path (Annex-B parse, EPB
      // removal, macroblock assembly), not a fixture shortcut.
      "video_h264" -> { k =>
        Multimodal.videoNearDuplicates(
          MediaCorpus.planted(spark, nContents = 100 * k, copies = 3)(
            MediaCorpus.h264), maxHamming = 4)
      },
      // MP4 container path scaled by clip count (round 15): the full
      // real-file pipeline — CAVLC intra encode + ISO-BMFF mux on the
      // fixture side, then ftyp sniff, moov/stbl walk, avcC, NAL
      // reframe and CAVLC intra decode + pHash per clip; near-dup
      // match banded. Contract: linear in clips — demux adds O(bytes)
      // only (compare this family's exponent to video_h264's, the
      // same oracle one container earlier)
      "video_mp4" -> { k =>
        Multimodal.videoNearDuplicates(
          MediaCorpus.planted(spark, nContents = 100 * k, copies = 3)(
            MediaCorpus.mp4(Mp4Shape.Intra)), maxHamming = 4)
      },
      // CABAC + deblocking variant (round 15): the same oracle/shape
      // with arithmetic entropy decoding + the in-loop filter — both
      // are per-clip (per-bin / per-edge) work, so the contract is
      // still linear in clips; compare to video_mp4's exponent
      "video_mp4_cabac" -> { k =>
        Multimodal.videoNearDuplicates(
          MediaCorpus.planted(spark, nContents = 100 * k, copies = 3)(
            MediaCorpus.mp4(Mp4Shape.CabacDeblock)), maxHamming = 4)
      },
      // round-16 variants, same linear-in-clips contract:
      // mixed GOP — each IDR followed by 3 skipped P fillers (the
      // skip is header-level, so cost per clip grows only by the
      // filler NAL walk)…
      "video_mp4_mixed" -> { k =>
        Multimodal.videoNearDuplicates(
          MediaCorpus.planted(spark, nContents = 100 * k, copies = 3)(
            MediaCorpus.mp4(Mp4Shape.Mixed)), maxHamming = 4)
      },
      // …and the High-profile 8x8-transform + scaling-matrix + deblock
      // shape (per-MB work, still linear in clips)
      "video_mp4_8x8" -> { k =>
        Multimodal.videoNearDuplicates(
          MediaCorpus.planted(spark, nContents = 100 * k, copies = 3)(
            MediaCorpus.mp4(Mp4Shape.High8x8)), maxHamming = 4)
      },
      // inter pass: real IPPP streams — motion-compensated P decode
      // (quarter-pel interpolation, MV prediction, partition cycle,
      // inter deblock bS). MC is per-MB work against a single
      // reference frame, so the contract stays linear in clips;
      // compare the exponent to video_mp4's (same oracle, intra-only)
      "video_mp4_pslice" -> { k =>
        Multimodal.videoNearDuplicates(
          MediaCorpus.planted(spark, nContents = 100 * k, copies = 3)(
            MediaCorpus.mp4(Mp4Shape.PSlice8x8)), maxHamming = 4)
      },
      // persisted theta sketch-log build + probe over a scaling
      // corpus: the create is one shuffle of 8-byte keys → per-shard
      // sketches (contract linear in rows; the exchange carries
      // ≤2^lgK·8B partials per shard), the probe reads only the
      // KB-scale log (contract flat). Measured r16: 0.78/0.86/1.02 s
      // at x1/x10/x30 — FIXED job overhead dominates at local corpus
      // sizes (e_overall 0.08), i.e. the family pins "no superlinear
      // leg"; the linear-create claim at 100 TB rests on the key-only
      // shuffle shape, not on these overhead-bound points
      "theta_sketch_log" -> { k =>
        val dir = java.nio.file.Files
          .createTempDirectory("scale-theta-log").toString
        Dedup.contaminationSketchLog(
          docs(k).select(col("text"),
            pmod(col("doc_id"), lit(8L)).cast("string").as("shard")),
          "text", "shard", dir, shingleWords = 5, lgK = 12)
        Dedup.contaminationFromLog(spark, dir,
          benchShards = Seq("0"), lgK = 12)
      },
      // synthesized media corpus, scaled by clip count
      "audio_constellation" -> { k =>
        Multimodal.audioConstellationMatches(
          MediaCorpus.offset(spark, nContents = 20 * k, nCopies = 10 * k,
            base = 1000)(MediaCorpus.delayedWav(noiseLsb = 0)),
          minVotes = 100)
          .select(col("id_a"), col("id_b"))
      },
      // round-17 document/codec families: per-row byte walks (build a
      // fixture payload from each doc row, decode it back) — contract
      // is exact linearity in rows, nothing crosses rows; the
      // measurement pins that no hidden driver-side or quadratic leg
      // hides in the parser plumbing. The explicit repartition is the
      // measurement GEOMETRY, not a tuning: the scaled corpus parquet
      // is tiny (< one 128 MB split even at x30), so the scan gives
      // per-row CPU work ONE partition and the family would time a
      // single core at every factor — first capture of flac_decode
      // measured 39.2 s at x1 single-threaded vs 2.1 s repartitioned,
      // a 19× misread of the same linear computation
      "pdf_extract" -> { k =>
        import spark.implicits._
        val d = docs(k).select(col("doc_id"), col("source"), col("text"))
          .repartition(par)
          .as[(Long, String, String)]
        d.map { case (id, src, txt) =>
          val pdf = graft.sources.Pdf.buildPdf(src, txt, (id % 5).toInt)
          (id, graft.sources.Pdf.extractText(pdf).length)
        }.toDF("doc_id", "n")
      },
      "docx_extract" -> { k =>
        import spark.implicits._
        val d = docs(k).select(col("doc_id"), col("source"), col("text"))
          .repartition(par)
          .as[(Long, String, String)]
        d.map { case (id, src, txt) =>
          val dx = graft.sources.Docx.buildDocx(src, txt,
            splitRuns = id % 2 == 1)
          (id, graft.sources.Docx.extractText(dx).length)
        }.toDF("doc_id", "n")
      },
      // round-18: legacy .doc (CFB walk + piece table) and raw-HTML
      // charset sniff+decode — same per-row contract and geometry
      "doc_extract" -> { k =>
        import spark.implicits._
        val d = docs(k).select(col("doc_id"), col("source"), col("text"))
          .repartition(par)
          .as[(Long, String, String)]
        d.map { case (id, src, txt) =>
          val doc = graft.sources.Doc.buildDoc(src, txt,
            split16 = id % 2 == 1, withPrc = id % 3 == 0)
          (id, graft.sources.Doc.extractText(doc).length)
        }.toDF("doc_id", "n")
      },
      "rtf_extract" -> { k =>
        import spark.implicits._
        val d = docs(k).select(col("doc_id"), col("source"), col("text"))
          .repartition(par)
          .as[(Long, String, String)]
        d.map { case (id, src, txt) =>
          val rtf = graft.sources.Rtf.buildRtf(src,
            txt + " résumé №" + id, hexEscapes = id % 2 == 1)
          (id, graft.sources.Rtf.extractText(rtf).length)
        }.toDF("doc_id", "n")
      },
      // round-19: LaTeX strip chain and wikitext strip chain — same
      // per-row contract and geometry as the other extract families
      "latex_extract" -> { k =>
        import spark.implicits._
        val d = docs(k).select(col("doc_id"), col("source"), col("text"))
          .repartition(par)
          .as[(Long, String, String)]
        d.map { case (id, src, txt) =>
          val tex = graft.sources.Latex.buildLatex(src, txt, id)
          (id, graft.sources.Latex.extractLatexText(tex).length)
        }.toDF("doc_id", "n")
      },
      "wikitext_extract" -> { k =>
        import spark.implicits._
        val d = docs(k).select(col("doc_id"), col("source"), col("text"))
          .repartition(par)
          .as[(Long, String, String)]
        d.map { case (id, src, txt) =>
          val wt = s"== $src ==\n{{infobox|x=$id}} " +
            s"'''${txt.take(40)}''' [[Page $id|$txt]]<ref>r$id</ref>\n"
          val page = graft.sources.Wiki.parsePage(
            graft.sources.Wiki.buildPage(s"D$id", 0, wt))
          (id, graft.sources.Wiki.extractWikitext(page.text).length)
        }.toDF("doc_id", "n")
      },
      "html_charset_decode" -> { k =>
        import spark.implicits._
        val d = docs(k).select(col("doc_id"), col("source"), col("text"))
          .repartition(par)
          .as[(Long, String, String)]
        d.map { case (id, src, txt) =>
          val cs = if (id % 2 == 0) "windows-1252" else "shift_jis"
          val raw = (s"<html><head><meta charset=\"$cs\"></head>" +
            s"<body><h1>$src</h1><p>$txt</p></body></html>").getBytes(cs)
          (id, graft.sources.Html.decodeHtmlBytes(raw).length)
        }.toDF("doc_id", "n")
      },
      // FLAC encode + CRC/MD5-verified decode per clip (audio seconds
      // scale with rows; the per-clip tone PCM is doc_id-keyed)
      "flac_decode" -> { k =>
        import spark.implicits._
        val d = docs(k).select(col("doc_id")).repartition(par).as[Long]
        d.map { id =>
          val pcm = Array.tabulate(16000)(i =>
            (math.sin(i * (0.01 + (id % 37) * 0.002)) * 12000).toInt)
          val flac = graft.multimodal.Flac.encode(
            graft.multimodal.Flac.Pcm(16000, 1, 16, Array(pcm)))
          val back = graft.multimodal.Flac.decodePcm(flac)
          (id, back.nSamples)
        }.toDF("doc_id", "n")
      },
      // round-12 additions measured too:
      "cdc_chunk_pairs" -> { k =>
        Dedup.cdcSharedChunkPairs(
          docs(k).select(col("doc_id"), col("text")), "doc_id", "text")
      },
      // fixed 1000-doc batch valued against the PREBUILT chunk index
      // of the scaled corpus: contract = flat, like admission
      "cdc_novelty_fixed_batch" -> { k =>
        val batch = docs(k).select(col("doc_id"), col("text"))
          .where(pmod(col("doc_id"), lit(9973L)) < 3).limit(1000)
          .select((col("doc_id") + 500000000L).as("doc_id"), col("text"))
        Dedup.cdcNovelty(batch, "doc_id", "text",
          spark.read.parquet(s"$workDir/x$k/chunk_index.parquet"))
      },
      "hybrid_rrf" -> { k =>
        import spark.implicits._
        val queries3 = Seq((0L, "hash join"), (1L, "customer order data"),
          (2L, "vector vector scan")).toDF("query_id", "qtext")
        val e = embs(k).select(col("vec_id"), col("embedding"))
        val corpus = docs(k).select(col("doc_id"), col("text"))
          .join(e, col("doc_id") === col("vec_id"))
          .select(col("doc_id"), col("text"), col("embedding"))
        val q = queries3.join(e, col("query_id") === col("vec_id"))
          .select(col("query_id"), col("qtext"),
            col("embedding").as("qv"))
        TextSearch.hybridSearchRrf(corpus, "doc_id", "text", "embedding",
          q, "query_id", "qtext", "qv", k = 5)
      },
      // the web-scale dense stage: IVF probes ~nprobe/nlist of the
      // corpus per query batch instead of scanning it (nlist ∝ N keeps
      // cells bounded) — compare this family's exponent to hybrid_rrf's
      "hybrid_rrf_ivf" -> { k =>
        import spark.implicits._
        val queries3 = Seq((0L, "hash join"), (1L, "customer order data"),
          (2L, "vector vector scan")).toDF("query_id", "qtext")
        val e = embs(k).select(col("vec_id"), col("embedding"))
        val corpus = docs(k).select(col("doc_id"), col("text"))
          .join(e, col("doc_id") === col("vec_id"))
          .select(col("doc_id"), col("text"), col("embedding"))
        val q = queries3.join(e, col("query_id") === col("vec_id"))
          .select(col("query_id"), col("qtext"),
            col("embedding").as("qv"))
        TextSearch.hybridSearchRrfIvf(corpus, "doc_id", "text",
          "embedding", q, "query_id", "qtext", "qv", k = 5,
          nlist = 16 * k, nprobe = 8)
      },
      // ---- shard-ingest families (round 19): shard COUNT ∝ N at
      // fixed shard size — the layer's scale claim is one task per
      // shard with flat per-shard cost and no whole-listing driver
      // work, so the exponent should read ~1.0 in shard count. The
      // closure narrows files.maxPartitionBytes so the fixture's
      // small shards map one-per-task exactly as real ~1 GB crawl
      // shards do (binaryFile otherwise PACKS small files many-per-
      // task and the measurement would time the packing, not the
      // geometry); resetGeo restores the session value after each
      // measurement.
      "zip_text_ingest" -> { k =>
        spark.conf.set("spark.sql.files.maxPartitionBytes",
          (1 << 20).toString)
        graft.sources.Zip.textShards(spark,
          s"$workDir/x$k/shards_zip/*.zip")
      },
      "tar_text_ingest" -> { k =>
        spark.conf.set("spark.sql.files.maxPartitionBytes",
          (1 << 20).toString)
        graft.sources.Tar.textShards(spark,
          s"$workDir/x$k/shards_tar/*.tar.gz")
      },
      "warc_responses" -> { k =>
        spark.conf.set("spark.sql.files.maxPartitionBytes",
          (1 << 20).toString)
        graft.sources.Warc.responses(spark,
          s"$workDir/x$k/shards_warc/*.warc.gz")
      })

    // ---- weak-scaling geometry variants ------------------------------
    // The default sweep holds spark.sql.shuffle.partitions at the
    // session's 32 while data grows — STRONG scaling on a fixed host,
    // which conflates algorithmic curvature with per-partition-volume
    // saturation (the round-17 x100 root-cause: 32→128 partitions cut
    // minhash wall 29% with zero code change). A real cluster grows
    // partitions with data, so these variants re-run the two most
    // shuffle-heavy families with partitions ∝ N (32·k): constant
    // per-partition shuffle volume. Read the ALGORITHM's exponent off
    // the weak column; the gap between the columns is the host, not
    // the code. (AQE's coalescing still merges post-shuffle splits
    // that come out small, exactly as it would on a cluster.)
    val weakGeoNames = Set("dedup_minhash", "cdc_chunk_pairs")
    val weakFamilies: Seq[(String, Int => DataFrame)] =
      families.filter(f => weakGeoNames.contains(f._1)).map {
        case (name, f) =>
          (name + "_weakgeo", (k: Int) => {
            spark.conf.set("spark.sql.shuffle.partitions",
              (32 * k).toString)
            f(k)
          })
      }
    val allFamilies = families ++ weakFamilies

    // ---- measurement ------------------------------------------------
    val familyFilter = sys.env.get("SPARK_GRAFT_SCALE_FAMILIES")
      .map(_.split(",").map(_.trim).toSet)
    val results = scala.collection.mutable.LinkedHashMap
      .empty[String, Map[Int, Double]]
    // strong-geometry families assume the session's configured
    // shuffle partitions and file-split size; capture those values
    // ONCE and reset to them before every measurement (and after the
    // sweep) so a _weakgeo or shard-ingest closure's override can
    // never leak into the next family — or out of the sweep into the
    // caller's session
    val sessionShufflePartitions =
      spark.conf.get("spark.sql.shuffle.partitions")
    val sessionMaxPartitionBytes =
      spark.conf.get("spark.sql.files.maxPartitionBytes")
    def resetGeo(): Unit = {
      spark.conf.set("spark.sql.shuffle.partitions",
        sessionShufflePartitions)
      spark.conf.set("spark.sql.files.maxPartitionBytes",
        sessionMaxPartitionBytes)
    }
    allFamilies.filter(f => familyFilter.forall(_.contains(f._1)))
      .foreach { case (name, f) =>
      if (elapsed() < budget) {
        resetGeo()
        timeOnce(f(factors.head)) // warm-up: codegen + JIT, discarded
        val times = factors.flatMap { k =>
          if (elapsed() < budget) {
            resetGeo()
            val a = timeOnce(f(k))
            resetGeo()
            val b = if (elapsed() < budget) a.flatMap(_ => timeOnce(f(k)))
                    else a
            // both runs must SUCCEED for the point to count — an
            // errored run would otherwise publish its setup time as a
            // bogus fast measurement
            (a, b) match {
              case (Some(ta), Some(tb)) =>
                val t = math.min(ta, tb)
                System.err.println(
                  f"[scale] $name x$k: $t%.2fs (runs: $ta%.2f, $tb%.2f)")
                Some(k -> t)
              case _ =>
                System.err.println(s"[scale] $name x$k: ERRORED, omitted")
                None
            }
          } else None
        }.toMap
        results(name) = times
      } else System.err.println(s"[scale] budget exhausted before $name")
    }
    resetGeo() // leave the session as configured, not as last measured

    // ---- report -------------------------------------------------------
    def num(x: Double) = String.format(java.util.Locale.ROOT, "%.4f", Double.box(x))
    val lines = results.map { case (name, ts) =>
      val t1 = ts.get(factors.head)
      val entries = factors.flatMap(k => ts.get(k).map(t => s""""x$k":${num(t)}"""))
      val exps = factors.sliding(2).flatMap {
        case Seq(a, b) if ts.contains(a) && ts.contains(b) && ts(a) > 0 =>
          Some(f""""e_x${a}_x$b":${num(math.log(ts(b) / ts(a)) / math.log(b.toDouble / a))}""")
        case _ => None
      }.toSeq
      val eAll = (t1, ts.get(factors.last)) match {
        case (Some(a), Some(b)) if a > 0 && factors.last > factors.head =>
          Seq(s""""e_overall":${num(math.log(b / a) / math.log(factors.last.toDouble / factors.head))}""")
        case _ => Seq.empty
      }
      s"""{"family":"$name",${(entries ++ exps ++ eAll).mkString(",")}}"""
    }
    lines.foreach(println)
    val md = new StringBuilder
    md.append("| family | " + factors.map(k => s"t(x$k) s").mkString(" | ") +
      " | exp(first→last) |\n")
    md.append("|---|" + factors.map(_ => "---|").mkString + "---|\n")
    results.foreach { case (name, ts) =>
      val cells = factors.map(k => ts.get(k).map(t => f"$t%.2f").getOrElse("—"))
      val e = (ts.get(factors.head), ts.get(factors.last)) match {
        case (Some(a), Some(b)) if a > 0 =>
          f"${math.log(b / a) / math.log(factors.last.toDouble / factors.head)}%.2f"
        case _ => "—"
      }
      md.append(s"| $name | " + cells.mkString(" | ") + s" | $e |\n")
    }
    println(md.toString)
    try java.nio.file.Files.write(java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "scale_out.json")),
      (lines.mkString("\n") + "\n\n" + md).getBytes("UTF-8"))
    catch { case t: Throwable =>
      System.err.println(s"[scale] WARN could not write scale file: $t") }
    spark.stop()
  }
}
