package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import SparkEntry._

/** Round-14 extensions: mergeable KLL quantile sketch log, MP4
  * (ISO-BMFF) video demux, CAVLC I-slice H.264 decode, data-driven
  * quality profiles, streaming chunk-index ingestion. */
private[graft] object RegistryRound14 {

  private[graft] val entries: Seq[Q] = Seq(

    // Mergeable KLL quantile sketch log (round 14): the quantile
    // member of the persisted-sketch family (MG = frequent items,
    // CMS = point counts, HLL = cardinality) — Spark ships NO
    // persistable quantile state (percentile_approx cannot be stored
    // or unioned), so graft_kll_agg/graft_kll_union wrap
    // org.apache.datasketches.kll (already on the Spark classpath).
    // Incremental shape: one ~3 KB sketch row per (source, day,
    // shard); any later union answers any percentile over any subset
    // without re-reading data. Gate (bounded-error, the r12 sketch
    // pattern + the CMS probability-budget lesson): KLL's rank error
    // at k=200 is ~1.65% per probe at 99% confidence and estimates
    // are RANDOMIZED (compaction offsets), so rank errors are gated
    // at 2x the advertised bound (0.033 — measured worst 0.50% at
    // sf0.01 and 0.43% at sf0.1, so the margin is wide) while the two things KLL
    // tracks EXACTLY through merges are pinned deterministically:
    // per-group sketch N == exact group count, and union N == total
    // row count (a dropped or double-merged group reds this). The
    // rank check replays each estimate against the DATA: the exact
    // inclusive rank of q-hat within its group must sit within the
    // bound of the target rank — that is the KLL contract itself,
    // not a self-comparison.
    Q("q_kll_log",
      (s, d) => {
        import graft.operators.Frequency
        val ranks = Seq(0.25, 0.5, 0.75, 0.95)
        val li = s.read.parquet(pq(d, "lineitem"))
          .select(col("l_returnflag"),
            col("l_extendedprice").cast("double").as("v"))
        val sk = Frequency.kllSketches(li, "v", "l_returnflag")
        val probes = sk.select(col("l_returnflag"),
          Frequency.kllQuantiles(col("kll"), ranks :+ -1.0).as("qs"))
        // per-group deterministic N pin + estimate rows to replay
        val grpN = probes.select(col("l_returnflag"),
            element_at(col("qs"), ranks.size + 1).as("sketch_n"))
          .join(li.groupBy(col("l_returnflag"))
            .agg(count(lit(1)).as("exact_n")), "l_returnflag")
        val est = probes.select(col("l_returnflag"),
            posexplode(slice(col("qs"), 1, ranks.size))
              .as(Seq("ri", "qhat")))
          .withColumn("target",
            element_at(typedlit(ranks), col("ri") + 1))
        // exact inclusive rank of each estimate within its group —
        // est is groups x ranks rows (12), broadcast by construction
        val rankErr = li.join(broadcast(est), Seq("l_returnflag"))
          .groupBy(col("l_returnflag"), col("target"), col("qhat"))
          .agg((sum(when(col("v") <= col("qhat"), 1L).otherwise(0L))
            .cast("double") / count(lit(1))).as("r_exact"))
          .agg(max(abs(col("r_exact") - col("target"))).as("max_err"))
        // union: merge the per-group sketches, replay vs global data
        val uSketch = Frequency.kllUnionSketch(sk)
        val u = uSketch
          .select(Frequency.kllQuantiles(col("kll"), ranks :+ -1.0)
            .as("qs"))
        val uniEst = u.select(posexplode(slice(col("qs"), 1,
            ranks.size)).as(Seq("ri", "qhat")))
          .withColumn("target",
            element_at(typedlit(ranks), col("ri") + 1))
        val uniErr = li.crossJoin(broadcast(uniEst))
          .groupBy(col("target"), col("qhat"))
          .agg((sum(when(col("v") <= col("qhat"), 1L).otherwise(0L))
            .cast("double") / count(lit(1))).as("r_exact"))
          .agg(max(abs(col("r_exact") - col("target"))).as("u_max_err"))
        val uniN = u.select(
          element_at(col("qs"), ranks.size + 1).as("union_n"))
        // the INVERSE probe (CDF direction): rank estimates for three
        // fixed values spanning the price range, replayed against the
        // exact in-plan inclusive ranks — same ε contract, other axis
        val probeVals = Seq(10000.0, 30000.0, 60000.0)
        val cdfEst = uSketch.select(posexplode(
            Frequency.kllRanks(col("kll"), probeVals))
          .as(Seq("pi", "r_est")))
          .withColumn("pv", element_at(typedlit(probeVals), col("pi") + 1))
        val cdfErr = li.crossJoin(broadcast(cdfEst))
          .groupBy(col("pv"), col("r_est"))
          .agg((sum(when(col("v") <= col("pv"), 1L).otherwise(0L))
            .cast("double") / count(lit(1))).as("r_exact"))
          .agg(max(abs(col("r_exact") - col("r_est"))).as("cdf_max_err"))
        grpN.agg(count(lit(1)).as("n_groups"),
            (sum(when(col("sketch_n") === col("exact_n"), 0L)
              .otherwise(1L)) === 0L).as("groups_n_exact"))
          .crossJoin(rankErr).crossJoin(uniErr).crossJoin(uniN)
          .crossJoin(cdfErr)
          .crossJoin(li.agg(count(lit(1)).as("__tot")))
          .select(col("n_groups"), col("groups_n_exact"),
            (col("max_err") <= 0.033).as("groups_rank_ok"),
            (col("union_n") === col("__tot")).as("union_n_exact"),
            (col("u_max_err") <= 0.033).as("union_rank_ok"),
            (col("cdf_max_err") <= 0.033).as("cdf_probe_ok"))
      },
      Some("""SELECT (SELECT COUNT(DISTINCT l_returnflag) FROM lineitem)
                AS n_groups,
              CAST(1 AS BOOLEAN) AS groups_n_exact,
              CAST(1 AS BOOLEAN) AS groups_rank_ok,
              CAST(1 AS BOOLEAN) AS union_n_exact,
              CAST(1 AS BOOLEAN) AS union_rank_ok,
              CAST(1 AS BOOLEAN) AS cdf_probe_ok""")),

    // MP4 video dedup (round 14): the SAME planted-duplicate
    // construction and oracle as q_video_fp_dedup /
    // q_video_fp_dedup_h264, but every payload is a REAL .mp4 file —
    // ISO-BMFF container (ftyp/moov/stbl sample tables, avcC
    // parameter sets, length-prefixed NALs; multimodal.Mp4) wrapping
    // CAVLC-COMPRESSED intra H.264 (Intra_4x4 + Intra_16x16
    // macroblocks, adaptive-suffix level coding; multimodal.H264Mb) —
    // i.e. the shape actual video files arrive in, decoded end-to-end
    // by the built-in path with zero external dependencies.
    // FrameDecoder.Auto sniffs ftyp → demux → intra decode; identical
    // oracle = the codec-AND-container-agnosticism contract. (Round
    // 15 closed CABAC and deblocking — q_video_fp_dedup_mp4_cabac /
    // _deblock; P/B slices remain the documented SPI boundary.)
    Q("q_video_fp_dedup_mp4",
      (s, d) => {
        import graft.multimodal.Multimodal
        Multimodal.videoNearDuplicates(
          Multimodal.syntheticMp4Corpus(s, nContents = 30, copies = 3),
          maxHamming = 4)
      },
      Some("""SELECT a.i AS id_a, b.i AS id_b, 0 AS hamming
              FROM generate_series(0, 89) a(i)
                JOIN generate_series(0, 89) b(i)
                ON a.i < b.i AND a.i % 30 = b.i % 30""")),

    // Data-driven stopword profiles (round 14): the SAME documents
    // and the SAME oracle as q_text_quality, but the stopword tables
    // behind qualityScore's stop-mass term AND the langId vote are
    // LOADED from a parquet fixture (writeStopwordProfiles →
    // loadStopwordProfiles round-trip of the compiled-in 5) and ride
    // as plan literals. Identical oracle = the data-driven path is
    // semantics-preserving; a 6th language (or a retuned word list)
    // is then a table swap, not a recompile — TextAnalysisSpec proves
    // the swap case. Closes the langid-table pattern
    // (q_langid_table) over the remaining compiled-in profiles.
    Q("q_text_quality_table",
      (s, d) => {
        import graft.functions.TextAnalysis
        val root = Fixture(
          new java.io.File(d, "documents.parquet"),
          "graft_stopword_profiles",
          codeKey = TextAnalysis.stopwords.toSeq
            .sortBy(_._1).toString.hashCode.toString) { tmp =>
          TextAnalysis.writeStopwordProfiles(s, TextAnalysis.stopwords,
            new java.io.File(tmp, "profiles").toString)
        }
        val table = TextAnalysis.loadStopwordProfiles(s,
          new java.io.File(root, "profiles").toString)
        s.read.parquet(pq(d, "documents"))
          .repartition(s.sparkContext.defaultParallelism)
          .select(col("doc_id"),
            TextAnalysis.qualityScore(col("text"), table).as("quality"),
            TextAnalysis.langId(col("text"), table).as("lang_pred"))
      },
      Some(RegistryPipelines.textQualityOracleSql)),

    // Data-driven Gopher function words (round 14): the SAME
    // adversarial injected corpus and full-rule-replay oracle as
    // q_gopher_signals, but the >=2-of-8 function-word list is LOADED
    // from a parquet fixture and rides the fused native expression as
    // a codegen reference object (GopherSignalsExpr's optional stop
    // set — the LangIdNgramExpr table pattern). Identical oracle =
    // semantics-preserving; retuning the list for another language's
    // corpus is a table swap, not a recompile (TextAnalysisSpec
    // proves the swap changes stop_hits without touching this code).
    // With q_langid_table and q_text_quality_table this closes the
    // last compiled-in word table.
    Q("q_gopher_signals_table",
      (s, d) => {
        import graft.functions.TextAnalysis
        val root = Fixture(
          new java.io.File(d, "documents.parquet"),
          "graft_gopher_words",
          codeKey = TextAnalysis.gopherStopwords.toString
            .hashCode.toString) { tmp =>
          TextAnalysis.writeStopwordProfiles(s,
            Map("gopher" -> TextAnalysis.gopherStopwords),
            new java.io.File(tmp, "words").toString)
        }
        val words = TextAnalysis.loadStopwordProfiles(s,
          new java.io.File(root, "words").toString)("gopher")
        TextAnalysis.gopherSignals(
          RegistryRound11.gopherInjectedDocs(s, d),
          "doc_id", "text", minWords = 5, functionWords = words)
      },
      Some(RegistryRound11.gopherSignalsOracleSql)),

    // frame-sequence offset voting over MP4 (round 14):
    // q_video_sequence's construction and oracle, through the REAL
    // container path — MP4 files don't byte-concatenate, so the
    // shifted copy prepends its 3 intro FRAMES before the CAVLC
    // encode + mux (how a real re-edit arrives). Intra-only frames
    // reconstruct as pure functions of their own pixels, so the
    // shifted copy's body frames decode bit-identically to the
    // source's and the same matcher finds the shift. Identical
    // oracle = container agnosticism for the sequence family too.
    Q("q_video_sequence_mp4",
      (s, d) => {
        import graft.multimodal.Multimodal
        Multimodal.videoSequenceMatches(
          Multimodal.syntheticShiftedMp4Corpus(s, nContents = 12,
            nShifted = 6), minVotes = 5)
          .select(col("id_a"), col("id_b"))
      },
      Some("""SELECT i AS id_a, i + 1000 AS id_b
              FROM generate_series(0, 5) t(i)""")))
}
