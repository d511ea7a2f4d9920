package graft

import org.apache.spark.sql.functions._

import SparkEntry._

/** Round-16 extensions: I-frame-only decoding of mixed I/P/B H.264
  * streams (the real-world GOP shape), High-profile transform_8x8 +
  * quantization scaling matrices, the persisted theta sketch log
  * (contamination answered from prebuilt state), and the bucketed
  * documents ⋈ embeddings layout. Each gate shares an existing
  * oracle verbatim — the agnosticism/persisted-state contracts. */
private[graft] object RegistryRound16 {

  private[graft] val entries: Seq[Q] = Seq(

    // P-slice motion compensation (round 16, inter pass):
    // q_video_fp_dedup_mp4's construction and oracle VERBATIM, but
    // every .mp4 is a REAL IPPP stream — frame 0 IDR, frames 1+
    // motion-compensated CAVLC P pictures with planted FRACTIONAL
    // global MVs (§8.4.2.2 quarter-pel luma / eighth-pel chroma
    // interpolation on every decode), the full Table 7-13/7-17
    // partition cycle (16x16/16x8/8x16/P_8x8/P_8x8ref0 + all
    // sub_mb_types, §8.4.1.3 MV prediction incl. the directional
    // rules), P_Skip, intra refresh MBs (mb_type+5), and the
    // deblocking filter ON so the full §8.7.2.1 inter boundary
    // strengths (0/1/2) run in-loop. Until this pass P slices were
    // parse-and-SKIPPED (I-frame-only); now they RECONSTRUCT, and
    // videoHashes fingerprints a motion-compensated P frame (5-frame
    // clips → the middle frame is P #2). Identical oracle = the
    // GOP-position-agnosticism contract: planted copies are
    // byte-identical files, so fingerprints of DECODED inter frames
    // must match at Hamming 0 — any MC/interpolation/deblock
    // nondeterminism or drift reds the compare.
    Q("q_video_fp_dedup_mp4_pslice",
      (s, d) => {
        import graft.multimodal.Multimodal
        Multimodal.videoNearDuplicates(
          Multimodal.syntheticMp4Corpus(s, nContents = 30, copies = 3,
            deblock = true, pSlices = true), maxHamming = 4)
      },
      Some("""SELECT a.i AS id_a, b.i AS id_b, 0 AS hamming
              FROM generate_series(0, 89) a(i)
                JOIN generate_series(0, 89) b(i)
                ON a.i < b.i AND a.i % 30 = b.i % 30""")),

    // B slices (round 16, inter pass): the pslice gate's construction
    // and oracle VERBATIM over the classic broadcast GOP — I B B P
    // B B P: non-reference B pictures between P anchors, decoded with
    // two POC-ordered reference lists (§8.2.4.2.3), default
    // biprediction (§8.4.2.3.1), spatial direct + B_Skip
    // (§8.4.1.2.2 with direct_8x8_inference and the co-located
    // colZeroFlag), intra refresh inside B slices (mb_type+23), and
    // ref_idx on BOTH lists (refsEachWay 2). Decode order ≠ display
    // order, so the §8.2.1 POC reconstruction and display-order
    // re-emission are load-bearing: the fingerprint frame IS a B
    // picture. The B machinery is cross-checked against the P path
    // (H264BSliceSpec: B-coded-as-L0 == P, pixel-identical) — an
    // external anchor, not a self-consistent round-trip.
    Q("q_video_fp_dedup_mp4_bslice",
      (s, d) => {
        import graft.multimodal.Multimodal
        Multimodal.videoNearDuplicates(
          Multimodal.syntheticMp4Corpus(s, nContents = 30, copies = 3,
            deblock = true, bSlices = true), maxHamming = 4)
      },
      Some("""SELECT a.i AS id_a, b.i AS id_b, 0 AS hamming
              FROM generate_series(0, 89) a(i)
                JOIN generate_series(0, 89) b(i)
                ON a.i < b.i AND a.i % 30 = b.i % 30""")),

    // Temporal direct + explicit weighted biprediction (round 16,
    // inter pass): the bslice gate's construction and oracle VERBATIM
    // with direct_spatial_mv_pred_flag = 0 — every direct/skip MB
    // derives its motion from the CO-LOCATED picture's vectors scaled
    // by POC distances (§8.4.1.2.3: tx = (16384+|td/2|)/td, DSF,
    // mvL1 = mvL0 − mvCol; hand-derived vectors in H264BSliceSpec) —
    // and weighted_bipred_idc = 1: every two-list prediction runs the
    // §8.4.2.3.2 explicit bi formula with per-list tables, single-list
    // B predictions the per-list §8.4.2.3.2 form. Both were named
    // errors at the slice header until this pass.
    Q("q_video_fp_dedup_mp4_bslice_tw",
      (s, d) => {
        import graft.multimodal.Multimodal
        Multimodal.videoNearDuplicates(
          Multimodal.syntheticMp4Corpus(s, nContents = 30, copies = 3,
            deblock = true, bSlices = true, bTemporalWeighted = true),
          maxHamming = 4)
      },
      Some("""SELECT a.i AS id_a, b.i AS id_b, 0 AS hamming
              FROM generate_series(0, 89) a(i)
                JOIN generate_series(0, 89) b(i)
                ON a.i < b.i AND a.i % 30 = b.i % 30""")),

    // Explicit weighted prediction (round 16, inter pass): the pslice
    // gate's construction and oracle VERBATIM with a §7.3.3.2
    // pred_weight_table in force — every P MB's motion-compensated
    // prediction (incl. P_Skip) runs the §8.4.2.3.2 weighting
    // (per-refIdx luma/chroma weights+offsets, distinct denominators)
    // before the residual adds. The fade shape real encoders code
    // with WP. Until this pass a weighted-pred PPS skipped the
    // picture (I-frame-only degrade). Identical oracle = the
    // weighting-agnosticism contract: byte-identical planted copies
    // must fingerprint at Hamming 0 through the weighted MC path.
    Q("q_video_fp_dedup_mp4_wpred",
      (s, d) => {
        import graft.multimodal.Multimodal
        Multimodal.videoNearDuplicates(
          Multimodal.syntheticMp4Corpus(s, nContents = 30, copies = 3,
            deblock = true, pSlices = true, weighted = true),
          maxHamming = 4)
      },
      Some("""SELECT a.i AS id_a, b.i AS id_b, 0 AS hamming
              FROM generate_series(0, 89) a(i)
                JOIN generate_series(0, 89) b(i)
                ON a.i < b.i AND a.i % 30 = b.i % 30""")),

    // High-profile INTER residual (round 16, inter pass): the pslice
    // gate's construction and oracle VERBATIM, with the remaining
    // High-profile inter shape composed on top — PPS
    // transform_8x8_mode (P MBs mix 8x8 and 4x4 luma residuals; the
    // §7.4.5.3.3 interleave parse, §8.5.13 dequant on INTER 8x8 list
    // 1, §8.5.12.3 inverse butterfly), SPS default scaling matrices
    // (inter 4x4 lists 3-5 weight every P residual), and deblocking
    // with the t8-aware edge grid + 8x8-granularity bS=2 test.
    // Until this pass inter transform_8x8 was a named error at the
    // flag. Identical oracle = the transform-size/quant-matrix
    // agnosticism contract extended to INTER pictures.
    Q("q_video_fp_dedup_mp4_pslice_8x8",
      (s, d) => {
        import graft.multimodal.Multimodal
        Multimodal.videoNearDuplicates(
          Multimodal.syntheticMp4Corpus(s, nContents = 30, copies = 3,
            deblock = true, pSlices = true, transform8x8 = true,
            scalingMatrix = true), maxHamming = 4)
      },
      Some("""SELECT a.i AS id_a, b.i AS id_b, 0 AS hamming
              FROM generate_series(0, 89) a(i)
                JOIN generate_series(0, 89) b(i)
                ON a.i < b.i AND a.i % 30 = b.i % 30""")),

    // Mixed I/P/B MP4 (round 16): q_video_fp_dedup_mp4's construction
    // and oracle VERBATIM, but every .mp4 now has the real-world GOP
    // shape — each IDR picture is followed by 3 inter (P) filler
    // pictures (H264.insertInterFiller emits conformant all-P_Skip
    // slices under a second CAVLC PPS; the base stream stays CABAC, so
    // this also exercises per-picture PPS switching). Until this round
    // the FIRST P slice threw ("non-I slice_type unsupported") and the
    // whole file degraded to a skip; now inter slices are skipped at
    // the slice header and the IDR pictures — the ones that carry the
    // fingerprint signal — decode display-exact. Identical oracle =
    // the GOP-structure-agnosticism contract, completing the
    // container (MJPEG/MP4/fMP4) × entropy (I_PCM/CAVLC/CABAC) ×
    // filter (deblock on/off) × GOP (all-IDR/mixed) matrix.
    Q("q_video_fp_dedup_mp4_mixed",
      (s, d) => {
        import graft.multimodal.Multimodal
        Multimodal.videoNearDuplicates(
          Multimodal.syntheticMp4Corpus(s, nContents = 30, copies = 3,
            cabac = true, pFiller = 3), maxHamming = 4)
      },
      Some("""SELECT a.i AS id_a, b.i AS id_b, 0 AS hamming
              FROM generate_series(0, 89) a(i)
                JOIN generate_series(0, 89) b(i)
                ON a.i < b.i AND a.i % 30 = b.i % 30""")),

    // High-profile transform_8x8 + scaling matrices (round 16):
    // q_video_fp_dedup_mp4's construction and oracle VERBATIM, but
    // the H.264 inside every .mp4 is the remaining High-profile
    // INTRA shape — profile_idc 100 SPS with seq scaling matrices
    // (the DEFAULT intra/inter lists via the §7.3.2.1.1.1 jump-to-
    // zero form + Table 7-2 rule-A fallbacks), a PPS with
    // transform_8x8_mode_flag, and a deterministic Intra_8x8/4x4 mix
    // inside the I_NxN population (§8.3.2 filtered-reference
    // prediction, §8.5.13 8x8 dequant with weight matrices, the
    // CAVLC interleave split, and the 8x8-aware §8.7 deblock grid;
    // deblock ON here so the grid change is load-bearing). r15
    // named-errored at the PPS for both features. Identical oracle =
    // the transform-size/quant-matrix-agnosticism contract: the
    // fingerprints cannot move under either.
    Q("q_video_fp_dedup_mp4_8x8",
      (s, d) => {
        import graft.multimodal.Multimodal
        Multimodal.videoNearDuplicates(
          Multimodal.syntheticMp4Corpus(s, nContents = 30, copies = 3,
            deblock = true, transform8x8 = true, scalingMatrix = true),
          maxHamming = 4)
      },
      Some("""SELECT a.i AS id_a, b.i AS id_b, 0 AS hamming
              FROM generate_series(0, 89) a(i)
                JOIN generate_series(0, 89) b(i)
                ON a.i < b.i AND a.i % 30 = b.i % 30""")),

    // Persisted theta sketch log (round 16): q_contamination_theta's
    // verdict answered from PREBUILT state — the production shape.
    // Dedup.contaminationSketchLog reduces each `source` shard of the
    // documents corpus ONCE to one sketch row under its own
    // partition; the probe (Dedup.contaminationFromLog) is two sketch
    // unions over the KB-scale log + one set op — no shingle re-scan,
    // no join, the q_cdc_novelty_state pattern for sketches
    // (OverlapMonitor writes the same layout for streams). The union
    // across shards is the MERGEABILITY contract under partitioning:
    // exact-mode estimates from unioned per-shard sketches must equal
    // the in-plan exact counts (any dropped/double-counted shard reds
    // it), and the lgK=9 log replays 3σ bound containment. Identical
    // oracle to q_contamination_theta = persisted state is
    // semantics-preserving.
    Q("q_contamination_theta_state",
      (s, d) => {
        import graft.operators.Dedup
        val root = Fixture(
          new java.io.File(d, "documents.parquet"),
          "graft_theta_log",
          codeKey = "theta-log:w5;shard=source;lgk20+9") { tmp =>
          val docs = s.read.parquet(pq(d, "documents"))
            .repartition(s.sparkContext.defaultParallelism)
          Dedup.contaminationSketchLog(docs, "text", "source",
            s"$tmp/lgk20", shingleWords = 5, lgK = 20)
          Dedup.contaminationSketchLog(docs, "text", "source",
            s"$tmp/lgk9", shingleWords = 5, lgK = 9)
        }
        val docs = s.read.parquet(pq(d, "documents"))
        val exactCounts = RegistryRound15.contaminationExactCounts(
          docs.where(col("source") =!= "src0"),
          docs.where(col("source") === "src0"))
        val fromLog = Dedup.contaminationFromLog(s, s"$root/lgk20",
          benchShards = Seq("src0"), lgK = 20)
        val est = Dedup.contaminationFromLog(s, s"$root/lgk9",
          benchShards = Seq("src0"), lgK = 9)
          .select(col("overlap_lower").as("el"),
            col("overlap_upper").as("eu"))
        exactCounts.crossJoin(broadcast(fromLog))
          .crossJoin(broadcast(est))
          .select(col("n_corpus"), col("n_bench"), col("n_overlap"),
            (col("corpus_est") === col("n_corpus").cast("double"))
              .as("exact_corpus_ok"),
            (col("bench_est") === col("n_bench").cast("double"))
              .as("exact_bench_ok"),
            (col("overlap_est") === col("n_overlap").cast("double"))
              .as("exact_overlap_ok"),
            (col("rate_est") === round(col("n_overlap").cast("double") /
              col("n_corpus"), 6)).as("exact_rate_ok"),
            (col("el") <= col("n_overlap") &&
              col("eu") >= col("n_overlap")).as("est_overlap_bounded"))
      },
      Some(RegistryRound15.contaminationThetaOracle)),

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
              GROUP BY 1""")))
}
