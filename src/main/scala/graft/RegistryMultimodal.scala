package graft

import org.apache.spark.sql.functions._

import graft.multimodal.Mp4Shape
import graft.multimodal.MediaCorpus._

import SparkEntry._

/** Multimodal: image, audio and video decode (all real codecs), and
  * the planted-duplicate fingerprint and sequence gates over them —
  * one oracle per construction, shared across containers and codecs. */
private[graft] object RegistryMultimodal {

  /** Oracle of a planted near-duplicate corpus: `copies` stored copies
    * of `nContents` items, ids 0 until nContents * copies with id i a
    * copy of item i % nContents — every same-item pair at Hamming 0,
    * whatever container or codec carried the copies. */
  private def plantedCopiesOracle(nContents: Int, copies: Int): String = {
    val last = nContents * copies - 1
    s"""SELECT a.i AS id_a, b.i AS id_b, 0 AS hamming
      FROM generate_series(0, $last) a(i)
        JOIN generate_series(0, $last) b(i)
        ON a.i < b.i AND a.i % $nContents = b.i % $nContents"""
  }

  /** Oracle of a planted time-shifted corpus: item i matches exactly its
    * shifted copy i + 1000, for the first `nShifted` items. */
  private def shiftedCopiesOracle(nShifted: Int): String =
    s"""SELECT i AS id_a, i + 1000 AS id_b
      FROM generate_series(0, ${nShifted - 1}) t(i)"""

  val entries: Seq[Q] = Seq(
    // ---- features and images ---------------------------------------
    // multimodal plumbing (image/audio/video decode all REAL — JDK
    // ImageIO / javax.sound / MJPEG frame-split; see Multimodal
    // scaladoc). The decoded shape facts per media_id ARE
    // SQL-expressible: synthetic payload dims/rates are deterministic
    // functions of the id, and the Spark side reports what the codecs
    // DECODED, so the oracle verifies a real decode round-trip for all
    // three modalities
    Q("q_multimodal_features",
      (s, d) => {
        import graft.multimodal.Multimodal
        val feats = Multimodal.featurize(planted(s, 300, 1)(mixed))
        feats.toDF()
          .select(col("media_id"), col("kind"), col("width"), col("height"))
      },
      Some("""SELECT i AS media_id,
              CASE i % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                ELSE 'video' END AS kind,
              CASE WHEN i % 3 = 1 THEN 16000
                ELSE CAST(64 + (i % 4) * 32 AS INTEGER) END AS width,
              CASE WHEN i % 3 = 1 THEN 1600
                ELSE CAST(64 + (i % 3) * 32 AS INTEGER) END AS height
              FROM generate_series(0, 299) t(i)""")),

    // perceptual image dedup: DCT pHash per image (real decode) + the
    // SAME Manku blocking as text SimHash. The fixture plants 3
    // pixel-identical copies of each of 60 distinct contents under
    // different ids, so the pair set is pure id arithmetic —
    // MultimodalSpec pins the safety margin (distinct contents > 8
    // bits apart on this exact fixture, query threshold 4)
    Q("q_image_phash_dedup",
      (s, d) => {
        import graft.multimodal.Multimodal
        Multimodal.imageNearDuplicates(
          planted(s, nContents = 60, copies = 3)(png),
          maxHamming = 4)
      },
      Some(plantedCopiesOracle(nContents = 60, copies = 3))),

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
          planted(s, nContents = 60, copies = 3)(exifPng), maxHamming = 4)
      },
      Some(plantedCopiesOracle(nContents = 60, copies = 3))),

    // incremental media dedup: a new batch's image pHashes probe a
    // PERSISTED fingerprint index (Dedup.simhashProbeIndex — the
    // incremental path shared by every 64-bit fingerprint family);
    // history is fingerprinted once, the batch joins an 8-byte column.
    // Batch = 10 exact copies of indexed contents + 10 novel contents
    // (distinct-content margins pinned by the MultimodalSpec fixture
    // guard), so the match set is pure id arithmetic
    Q("q_media_incremental_dedup",
      (s, d) => {
        import s.implicits._
        import graft.multimodal.Multimodal
        val index = Multimodal.imageHashes(
          planted(s, nContents = 40, copies = 1)(png))
        val batch = planted(s, nContents = 50, copies = 1)(png)
          .filter(r => r.media_id < 10 || r.media_id >= 40)
          .map(r => r.copy(media_id = r.media_id + 1000))
        graft.operators.Dedup.simhashProbeIndex(
          Multimodal.imageHashes(batch), index,
          "media_id", "phash", maxHamming = 4)
      },
      Some("""SELECT i + 1000 AS new_id, i AS seen_id, 0 AS hamming
              FROM generate_series(0, 9) t(i)""")),

    // ---- audio -----------------------------------------------------
    // audio near-dup: temporal zero-crossing fingerprint (real WAV
    // decode) + the shared Manku blocking — the audio member of the
    // pHash/SimHash family, same planted-content oracle construction
    Q("q_audio_fp_dedup",
      (s, d) => {
        import graft.multimodal.Multimodal
        Multimodal.audioNearDuplicates(
          planted(s, nContents = 40, copies = 3)(tonesWav),
          maxHamming = 4)
      },
      Some(plantedCopiesOracle(nContents = 40, copies = 3))),

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
          planted(s, nContents = 40, copies = 3)(tonesFlac), maxHamming = 4)
      },
      Some(plantedCopiesOracle(nContents = 40, copies = 3))),

    // spectral-peak constellation audio dedup (Wang 2003) over planted
    // TIME-OFFSET copies — the case q_audio_fp_dedup's ZCR profile
    // provably misses (MultimodalSpec pins that miss on this exact
    // fixture): ids 1000+c are id c's melody behind 16 hops of
    // silence. Offset voting puts every planted pair at 290 votes and
    // chance tone collisions at ≤24 (deterministic fixture), so the
    // 100-vote gate selects exactly the planted pairs — pure id
    // arithmetic for the oracle
    Q("q_audio_constellation",
      (s, d) => {
        import graft.multimodal.Multimodal
        Multimodal.audioConstellationMatches(
          offset(s, nContents = 20, nCopies = 10,
            base = 1000)(delayedWav(noiseLsb = 0)), minVotes = 100)
          .select(col("id_a"), col("id_b"))
      },
      Some(shiftedCopiesOracle(nShifted = 10))),

    // tempo/pitch-robust constellation (round 12): 10 planted
    // RESAMPLED copies (rate 1.1 — pitch and tempo scale together, the
    // re-upload model) that the absolute-bin landmarks provably miss
    // (every peak bin and frame delta scales; MultimodalSpec pins the
    // miss) and the frequency-ratio hashes + event-sequence verify
    // catch exactly — the default two-stage gate returns precisely the
    // planted pair set (measured: copies at match_frac 1.0 / votes
    // 85-113, best chance pair 0.61 / 36)
    Q("q_audio_constellation_ratio",
      (s, d) => {
        import graft.multimodal.Multimodal
        Multimodal.audioConstellationRatioMatches(
          offset(s, nContents = 20, nCopies = 10, base = 2000)(resampledWav))
          .select(col("id_a"), col("id_b"))
      },
      Some("""SELECT i AS id_a, i + 2000 AS id_b
              FROM generate_series(0, 9) t(i)""")),

    // incremental constellation probe: history clips (ids 0-19) are
    // landmark-indexed ONCE; the batch (their 16-hop-delayed copies,
    // ids 1000-1009) probes the index — per-batch cost is the touched
    // index rows, history audio never re-decoded. Planted arithmetic
    // oracle like q_audio_constellation
    Q("q_audio_constellation_incremental",
      (s, d) => {
        import graft.multimodal.Multimodal
        val corpus = offset(s, nContents = 20, nCopies = 10,
          base = 1000)(delayedWav(noiseLsb = 0))
        val history = corpus.filter(_.media_id < 1000L)
        val batch = corpus.filter(_.media_id >= 1000L)
        Multimodal.audioConstellationProbeIndex(batch,
          Multimodal.audioConstellationHashes(history), minVotes = 100)
          .select(col("new_id"), col("seen_id"))
      },
      Some("""SELECT i + 1000 AS new_id, i AS seen_id
              FROM generate_series(0, 9) t(i)""")),

    // FLAC constellation matching: q_audio_constellation's planted
    // time-offset fixture and oracle VERBATIM over FLAC payloads —
    // the offset-voting landmark matcher runs on losslessly decoded
    // samples, so the planted pairs land at the same 290 votes and
    // chance pairs at the same ≤24 as the WAV fixture
    Q("q_audio_constellation_flac",
      (s, d) => {
        import graft.multimodal.Multimodal
        Multimodal.audioConstellationMatches(
          offset(s, nContents = 20, nCopies = 10,
            base = 1000)(delayedFlac), minVotes = 100)
          .select(col("id_a"), col("id_b"))
      },
      Some(shiftedCopiesOracle(nShifted = 10))),

    // ---- video fingerprints ----------------------------------------
    // video near-dup: middle-frame DCT pHash over real MJPEG decode +
    // the shared Manku blocking — completes the image/audio/video
    // near-dup family under the driver gate
    Q("q_video_fp_dedup",
      (s, d) => {
        import graft.multimodal.Multimodal
        Multimodal.videoNearDuplicates(
          planted(s, nContents = 30, copies = 3)(mjpeg),
          maxHamming = 4)
      },
      Some(plantedCopiesOracle(nContents = 30, copies = 3))),

    // H.264 video dedup (round 13): the SAME planted-duplicate
    // construction and oracle as q_video_fp_dedup, but every payload
    // is a spec-valid Annex-B H.264 stream (all-I_PCM IDR frames,
    // multimodal.H264) decoded through FrameDecoder.Auto's sniffing
    // dispatch — the whole codec-agnostic video family now runs on
    // real H.264 bitstream plumbing with zero external dependencies
    // (compressed macroblocks remain the documented SPI binding
    // boundary; H264Spec pins the named-error behavior there).
    // Identical oracle = the codec-agnosticism contract.
    Q("q_video_fp_dedup_h264",
      (s, d) => {
        import graft.multimodal.Multimodal
        Multimodal.videoNearDuplicates(
          planted(s, nContents = 30, copies = 3)(h264),
          maxHamming = 4)
      },
      Some(plantedCopiesOracle(nContents = 30, copies = 3))),

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
          planted(s, nContents = 30, copies = 3)(mp4(Mp4Shape.Intra)),
          maxHamming = 4)
      },
      Some(plantedCopiesOracle(nContents = 30, copies = 3))),

    // CABAC MP4 (round 15): q_video_fp_dedup_mp4's construction and
    // oracle VERBATIM, but the H.264 inside every .mp4 is
    // CABAC-entropy-coded (entropy_coding_mode_flag=1 — the
    // High-profile shape that dominates real-world files and that
    // r14 named-errored on). multimodal.H264Cabac implements §9.3
    // both ways: context-init tables, the arithmetic engine
    // (engine-level hand-derived golden vectors in CabacSpec), and
    // the intra MB-layer binarizations/context schedules; analysis
    // and reconstruction ride the SAME H264Mb path as CAVLC, so the
    // pixels — and therefore the fingerprints and this oracle — are
    // identical. The entropy-agnosticism contract, alongside the
    // container (MJPEG/MP4/fMP4) and codec (I_PCM/CAVLC) instances.
    Q("q_video_fp_dedup_mp4_cabac",
      (s, d) => {
        import graft.multimodal.Multimodal
        Multimodal.videoNearDuplicates(
          planted(s, nContents = 30, copies = 3)(mp4(Mp4Shape.Cabac)),
          maxHamming = 4)
      },
      Some(plantedCopiesOracle(nContents = 30, copies = 3))),

    // Deblocked CABAC MP4 (round 15): the SAME oracle once more, now
    // over the FULL real-world intra shape — ISO-BMFF container +
    // CABAC entropy coding + the §8.7 in-loop deblocking filter
    // (multimodal.H264Deblock: bS 4/3 intra edges, alpha/beta/tC0
    // tables, strong + clipped-normal filters, per-slice idc and
    // FilterOffsetA/B, I_PCM-at-QP-0). Until this round such streams
    // decoded to PRE-deblock pixels; now they decode display-exact
    // (H264DeblockSpec pins decode == encoder recon bit-exactly both
    // entropy coders). Identical oracle = the fingerprints are stable
    // across the filter too — the last documented scope gap on the
    // intra video path is closed.
    Q("q_video_fp_dedup_mp4_deblock",
      (s, d) => {
        import graft.multimodal.Multimodal
        Multimodal.videoNearDuplicates(
          planted(s, nContents = 30, copies = 3)(mp4(Mp4Shape.CabacDeblock)),
          maxHamming = 4)
      },
      Some(plantedCopiesOracle(nContents = 30, copies = 3))),

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
          planted(s, nContents = 30, copies = 3)(mp4(Mp4Shape.High8x8)),
          maxHamming = 4)
      },
      Some(plantedCopiesOracle(nContents = 30, copies = 3))),

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
          planted(s, nContents = 30, copies = 3)(mp4(Mp4Shape.PSlice)),
          maxHamming = 4)
      },
      Some(plantedCopiesOracle(nContents = 30, copies = 3))),

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
          planted(s, nContents = 30, copies = 3)(mp4(Mp4Shape.PSlice8x8)),
          maxHamming = 4)
      },
      Some(plantedCopiesOracle(nContents = 30, copies = 3))),

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
          planted(s, nContents = 30, copies = 3)(mp4(Mp4Shape.BSlice)),
          maxHamming = 4)
      },
      Some(plantedCopiesOracle(nContents = 30, copies = 3))),

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
          planted(s, nContents = 30, copies = 3)(
            mp4(Mp4Shape.BSliceTemporalWeighted)),
          maxHamming = 4)
      },
      Some(plantedCopiesOracle(nContents = 30, copies = 3))),

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
          planted(s, nContents = 30, copies = 3)(
            mp4(Mp4Shape.PSliceWeighted)),
          maxHamming = 4)
      },
      Some(plantedCopiesOracle(nContents = 30, copies = 3))),

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
          planted(s, nContents = 30, copies = 3)(mp4(Mp4Shape.Mixed)),
          maxHamming = 4)
      },
      Some(plantedCopiesOracle(nContents = 30, copies = 3))),

    // ---- video sequences -------------------------------------------
    // frame-sequence video dedup with offset voting — the video
    // analog of q_audio_constellation: ids 1000+c are id c's 8-frame
    // clip behind a 3-frame intro; every content frame recurs at
    // offset 3 (8 votes), chance exact-pHash collisions are zero on
    // this fixture, and the middle-frame fingerprint provably misses
    // the copies (MultimodalSpec pins both)
    Q("q_video_sequence",
      (s, d) => {
        import graft.multimodal.Multimodal
        Multimodal.videoSequenceMatches(
          offset(s, nContents = 12, nCopies = 6,
            base = 1000)(shiftedMjpeg), minVotes = 5)
          .select(col("id_a"), col("id_b"))
      },
      Some(shiftedCopiesOracle(nShifted = 6))),

    // its incremental form: history frame-hash index built once, the
    // intro-prepended copies probe it
    Q("q_video_sequence_incremental",
      (s, d) => {
        import graft.multimodal.Multimodal
        val corpus = offset(s, nContents = 12, nCopies = 6,
          base = 1000)(shiftedMjpeg)
        Multimodal.videoSequenceProbeIndex(
          corpus.filter(_.media_id >= 1000L),
          Multimodal.videoFrameHashes(
            corpus.filter(_.media_id < 1000L)), minVotes = 5)
          .select(col("new_id"), col("seen_id"))
      },
      Some("""SELECT i + 1000 AS new_id, i AS seen_id
              FROM generate_series(0, 5) t(i)""")),

    // frame-sequence offset voting over H.264 — q_video_sequence's
    // construction and oracle verbatim: Annex-B streams concatenate
    // like MJPEG (IDR frames are self-contained), so the 3-frame
    // intro prepend is a byte concat and the same matcher finds the
    // shift with no codec-specific code
    Q("q_video_sequence_h264",
      (s, d) => {
        import graft.multimodal.Multimodal
        Multimodal.videoSequenceMatches(
          offset(s, nContents = 12, nCopies = 6,
            base = 1000)(shiftedH264), minVotes = 5)
          .select(col("id_a"), col("id_b"))
      },
      Some(shiftedCopiesOracle(nShifted = 6))),

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
          offset(s, nContents = 12, nCopies = 6,
            base = 1000)(shiftedMp4(fragmented = false)), minVotes = 5)
          .select(col("id_a"), col("id_b"))
      },
      Some(shiftedCopiesOracle(nShifted = 6))),

    // Fragmented MP4 (round 15): q_video_sequence_mp4's construction
    // and oracle VERBATIM, but every clip is an fMP4 — moof/tfhd/trun
    // sample tables instead of stbl (Mp4.fragmentSampleLocations),
    // the DASH/streaming-era shape the r14 demuxer named-errored on.
    // Identical oracle = the container-agnosticism contract, third
    // instance (MJPEG → progressive MP4 → fragmented MP4); the
    // fragment tables feed the same NAL reframe and CAVLC intra
    // decode, so the offset-voting matcher sees identical pixels.
    Q("q_video_sequence_fmp4",
      (s, d) => {
        import graft.multimodal.Multimodal
        Multimodal.videoSequenceMatches(
          offset(s, nContents = 12, nCopies = 6,
            base = 1000)(shiftedMp4(fragmented = true)), minVotes = 5)
          .select(col("id_a"), col("id_b"))
      },
      Some(shiftedCopiesOracle(nShifted = 6))))
}
