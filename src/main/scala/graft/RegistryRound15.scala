package graft

import org.apache.spark.sql.functions._

import SparkEntry._

/** Round-15 extensions: theta sketches for set-operation
  * cardinality (+ the sketch-contamination form), bucketed-table
  * co-located joins, fragmented MP4 demux, and CABAC H.264 entropy
  * decoding with the §8.7 in-loop deblocking filter. */
private[graft] object RegistryRound15 {

  /** In-plan exact distinct-shingle counts for the contamination
    * gates (corpus/bench/overlap over the SAME 64-bit shingle keys
    * the sketch forms hash with) — shared by q_contamination_theta
    * and the round-16 persisted-log twin so the exact side of both
    * gates is one implementation. */
  /** Distinct 5-word-shingle keys of BOTH corpora with side-membership
    * flags — ONE scan per side and ONE exchange (the groupBy on the
    * key), shared by the exact-count and fused-estimation forms below.
    * Optimization round 19 (guide §2.3/§2.4): the previous shape
    * evaluated each side's shingle subplan twice (a distinct for the
    * count plus a semi-join for the overlap — Spark does not share
    * subplans across crossJoin branches), i.e. 4 shingle passes and 3
    * exchanges; the flagged union computes the same three exact counts
    * from one pass per side. */
  private[graft] def contaminationKeyFlags(
      corpus: org.apache.spark.sql.DataFrame,
      bench: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    def keys(df: org.apache.spark.sql.DataFrame, c: Int, b: Int) =
      df.select(explode(
          graft.plans.NativeFunctions.shinglesNative(col("text"), 5))
          .as("sh"))
        .select(xxhash64(col("sh")).as("k"), lit(c).as("__c"),
          lit(b).as("__b"))
    keys(corpus, 1, 0).unionAll(keys(bench, 0, 1))
      .groupBy(col("k"))
      .agg(max(col("__c")).as("__c"), max(col("__b")).as("__b"))
  }

  private[graft] def contaminationExactCounts(
      corpus: org.apache.spark.sql.DataFrame,
      bench: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    contaminationKeyFlags(corpus, bench).agg(
      count(when(col("__c") === 1, 1)).as("n_corpus"),
      count(when(col("__b") === 1, 1)).as("n_bench"),
      count(when(col("__c") === 1 && col("__b") === 1, 1))
        .as("n_overlap"))

  /** [[contaminationExactCounts]] plus the ESTIMATION leg's overlap
    * bounds (`el`, `eu`) computed in the SAME single pass: a theta
    * sketch is a set sketch, so sketching each side's distinct keys
    * (the flag-filtered key column here) yields the identical sketch —
    * and hence identical bounds — as re-shingling the side from text
    * the way `Dedup.contaminationSketch(lgK = lgKEst)` does. Saves the
    * estimation leg's two extra full shingle passes; the exact-mode
    * leg (lgK = 20) deliberately stays on the operator under test. */
  private[graft] def contaminationExactCountsWithEstLeg(
      corpus: org.apache.spark.sql.DataFrame,
      bench: org.apache.spark.sql.DataFrame, lgKEst: Int)
      : org.apache.spark.sql.DataFrame = {
    import graft.plans.NativeFunctions
    contaminationKeyFlags(corpus, bench)
      .agg(
        count(when(col("__c") === 1, 1)).as("n_corpus"),
        count(when(col("__b") === 1, 1)).as("n_bench"),
        count(when(col("__c") === 1 && col("__b") === 1, 1))
          .as("n_overlap"),
        NativeFunctions.thetaAggNative(
          when(col("__c") === 1, col("k")), lgKEst).as("__tc"),
        NativeFunctions.thetaAggNative(
          when(col("__b") === 1, col("k")), lgKEst).as("__tb"))
      .select(col("n_corpus"), col("n_bench"), col("n_overlap"),
        NativeFunctions.thetaEstimateNative(
          NativeFunctions.thetaSetOpNative(col("__tc"), col("__tb"),
            "intersect")).as("__ov"))
      .select(col("n_corpus"), col("n_bench"), col("n_overlap"),
        element_at(col("__ov"), 1).as("el"),
        element_at(col("__ov"), 3).as("eu"))
  }

  /** Shared by q_contamination_theta and the round-16 persisted-log
    * twin — the two forms are the same semantics by contract, so
    * they get the same literals (the q_cdc_novelty/_state pattern). */
  private[graft] val contaminationThetaOracle: String =
    """WITH t AS (SELECT doc_id, source,
         string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS toks FROM documents),
       s AS (SELECT doc_id, source,
         unnest(list_distinct(list_transform(
           generate_series(0, greatest(len(toks)-5, 0)),
           i -> array_to_string(toks[i+1:i+5], ' ')))) AS sh FROM t),
       c AS (SELECT DISTINCT sh FROM s WHERE source <> 'src0'),
       b AS (SELECT DISTINCT sh FROM s WHERE source = 'src0')
       SELECT (SELECT COUNT(*) FROM c) AS n_corpus,
         (SELECT COUNT(*) FROM b) AS n_bench,
         (SELECT COUNT(*) FROM c JOIN b USING (sh)) AS n_overlap,
         CAST(1 AS BOOLEAN) AS exact_corpus_ok,
         CAST(1 AS BOOLEAN) AS exact_bench_ok,
         CAST(1 AS BOOLEAN) AS exact_overlap_ok,
         CAST(1 AS BOOLEAN) AS exact_rate_ok,
         CAST(1 AS BOOLEAN) AS est_overlap_bounded"""

  private[graft] val entries: Seq[Q] = Seq(

    // Theta sketch set-operation cardinality (round 15): the
    // INTERSECT/DIFFERENCE member of the persisted-sketch-log family
    // (MG = frequent items, CMS = point counts, HLL = cardinality,
    // KLL = quantiles). HLL unions but cannot intersect — train/eval
    // contamination at 100 TB is exactly "how many keys are in BOTH
    // corpora", which today's q_contamination answers by an exact
    // batch-sized join; the theta form answers it from two persisted
    // ~2^lgK·8B binaries. Gate design (the KLL/CMS lesson —
    // deterministic pins where the sketch is deterministic, bounded
    // verdicts where it estimates; theta's fixed default hash seed
    // makes even the estimation leg a deterministic function of the
    // data):
    //  - EXACT leg (lgK=20 ≫ distinct orderkeys at gated SFs): theta
    //    stays 1.0, so intersection/difference/union estimates are
    //    pinned EXACTLY equal to the in-plan exact counts;
    //  - MERGEABILITY pin: union of per-returnflag sketches ==
    //    whole-corpus distinct count, exactly (a dropped or
    //    double-merged part reds this);
    //  - ESTIMATION leg (lgK=9 = 512 nominal entries, forced sampling
    //    at both gated SFs): the sketch's own 3-σ lower/upper bounds
    //    must bracket the exact count for all three set ops — the
    //    documented theta contract, replayed against the data.
    Q("q_theta_overlap",
      (s, d) => {
        import graft.operators.Frequency
        val li = s.read.parquet(pq(d, "lineitem"))
          .select(col("l_orderkey"))
        val a = li.where(col("l_orderkey") % 2 === 0)
        val b = li.where(col("l_orderkey") % 3 === 0)
        def legs(lgK: Int) = {
          val sa = Frequency.thetaSketches(
            a.withColumn("g", lit("a")), "l_orderkey", "g", lgK)
            .select(col("theta").as("ta"))
          val sb = Frequency.thetaSketches(
            b.withColumn("g", lit("b")), "l_orderkey", "g", lgK)
            .select(col("theta").as("tb"))
          sa.crossJoin(broadcast(sb)) // 1 x 1 rows
            .select(
              Frequency.thetaEstimate(
                Frequency.thetaSetOp(col("ta"), col("tb"), "intersect"))
                .as("i"),
              Frequency.thetaEstimate(
                Frequency.thetaSetOp(col("ta"), col("tb"), "anotb"))
                .as("dx"),
              Frequency.thetaEstimate(
                Frequency.thetaSetOp(col("ta"), col("tb"), "union"))
                .as("u"))
        }
        val exact = a.join(b, Seq("l_orderkey"), "left_semi")
          .agg(countDistinct(col("l_orderkey")).as("n_overlap"))
          .crossJoin(broadcast(
            a.agg(countDistinct(col("l_orderkey")).as("n_a"))))
          .crossJoin(broadcast(
            b.agg(countDistinct(col("l_orderkey")).as("n_b"))))
        // mergeability: union-of-parts (per returnflag) vs the whole
        val parts = Frequency.thetaSketches(
          s.read.parquet(pq(d, "lineitem"))
            .select(col("l_orderkey"), col("l_returnflag")),
          "l_orderkey", "l_returnflag", lgK = 20)
        val merged = Frequency.thetaUnionSketch(parts, lgK = 20)
          .select(element_at(Frequency.thetaEstimate(col("theta")), 2)
            .as("merged_est"))
        val whole = li.agg(countDistinct(col("l_orderkey")).as("n_all"))
        exact.crossJoin(broadcast(legs(20))).crossJoin(broadcast(legs(9)
            .select(col("i").as("ei"), col("dx").as("edx"),
              col("u").as("eu"))))
          .crossJoin(broadcast(merged)).crossJoin(broadcast(whole))
          .select(col("n_overlap"), col("n_a"), col("n_b"),
            // exact leg: estimate == exact count, exactly
            (element_at(col("i"), 2) === col("n_overlap").cast("double"))
              .as("exact_intersect_ok"),
            (element_at(col("dx"), 2) ===
              (col("n_a") - col("n_overlap")).cast("double"))
              .as("exact_anotb_ok"),
            (element_at(col("u"), 2) ===
              (col("n_a") + col("n_b") - col("n_overlap")).cast("double"))
              .as("exact_union_ok"),
            // mergeability pin: union of parts == whole, exactly
            (col("merged_est") === col("n_all").cast("double"))
              .as("merge_exact_ok"),
            // estimation leg: 3-sigma bounds bracket the truth
            (element_at(col("ei"), 1) <= col("n_overlap") &&
              element_at(col("ei"), 3) >= col("n_overlap"))
              .as("est_intersect_bounded"),
            (element_at(col("edx"), 1) <= col("n_a") - col("n_overlap") &&
              element_at(col("edx"), 3) >= col("n_a") - col("n_overlap"))
              .as("est_anotb_bounded"),
            (element_at(col("eu"), 1) <=
              col("n_a") + col("n_b") - col("n_overlap") &&
              element_at(col("eu"), 3) >=
                col("n_a") + col("n_b") - col("n_overlap"))
              .as("est_union_bounded"))
      },
      Some("""SELECT
                (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem
                 WHERE l_orderkey % 6 = 0) AS n_overlap,
                (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem
                 WHERE l_orderkey % 2 = 0) AS n_a,
                (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem
                 WHERE l_orderkey % 3 = 0) AS n_b,
                CAST(1 AS BOOLEAN) AS exact_intersect_ok,
                CAST(1 AS BOOLEAN) AS exact_anotb_ok,
                CAST(1 AS BOOLEAN) AS exact_union_ok,
                CAST(1 AS BOOLEAN) AS merge_exact_ok,
                CAST(1 AS BOOLEAN) AS est_intersect_bounded,
                CAST(1 AS BOOLEAN) AS est_anotb_bounded,
                CAST(1 AS BOOLEAN) AS est_union_bounded""")),

    // Sketch contamination (round 15): the theta family applied to
    // the TEXT pipeline it was built for — q_contamination's corpus
    // and benchmark shingle sets reduced to two theta binaries, the
    // contamination rate answered from the sketches alone
    // (Dedup.contaminationSketch: persistable/mergeable, no join, no
    // re-scan — the continuous 100 TB gauge in front of the exact
    // per-doc join). Gate: exact-mode leg (lgK=20 ≫ distinct
    // 5-shingles at gated SFs) pins corpus/bench/overlap estimates
    // EXACTLY equal to the in-plan exact distinct counts; estimation
    // leg (lgK=9) replays 3σ bound containment. The oracle recomputes
    // the exact distinct-shingle counts at TEXT level in DuckDB —
    // also re-certifying the 64-bit shingle keys collision-free on
    // this corpus (the q_contamination equivalence).
    Q("q_contamination_theta",
      (s, d) => {
        import graft.operators.Dedup
        val docs = s.read.parquet(pq(d, "documents"))
          .repartition(s.sparkContext.defaultParallelism)
        val corpus = docs.where(col("source") =!= "src0")
        val bench = docs.where(col("source") === "src0")
        def leg(lgK: Int) = Dedup.contaminationSketch(
          corpus, bench, "text", shingleWords = 5, lgK = lgK)
        // exact distinct counts, in-plan (same 64-bit shingle keys
        // contaminationScore/contaminationSketch hash with), with the
        // lgK=9 estimation leg fused into the same single pass
        // (optimization round 19 — theta is a set sketch, so sketching
        // the distinct keys is bit-equivalent to re-shingling; the
        // lgK=20 exact-mode leg stays on the operator under test)
        val exactCounts = contaminationExactCountsWithEstLeg(
          corpus, bench, lgKEst = 9)
        exactCounts.crossJoin(broadcast(leg(20)))
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
      Some(contaminationThetaOracle)),

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

    // Fragmented MP4 (round 15): q_video_sequence_mp4's construction
    // and oracle VERBATIM, but every clip is an fMP4 — moof/tfhd/trun
    // sample tables instead of stbl (Mp4.fragmentSampleLocations),
    // the DASH/streaming-era shape the r14 demuxer named-errored on.
    // Identical oracle = the container-agnosticism contract, third
    // instance (MJPEG → progressive MP4 → fragmented MP4); the
    // fragment tables feed the same NAL reframe and CAVLC intra
    // decode, so the offset-voting matcher sees identical pixels.
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
          Multimodal.syntheticMp4Corpus(s, nContents = 30, copies = 3,
            cabac = true), maxHamming = 4)
      },
      Some("""SELECT a.i AS id_a, b.i AS id_b, 0 AS hamming
              FROM generate_series(0, 89) a(i)
                JOIN generate_series(0, 89) b(i)
                ON a.i < b.i AND a.i % 30 = b.i % 30""")),

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
          Multimodal.syntheticMp4Corpus(s, nContents = 30, copies = 3,
            cabac = true, deblock = true), maxHamming = 4)
      },
      Some("""SELECT a.i AS id_a, b.i AS id_b, 0 AS hamming
              FROM generate_series(0, 89) a(i)
                JOIN generate_series(0, 89) b(i)
                ON a.i < b.i AND a.i % 30 = b.i % 30""")),

    Q("q_video_sequence_fmp4",
      (s, d) => {
        import graft.multimodal.Multimodal
        Multimodal.videoSequenceMatches(
          Multimodal.syntheticShiftedMp4Corpus(s, nContents = 12,
            nShifted = 6, fragmented = true), minVotes = 5)
          .select(col("id_a"), col("id_b"))
      },
      Some("""SELECT i AS id_a, i + 1000 AS id_b
              FROM generate_series(0, 5) t(i)""")))
}
