package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import SparkEntry._

/** Deduplication: exact and near-duplicate keys, planted-duplicate
  * gates, semantic dedup, ingestion admission, substring spans,
  * content-defined chunks and benchmark decontamination. */
private[graft] object RegistryDedup {

  /** Shared planting for the span-cut queries: every doc gets the first
    * 12 words of donor doc (doc_id % 10) appended — identical to
    * q_dup_spans, so the three span queries exercise one corpus shape. */
  private def spanAugmented(s: SparkSession, d: String): DataFrame = {
    import graft.functions.TextAnalysis
    val docs = s.read.parquet(pq(d, "documents"))
      .repartition(s.sparkContext.defaultParallelism)
    val donors = docs.where(col("doc_id") < 10)
      .select(col("doc_id").as("__don_id"),
        concat_ws(" ", slice(TextAnalysis.tokens(col("text")), 1, 12))
          .as("__don_txt"))
    docs.select(col("doc_id"), col("text"))
      .join(broadcast(donors), col("doc_id") % 10 === col("__don_id"))
      .select(col("doc_id"),
        concat(col("text"), lit(" "), col("__don_txt")).as("text"))
  }

  /** DuckDB replay of [[spanAugmented]] + per-doc span statistics —
    * shared verbatim by q_dup_spans (64-bit keys) and q_dup_spans_128:
    * the two modes are the same semantics by contract, so they get the
    * same oracle STRING, not a copy. A `def` (not val): referenced
    * from the round-3 section, which initializes earlier in the
    * object. */
  private def spanStatsOracle: String =
    """WITH don AS (SELECT doc_id AS don_id, array_to_string(
         list_slice(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+'), 1, 12),
         ' ') AS don_txt
         FROM documents WHERE doc_id < 10),
       aug AS (SELECT d.doc_id, d.text || ' ' ||
           don.don_txt AS text
         FROM documents d JOIN don ON d.doc_id % 10 = don.don_id),
       t AS (SELECT doc_id,
         string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS toks FROM aug),
       e AS (SELECT doc_id, unnest(list_transform(
           generate_series(0, greatest(len(toks) - 10, 0)),
           i -> array_to_string(list_slice(toks, i+1, i+10), ' ')))
           AS win FROM t),
       c AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY win) AS occ
         FROM e)
       SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
         CAST(SUM(CASE WHEN occ >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_spans,
         ROUND(CAST(SUM(CASE WHEN occ >= 2 THEN 1 ELSE 0 END)
           AS DOUBLE) / COUNT(*), 4) AS dup_span_frac
       FROM c GROUP BY doc_id"""

  /** DuckDB replay of [[spanAugmented]] + window occurrence counts +
    * interval merge — the shared oracle prefix for the span-cut pair. */
  private val spanCutOracleCtes =
    """WITH don AS (SELECT doc_id AS don_id, array_to_string(
         list_slice(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+'), 1, 12), ' ')
           AS don_txt
         FROM documents WHERE doc_id < 10),
       aug AS (SELECT d.doc_id, d.text || ' ' || don.don_txt AS text
         FROM documents d JOIN don ON d.doc_id % 10 = don.don_id),
       t AS (SELECT doc_id,
         string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS toks FROM aug),
       w0 AS (SELECT doc_id, toks, unnest(generate_series(0,
           greatest(len(toks) - 10, 0))) AS i FROM t),
       w AS (SELECT doc_id, i, least(i + 10, len(toks)) AS e,
           array_to_string(list_slice(toks, i + 1, i + 10), ' ') AS win
         FROM w0),
       c AS (SELECT doc_id, i, e, COUNT(*) OVER (PARTITION BY win) AS occ
         FROM w),
       dup AS (SELECT doc_id, i, e FROM c WHERE occ >= 2),
       f AS (SELECT doc_id, i, e, CASE WHEN i > COALESCE(MAX(e) OVER (
           PARTITION BY doc_id ORDER BY i
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
           THEN 1 ELSE 0 END AS ng FROM dup),
       g AS (SELECT doc_id, i, e, SUM(ng) OVER (PARTITION BY doc_id
           ORDER BY i ROWS UNBOUNDED PRECEDING) AS grp FROM f),
       cuts AS (SELECT doc_id, MIN(i) AS s, MAX(e) AS e
         FROM g GROUP BY doc_id, grp)"""

  /** Lazily-materialized admission-state fixture (band index parquet +
    * Bloom sketch bytes) via [[Fixture]] — built on first
    * use, REUSED by every later run in any process, so
    * q_ingest_admission_state's steady-state bench time measures
    * admission against prebuilt state (the production shape: state is
    * maintained incrementally beside the corpus, never rebuilt per
    * batch — `IngestPipeline.nearDupIngestIncremental` is the writer). */
  private def admissionState(s: SparkSession, d: String,
                             history: DataFrame): (Array[Byte], DataFrame) = {
    val root = Fixture(new java.io.File(d, "documents.parquet"),
      "graft_admission_state") { tmp =>
      graft.operators.Dedup.minhashBands(history, "doc_id", "text")
        .withColumnRenamed("doc_id", "seen_id")
        .write.mode("overwrite")
        .parquet(new java.io.File(tmp, "bands").toString)
      val sketch = graft.operators.Dedup.buildSeenSketch(history, "text",
        expectedItems = 10000L, numBits = 1L << 17).get
      java.nio.file.Files.write(
        new java.io.File(tmp, "sketch").toPath, sketch)
    }
    (java.nio.file.Files.readAllBytes(
      new java.io.File(root, "sketch").toPath),
      s.read.parquet(new java.io.File(root, "bands").toString))
  }

  /** The shared planted-variant union behind q_dedup_normalized: each
    * doc 0-49 plus a case/punctuation variant (+100000) and a
    * digit-shifted variant (+200000); all three must collapse to ONE
    * normalized key (digit counts are kept equal — digit→0 preserves
    * length, so `3`≢`10`). */
  private val dedupNormalizedUnionSql =
    """u AS (
        SELECT doc_id, text || ' Page ' || CAST(doc_id % 10 AS VARCHAR)
          || ' of 99.' AS t
        FROM documents WHERE doc_id < 50
        UNION ALL
        SELECT doc_id + 100000, '¡' || upper(text) || '! page '
          || CAST(doc_id % 10 AS VARCHAR) || ' of 99'
        FROM documents WHERE doc_id < 50
        UNION ALL
        SELECT doc_id + 200000, text || ' page '
          || CAST((doc_id + 3) % 10 AS VARCHAR) || ' of 42;'
        FROM documents WHERE doc_id < 50)"""

  /** History slice indexed by the CDC novelty pair (q_cdc_novelty and
    * q_cdc_novelty_state share fixture, verdict and oracle — the two
    * forms are the same semantics by contract). */
  private def cdcNoveltyHistory(s: SparkSession,
                                       d: String): DataFrame =
    s.read.parquet(pq(d, "documents"))
      .select(col("doc_id"), col("text"))
      .where(col("doc_id").between(100, 399))

  /** The probe batch: exact copies (+100000), prefix-edited copies
    * (+200000), and a disjoint novel slice. */
  private def cdcNoveltyBatch(s: SparkSession,
                                     d: String): DataFrame = {
    val docs = s.read.parquet(pq(d, "documents"))
      .select(col("doc_id"), col("text"))
    val history = cdcNoveltyHistory(s, d)
    val copies = history.where(col("doc_id") < 150)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
    val edited = history.where(col("doc_id").between(150, 199))
      .select((col("doc_id") + 200000L).as("doc_id"),
        concat(lit("edited prefix block here :: "), col("text"))
          .as("text"))
    copies.unionByName(edited)
      .unionByName(docs.where(col("doc_id").between(400, 499)))
  }

  /** The planted-arithmetic verdict over a novelty frame. */
  private def cdcNoveltyVerdict(nv: DataFrame): DataFrame =
    nv.agg(
      sum(when(col("doc_id").between(100000L, 199999L), 1L)
        .otherwise(0L)).as("n_copies"),
      sum(when(col("doc_id").between(100000L, 199999L) &&
        col("novelty") === 0.0, 1L).otherwise(0L))
        .as("n_copies_zero"),
      sum(when(col("doc_id") >= 200000L, 1L).otherwise(0L))
        .as("n_edited"),
      sum(when(col("doc_id") >= 200000L && col("novelty") > 0.0, 1L)
        .otherwise(0L)).as("n_edited_positive"),
      (avg(when(col("doc_id") < 100000L, col("novelty"))) >= 0.9)
        .as("novel_avg_high"))

  private val cdcNoveltyOracleSql =
    """SELECT (SELECT COUNT(*) FROM documents
        WHERE doc_id BETWEEN 100 AND 149) AS n_copies,
      (SELECT COUNT(*) FROM documents
        WHERE doc_id BETWEEN 100 AND 149) AS n_copies_zero,
      (SELECT COUNT(*) FROM documents
        WHERE doc_id BETWEEN 150 AND 199) AS n_edited,
      (SELECT COUNT(*) FROM documents
        WHERE doc_id BETWEEN 150 AND 199) AS n_edited_positive,
      CAST(1 AS BOOLEAN) AS novel_avg_high"""

  /** Distinct 5-word-shingle keys of BOTH corpora with side-membership
    * flags — ONE scan per side and ONE exchange (the groupBy on the
    * key), shared by the exact-count and fused-estimation forms below.
    * Optimization round 19 (guide §2.3/§2.4): the previous shape
    * evaluated each side's shingle subplan twice (a distinct for the
    * count plus a semi-join for the overlap — Spark does not share
    * subplans across crossJoin branches), i.e. 4 shingle passes and 3
    * exchanges; the flagged union computes the same three exact counts
    * from one pass per side. */
  private def contaminationKeyFlags(
      corpus: DataFrame,
      bench: DataFrame)
      : DataFrame = {
    def keys(df: DataFrame, c: Int, b: Int) =
      df.select(explode(
          graft.plans.NativeFunctions.shinglesNative(col("text"), 5))
          .as("sh"))
        .select(xxhash64(col("sh")).as("k"), lit(c).as("__c"),
          lit(b).as("__b"))
    keys(corpus, 1, 0).unionAll(keys(bench, 0, 1))
      .groupBy(col("k"))
      .agg(max(col("__c")).as("__c"), max(col("__b")).as("__b"))
  }

  /** In-plan exact distinct-shingle counts for the contamination
    * gates (corpus/bench/overlap over the SAME 64-bit shingle keys
    * the sketch forms hash with) — shared by q_contamination_theta
    * and q_contamination_theta_state so the exact side of both
    * gates is one implementation. */
  private def contaminationExactCounts(
      corpus: DataFrame,
      bench: DataFrame)
      : DataFrame =
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
  private def contaminationExactCountsWithEstLeg(
      corpus: DataFrame,
      bench: DataFrame, lgKEst: Int)
      : DataFrame = {
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

  /** The theta contamination gates' verdict row: the exact counts, the
    * exact-mode (lgK=20) estimates checked equal to them, and the
    * estimation leg's overlap bounds (`el`, `eu`) checked to contain
    * the exact overlap. */
  private def contaminationThetaVerdict(legs: DataFrame): DataFrame =
    legs.select(col("n_corpus"), col("n_bench"), col("n_overlap"),
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

  /** Shared by q_contamination_theta and the round-16 persisted-log
    * twin — the two forms are the same semantics by contract, so
    * they get the same literals (the q_cdc_novelty/_state pattern). */
  private val contaminationThetaOracle: String =
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

  /** q_ingest_admission's history (docs 0-399) and batch: exact
    * re-ingests of docs 0-49, one-token edits of 50-79 and novel docs
    * 400-449, each under a new id (+100000). q_ingest_admission_state
    * admits the same batch against prebuilt state, so the two gates
    * share this and [[admissionOracleSql]]. */
  private def admissionBatch(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val docs = s.read.parquet(pq(d, "documents"))
      .select(col("doc_id"), col("text"))
    val history = docs.where(col("doc_id") < 400)
    val batch = docs.where(col("doc_id") < 50)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      .unionAll(docs.where(col("doc_id").between(50, 79))
        .select((col("doc_id") + 100000L).as("doc_id"),
          concat(col("text"), lit(" graftmarker")).as("text")))
      .unionAll(docs.where(col("doc_id").between(400, 449))
        .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
    (history, batch)
  }

  /** The admitted set of [[admissionBatch]]: not an exact copy of
    * history or of an earlier batch row, and no ≥0.95-jaccard twin in
    * history over distinct 3-word shingles. */
  private val admissionOracleSql =
    """WITH h AS (SELECT doc_id, text FROM documents
              WHERE doc_id < 400),
            b AS (SELECT doc_id + 100000 AS doc_id, text
                FROM documents WHERE doc_id < 50
              UNION ALL
              SELECT doc_id + 100000, text || ' graftmarker'
                FROM documents WHERE doc_id BETWEEN 50 AND 79
              UNION ALL
              SELECT doc_id + 100000, text
                FROM documents WHERE doc_id BETWEEN 400 AND 449),
            hs AS (SELECT doc_id, list_distinct(list_transform(
                generate_series(0, greatest(len(toks) - 3, 0)),
                i -> array_to_string(toks[i+1:i+3], ' '))) AS sh
              FROM (SELECT doc_id,
                string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS toks FROM h)),
            bs AS (SELECT doc_id, list_distinct(list_transform(
                generate_series(0, greatest(len(toks) - 3, 0)),
                i -> array_to_string(toks[i+1:i+3], ' '))) AS sh
              FROM (SELECT doc_id,
                string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS toks FROM b)),
            near AS (SELECT DISTINCT bs.doc_id FROM bs JOIN hs ON
              CAST(len(list_intersect(bs.sh, hs.sh)) AS DOUBLE) /
                (len(bs.sh) + len(hs.sh) -
                  len(list_intersect(bs.sh, hs.sh))) >= 0.95)
            SELECT b.doc_id FROM b
            WHERE NOT EXISTS (SELECT 1 FROM h WHERE h.text = b.text)
              AND NOT EXISTS (SELECT 1 FROM b b2
                WHERE b2.text = b.text AND b2.doc_id < b.doc_id)
              AND b.doc_id NOT IN (SELECT doc_id FROM near)"""

  /** The semantic-dedup gates' planted corpus — embeddings with
    * vec_id < 30 copied at +100000 and +200000 — through
    * Dedup.semanticDedup, survivors kept within the planted universe.
    * The flat and the two-level assignment both collapse each family
    * to its source id, the set [[semanticDedupOracleSql]] lists. */
  private def semanticDedupPlanted(s: SparkSession, d: String,
                                   twoLevel: Boolean): DataFrame = {
    // the < 100000 guard pins the planting-offset assumption: a
    // future sf whose embeddings table reached 100000 natural rows
    // would otherwise leak naturals through the pmod survivor
    // filter and break the oracle silently
    val emb = s.read.parquet(pq(d, "embeddings"))
      .where(col("vec_id") < 100000L)
      .select(col("vec_id"), col("embedding"))
    val fam = emb.where(col("vec_id") < 30)
    val all = emb
      .unionByName(fam.select((col("vec_id") + 100000L).as("vec_id"),
        col("embedding")))
      .unionByName(fam.select((col("vec_id") + 200000L).as("vec_id"),
        col("embedding")))
    graft.operators.Dedup.semanticDedup(all, "vec_id", "embedding",
      nlist = 32, minCosine = 0.999, twoLevel = twoLevel)
      .where(pmod(col("vec_id"), lit(100000L)) < 30)
      .select(col("vec_id"))
  }

  private val semanticDedupOracleSql =
    "SELECT vec_id FROM embeddings WHERE vec_id < 30"

  val entries: Seq[Q] = Seq(
    // ---- exact and near-duplicate keys -----------------------------
    Q("q_dedup_exact",
      (s, d) => graft.operators.Dedup.exactSummary(
        s.read.parquet(pq(d, "documents")), "text", "doc_id"),
      Some("""SELECT md5(text) AS text_hash, COUNT(*) AS n_copies,
              MIN(doc_id) AS keep_id FROM documents GROUP BY md5(text)""")),

    Q("q_dedup_exact_keep",
      (s, d) => graft.operators.Dedup.exact(
        s.read.parquet(pq(d, "documents")).select(col("doc_id"), col("text")),
        Seq("text"), "doc_id").select(col("doc_id")),
      Some("""SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text""")),

    // natural-corpus run at the production-shaped threshold 0.5,
    // promoted from rows-only to a planted-recall gate: 50 exact copies
    // are planted at +100000 and the output is reduced to three
    // driver-checkable invariants — every planted pair surfaced (LSH
    // candidate generation has no false negative on identical
    // signatures, even among the natural buckets this threshold's
    // banding creates), every emitted pair's TRUE jaccard respects the
    // threshold (verify-stage contract), and no pair is emitted twice
    // (band dedup works). The pair VALUES stay hash-family-specific;
    // the invariants are not.
    Q("q_dedup_minhash",
      (s, d) => {
        val docs = s.read.parquet(pq(d, "documents"))
          .select(col("doc_id"), col("text"))
        val planted = docs.where(col("doc_id") < 50)
          .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
        graft.operators.Dedup.minhashDuplicates(docs.unionByName(planted),
            "doc_id", "text", minJaccard = 0.5)
          .agg(
            sum(when(col("id_b") - col("id_a") === 100000L &&
              col("id_a") < 50, 1L).otherwise(0L)).as("n_planted_found"),
            sum(when(col("jaccard") < 0.5, 1L).otherwise(0L))
              .as("n_below_threshold"),
            (count(lit(1)) - count_distinct(col("id_a"), col("id_b")))
              .as("n_dup_pairs"))
      },
      Some("""SELECT (SELECT COUNT(*) FROM documents WHERE doc_id < 50)
                AS n_planted_found,
              CAST(0 AS BIGINT) AS n_below_threshold,
              CAST(0 AS BIGINT) AS n_dup_pairs""")),

    // repartition first: the fingerprint+key-explode chain is narrow, so
    // its parallelism is the input's (one parquet file here = 1-2 tasks);
    // at cluster scale the source arrives partitioned and this is a no-op
    // in spirit (same pattern as q_dup_spans). Same planted-recall
    // promotion as q_dedup_minhash: copies collide at hamming 0 in every
    // Manku chunk arrangement, so recall of the planted set is exact.
    Q("q_dedup_simhash",
      (s, d) => {
        val docs = s.read.parquet(pq(d, "documents"))
          .select(col("doc_id"), col("text"))
        val planted = docs.where(col("doc_id") < 50)
          .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
        graft.operators.Dedup.simhashDuplicates(
            docs.unionByName(planted)
              .repartition(s.sparkContext.defaultParallelism),
            "doc_id", "text", maxHamming = 8)
          .agg(
            sum(when(col("id_b") - col("id_a") === 100000L &&
              col("id_a") < 50 && col("hamming") === 0, 1L).otherwise(0L))
              .as("n_planted_found"),
            sum(when(col("hamming") > 8, 1L).otherwise(0L))
              .as("n_over_threshold"),
            (count(lit(1)) - count_distinct(col("id_a"), col("id_b")))
              .as("n_dup_pairs"))
      },
      Some("""SELECT (SELECT COUNT(*) FROM documents WHERE doc_id < 50)
                AS n_planted_found,
              CAST(0 AS BIGINT) AS n_over_threshold,
              CAST(0 AS BIGINT) AS n_dup_pairs""")),

    // threshold 0.3 (not the production 0.95): driver embeddings are
    // random, so a realistic near-dup cutoff matches nothing — this
    // exercises the bucket-join + cosine-verify path with live rows.
    // Same planted-recall promotion: identical vectors share every
    // hyperplane sign, so bucket collision (and cosine 1.0 up to float
    // rounding) is guaranteed, not probabilistic.
    Q("q_dedup_embedding",
      (s, d) => {
        val emb = s.read.parquet(pq(d, "embeddings"))
          .select(col("vec_id"), col("embedding"))
        val planted = emb.where(col("vec_id") < 50)
          .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
        graft.operators.Dedup.embeddingDuplicates(emb.unionByName(planted),
            "vec_id", "embedding", planes = 6, minCosine = 0.3)
          .agg(
            sum(when(col("id_b") - col("id_a") === 100000L &&
              col("id_a") < 50 && col("cosine") > 0.999, 1L).otherwise(0L))
              .as("n_planted_found"),
            sum(when(col("cosine") < 0.3, 1L).otherwise(0L))
              .as("n_below_threshold"),
            (count(lit(1)) - count_distinct(col("id_a"), col("id_b")))
              .as("n_dup_pairs"))
      },
      Some("""SELECT (SELECT COUNT(*) FROM embeddings WHERE vec_id < 50)
                AS n_planted_found,
              CAST(0 AS BIGINT) AS n_below_threshold,
              CAST(0 AS BIGINT) AS n_dup_pairs""")),

    // CCNet key normalization ∘ exact dedup: 50 docs × 3 planted
    // variants (case+punctuation, shifted digits) must collapse to one
    // key each; the oracle replays the normalization chain verbatim
    // (written RE2-portable for exactly this)
    Q("q_dedup_normalized",
      (s, d) => {
        import graft.functions.TextAnalysis
        val base = s.read.parquet(pq(d, "documents"))
          .where(col("doc_id") < 50).select(col("doc_id"), col("text"))
        val t0 = base.select(col("doc_id"),
          concat(col("text"), lit(" Page "),
            (col("doc_id") % 10).cast("string"), lit(" of 99."))
            .as("t"))
        val t1 = base.select((col("doc_id") + 100000L).as("doc_id"),
          concat(lit("¡"), upper(col("text")), lit("! page "),
            (col("doc_id") % 10).cast("string"), lit(" of 99")).as("t"))
        val t2 = base.select((col("doc_id") + 200000L).as("doc_id"),
          concat(col("text"), lit(" page "),
            ((col("doc_id") + 3) % 10).cast("string"), lit(" of 42;"))
            .as("t"))
        val all = t0.unionAll(t1).unionAll(t2)
          .select(col("doc_id"),
            TextAnalysis.normalizeForDedup(col("t")).as("norm"))
        graft.operators.Dedup.exactSummary(all, "norm", "doc_id")
      },
      Some(s"""WITH $dedupNormalizedUnionSql,
              n AS (SELECT doc_id, trim(regexp_replace(regexp_replace(
                regexp_replace(lower(t), '\\p{Nd}', '0', 'g'),
                '[\\p{P}\\p{S}]', '', 'g'), '\\s+', ' ', 'g')) AS k
                FROM u)
              SELECT md5(k) AS text_hash, COUNT(*) AS n_copies,
                MIN(doc_id) AS keep_id
              FROM n GROUP BY k""")),

    // accent-folded dedup keys (the full CCNet recipe): composed,
    // decomposed AND accentless re-typings of the same phrase — plus
    // digit/punct/case noise — must collapse to ONE key per source
    // doc; plain normalizeForDedup provably keeps the accentless copy
    // apart (TextAnalysisSpec pins that contrast). 20 planted groups
    // of 3 → pure arithmetic oracle; an under-folding breaks
    // n_copies, an over-merging breaks the row count
    Q("q_dedup_accent_fold",
      (s, d) => {
        import graft.functions.TextAnalysis
        val base = s.read.parquet(pq(d, "documents"))
          .where(col("doc_id") < 20)
          .select(col("doc_id"), substring(col("text"), 1, 30).as("p"))
        val digit = (col("doc_id") % 10).cast("string")
        val t0 = base.select(col("doc_id"),
          concat(col("p"), lit(" Caf\u00e9 pi\u00f1ata R\u00e9sum\u00e9 No. "),
            digit).as("t"))
        val t1 = base.select((col("doc_id") + 100000L).as("doc_id"),
          concat(col("p"), lit(" Cafe\u0301 pin\u0303ata" +
            " Re\u0301sume\u0301 no "), digit).as("t"))
        val t2 = base.select((col("doc_id") + 200000L).as("doc_id"),
          concat(upper(col("p")), lit(" CAFE PINATA RESUME NO "),
            ((col("doc_id") + 7) % 10).cast("string")).as("t"))
        val all = t0.unionAll(t1).unionAll(t2)
          .select(col("doc_id"),
            TextAnalysis.normalizeForDedupFolded(col("t")).as("k"))
        graft.operators.Dedup.exactSummary(all, "k", "doc_id")
          .select(col("keep_id"), col("n_copies"))
      },
      Some("""SELECT i AS keep_id, CAST(3 AS BIGINT) AS n_copies
              FROM generate_series(0, 19) t(i)""")),

    // CCNet-style cross-document line dedup; the corpus has no newlines,
    // so the query body synthesizes 10-word lines first (deterministic,
    // mirrored in the oracle), then drops every line's repeat occurrences
    // corpus-wide and reassembles docs
    Q("q_line_dedup",
      (s, d) => {
        val toks = graft.functions.TextAnalysis.tokens(col("text"))
        val lined = s.read.parquet(pq(d, "documents"))
          .select(col("doc_id"), array_join(transform(
            sequence(lit(0), greatest(
              floor((size(toks) - 1) / lit(10.0)), lit(0)).cast("int")),
            i => concat_ws(" ", slice(toks, i * 10 + 1, lit(10)))), "\n")
            .as("text_ln"))
        graft.operators.Dedup.lineDedup(lined, "doc_id", "text_ln", "\n")
      },
      Some("""WITH t AS (SELECT doc_id,
                string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS toks FROM documents),
              l AS (SELECT doc_id, list_transform(generate_series(0,
                  CAST(greatest(floor((len(toks)-1)/10.0), 0) AS BIGINT)),
                i -> array_to_string(toks[i*10+1:i*10+10], ' ')) AS lns
                FROM t),
              e AS (SELECT doc_id, unnest(lns) AS line,
                unnest(generate_series(1, len(lns))) AS pos FROM l),
              f AS (SELECT * FROM e WHERE length(trim(line)) > 0),
              k AS (SELECT doc_id, line, pos, row_number() OVER
                (PARTITION BY line ORDER BY doc_id, pos) AS rn FROM f)
              SELECT doc_id,
                string_agg(line, chr(10) ORDER BY pos) AS text_dedup,
                CAST(count(*) AS BIGINT) AS n_lines_kept
              FROM k WHERE rn = 1 GROUP BY doc_id""")),

    // planted oracle (the q_dedup_minhash_planted pattern): winnowing
    // fingerprint sets and canonical-text hashes are computed for the
    // WHOLE corpus plus exact copies of docs 0-49 under shifted ids; a
    // copy's fingerprint SET and canonical hash must be IDENTICAL to its
    // source's, so the agreement relation is exactly the 50 planted
    // pairs — SQL-expressible even though the xxhash64 values are not.
    // Falsifiable, not tautological: each pair must ALSO be non-empty
    // and DIFFER from ring-neighbor doc (i+1)%50's set — a degenerate
    // implementation emitting a constant or empty set for every doc
    // agrees with its neighbor too and produces 0 rows, failing the
    // oracle
    Q("q_text_fingerprint",
      (s, d) => {
        val docs = s.read.parquet(pq(d, "documents"))
          .repartition(s.sparkContext.defaultParallelism)
          .select(col("doc_id"), col("text"))
        val all = docs.unionAll(
          docs.where(col("doc_id") < 50)
            .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
        val sets = graft.functions.TextAnalysis
          .winnowingFingerprints(all, "text")
          .select(col("doc_id"), col("fingerprints"),
            graft.functions.TextAnalysis.fingerprint(col("text")).as("fp"))
        val orig = sets.where(col("doc_id") < 50)
        val copies = sets.where(col("doc_id") >= 100000L)
          .select((col("doc_id") - 100000L).as("doc_id"),
            col("fingerprints").as("fps_copy"), col("fp").as("fp_copy"))
        val neighbor = orig.select(
          ((col("doc_id") + 1) % 50).as("doc_id"),
          col("fingerprints").as("fps_nb"))
        orig.join(copies, "doc_id").join(neighbor, "doc_id")
          .where(col("fingerprints") === col("fps_copy") &&
            col("fp") === col("fp_copy") &&
            col("fingerprints") =!= col("fps_nb") &&
            size(col("fingerprints")) > 0)
          .select(col("doc_id"), (col("doc_id") + 100000L).as("copy_id"))
      },
      Some("""SELECT i AS doc_id, i + 100000 AS copy_id
              FROM generate_series(0, 49) t(i)""")),

    // ---- planted-duplicate gates -----------------------------------
    // The natural-corpus dedup queries above are hash-family-specific
    // (rows-only). These variants plant exact copies at doc_id+100000 and
    // assert the pipelines find EVERY planted pair at jaccard 1.0 /
    // hamming 0 / cosine 1.0 — an expected set that IS SQL-expressible,
    // so the LSH candidate generation + verification paths get a real
    // DuckDB oracle. (A copy's signature is identical, so bucket
    // collision is guaranteed, not probabilistic; the id_b-id_a filter
    // projects out incidental natural near-dup pairs.)
    Q("q_dedup_minhash_planted",
      (s, d) => {
        val docs = s.read.parquet(pq(d, "documents"))
          .select(col("doc_id"), col("text"))
        val planted = docs.where(col("doc_id") < 50)
          .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
        graft.operators.Dedup.minhashDuplicates(docs.unionByName(planted),
          "doc_id", "text", minJaccard = 0.99)
          .where(col("id_b") - col("id_a") === 100000L && col("id_a") < 50)
      },
      Some("""SELECT doc_id AS id_a, doc_id + 100000 AS id_b,
              CAST(1.0 AS DOUBLE) AS jaccard
              FROM documents WHERE doc_id < 50""")),

    Q("q_dedup_simhash_planted",
      (s, d) => {
        val docs = s.read.parquet(pq(d, "documents"))
          .select(col("doc_id"), col("text"))
        val planted = docs.where(col("doc_id") < 50)
          .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
        graft.operators.Dedup.simhashDuplicates(docs.unionByName(planted),
          "doc_id", "text", maxHamming = 3)
          .where(col("id_b") - col("id_a") === 100000L && col("id_a") < 50)
      },
      Some("""SELECT doc_id AS id_a, doc_id + 100000 AS id_b, 0 AS hamming
              FROM documents WHERE doc_id < 50""")),

    // cluster formation over planted triangles: copies at +100k/+200k
    // give each source doc a 3-member dup family whose pair graph is a
    // triangle; connected components must label all three with the
    // source id. The pmod filter keeps exactly the family pairs (a
    // natural pair's id distance is never a multiple of 100000).
    Q("q_dedup_clusters",
      (s, d) => {
        val docs = s.read.parquet(pq(d, "documents"))
          .select(col("doc_id"), col("text"))
        val fam = docs.where(col("doc_id") < 30)
        val planted = fam
          .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
          .unionByName(fam
            .select((col("doc_id") + 200000L).as("doc_id"), col("text")))
        val pairs = graft.operators.Dedup.minhashDuplicates(
          docs.unionByName(planted), "doc_id", "text", minJaccard = 0.99)
          .where(pmod(col("id_b") - col("id_a"), lit(100000L)) === 0 &&
            pmod(col("id_a"), lit(100000L)) < 30)
        graft.operators.Dedup
          .duplicateClusters(pairs.select(col("id_a"), col("id_b")))
          .select(col("id").as("doc_id"), col("cluster"))
      },
      Some("""SELECT doc_id + off AS doc_id, doc_id AS cluster
              FROM documents
              CROSS JOIN (VALUES (0), (100000), (200000)) t(off)
              WHERE doc_id < 30""")),

    // the full near-dup pipeline closed end-to-end: planted 3-member
    // families → LSH candidate pairs → connected components → SURVIVOR
    // SELECTION. Survivors within the planted universe must be exactly
    // the source docs (min id per family); every copy must be dropped.
    // Same planted/filter discipline as q_dedup_clusters.
    Q("q_dedup_survivors",
      (s, d) => {
        val docs = s.read.parquet(pq(d, "documents"))
          .select(col("doc_id"), col("text"))
        val fam = docs.where(col("doc_id") < 30)
        val all = docs
          .unionByName(fam.select((col("doc_id") + 100000L).as("doc_id"),
            col("text")))
          .unionByName(fam.select((col("doc_id") + 200000L).as("doc_id"),
            col("text")))
        val pairs = graft.operators.Dedup.minhashDuplicates(
          all, "doc_id", "text", minJaccard = 0.99)
          .where(pmod(col("id_b") - col("id_a"), lit(100000L)) === 0 &&
            pmod(col("id_a"), lit(100000L)) < 30)
        val labels = graft.operators.Dedup
          .duplicateClusters(pairs.select(col("id_a"), col("id_b")))
        graft.operators.Dedup.selectSurvivors(all, labels, "doc_id")
          .where(pmod(col("doc_id"), lit(100000L)) < 30)
          .select(col("doc_id"))
      },
      Some("""SELECT doc_id FROM documents WHERE doc_id < 30""")),

    Q("q_dedup_embedding_planted",
      (s, d) => {
        val emb = s.read.parquet(pq(d, "embeddings"))
          .select(col("vec_id"), col("embedding"))
        val planted = emb.where(col("vec_id") < 50)
          .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
        graft.operators.Dedup.embeddingDuplicates(emb.unionByName(planted),
          "vec_id", "embedding", planes = 6, minCosine = 0.999)
          .where(col("id_b") - col("id_a") === 100000L && col("id_a") < 50)
      },
      Some("""SELECT vec_id AS id_a, vec_id + 100000 AS id_b,
              CAST(1.0 AS DOUBLE) AS cosine
              FROM embeddings WHERE vec_id < 50""")),

    // join-free Bloom membership pre-filter: re-ingested copies MUST be
    // flagged (Bloom admits no false negatives), so the flagged planted
    // slice is an exact expected set; novel probes (+200000, text
    // prefixed per-doc) exercise the false-positive path but are
    // excluded from the output so the sketch's FP noise can't touch
    // the oracle
    Q("q_dedup_bloom",
      (s, d) => {
        val docs = s.read.parquet(pq(d, "documents"))
          .select(col("doc_id"), col("text"))
        val copies = docs.where(col("doc_id") < 50)
          .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
        val novel = docs.where(col("doc_id") < 50)
          .select((col("doc_id") + 200000L).as("doc_id"),
            concat(lit("novel "), col("doc_id").cast("string"),
              lit(" "), col("text")).as("text"))
        graft.operators.Dedup.bloomSeenFlags(
          copies.unionByName(novel), docs, "doc_id", "text")
          .where(col("maybe_seen") && col("doc_id") < 200000L)
          .select(col("doc_id"))
      },
      Some("""SELECT doc_id + 100000 AS doc_id FROM documents
              WHERE doc_id < 50""")),

    // bucket-drop accounting as a driver-checked invariant: run the LSH
    // candidate stage, then read its observe() metrics — zero dropped
    // buckets on this corpus, exactly one bucketed expansion in the
    // plan, and a non-empty pair set (which is also what makes the
    // observe metric reliable under AQE — see Dedup.observeBuckets).
    // The count() inside the query body IS the action that populates
    // the metrics; the returned frame is metric-sized (driver-local by
    // construction, not a collect of data rows).
    Q("q_dedup_observe",
      (s, d) => {
        val cand = graft.operators.Dedup.minhashCandidates(
          s.read.parquet(pq(d, "documents")), "doc_id", "text")
        // collect(), not count(): count() routes through a NEW grouped
        // QueryExecution, so the observe metrics would land there while
        // bucketMetrics reads cand's own execution. The pair set is
        // near-dup-pair-sized (two longs each), not corpus-sized.
        val nPairs = cand.collect().length
        val m = graft.operators.Dedup.bucketMetrics(cand)
        import s.implicits._
        Seq((m.size.toLong, m.values.map(_._2).sum,
          if (nPairs > 0) 1L else 0L))
          .toDF("n_observations", "n_dropped_buckets", "has_pairs")
      },
      Some("""SELECT CAST(1 AS BIGINT) AS n_observations,
              CAST(0 AS BIGINT) AS n_dropped_buckets,
              CAST(1 AS BIGINT) AS has_pairs""")),

    // ---- semantic dedup --------------------------------------------
    // SemDeDup (Abbas et al. 2023): IVF cells → within-cell cosine pairs
    // → connected components → survivor selection. Planted identical
    // embeddings (vec_id < 30 copied at +100000/+200000) MUST collapse
    // to their source id: an identical copy lands in the same
    // (deterministic) cell, its cosine is exactly 1.0, and min-id
    // survivor selection keeps the source — an exact expected set, the
    // q_dedup_survivors pattern for the semantic pipeline. The pmod
    // filter keeps the planted universe; natural embeddings are random,
    // so no natural pair reaches cosine 0.999.
    Q("q_dedup_semantic",
      (s, d) => semanticDedupPlanted(s, d, twoLevel = false),
      Some(semanticDedupOracleSql)),

    // scale-safe semantic dedup (round 13): the SAME planted corpus,
    // verdict and oracle as q_dedup_semantic, but assignment runs the
    // two-level coarse-quantized argmax (NearestCentroidTwoLevelExpr,
    // O(√nlist·dim)/row instead of O(nlist·dim)) — the production mode
    // for nlist ∝ N, where the flat scan is formally quadratic
    // (measured r12, scale_evidence/). The oracle holds VERBATIM
    // because assignment stays a deterministic pure function of the
    // vector: planted identical embeddings co-assign under ANY
    // assignment function, their cosine is exactly 1.0, and min-id
    // survivor selection keeps the source. Shared-oracle = the
    // semantics-preservation contract, the q_ingest_admission_state
    // pattern.
    Q("q_dedup_semantic_twolevel",
      (s, d) => semanticDedupPlanted(s, d, twoLevel = true),
      Some(semanticDedupOracleSql)),

    // incremental semantic ingestion: batch embeddings matched against
    // the corpus's persisted IVF index without re-clustering it —
    // planted copies (re-ingested vec_id < 50 under new ids) land in
    // their source's cell by assignment determinism and MUST match it
    // at cosine 1.0; the id-distance filter projects out incidental
    // natural matches, the q_dedup_incremental_minhash discipline
    Q("q_dedup_incremental_semantic",
      (s, d) => {
        val emb = s.read.parquet(pq(d, "embeddings"))
          .where(col("vec_id") < 100000L)
          .select(col("vec_id"), col("embedding"))
        val batch = emb.where(col("vec_id") < 50)
          .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
        graft.operators.Dedup.incrementalSemantic(batch, emb,
          "vec_id", "embedding", nlist = 32, minCosine = 0.999)
          .where(col("new_id") - col("seen_id") === 100000L)
      },
      Some("""SELECT vec_id + 100000 AS new_id, vec_id AS seen_id,
              CAST(1.0 AS DOUBLE) AS cosine
              FROM embeddings WHERE vec_id < 50""")),

    // ---- incremental ingestion and admission -----------------------
    // incremental ingestion dedup: a synthesized batch (every 5th doc an
    // exact repeat of history, every 7th collapsed to one shared body,
    // rest genuinely new) anti-joined against the already-seen corpus —
    // history is touched only as a hash projection
    Q("q_dedup_incremental",
      (s, d) => {
        val seen = s.read.parquet(pq(d, "documents"))
        val batch = seen.select((col("doc_id") + 10000).as("doc_id"),
          when(col("doc_id") % 7 === 3, lit("shared new document body"))
            .when(col("doc_id") % 5 === 0, col("text"))
            .otherwise(concat(col("text"), lit(" v2"))).as("text"))
        graft.operators.Dedup.incrementalExact(batch, seen,
          "doc_id", "text")
      },
      Some("""WITH batch AS (SELECT doc_id + 10000 AS doc_id,
                CASE WHEN doc_id % 7 = 3 THEN 'shared new document body'
                     WHEN doc_id % 5 = 0 THEN text
                     ELSE text || ' v2' END AS text FROM documents),
              seen AS (SELECT DISTINCT md5(text) AS h FROM documents),
              b AS (SELECT doc_id, text, md5(text) AS h FROM batch),
              a AS (SELECT b.doc_id, b.text, b.h FROM b
                LEFT JOIN seen ON b.h = seen.h WHERE seen.h IS NULL),
              k AS (SELECT doc_id, text, row_number() OVER
                (PARTITION BY h ORDER BY doc_id) AS rn FROM a)
              SELECT doc_id, text FROM k WHERE rn = 1""")),

    // near-dup ingestion against the existing corpus via its banded
    // index: planted copies (batch = docs 0-49 re-ingested under new
    // ids) MUST match their source at jaccard 1.0; the id-distance
    // filter projects out incidental natural near-dup matches, exactly
    // like q_dedup_minhash_planted
    Q("q_dedup_incremental_minhash",
      (s, d) => {
        val docs = s.read.parquet(pq(d, "documents"))
          .select(col("doc_id"), col("text"))
        val batch = docs.where(col("doc_id") < 50)
          .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
        graft.operators.Dedup.incrementalMinhash(batch, docs,
          "doc_id", "text", minJaccard = 0.99)
          .where(col("new_id") - col("seen_id") === 100000L)
      },
      Some("""SELECT doc_id + 100000 AS new_id, doc_id AS seen_id,
              CAST(1.0 AS DOUBLE) AS jaccard
              FROM documents WHERE doc_id < 50""")),

    // full ingestion-admission pipeline, end-to-end (the ingestion
    // analog of q_pipeline_e2e): bloom gate → exact anti-join → banded
    // near-dup gate. history = docs 0-399; batch = exact re-ingests of
    // 0-49 (bloom-flagged, exact-rejected), one-token edits of 50-79
    // (the edit changes the exact hash so bloom passes them — ONLY the
    // minhash gate can reject them, at jaccard S/(S+1) ≈ 0.98), and
    // novel docs 400-449 (admitted except those with a natural
    // ≥0.95-jaccard twin in history). The admitted set is exact SQL:
    // bloom has no false negatives (FPs drain through the exact join),
    // and every LSH candidate is verified with exact jaccard — the
    // oracle replays the same true-jaccard predicate over 3-word
    // shingles (natural jaccard at this SF tops out at 0.989, well
    // clear of both sides of the 0.95 gate).
    Q("q_ingest_admission",
      (s, d) => {
        val (history, batch) = admissionBatch(s, d)
        // sketch sized to the history (the production practice): the
        // probe embeds the sketch bytes in the plan, so an oversized
        // default would ship 1 MB of literal for a 400-doc history
        graft.operators.Dedup.ingestAdmission(batch, history,
          "doc_id", "text", expectedItems = 10000L, numBits = 1L << 17,
          minJaccard = 0.95)
          .select(col("doc_id"))
      },
      Some(admissionOracleSql)),

    // the persisted-state admission form under the driver's gates: the
    // SAME batch and oracle as q_ingest_admission, but the Bloom sketch
    // and band index come from a prebuilt on-disk fixture
    // (admissionState) instead of being fingerprinted from history
    // inline — the form whose 100 TB claim ("per-batch cost independent
    // of history size") actually matters. The admitted set is identical
    // by construction, so the oracle is shared verbatim.
    Q("q_ingest_admission_state",
      (s, d) => {
        val (history, batch) = admissionBatch(s, d)
        val (sketch, bands) = admissionState(s, d, history)
        graft.operators.Dedup.ingestAdmissionAgainstState(batch, history,
          Some(sketch), bands, "doc_id", "text", minJaccard = 0.95)
          .select(col("doc_id"))
      },
      Some(admissionOracleSql)),

    // ingestion admission with NORMALIZED exact keys (keyOf =
    // normalizeForDedup): same pipeline as q_ingest_admission, but the
    // batch's docs 25-49 are case-/punctuation-reformatted copies of
    // history — invisible to the raw exact hash AND to raw-text
    // shingle signatures (case changes every shingle), so only the
    // normalized key path can reject them. Docs 0-24 are exact copies
    // (plain path still rejects); 400-449 novel (admitted minus
    // natural ≥0.95-jaccard twins, same replay as q_ingest_admission)
    Q("q_ingest_admission_normalized",
      (s, d) => {
        val docs = s.read.parquet(pq(d, "documents"))
          .select(col("doc_id"), col("text"))
        val history = docs.where(col("doc_id") < 400)
        val batch = docs.where(col("doc_id") < 25)
            .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
          .unionAll(docs.where(col("doc_id").between(25, 49))
            .select((col("doc_id") + 100000L).as("doc_id"),
              concat(lit("¡"), upper(col("text")), lit("!!!")).as("text")))
          .unionAll(docs.where(col("doc_id").between(400, 449))
            .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
        graft.operators.Dedup.ingestAdmission(batch, history,
          "doc_id", "text", expectedItems = 10000L, numBits = 1L << 17,
          minJaccard = 0.95,
          keyOf = graft.functions.TextAnalysis.normalizeForDedup)
          .select(col("doc_id"))
      },
      Some("""WITH h AS (SELECT doc_id, text FROM documents
                WHERE doc_id < 400),
              b AS (SELECT doc_id + 100000 AS doc_id, text
                  FROM documents WHERE doc_id < 25
                UNION ALL
                SELECT doc_id + 100000, '¡' || upper(text) || '!!!'
                  FROM documents WHERE doc_id BETWEEN 25 AND 49
                UNION ALL
                SELECT doc_id + 100000, text
                  FROM documents WHERE doc_id BETWEEN 400 AND 449),
              hn AS (SELECT trim(regexp_replace(regexp_replace(
                  regexp_replace(lower(text), '\p{Nd}', '0', 'g'),
                  '[\p{P}\p{S}]', '', 'g'), '\s+', ' ', 'g')) AS k
                FROM h),
              bn AS (SELECT doc_id, trim(regexp_replace(regexp_replace(
                  regexp_replace(lower(text), '\p{Nd}', '0', 'g'),
                  '[\p{P}\p{S}]', '', 'g'), '\s+', ' ', 'g')) AS k
                FROM b),
              hs AS (SELECT doc_id, list_distinct(list_transform(
                  generate_series(0, greatest(len(toks) - 3, 0)),
                  i -> array_to_string(toks[i+1:i+3], ' '))) AS sh
                FROM (SELECT doc_id, string_split_regex(
                  regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')
                  AS toks FROM h)),
              bs AS (SELECT doc_id, list_distinct(list_transform(
                  generate_series(0, greatest(len(toks) - 3, 0)),
                  i -> array_to_string(toks[i+1:i+3], ' '))) AS sh
                FROM (SELECT doc_id, string_split_regex(
                  regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')
                  AS toks FROM b)),
              near AS (SELECT DISTINCT bs.doc_id FROM bs JOIN hs ON
                CAST(len(list_intersect(bs.sh, hs.sh)) AS DOUBLE) /
                  (len(bs.sh) + len(hs.sh) -
                    len(list_intersect(bs.sh, hs.sh))) >= 0.95)
              SELECT bn.doc_id FROM bn
              WHERE bn.k NOT IN (SELECT k FROM hn)
                AND NOT EXISTS (SELECT 1 FROM bn b2
                  WHERE b2.k = bn.k AND b2.doc_id < bn.doc_id)
                AND bn.doc_id NOT IN (SELECT doc_id FROM near)""")),

    // ---- substring spans -------------------------------------------
    // substring-level duplicate spans (Lee et al. 2022 style). The corpus
    // has no natural 10-gram repeats, so the query plants them via
    // spanAugmented (shared with the round-6 span-cut queries): every
    // doc gets the first 12 words of donor doc (doc_id % 10) appended —
    // the 3 windows inside that suffix duplicate corpus-wide
    Q("q_dup_spans",
      (s, d) => graft.operators.Dedup.duplicateSpans(
        spanAugmented(s, d), "doc_id", "text", spanWords = 10),
      Some(spanStatsOracle)),

    // duplicate-span statistic under the 128-bit (two-long struct)
    // window key: identical semantics — the oracle is q_dup_spans's,
    // the SAME string — so the 10^13-window hash upgrade is
    // driver-checked, not just a parameter that compiles
    Q("q_dup_spans_128",
      (s, d) => graft.operators.Dedup.duplicateSpans(
        spanAugmented(s, d), "doc_id", "text", spanWords = 10,
        hashBits = 128),
      Some(spanStatsOracle)),

    // span CUT extraction (Lee et al. 2022 — the corpus operation, not
    // just the statistic): maximal merged token intervals of windows
    // with corpus count >= 2. With the q_dup_spans planting, each
    // non-donor doc's cut is exactly its appended 12-token donor
    // suffix; donors additionally cut their own 12-token prefix. The
    // oracle replays windows → occ → interval merge generically rather
    // than hand-deriving that shape, so natural repeats (none at these
    // SFs, but the query must not assume it) stay covered.
    Q("q_dup_span_cut",
      (s, d) => graft.operators.Dedup.duplicateSpanCuts(
        spanAugmented(s, d), "doc_id", "text", spanWords = 10),
      Some(spanCutOracleCtes + """
        SELECT doc_id, CAST(s AS BIGINT) AS span_start,
          CAST(e AS BIGINT) AS span_end FROM cuts""")),

    // the rewrite half: drop exactly the cut intervals, rejoin with
    // single spaces. For non-donor docs this recovers the original
    // (space-normalized) text; the oracle again replays generically —
    // per-token anti-join against the cut intervals, re-aggregated in
    // position order.
    Q("q_dup_span_rewrite",
      (s, d) => {
        val aug = spanAugmented(s, d)
        graft.operators.Dedup.rewriteWithoutSpans(aug,
          graft.operators.Dedup.duplicateSpanCuts(aug, "doc_id", "text",
            spanWords = 10),
          "doc_id", "text")
      },
      Some(spanCutOracleCtes + """,
        tok AS (SELECT doc_id, unnest(toks) AS wd,
          unnest(generate_series(1, len(toks))) AS p FROM t),
        keep AS (SELECT tok.doc_id, wd, p FROM tok
          WHERE NOT EXISTS (SELECT 1 FROM cuts
            WHERE cuts.doc_id = tok.doc_id
              AND tok.p - 1 >= cuts.s AND tok.p - 1 < cuts.e)),
        agg AS (SELECT doc_id, string_agg(wd, ' ' ORDER BY p) AS text_cut
          FROM keep GROUP BY doc_id)
        SELECT t.doc_id, COALESCE(agg.text_cut, '') AS text_cut
        FROM t LEFT JOIN agg ON t.doc_id = agg.doc_id""")),

    // ---- content-defined chunks ------------------------------------
    // content-defined chunking (FastCDC gear, round 12): copies of the
    // long docs (n_chars >= 400) planted behind a per-doc prefix MUST
    // re-synchronize to shared chunk hashes inside the unchanged text
    // — the storage-dedup property whole-document hashing and
    // fixed-offset blocking both lack. Gate columns: every planted
    // pair found via chunk-hash equality (measured on this corpus:
    // all pairs share >= 2 chunks / >= 230 bytes at (16, 32, 256)),
    // and the chunk table tiles every document exactly
    // (sum(chunk_len) = octet_length, corpus-wide). The one-row
    // verdict frames join via broadcast (the one-row-totals pattern).
    Q("q_cdc_chunk_dedup",
      (s, d) => {
        import graft.operators.Dedup
        val docs = s.read.parquet(pq(d, "documents"))
          .select(col("doc_id"), col("text"), col("n_chars"))
        val base = docs.where(col("doc_id") < 50 && col("n_chars") >= 400)
          .select(col("doc_id"), col("text"))
        val planted = base.select((col("doc_id") + 100000L).as("doc_id"),
          concat(lit("completely different prefix material here "),
            col("doc_id").cast("string"), lit(" :: "), col("text"))
            .as("text"))
        val found = Dedup.cdcSharedChunkPairs(base.unionByName(planted),
            "doc_id", "text", minSize = 16, avgSize = 32, maxSize = 256)
          .where(col("id_b") - col("id_a") === 100000L &&
            col("id_a") < 50)
          .agg(count(lit(1)).as("n_planted_found"))
        val badTiling = Dedup.cdcChunkHashes(
            docs.select(col("doc_id"), col("text")), "doc_id", "text",
            minSize = 16, avgSize = 32, maxSize = 256)
          .groupBy(col("doc_id")).agg(sum(col("chunk_len")).as("__b"))
          .join(docs.select(col("doc_id"),
            octet_length(col("text")).as("__blen")), "doc_id")
          .where(col("__b") =!= col("__blen"))
          .agg(count(lit(1)).as("n_bad_tiling"))
        found.crossJoin(broadcast(badTiling))
      },
      Some("""SELECT (SELECT COUNT(*) FROM documents
                WHERE doc_id < 50 AND n_chars >= 400)
                AS n_planted_found,
              CAST(0 AS BIGINT) AS n_bad_tiling""")),

    // CDC novelty scoring (round 12): the incremental form — a batch
    // valued against a persisted chunk index (history enters as ONE
    // distinct hash column, text never re-read). Planted arithmetic:
    // exact copies of indexed docs score EXACTLY 0.0 (every chunk
    // seen), prefix-edited copies strictly > 0 (the altered first
    // chunk is new by construction), and the disjoint novel slice
    // averages near 1.0 (measured 0.972 at sf0.01 — a few natural
    // duplicate texts legitimately score 0, so the gate is the
    // average, floored at 0.9). Fixture/verdict/oracle shared with
    // q_cdc_novelty_state (round 13): the persisted-index form is the
    // same semantics by contract, so it gets the same literals.
    Q("q_cdc_novelty",
      (s, d) => cdcNoveltyVerdict(
        graft.operators.Dedup.cdcNovelty(cdcNoveltyBatch(s, d),
          "doc_id", "text",
          graft.operators.Dedup.cdcChunkHashes(cdcNoveltyHistory(s, d),
            "doc_id", "text", minSize = 16, avgSize = 32,
            maxSize = 256),
          minSize = 16, avgSize = 32, maxSize = 256)),
      Some(cdcNoveltyOracleSql)),

    // persisted CDC chunk-index lifecycle (round 13): the SAME batch,
    // verdict and oracle as q_cdc_novelty, but the index is the
    // on-disk ChunkIndex (bucket-partitioned hashes + Bloom sketch,
    // content-keyed fixture built once) and novelty runs through
    // cdcNoveltyAgainstIndex — sketch-negative chunks are novel
    // join-free, sketch-positives anti-join the persisted hash
    // column. Identical oracle = the contract that the persisted form
    // is semantics-preserving; the steady-state bench time measures
    // probing prebuilt state (the production shape; ChunkIndex.append
    // is the incremental writer, exercised by ChunkIndexSpec).
    Q("q_cdc_novelty_state",
      (s, d) => {
        import graft.operators.Dedup
        val root = Fixture(
          new java.io.File(d, "documents.parquet"),
          "graft_chunk_index",
          // chunking params + index layout version: stale fixtures
          // from older code must not be reused by newer code
          codeKey = "cdc:16,32,256;index:sketch-first") { tmp =>
          graft.sources.ChunkIndex.create(
            Dedup.cdcChunkHashes(cdcNoveltyHistory(s, d),
              "doc_id", "text", minSize = 16, avgSize = 32,
              maxSize = 256),
            tmp.toString, buckets = 16)
        }
        cdcNoveltyVerdict(
          Dedup.cdcNoveltyAgainstIndex(
            cdcNoveltyBatch(s, d), "doc_id", "text",
            root.toString, minSize = 16, avgSize = 32, maxSize = 256))
      },
      Some(cdcNoveltyOracleSql)),

    // chunk-level dedup capstone (round 13): the Lee et al. span-cut
    // operation on CDC boundaries — cdcDuplicateChunkCuts (global
    // first occurrence by (id, start) survives) → byte-splice rewrite.
    // Planted corpus: long base docs, exact copies (+100000),
    // prefix-edited copies (+200000). Gates, all in-plan: base docs
    // rewrite UNCHANGED (first occurrences; measured: no natural
    // cross-doc chunk collisions in this slice at (16,32,256)), exact
    // copies rewrite to EMPTY (every chunk seen earlier),
    // prefix-edited copies keep a strictly-shorter nonempty remainder
    // (their novel prefix region), and byte conservation holds
    // exactly: octet_length(text_cut) = octet_length(text) - cut
    // bytes, corpus-wide.
    Q("q_cdc_pipeline",
      (s, d) => {
        import graft.operators.Dedup
        val docs = s.read.parquet(pq(d, "documents"))
          .select(col("doc_id"), col("text"), col("n_chars"))
        // ASCII-only base docs: the byte-splice rewrite's EXACT
        // conservation arithmetic presumes no cut edge splits a
        // multi-byte codepoint (the operator's documented caveat) —
        // enforce the precondition in-plan instead of assuming the
        // fixture stays ASCII forever
        val base = docs.where(col("doc_id") < 50 && col("n_chars") >= 400
            && col("text").rlike("^[\\x00-\\x7F]*$"))
          .select(col("doc_id"), col("text"))
        val copies = base
          .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
        val edited = base
          .select((col("doc_id") + 200000L).as("doc_id"),
            concat(lit("fresh lead material "),
              col("doc_id").cast("string"), lit(" :: "), col("text"))
              .as("text"))
        val corpus = base.unionByName(copies).unionByName(edited)
        val cuts = Dedup.cdcDuplicateChunkCuts(corpus, "doc_id", "text",
          minSize = 16, avgSize = 32, maxSize = 256)
        val rewritten = Dedup.rewriteWithoutChunkCuts(corpus, cuts,
          "doc_id", "text")
        val cutBytes = cuts.groupBy(col("doc_id"))
          .agg(sum(col("cut_end") - col("cut_start")).as("__cb"))
        rewritten.join(corpus, "doc_id")
          .join(cutBytes, Seq("doc_id"), "left")
          .select(col("doc_id"), col("text"), col("text_cut"),
            octet_length(col("text")).as("__olen"),
            octet_length(col("text_cut")).as("__clen"),
            coalesce(col("__cb"), lit(0L)).as("__cb"))
          .agg(
            sum(when(col("doc_id") < 100000L &&
              col("text_cut") =!= col("text"), 1L).otherwise(0L))
              .as("n_base_changed"),
            sum(when(col("doc_id").between(100000L, 199999L), 1L)
              .otherwise(0L)).as("n_copies"),
            sum(when(col("doc_id").between(100000L, 199999L) &&
              col("__clen") === 0L, 1L).otherwise(0L))
              .as("n_copies_empty"),
            sum(when(col("doc_id") >= 200000L, 1L).otherwise(0L))
              .as("n_edited"),
            sum(when(col("doc_id") >= 200000L &&
              col("__clen") > 0L && col("__clen") < col("__olen"), 1L)
              .otherwise(0L)).as("n_edited_trimmed"),
            sum(when(col("__clen") =!=
              col("__olen") - col("__cb"), 1L).otherwise(0L))
              .as("n_conservation_violations"))
      },
      Some("""SELECT CAST(0 AS BIGINT) AS n_base_changed,
              (SELECT COUNT(*) FROM documents
                WHERE doc_id < 50 AND n_chars >= 400
                  AND regexp_full_match(text, '[\x00-\x7F]*')) AS n_copies,
              (SELECT COUNT(*) FROM documents
                WHERE doc_id < 50 AND n_chars >= 400
                  AND regexp_full_match(text, '[\x00-\x7F]*')) AS n_copies_empty,
              (SELECT COUNT(*) FROM documents
                WHERE doc_id < 50 AND n_chars >= 400
                  AND regexp_full_match(text, '[\x00-\x7F]*')) AS n_edited,
              (SELECT COUNT(*) FROM documents
                WHERE doc_id < 50 AND n_chars >= 400
                  AND regexp_full_match(text, '[\x00-\x7F]*')) AS n_edited_trimmed,
              CAST(0 AS BIGINT) AS n_conservation_violations""")),

    // ---- benchmark contamination -----------------------------------
    // benchmark decontamination: distinct 5-gram overlap of each doc
    // against the held-out set (source = src0); finds the planted
    // near-dups whose source differs
    Q("q_contamination",
      (s, d) => {
        // repartition: the CPU-bound shingle pass would otherwise run in
        // as few tasks as the corpus has file splits (one, at test SF)
        val docs = s.read.parquet(pq(d, "documents"))
          .repartition(s.sparkContext.defaultParallelism)
        graft.operators.Dedup.contaminationScore(
          docs.where(col("source") =!= "src0"),
          docs.where(col("source") === "src0"),
          "doc_id", "text", shingleWords = 5)
      },
      Some("""WITH t AS (SELECT doc_id, source,
                string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS toks FROM documents),
              s AS (SELECT doc_id, source,
                unnest(list_distinct(list_transform(
                  generate_series(0, greatest(len(toks)-5, 0)),
                  i -> array_to_string(toks[i+1:i+5], ' ')))) AS sh FROM t),
              bench AS (SELECT DISTINCT sh FROM s WHERE source = 'src0'),
              d AS (SELECT doc_id, s.sh,
                CASE WHEN bench.sh IS NULL THEN 0 ELSE 1 END AS hit
                FROM s LEFT JOIN bench ON s.sh = bench.sh
                WHERE s.source <> 'src0')
              SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
                CAST(sum(hit) AS BIGINT) AS n_contaminated,
                ROUND(CAST(sum(hit) AS DOUBLE)/count(*), 4) AS contamination
              FROM d GROUP BY doc_id""")),

    // decontamination against MANY benchmarks in one pass: src0 and
    // src1 act as two held-out sets; output is only the (doc,
    // benchmark) pairs with >= 1 shared 5-gram — hits-sized, never
    // |docs| x |benchmarks|
    Q("q_contamination_multi",
      (s, d) => {
        val docs = s.read.parquet(pq(d, "documents"))
          .repartition(s.sparkContext.defaultParallelism)
        graft.operators.Dedup.contaminationScoreMulti(
          docs.where(!col("source").isin("src0", "src1")),
          docs.where(col("source").isin("src0", "src1"))
            .select(col("source").as("benchmark"), col("text")),
          "doc_id", "text", "benchmark", shingleWords = 5)
      },
      Some("""WITH t AS (SELECT doc_id, source,
                string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS toks FROM documents),
              sh AS (SELECT doc_id, source,
                unnest(list_distinct(list_transform(
                  generate_series(0, greatest(len(toks)-5, 0)),
                  i -> array_to_string(toks[i+1:i+5], ' ')))) AS sh FROM t),
              bench AS (SELECT DISTINCT source AS benchmark, sh
                FROM sh WHERE source IN ('src0', 'src1')),
              d AS (SELECT doc_id, sh FROM sh
                WHERE source NOT IN ('src0', 'src1')),
              tot AS (SELECT doc_id, CAST(count(*) AS BIGINT)
                  AS n_shingles FROM d GROUP BY 1),
              hits AS (SELECT doc_id, benchmark,
                  CAST(count(*) AS BIGINT) AS n_contaminated
                FROM d JOIN bench USING (sh) GROUP BY 1, 2)
              SELECT hits.doc_id, benchmark, n_shingles, n_contaminated,
                ROUND(CAST(n_contaminated AS DOUBLE) / n_shingles, 4)
                  AS contamination
              FROM hits JOIN tot ON hits.doc_id = tot.doc_id""")),

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
        contaminationThetaVerdict(
          exactCounts.crossJoin(broadcast(leg(20))))
      },
      Some(contaminationThetaOracle)),

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
        val exactCounts = contaminationExactCounts(
          docs.where(col("source") =!= "src0"),
          docs.where(col("source") === "src0"))
        val fromLog = Dedup.contaminationFromLog(s, s"$root/lgk20",
          benchShards = Seq("src0"), lgK = 20)
        val est = Dedup.contaminationFromLog(s, s"$root/lgk9",
          benchShards = Seq("src0"), lgK = 9)
          .select(col("overlap_lower").as("el"),
            col("overlap_upper").as("eu"))
        contaminationThetaVerdict(exactCounts
          .crossJoin(broadcast(fromLog)).crossJoin(broadcast(est)))
      },
      Some(contaminationThetaOracle)))
}
