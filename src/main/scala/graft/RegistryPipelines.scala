package graft

import org.apache.spark.sql.functions._

import SparkEntry._

/** Training-data pipelines: sampling and splits, source mixing and
  * selection, packing and token budgets, and the curation and crawl
  * capstones that compose operators from the other domains. */
private[graft] object RegistryPipelines {

  val entries: Seq[Q] = Seq(
    // ---- sampling and splits ---------------------------------------
    // deterministic hash sampling: membership is a pure function of
    // (key, salt, fraction) — same sample every run, every partitioning,
    // every engine (unlike df.sample, whose RNG is partition-dependent)
    Q("q_sample_hash",
      (s, d) => graft.operators.Sampling.hashSample(
        s.read.parquet(pq(d, "documents")).select(col("doc_id"), col("lang")),
        "doc_id", 0.15, salt = "graft"),
      Some("""SELECT doc_id, lang FROM documents
              WHERE substr(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 4)
                < '2666'""")),

    // deterministic per-group sample: k docs per language, chosen by
    // stable hash order (one shuffle on the group key)
    Q("q_sample_per_group",
      (s, d) => graft.operators.Sampling.hashSamplePerGroup(
        s.read.parquet(pq(d, "documents")).select(col("doc_id"), col("lang")),
        "doc_id", Seq("lang"), k = 3, salt = "g"),
      Some("""SELECT doc_id, lang FROM (
                SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
                  ORDER BY md5('g' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
                FROM documents) WHERE rn <= 3""")),

    // per-row weighted keep (longer docs kept proportionally more often);
    // deterministic, engine-portable via printf-rendered threshold
    Q("q_sample_weighted",
      (s, d) => graft.operators.Sampling.hashSampleWeighted(
        s.read.parquet(pq(d, "documents"))
          .select(col("doc_id"), col("n_chars"),
            (col("n_chars") / lit(500.0)).as("w")),
        "doc_id", "w", salt = "w").drop("w"),
      // weight >= 1.0 → 'g' (keep ALL), mirroring hashSampleWeighted's
      // sentinel — a 'ffff' cap would drop prefix-ffff keys on both sides
      Some("""SELECT doc_id, n_chars FROM documents
              WHERE substr(md5('w' || CAST(doc_id AS VARCHAR)), 1, 4) <
                CASE WHEN CAST(n_chars AS DOUBLE)/500 >= 1.0 THEN 'g'
                ELSE printf('%04x', CAST(least(floor(least(greatest(
                  CAST(n_chars AS DOUBLE)/500, 0.0), 1.0)*65536), 65535)
                  AS INT)) END""")),

    // corpus rebalancing: per-language stratified subsample. Hash-based
    // membership is a pure function of (doc_id, salt, stratum fraction)
    // — reproducible across engines, so the sample is oracle-exact
    // (unlike df.stat.sampleBy's partition-seeded RNG, exercised in
    // SamplingSpec instead).
    Q("q_sample_stratified",
      (s, d) => graft.operators.Sampling.stratifiedHashSample(
        s.read.parquet(pq(d, "documents")), "doc_id", "lang",
        Map("en" -> 0.5, "de" -> 0.5, "fr" -> 0.25, "es" -> 0.25,
          "zh" -> 1.0), salt = "strat")
        .groupBy(col("lang")).agg(count(lit(1)).as("n_sampled")),
      // 'g' sorts after every hex prefix: fraction 1.0 keeps ALL zh
      // docs (a 'ffff' cap would drop keys hashing to exactly ffff)
      Some("""SELECT lang, COUNT(*) AS n_sampled FROM documents
              WHERE substr(md5('strat' || CAST(doc_id AS VARCHAR)), 1, 4) <
                CASE lang WHEN 'en' THEN '8000' WHEN 'de' THEN '8000'
                  WHEN 'fr' THEN '4000' WHEN 'es' THEN '4000'
                  WHEN 'zh' THEN 'g' ELSE '0000' END
              GROUP BY lang""")),

    // deterministic fixed-size sample: exactly 100 docs by stable hash
    // order — TakeOrderedAndProject, no global sort, no RNG
    Q("q_sample_fixed_n",
      (s, d) => graft.operators.Sampling.hashSampleN(
        s.read.parquet(pq(d, "documents")).select(col("doc_id"), col("lang")),
        "doc_id", n = 100, salt = "ev"),
      Some("""SELECT doc_id, lang FROM documents
              ORDER BY md5('ev' || CAST(doc_id AS VARCHAR)), doc_id
              LIMIT 100""")),

    // deterministic train/val/test split assignment by hashed key
    Q("q_split_assign",
      (s, d) => graft.operators.Sampling.splitAssign(
        s.read.parquet(pq(d, "documents")).select(col("doc_id")),
        "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
        salt = "split"),
      Some("""SELECT doc_id, CASE
                WHEN substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 4)
                  < 'cccc' THEN 'train'
                WHEN substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 4)
                  < 'e666' THEN 'val'
                ELSE 'test' END AS split FROM documents""")),

    // dedup-aware eval split: members of one duplicate family must land
    // in the SAME split, or val/test leaks (near-)copies of training
    // text. Families here are planted exact copies, so the cluster
    // label (min id per text) and the split hash are both
    // SQL-expressible; at scale the same operator takes
    // duplicateClusters labels for NEAR-dup families
    Q("q_split_leakage_safe",
      (s, d) => {
        val docs = s.read.parquet(pq(d, "documents"))
          .select(col("doc_id"), col("text"))
        val all = docs.unionAll(docs.where(col("doc_id") < 50)
          .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
        val labels = all
          .select(col("doc_id").as("id"),
            md5(col("text").cast("binary")).as("__h"))
          .join(graft.operators.Dedup.exactSummary(all, "text", "doc_id")
            .select(col("text_hash").as("__h"), col("keep_id").as("cluster")),
            "__h")
          .select(col("id"), col("cluster"))
        graft.operators.Sampling.leakageSafeSplitAssign(all, labels,
          "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
          salt = "lk")
          .select(col("doc_id"), col("split"))
      },
      // cccc/e666 = hexThreshold(0.8)/(0.9): floor(f*65536) in hex
      Some("""WITH a AS (SELECT doc_id, text FROM documents
                UNION ALL SELECT doc_id + 100000, text FROM documents
                WHERE doc_id < 50),
              c AS (SELECT doc_id,
                (SELECT MIN(a2.doc_id) FROM a a2 WHERE a2.text = a.text)
                  AS cluster FROM a)
              SELECT doc_id,
                CASE WHEN substr(md5('lk' || CAST(cluster AS VARCHAR)),
                    1, 4) < 'cccc' THEN 'train'
                  WHEN substr(md5('lk' || CAST(cluster AS VARCHAR)),
                    1, 4) < 'e666' THEN 'val'
                  ELSE 'test' END AS split
              FROM c""")),

    // ---- mixing and selection --------------------------------------
    // source-mixture rebalance: target 50/30/20 blend of three sources
    // by n_chars mass. The oracle replays the fraction plan in SQL —
    // same double arithmetic in the same order (T = min mass/share,
    // f = share*T/mass), same md5-prefix membership — so kept sets
    // match exactly. The per-source mass collect is source-vocabulary-
    // sized driver data, like the IVF centroid table.
    Q("q_mixture_rebalance",
      (s, d) => {
        val docs = s.read.parquet(pq(d, "documents"))
          .where(col("source").isin("src0", "src1", "src2"))
        graft.operators.Mixture.rebalance(docs, "doc_id", "source",
          "n_chars", Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_kept"),
            sum(col("n_chars")).as("chars_kept"))
      },
      Some("""WITH m AS (SELECT source, SUM(n_chars) AS mass
                FROM documents WHERE source IN ('src0','src1','src2')
                GROUP BY source),
              w AS (SELECT * FROM (VALUES ('src0', CAST(0.5 AS DOUBLE)),
                ('src1', CAST(0.3 AS DOUBLE)), ('src2', CAST(0.2 AS DOUBLE)))
                t(source, share)),
              f AS (SELECT m.source,
                LEAST(1.0, w.share * (SELECT MIN(m2.mass / w2.share)
                  FROM m m2 JOIN w w2 USING (source)) / m.mass) AS frac
                FROM m JOIN w USING (source)),
              thr AS (SELECT source, CASE WHEN frac >= 1.0 - 1e-12 THEN 'g'
                ELSE printf('%04x',
                CAST(LEAST(floor(frac * 65536), 65535) AS INTEGER)) END
                AS th FROM f)
              SELECT d.source, COUNT(*) AS n_kept,
                CAST(SUM(d.n_chars) AS BIGINT) AS chars_kept
              FROM documents d JOIN thr ON d.source = thr.source
              WHERE substr(md5('mix' || CAST(d.doc_id AS VARCHAR)), 1, 4)
                < thr.th
              GROUP BY d.source""")),

    // temperature mixing (round 12): α = 0.5 flattens the natural
    // source distribution toward uniform (p_s ∝ √mass_s — the
    // multilingual α-sampling recipe), then the binding-source
    // arithmetic and the deterministic md5-prefix sampler decide
    // membership. α = 0.5 specifically because sqrt is IEEE
    // correctly-rounded, so the oracle replays the whole chain —
    // masses, flattened shares, binding T, per-source thresholds,
    // membership — bit-exactly in SQL.
    Q("q_mixture_temperature",
      (s, d) => {
        val docs = s.read.parquet(pq(d, "documents"))
          .select(col("doc_id"), col("source"), col("n_chars"))
        graft.operators.Mixture.rebalanceTemperature(docs, "doc_id",
          "source", "n_chars", alpha = 0.5, salt = "temp")
          .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
      },
      Some("""WITH m AS (SELECT source, SUM(n_chars) AS mass
                FROM documents GROUP BY source),
              w AS (SELECT source, SQRT(CAST(mass AS DOUBLE)) /
                  (SELECT SUM(SQRT(CAST(mass AS DOUBLE))) FROM m)
                  AS share FROM m),
              f AS (SELECT m.source, LEAST(1.0, w.share *
                  (SELECT MIN(m2.mass / w2.share) FROM m m2
                    JOIN w w2 USING (source)) / m.mass) AS frac
                FROM m JOIN w USING (source)),
              thr AS (SELECT source,
                CASE WHEN frac >= 1.0 - 1e-12 THEN 'g'
                  ELSE printf('%04x', CAST(LEAST(floor(frac * 65536),
                    65535) AS INTEGER)) END AS th FROM f)
              SELECT d.source, COUNT(*) AS n_kept
              FROM documents d JOIN thr USING (source)
              WHERE substr(md5('temp' || CAST(d.doc_id AS VARCHAR)), 1, 4)
                < thr.th
              GROUP BY d.source""")),

    // RefinedWeb-style per-domain cap: at most 10 docs per source,
    // chosen by the deterministic md5-of-key order — survivors are a
    // pure function of (source, doc_id, cap), so the oracle replays
    // the same window in SQL (DuckDB md5 = same lowercase hex).
    Q("q_domain_cap",
      (s, d) => {
        graft.operators.Sampling.capPerGroup(
            s.read.parquet(pq(d, "documents")), "source", "doc_id",
            cap = 10)
          .select(col("doc_id"), col("source"))
      },
      Some("""SELECT doc_id, source FROM (
                SELECT doc_id, source, ROW_NUMBER() OVER (
                  PARTITION BY source
                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
                FROM documents)
              WHERE rk <= 10""")),

    // DSIR importance selection (Xie et al. 2023): weight every doc by
    // its smoothed token-bag likelihood ratio against the en-subset
    // target distribution, keep the top 100. Deterministic counting
    // end to end, and the arithmetic is integer-exact: each smoothed
    // ln is snapped to the 1e-9 grid as a BIGINT, the per-doc sum is a
    // pure integer sum (order-independent — a raw double Σ left the
    // emitted value flipping 4th-decimal rounding boundaries between
    // engines, the r6/r7 gate failure), and the final 4-decimal
    // rounding of S/(dl·1e9) is half-away-from-zero integer division
    // replayed verbatim by the oracle. Kept set, tiebreak, and value
    // are all pure functions of the data.
    Q("q_dsir_select",
      (s, d) => {
        val docs = s.read.parquet(pq(d, "documents"))
        graft.operators.Importance.dsirSelect(
          docs, "doc_id", "text", col("lang") === "en", k = 100)
      },
      Some("""WITH toks AS (SELECT doc_id,
                  unnest(string_split_regex(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+'))
                    AS term
                FROM documents WHERE length(regexp_replace(text, '^\s+|\s+$', '', 'g')) > 0),
              n AS (SELECT doc_id, term, COUNT(*) AS n
                FROM toks GROUP BY 1, 2),
              rawc AS (SELECT term, SUM(n) AS cnt_r FROM n GROUP BY 1),
              tgtc AS (SELECT n.term, SUM(n.n) AS cnt_t
                FROM n JOIN documents d USING (doc_id)
                WHERE d.lang = 'en' GROUP BY 1),
              st AS (SELECT
                  (SELECT SUM(cnt_r) FROM rawc) AS tok_r,
                  (SELECT COUNT(*) FROM rawc) AS vocab,
                  (SELECT COALESCE(SUM(cnt_t), 0) FROM tgtc) AS tok_t),
              contrib AS (SELECT n.doc_id, n.n,
                  n.n * (CAST(ROUND(LN((COALESCE(tgtc.cnt_t, 0) + 1.0)
                          / (st.tok_t + 1.0 * st.vocab))
                        * 1000000000) AS BIGINT)
                    - CAST(ROUND(LN((rawc.cnt_r + 1.0)
                          / (st.tok_r + 1.0 * st.vocab))
                        * 1000000000) AS BIGINT)) AS c
                FROM n JOIN rawc USING (term)
                  LEFT JOIN tgtc USING (term) CROSS JOIN st),
              agg AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS s,
                  CAST(SUM(n) AS BIGINT) AS dl
                FROM contrib GROUP BY 1)
              SELECT doc_id, dl,
                SIGN(s) * ((2 * ABS(s) + dl * 100000)
                  // (2 * dl * 100000)) / 10000.0 AS log_weight
              FROM agg
              ORDER BY log_weight DESC, doc_id
              LIMIT 100""")),

    // round-robin source interleave: batch b takes the b-th document
    // of every source in reproducible hash order — the source-balanced
    // training data order; per-source window, never global
    Q("q_interleave_sources",
      (s, d) => graft.operators.Sampling.interleaveBySource(
          s.read.parquet(pq(d, "documents"))
            .select(col("doc_id"), col("source")),
          "source", "doc_id", salt = "ep0"),
      Some("""SELECT doc_id, source,
                ROW_NUMBER() OVER (PARTITION BY source
                  ORDER BY md5('ep0' || CAST(doc_id AS VARCHAR)),
                    doc_id) - 1 AS batch
              FROM documents""")),

    // deterministic training-order shuffle: shard by the first hex
    // digit of md5(salt||id), position within shard by the full hash —
    // shard-major order IS the reproducible shuffle, with no global
    // sort anywhere in the plan
    Q("q_shuffle_deterministic",
      (s, d) => graft.operators.Sampling.deterministicShuffle(
          s.read.parquet(pq(d, "documents")).select(col("doc_id")),
          "doc_id", shards = 8, salt = "ep0")
        .select(col("doc_id"), col("shard"), col("pos")),
      Some("""WITH h AS (SELECT doc_id,
                  md5('ep0' || CAST(doc_id AS VARCHAR)) AS h
                FROM documents)
              SELECT doc_id,
                (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) % 8
                  AS shard,
                ROW_NUMBER() OVER (
                  PARTITION BY (strpos('0123456789abcdef',
                    substr(h, 1, 1)) - 1) % 8
                  ORDER BY h, doc_id) AS pos
              FROM h""")),

    // ---- packing and token budgets ---------------------------------
    // stable contiguous 0..N-1 ids in key order WITHOUT a single-task
    // global window: range partition + parallel per-partition windows +
    // broadcast cumulative offsets (driver traffic = numPartitions rows)
    Q("q_assign_ids",
      (s, d) => graft.operators.Ids.stableOrdinals(
        s.read.parquet(pq(d, "documents")).select(col("doc_id")),
        "doc_id", "ordinal"),
      Some("""SELECT doc_id,
              CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT)
                AS ordinal FROM documents""")),

    // sequence packing: assign docs (in id order) to fixed-budget
    // training sequences via DISTRIBUTED prefix sum — range partition +
    // parallel per-partition cumsums + broadcast offsets; never the
    // single-task global window the naive OVER (ORDER BY) plans
    Q("q_pack_sequences",
      (s, d) => graft.operators.Pack.packSequences(
        s.read.parquet(pq(d, "documents")).select(col("doc_id"),
          col("n_chars")),
        "doc_id", "n_chars", maxTokens = 2000L)
        .select(col("doc_id"), col("seq_id"), col("seq_offset")),
      Some("""WITH c AS (SELECT doc_id, n_chars,
                CAST(COALESCE(SUM(n_chars) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS ex FROM documents)
              SELECT doc_id, CAST(floor(ex / 2000.0) AS BIGINT) AS seq_id,
                ex - CAST(floor(ex / 2000.0) AS BIGINT) * 2000
                  AS seq_offset FROM c""")),

    // token-budget selection: best-first prefix under a global budget
    Q("q_token_budget",
      (s, d) => graft.operators.Pack.takeTokenBudget(
        s.read.parquet(pq(d, "documents")).select(col("doc_id"),
          col("n_chars")),
        "doc_id", "n_chars", budget = 50000L),
      Some("""WITH c AS (SELECT doc_id, n_chars,
                CAST(SUM(n_chars) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum FROM documents)
              SELECT doc_id, n_chars FROM c WHERE cum <= 50000""")),

    // RAG-style token-window chunking: 64-token windows, stride 48
    // (16-token overlap); the oracle replays the window arithmetic and
    // the slice text exactly
    Q("q_chunk_tokens",
      (s, d) => graft.functions.TextAnalysis.chunkByTokens(
          s.read.parquet(pq(d, "documents"))
            .select(col("doc_id"), col("text")),
          "text", chunkSize = 64, stride = 48)
        .select(col("doc_id"), col("chunk_idx").cast("bigint"),
          col("chunk_start").cast("bigint"),
          col("chunk_tokens").cast("bigint"), col("chunk_text")),
      Some("""WITH t AS (SELECT doc_id,
                  string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS toks
                FROM documents WHERE length(regexp_replace(text, '^\s+|\s+$', '', 'g')) > 0),
              c AS (SELECT doc_id, toks, unnest(generate_series(0,
                  CAST(floor((greatest(len(toks) - 64, 0) + 47) / 48)
                    AS BIGINT))) AS chunk_idx FROM t)
              SELECT doc_id, chunk_idx, chunk_idx * 48 AS chunk_start,
                least(64, len(toks) - chunk_idx * 48) AS chunk_tokens,
                array_to_string(
                  toks[chunk_idx * 48 + 1 : chunk_idx * 48 + 64], ' ')
                  AS chunk_text
              FROM c""")),

    // ---- curation capstones ----------------------------------------
    // END-TO-END pipeline composition: quality-score + language-gate ->
    // exact dedup -> deterministic split assignment, in ONE declarative
    // plan (Catalyst fuses the scalar stages into the scan projection;
    // the only shuffles are the dedup window and nothing else — split
    // assignment is a pure predicate). The oracle replays every stage in
    // SQL, so the COMPOSITION is hash-verified, not just the parts.
    Q("q_pipeline_e2e",
      (s, d) => {
        import graft.functions.TextAnalysis
        val scored = s.read.parquet(pq(d, "documents"))
          .repartition(s.sparkContext.defaultParallelism)
          .select(col("doc_id"), col("text"),
            TextAnalysis.qualityScore(col("text")).as("quality"),
            TextAnalysis.langId(col("text")).as("lang_pred"))
          .where(col("quality") >= 0.5 && col("lang_pred") === "en")
        val deduped = graft.operators.Dedup.exact(
          scored, Seq("text"), "doc_id")
        graft.operators.Sampling.splitAssign(deduped, "doc_id",
          Seq("train" -> 0.9, "val" -> 0.1), salt = "e2e")
          .select(col("doc_id"), col("quality"), col("split"))
      },
      Some(raw"""WITH t AS (
                SELECT doc_id, text,
                  string_split_regex(lower(regexp_replace(text, '^\s+|\s+$$', '', 'g')), '\s+') AS ltoks,
                  string_split_regex(regexp_replace(text, '^\s+|\s+$$', '', 'g'), '\s+') AS toks
                FROM documents
              ), f AS (
                SELECT doc_id, text,
                  CAST(len(toks) AS DOUBLE) AS ntok,
                  CAST(length(regexp_replace(text, '[^\p{L}]', '', 'g'))
                    AS DOUBLE) / length(text) AS alpha_r,
                  CAST(length(regexp_replace(text, '[^[:punct:]]', '',
                    'g')) AS DOUBLE) / length(text) AS punct_r,
                  CAST(list_sum(list_transform(toks, x -> length(x)))
                    AS DOUBLE) / len(toks) AS mtl,
                  CAST(len(list_filter(ltoks, x -> list_contains(
                    $qualityStopwordsSql, x))) AS DOUBLE) / len(ltoks) AS stop_r,
                  $langHitsSql
                FROM t
              ), q AS (
                SELECT doc_id, text,
                  $qualityScoreSql
                FROM f
              ), flt AS (
                SELECT doc_id, text, quality FROM q
                WHERE quality >= 0.5 AND lang_pred = 'en'
              ), ddp AS (
                SELECT doc_id, quality, row_number() OVER
                  (PARTITION BY text ORDER BY doc_id) AS rn FROM flt
              )
              SELECT doc_id, quality,
                CASE WHEN substr(md5('e2e' || CAST(doc_id AS VARCHAR)),
                  1, 4) < 'e666' THEN 'train' ELSE 'val' END AS split
              FROM ddp WHERE rn = 1""")),

    // curation-funnel accounting: survivor counts through each
    // cumulative quality-gate prefix in ONE aggregation pass (N
    // filter+count stages would be N corpus scans); every predicate
    // replays verbatim in the oracle
    Q("q_gate_funnel",
      (s, d) => {
        val docs = s.read.parquet(pq(d, "documents"))
        graft.operators.Analytics.gateFunnel(docs, Seq(
          "nonempty" -> (length(trim(col("text"))) > 0),
          "min_tokens" ->
            (graft.functions.TextAnalysis.tokenCount(col("text")) >= 5),
          "is_en" -> (col("lang") === "en"),
          "alpha_half" ->
            (graft.functions.TextAnalysis.alphaRatio(col("text"))
              >= 0.5)))
      },
      Some("""WITH g AS (SELECT
                length(regexp_replace(text, '^\s+|\s+$', '', 'g')) > 0 AS g1,
                CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0 THEN 0
                  ELSE len(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END
                  >= 5 AS g2,
                lang = 'en' AS g3,
                CASE WHEN length(text) = 0 THEN 0.0
                  ELSE CAST(length(regexp_replace(text, '[^\p{L}]', '',
                    'g')) AS DOUBLE) / length(text) END >= 0.5 AS g4
                FROM documents)
              SELECT COUNT(*) AS rows_in,
                CAST(SUM(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS nonempty,
                CAST(SUM(CASE WHEN g1 AND g2 THEN 1 ELSE 0 END)
                  AS BIGINT) AS min_tokens,
                CAST(SUM(CASE WHEN g1 AND g2 AND g3 THEN 1 ELSE 0 END)
                  AS BIGINT) AS is_en,
                CAST(SUM(CASE WHEN g1 AND g2 AND g3 AND g4
                  THEN 1 ELSE 0 END) AS BIGINT) AS alpha_half
              FROM g""")),

    // curation pipeline over the round-6 operators: LM-perplexity
    // quality gate (fixed threshold — deterministic and replayable,
    // unlike a percentile cut) → per-source cap → deterministic split
    // assignment, one declarative plan. The oracle composes the same
    // stages in SQL (the q_pipeline_e2e pattern): perplexity CTEs,
    // the cap window over the GATED set, and the md5 cumulative-
    // threshold split.
    Q("q_curation_pipeline",
      (s, d) => {
        val docs = s.read.parquet(pq(d, "documents"))
        val model = graft.functions.LanguageModel.trainBigramLm(
          docs.where(col("lang") === "en"), "text")
        val gated = graft.functions.LanguageModel.perplexity(
            docs, "doc_id", "text", model)
          .where(col("ppl") <= 31.0)
          .select(col("doc_id"), col("ppl"))
        val kept = docs.select(col("doc_id"), col("source"))
          .join(gated, "doc_id")
        val capped = graft.operators.Sampling.capPerGroup(
          kept, "source", "doc_id", cap = 15)
        graft.operators.Sampling.splitAssign(capped, "doc_id",
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), "cur")
          .select(col("doc_id"), col("source"),
            round(col("ppl"), 4).as("ppl"), col("split"))
      },
      Some(bigramLmOracleCtes + """,
              ppl AS (SELECT doc_id, EXP(-SUM(lp) / COUNT(*)) AS ppl
                FROM lp GROUP BY doc_id),
              gated AS (SELECT d.doc_id, d.source, p.ppl
                FROM documents d JOIN ppl p USING (doc_id)
                WHERE p.ppl <= 31.0),
              capped AS (SELECT doc_id, source, ppl FROM (
                  SELECT doc_id, source, ppl, ROW_NUMBER() OVER (
                    PARTITION BY source
                    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                      AS rk
                  FROM gated)
                WHERE rk <= 15)
              SELECT doc_id, source, ROUND(ppl, 4) AS ppl,
                CASE WHEN substr(md5('cur' || CAST(doc_id AS VARCHAR)),
                    1, 4) < 'cccc' THEN 'train'
                  WHEN substr(md5('cur' || CAST(doc_id AS VARCHAR)),
                    1, 4) < 'e666' THEN 'val'
                  ELSE 'test' END AS split
              FROM capped""")),

    // training-data export capstone: quality gate → reproducible
    // shuffle ORDER (the deterministicShuffle hash as the pack order —
    // no materialized sort; packSequences range-partitions on it) →
    // document-preserving sequence packing. The corpus-to-training-
    // batches closing step, each stage an operator already gated alone.
    Q("q_export_pipeline",
      (s, d) => {
        val docs = s.read.parquet(pq(d, "documents"))
          .where(col("n_chars") >= 100 && col("n_chars") <= 900)
          .select(col("doc_id"), col("n_chars"),
            md5(concat(lit("ex"), col("doc_id").cast("string")))
              .as("ord"))
        graft.operators.Pack.packSequences(docs, "ord", "n_chars",
            maxTokens = 2000L)
          .select(col("doc_id"), col("seq_id"), col("seq_offset"))
      },
      Some("""WITH g AS (SELECT doc_id, n_chars,
                  md5('ex' || CAST(doc_id AS VARCHAR)) AS ord
                FROM documents WHERE n_chars BETWEEN 100 AND 900),
              c AS (SELECT doc_id,
                  CAST(COALESCE(SUM(n_chars) OVER (ORDER BY ord
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS BIGINT) AS ex FROM g)
              SELECT doc_id,
                CAST(floor(ex / 2000.0) AS BIGINT) AS seq_id,
                ex - CAST(floor(ex / 2000.0) AS BIGINT) * 2000
                  AS seq_offset
              FROM c""")),

    // packed-sequence text assembly on top of the export capstone: the
    // step that turns the packing ASSIGNMENT into trainer-ready
    // sequence text — one key shuffle, per-group text bounded by the
    // token budget itself
    Q("q_pack_text",
      (s, d) => {
        val docs = s.read.parquet(pq(d, "documents"))
          .where(col("n_chars") >= 100 && col("n_chars") <= 900)
          .select(col("doc_id"), col("n_chars"), col("text"),
            md5(concat(lit("pt"), col("doc_id").cast("string")))
              .as("ord"))
        val packed = graft.operators.Pack.packSequences(docs, "ord",
          "n_chars", maxTokens = 2000L)
        graft.operators.Pack.packedText(packed, "text")
          .select(col("seq_id"), col("n_docs"), col("text"))
      },
      Some("""WITH g AS (SELECT doc_id, n_chars, text,
                  md5('pt' || CAST(doc_id AS VARCHAR)) AS ord
                FROM documents WHERE n_chars BETWEEN 100 AND 900),
              c AS (SELECT doc_id, text,
                  CAST(COALESCE(SUM(n_chars) OVER (ORDER BY ord
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS BIGINT) AS ex FROM g),
              p AS (SELECT doc_id, text,
                  CAST(floor(ex / 2000.0) AS BIGINT) AS seq_id,
                  ex - CAST(floor(ex / 2000.0) AS BIGINT) * 2000
                    AS seq_offset FROM c)
              SELECT seq_id, COUNT(*) AS n_docs,
                string_agg(text, chr(10) ORDER BY seq_offset) AS text
              FROM p GROUP BY seq_id""")),

    // ---- crawl capstones -------------------------------------------
    // the crawl-curation capstone: WET records → parsed docs → PSL
    // registrable-domain keys → token-count quality gate → per-domain
    // cap → deterministic split, ONE declarative plan (the
    // q_pipeline_e2e pattern for the round-8 crawl surface). Every
    // stage reuses an operator already gated on its own; the oracle
    // composes their proven SQL replays, with the WET fields and PSL
    // domains written analytically
    Q("q_crawl_pipeline",
      (s, d) => {
        val docs = s.read.parquet(pq(d, "documents"))
        val hosts = array(
          lit("www.shop.example.co.uk"), lit("news.example.co.uk"),
          lit("a.media-site.com"), lit("b.media-site.com"),
          lit("store.outlet.example.com.au"), lit("m.example.com.au"))
        val url = concat(lit("https://"),
          element_at(hosts, (col("doc_id") % 6 + 1).cast("int")),
          lit("/doc/"), col("doc_id").cast("string"))
        val recs = docs.select(graft.sources.Warc.toWetRecord(url,
          lit("2024-01-01T00:00:00Z"), col("text")).as("record"))
        val parsed = graft.sources.Warc.parseWet(recs)
        val keyed = parsed.withColumn("domain",
          graft.functions.Urls.urlDomain(col("url"), psl = true))
        val gated = keyed.where(
          graft.functions.TextAnalysis.tokenCount(col("text")) >= 5)
        val capped = graft.operators.Sampling.capPerGroup(
          gated, "domain", "url", cap = 40)
        graft.operators.Sampling.splitAssign(
          capped.select(col("url"), col("domain")), "url",
          Seq("train" -> 0.9, "val" -> 0.1), salt = "crawl")
      },
      Some("""WITH base AS (SELECT doc_id,
                'https://' || CASE CAST(doc_id % 6 AS INT)
                  WHEN 0 THEN 'www.shop.example.co.uk'
                  WHEN 1 THEN 'news.example.co.uk'
                  WHEN 2 THEN 'a.media-site.com'
                  WHEN 3 THEN 'b.media-site.com'
                  WHEN 4 THEN 'store.outlet.example.com.au'
                  ELSE 'm.example.com.au' END ||
                  '/doc/' || CAST(doc_id AS VARCHAR) AS url,
                CASE CAST(doc_id % 6 AS INT)
                  WHEN 0 THEN 'example.co.uk'
                  WHEN 1 THEN 'example.co.uk'
                  WHEN 2 THEN 'media-site.com'
                  WHEN 3 THEN 'media-site.com'
                  ELSE 'example.com.au' END AS domain,
                text
                FROM documents),
              gated AS (SELECT url, domain FROM base
                WHERE CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0 THEN 0
                  ELSE len(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END
                  >= 5),
              capped AS (SELECT url, domain FROM (
                  SELECT url, domain, ROW_NUMBER() OVER (
                    PARTITION BY domain ORDER BY md5(url), url) AS rk
                  FROM gated)
                WHERE rk <= 40)
              SELECT url, domain, CASE
                WHEN substr(md5('crawl' || url), 1, 4) < 'e666'
                  THEN 'train'
                ELSE 'val' END AS split
              FROM capped""")),

    // crawl-frontier capstone: outlink extraction → registrable-domain
    // keys → robots politeness → seen-set anti-join → per-domain cap,
    // one declarative plan composing operators each gated on its own.
    // The oracle is the hand-derived candidate set (each exclusion —
    // seen, robots-blocked — is individually provable from the planted
    // data) with the cap's md5-order window replayed exactly
    Q("q_crawl_frontier",
      (s, d) => {
        val pages = array(
          lit("<a href=\"https://a.com/p1\">x</a>" +
            "<a href=\"https://a.com/private/z\">y</a>"),
          lit("<a href=\"https://sub.a.com/p2\">x</a>" +
            "<a href=\"https://b.com/q1\">y</a>"),
          lit("<a href=\"https://b.com/q2\">x</a>" +
            "<a href=\"https://b.com/q3\">y</a>"),
          lit("no links"))
        val html = element_at(pages, (col("doc_id") % 4 + 1).cast("int"))
        val links = s.read.parquet(pq(d, "documents"))
          .where(col("doc_id") < 120)
          .select(explode(
            graft.functions.TextAnalysis.extractLinks(html)).as("url"))
          .distinct()
          .select(col("url"),
            graft.functions.Urls.urlDomain(col("url"), psl = true)
              .as("domain"),
            graft.functions.Urls.urlPath(col("url")).as("path"))
        // robots keyed by registrable domain (per-host fetch rolled up
        // — the planted bodies carry one policy per site). Two rows
        // via when() so the domain column is non-foldable: a constant
        // literal would fold the rule parser's window partition spec
        // to empty (the single-partition shape PlanGuardSpec bans)
        val robots = s.range(2).toDF("i").select(
          when(col("i") === 0, "a.com").otherwise("b.com").as("rdomain"),
          when(col("i") === 0, "User-agent: *\nDisallow: /private\n")
            .otherwise("# crawl freely\n").as("body"))
        val rules = graft.functions.Robots.rules(robots,
          "rdomain", "body")
        val allowed = graft.functions.Robots.verdict(links, rules,
            "graftbot", "domain", "path")
          .where(col("robots_allowed"))
        val seen = s.range(1)
          .select(lit("https://a.com/p1").as("url"))
        val fresh = allowed.join(seen, Seq("url"), "left_anti")
        graft.operators.Sampling.capPerGroup(
            fresh.select(col("domain"), col("url")),
            "domain", "url", cap = 2, salt = "fr")
      },
      Some("""WITH cand AS (SELECT * FROM (VALUES
                ('a.com', 'https://sub.a.com/p2'),
                ('b.com', 'https://b.com/q1'),
                ('b.com', 'https://b.com/q2'),
                ('b.com', 'https://b.com/q3')) AS t(domain, url)),
              r AS (SELECT domain, url, ROW_NUMBER() OVER (
                  PARTITION BY domain
                  ORDER BY md5('fr' || url), url) AS rk FROM cand)
              SELECT domain, url FROM r WHERE rk <= 2""")),

    // politeness scheduling capstone: corpus-scale URLs get per-domain
    // fetch slots under the delays the robots bodies declare (a.com
    // 2.5s via the agent group, b.com 5s via '*', c.com none →
    // default 1s). The md5 fetch order and the slot arithmetic are
    // both engine-portable, so the oracle replays the whole schedule.
    Q("q_frontier_schedule",
      (s, d) => {
        val bodyA = "User-agent: *\nCrawl-delay: 10\nDisallow: /x\n\n" +
          "User-agent: graftbot\nCrawl-delay: 2.5\n"
        val bodyB = "User-agent: *\nCrawl-delay: 5\n"
        val robots = s.range(2).toDF("i").select(
          element_at(array(lit("a.com"), lit("b.com")),
            (col("i") + 1).cast("int")).as("domain"),
          element_at(array(lit(bodyA), lit(bodyB)),
            (col("i") + 1).cast("int")).as("body"))
        val delays = graft.functions.Robots.crawlDelays(robots,
          "domain", "body", "graftbot")
        val urls = s.read.parquet(pq(d, "documents"))
          .where(col("doc_id") < 200)
          .select(col("doc_id"),
            element_at(array(lit("a.com"), lit("b.com"), lit("c.com")),
              (col("doc_id") % 3 + 1).cast("int")).as("domain"))
          .withColumn("url", concat(lit("https://"), col("domain"),
            lit("/p"), col("doc_id").cast("string")))
        graft.functions.Robots.scheduleFrontier(urls, delays,
            "domain", "url")
          .select(col("doc_id"), col("domain"), col("url"),
            col("fetch_seq").cast("long").as("fetch_seq"),
            round(col("fetch_offset_s"), 4).as("fetch_offset_s"))
      },
      Some("""WITH urls AS (SELECT doc_id,
                CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'a.com'
                  WHEN 1 THEN 'b.com' ELSE 'c.com' END AS domain
                FROM documents WHERE doc_id < 200),
              u AS (SELECT doc_id, domain,
                'https://' || domain || '/p' || CAST(doc_id AS VARCHAR)
                  AS url FROM urls),
              dl AS (SELECT * FROM (VALUES
                ('a.com', CAST(2.5 AS DOUBLE)),
                ('b.com', CAST(5 AS DOUBLE))) t(domain, delay)),
              seq AS (SELECT doc_id, u.domain, url,
                ROW_NUMBER() OVER (PARTITION BY u.domain
                  ORDER BY md5(url), url) - 1 AS fetch_seq,
                COALESCE(dl.delay, 1.0) AS delay
                FROM u LEFT JOIN dl ON u.domain = dl.domain)
              SELECT doc_id, domain, url,
                CAST(fetch_seq AS BIGINT) AS fetch_seq,
                ROUND(fetch_seq * delay, 4) AS fetch_offset_s
              FROM seq""")),

    // PageRank over a synthesized link graph (node 11 is dst-only —
    // the dangling case). The ENTIRE iteration is integer arithmetic
    // on the 1e-12 grid with damping as the rational 17/20, so the
    // oracle replays three unrolled rounds of identical div
    // arithmetic — bit-exact, no FP anywhere until the final display
    // division
    Q("q_pagerank",
      (s, d) => {
        val edges = s.read.parquet(pq(d, "documents"))
          .where(col("doc_id") < 60)
          .select((col("doc_id") % 12).as("src"),
            ((col("doc_id") * 7 + 3) % 12).as("dst"))
          .where(col("src") =!= 11)
        graft.operators.Graph.pageRank(edges, "src", "dst", iters = 3)
          .select(col("node"), round(col("rank"), 6).as("rank"))
      },
      Some("""WITH e AS (SELECT DISTINCT doc_id % 12 AS src,
                  (doc_id * 7 + 3) % 12 AS dst
                FROM documents
                WHERE doc_id < 60 AND doc_id % 12 <> 11),
              nodes AS (SELECT src AS node FROM e
                UNION SELECT dst FROM e),
              nn AS (SELECT COUNT(*) AS n FROM nodes),
              deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY src),
              r0 AS (SELECT node,
                  (2 * 1000000000000 + n) // (2 * n) AS r
                FROM nodes, nn),
              dm1 AS (SELECT COALESCE(SUM(r), 0) AS dm FROM r0
                LEFT JOIN deg ON r0.node = deg.src WHERE d IS NULL),
              c1 AS (SELECT e.dst AS node,
                  SUM((2 * r + d) // (2 * d)) AS inp
                FROM r0 JOIN deg ON r0.node = deg.src
                  JOIN e ON e.src = r0.node
                GROUP BY e.dst),
              r1 AS (SELECT nodes.node,
                  (6 * 1000000000000 + 20 * n) // (40 * n)
                  + (34 * dm + 20 * n) // (40 * n)
                  + (34 * COALESCE(inp, 0) + 20) // 40 AS r
                FROM nodes CROSS JOIN nn CROSS JOIN dm1
                  LEFT JOIN c1 ON nodes.node = c1.node),
              dm2 AS (SELECT COALESCE(SUM(r), 0) AS dm FROM r1
                LEFT JOIN deg ON r1.node = deg.src WHERE d IS NULL),
              c2 AS (SELECT e.dst AS node,
                  SUM((2 * r + d) // (2 * d)) AS inp
                FROM r1 JOIN deg ON r1.node = deg.src
                  JOIN e ON e.src = r1.node
                GROUP BY e.dst),
              r2 AS (SELECT nodes.node,
                  (6 * 1000000000000 + 20 * n) // (40 * n)
                  + (34 * dm + 20 * n) // (40 * n)
                  + (34 * COALESCE(inp, 0) + 20) // 40 AS r
                FROM nodes CROSS JOIN nn CROSS JOIN dm2
                  LEFT JOIN c2 ON nodes.node = c2.node),
              dm3 AS (SELECT COALESCE(SUM(r), 0) AS dm FROM r2
                LEFT JOIN deg ON r2.node = deg.src WHERE d IS NULL),
              c3 AS (SELECT e.dst AS node,
                  SUM((2 * r + d) // (2 * d)) AS inp
                FROM r2 JOIN deg ON r2.node = deg.src
                  JOIN e ON e.src = r2.node
                GROUP BY e.dst),
              r3 AS (SELECT nodes.node,
                  (6 * 1000000000000 + 20 * n) // (40 * n)
                  + (34 * dm + 20 * n) // (40 * n)
                  + (34 * COALESCE(inp, 0) + 20) // 40 AS r
                FROM nodes CROSS JOIN nn CROSS JOIN dm3
                  LEFT JOIN c3 ON nodes.node = c3.node)
              SELECT node,
                ROUND(CAST(r AS DOUBLE) / 1000000000000, 6) AS rank
              FROM r3""")),

    // HITS hubs-and-authorities (round 13): the second link-graph
    // prior beside q_pagerank — same determinism discipline (integer
    // grid, half-away-from-zero div, decimal(38,0)/HUGEINT for the
    // normalization products), oracle replays TWO unrolled mutual-
    // recursion rounds (4 normalize halves) bit-exactly. Planted
    // bipartite graph: hubs 0-9 with varying out-degrees point at
    // authorities 100-112 with varying in-degrees, so scores are
    // discriminative (node 8 is the weakest hub, 106 the weakest
    // authority) and the hub/authority split is structural (hubs get
    // authority exactly 0, authorities hub exactly 0).
    Q("q_hits",
      (s, d) => {
        val edges = s.read.parquet(pq(d, "documents"))
          .where(col("doc_id") < 77)
          .select((col("doc_id") % 10).as("src"),
            (lit(100) + (col("doc_id") * 7) % 13).as("dst"))
        graft.operators.Graph.hits(edges, "src", "dst", iters = 2)
          .select(col("node"), round(col("hub"), 6).as("hub"),
            round(col("authority"), 6).as("authority"))
      },
      Some("""WITH e AS (SELECT DISTINCT doc_id % 10 AS src,
                  100 + (doc_id * 7) % 13 AS dst
                FROM documents WHERE doc_id < 77),
              nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
              nn AS (SELECT COUNT(*) AS n FROM nodes),
              h0 AS (SELECT node, (2 * 1000000000000 + n) // (2 * n) AS h
                FROM nodes, nn),
              a1r AS (SELECT nodes.node, COALESCE(t.s, 0) AS a FROM nodes
                LEFT JOIN (SELECT e.dst AS node, SUM(h) AS s FROM e
                  JOIN h0 ON e.src = h0.node GROUP BY e.dst) t
                ON nodes.node = t.node),
              a1s AS (SELECT SUM(a) AS s FROM a1r),
              a1 AS (SELECT node, (2 * CAST(1000000000000 AS HUGEINT) * a
                  + s) // (2 * CAST(s AS HUGEINT)) AS a FROM a1r, a1s),
              h1r AS (SELECT nodes.node, COALESCE(t.s, 0) AS h FROM nodes
                LEFT JOIN (SELECT e.src AS node, SUM(a) AS s FROM e
                  JOIN a1 ON e.dst = a1.node GROUP BY e.src) t
                ON nodes.node = t.node),
              h1s AS (SELECT SUM(h) AS s FROM h1r),
              h1 AS (SELECT node, (2 * CAST(1000000000000 AS HUGEINT) * h
                  + s) // (2 * CAST(s AS HUGEINT)) AS h FROM h1r, h1s),
              a2r AS (SELECT nodes.node, COALESCE(t.s, 0) AS a FROM nodes
                LEFT JOIN (SELECT e.dst AS node, SUM(h) AS s FROM e
                  JOIN h1 ON e.src = h1.node GROUP BY e.dst) t
                ON nodes.node = t.node),
              a2s AS (SELECT SUM(a) AS s FROM a2r),
              a2 AS (SELECT node, (2 * CAST(1000000000000 AS HUGEINT) * a
                  + s) // (2 * CAST(s AS HUGEINT)) AS a FROM a2r, a2s),
              h2r AS (SELECT nodes.node, COALESCE(t.s, 0) AS h FROM nodes
                LEFT JOIN (SELECT e.src AS node, SUM(a) AS s FROM e
                  JOIN a2 ON e.dst = a2.node GROUP BY e.src) t
                ON nodes.node = t.node),
              h2s AS (SELECT SUM(h) AS s FROM h2r),
              h2 AS (SELECT node, (2 * CAST(1000000000000 AS HUGEINT) * h
                  + s) // (2 * CAST(s AS HUGEINT)) AS h FROM h2r, h2s)
              SELECT h2.node,
                ROUND(CAST(h2.h AS DOUBLE) / 1000000000000, 6) AS hub,
                ROUND(CAST(a2.a AS DOUBLE) / 1000000000000, 6) AS authority
              FROM h2 JOIN a2 ON h2.node = a2.node""")))
}
