package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import SparkEntry._

/** Training-data pipeline operators: dedup / text analysis /
  * similarity / events / multimodal / transport. */
private[graft] object RegistryPipelines {

  /** q_text_quality's full-score SQL replay — shared verbatim by
    * q_text_quality_table (the data-driven-profile twin). */
  private[graft] val textQualityOracleSql: String =
    """WITH t AS (
                SELECT doc_id, text,
                  CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0 THEN []::VARCHAR[]
                    ELSE string_split_regex(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+') END
                    AS ltoks,
                  CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0 THEN []::VARCHAR[]
                    ELSE string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') END AS toks
                FROM documents
              ), f AS (
                SELECT doc_id,
                  CAST(len(toks) AS DOUBLE) AS ntok,
                  CASE WHEN length(text) = 0 THEN CAST(0.0 AS DOUBLE)
                    ELSE CAST(length(regexp_replace(text, '[^\p{L}]', '',
                      'g')) AS DOUBLE) / length(text) END AS alpha_r,
                  CASE WHEN length(text) = 0 THEN CAST(0.0 AS DOUBLE)
                    ELSE CAST(length(regexp_replace(text, '[^[:punct:]]',
                      '', 'g')) AS DOUBLE) / length(text) END AS punct_r,
                  CASE WHEN len(toks) = 0 THEN CAST(0.0 AS DOUBLE)
                    ELSE CAST(list_sum(list_transform(toks,
                      x -> length(x))) AS DOUBLE) / len(toks) END AS mtl,
                  CASE WHEN len(ltoks) = 0 THEN CAST(0.0 AS DOUBLE)
                    ELSE CAST(len(list_filter(ltoks, x -> list_contains(
                    ['the','of','and','to','a','in','is','it','that',
                     'was','for','on','with','as','at','by','this','are',
                     'be'], x))) AS DOUBLE) / len(ltoks) END AS stop_r,
                  len(list_intersect(list_distinct(ltoks),
                    ['the','of','and','to','a','in','is','it','that',
                     'was','for','on','with','as','at','by','this','are',
                     'be'])) AS h_en,
                  len(list_intersect(list_distinct(ltoks),
                    ['der','die','das','und','ist','ein','eine','zu',
                     'den','von','mit','auf','für','im','nicht','sich',
                     'auch'])) AS h_de,
                  len(list_intersect(list_distinct(ltoks),
                    ['le','la','les','de','des','et','est','un','une',
                     'du','dans','que','qui','pour','pas','sur','au',
                     'avec'])) AS h_fr,
                  len(list_intersect(list_distinct(ltoks),
                    ['el','la','los','las','de','y','es','un','una',
                     'del','en','que','no','por','con','para','se',
                     'su'])) AS h_es
                FROM t
              )
              SELECT doc_id,
                ROUND(least(ntok / 50.0, CAST(1.0 AS DOUBLE)) * 0.25
                  + alpha_r * 0.25
                  + greatest(CAST(0.0 AS DOUBLE),
                      1.0 - punct_r * 5.0) * 0.2
                  + (CASE WHEN mtl BETWEEN 2.0 AND 12.0
                      THEN CAST(1.0 AS DOUBLE)
                      ELSE CAST(0.2 AS DOUBLE) END) * 0.15
                  + least(stop_r * 5.0, CAST(1.0 AS DOUBLE)) * 0.15, 4)
                  AS quality,
                CASE WHEN greatest(h_en, h_de, h_fr, h_es) = 0 THEN 'und'
                  ELSE (SELECT l FROM (VALUES ('en', h_en), ('de', h_de),
                    ('fr', h_fr), ('es', h_es)) v(l, h)
                    ORDER BY h DESC, l DESC LIMIT 1)
                END AS lang_pred
              FROM f"""

  val entries: Seq[Q] = Seq(
    // ---- deduplication ---------------------------------------------------
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

    // ---- planted-duplicate oracles --------------------------------------
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

    // corpus-level term weighting: top-3 TF-IDF terms per document —
    // deterministic across engines (rank on the raw double score with a
    // term tiebreak; round only in the final projection)
    Q("q_tfidf",
      (s, d) => graft.functions.TextAnalysis.tfidfTopTerms(
        s.read.parquet(pq(d, "documents")).where(col("doc_id") < 100),
        "doc_id", "text", k = 3),
      Some("""WITH base AS (SELECT doc_id, text FROM documents
                WHERE doc_id < 100),
              toks AS (SELECT doc_id,
                  unnest(string_split_regex(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+'))
                    AS term
                FROM base WHERE length(regexp_replace(text, '^\s+|\s+$', '', 'g')) > 0),
              tf AS (SELECT doc_id, term, COUNT(*) AS tf
                FROM toks GROUP BY 1, 2),
              dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
              n AS (SELECT COUNT(*) AS n FROM base),
              scored AS (SELECT tf.doc_id, tf.term,
                  tf.tf * LN((n.n + 1.0) / (dfreq.df + 1.0)) AS raw
                FROM tf JOIN dfreq USING (term) CROSS JOIN n)
              SELECT doc_id, term, ROUND(raw, 4) AS score FROM (
                SELECT doc_id, term, raw, ROW_NUMBER() OVER (
                    PARTITION BY doc_id ORDER BY raw DESC, term) AS rn
                FROM scored)
              WHERE rn <= 3""")),

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
        // sketch sized to the history (the production practice): the
        // probe embeds the sketch bytes in the plan, so an oversized
        // default would ship 1 MB of literal for a 400-doc history
        graft.operators.Dedup.ingestAdmission(batch, history,
          "doc_id", "text", expectedItems = 10000L, numBits = 1L << 17,
          minJaccard = 0.95)
          .select(col("doc_id"))
      },
      Some("""WITH h AS (SELECT doc_id, text FROM documents
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
                AND b.doc_id NOT IN (SELECT doc_id FROM near)""")),

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

    // ---- text analysis ---------------------------------------------------
    Q("q_text_stats",
      (s, d) => s.read.parquet(pq(d, "documents"))
        .select(col("doc_id"),
          graft.functions.TextAnalysis.tokenCount(col("text")).as("n_tok"),
          length(col("text")).cast("long").as("n_char")),
      // CASE mirrors Spark tokens(): empty/whitespace-only text is 0
      // tokens, where a bare split yields [''] (len 1)
      Some("""SELECT doc_id,
              CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0 THEN 0
                ELSE CAST(len(regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+'))
                  AS INT) END AS n_tok,
              LENGTH(text) AS n_char FROM documents""")),

    // CPU-bound featurization over a FEW parquet files: Spark assigns one
    // task per file split, so a small-file corpus serializes onto one
    // core while 31 idle. repartition to the cluster's parallelism first
    // — the narrow shuffle is pennies next to the per-row expression
    // work. (At 100 TB the corpus has thousands of splits and this
    // repartition becomes unnecessary, not wrong.)
    // full SQL replication of the composite quality score + stopword
    // language ID (same term order and double arithmetic; corpus is
    // ASCII so \p{L} / [[:punct:]] agree across engines; zh profile
    // omitted from the oracle — its hits are always 0 on ASCII text)
    Q("q_text_quality",
      (s, d) => s.read.parquet(pq(d, "documents"))
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"),
          graft.functions.TextAnalysis.qualityScore(col("text")).as("quality"),
          graft.functions.TextAnalysis.langId(col("text")).as("lang_pred")),
      // empty/whitespace-doc guards mirror the Spark terms exactly:
      // tokens() → 0 tokens (not ['']), zero-length text → 0.0 ratios
      Some(textQualityOracleSql)),

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

    // unicode canonicalization (native codegen'd expression over JDK
    // Normalizer): composed and decomposed forms of the same glyph must
    // agree before any hash-based dedup; corpus is ASCII so the query
    // injects a decomposed "cafe" + COMBINING ACUTE per row — the
    // oracle's nfc_normalize must produce the identical composed string
    Q("q_text_normalize",
      (s, d) => {
        s.read.parquet(pq(d, "documents"))
          .select(col("doc_id"),
            graft.plans.NativeFunctions.unicodeNormalize(
              concat(substring(col("text"), 1, 20), lit(" cafe\u0301")),
              "NFC").as("norm"))
          .withColumn("norm_len", length(col("norm")).cast("long"))
      },
      Some("""SELECT doc_id,
              nfc_normalize(substr(text, 1, 20) || ' cafe' || chr(769))
                AS norm,
              CAST(length(nfc_normalize(substr(text, 1, 20) || ' cafe' ||
                chr(769))) AS BIGINT) AS norm_len
              FROM documents""")),

    // Gopher-style repetition signals; bigram histogram computed
    // distributed (explode + groupBy), not per-row O(n^2) HOFs
    Q("q_text_repetition",
      (s, d) => graft.functions.TextAnalysis.repetitionStats(
        s.read.parquet(pq(d, "documents"))
          .repartition(s.sparkContext.defaultParallelism),
        "doc_id", "text"),
      Some("""WITH t AS (SELECT doc_id,
                string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS toks FROM documents),
              b AS (SELECT doc_id, len(toks) AS n,
                len(list_distinct(toks)) AS nd,
                list_transform(generate_series(1, len(toks)-1),
                  i -> toks[i] || ' ' || toks[i+1]) AS bgs FROM t),
              e AS (SELECT doc_id, unnest(bgs) AS bg FROM b),
              c AS (SELECT doc_id, bg, count(*) AS c FROM e
                GROUP BY doc_id, bg),
              m AS (SELECT doc_id, max(c) AS mx,
                CAST(sum(c) AS BIGINT) AS tot FROM c GROUP BY doc_id)
              SELECT b.doc_id AS doc_id,
                ROUND(CAST(1.0 AS DOUBLE) - CAST(nd AS DOUBLE)/n, 4)
                  AS dup_word_frac,
                COALESCE(ROUND(CAST(mx AS DOUBLE)/tot, 4),
                  CAST(0.0 AS DOUBLE)) AS top_bigram_frac
              FROM b LEFT JOIN m ON b.doc_id = m.doc_id""")),

    // PII scrub: corpus has no PII, so inject a deterministic email/
    // phone/IP per doc in the query body, then redact — the expected
    // output is fully SQL-expressible
    Q("q_text_redact",
      (s, d) => {
        import graft.functions.TextAnalysis
        val injected = concat(substring(col("text"), 1, 40),
          lit(" mail user"), col("doc_id").cast("string"),
          lit("@example.com call 1-555-123-4567 ip 10.0.0."),
          (col("doc_id") % 256).cast("string"))
        s.read.parquet(pq(d, "documents"))
          .select(col("doc_id"), injected.as("__t"))
          .select(col("doc_id"),
            TextAnalysis.redactPii(col("__t")).as("redacted"),
            TextAnalysis.piiCount(col("__t")).cast("long").as("pii_n"))
      },
      Some("""WITH p AS (SELECT doc_id, substr(text, 1, 40) || ' mail user' ||
                CAST(doc_id AS VARCHAR) ||
                '@example.com call 1-555-123-4567 ip 10.0.0.' ||
                CAST(doc_id % 256 AS VARCHAR) AS t FROM documents)
              SELECT doc_id,
                regexp_replace(regexp_replace(regexp_replace(t,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                  '<EMAIL>', 'g'),
                  '(?:\+?[0-9]{1,2}[-. ])?\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}',
                  '<PHONE>', 'g'),
                  '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g')
                  AS redacted,
                CAST(len(regexp_extract_all(t,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                + len(regexp_extract_all(t,
                  '(?:\+?[0-9]{1,2}[-. ])?\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}'))
                + len(regexp_extract_all(t,
                  '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS BIGINT) AS pii_n
              FROM p""")),

    // crawl-HTML -> text extraction: the corpus has no HTML, so the
    // query synthesizes a document wrapper (head/style/script with an
    // embedded '<', entities, a comment, block tags) deterministically
    // in BOTH engines, then runs the identical RE2-portable
    // regexp_replace chain — script/style payload gone, blocks become
    // newlines, entities decoded (&amp; last)
    Q("q_html_extract",
      (s, d) => {
        val html = concat(
          lit("<html><head><title>T</title><style>p{color:red}</style>" +
            "<script>var x = 1 < 2;</script></head><body><h1>"),
          col("source"), lit("</h1>\n<p>"), col("text"),
          lit(" &amp; A &lt; B</p><!-- hidden --><div>tail</div>" +
            "</body></html>"))
        s.read.parquet(pq(d, "documents")).where(col("doc_id") < 200)
          .select(col("doc_id"),
            graft.functions.TextAnalysis.extractHtmlText(html)
              .as("extracted"))
      },
      Some("""WITH h AS (SELECT doc_id,
                '<html><head><title>T</title><style>p{color:red}</style><script>var x = 1 < 2;</script></head><body><h1>' ||
                source || '</h1>' || chr(10) || '<p>' || text ||
                ' &amp; A &lt; B</p><!-- hidden --><div>tail</div></body></html>'
                AS html FROM documents WHERE doc_id < 200),
              s1 AS (SELECT doc_id, regexp_replace(html,
                '(?is)<script\b[^>]*>.*?</script\s*>', ' ', 'g') AS t FROM h),
              s2 AS (SELECT doc_id, regexp_replace(t,
                '(?is)<style\b[^>]*>.*?</style\s*>', ' ', 'g') AS t FROM s1),
              s3 AS (SELECT doc_id, regexp_replace(t,
                '(?s)<!--.*?-->', ' ', 'g') AS t FROM s2),
              s4 AS (SELECT doc_id, regexp_replace(t,
                '(?i)</?(?:p|div|br|h[1-6]|li|ul|ol|table|tr|td|th|section|article|header|footer|blockquote|pre)\b[^>]*>',
                chr(10), 'g') AS t FROM s3),
              s5 AS (SELECT doc_id, regexp_replace(t,
                '(?s)<[^>]*>', ' ', 'g') AS t FROM s4),
              s6 AS (SELECT doc_id, regexp_replace(regexp_replace(
                regexp_replace(regexp_replace(regexp_replace(
                regexp_replace(t,
                '&nbsp;', ' ', 'g'), '&lt;', '<', 'g'), '&gt;', '>', 'g'),
                '&quot;', '"', 'g'), '&#39;|&apos;', '''', 'g'),
                '&amp;', '&', 'g') AS t FROM s5),
              s7 AS (SELECT doc_id, regexp_replace(t,
                '[ \t\x0B\f\r]+', ' ', 'g') AS t FROM s6),
              s8 AS (SELECT doc_id, regexp_replace(regexp_replace(t,
                ' ?\n ?', chr(10), 'g'), '\n{2,}', chr(10), 'g') AS t
                FROM s7)
              SELECT doc_id, regexp_replace(t, '^\s+|\s+$', '', 'g')
                AS extracted FROM s8""")),

    // URL canonicalization: synthesized crawl URLs exercise the tricky
    // cases — LEADING tracking param (seam repair must re-anchor the
    // query to '?'), trailing tracking param, fragment, default port,
    // mixed-case scheme/host vs case-preserved path — and the oracle
    // replays the identical regex chain (DuckDB \1 replacement syntax
    // for Spark's $1)
    Q("q_url_normalize",
      (s, d) => {
        val u = concat(lit("HTTPS://WWW."), col("source"),
          lit(".Example.COM:443/Path/"), col("doc_id").cast("string"),
          lit("?utm_source=news&id="), col("doc_id").cast("string"),
          lit("&fbclid=x#frag"))
        s.read.parquet(pq(d, "documents")).where(col("doc_id") < 200)
          .select(col("doc_id"),
            graft.functions.Urls.urlHost(u).as("host"),
            graft.functions.Urls.urlDomain(u).as("domain"),
            graft.functions.Urls.urlPath(u).as("path"),
            graft.functions.Urls.urlCanonicalize(u).as("canonical"))
      },
      Some("""WITH u AS (SELECT doc_id,
                'HTTPS://WWW.' || source || '.Example.COM:443/Path/' ||
                CAST(doc_id AS VARCHAR) || '?utm_source=news&id=' ||
                CAST(doc_id AS VARCHAR) || '&fbclid=x#frag' AS url
                FROM documents WHERE doc_id < 200),
              h AS (SELECT doc_id, url,
                lower(regexp_replace(regexp_replace(regexp_extract(url,
                  '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1),
                  '^[^@]*@', ''), ':[0-9]*$', '')) AS host FROM u),
              nf AS (SELECT doc_id, url, host,
                regexp_replace(url, '#.*', '', 'g') AS s FROM h),
              nt AS (SELECT doc_id, url, host, regexp_replace(s,
                '([?&])(utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid|mc_eid|ref_src)=[^&]*',
                '\1', 'g') AS s FROM nf),
              sm AS (SELECT doc_id, url, host,
                regexp_replace(regexp_replace(regexp_replace(s,
                  '\?&+', '?', 'g'), '&&+', '&', 'g'), '[?&]+$', '', 'g')
                AS s FROM nt),
              np AS (SELECT doc_id, url, host, regexp_replace(s,
                '^([A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#]*@)?[^/:?#]*):(?:80|443)([/?#]|$)',
                '\1\2', 'g') AS s FROM sm)
              SELECT doc_id, host,
                regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS domain,
                regexp_extract(url,
                  '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1)
                  AS path,
                lower(regexp_extract(s,
                  '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', 0)) ||
                substr(s, length(regexp_extract(s,
                  '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', 0)) + 1)
                  AS canonical
              FROM np""")),

    // PSL registrable domains: planted hosts exercise every rule class
    // — multi-label registries (co.uk/com.au), the Japanese city
    // wildcard+exception pair, wildcard-only zones (*.bd, *.ck with
    // !www.ck), and the default rule. The engine matches its full PSL
    // snapshot; the oracle replays longest-suffix match against the
    // EFFECTIVE suffixes of the planted hosts (wildcards expanded,
    // exceptions omitted — how a PSL rule set grounds out on concrete
    // hosts), so both sides compute the answer independently. Two
    // hosts sit beyond the curated fallback snapshot (co.bw, the
    // private-section github.io) and are green only with the full
    // bundled publicsuffix.org list loaded.
    Q("q_url_domain",
      (s, d) => {
        val hosts = array(
          lit("www.shop.example.co.uk"), lit("news.example.com.au"),
          lit("sub.city.kobe.jp"), lit("shop.foo.kobe.jp"),
          lit("x.y.foo.bd"), lit("a.www.ck"),
          lit("deep.a.b.ck"), lit("WWW.Example.COM"),
          // beyond the curated fallback snapshot — green only when the
          // FULL bundled list is loaded: an ICANN registry absent from
          // the fallback and a PRIVATE-section suffix
          lit("shop.example.co.bw"), lit("blog.demo.github.io"))
        val u = concat(lit("https://"),
          element_at(hosts, (col("doc_id") % 10 + 1).cast("int")),
          lit("/p"))
        s.read.parquet(pq(d, "documents")).where(col("doc_id") < 200)
          .select(col("doc_id"),
            graft.functions.Urls.urlHost(u).as("host"),
            graft.functions.Urls.urlDomain(u, psl = true)
              .as("domain_psl"),
            graft.functions.Urls.urlDomain(u).as("domain_naive"))
      },
      Some("""WITH hosts AS (SELECT doc_id, lower(CASE CAST(doc_id % 10 AS INT)
                  WHEN 0 THEN 'www.shop.example.co.uk'
                  WHEN 1 THEN 'news.example.com.au'
                  WHEN 2 THEN 'sub.city.kobe.jp'
                  WHEN 3 THEN 'shop.foo.kobe.jp'
                  WHEN 4 THEN 'x.y.foo.bd'
                  WHEN 5 THEN 'a.www.ck'
                  WHEN 6 THEN 'deep.a.b.ck'
                  WHEN 7 THEN 'WWW.Example.COM'
                  WHEN 8 THEN 'shop.example.co.bw'
                  ELSE 'blog.demo.github.io' END) AS host
                FROM documents WHERE doc_id < 200),
              sfx AS (SELECT * FROM (VALUES ('co.uk'), ('com.au'),
                  ('kobe.jp'), ('foo.kobe.jp'), ('foo.bd'), ('b.ck'),
                  ('co.bw'), ('github.io'))
                  t(s)),
              m AS (SELECT h.doc_id, h.host, MAX(length(s.s)) AS sl
                FROM hosts h LEFT JOIN sfx s
                  ON (h.host = s.s OR h.host LIKE '%.' || s.s)
                GROUP BY 1, 2)
              SELECT doc_id, host,
                CASE WHEN sl IS NULL THEN
                    regexp_extract(host, '([^.]+\.[^.]+)$', 1)
                  WHEN length(host) = sl THEN host
                  ELSE regexp_extract(
                      substr(host, 1, length(host) - sl - 1),
                      '([^.]+)$', 1) || '.' ||
                    substr(host, length(host) - sl + 1) END AS domain_psl,
                regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS domain_naive
              FROM m""")),

    // percent-encoding normalization: planted %-escapes cover decode
    // (unreserved %61/%41/%7e -> a/A/~), canonical-uppercase of kept
    // escapes (%2f -> %2F), and malformed passthrough (%zz); the
    // oracle replays the same spellings as literal replaces, and the
    // canonical column proves the pass rides urlCanonicalize ahead of
    // the fragment/lowercase steps
    Q("q_url_pct",
      (s, d) => {
        val u = concat(lit("HTTPS://Example.COM/P%61th/"),
          col("doc_id").cast("string"),
          lit("?q=%2fv%41l%7e&x=%4d%zz#f"))
        s.read.parquet(pq(d, "documents")).where(col("doc_id") < 200)
          .select(col("doc_id"),
            graft.functions.Urls.urlPctNormalize(u).as("normalized"),
            graft.functions.Urls.urlCanonicalize(u).as("canonical"))
      },
      Some("""WITH u AS (SELECT doc_id,
                'HTTPS://Example.COM/P%61th/' || CAST(doc_id AS VARCHAR) ||
                '?q=%2fv%41l%7e&x=%4d%zz#f' AS url
                FROM documents WHERE doc_id < 200),
              n AS (SELECT doc_id, replace(replace(replace(replace(
                replace(url, '%61', 'a'), '%41', 'A'), '%7e', '~'),
                '%2f', '%2F'), '%4d', 'M') AS normalized FROM u),
              c AS (SELECT doc_id, normalized,
                regexp_replace(normalized, '#.*', '', 'g') AS s FROM n)
              SELECT doc_id, normalized,
                lower(regexp_extract(s,
                  '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', 0)) ||
                substr(s, length(regexp_extract(s,
                  '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', 0)) + 1)
                  AS canonical
              FROM c""")),

    // IDN/punycode host normalization: planted ACE and plain hosts
    // (the q_url_domain planted pattern); host_unicode decodes xn--
    // labels through the JDK's RFC 3490 codec, host_ascii is the
    // encode direction (identity on already-ACE/plain input). The
    // oracle's expected decodings are literal and independently
    // documented (bücher/münchen/中国/рф/españa are the standard IDN
    // examples); the Unicode→ACE round trip is property-tested in
    // NativeExprSpec.
    Q("q_url_idn",
      (s, d) => {
        val hosts = array(
          lit("xn--bcher-kva.example"), lit("XN--MNCHEN-3YA.de"),
          lit("www.xn--fiqs8s"), lit("shop.xn--p1ai"),
          lit("xn--espaa-rta.com"), lit("plain.example.co.uk"),
          lit("münchen.de"), lit("www.中国"))
        val u = concat(lit("https://"),
          element_at(hosts, (col("doc_id") % 8 + 1).cast("int")),
          lit("/p"))
        s.read.parquet(pq(d, "documents")).where(col("doc_id") < 200)
          .select(col("doc_id"),
            graft.functions.Urls.urlHost(u).as("host"),
            graft.functions.Urls.urlIdnHost(u).as("host_unicode"),
            graft.functions.Urls.urlIdnHost(u, ascii = true)
              .as("host_ascii"))
      },
      Some("""WITH h AS (SELECT doc_id, CAST(doc_id % 8 AS INT) AS k,
                lower(CASE CAST(doc_id % 8 AS INT)
                  WHEN 0 THEN 'xn--bcher-kva.example'
                  WHEN 1 THEN 'XN--MNCHEN-3YA.de'
                  WHEN 2 THEN 'www.xn--fiqs8s'
                  WHEN 3 THEN 'shop.xn--p1ai'
                  WHEN 4 THEN 'xn--espaa-rta.com'
                  WHEN 5 THEN 'plain.example.co.uk'
                  WHEN 6 THEN 'münchen.de'
                  ELSE 'www.中国' END) AS host
                FROM documents WHERE doc_id < 200)
              SELECT doc_id, host,
                CASE k WHEN 0 THEN 'bücher.example'
                  WHEN 1 THEN 'münchen.de'
                  WHEN 2 THEN 'www.中国'
                  WHEN 3 THEN 'shop.рф'
                  WHEN 4 THEN 'españa.com'
                  WHEN 5 THEN 'plain.example.co.uk'
                  WHEN 6 THEN 'münchen.de'
                  ELSE 'www.中国' END AS host_unicode,
                CASE k WHEN 0 THEN 'xn--bcher-kva.example'
                  WHEN 1 THEN 'xn--mnchen-3ya.de'
                  WHEN 2 THEN 'www.xn--fiqs8s'
                  WHEN 3 THEN 'shop.xn--p1ai'
                  WHEN 4 THEN 'xn--espaa-rta.com'
                  WHEN 5 THEN 'plain.example.co.uk'
                  WHEN 6 THEN 'xn--mnchen-3ya.de'
                  ELSE 'www.xn--fiqs8s' END AS host_ascii
              FROM h""")),

    // BPE merge-pair statistics (Sennrich et al. 2016): top-20
    // adjacent-symbol pairs at merge step 0, counted over distinct
    // word types weighted by frequency — the corpus touches ONE
    // counting aggregation; pairs come off the vocabulary-scale type
    // table. Deterministic through ties (cnt desc, pair asc).
    Q("q_bpe_pairs",
      (s, d) => graft.functions.Bpe.topPairs(
        s.read.parquet(pq(d, "documents")), "text", 20),
      Some("""WITH words AS (SELECT
                  unnest(string_split_regex(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+'))
                    AS w
                FROM documents),
              wf AS (SELECT w, COUNT(*) AS wf FROM words
                WHERE w <> '' GROUP BY 1),
              p AS (SELECT unnest(list_transform(range(1, len(c)),
                    i -> c[i] || ' ' || c[i + 1])) AS pair, wf
                FROM (SELECT string_split(w, '') AS c, wf FROM wf))
              SELECT pair, CAST(SUM(wf) AS BIGINT) AS cnt FROM p
              GROUP BY 1 ORDER BY cnt DESC, pair LIMIT 20""")),

    // Greedy BPE encode under a fixed literal merge list (including a
    // same-symbol merge, the run-adjacency edge case). The oracle
    // replays the encoder EXACTLY via nested REPLACE over a sequence
    // whose symbols each carry their own boundary spaces — with
    // per-symbol boundaries, SQL REPLACE's continue-after-replacement
    // scan IS the paper's merge semantics (property-checked against
    // the native expression in BpeSpec); the REPLACE chain is
    // generated from the same demoMerges list the query ships, so the
    // two sides cannot drift.
    Q("q_bpe_encode",
      (s, d) => {
        s.read.parquet(pq(d, "documents"))
          .select(col("doc_id"),
            graft.functions.Bpe.encode(lower(trim(col("text"))),
              graft.functions.Bpe.demoMerges).as("sub"))
          .select(col("doc_id"),
            size(col("sub")).cast("long").as("n_subwords"),
            concat_ws(" ", col("sub")).as("enc"))
      },
      Some(bpeEncodeOracleSql)),

    // byte-level (GPT-2-style) BPE on RAW synthesized text: the
    // engine runs the real regex pre-tokenizer + bytes_to_unicode
    // alphabet + merge list; the oracle replays the same pipeline
    // with the pre-tokens grounded out analytically (the text is
    // built from literals chosen to exercise contractions,
    // punctuation, space-carrying 'Ġ' tokens, and a per-doc digit
    // run that stays unmerged)
    Q("q_bpe_encode_bytes",
      (s, d) => {
        val t = concat(lit("hello world, it's rank "),
          col("doc_id").cast("string"))
        s.read.parquet(pq(d, "documents")).where(col("doc_id") < 200)
          .select(col("doc_id"),
            graft.functions.Bpe.encodeBytes(t,
              graft.functions.Bpe.demoByteMerges).as("sub"))
          .select(col("doc_id"),
            size(col("sub")).cast("long").as("n_subwords"),
            concat_ws(" ", col("sub")).as("enc"))
      },
      Some(bpeEncodeBytesOracleSql)),

    // text → token IDS, the form a trainer consumes: encodeBytesToIds
    // rides the vocabulary as one map literal; ids on both sides come
    // from the same deterministic vocabBytes assignment (the oracle's
    // CASE is GENERATED from it), so the check pins the id layout —
    // GPT-2's base-byte ids then rank-ordered merge products
    Q("q_bpe_token_ids",
      (s, d) => {
        val t = concat(lit("hello world, it's rank "),
          col("doc_id").cast("string"))
        s.read.parquet(pq(d, "documents")).where(col("doc_id") < 200)
          .select(col("doc_id"),
            concat_ws(",", graft.functions.Bpe.encodeBytesToIds(t,
                graft.functions.Bpe.demoByteMerges)
              .cast("array<string>")).as("ids"))
      },
      Some(bpeTokenIdsOracleSql)),

    // byte-level losslessness, proven over REAL corpus text (not a
    // synthesized fixture): decode(encode(text)) must equal text for
    // every document — the property that makes byte-level the right
    // alphabet for training data (no OOV, no normalization loss). The
    // oracle is the analytic constant the property asserts; any
    // pre-tokenizer character drop or byte-map error breaks the hash.
    Q("q_bpe_roundtrip_bytes",
      (s, d) => {
        val enc = graft.functions.Bpe.encodeBytes(col("text"),
          graft.functions.Bpe.demoByteMerges)
        s.read.parquet(pq(d, "documents"))
          .select(col("doc_id"),
            (graft.functions.Bpe.decodeBytes(enc) === col("text"))
              .as("lossless"))
      },
      Some("""SELECT doc_id, CAST(TRUE AS BOOLEAN) AS lossless
              FROM documents""")),

    // one full BPE TRAINING iteration under the driver gate: find the
    // best step-0 pair (cnt desc, pair asc — the trainer's tiebreak),
    // apply it to every word type, recount. The oracle computes the
    // best pair itself and replays the application via the wrapped-
    // symbol REPLACE (symbols keep owning their boundary spaces after
    // a merge, so post-merge symbols are exactly the double-space
    // split), proving the iterative loop's core — count/pick/apply —
    // in SQL, not just its step-0 statistics.
    Q("q_bpe_train_step",
      (s, d) => {
        val docs = s.read.parquet(pq(d, "documents"))
        val best = graft.functions.Bpe.topPairs(docs, "text", 1)
          .collect()(0).getString(0).split(" ", 2)
        graft.functions.Bpe.pairCountsWithMerges(
            docs, "text", Seq(best(0) -> best(1)))
          .orderBy(col("cnt").desc, col("pair").asc).limit(20)
      },
      Some("""WITH words AS (SELECT
                  unnest(string_split_regex(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+'))
                    AS w
                FROM documents),
              wf AS (SELECT w, COUNT(*) AS wf FROM words
                WHERE w <> '' GROUP BY 1),
              p0 AS (SELECT unnest(list_transform(range(1, len(c)),
                    i -> c[i] || ' ' || c[i + 1])) AS pair, wf
                FROM (SELECT string_split(w, '') AS c, wf FROM wf)),
              best AS (SELECT pair, CAST(SUM(wf) AS BIGINT) AS cnt FROM p0
                GROUP BY 1 ORDER BY cnt DESC, pair LIMIT 1),
              applied AS (SELECT REPLACE(
                  ' ' || array_to_string(string_split(w, ''),
                    repeat(' ', 2)) || ' ',
                  ' ' || split_part(best.pair, ' ', 1) ||
                    repeat(' ', 2) ||
                    split_part(best.pair, ' ', 2) || ' ',
                  ' ' || replace(best.pair, ' ', '') || ' ') AS s, wf
                FROM wf CROSS JOIN best),
              rc AS (SELECT unnest(list_transform(range(1, len(sy)),
                    i -> sy[i] || ' ' || sy[i + 1])) AS pair, wf
                FROM (SELECT string_split(trim(s), repeat(' ', 2))
                    AS sy, wf
                  FROM applied))
              SELECT pair, CAST(SUM(wf) AS BIGINT) AS cnt FROM rc
              GROUP BY 1 ORDER BY cnt DESC, pair LIMIT 20""")),

    // text-density boilerplate removal: the synthesized page wraps the
    // document text with a nav bar, a too-short block, a link-heavy
    // "related" strip and a linky footer — only content-length,
    // link-sparse blocks survive. Lengths are counted pre-decode and
    // the density threshold is integer percent, so the keep decision is
    // exact in both engines; the oracle replays the identical
    // block-split + lambda scoring (COALESCE on the anchor join:
    // DuckDB's array_to_string of an empty list is NULL where Spark's
    // concat_ws is '')
    Q("q_html_boilerplate",
      (s, d) => {
        val html = concat(
          lit("<html><head><script>nav()</script></head><body>" +
            "<div><a href=\"/\">Home</a> <a href=\"/a\">About</a> " +
            "<a href=\"/c\">Contact</a></div><p>"),
          col("text"),
          lit("</p><div>This is the main article body, long enough " +
            "to keep.</div><div>Related: <a href=\"/x\">"),
          col("source"),
          lit(" article one</a></div><footer><a href=\"/p\">Privacy " +
            "policy</a> &amp; Example</footer></body></html>"))
        s.read.parquet(pq(d, "documents")).where(col("doc_id") < 200)
          .select(col("doc_id"),
            graft.functions.TextAnalysis.removeBoilerplate(html)
              .as("content"))
      },
      Some("""WITH h AS (SELECT doc_id,
                '<html><head><script>nav()</script></head><body><div><a href="/">Home</a> <a href="/a">About</a> <a href="/c">Contact</a></div><p>' ||
                text ||
                '</p><div>This is the main article body, long enough to keep.</div><div>Related: <a href="/x">' ||
                source ||
                ' article one</a></div><footer><a href="/p">Privacy policy</a> &amp; Example</footer></body></html>'
                AS html FROM documents WHERE doc_id < 200),
              s1 AS (SELECT doc_id,
                regexp_replace(regexp_replace(regexp_replace(html,
                  '(?is)<script\b[^>]*>.*?</script\s*>', ' ', 'g'),
                  '(?is)<style\b[^>]*>.*?</style\s*>', ' ', 'g'),
                  '(?s)<!--.*?-->', ' ', 'g') AS t FROM h),
              b AS (SELECT doc_id, string_split_regex(t,
                '(?i)</?(?:p|div|br|h[1-6]|li|ul|ol|table|tr|td|th|section|article|header|footer|blockquote|pre)\b[^>]*>')
                AS blocks FROM s1),
              sc AS (SELECT doc_id, list_transform(blocks,
                x -> struct_pack(
                  t := trim(regexp_replace(regexp_replace(x,
                    '(?s)<[^>]*>', ' ', 'g'), '\s+', ' ', 'g')),
                  l := trim(regexp_replace(regexp_replace(
                    COALESCE(array_to_string(regexp_extract_all(x,
                      '(?is)<a\b[^>]*>(.*?)</a\s*>', 1), ' '), ''),
                    '(?s)<[^>]*>', ' ', 'g'), '\s+', ' ', 'g'))))
                AS bs FROM b),
              k AS (SELECT doc_id, list_filter(bs,
                s -> length(s.t) >= 25
                  AND length(s.l) * 100 <= length(s.t) * 40) AS ks
                FROM sc)
              SELECT doc_id,
                regexp_replace(regexp_replace(regexp_replace(
                regexp_replace(regexp_replace(regexp_replace(
                  array_to_string(list_transform(ks, s -> s.t), chr(10)),
                '&nbsp;', ' ', 'g'), '&lt;', '<', 'g'),
                '&gt;', '>', 'g'), '&quot;', '"', 'g'),
                '&#39;|&apos;', '''', 'g'), '&amp;', '&', 'g')
                AS content
              FROM k""")),

    // Unicode-script letter ratios: the corpus is ASCII-Latin, so the
    // query plants a fixed mixed-script suffix (Cyrillic + Han +
    // Arabic) — counts and fractions are deterministic in both
    // engines' regex implementations (Java \p{IsX} ≡ RE2 \p{X})
    Q("q_text_script",
      (s, d) => {
        val t = concat(col("text"),
          lit(" Привет мир 你好世界 مرحبا بالعالم"))
        s.read.parquet(pq(d, "documents")).where(col("doc_id") < 200)
          .select(col("doc_id"),
            graft.functions.TextAnalysis.letterCount(t).as("n_letters"),
            graft.functions.TextAnalysis.scriptLetterCount(t, "Latin")
              .as("latin"),
            graft.functions.TextAnalysis.scriptLetterCount(t, "Cyrillic")
              .as("cyrillic"),
            graft.functions.TextAnalysis.scriptLetterCount(t, "Han")
              .as("han"),
            graft.functions.TextAnalysis.scriptLetterCount(t, "Arabic")
              .as("arabic"))
          .withColumn("latin_frac",
            round(col("latin").cast("double") / col("n_letters"), 4))
      },
      Some("""WITH t AS (SELECT doc_id,
                text || ' Привет мир 你好世界 مرحبا بالعالم' AS tt
                FROM documents WHERE doc_id < 200)
              SELECT doc_id,
                len(regexp_extract_all(lt, '\p{L}')) AS n_letters,
                len(regexp_extract_all(lt, '\p{Latin}')) AS latin,
                len(regexp_extract_all(lt, '\p{Cyrillic}')) AS cyrillic,
                len(regexp_extract_all(lt, '\p{Han}')) AS han,
                len(regexp_extract_all(lt, '\p{Arabic}')) AS arabic,
                ROUND(CAST(len(regexp_extract_all(lt, '\p{Latin}'))
                    AS DOUBLE)
                  / len(regexp_extract_all(lt, '\p{L}')), 4) AS latin_frac
              FROM (SELECT doc_id,
                regexp_replace(tt, '[^\p{L}]', '', 'g') AS lt FROM t)""")),

    // numeric + named character-reference decode via the native
    // expression (no engine-portable SQL form exists for codepoint
    // emission, so the oracle CONSTRUCTS the expected decode of the
    // planted references: A/B by decimal/hex, curly quote + emoji by
    // chr(), single-pass &amp;lt; semantics, unknown and surrogate
    // references verbatim). Corpus text is &-free (checked), so the
    // planted suffix is the only decode site.
    Q("q_html_entities",
      (s, d) => {
        s.read.parquet(pq(d, "documents")).where(col("doc_id") < 200)
          .select(col("doc_id"),
            graft.plans.NativeFunctions.htmlEntitiesNative(concat(
              col("text"),
              lit(" &#65;&#x42; &rsquo;&#128077; &amp;lt; &bogus; &#xD800;")))
              .as("decoded"))
      },
      Some("""SELECT doc_id, text || ' AB ' || chr(8217) || chr(128077) ||
                ' &lt; &bogus; &#xD800;' AS decoded
              FROM documents WHERE doc_id < 200""")),

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
      Some("""WITH t AS (
                SELECT doc_id, text,
                  string_split_regex(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+') AS ltoks,
                  string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS toks
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
                    ['the','of','and','to','a','in','is','it','that',
                     'was','for','on','with','as','at','by','this','are',
                     'be'], x))) AS DOUBLE) / len(ltoks) AS stop_r,
                  len(list_intersect(list_distinct(ltoks),
                    ['the','of','and','to','a','in','is','it','that',
                     'was','for','on','with','as','at','by','this','are',
                     'be'])) AS h_en,
                  len(list_intersect(list_distinct(ltoks),
                    ['der','die','das','und','ist','ein','eine','zu',
                     'den','von','mit','auf','für','im','nicht','sich',
                     'auch'])) AS h_de,
                  len(list_intersect(list_distinct(ltoks),
                    ['le','la','les','de','des','et','est','un','une',
                     'du','dans','que','qui','pour','pas','sur','au',
                     'avec'])) AS h_fr,
                  len(list_intersect(list_distinct(ltoks),
                    ['el','la','los','las','de','y','es','un','una',
                     'del','en','que','no','por','con','para','se',
                     'su'])) AS h_es
                FROM t
              ), q AS (
                SELECT doc_id, text,
                  ROUND(least(ntok / 50.0, CAST(1.0 AS DOUBLE)) * 0.25
                    + alpha_r * 0.25
                    + greatest(CAST(0.0 AS DOUBLE),
                        1.0 - punct_r * 5.0) * 0.2
                    + (CASE WHEN mtl BETWEEN 2.0 AND 12.0
                        THEN CAST(1.0 AS DOUBLE)
                        ELSE CAST(0.2 AS DOUBLE) END) * 0.15
                    + least(stop_r * 5.0, CAST(1.0 AS DOUBLE)) * 0.15, 4)
                    AS quality,
                  CASE WHEN greatest(h_en, h_de, h_fr, h_es) = 0 THEN 'und'
                    ELSE (SELECT l FROM (VALUES ('en', h_en), ('de', h_de),
                      ('fr', h_fr), ('es', h_es)) v(l, h)
                      ORDER BY h DESC, l DESC LIMIT 1)
                  END AS lang_pred
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

    // ---- similarity search ----------------------------------------------
    Q("q_ann_brute",
      (s, d) => {
        val emb = s.read.parquet(pq(d, "embeddings"))
        val qv = emb.where(col("vec_id") === 0)
          .select(col("embedding")).first().getSeq[Float](0)
        graft.operators.Similarity.bruteForceTopK(
          emb, "vec_id", "embedding", qv, 10)
      },
      Some("""SELECT vec_id,
              ROUND(CAST(list_cosine_similarity(embedding,
                (SELECT embedding FROM embeddings WHERE vec_id = 0))
                AS DOUBLE), 4) AS cosine
              FROM embeddings ORDER BY cosine DESC, vec_id LIMIT 10""")),

    // hard-negative mining (DPR-style): per anchor, the most-similar
    // vectors with a DIFFERENT label — exact scan with the label
    // inequality ahead of the window; oracle replays cosine + rank
    Q("q_hard_negatives",
      (s, d) => {
        val emb = s.read.parquet(pq(d, "embeddings"))
        val anchors = emb.where(col("vec_id") < 5)
          .select(col("vec_id").as("anchor_id"),
            col("embedding").as("av"), col("label").as("albl"))
        graft.operators.Similarity.hardNegatives(emb, anchors,
          "vec_id", "embedding", "label", "anchor_id", "av", "albl",
          k = 5)
      },
      Some("""SELECT anchor_id, vec_id, label, cosine, rank FROM (
                SELECT a.vec_id AS anchor_id, e.vec_id AS vec_id,
                  e.label,
                  ROUND(CAST(list_cosine_similarity(e.embedding,
                    a.embedding) AS DOUBLE), 4) AS cosine,
                  ROW_NUMBER() OVER (PARTITION BY a.vec_id
                    ORDER BY ROUND(CAST(list_cosine_similarity(
                      e.embedding, a.embedding) AS DOUBLE), 4) DESC,
                      e.vec_id) AS rank
                FROM embeddings e, embeddings a
                WHERE a.vec_id < 5 AND e.label <> a.label) t
              WHERE rank <= 5""")),

    Q("q_ann_topk_per_query",
      (s, d) => {
        val emb = s.read.parquet(pq(d, "embeddings"))
        val queries = emb.where(col("vec_id") < 3)
          .select(col("vec_id").as("query_id"),
            col("embedding").as("qv"))
        graft.operators.Similarity.topKPerQuery(emb, queries,
          "vec_id", "embedding", "query_id", "qv", 5)
      },
      Some("""SELECT query_id, vec_id, cosine, rank FROM (
                SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
                  ROUND(CAST(list_cosine_similarity(e.embedding, q.embedding)
                    AS DOUBLE), 4) AS cosine,
                  ROW_NUMBER() OVER (PARTITION BY q.vec_id
                    ORDER BY ROUND(CAST(list_cosine_similarity(e.embedding,
                      q.embedding) AS DOUBLE), 4) DESC, e.vec_id) AS rank
                FROM embeddings e, embeddings q WHERE q.vec_id < 3) t
              WHERE rank <= 5""")),

    // same planted-exactness move as q_ann_lsh below: an identical copy
    // is assigned to its source's IVF cell (same argmax centroid), scores
    // cosine 1.0, and ranks 2 behind the self-match — cell structure
    // stays index-specific, the planted slice is an exact expected set
    Q("q_ann_ivf",
      (s, d) => {
        val emb = s.read.parquet(pq(d, "embeddings"))
          .select(col("vec_id"), col("embedding"))
        val planted = emb.where(col("vec_id") < 3)
          .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
        val queries = emb.where(col("vec_id") < 3)
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
        graft.operators.Similarity.ivfTopK(emb.unionByName(planted), queries,
          "vec_id", "embedding", "query_id", "qv",
          k = 5, nlist = 16, nprobe = 4)
          .where(col("vec_id") === col("query_id") + 100000L)
      },
      Some("""SELECT vec_id AS query_id, vec_id + 100000 AS vec_id,
              CAST(1.0 AS DOUBLE) AS cosine, 2 AS "rank"
              FROM embeddings WHERE vec_id < 3""")),

    // IVF-PQ: the memory-bounded ANN scale path (codes-only candidate
    // scan + exact-cosine rerank). The quantized shortlist is
    // approximate, but the planted slice stays exact: an identical
    // copy shares its source's coarse cell AND its PQ codes
    // (identical residual → identical L2-argmin codes), ties its ADC
    // self-reconstruction score — far above unrelated candidates — so
    // both ride the shortlist into the rerank, where exact cosine
    // puts the copy at rank 2 behind the self-match
    Q("q_ann_ivfpq",
      (s, d) => {
        val emb = s.read.parquet(pq(d, "embeddings"))
          .select(col("vec_id"), col("embedding"))
        val planted = emb.where(col("vec_id") < 3)
          .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
        val queries = emb.where(col("vec_id") < 3)
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
        graft.operators.Similarity.ivfpqTopK(emb.unionByName(planted),
          queries, "vec_id", "embedding", "query_id", "qv",
          k = 5, nlist = 16, nprobe = 4, m = 8, ksub = 16, shortlist = 64)
          .where(col("vec_id") === col("query_id") + 100000L)
      },
      Some("""SELECT vec_id AS query_id, vec_id + 100000 AS vec_id,
              CAST(1.0 AS DOUBLE) AS cosine, 2 AS "rank"
              FROM embeddings WHERE vec_id < 3""")),

    // LSH buckets are approximate by design, but planted IDENTICAL
    // vectors make a slice of the output exact: a copy shares its
    // source's bucket (same sign bits) with cosine 1.0, so behind the
    // self-match (rank 1, smaller id) it lands at rank 2 — an expected
    // set that IS SQL-expressible, giving the bucket-join + rank path a
    // real oracle. (A natural vector would have to round to cosine
    // 1.0000 to break the rank — random embeddings sit far below.)
    Q("q_ann_lsh",
      (s, d) => {
        val emb = s.read.parquet(pq(d, "embeddings"))
          .select(col("vec_id"), col("embedding"))
        val planted = emb.where(col("vec_id") < 3)
          .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
        val queries = emb.where(col("vec_id") < 3)
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
        graft.operators.Similarity.lshTopK(emb.unionByName(planted), queries,
          "vec_id", "embedding", "query_id", "qv", k = 5, planes = 6)
          .where(col("vec_id") === col("query_id") + 100000L)
      },
      Some("""SELECT vec_id AS query_id, vec_id + 100000 AS vec_id,
              CAST(1.0 AS DOUBLE) AS cosine, 2 AS "rank"
              FROM embeddings WHERE vec_id < 3""")),

    // ---- events / time-series -------------------------------------------
    Q("q_events_hourly",
      (s, d) => graft.streaming.EventsPipeline.hourlyRollup(events(s, d))
        .select(date_format(col("hour_start"), "yyyy-MM-dd HH:00:00")
          .as("hour_str"), col("event_type"), col("n_events"),
          col("sum_value"))
        .withColumn("sum_value", round(col("sum_value"), 4)),
      Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00')
                AS hour_str, event_type, COUNT(*) AS n_events,
              ROUND(SUM(value), 4) AS sum_value
              FROM events GROUP BY 1, 2""")),

    // sliding-window rollup (10-min windows every 5 min): each event
    // lands in exactly two windows — the oracle materializes both via
    // the [0, 300]s offset unnest on the same 5-min grid arithmetic
    // Spark's window() uses; naive-timestamp math end to end (no tz)
    Q("q_events_sliding",
      (s, d) => graft.streaming.EventsPipeline
        .slidingUserActivity(events(s, d))
        .select(date_format(col("win_start"), "yyyy-MM-dd HH:mm:ss")
          .as("win_str"), col("user_id"), col("n"), col("v")),
      Some("""WITH e AS (SELECT user_id, value,
                make_timestamp(CAST((floor(epoch(ts) / 300) * 300 - off)
                  * 1000000 AS BIGINT)) AS win_start
                FROM events, unnest([0, 300]) AS t(off))
              SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_str,
                user_id, COUNT(*) AS n, ROUND(SUM(value), 4) AS v
              FROM e GROUP BY 1, 2""")),

    Q("q_events_type_stats",
      (s, d) => events(s, d).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          count_distinct(col("user_id")).as("n_users"),
          round(avg(col("value")), 4).as("avg_value")),
      Some("""SELECT event_type, COUNT(*) AS n,
              COUNT(DISTINCT user_id) AS n_users,
              ROUND(AVG(value), 4) AS avg_value
              FROM events GROUP BY event_type""")),

    Q("q_sessionize",
      (s, d) => graft.streaming.EventsPipeline
        .sessionizeBatch(events(s, d), gapMinutes = 30)
        .select(col("user_id"), col("session_id"),
          date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss")
            .as("start_str"),
          date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss")
            .as("end_str"),
          col("n_events"), col("sum_value")),
      Some("""SELECT user_id, session_id,
                strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS start_str,
                strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS end_str,
                COUNT(*) AS n_events, ROUND(SUM(value), 4) AS sum_value
              FROM (
                SELECT user_id, ts, value,
                  CAST(SUM(brk) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS session_id
                FROM (
                  SELECT user_id, event_id, ts, value,
                    CASE WHEN prev_ts IS NULL
                      OR CAST(FLOOR(epoch(ts)) AS BIGINT)
                       - CAST(FLOOR(epoch(prev_ts)) AS BIGINT) > 1800
                      THEN 1 ELSE 0 END AS brk
                  FROM (SELECT user_id, event_id, ts, value,
                    LAG(ts) OVER (PARTITION BY user_id
                      ORDER BY ts, event_id) AS prev_ts FROM events) a
                ) b
              ) c GROUP BY user_id, session_id""")),

    // Spark's NATIVE session_window operator — same gap semantics as the
    // hand-rolled q_sessionize (split at gap >= 30min; the oracle's
    // break uses >= on full-precision timestamps, exactly
    // session_window's merge rule)
    Q("q_session_window",
      (s, d) => graft.streaming.EventsPipeline
        .sessionizeNative(events(s, d), gapMinutes = 30)
        .select(col("user_id"),
          date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss")
            .as("start_str"),
          date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss")
            .as("end_str"),
          col("n_events"), col("sum_value")),
      Some("""SELECT user_id,
                strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS start_str,
                strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS end_str,
                COUNT(*) AS n_events, ROUND(SUM(value), 4) AS sum_value
              FROM (
                SELECT user_id, ts, value,
                  CAST(SUM(brk) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS sid
                FROM (
                  SELECT user_id, event_id, ts, value,
                    CASE WHEN prev_ts IS NULL
                      OR ts >= prev_ts + INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END AS brk
                  FROM (SELECT user_id, event_id, ts, value,
                    LAG(ts) OVER (PARTITION BY user_id
                      ORDER BY ts, event_id) AS prev_ts FROM events) a
                ) b
              ) c GROUP BY user_id, sid""")),

    // exact interpolated percentiles: Spark `percentile` ≡ DuckDB
    // quantile_cont (both linear interpolation over the sorted set)
    Q("q_percentile",
      // exact percentile builds a per-value hash map per group in the
      // PARTIAL aggregate — heavy per-row work that the one-row-group
      // local file serializes onto a single scan task (optimization
      // round 19 / guide §2.5; hash repartition on the value column is
      // deterministic and adds no round-robin pre-sort; interleaved A/B
      // −0.25 s). At 100 TB the scan has thousands of splits and the
      // repartition becomes unnecessary, not wrong.
      (s, d) => s.read.parquet(pq(d, "lineitem"))
        .repartition(s.sparkContext.defaultParallelism,
          col("l_extendedprice"))
        .groupBy(col("l_returnflag"))
        // array form: ONE per-group value buffer + sort serves all three
        // percentiles (three scalar calls would keep three copies)
        .agg(expr("percentile(l_extendedprice, array(0.5, 0.9, 0.99))")
          .as("pcts"))
        .select(col("l_returnflag"),
          round(element_at(col("pcts"), 1), 4).as("p50"),
          round(element_at(col("pcts"), 2), 4).as("p90"),
          round(element_at(col("pcts"), 3), 4).as("p99")),
      Some("""SELECT l_returnflag,
              ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
              ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
              ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS p99
              FROM lineitem GROUP BY l_returnflag""")),

    // bounded-error gate (not rows-only): the HLL++ estimate is
    // algorithm-specific, so the query computes approx AND exact in ONE
    // aggregation pass and emits a per-group verdict the oracle can
    // state as a constant — |approx − exact| ≤ 4·rsd·exact (rsd 0.05
    // default ⇒ 0.2). A silently broken sketch now turns the gate red.
    // The exact twin lives only in the gate; the production scale path
    // remains the sketch alone.
    Q("q_approx_count_distinct",
      (s, d) => s.read.parquet(pq(d, "lineitem"))
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey")).as("__approx"),
          count_distinct(col("l_partkey")).as("exact_parts"))
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("__approx") - col("exact_parts")) <=
            lit(0.2) * col("exact_parts")).as("within_bound")),
      Some("""SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_parts,
              CAST(1 AS BOOLEAN) AS within_bound
              FROM lineitem GROUP BY l_returnflag""")),

    // the scale path beside q_percentile: exact `percentile` shuffles
    // every group's full value set to one reducer buffer — fine at
    // thousands of values per group, not at 10^9; approx_percentile
    // keeps a bounded sketch per group and partial-aggregates map-side,
    // so memory is O(sketch) however large the group
    // bounded-error gate: KLL-sketch values are algorithm-specific, so
    // the query computes approx AND exact percentiles in ONE aggregation
    // and emits the EXACT values plus a verdict — each approx value
    // within 1% relative of its exact twin (accuracy 10000 ⇒ rank error
    // ≤ 1e-4·N; the value gap across ±6 ranks at sf0.01 is far inside
    // 1%). The oracle replays the exact quantiles and the constant TRUE.
    Q("q_approx_percentile",
      (s, d) => {
        def ok(i: Int) =
          abs(element_at(col("__ap"), i) - element_at(col("__ep"), i)) <=
            lit(0.01) * abs(element_at(col("__ep"), i))
        s.read.parquet(pq(d, "lineitem"))
          // parallel partials for the per-group value buffers — the
          // q_percentile repartition rationale (round 19, guide §2.5)
          .repartition(s.sparkContext.defaultParallelism,
            col("l_extendedprice"))
          .groupBy(col("l_returnflag"))
          .agg(expr(
            "approx_percentile(l_extendedprice, array(0.5, 0.9, 0.99), 10000)")
            .as("__ap"),
            expr("percentile(l_extendedprice, array(0.5, 0.9, 0.99))")
              .as("__ep"))
          .select(col("l_returnflag"),
            round(element_at(col("__ep"), 1), 4).as("p50"),
            round(element_at(col("__ep"), 2), 4).as("p90"),
            round(element_at(col("__ep"), 3), 4).as("p99"),
            (ok(1) && ok(2) && ok(3)).as("within_bound"))
      },
      Some("""SELECT l_returnflag,
              ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
              ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
              ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS p99,
              CAST(1 AS BOOLEAN) AS within_bound
              FROM lineitem GROUP BY l_returnflag""")),

    // ---- multimodal plumbing (image/audio/video decode all REAL — JDK
    // ImageIO / javax.sound / MJPEG frame-split; see Multimodal
    // scaladoc). The decoded shape facts per media_id ARE
    // SQL-expressible: synthetic payload dims/rates are deterministic
    // functions of the id, and the Spark side reports what the codecs
    // DECODED, so the oracle verifies a real decode round-trip for all
    // three modalities
    Q("q_multimodal_features",
      (s, d) => {
        import graft.multimodal.Multimodal
        val feats = Multimodal.featurize(Multimodal.syntheticMedia(s, 300))
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
          Multimodal.syntheticImageCorpus(s, nContents = 60, copies = 3),
          maxHamming = 4)
      },
      Some("""SELECT a.i AS id_a, b.i AS id_b, 0 AS hamming
              FROM generate_series(0, 179) a(i)
                JOIN generate_series(0, 179) b(i)
                ON a.i < b.i AND a.i % 60 = b.i % 60""")),

    // video near-dup: middle-frame DCT pHash over real MJPEG decode +
    // the shared Manku blocking — completes the image/audio/video
    // near-dup family under the driver gate
    Q("q_video_fp_dedup",
      (s, d) => {
        import graft.multimodal.Multimodal
        Multimodal.videoNearDuplicates(
          Multimodal.syntheticVideoCorpus(s, nContents = 30, copies = 3),
          maxHamming = 4)
      },
      Some("""SELECT a.i AS id_a, b.i AS id_b, 0 AS hamming
              FROM generate_series(0, 89) a(i)
                JOIN generate_series(0, 89) b(i)
                ON a.i < b.i AND a.i % 30 = b.i % 30""")),

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
          Multimodal.syntheticImageCorpus(s, nContents = 40, copies = 1))
        val batch = Multimodal.syntheticImageCorpus(s, nContents = 50,
            copies = 1)
          .filter(r => r.media_id < 10 || r.media_id >= 40)
          .map(r => r.copy(media_id = r.media_id + 1000))
        graft.operators.Dedup.simhashProbeIndex(
          Multimodal.imageHashes(batch), index,
          "media_id", "phash", maxHamming = 4)
      },
      Some("""SELECT i + 1000 AS new_id, i AS seen_id, 0 AS hamming
              FROM generate_series(0, 9) t(i)""")),

    // audio near-dup: temporal zero-crossing fingerprint (real WAV
    // decode) + the shared Manku blocking — the audio member of the
    // pHash/SimHash family, same planted-content oracle construction
    Q("q_audio_fp_dedup",
      (s, d) => {
        import graft.multimodal.Multimodal
        Multimodal.audioNearDuplicates(
          Multimodal.syntheticAudioCorpus(s, nContents = 40, copies = 3),
          maxHamming = 4)
      },
      Some("""SELECT a.i AS id_a, b.i AS id_b, 0 AS hamming
              FROM generate_series(0, 119) a(i)
                JOIN generate_series(0, 119) b(i)
                ON a.i < b.i AND a.i % 40 = b.i % 40""")),

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

    // salting must be semantically invisible: oracle is the plain join
    Q("q_skew_salted_join",
      (s, d) => graft.operators.Skew.saltedJoin(
        s.read.parquet(pq(d, "lineitem"))
          .select(col("l_orderkey"), col("l_quantity")),
        s.read.parquet(pq(d, "orders"))
          .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus")),
        Seq("l_orderkey"), buckets = 8)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 4).as("qty")),
      Some("""SELECT o_orderstatus, COUNT(*) AS n,
              ROUND(SUM(l_quantity), 4) AS qty
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              GROUP BY o_orderstatus""")),

    // single-pass column profiler (corpus QA): stats for all columns in
    // ONE aggregation, unpivoted with stack — not a scan per column
    Q("q_profile",
      // the exact-distinct Expand (4× input replication) runs in the
      // PARTIAL aggregate — single scan task on the one-row-group
      // local file; hash repartition parallelizes it (round 19, guide
      // §2.5 — the q_percentile rationale)
      (s, d) => graft.operators.Profile.profileNumeric(
        s.read.parquet(pq(d, "lineitem"))
          .repartition(s.sparkContext.defaultParallelism,
            col("l_extendedprice")),
        Seq("l_quantity", "l_extendedprice", "l_discount")),
      Some(profileExactOracleSql)),
    // the 100 TB profile path: HLL-sketch n_distinct (a few KB per
    // column, still one pass) replaces the exact-distinct Expand that
    // makes q_profile the slowest bench query. Bounded-error gate: the
    // sketch pass joins its exact twin (two 3-row frames, broadcast) and
    // the output carries the EXACT stats plus a per-column verdict —
    // |approx_ndv − exact_ndv| ≤ 0.2·exact_ndv (4·rsd at default 0.05) —
    // so a silently broken sketch goes red instead of rows-only-green.
    Q("q_profile_approx",
      (s, d) => {
        // both legs' partials parallelized off one exchange (round 19,
        // guide §2.5 — the q_profile rationale)
        val li = s.read.parquet(pq(d, "lineitem"))
          .repartition(s.sparkContext.defaultParallelism,
            col("l_extendedprice"))
        val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
        // NOT fused into one aggregation (optimization round 19,
        // measured): computing the HLL estimates inside the same
        // Aggregate as the three exact count_distincts rides the
        // distinct-rewrite Expand (4× input replication) and forced a
        // slower aggregate path — 2.64 s vs 1.32 s for this twin-pass
        // form, so the two-scan shape stays.
        val exact = graft.operators.Profile.profileNumeric(li, cols)
        val approx = graft.operators.Profile
          .profileNumeric(li, cols, exactDistinct = false)
          .select(col("column"), col("n_distinct").as("__approx_nd"))
        exact.join(broadcast(approx), Seq("column"))
          .select(col("column"), col("n_rows"), col("n_nonnull"),
            col("n_distinct"), col("min_v"), col("max_v"), col("avg_v"),
            (abs(col("__approx_nd") - col("n_distinct")) <=
              lit(0.2) * col("n_distinct")).as("ndv_within_bound"))
      },
      Some(
        s"""SELECT *, CAST(1 AS BOOLEAN) AS ndv_within_bound
            FROM ($profileExactOracleSql)""")),

    // salting must be semantically invisible: oracle is the plain GROUP BY
    Q("q_skew_salted",
      (s, d) => graft.operators.Skew.saltedAggregate(
        s.read.parquet(pq(d, "lineitem")), Seq("l_returnflag"), Seq(
          Seq("l_quantity", "sum", "qty_sum"),
          Seq("l_quantity", "count", "qty_n"),
          Seq("l_quantity", "mean", "qty_avg"),
          Seq("l_quantity", "min", "qty_min"),
          Seq("l_quantity", "max", "qty_max")), buckets = 8)
        .withColumn("qty_sum", round(col("qty_sum"), 4))
        .withColumn("qty_avg", round(col("qty_avg"), 4)),
      Some("""SELECT l_returnflag, ROUND(SUM(l_quantity), 4) AS qty_sum,
              COUNT(l_quantity) AS qty_n, ROUND(AVG(l_quantity), 4) AS qty_avg,
              MIN(l_quantity) AS qty_min, MAX(l_quantity) AS qty_max
              FROM lineitem GROUP BY l_returnflag""")),

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
            "{broken\n{\"doc_id\": \"notanumber\"}\n".getBytes("UTF-8"))
        }
        val schema = new org.apache.spark.sql.types.StructType()
          .add("doc_id", org.apache.spark.sql.types.LongType)
          .add("text", org.apache.spark.sql.types.StringType)
          .add("lang", org.apache.spark.sql.types.StringType)
          .add("source", org.apache.spark.sql.types.StringType)
          .add("n_chars", org.apache.spark.sql.types.LongType)
        val c = col(graft.sources.Jsonl.CorruptCol)
        graft.sources.Jsonl.read(s,
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

    // outlink extraction: planted pages exercising double/single/un-
    // quoted hrefs, attribute order, and a non-anchor href that must
    // NOT extract; the oracle replays the identical RE2 chain
    Q("q_html_links",
      (s, d) => {
        val pages = array(
          lit("<p>x</p><a href=\"/a1\">one</a><a id=q href='/a2'>two" +
            "</a>"),
          lit("<a class=z href=/bare>b</a><link href=\"/css\">" +
            "<A HREF=\"/caps\">c</A>"),
          lit("<a data-href=\"/tracker\" href=\"/real\">t</a>" +
            "no other links"))
        val html = element_at(pages, (col("doc_id") % 3 + 1).cast("int"))
        s.read.parquet(pq(d, "documents")).where(col("doc_id") < 150)
          .select(col("doc_id"),
            posexplode_outer(
              graft.functions.TextAnalysis.extractLinks(html))
              .as(Seq("pos", "link")))
      },
      Some("""WITH h AS (SELECT doc_id,
                CASE CAST(doc_id % 3 AS INT)
                  WHEN 0 THEN '<p>x</p><a href="/a1">one</a>' ||
                    '<a id=q href=''/a2''>two</a>'
                  WHEN 1 THEN '<a class=z href=/bare>b</a>' ||
                    '<link href="/css"><A HREF="/caps">c</A>'
                  ELSE '<a data-href="/tracker" href="/real">t</a>' ||
                    'no other links' END AS html
                FROM documents WHERE doc_id < 150),
              l AS (SELECT doc_id, list_transform(
                  regexp_extract_all(html,
                    '(?i)<a[\t\n\f\r ](?:[^>]*?[\t\n\f\r "''])?href[\t\n\f\r ]*=[\t\n\f\r ]*("[^"]*"|''[^'']*''|[^\t\n\f\r >"'']+)',
                    1),
                  v -> regexp_replace(v, '^["'']|["'']$', '', 'g'))
                  AS links
                FROM h),
              i AS (SELECT doc_id, links,
                  unnest(range(1, greatest(len(links), 1) + 1)) AS p
                FROM l)
              SELECT doc_id,
                CASE WHEN len(links) = 0 THEN NULL
                  ELSE CAST(p - 1 AS INT) END AS pos,
                links[p] AS link
              FROM i""")),

    // anchor (url, text) pairs: visible anchor text beside each link
    // target — inner tags stripped, whitespace collapsed; an anchor
    // never closed before EOF is dropped (no text to extract). The
    // oracle replays the identical two-group RE2 pattern and the
    // identical strip/collapse/trim chain, zipped by index.
    Q("q_html_anchors",
      (s, d) => {
        val pages = array(
          lit("<p>x</p><a href=\"/a1\">one</a>" +
            "<a id=q href='/a2'><b>two</b>\nwords</a>"),
          lit("<a class=z href=/bare>b</a><link href=\"/css\">" +
            "<A HREF=\"/caps\">Caps  Text</A>"),
          lit("<a href=\"/open\">never closed"))
        val html = element_at(pages, (col("doc_id") % 3 + 1).cast("int"))
        s.read.parquet(pq(d, "documents")).where(col("doc_id") < 150)
          .select(col("doc_id"),
            posexplode_outer(
              graft.functions.TextAnalysis.extractAnchors(html))
              .as(Seq("pos", "a")))
          .select(col("doc_id"), col("pos"),
            col("a.url").as("url"), col("a.anchor").as("anchor"))
      },
      Some("""WITH h AS (SELECT doc_id,
                CASE CAST(doc_id % 3 AS INT)
                  WHEN 0 THEN '<p>x</p><a href="/a1">one</a>' ||
                    '<a id=q href=''/a2''><b>two</b>' || chr(10) ||
                    'words</a>'
                  WHEN 1 THEN '<a class=z href=/bare>b</a>' ||
                    '<link href="/css"><A HREF="/caps">Caps  Text</A>'
                  ELSE '<a href="/open">never closed' END AS html
                FROM documents WHERE doc_id < 150),
              l AS (SELECT doc_id,
                list_transform(regexp_extract_all(html,
                  '(?is)<a[\t\n\f\r ](?:[^>]*?[\t\n\f\r "''])?href[\t\n\f\r ]*=[\t\n\f\r ]*("[^"]*"|''[^'']*''|[^\t\n\f\r >"'']+)[^>]*>(.*?)</[aA][\t\n\f\r ]*>',
                  1),
                  v -> regexp_replace(v, '^["'']|["'']$', '', 'g'))
                  AS urls,
                list_transform(regexp_extract_all(html,
                  '(?is)<a[\t\n\f\r ](?:[^>]*?[\t\n\f\r "''])?href[\t\n\f\r ]*=[\t\n\f\r ]*("[^"]*"|''[^'']*''|[^\t\n\f\r >"'']+)[^>]*>(.*?)</[aA][\t\n\f\r ]*>',
                  2),
                  t -> trim(regexp_replace(regexp_replace(t,
                    '<[^>]*>', ' ', 'g'), '\s+', ' ', 'g')))
                  AS texts
                FROM h),
              i AS (SELECT doc_id, urls, texts,
                  unnest(range(1, greatest(len(urls), 1) + 1)) AS p
                FROM l)
              SELECT doc_id,
                CASE WHEN len(urls) = 0 THEN NULL
                  ELSE CAST(p - 1 AS INT) END AS pos,
                urls[p] AS url, texts[p] AS anchor
              FROM i""")),

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

    // robots.txt politeness gate over planted bodies + URL cases: the
    // Spark side runs the FULL parse (groups, comments, specific-group
    // precedence) then the longest-match verdict; the oracle replays
    // the matching math against the hand-derived effective rule table
    // for the agent — if the parse produced different rules, the
    // verdicts would diverge, so both layers are pinned
    Q("q_robots_filter",
      (s, d) => {
        val robotsA = "User-agent: *\nDisallow: /private\n" +
          "Allow: /private/ok # curated\nDisallow: /tmp*\n\n" +
          "User-agent: graftbot\nDisallow: /only-star-blocked\n"
        val robotsB = "User-agent: graftbot\nUser-agent: otherbot\n" +
          "Disallow: /\nAllow: /pub\n"
        val robotsD = "User-agent: *\nDisallow: /dl/*.zip\n" +
          "Allow: /dl/free\n"
        val robots = s.range(3).toDF("i").select(
          when(col("i") === 0, "a.com").when(col("i") === 1, "b.com")
            .otherwise("d.com").as("domain"),
          when(col("i") === 0, robotsA).when(col("i") === 1, robotsB)
            .otherwise(robotsD).as("body"))
        val ruleTable = graft.functions.Robots.rules(robots,
          "domain", "body")
        val domains = array(lit("a.com"), lit("a.com"), lit("a.com"),
          lit("b.com"), lit("b.com"), lit("c.com"), lit("b.com"),
          lit("a.com"), lit("d.com"), lit("d.com"))
        val paths = array(lit("/private/ok/x"),
          lit("/only-star-blocked/z"), lit("/tmp/y"), lit("/pub/doc"),
          lit("/secret"), lit("/anything"), lit("/"), lit("/private"),
          lit("/dl/stuff.zip"), lit("/dl/readme.txt"))
        val urls = s.read.parquet(pq(d, "documents"))
          .where(col("doc_id") < 200)
          .select(col("doc_id"),
            element_at(domains, (col("doc_id") % 10 + 1).cast("int"))
              .as("domain"),
            element_at(paths, (col("doc_id") % 10 + 1).cast("int"))
              .as("path"))
        graft.functions.Robots.verdict(urls, ruleTable, "graftbot",
          "domain", "path")
      },
      Some("""WITH rules AS (SELECT * FROM (VALUES
                ('a.com', FALSE, '/only-star-blocked', FALSE, NULL, 18),
                ('b.com', FALSE, '/', FALSE, NULL, 1),
                ('b.com', TRUE, '/pub', FALSE, NULL, 4),
                ('d.com', FALSE, NULL, TRUE, '^/dl/.*\.zip', 9),
                ('d.com', TRUE, '/dl/free', FALSE, NULL, 8))
                AS r(domain, allow, prefix, wildcard, pattern,
                  priority)),
              urls AS (SELECT doc_id,
                CASE CAST(doc_id % 10 AS INT)
                  WHEN 0 THEN 'a.com' WHEN 1 THEN 'a.com'
                  WHEN 2 THEN 'a.com' WHEN 3 THEN 'b.com'
                  WHEN 4 THEN 'b.com' WHEN 5 THEN 'c.com'
                  WHEN 6 THEN 'b.com' WHEN 7 THEN 'a.com'
                  ELSE 'd.com' END AS domain,
                CASE CAST(doc_id % 10 AS INT)
                  WHEN 0 THEN '/private/ok/x'
                  WHEN 1 THEN '/only-star-blocked/z'
                  WHEN 2 THEN '/tmp/y' WHEN 3 THEN '/pub/doc'
                  WHEN 4 THEN '/secret' WHEN 5 THEN '/anything'
                  WHEN 6 THEN '/' WHEN 7 THEN '/private'
                  WHEN 8 THEN '/dl/stuff.zip'
                  ELSE '/dl/readme.txt' END AS path
                FROM documents WHERE doc_id < 200),
              ranked AS (SELECT u.doc_id, u.domain, u.path, r.allow,
                  ROW_NUMBER() OVER (PARTITION BY u.doc_id
                    ORDER BY r.priority DESC NULLS LAST,
                      r.allow DESC) AS rk
                FROM urls u LEFT JOIN rules r
                  ON u.domain = r.domain
                    AND CASE WHEN r.wildcard
                      THEN regexp_matches(u.path, r.pattern)
                      ELSE starts_with(u.path, r.prefix) END)
              SELECT doc_id, domain, path,
                COALESCE(allow, TRUE) AS robots_allowed
              FROM ranked WHERE rk = 1""")),

    // effective Crawl-delay per domain — the frontier scheduler's
    // rate limit beside the allow/deny verdict. The fixture covers
    // the precedence matrix: agent delay shades '*' (a.com), '*'
    // fallback (b.com), unparsable agent value falls back rather
    // than meaning "no limit" (c.com has no '*' → absent), and
    // multiple delays collapse to the minimum (d.com). The oracle is
    // the hand-derived ground truth of those semantics.
    Q("q_crawl_delay",
      (s, d) => {
        val bodyA = "User-agent: *\nCrawl-delay: 10\nDisallow: /x\n\n" +
          "User-agent: graftbot\nCrawl-delay: 2.5\n"
        val bodyB = "User-agent: *\nCrawl-delay: 5\n"
        val bodyC = "User-agent: graftbot\nCrawl-delay: oops\n"
        val bodyD = "User-agent: graftbot\nDisallow: /q\n" +
          "Crawl-delay: 7\nCrawl-delay: 3\n"
        val robots = s.range(4).toDF("i").select(
          element_at(array(lit("a.com"), lit("b.com"), lit("c.com"),
            lit("d.com")), (col("i") + 1).cast("int")).as("domain"),
          element_at(array(lit(bodyA), lit(bodyB), lit(bodyC),
            lit(bodyD)), (col("i") + 1).cast("int")).as("body"))
        graft.functions.Robots.crawlDelays(robots, "domain", "body",
          "GraftBot")
      },
      Some("""SELECT * FROM (VALUES
              ('a.com', CAST(2.5 AS DOUBLE)),
              ('b.com', CAST(5 AS DOUBLE)),
              ('d.com', CAST(3 AS DOUBLE)))
              t(domain, crawl_delay)""")),

    // Sitemap records are domain-global (valid anywhere in the file,
    // never part of a group): extraction is a field filter with the
    // URL's case preserved; duplicates collapse
    Q("q_sitemaps",
      (s, d) => {
        val bodyA = "Sitemap: https://a.com/sm1.xml\nUser-agent: *\n" +
          "Disallow: /x\nSitemap: https://a.com/sm2.xml\n"
        val bodyB = "User-agent: *\nCrawl-delay: 5\n"
        val bodyD = "Sitemap: https://d.com/SM.xml\n" +
          "Sitemap: https://d.com/SM.xml\n"
        val robots = s.range(3).toDF("i").select(
          element_at(array(lit("a.com"), lit("b.com"), lit("d.com")),
            (col("i") + 1).cast("int")).as("domain"),
          element_at(array(lit(bodyA), lit(bodyB), lit(bodyD)),
            (col("i") + 1).cast("int")).as("body"))
        graft.functions.Robots.sitemaps(robots, "domain", "body")
      },
      Some("""SELECT * FROM (VALUES
              ('a.com', 'https://a.com/sm1.xml'),
              ('a.com', 'https://a.com/sm2.xml'),
              ('d.com', 'https://d.com/SM.xml'))
              t(domain, sitemap)""")),

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

    // per-label embedding centroids by mean pooling (the chunk→doc /
    // class-centroid aggregation); the digest projection keeps the
    // compare on scalars (the q_transport_embeddings pattern) — dim,
    // first component, and component-sum pin the whole vector
    Q("q_emb_pool",
      (s, d) => {
        val pooled = graft.operators.Embeddings.meanPool(
          s.read.parquet(pq(d, "embeddings")), "label", "embedding")
        pooled.select(col("label"), col("n"),
          size(col("embedding")).as("dim"),
          round(element_at(col("embedding"), 1), 4).as("e0"),
          round(graft.operators.Embeddings.l2Norm(col("embedding")), 4)
            .as("nrm"))
      },
      Some("""WITH idx AS (SELECT label, embedding,
                  unnest(range(1, len(embedding) + 1)) AS pos
                FROM embeddings),
              e AS (SELECT label, pos,
                  CAST(embedding[pos] AS DOUBLE) AS x FROM idx),
              m AS (SELECT label, pos, AVG(x) AS m, COUNT(*) AS cnt
                FROM e GROUP BY label, pos)
              SELECT label, MAX(cnt) AS n, COUNT(*) AS dim,
                ROUND(MAX(CASE WHEN pos = 1 THEN m END), 4) AS e0,
                ROUND(SQRT(SUM(m * m)), 4) AS nrm
              FROM m GROUP BY label""")),

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

    // ---- transport round-trip (S7/S8) ------------------------------------
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
