package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import SparkEntry._

/** Round-11/12 extensions: Gopher rules at pipeline altitude,
  * char-ngram language ID, normalized dedup keys, media sequence
  * matching, ratio constellations. */
private[graft] object RegistryRound11 {

  /** History slice indexed by the CDC novelty pair (q_cdc_novelty and
    * q_cdc_novelty_state share fixture, verdict and oracle — the two
    * forms are the same semantics by contract). */
  private[graft] def cdcNoveltyHistory(s: SparkSession,
                                       d: String): DataFrame =
    s.read.parquet(pq(d, "documents"))
      .select(col("doc_id"), col("text"))
      .where(col("doc_id").between(100, 399))

  /** The probe batch: exact copies (+100000), prefix-edited copies
    * (+200000), and a disjoint novel slice. */
  private[graft] def cdcNoveltyBatch(s: SparkSession,
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
  private[graft] def cdcNoveltyVerdict(nv: DataFrame): DataFrame =
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

  private[graft] val cdcNoveltyOracleSql =
    """SELECT (SELECT COUNT(*) FROM documents
        WHERE doc_id BETWEEN 100 AND 149) AS n_copies,
      (SELECT COUNT(*) FROM documents
        WHERE doc_id BETWEEN 100 AND 149) AS n_copies_zero,
      (SELECT COUNT(*) FROM documents
        WHERE doc_id BETWEEN 150 AND 199) AS n_edited,
      (SELECT COUNT(*) FROM documents
        WHERE doc_id BETWEEN 150 AND 199) AS n_edited_positive,
      CAST(1 AS BOOLEAN) AS novel_avg_high"""

  /** Oracle for q_langid_ngram, generated from [[langIdPlants]]: the
    * expected label per planted row is a literal CASE — falsifiable
    * (a wrong winner or an und-regression mismatches) and immune to
    * drift between the plant list and the replay. */
  private[graft] val langIdNgramOracleSql: String = {
    val n = langIdPlants.size
    val cases = langIdPlants.zipWithIndex.map { case ((lang, _), i) =>
      s"WHEN $i THEN '$lang'" }.mkString(" ")
    s"""SELECT doc_id, CASE CAST(doc_id % $n AS INT) $cases
        END AS lang_pred FROM documents"""
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

  /** tok/ln/sig CTE chain replaying [[graft.functions.TextAnalysis
    * .gopherSignals]]'s rule arithmetic over a `raw(doc_id, t)` CTE —
    * shared by q_gopher_signals (adversarial injected text) and
    * q_gopher_pipeline (raw corpus text) so the replay cannot drift
    * between the unit-altitude and pipeline-altitude gates.
    *
    * KNOWN ORACLE/ENGINE DIVERGENCE (documented, not currently
    * reachable): DuckDB regexes are RE2, the engine's are java.util
    * .regex, and they disagree on exactly two character classes —
    * (a) RE2 `\s` excludes vertical tab U+000B, which Java `\s`
    * includes (affects every `^\s+|\s+$` edge-trim replay in this
    * file), and (b) RE2 `$` does not match before a bare final line
    * terminator the way Java `rlike`'s `$` does for `\r`, U+0085,
    * U+2028, U+2029 (affects the bullet `[-*]( |$)` and ellipsis
    * `(\.\.\.|…)$` anchors below). The driver corpora and every
    * injected fixture in this file are free of all five characters
    * (U+000B, bare U+000D, U+0085, U+2028, U+2029) — guarded by
    * OracleDivergenceSpec — so the gates compare the
    * engines only where they agree; a future corpus containing them
    * would need the oracle made explicit (strip trailing `\r` before
    * anchoring, add `\x0B` to the trim class) rather than widened. */
  private val gopherSigCtes: String =
    """tok AS (SELECT doc_id, t,
        CASE WHEN length(regexp_replace(t, '^\s+|\s+$', '', 'g'))
            = 0 THEN []::VARCHAR[]
          ELSE string_split_regex(
            regexp_replace(t, '^\s+|\s+$', '', 'g'), '\s+') END
          AS toks FROM raw),
      ln AS (SELECT doc_id,
        list_filter(string_split_regex(t, '\r?\n'),
          l -> length(trim(l)) > 0) AS lines FROM raw),
      sig AS (SELECT tok.doc_id AS doc_id,
        len(toks) AS n_words,
        CASE WHEN len(toks) = 0 THEN 0.0
          ELSE CAST(list_aggregate(list_transform(toks,
            w -> length(w)), 'sum') AS DOUBLE) / len(toks) END
          AS mwl,
        CASE WHEN len(toks) = 0 THEN 0.0
          ELSE CAST(len(regexp_extract_all(t, '#')) AS DOUBLE)
            / len(toks) END AS hr,
        CASE WHEN len(toks) = 0 THEN 0.0
          ELSE CAST(len(regexp_extract_all(t, '\.\.\.'))
            + len(regexp_extract_all(t, '…')) AS DOUBLE)
            / len(toks) END AS er,
        CASE WHEN len(toks) = 0 THEN 0.0
          ELSE CAST(len(list_filter(toks,
            w -> regexp_matches(w, '\p{L}'))) AS DOUBLE)
            / len(toks) END AS af,
        CASE WHEN len(lines) = 0 THEN 0.0
          ELSE CAST(len(list_filter(lines, l -> regexp_matches(
            trim(l), '^([•‣◦·–]|[-*]( |$))'))) AS DOUBLE)
            / len(lines) END AS bf,
        CASE WHEN len(lines) = 0 THEN 0.0
          ELSE CAST(len(list_filter(lines, l -> regexp_matches(
            trim(l), '(\.\.\.|…)$'))) AS DOUBLE)
            / len(lines) END AS ef,
        len(list_intersect(list_distinct(list_transform(toks,
          w -> regexp_replace(lower(w),
            '^[\p{P}\p{S}]+|[\p{P}\p{S}]+$', '', 'g'))),
          ['the','be','to','of','and','that','have','with']))
          AS sh
        FROM tok JOIN ln ON tok.doc_id = ln.doc_id)"""

  /** The combined Gopher keep decision over [[gopherSigCtes]]'s sig
    * columns, parameterized on the word-count floor. */
  private def gopherKeepSql(minWords: Int): String =
    s"""CASE WHEN n_words BETWEEN $minWords AND 100000
        AND mwl BETWEEN 3.0 AND 10.0
        AND hr <= 0.1 AND er <= 0.1
        AND bf <= 0.9 AND ef <= 0.3
        AND af >= 0.8 AND sh >= 2
        THEN 1 ELSE 0 END"""

  /** The adversarial injected-structure corpus q_gopher_signals runs
    * on — shared by q_gopher_signals_table (the data-driven
    * function-word twin). */
  private[graft] def gopherInjectedDocs(s: org.apache.spark.sql
      .SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val variants = array(
      lit("\u2022 first point\n- second point\n* third\n\u2023 fourth\n\u2013 dash\n-"),
      lit("to be continued...\nand then\u2026\nthe end comes later..."),
      lit("## tagged ### content #### with # extra # tags #"),
      lit("\tthe, cat. (with) [of] {and} !that!\r\nplain line\r\n"))
    val injected = concat(substring(col("text"), 1, 60), lit("\n"),
      element_at(variants, (col("doc_id") % 4 + 1).cast("int")))
    s.read.parquet(pq(d, "documents"))
      .select(col("doc_id"), injected.as("text"))
  }

  /** q_gopher_signals' full rule replay, shared verbatim by the
    * data-driven twin. */
  private[graft] val gopherSignalsOracleSql: String =
    s"""WITH raw AS (SELECT doc_id,
                substr(text, 1, 60) || chr(10) ||
                  (CASE CAST(doc_id % 4 AS INT)
                    WHEN 0 THEN '• first point' || chr(10) ||
                      '- second point' || chr(10) || '* third' || chr(10)
                      || '‣ fourth' || chr(10) || '– dash' || chr(10) || '-'
                    WHEN 1 THEN 'to be continued...' || chr(10) ||
                      'and then…' || chr(10) || 'the end comes later...'
                    WHEN 2 THEN '## tagged ### content #### with # extra'
                      || ' # tags #'
                    ELSE chr(9) || 'the, cat. (with) [of] {and} !that!'
                      || chr(13) || chr(10) || 'plain line' || chr(13)
                      || chr(10) END) AS t
                FROM documents),
              $gopherSigCtes
              SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
                ROUND(mwl, 4) AS mean_word_len,
                ROUND(hr, 4) AS hash_ratio,
                ROUND(er, 4) AS ellipsis_ratio,
                ROUND(af, 4) AS alpha_word_frac,
                ROUND(bf, 4) AS bullet_line_frac,
                ROUND(ef, 4) AS ellipsis_line_frac,
                CAST(sh AS BIGINT) AS stop_hits,
                ${gopherKeepSql(5)} AS keep
              FROM sig"""

  val entries: Seq[Q] = Seq(

    // full Gopher/MassiveText rule set over adversarial injected
    // structure (bullets incl. bare '-', ellipsis line endings, hash
    // spam, CRLF + tab-leading + punctuation-adjacent stopwords) so
    // every rule tier fires somewhere; the oracle replays the whole
    // rule arithmetic in SQL
    Q("q_gopher_signals",
      (s, d) => graft.functions.TextAnalysis.gopherSignals(
        gopherInjectedDocs(s, d), "doc_id", "text", minWords = 5),
      Some(gopherSignalsOracleSql)),


    // char-ngram language ID over the 28 planted rows (27 languages
    // across 9 scripts + one out-of-profile row): expected labels are
    // literal — the q_fix_mojibake pattern
    Q("q_langid_ngram",
      (s, d) => {
        val plants = array(langIdPlants.map(p => lit(p._2)): _*)
        s.read.parquet(pq(d, "documents"))
          .select(col("doc_id"),
            graft.plans.NativeFunctions.langIdNgramNative(
              element_at(plants,
                (col("doc_id") % langIdPlants.size + 1).cast("int")))
              .as("lang_pred"))
      },
      Some(langIdNgramOracleSql)),

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

    // curation capstone with the FULL Gopher keep decision as the
    // quality gate (pipeline altitude for gopherSignals, the
    // q_curation_pipeline shape): gopher gate → per-source cap →
    // deterministic split. The synthetic corpus vocabulary contains
    // "the" but none of the other seven Gopher function words, so the
    // ≥2-of-8 rule would reject EVERY raw doc (verified: 0 hits at
    // sf0.01) — docs with doc_id % 3 != 2 get a function-word preamble
    // so the gate discriminates and both outcomes flow into the
    // cap/split stages; the oracle replays the whole rule arithmetic
    Q("q_gopher_pipeline",
      (s, d) => {
        import graft.functions.TextAnalysis
        import graft.operators.Sampling
        val pre = "it has to be that good with and of all them "
        val docs = s.read.parquet(pq(d, "documents"))
          .select(col("doc_id"), col("source"),
            when(col("doc_id") % 3 =!= 2,
              concat(lit(pre), col("text")))
              .otherwise(col("text")).as("text"))
        val sig = TextAnalysis.gopherSignals(docs, "doc_id", "text",
          minWords = 10)
        val kept = docs.select(col("doc_id"), col("source"))
          .join(sig.where(col("keep") === 1)
            .select(col("doc_id"), col("n_words"), col("stop_hits")),
            "doc_id")
        val capped = Sampling.capPerGroup(kept, "source", "doc_id",
          cap = 40)
        Sampling.splitAssign(capped, "doc_id",
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), "gopher")
          .select(col("doc_id"), col("source"), col("n_words"),
            col("stop_hits"), col("split"))
      },
      Some(s"""WITH raw AS (SELECT doc_id,
                CASE WHEN CAST(doc_id % 3 AS INT) <> 2
                  THEN 'it has to be that good with and of all them '
                    || text
                  ELSE text END AS t
                FROM documents),
              $gopherSigCtes,
              kept AS (SELECT d.doc_id, d.source,
                  CAST(s.n_words AS BIGINT) AS n_words,
                  CAST(s.sh AS BIGINT) AS stop_hits
                FROM documents d JOIN sig s ON d.doc_id = s.doc_id
                WHERE ${gopherKeepSql(10)} = 1),
              capped AS (SELECT doc_id, source, n_words, stop_hits
                FROM (SELECT doc_id, source, n_words, stop_hits,
                    ROW_NUMBER() OVER (PARTITION BY source
                      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                      AS rk
                  FROM kept)
                WHERE rk <= 40)
              SELECT doc_id, source, n_words, stop_hits,
                CASE WHEN substr(md5('gopher'
                    || CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc'
                    THEN 'train'
                  WHEN substr(md5('gopher'
                    || CAST(doc_id AS VARCHAR)), 1, 4) < 'e666'
                    THEN 'val'
                  ELSE 'test' END AS split
              FROM capped""")),

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
          Multimodal.syntheticShiftedAudioCorpus(s, nContents = 20,
            nShifted = 10), minVotes = 100)
          .select(col("id_a"), col("id_b"))
      },
      Some("""SELECT i AS id_a, i + 1000 AS id_b
              FROM generate_series(0, 9) t(i)""")),

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
          Multimodal.syntheticResampledAudioCorpus(s, nContents = 20,
            nResampled = 10))
          .select(col("id_a"), col("id_b"))
      },
      Some("""SELECT i AS id_a, i + 2000 AS id_b
              FROM generate_series(0, 9) t(i)""")),

    // hybrid lexical+dense retrieval (RRF, round 12): BM25 top-20 and
    // exact-cosine top-20 per query fused by 1/(60+rank) sums, top-5
    // kept. The corpus is documents ⋈ embeddings on id (the rows that
    // HAVE both text and a vector); the oracle replays both rankers —
    // the BM25 arithmetic verbatim from q_bm25_search restricted to
    // the joined corpus, the dense side via list_cosine_similarity —
    // and the fusion. Rank determinism: both rankers order on raw
    // doubles with a doc_id tiebreak (the q_bm25_search / q_ann_brute
    // precedents), and RRF arithmetic is identical small-rational FP
    // on both engines.
    Q("q_hybrid_search",
      (s, d) => {
        import s.implicits._
        val fixed = Seq((0L, "hash join"), (1L, "customer order data"),
          (2L, "vector vector scan")).toDF("query_id", "qtext")
        val embs = s.read.parquet(pq(d, "embeddings"))
          .select(col("vec_id"), col("embedding"))
        val corpus = s.read.parquet(pq(d, "documents"))
          .select(col("doc_id"), col("text"))
          .join(embs, col("doc_id") === col("vec_id"))
          .select(col("doc_id"), col("text"), col("embedding"))
        val queries = fixed.join(embs,
            col("query_id") === col("vec_id"))
          .select(col("query_id"), col("qtext"),
            col("embedding").as("qv"))
        graft.functions.TextSearch.hybridSearchRrf(corpus,
          "doc_id", "text", "embedding",
          queries, "query_id", "qtext", "qv", k = 5)
      },
      Some("""WITH c AS (SELECT d.doc_id, d.text, e.embedding
                FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
              q(query_id, qtext) AS (VALUES
                (CAST(0 AS BIGINT), 'hash join'),
                (CAST(1 AS BIGINT), 'customer order data'),
                (CAST(2 AS BIGINT), 'vector vector scan')),
              qv AS (SELECT query_id,
                  (SELECT embedding FROM embeddings e
                   WHERE e.vec_id = q.query_id) AS qv
                FROM q),
              toks AS (SELECT doc_id,
                  unnest(string_split_regex(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+'))
                    AS term
                FROM c WHERE length(regexp_replace(text, '^\s+|\s+$', '', 'g')) > 0),
              tf AS (SELECT doc_id, term, COUNT(*) AS tf
                FROM toks GROUP BY 1, 2),
              dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1),
              stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
              dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
              qt AS (SELECT DISTINCT query_id,
                  unnest(string_split_regex(lower(regexp_replace(qtext, '^\s+|\s+$', '', 'g')), '\s+'))
                    AS term
                FROM q),
              scored AS (SELECT qt.query_id, tf.doc_id,
                  SUM(LN(1 + (stats.n - dfreq.df + 0.5)
                        / (dfreq.df + 0.5))
                      * tf.tf * 2.2
                      / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl
                          / stats.avgdl))) AS raw
                FROM qt JOIN tf USING (term) JOIN dfreq USING (term)
                  JOIN dl USING (doc_id) CROSS JOIN stats
                GROUP BY 1, 2),
              lex AS (SELECT query_id, doc_id,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY raw DESC, doc_id) AS lex_rank
                FROM scored QUALIFY lex_rank <= 20),
              dense AS (SELECT query_id, doc_id,
                  ROW_NUMBER() OVER (PARTITION BY qv.query_id
                    ORDER BY list_cosine_similarity(c.embedding, qv.qv)
                      DESC, c.doc_id) AS dense_rank
                FROM c CROSS JOIN qv QUALIFY dense_rank <= 20),
              fused AS (SELECT
                  COALESCE(lex.query_id, dense.query_id) AS query_id,
                  COALESCE(lex.doc_id, dense.doc_id) AS doc_id,
                  COALESCE(CAST(1.0 AS DOUBLE) / (60 + lex_rank), 0)
                    + COALESCE(CAST(1.0 AS DOUBLE) / (60 + dense_rank),
                        0) AS rrf
                FROM lex FULL OUTER JOIN dense
                  ON lex.query_id = dense.query_id
                  AND lex.doc_id = dense.doc_id)
              SELECT query_id, doc_id, ROUND(rrf, 6) AS rrf, "rank"
              FROM (SELECT query_id, doc_id, rrf, ROW_NUMBER() OVER (
                  PARTITION BY query_id ORDER BY rrf DESC, doc_id)
                    AS "rank"
                FROM fused)
              WHERE "rank" <= 5""")),

    // ANN recall gate (round 12): IVF-PQ top-10 vs the exact top-10
    // for 20 natural queries, recall@10 per query computed IN-PLAN
    // (hits-sized join, never corpus-sized) and reduced to a floor
    // verdict — the planted-twin oracles prove identical vectors are
    // found, THIS proves ranked retrieval quality on natural data.
    // Floors sit under the measured values with margin (random
    // driver embeddings are the ANN worst case — no cluster
    // structure: measured avg 0.705 at sf0.01 / 0.555 at sf0.1, min
    // 0.3 at both; floors 0.5 avg / 0.2 min). A broken codebook,
    // assignment, or ADC scan drops recall to ~k/N and reds the gate.
    Q("q_ann_recall_gate",
      (s, d) => {
        import graft.operators.Similarity
        val emb = s.read.parquet(pq(d, "embeddings"))
          .select(col("vec_id"), col("embedding"))
        val queries = emb.where(col("vec_id") < 20)
          .select(col("vec_id").as("query_id"),
            col("embedding").as("qv"))
        val approx = Similarity.ivfpqTopK(emb, queries,
          "vec_id", "embedding", "query_id", "qv",
          k = 10, nlist = 16, nprobe = 8, m = 8, ksub = 16,
          shortlist = 64)
        val exact = Similarity.exactTopK(emb, queries,
          "vec_id", "embedding", "query_id", "qv", k = 10)
        Similarity.recallAtK(approx, exact, "query_id", "vec_id", 10)
          .agg(count(lit(1)).as("n_queries"),
            (avg(col("recall")) >= 0.5).as("avg_recall_ok"),
            (min(col("recall")) >= 0.2).as("min_recall_ok"))
      },
      Some("""SELECT CAST(20 AS BIGINT) AS n_queries,
              CAST(1 AS BOOLEAN) AS avg_recall_ok,
              CAST(1 AS BOOLEAN) AS min_recall_ok""")),

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

    // incremental constellation probe: history clips (ids 0-19) are
    // landmark-indexed ONCE; the batch (their 16-hop-delayed copies,
    // ids 1000-1009) probes the index — per-batch cost is the touched
    // index rows, history audio never re-decoded. Planted arithmetic
    // oracle like q_audio_constellation
    Q("q_audio_constellation_incremental",
      (s, d) => {
        import graft.multimodal.Multimodal
        val corpus = Multimodal.syntheticShiftedAudioCorpus(s,
          nContents = 20, nShifted = 10)
        val history = corpus.filter(_.media_id < 1000L)
        val batch = corpus.filter(_.media_id >= 1000L)
        Multimodal.audioConstellationProbeIndex(batch,
          Multimodal.audioConstellationHashes(history), minVotes = 100)
          .select(col("new_id"), col("seen_id"))
      },
      Some("""SELECT i + 1000 AS new_id, i AS seen_id
              FROM generate_series(0, 9) t(i)""")),

    // the COMPLETE MassiveText filter: the shuffle-free Gopher rule
    // tier (gopherSignals) AND the repetition tier (repetitionStats —
    // the one that genuinely needs a shuffle) composed into one keep
    // decision. Thresholds chosen where the corpus discriminates both
    // ways (dup_word_frac median 0.54, top_bigram_frac p90 0.069 at
    // sf0.01); the same stopword preamble as q_gopher_pipeline keeps
    // the rule tier non-degenerate. Oracle replays BOTH tiers
    Q("q_gopher_full",
      (s, d) => {
        import graft.functions.TextAnalysis
        val pre = "it has to be that good with and of all them "
        val docs = s.read.parquet(pq(d, "documents"))
          .repartition(s.sparkContext.defaultParallelism)
          .select(col("doc_id"),
            when(col("doc_id") % 3 =!= 2,
              concat(lit(pre), col("text")))
              .otherwise(col("text")).as("text"))
        val rules = TextAnalysis.gopherSignals(docs, "doc_id", "text",
          minWords = 10).select(col("doc_id"), col("keep"))
        val rep = TextAnalysis.repetitionStats(docs, "doc_id", "text")
        rules.join(rep, "doc_id")
          .select(col("doc_id"), col("keep").as("keep_rules"),
            ((col("dup_word_frac") <= 0.5) &&
              (col("top_bigram_frac") <= 0.08)).cast("int")
              .as("keep_rep"),
            ((col("keep") === 1) && (col("dup_word_frac") <= 0.5) &&
              (col("top_bigram_frac") <= 0.08)).cast("int").as("keep"))
      },
      Some(s"""WITH raw AS (SELECT doc_id,
                CASE WHEN CAST(doc_id % 3 AS INT) <> 2
                  THEN 'it has to be that good with and of all them '
                    || text
                  ELSE text END AS t
                FROM documents),
              $gopherSigCtes,
              rt AS (SELECT doc_id,
                string_split_regex(
                  regexp_replace(t, '^\\s+|\\s+$$', '', 'g'), '\\s+')
                  AS toks FROM raw),
              rb AS (SELECT doc_id, len(toks) AS n,
                len(list_distinct(toks)) AS nd,
                list_transform(generate_series(1, len(toks)-1),
                  i -> toks[i] || ' ' || toks[i+1]) AS bgs FROM rt),
              re AS (SELECT doc_id, unnest(bgs) AS bg FROM rb),
              rc AS (SELECT doc_id, bg, count(*) AS c FROM re
                GROUP BY doc_id, bg),
              rm AS (SELECT doc_id, max(c) AS mx,
                CAST(sum(c) AS BIGINT) AS tot FROM rc GROUP BY doc_id),
              rep AS (SELECT rb.doc_id AS doc_id,
                ROUND(CAST(1.0 AS DOUBLE) - CAST(nd AS DOUBLE)/n, 4)
                  AS dwf,
                COALESCE(ROUND(CAST(mx AS DOUBLE)/tot, 4),
                  CAST(0.0 AS DOUBLE)) AS tbf
                FROM rb LEFT JOIN rm ON rb.doc_id = rm.doc_id)
              SELECT sig.doc_id AS doc_id,
                ${gopherKeepSql(10)} AS keep_rules,
                CASE WHEN dwf <= 0.5 AND tbf <= 0.08 THEN 1 ELSE 0 END
                  AS keep_rep,
                CASE WHEN ${gopherKeepSql(10)} = 1
                  AND dwf <= 0.5 AND tbf <= 0.08 THEN 1 ELSE 0 END
                  AS keep
              FROM sig JOIN rep ON sig.doc_id = rep.doc_id""")),

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
          Multimodal.syntheticShiftedVideoCorpus(s, nContents = 12,
            nShifted = 6), minVotes = 5)
          .select(col("id_a"), col("id_b"))
      },
      Some("""SELECT i AS id_a, i + 1000 AS id_b
              FROM generate_series(0, 5) t(i)""")),

    // its incremental form: history frame-hash index built once, the
    // intro-prepended copies probe it
    Q("q_video_sequence_incremental",
      (s, d) => {
        import graft.multimodal.Multimodal
        val corpus = Multimodal.syntheticShiftedVideoCorpus(s,
          nContents = 12, nShifted = 6)
        Multimodal.videoSequenceProbeIndex(
          corpus.filter(_.media_id >= 1000L),
          Multimodal.videoFrameHashes(
            corpus.filter(_.media_id < 1000L)), minVotes = 5)
          .select(col("new_id"), col("seen_id"))
      },
      Some("""SELECT i + 1000 AS new_id, i AS seen_id
              FROM generate_series(0, 5) t(i)""")),

    // language-ID at pipeline altitude: native char-ngram classifier
    // feeds the mixture rebalancer (the q_gopher_pipeline move for
    // langid) — planted multilingual corpus, target blend en/zh/ru/ar
    // 40/30/20/10, every other language dropped. The oracle replays
    // the classifier as the planted CASE, the scarcest-source-binds
    // fraction plan, and the deterministic sampler's md5 threshold
    Q("q_langid_mixture",
      (s, d) => {
        val plants = array(langIdPlants.map(p => lit(p._2)): _*)
        val docs = s.read.parquet(pq(d, "documents"))
          .select(col("doc_id"),
            graft.plans.NativeFunctions.langIdNgramNative(
              element_at(plants,
                (col("doc_id") % langIdPlants.size + 1).cast("int")))
              .as("lang_pred"))
          .withColumn("w", lit(1L))
        graft.operators.Mixture.rebalance(docs, "doc_id", "lang_pred",
          "w", Map("en" -> 0.4, "zh" -> 0.3, "ru" -> 0.2, "ar" -> 0.1),
          salt = "lang")
          .groupBy(col("lang_pred")).agg(count(lit(1)).as("n_kept"))
      },
      Some {
        val n = langIdPlants.size
        val cases = langIdPlants.zipWithIndex.map { case ((l, _), i) =>
          s"WHEN $i THEN '$l'" }.mkString(" ")
        s"""WITH lp AS (SELECT doc_id, CASE CAST(doc_id % $n AS INT)
              $cases END AS lang_pred FROM documents),
            m AS (SELECT lang_pred, COUNT(*) AS mass FROM lp
              GROUP BY lang_pred),
            w AS (SELECT * FROM (VALUES ('en', CAST(0.4 AS DOUBLE)),
              ('zh', CAST(0.3 AS DOUBLE)), ('ru', CAST(0.2 AS DOUBLE)),
              ('ar', CAST(0.1 AS DOUBLE))) t(lang_pred, share)),
            f AS (SELECT m.lang_pred, LEAST(1.0, w.share *
                (SELECT MIN(m2.mass / w2.share) FROM m m2
                  JOIN w w2 USING (lang_pred)) / m.mass) AS frac
              FROM m JOIN w USING (lang_pred)),
            thr AS (SELECT lang_pred,
              CASE WHEN frac >= 1.0 - 1e-12 THEN 'g'
                ELSE printf('%04x', CAST(LEAST(floor(frac * 65536),
                  65535) AS INTEGER)) END AS th FROM f)
            SELECT lp.lang_pred, COUNT(*) AS n_kept
            FROM lp JOIN thr USING (lang_pred)
            WHERE substr(md5('lang' || CAST(lp.doc_id AS VARCHAR)), 1, 4)
              < thr.th
            GROUP BY lp.lang_pred"""
      }))
}
