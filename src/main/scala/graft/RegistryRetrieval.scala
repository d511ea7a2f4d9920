package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import SparkEntry._

/** Retrieval: exact and approximate nearest neighbours, lexical and
  * hybrid search, embedding transforms and label propagation. */
private[graft] object RegistryRetrieval {

  /** The three fixed retrieval queries of the BM25 and hybrid gates;
    * query 2 repeats a word, which must not double-count. */
  private val fixedQueries = Seq((0L, "hash join"),
    (1L, "customer order data"), (2L, "vector vector scan"))

  private def fixedQueriesDf(s: SparkSession): DataFrame = {
    import s.implicits._
    fixedQueries.toDF("query_id", "qtext")
  }

  /** [[fixedQueries]] as the oracles' `q(query_id, qtext)` CTE. */
  private val fixedQueriesCte = fixedQueries
    .map { case (id, q) => s"(CAST($id AS BIGINT), '$q')" }
    .mkString("q(query_id, qtext) AS (VALUES ", ", ", ")")

  /** Lower-cased whitespace terms of `src`'s non-blank texts and their
    * per-doc counts: the `toks` and `tf(doc_id, term, tf)` CTEs of the
    * TF-IDF and BM25 oracles. */
  private def termFreqCtes(src: String): String =
    raw"""toks AS (SELECT doc_id,
                  unnest(string_split_regex(lower(regexp_replace(text, '^\s+|\s+$$', '', 'g')), '\s+'))
                    AS term
                FROM $src WHERE length(regexp_replace(text, '^\s+|\s+$$', '', 'g')) > 0),
              tf AS (SELECT doc_id, term, COUNT(*) AS tf
                FROM toks GROUP BY 1, 2)"""

  /** DuckDB replay of TextSearch.bm25Search over `src`'s (doc_id, text)
    * for the queries in `q`: the Okapi/Lucene-idf chain ending in
    * `scored(query_id, doc_id, raw)`. */
  private def bm25ScoredCtes(src: String): String =
    raw"""${termFreqCtes(src)},
              dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1),
              stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
              dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
              qt AS (SELECT DISTINCT query_id,
                  unnest(string_split_regex(lower(regexp_replace(qtext, '^\s+|\s+$$', '', 'g')), '\s+'))
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
                GROUP BY 1, 2)"""

  /** documents ⋈ embeddings corpus + the [[fixedQueries]] with their
    * vectors — the hybrid gates' fixture. */
  private def hybridFixture(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val fixed = fixedQueriesDf(s)
    val embs = s.read.parquet(pq(d, "embeddings"))
      .select(col("vec_id"), col("embedding"))
    val corpus = s.read.parquet(pq(d, "documents"))
      .select(col("doc_id"), col("text"))
      .join(embs, col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("text"), col("embedding"))
    val queries = fixed.join(embs, col("query_id") === col("vec_id"))
      .select(col("query_id"), col("qtext"), col("embedding").as("qv"))
    (corpus, queries)
  }

  /** The planted-copy ANN gates: vectors 0-2 copied at +100000 into the
    * embeddings corpus, searched by `search(corpus, queries)` with
    * vectors 0-2 as the queries, keeping each query's copy. An index
    * that places the copy with its source scores it at cosine 1.0 and
    * ranks it 2 behind the self-match, the rows [[plantedAnnOracle]]
    * lists. */
  private def plantedAnn(s: SparkSession, d: String)(
      search: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val emb = s.read.parquet(pq(d, "embeddings"))
      .select(col("vec_id"), col("embedding"))
    val planted = emb.where(col("vec_id") < 3)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    val queries = emb.where(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    search(emb.unionByName(planted), queries)
      .where(col("vec_id") === col("query_id") + 100000L)
  }

  private val plantedAnnOracle =
    """SELECT vec_id AS query_id, vec_id + 100000 AS vec_id,
      CAST(1.0 AS DOUBLE) AS cosine, 2 AS "rank"
      FROM embeddings WHERE vec_id < 3"""

  val entries: Seq[Q] = Seq(
    // ---- nearest-neighbour search ----------------------------------
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

    // same planted-exactness move as q_ann_lsh below: an identical copy
    // is assigned to its source's IVF cell (same argmax centroid), scores
    // cosine 1.0, and ranks 2 behind the self-match — cell structure
    // stays index-specific, the planted slice is an exact expected set
    Q("q_ann_ivf",
      (s, d) => plantedAnn(s, d)(graft.operators.Similarity.ivfTopK(_, _,
        "vec_id", "embedding", "query_id", "qv",
        k = 5, nlist = 16, nprobe = 4)),
      Some(plantedAnnOracle)),

    // IVF-PQ: the memory-bounded ANN scale path (codes-only candidate
    // scan + exact-cosine rerank). The quantized shortlist is
    // approximate, but the planted slice stays exact: an identical
    // copy shares its source's coarse cell AND its PQ codes
    // (identical residual → identical L2-argmin codes), ties its ADC
    // self-reconstruction score — far above unrelated candidates — so
    // both ride the shortlist into the rerank, where exact cosine
    // puts the copy at rank 2 behind the self-match
    Q("q_ann_ivfpq",
      (s, d) => plantedAnn(s, d)(graft.operators.Similarity.ivfpqTopK(_, _,
        "vec_id", "embedding", "query_id", "qv",
        k = 5, nlist = 16, nprobe = 4, m = 8, ksub = 16, shortlist = 64)),
      Some(plantedAnnOracle)),

    // LSH buckets are approximate by design, but planted IDENTICAL
    // vectors make a slice of the output exact: a copy shares its
    // source's bucket (same sign bits) with cosine 1.0, so behind the
    // self-match (rank 1, smaller id) it lands at rank 2 — an expected
    // set that IS SQL-expressible, giving the bucket-join + rank path a
    // real oracle. (A natural vector would have to round to cosine
    // 1.0000 to break the rank — random embeddings sit far below.)
    Q("q_ann_lsh",
      (s, d) => plantedAnn(s, d)(graft.operators.Similarity.lshTopK(_, _,
        "vec_id", "embedding", "query_id", "qv", k = 5, planes = 6)),
      Some(plantedAnnOracle)),

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

    // ---- lexical and hybrid search ---------------------------------
    // corpus-level term weighting: top-3 TF-IDF terms per document —
    // deterministic across engines (rank on the raw double score with a
    // term tiebreak; round only in the final projection)
    Q("q_tfidf",
      (s, d) => graft.functions.TextAnalysis.tfidfTopTerms(
        s.read.parquet(pq(d, "documents")).where(col("doc_id") < 100),
        "doc_id", "text", k = 3),
      Some(s"""WITH base AS (SELECT doc_id, text FROM documents
                WHERE doc_id < 100),
              ${termFreqCtes("base")},
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

    // BM25 retrieval over the inverted index: three fixed queries probe
    // the corpus; the oracle replays the full Okapi/Lucene-idf formula
    // in SQL. Deterministic: rank on the raw double score with a doc_id
    // tiebreak, round only in the final projection (the q_tfidf
    // discipline). Distinct-query-terms contract — the repeated word in
    // query 2 must NOT double-count.
    Q("q_bm25_search",
      (s, d) => {
        graft.functions.TextSearch.bm25Search(
          s.read.parquet(pq(d, "documents")), "doc_id", "text",
          fixedQueriesDf(s), "query_id", "qtext", k = 5)
      },
      Some(s"""WITH $fixedQueriesCte,
              ${bm25ScoredCtes("documents")}
              SELECT query_id, doc_id, ROUND(raw, 4) AS score,
                "rank"
              FROM (SELECT query_id, doc_id, raw, ROW_NUMBER() OVER (
                  PARTITION BY query_id ORDER BY raw DESC, doc_id)
                    AS "rank"
                FROM scored)
              WHERE "rank" <= 5""")),

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
        val (corpus, queries) = hybridFixture(s, d)
        graft.functions.TextSearch.hybridSearchRrf(corpus,
          "doc_id", "text", "embedding",
          queries, "query_id", "qtext", "qv", k = 5)
      },
      Some(s"""WITH c AS (SELECT d.doc_id, d.text, e.embedding
                FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
              $fixedQueriesCte,
              qv AS (SELECT query_id,
                  (SELECT embedding FROM embeddings e
                   WHERE e.vec_id = q.query_id) AS qv
                FROM q),
              ${bm25ScoredCtes("c")},
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

    // IVF-backed hybrid retrieval (round 13): hybridSearchRrfIvf — the
    // web-scale configuration where the dense stage probes nprobe/nlist
    // of the corpus instead of scanning it — gated against the EXACT
    // configuration in one plan (the q_ann_recall_gate pattern): both
    // fused top-5 lists are computed, per-query recall@5 of ivf-vs-exact
    // reduces to floor verdicts. The BM25 half is identical in both by
    // construction, so the floor isolates the dense-stage recall loss;
    // measured on driver data (random embeddings, the ANN worst
    // case) with nprobe=8/nlist=16: fused recall@5 = 1.0/0.8/1.0 per
    // query at sf0.1 (dense-stage overlap@20 itself 14-15/20), gate
    // green at sf0.01 too — floors 0.7
    // avg / 0.4 min leave noise margin while a broken cell assignment
    // or probe (the dense half collapses toward chance) reds the gate.
    Q("q_hybrid_search_ivf",
      (s, d) => graft.operators.Checkpoints.scoped { scope =>
        import graft.functions.TextSearch
        val (corpus0, queries0) = hybridFixture(s, d)
        // Optimization round 19 (guide §2.4/§3.3, §8): the exact and
        // IVF configurations previously inlined the WHOLE fixture join
        // and the WHOLE BM25 pipeline twice each (the before-plan
        // carries 56 parquet scans and zero reused exchanges — Spark
        // does not share subplans across join branches). The fixture
        // frames are pinned once (corpus ≈ embeddings-sized, queries =
        // 3 rows), the BM25 half — identical in both configurations by
        // construction — is computed once and pinned (≤ 2·candidates
        // rows per query), and the two fusions consume the same ranks.
        // Ranks/fusion arithmetic byte-identical; the gate's verdict
        // semantics (IVF-vs-exact fused recall floor) unchanged.
        val corpus = scope.pin(corpus0)
        val queries = scope.pin(queries0)
        // The BM25 pin and the IVF centroid build are INDEPENDENT jobs
        // over the two pinned frames; submitted sequentially the driver
        // idles through each in turn. The lex pin runs on a background
        // thread while ivfDenseRanks' eager Lloyd jobs run on this one
        // (guide §2.6 "overlap independent jobs" — Spark's scheduler
        // runs concurrent jobs FIFO, later jobs back-filling the
        // earlier's idle cores). Interleaved A/B: 2.75 → 2.13 s, gate
        // output verified identical. Both branches consume the same
        // pinned inputs, so ranks/fusion arithmetic is unchanged.
        val lexF = scope.async(scope.pin(TextSearch.bm25Search(
            corpus.select(col("doc_id"), col("text")), "doc_id", "text",
            queries.select(col("query_id"), col("qtext")),
            "query_id", "qtext", k = 20)))
        // built FIRST so its eager Lloyd jobs overlap the lex pin
        val ivfRanks = TextSearch.ivfDenseRanks(corpus, "doc_id",
          "embedding", queries, "query_id", "qv", candidates = 20,
          nlist = 16, nprobe = 8)
        val lex = lexF()
        val exact = TextSearch.rrfFuse(lex,
          TextSearch.exactDenseRanks(corpus, "doc_id", "embedding",
            queries, "query_id", "qv", candidates = 20),
          "query_id", k = 5)
        val ivf = TextSearch.rrfFuse(lex, ivfRanks, "query_id", k = 5)
        val hits = ivf.select(col("query_id"), col("doc_id"))
          .join(exact.select(col("query_id"), col("doc_id")),
            Seq("query_id", "doc_id"), "left_semi")
          .groupBy(col("query_id")).agg(count(lit(1)).as("__hits"))
        val recalls = exact.groupBy(col("query_id"))
          .agg(count(lit(1)).as("__n"))
          .join(hits, Seq("query_id"), "left")
          .select(col("query_id"),
            (coalesce(col("__hits"), lit(0L)).cast("double") /
              col("__n")).as("recall"))
        recalls.agg(count(lit(1)).as("n_queries"),
          (avg(col("recall")) >= 0.7).as("avg_recall_ok"),
          (min(col("recall")) >= 0.4).as("min_recall_ok"))
      },
      Some("""SELECT CAST(3 AS BIGINT) AS n_queries,
              CAST(1 AS BOOLEAN) AS avg_recall_ok,
              CAST(1 AS BOOLEAN) AS min_recall_ok""")),

    // ---- embeddings and labels -------------------------------------
    // embedding transforms: scalar digests keep the oracle comparison off
    // array cells (norm fold is a deterministic left-fold in BOTH engines)
    Q("q_emb_normalize",
      (s, d) => {
        import graft.operators.Embeddings
        Embeddings.l2Normalize(s.read.parquet(pq(d, "embeddings")), "embedding")
          .select(col("vec_id"),
            size(col("embedding")).as("dim"),
            round(Embeddings.l2Norm(col("embedding")), 4).as("norm"),
            round(element_at(col("unit_vec"), 1), 4).as("u0"))
      },
      // CASE nsq = 0 mirrors l2Normalize's zero-vector pass-through —
      // without it a zero vector yields NULL/NaN here vs 0.0 in Spark
      Some("""WITH s AS (SELECT vec_id, embedding,
                list_aggregate(list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum') AS nsq
                FROM embeddings)
              SELECT vec_id, CAST(len(embedding) AS INTEGER) AS dim,
              ROUND(sqrt(nsq), 4) AS norm,
              ROUND(CASE WHEN nsq = 0 THEN CAST(embedding[1] AS DOUBLE)
                ELSE CAST(embedding[1] AS DOUBLE) / sqrt(nsq) END, 4)
                AS u0
              FROM s""")),

    Q("q_emb_quantize",
      (s, d) => graft.operators.Embeddings.quantizeInt8(
        s.read.parquet(pq(d, "embeddings")), "embedding")
        .select(col("vec_id"),
          round(col("q_scale"), 6).as("q_scale"),
          aggregate(col("q_vec"), lit(0L), (a, x) => a + x).as("q_sum"),
          array_max(col("q_vec")).as("q_max")),
      Some("""WITH s AS (SELECT vec_id, embedding,
                list_aggregate(list_transform(embedding,
                  x -> abs(CAST(x AS DOUBLE))), 'max') / 127.0 AS scale
                FROM embeddings),
              q AS (SELECT vec_id, scale, list_transform(embedding,
                x -> CASE WHEN scale = 0 THEN 0
                  ELSE CAST(round(CAST(x AS DOUBLE) / scale) AS INTEGER)
                  END) AS qv FROM s)
              SELECT vec_id, ROUND(scale, 6) AS q_scale,
                CAST(list_aggregate(qv, 'sum') AS BIGINT) AS q_sum,
                CAST(list_aggregate(qv, 'max') AS INTEGER) AS q_max
              FROM q""")),

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

    // k-NN label propagation: every 5th vector "loses" its label and
    // gets the majority label of its 5 nearest labeled neighbors —
    // count ties break toward the smaller label, so the prediction is
    // a pure function of the data (full SQL replay)
    Q("q_knn_label",
      (s, d) => {
        val emb = s.read.parquet(pq(d, "embeddings"))
        // repartition after the read (optimization round 19, guide
        // §2.5 input parallelism): the one-file scan pinned the whole
        // 400 × 1600 cosine cross product to a single task (measured
        // 1.14 s → 0.41 s at local[32]); per-row cosines and the
        // per-vec_id windows are partition-order-independent, so
        // results are unchanged. At scale the scan parallelism is
        // natural and this shuffle is one narrow vector pass.
        val unl = emb.where(col("vec_id") % 5 === 0)
          .select(col("vec_id"), col("embedding"))
          .repartition(s.sparkContext.defaultParallelism)
        val lab = emb.where(col("vec_id") % 5 =!= 0)
          .select(col("vec_id").as("nbr_id"),
            col("embedding").as("nv"), col("label"))
        graft.operators.Similarity.knnLabel(unl, lab,
          "vec_id", "embedding", "nbr_id", "nv", "label", k = 5)
      },
      Some("""WITH pairs AS (SELECT u.vec_id, l.vec_id AS nbr_id,
                  l.label,
                  ROUND(CAST(list_cosine_similarity(u.embedding,
                    l.embedding) AS DOUBLE), 4) AS c
                FROM embeddings u, embeddings l
                WHERE u.vec_id % 5 = 0 AND l.vec_id % 5 <> 0),
              nn AS (SELECT vec_id, label FROM (
                  SELECT vec_id, label, ROW_NUMBER() OVER (
                    PARTITION BY vec_id ORDER BY c DESC, nbr_id) AS rk
                  FROM pairs) WHERE rk <= 5),
              votes AS (SELECT vec_id, label, COUNT(*) AS votes
                FROM nn GROUP BY vec_id, label)
              SELECT vec_id, label, votes FROM (
                SELECT vec_id, label, votes, ROW_NUMBER() OVER (
                  PARTITION BY vec_id ORDER BY votes DESC, label) AS vr
                FROM votes) WHERE vr = 1""")),

    // the bucketed (large-labeled-side) label propagation path: the
    // labeled side is shuffle-joined on LSH buckets, never broadcast.
    // Planted exactness (the q_ann_lsh move): each unlabeled vector
    // gets an IDENTICAL labeled twin with a known analytic label and
    // the smallest possible neighbor id — same vector → same bucket
    // always, cosine 1.0 tops the ranking, and the id tiebreak makes
    // the twin the k=1 winner even if another vector rounds to 1.0 —
    // so the approximate path's output is exactly replayable
    Q("q_knn_label_bucketed",
      (s, d) => {
        val emb = s.read.parquet(pq(d, "embeddings"))
        val unl = emb.where(col("vec_id") < 5)
          .select(col("vec_id"), col("embedding"))
        val twins = emb.where(col("vec_id") < 5)
          .select((col("vec_id") - 1000000L).as("nbr_id"),
            col("embedding").as("nv"),
            (lit(1000L) + col("vec_id") % 3).as("label"))
        val lab = emb.where(col("vec_id") >= 5)
          .select(col("vec_id").as("nbr_id"),
            col("embedding").as("nv"), col("label"))
          .unionByName(twins)
        graft.operators.Similarity.knnLabelBucketed(unl, lab,
          "vec_id", "embedding", "nbr_id", "nv", "label",
          k = 1, planes = 6)
      },
      Some("""SELECT vec_id, CAST(1000 + vec_id % 3 AS BIGINT) AS label,
              CAST(1 AS BIGINT) AS votes
              FROM embeddings WHERE vec_id < 5""")))
}
