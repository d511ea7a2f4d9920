package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.NativeFunctions

/**
 * BM25 full-text retrieval over an inverted index — the lookup side of
 * a training-data pipeline: "which documents in this 100 TB corpus
 * match this query / this contamination probe / this eval prompt".
 * Extension beyond the reference surface (its engine is single-table
 * OLAP, `parquery/README.md:4-8`; no text-retrieval surface).
 *
 * Scoring is Okapi BM25 with the Lucene idf variant
 * (Robertson–Spärck Jones with +1 inside the log, so idf is always
 * positive even for terms in more than half the corpus):
 *
 *   idf(t)      = ln(1 + (N - df + 0.5) / (df + 0.5))
 *   score(q, d) = Σ_{t ∈ distinct(q)} idf(t) · tf(t,d)·(k1+1)
 *                   / (tf(t,d) + k1·(1 - b + b·dl(d)/avgdl))
 *
 * Query-side term frequency is intentionally dropped (terms are
 * DISTINCT per query — the common engine simplification; repeating a
 * word in a 5-word query shouldn't double its weight).
 *
 * Scale shape, by stage:
 *  - Index build ([[invertedIndex]]): one explode to (doc, term), one
 *    map-side-combined groupBy — the standard distributed
 *    inverted-index job. Document length is DENORMALIZED into each
 *    posting (term, doc, tf, dl) so search never joins a lengths
 *    table per hit — the classic posting-list layout, paid once at
 *    build, saved at every query.
 *  - Search ([[bm25SearchAgainstIndex]]): the query set broadcasts
 *    (small by contract, like every query frame here); the postings
 *    join touches ONLY the probed terms' lists — persisted partitioned
 *    by term, that is a partition-pruned read of ~df/|corpus| of the
 *    index. df(t) needs no separate statistics table: the probed
 *    posting list IS every document containing t, so a count over the
 *    (query, term) window reads it off the hits in flight.
 *  - All shuffles after the probe are hits-sized (Σ df over query
 *    terms), never corpus-sized; windows partition by query — no
 *    global sort anywhere.
 */
object TextSearch {

  /**
   * Build the inverted index: postings `(term, doc_id, tf, dl)` — one
   * row per (document, distinct term), lowercased whitespace tokens
   * (exactly [[TextAnalysis.tokens]] semantics; empty/whitespace-only
   * documents produce no postings) — plus the per-document length
   * table `(doc_id, dl)` for corpus statistics (N, avgdl). `dl` counts
   * ALL token occurrences, not distinct terms.
   *
   * Persist postings `.write.partitionBy("term")` (or bucketed by
   * term) and searches read only the probed terms' partitions.
   */
  def invertedIndex(docs: DataFrame, idCol: String, textCol: String)
      : (DataFrame, DataFrame) = {
    val tf = docs
      .select(col(idCol).as("doc_id"),
        explode(TextAnalysis.tokens(lower(col(textCol)))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    (tf.join(dl, "doc_id").select(col("term"), col("doc_id"),
      col("tf"), col("dl")), dl)
  }

  /**
   * BM25 top-k against a prebuilt [[invertedIndex]]: returns
   * `(queryIdCol, doc_id, score, rank)`, ranks 1..k per query,
   * deterministic (rank on the raw double with a doc_id tiebreak;
   * round only in the final projection — the same engine-portability
   * discipline as [[TextAnalysis.tfidfTopTerms]]). Queries whose terms
   * all miss the corpus produce no rows. N and avgdl come from
   * `docLens` via a broadcast one-row frame — no driver collect.
   */
  def bm25SearchAgainstIndex(postings: DataFrame, docLens: DataFrame,
                             queries: DataFrame, queryIdCol: String,
                             queryTextCol: String, k: Int,
                             k1: Double = 1.2, b: Double = 0.75)
      : DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(k1 >= 0 && b >= 0 && b <= 1,
      s"need k1 >= 0 and b in [0, 1], got k1=$k1 b=$b")
    val stats = docLens.agg(count(lit(1)).as("__n"),
      avg(col("dl")).as("__avgdl"))
    val qt = queries.select(col(queryIdCol),
      explode(array_distinct(
        TextAnalysis.tokens(lower(col(queryTextCol))))).as("term"))
    val hits = postings.join(broadcast(qt), Seq("term"))
    // df(term) = rows in the term's posting list; the window reads it
    // off the already-probed hits instead of a second index pass
    val wdf = Window.partitionBy(col(queryIdCol), col("term"))
    val scored = hits
      .withColumn("__df", count(lit(1)).over(wdf))
      .crossJoin(broadcast(stats))
      .withColumn("__contrib",
        log(lit(1.0) + (col("__n") - col("__df") + 0.5)
          / (col("__df") + 0.5))
          * col("tf") * (k1 + 1.0)
          / (col("tf") + lit(k1) * (lit(1.0 - b)
            + lit(b) * col("dl") / col("__avgdl"))))
    val agg = scored.groupBy(col(queryIdCol), col("doc_id"))
      .agg(sum(col("__contrib")).as("__raw"))
    val w = Window.partitionBy(col(queryIdCol))
      .orderBy(col("__raw").desc, col("doc_id"))
    agg.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(queryIdCol), col("doc_id"),
        round(col("__raw"), 4).as("score"), col("rank"))
  }

  /** [[bm25SearchAgainstIndex]] with the index built inline — the
    * self-contained form for one-shot retrieval; production builds the
    * index once and searches many times. */
  def bm25Search(docs: DataFrame, idCol: String, textCol: String,
                 queries: DataFrame, queryIdCol: String,
                 queryTextCol: String, k: Int,
                 k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val (postings, docLens) = invertedIndex(docs, idCol, textCol)
    bm25SearchAgainstIndex(postings, docLens, queries, queryIdCol,
      queryTextCol, k, k1, b)
  }

  /**
   * Reciprocal Rank Fusion (Cormack, Clarke & Buettcher 2009 — public
   * method) of two candidate lists: score every candidate
   * `Σ_lists 1/(kRrf + rank)` (a list not containing the doc
   * contributes 0 — the standard convention), keep the top `k` by
   * fused score with a doc-id tiebreak. RRF needs only RANKS, never
   * score calibration across the two systems — which is exactly why it
   * is the production default for first-stage hybrid retrieval, and
   * why this fusion core consumes ranks from ANY retriever pair: the
   * exact-scan dense stage ([[hybridSearchRrf]] — the ground-truth
   * configuration), the IVF-probed one ([[hybridSearchRrfIvf]] — the
   * web-scale configuration), or any caller-built `(queryId, doc_id,
   * rank)` frame.
   *
   * Both inputs are `(queryIdCol, doc_id, rank)` with ranks 1..n per
   * query. Output: `(queryIdCol, doc_id, rrf, rank)`. The fusion join
   * is candidates-sized (≤ |lex| + |dense| rows per query), never
   * corpus-sized; the final window partitions by query.
   */
  def rrfFuse(lex: DataFrame, dense: DataFrame, queryIdCol: String,
              k: Int, kRrf: Int = 60): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(kRrf >= 1, s"kRrf must be >= 1, got $kRrf")
    val l = lex.select(col(queryIdCol), col("doc_id"),
      col("rank").as("__lex_rank"))
    val d = dense.select(col(queryIdCol), col("doc_id"),
      col("rank").as("__dense_rank"))
    val wf = Window.partitionBy(col(queryIdCol))
      .orderBy(col("__rrf").desc, col("doc_id"))
    l.join(d, Seq(queryIdCol, "doc_id"), "full_outer")
      .withColumn("__rrf",
        coalesce(lit(1.0) / (lit(kRrf) + col("__lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(kRrf) + col("__dense_rank")),
            lit(0.0)))
      .withColumn("rank", row_number().over(wf))
      .where(col("rank") <= k)
      .select(col(queryIdCol), col("doc_id"),
        round(col("__rrf"), 6).as("rrf"), col("rank"))
  }

  /**
   * EXACT dense candidate ranks `(queryIdCol, doc_id, rank)`: corpus
   * vectors stream past the broadcast query set with a per-query
   * window (the [[graft.operators.Similarity.hardNegatives]] shape;
   * queries are small by contract). One full corpus scan per query
   * batch — the ground-truth dense stage; [[ivfDenseRanks]] is the
   * sublinear swap.
   */
  def exactDenseRanks(docs: DataFrame, idCol: String, vecCol: String,
                      queries: DataFrame, queryIdCol: String,
                      queryVecCol: String, candidates: Int): DataFrame = {
    require(candidates >= 1, s"candidates must be >= 1, got $candidates")
    val qv = queries.select(col(queryIdCol),
      col(queryVecCol).cast("array<double>").as("__qv"))
    val wd = Window.partitionBy(col(queryIdCol))
      .orderBy(col("__cos").desc, col("doc_id"))
    docs
      .select(col(idCol).as("doc_id"),
        col(vecCol).cast("array<double>").as("__dv"))
      .crossJoin(broadcast(qv))
      .withColumn("__cos",
        NativeFunctions.cosineNative(col("__dv"), col("__qv")))
      .withColumn("rank", row_number().over(wd))
      .where(col("rank") <= candidates)
      .select(col(queryIdCol), col("doc_id"), col("rank"))
  }

  /**
   * IVF-probed dense candidate ranks `(queryIdCol, doc_id, rank)` —
   * [[graft.operators.Similarity.ivfTopK]] reshaped for [[rrfFuse]]:
   * queries probe their `nprobe` nearest cells and score only those
   * cells' vectors, ~nprobe/nlist of the corpus instead of all of it.
   * Recall is approximate; gate it against [[exactDenseRanks]] the way
   * `q_hybrid_search_ivf` does (fused-result recall floor).
   */
  def ivfDenseRanks(docs: DataFrame, idCol: String, vecCol: String,
                    queries: DataFrame, queryIdCol: String,
                    queryVecCol: String, candidates: Int,
                    nlist: Int = 16, nprobe: Int = 4,
                    iters: Int = 2): DataFrame =
    graft.operators.Similarity.ivfTopK(docs, queries, idCol, vecCol,
        queryIdCol, queryVecCol, candidates, nlist, nprobe, iters)
      .select(col(queryIdCol), col(idCol).as("doc_id"), col("rank"))

  /** BM25 top-`candidates` reshaped for [[rrfFuse]]. */
  private def lexRanks(docs: DataFrame, idCol: String, textCol: String,
                       queries: DataFrame, queryIdCol: String,
                       queryTextCol: String, candidates: Int): DataFrame =
    bm25Search(
      docs.select(col(idCol), col(textCol)), idCol, textCol,
      queries.select(col(queryIdCol), col(queryTextCol)),
      queryIdCol, queryTextCol, candidates)

  /**
   * Hybrid lexical+dense retrieval fused by RRF, EXACT dense stage:
   * per query, the top-`candidates` BM25 hits and the top-`candidates`
   * exact-cosine hits through [[rrfFuse]]. Output `(queryIdCol,
   * doc_id, rrf, rank)`.
   *
   * Scale shape: the lexical stage is [[bm25Search]] (hits-sized
   * shuffles against a term-partitioned index); the dense stage is the
   * exact scan ([[exactDenseRanks]]) — fine as ground truth and for
   * modest corpora; at web scale use [[hybridSearchRrfIvf]], which
   * probes IVF cells instead of scanning the corpus per query batch.
   */
  def hybridSearchRrf(docs: DataFrame, idCol: String, textCol: String,
                      vecCol: String,
                      queries: DataFrame, queryIdCol: String,
                      queryTextCol: String, queryVecCol: String,
                      k: Int, candidates: Int = 20,
                      kRrf: Int = 60): DataFrame = {
    // no candidates >= k requirement: the fused pool holds up to
    // 2*candidates docs (the two lists need not overlap), so k may
    // exceed the per-list depth; output is simply capped by the pool
    require(candidates >= 1, s"candidates must be >= 1, got $candidates")
    rrfFuse(
      lexRanks(docs, idCol, textCol, queries, queryIdCol, queryTextCol,
        candidates),
      exactDenseRanks(docs, idCol, vecCol, queries, queryIdCol,
        queryVecCol, candidates),
      queryIdCol, k, kRrf)
  }

  /**
   * [[hybridSearchRrf]] with the IVF dense stage — the web-scale
   * configuration: the dense candidates come from
   * [[ivfDenseRanks]] (queries touch ~nprobe/nlist of the corpus,
   * never all of it), fused with the same BM25 ranks by the same
   * [[rrfFuse]] core. Dense recall is approximate — size
   * `nlist`/`nprobe` with the `q_hybrid_search_ivf` gate pattern
   * (fused-result recall floor vs the exact configuration).
   */
  def hybridSearchRrfIvf(docs: DataFrame, idCol: String, textCol: String,
                         vecCol: String,
                         queries: DataFrame, queryIdCol: String,
                         queryTextCol: String, queryVecCol: String,
                         k: Int, candidates: Int = 20,
                         kRrf: Int = 60, nlist: Int = 16,
                         nprobe: Int = 4, iters: Int = 2): DataFrame = {
    require(candidates >= 1, s"candidates must be >= 1, got $candidates")
    rrfFuse(
      lexRanks(docs, idCol, textCol, queries, queryIdCol, queryTextCol,
        candidates),
      ivfDenseRanks(docs, idCol, vecCol, queries, queryIdCol,
        queryVecCol, candidates, nlist, nprobe, iters),
      queryIdCol, k, kRrf)
  }
}
