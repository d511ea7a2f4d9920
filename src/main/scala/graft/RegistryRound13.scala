package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import SparkEntry._

/** Round-13 extensions: IVF-backed hybrid retrieval, persisted CDC
  * chunk-index lifecycle, chunk-granularity dedup rewrite, two-level
  * semantic-dedup assignment, H.264 video fixtures, CSV/ORC edge
  * formats. */
private[graft] object RegistryRound13 {

  /** documents ⋈ embeddings corpus + the 3 fixed retrieval queries —
    * the q_hybrid_search fixture, shared by the IVF gate. */
  private def hybridFixture(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    import s.implicits._
    val fixed = Seq((0L, "hash join"), (1L, "customer order data"),
      (2L, "vector vector scan")).toDF("query_id", "qtext")
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

  private[graft] val entries: Seq[Q] = Seq(

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
            Dedup.cdcChunkHashes(RegistryRound11.cdcNoveltyHistory(s, d),
              "doc_id", "text", minSize = 16, avgSize = 32,
              maxSize = 256),
            tmp.toString, buckets = 16)
        }
        RegistryRound11.cdcNoveltyVerdict(
          Dedup.cdcNoveltyAgainstIndex(
            RegistryRound11.cdcNoveltyBatch(s, d), "doc_id", "text",
            root.toString, minSize = 16, avgSize = 32, maxSize = 256))
      },
      Some(RegistryRound11.cdcNoveltyOracleSql)),

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
          Multimodal.syntheticH264Corpus(s, nContents = 30, copies = 3),
          maxHamming = 4)
      },
      Some("""SELECT a.i AS id_a, b.i AS id_b, 0 AS hamming
              FROM generate_series(0, 89) a(i)
                JOIN generate_series(0, 89) b(i)
                ON a.i < b.i AND a.i % 30 = b.i % 30""")),

    // frame-sequence offset voting over H.264 — q_video_sequence's
    // construction and oracle verbatim: Annex-B streams concatenate
    // like MJPEG (IDR frames are self-contained), so the 3-frame
    // intro prepend is a byte concat and the same matcher finds the
    // shift with no codec-specific code
    Q("q_video_sequence_h264",
      (s, d) => {
        import graft.multimodal.Multimodal
        Multimodal.videoSequenceMatches(
          Multimodal.syntheticShiftedH264Corpus(s, nContents = 12,
            nShifted = 6), minVotes = 5)
          .select(col("id_a"), col("id_b"))
      },
      Some("""SELECT i AS id_a, i + 1000 AS id_b
              FROM generate_series(0, 5) t(i)""")),

    // data-driven language-ID profiles (round 13): the SAME planted
    // sentences and generated oracle as q_langid_ngram, but the
    // profile table is LOADED from a parquet fixture
    // (writeNgramProfiles → loadNgramProfiles round-trip of the
    // compiled-in 50) and rides the native expression as a codegen
    // reference object. Identical oracle = the contract that the
    // data-driven path is semantics-preserving; swapping to a wider
    // table (fastText breadth, a 51st language) is then a TABLE swap —
    // LangIdAccuracySpec proves the 51st-language case without a
    // recompile.
    Q("q_langid_table",
      (s, d) => {
        import graft.functions.TextAnalysis
        val root = Fixture(
          new java.io.File(d, "documents.parquet"),
          "graft_langid_profiles",
          // the fixture IS the compiled-in table: key on its content
          // so widening the table rebuilds instead of reusing stale
          codeKey = TextAnalysis.charNgramProfiles.toSeq
            .sortBy(_._1).toString.hashCode.toString) { tmp =>
          TextAnalysis.writeNgramProfiles(s,
            TextAnalysis.charNgramProfiles,
            new java.io.File(tmp, "profiles").toString)
        }
        val profiles = TextAnalysis.loadNgramProfiles(s,
          new java.io.File(root, "profiles").toString)
        val plants = array(langIdPlants.map(p => lit(p._2)): _*)
        s.read.parquet(pq(d, "documents"))
          .select(col("doc_id"),
            graft.plans.NativeFunctions.langIdNgramNative(
              element_at(plants,
                (col("doc_id") % langIdPlants.size + 1).cast("int")),
              profiles).as("lang_pred"))
      },
      Some(RegistryRound11.langIdNgramOracleSql)),

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
      (s, d) => {
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
          nlist = 32, minCosine = 0.999, twoLevel = true)
          .where(pmod(col("vec_id"), lit(100000L)) < 30)
          .select(col("vec_id"))
      },
      Some("""SELECT vec_id FROM embeddings WHERE vec_id < 30""")),

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
              FROM h2 JOIN a2 ON h2.node = a2.node""")),

    // Mergeable HLL cardinality log (round 13): Datasketches HLL
    // binaries via Spark's OWN hll_sketch_agg/hll_union_agg — unlike
    // approx_count_distinct's internal HLL++, these sketches persist
    // and union across frames, which is the incremental shape: one
    // sketch row per (source, day, shard), any later union answers
    // "distinct over any subset" without re-reading data. Gate
    // (bounded-error, the r12 sketch pattern): per-event-type user
    // sketches within 4% of their exact distincts (measured worst
    // 1.3% at sf0.1, exact at sf0.01's sparse-mode sizes), the
    // cross-group UNION within 4% of the global exact, and — the
    // mergeability proof — the union estimate strictly BELOW the sum
    // of per-group estimates (users overlap across event types; a
    // "union" that merely added counts reds this).
    Q("q_hll_log",
      (s, d) => {
        import graft.operators.Frequency
        val ev = s.read.parquet(pq(d, "events"))
          .select(col("event_type"), col("user_id"))
        val sk = Frequency.hllSketches(ev, "user_id", "event_type")
        val per = sk.select(col("event_type"),
            hll_sketch_estimate(col("hll")).as("__e"))
          .join(ev.groupBy(col("event_type"))
            .agg(count_distinct(col("user_id")).as("__n")), "event_type")
          .agg(count(lit(1)).as("n_groups"),
            (max(abs(col("__e") - col("__n")) / col("__n")) <= 0.04)
              .as("groups_ok"),
            sum(col("__e")).as("__est_sum"))
        Frequency.hllUnionEstimate(sk)
          .crossJoin(ev.agg(count_distinct(col("user_id")).as("__g")))
          .crossJoin(per)
          .select(col("n_groups"), col("groups_ok"),
            ((abs(col("distinct_est") - col("__g")) / col("__g")) <= 0.04)
              .as("union_ok"),
            (col("distinct_est") < col("__est_sum"))
              .as("union_dedups_across_groups"))
      },
      Some("""SELECT (SELECT COUNT(DISTINCT event_type) FROM events)
                AS n_groups,
              CAST(1 AS BOOLEAN) AS groups_ok,
              CAST(1 AS BOOLEAN) AS union_ok,
              CAST(1 AS BOOLEAN) AS union_dedups_across_groups""")),

    // Count-Min point-frequency estimation (round 13): the complement
    // of the Misra-Gries family — MG answers "which items are
    // frequent" in ≤ capacity counters, CMS answers "how often did
    // THIS item occur" for ANY item in ⌈e/eps⌉·depth counters, built
    // by Spark's OWN count_min_sketch aggregate and probed by the
    // graft_cms_estimate expression (Spark ships the builder but no
    // SQL probe). Gate (bounded-error, the r12 sketch pattern): every
    // distinct l_partkey probed against its exact in-plan count —
    // under-estimates are IMPOSSIBLE (one-sided guarantee, asserted
    // exactly 0). Over-estimates respect eps·n only with probability
    // ≥ confidence PER KEY, so the upper gate allows the bound's own
    // failure budget, ceil((1-confidence)·n_keys), rather than
    // pinning 0 (measured: 0 violations at seed 42, max overshoot 39
    // vs bound 60 at sf0.01 and 350 vs 600 at sf0.1 — but a new
    // fixture or scale factor may legitimately spend the budget).
    // Every count is deterministic: CMS update/merge are commutative
    // sums, so estimates are pure functions of the multiset and seed,
    // independent of partitioning.
    Q("q_cms_estimate",
      (s, d) => {
        import graft.operators.Frequency
        val li = s.read.parquet(pq(d, "lineitem"))
          .select(col("l_partkey"))
        val exact = li.groupBy(col("l_partkey"))
          .agg(count(lit(1)).as("cnt"))
        val est = Frequency.cmsEstimates(li, "l_partkey",
          exact, "l_partkey", eps = 0.001, confidence = 0.99, seed = 42)
        val n = li.agg(count(lit(1)).as("__n"))
        est.crossJoin(n)
          .agg(count(lit(1)).as("n_keys"),
            sum(when(col("est") < col("cnt"), 1L).otherwise(0L))
              .as("n_under"),
            sum(when(col("est") > col("cnt") +
              ceil(col("__n") * 0.001).cast("long"), 1L).otherwise(0L))
              .as("__viol"))
          .select(col("n_keys"), col("n_under"),
            (col("__viol") <=
              ceil(col("n_keys") * (1.0 - 0.99)).cast("long"))
              .as("upper_within_budget"))
      },
      Some("""SELECT (SELECT COUNT(DISTINCT l_partkey) FROM lineitem)
                AS n_keys,
              CAST(0 AS BIGINT) AS n_under,
              CAST(1 AS BOOLEAN) AS upper_within_budget""")),

    // CSV edge round-trip under hostility (round 13): the corpus
    // UNIONED with planted rows carrying the whole CSV metacharacter
    // set — commas, doubled quotes, embedded \n and \r\n, a null
    // numeric, an empty-vs-null string pair (the classic CSV
    // data-loss case) — written as RFC 4180 CSV (sources.Csv pins
    // quote-doubling + multiLine) and read back under the explicit
    // schema with quarantine. Two corrupt rows planted (both TYPE
    // mismatches; token-count drift also quarantines — CsvSpec pins
    // the full quarantine semantics). The gate is
    // EXACT set equality against the written frame (both exceptAll
    // directions empty), not aggregate pins — a quoting bug that
    // splits one row into two garbled ones cannot cancel out.
    Q("q_csv_roundtrip",
      (s, d) => {
        import graft.sources.Csv
        def hostile: DataFrame = s.range(8).select(
          (col("id") + 900000L).as("doc_id"),
          concat(lit("a,b \"quo\"\"ted\" line\nsecond,line\r\nthird "),
            col("id").cast("string")).as("text"),
          when(col("id") === 0L, lit("")) // empty string, survives
            .when(col("id") === 1L, lit(null)) // vs null, survives
            .otherwise(lit("x,\"x")).as("lang"),
          lit("csv,torture \"src\"").as("source"),
          when(col("id") === 2L, lit(null))
            .otherwise(col("id")).cast("long").as("n_chars"))
        val src = new java.io.File(pq(d, "documents"))
        // keyed on the dialect too: the fixture's BYTES are a
        // function of the writer configuration, and /tmp outlives
        // code changes
        val root = Fixture(src, "graft_csv",
            codeKey = Csv.dialectKey) { tmp =>
          val data = new java.io.File(tmp, "data")
          Csv.write(s.read.parquet(src.getPath).unionByName(hostile),
            data.toString, maxRecordsPerFile = 200L)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(data.toString, "corrupt-0.csv"),
            ("doc_id,text,lang,source,n_chars\n" +
              "notanumber,\"x\",en,web,5\n" +
              "7,\"y\",en,web,notanumber\n").getBytes("UTF-8"))
        }
        val schema = new org.apache.spark.sql.types.StructType()
          .add("doc_id", org.apache.spark.sql.types.LongType)
          .add("text", org.apache.spark.sql.types.StringType)
          .add("lang", org.apache.spark.sql.types.StringType)
          .add("source", org.apache.spark.sql.types.StringType)
          .add("n_chars", org.apache.spark.sql.types.LongType)
        val dataDir = new java.io.File(root, "data").toString
        val clean = Csv.readClean(s, dataDir, schema)
        val source = s.read.parquet(src.getPath)
          .select(schema.fieldNames.toIndexedSeq.map(col): _*)
          .unionByName(hostile)
        Csv.quarantineStats(s, dataDir, schema)
          .crossJoin(clean.exceptAll(source)
            .agg(count(lit(1)).as("n_extra")))
          .crossJoin(source.exceptAll(clean)
            .agg(count(lit(1)).as("n_missing")))
      },
      Some("""SELECT (SELECT COUNT(*) + 8 FROM documents) AS n_valid,
              CAST(2 AS BIGINT) AS n_corrupt,
              CAST(0 AS BIGINT) AS n_extra,
              CAST(0 AS BIGINT) AS n_missing""")),

    // ORC edge round-trip (round 13): the OTHER columnar format a
    // lake migration hands an ingestion pipeline. lineitem exercises
    // int64/int32/double/string/timestamp, embeddings exercises
    // list<float> — both written as zstd ORC via Spark's native
    // source and read back; the gate is exact set equality in both
    // directions for BOTH tables, in one plan.
    Q("q_orc_roundtrip",
      (s, d) => {
        val li = new java.io.File(pq(d, "lineitem"))
        val root = Fixture(li, "graft_orc") { tmp =>
          Seq("lineitem", "embeddings").foreach { t =>
            s.read.parquet(pq(d, t)).write.mode("overwrite")
              .option("compression", "zstd")
              .orc(new java.io.File(tmp, t).toString)
          }
        }
        // set equality via ONE signed-multiset aggregation per table
        // (optimization round 19, guide §2.3/§2.4): the exceptAll pair
        // shuffled every wide row twice per direction (4 exchanges per
        // table) plus a third scan for the row count; tagging back-rows
        // +1 / source-rows −1 and aggregating the per-row-value net
        // yields the identical three counts — extra = Σ positive net,
        // missing = Σ −negative net (exceptAll is multiset difference,
        // which is exactly the positive part of the signed sum), rows =
        // the +1 side's count — from one shuffle over the union.
        def diffs(t: String): DataFrame = {
          val back = s.read.orc(new java.io.File(root, t).toString)
          val orig = s.read.parquet(pq(d, t))
          val cols = orig.columns.toSeq.map(col)
          back.select(struct(cols: _*).as("__r"), lit(1L).as("__s"))
            .unionAll(orig.select(struct(cols: _*).as("__r"),
              lit(-1L).as("__s")))
            .groupBy(col("__r"))
            .agg(sum(col("__s")).as("__net"),
              count(when(col("__s") > 0, 1)).as("__nb"))
            .agg(
              coalesce(sum(when(col("__net") > 0, col("__net"))), lit(0L))
                .as(s"${t}_extra"),
              coalesce(sum(when(col("__net") < 0, -col("__net"))), lit(0L))
                .as(s"${t}_missing"),
              coalesce(sum(col("__nb")), lit(0L)).as(s"${t}_rows"))
        }
        diffs("lineitem").crossJoin(diffs("embeddings"))
      },
      Some("""SELECT CAST(0 AS BIGINT) AS lineitem_extra,
              CAST(0 AS BIGINT) AS lineitem_missing,
              (SELECT COUNT(*) FROM lineitem) AS lineitem_rows,
              CAST(0 AS BIGINT) AS embeddings_extra,
              CAST(0 AS BIGINT) AS embeddings_missing,
              (SELECT COUNT(*) FROM embeddings) AS embeddings_rows""")))
}
