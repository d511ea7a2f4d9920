package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}

/** The pinned plan shapes for [[GoldenPlanSpec]] — regenerate with
  * [[GoldenPlanDump]] ONLY for a deliberate plan change, in the same
  * commit, with the reason in the message. The pinned set is the
  * bench's most expensive queries (they own the total) plus q_profile
  * (the round-11 perf flag). */
object GoldenPlans {

  /** (shuffle exchanges, broadcast exchanges, join-strategy multiset)
    * of the STATIC physical plan — AQE is disabled around planning so
    * `executedPlan` is the concrete exchange-bearing plan instead of
    * an adaptive wrapper whose exchanges appear only at runtime
    * (`sparkPlan` predates EnsureRequirements and carries none). */
  def shape(spark: SparkSession, name: String,
            sfDir: String): (Int, Int, Map[String, Int]) = {
    val before = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan
      val shuffles = plan.collectWithSubqueries {
        case e: ShuffleExchangeExec => e }.size
      val broadcasts = plan.collectWithSubqueries {
        case e: BroadcastExchangeExec => e }.size
      val joins = plan.collectWithSubqueries { case j: BaseJoinExec => j }
        .groupBy {
          case _: BroadcastHashJoinExec => "bhj"
          case _: SortMergeJoinExec => "smj"
          case _: ShuffledHashJoinExec => "shj"
          case _: BroadcastNestedLoopJoinExec => "bnlj"
          case other => other.nodeName
        }.map { case (k, v) => k -> v.size }
      (shuffles, broadcasts, joins)
    } finally spark.conf.set("spark.sql.adaptive.enabled", before)
  }

  val pinned: Seq[String] = Seq(
    "q_ingest_admission",
    "q_ingest_admission_normalized",
    "q_ingest_admission_state",
    "q_dedup_semantic",
    "q_dedup_survivors",
    "q_ann_ivfpq",
    "q_skew_salted_join",
    "q_profile",
    "q_bm25_search",
    "q_dedup_minhash",
    "q_ann_recall_gate",
    // round-13: the r12 verdict's unexplained 0.29→0.58s swing — the
    // 3-run band (bench_evidence/bench_r13_token_budget.json) reads it
    // as host noise; the pin makes a real plan drift fail by name
    "q_token_budget",
    // round-13 additions that entered the bench's expensive tier
    "q_hybrid_search_ivf",
    "q_dedup_semantic_twolevel",
    "q_cdc_novelty_state",
    // round-15: the r13/r14 verdicts' twice-host-attributed >1.3x
    // mover — pinned so a third move with an identical plan is
    // provably not a plan drift (and a plan drift fails by name)
    "q_pipeline_e2e",
    // round-15: the bucketed co-located join — the pin IS the claim
    // (1 exchange total: the final agg; the join itself shuffle-free)
    "q_bucketed_join",
    // round-16: the same claim cashed on the documents-family join
    // the retrieval queries recur on (documents ⋈ embeddings)
    "q_bucketed_doc_join",
    // round-16: the r15 verdict's one >1.3x clean-capture mover with
    // untouched operators (0.88→1.36s) — pinned so any future move
    // with an identical plan is provably not a plan drift (the
    // q_pipeline_e2e recipe; SoloBand evidence in bench_evidence/)
    "q_curation_pipeline")

  // filled by GoldenPlanDump — (shuffle exchanges, broadcast
  // exchanges, join-strategy multiset) on the sf0.001 static plan
  val table: Map[String, (Int, Int, Map[String, Int])] = Map(
    // round-19 optimization: the banded-candidate and band-row pins in
    // incrementalMinhashAgainstIndex truncate the re-executed minhash
    // lineage each downstream consumer used to carry (9→6 shuffles,
    // 11→2 bhj — the pinned frames' joins no longer replan per consumer)
    "q_ingest_admission" -> (6, 2, Map[String, Int]("bhj" -> 2, "smj" -> 3)),
    "q_ingest_admission_normalized" -> (6, 2, Map[String, Int]("bhj" -> 2, "smj" -> 3)),
    "q_ingest_admission_state" -> (6, 2, Map[String, Int]("bhj" -> 2, "smj" -> 3)),
    "q_dedup_semantic" -> (3, 0, Map[String, Int]("smj" -> 3)),
    "q_dedup_survivors" -> (3, 0, Map[String, Int]("smj" -> 3)),
    "q_ann_ivfpq" -> (2, 2, Map[String, Int]("bhj" -> 2)),
    // round-19 optimization: SHUFFLE_HASH on the replicated side — the
    // estimate-driven plan BROADCAST the buckets×-exploded small side
    // (a driver build of |small|×buckets rows; at scale a driver OOM),
    // now a distributed per-partition hash build (bhj→shj, the join
    // inputs shuffle instead of broadcasting)
    "q_skew_salted_join" -> (3, 0, Map[String, Int]("shj" -> 1)),
    // round-19 optimization: hash repartition parallelizes the
    // exact-distinct Expand partial (2→3 shuffles)
    "q_profile" -> (3, 0, Map[String, Int]()),
    "q_bm25_search" -> (8, 3, Map[String, Int]("bhj" -> 2, "bnlj" -> 1)),
    // round-17 two-stage verify: the hashed prefilter pair carries
    // the candidate volume (same 4 shuffles as the one-stage form);
    // the exact stage's two joins run over the tiny survivor set and
    // BROADCAST (the extra bhj×2 + broadcast) — wide string-shingle
    // arrays never shuffle at all now
    "q_dedup_minhash" -> (4, 3, Map[String, Int]("bhj" -> 4)),
    "q_ann_recall_gate" -> (7, 3, Map[String, Int]("bhj" -> 2, "bnlj" -> 1, "smj" -> 2)),
    // the range-partitioned frame in Pack.prefixSum is pinned so the
    // offsets and the windows read ONE partitioning: the result plan
    // scans the pin instead of re-running the range exchange (4→3)
    "q_token_budget" -> (3, 1, Map[String, Int]("bhj" -> 1)),
    // round-19 optimization: fixture/BM25 halves pinned and shared by
    // the exact and IVF configurations instead of inlined twice
    // (19→14 shuffles, one bnlj and 6 bhj gone with the duplicated
    // retrieval subplans)
    "q_hybrid_search_ivf" -> (14, 2, Map[String, Int]("bhj" -> 1, "bnlj" -> 1, "smj" -> 5)),
    "q_dedup_semantic_twolevel" -> (3, 0, Map[String, Int]("smj" -> 3)),
    "q_cdc_novelty_state" -> (3, 2, Map[String, Int]("bhj" -> 2)),
    "q_pipeline_e2e" -> (2, 0, Map[String, Int]()),
    "q_bucketed_join" -> (1, 0, Map[String, Int]("smj" -> 1)),
    "q_bucketed_doc_join" -> (1, 0, Map[String, Int]("smj" -> 1)),
    "q_curation_pipeline" -> (6, 4, Map[String, Int]("bhj" -> 3, "bnlj" -> 1)))
}
