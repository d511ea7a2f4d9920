package graft

/**
 * Dev tool: dump formatted physical plans for selected queries, to audit
 * pushdown/pruning/codegen (PushedFilters, ReadSchema, WholeStageCodegen
 * spans, exchange placement). Usage:
 *   runMain graft.Explain [sfDir] [queryName ...]
 */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q_agg_sum", "q_filter_range", "q_join_star", "q_topk_agg",
        "q_dedup_minhash", "q_ann_brute", "q_window_rank")
    // the settings Bench and Verify run with, so the plans are theirs
    val spark = GraftSession.local("graft-explain", 4)
    names.foreach { n =>
      println(s"\n########## $n ##########")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
