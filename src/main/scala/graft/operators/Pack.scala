package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Distributed prefix sums and the training-example construction operators
 * built on them: sequence packing (assign documents to fixed-token-budget
 * training sequences) and token-budget selection (take documents in
 * priority order until a global budget is exhausted).
 *
 * A global running sum is the textbook "inherently sequential" trap: the
 * naive `sum().over(Window.orderBy(k))` plans ONE task that sorts and
 * scans everything. The scalable shape (same as [[Ids.stableOrdinals]]):
 * range-partition on the order key, cumsum per partition IN PARALLEL,
 * then add each partition's cumulative offset — offsets are one
 * `groupBy(pid).sum()` of numPartitions rows, broadcast back. Total cost:
 * one range shuffle + parallel windows, at any corpus size.
 */
object Pack {

  /**
   * Add `outCol` = running sum of `valueCol` in `orderCol` order,
   * INCLUSIVE of the current row. `orderCol` should be unique (ties are
   * ordered arbitrarily-but-deterministically within a partitioning).
   */
  def prefixSum(df: DataFrame, orderCol: String, valueCol: String,
                outCol: String = "cumsum",
                numPartitions: Int = 0): DataFrame = Checkpoints.scoped { s =>
    val parts = if (numPartitions > 0) numPartitions
      else df.sparkSession.sparkContext.defaultParallelism
    // pinned: the offsets and the windows must see ONE partitioning —
    // evaluated twice, the range bounds come from two reservoir samples
    // (seeded by RDD id) and a row's __pid can differ between branches
    val ranged = s.pinLocal(df.repartitionByRange(parts, col(orderCol))
      .withColumn("__pid", spark_partition_id()))
    val offsets = ranged.groupBy(col("__pid"))
      .agg(sum(col(valueCol)).as("__psum"))
      .select(col("__pid"),
        coalesce(sum(col("__psum")).over(
          Window.orderBy(col("__pid"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
          .as("__offset"))
    val w = Window.partitionBy(col("__pid")).orderBy(col(orderCol))
    ranged.withColumn("__local", sum(col(valueCol)).over(w))
      .join(broadcast(offsets), "__pid")
      .withColumn(outCol, col("__local") + col("__offset"))
      .drop("__pid", "__local", "__offset")
  }

  /**
   * Sequence packing: assign each document (in `orderCol` order) to a
   * training sequence (`seq_id`) of at most ~`maxTokens` tokens, plus its
   * token offset within that sequence (`seq_offset`). The assignment is
   * the streaming-pointer rule `seq_id = floor(exclusive_cumsum /
   * maxTokens)` — documents are never reordered or split, and a document
   * straddling a boundary belongs to the sequence its first token falls
   * in (document-preserving approximate packing; exact bin-packing is
   * NP-hard and order-destroying).
   */
  def packSequences(df: DataFrame, orderCol: String, tokenCol: String,
                    maxTokens: Long,
                    numPartitions: Int = 0): DataFrame = {
    require(maxTokens > 0, s"maxTokens must be positive, got $maxTokens")
    val withSum = prefixSum(df, orderCol, tokenCol, "__cum", numPartitions)
    val exclusive = col("__cum") - col(tokenCol)
    withSum
      .withColumn("seq_id", floor(exclusive / lit(maxTokens.toDouble))
        .cast("long"))
      .withColumn("seq_offset",
        (exclusive - col("seq_id") * maxTokens).cast("long"))
      .drop("__cum")
  }

  /**
   * Token-budget selection: keep documents in `orderCol` order (e.g.
   * quality-descending rank) while the running token total stays within
   * `budget` — the "take the best N tokens" pipeline step. A document
   * that would cross the budget is excluded (conservative; the budget is
   * never exceeded).
   */
  def takeTokenBudget(df: DataFrame, orderCol: String, tokenCol: String,
                      budget: Long,
                      numPartitions: Int = 0): DataFrame = {
    require(budget >= 0, s"budget must be non-negative, got $budget")
    prefixSum(df, orderCol, tokenCol, "__cum", numPartitions)
      .where(col("__cum") <= budget)
      .drop("__cum")
  }

  /**
   * Assemble [[packSequences]] output into the actual training
   * sequences: one row per `seq_id` with the member documents'
   * `textCol` joined by `sep` in offset order, plus the member count —
   * the step that turns a packed ASSIGNMENT into the text a trainer
   * tokenizes. Offset order is total within a sequence by the packing
   * construction (each document's offset is its exclusive prefix sum;
   * zero-token documents would tie — gate them out upstream), so the
   * assembled string is a pure function of the data.
   *
   * Scale shape: ONE key shuffle on `seq_id`; per-group state is
   * bounded by the packing contract itself (a sequence holds at most
   * ~`maxTokens` tokens of text), so `collect_list` here — usually a
   * red flag — cannot exceed the sequence budget by construction. The
   * in-group sort is `array_sort` over (offset, text) structs: per-row
   * work, no extra exchange. When composed directly onto
   * [[packSequences]], `textCol` also rides the packing's range
   * exchange and per-partition window; for very wide documents, pack
   * on the narrow (order, tokens) projection and join `textCol` back
   * by id before assembly — one extra key join, two fewer
   * text-carrying exchanges.
   */
  def packedText(packed: DataFrame, textCol: String,
                 seqIdCol: String = "seq_id",
                 offsetCol: String = "seq_offset",
                 sep: String = "\n"): DataFrame =
    packed.groupBy(col(seqIdCol))
      .agg(count(lit(1)).as("n_docs"),
        array_join(
          transform(
            array_sort(collect_list(
              struct(col(offsetCol).as("o"), col(textCol).as("t")))),
            x => x.getField("t")),
          sep).as("text"))
}
