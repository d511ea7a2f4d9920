package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** IVF training over a lineage that is not deterministic: the seed
  * sample reads the UNPINNED lineage while the pin materializes it. */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("ivfTopK re-seeds from the pin when the unpinned lineage yields " +
      "no seeds") {
    // rows exist only where the pin's job computes them: the pinned RDD
    // is persisted, so its tasks run under RDD.getOrCompute, while the
    // seed job over the raw lineage does not (a range source, so the
    // filter runs in tasks, not folded into a driver-side local relation)
    val seenByPin = udf { (_: Long) =>
      Thread.currentThread.getStackTrace.exists(_.getMethodName == "getOrCompute")
    }.asNondeterministic()
    val corpus = spark.range(0, 50).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(7)),
          j => sin(col("id") * 8 + j)).as("embedding"))
      .where(seenByPin(col("vec_id")))
    val queries = Seq((100L, Seq.tabulate(8)(j => math.sin(42 * 8 + j))))
      .toDF("query_id", "qv") // identical to corpus vec 42
    val got = Similarity.ivfTopK(corpus, queries, "vec_id", "embedding",
      "query_id", "qv", k = 3, nlist = 4, nprobe = 4).collect()
    assert(got.nonEmpty, "no seeds: the index came back empty")
    assert(got(0).getLong(1) == 42L && got(0).getDouble(2) == 1.0)
  }
}
