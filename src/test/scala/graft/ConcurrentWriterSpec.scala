package graft

import scala.util.{Failure, Success, Try}

import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.sources.Writer

/**
 * A shard republished between planning and execution. `aggregatePqShards`
 * lists the shards and reads their footers when it builds the DataFrame;
 * the rows are read when the result is collected. No inode is pinned
 * (SCALE.md, "What we deliberately did NOT do"), so a writer can replace
 * a shard in that window. The property: the result is the old shard
 * set's result, the new one's, or an error that names the replaced
 * shard — never rows of both. The writer publishes under fresh file
 * names, so the scan's listed file is gone and Spark's
 * FAILED_READ_FILE.FILE_NOT_EXIST names it.
 */
class ConcurrentWriterSpec extends SparkSpec {
  import spark.implicits._

  private type Rows = Seq[(Long, Long)]

  private val rows: Gen[Rows] = Gen.choose(1, 40).flatMap(n =>
    Gen.listOfN(n, Gen.zip(Gen.choose(0L, 3L), Gen.choose(-100L, 100L))))

  /** What the engine must return over the given shard contents. */
  private def expected(shards: Seq[Rows]): Map[Long, (Long, Long)] =
    shards.flatten.groupBy(_._1).view
      .mapValues(vs => (vs.map(_._2).sum, vs.size.toLong)).toMap

  private def publish(rs: Rows, shard: String): Unit =
    Writer.dfToParquet(rs.toDF("k", "v"), shard, singleFile = true)

  test("a shard replaced by the writer between plan and collect: old " +
      "result, new result or an error naming it, never a mix") {
    val cases = for {
      old <- Gen.choose(1, 4).flatMap(Gen.listOfN(_, rows))
      replaced <- Gen.choose(0, old.size - 1)
      fresh <- rows
    } yield (old, replaced, fresh)
    val prop = Prop.forAll(cases) { case (old, replaced, fresh) =>
      val dir = tmpDir()
      val shards = old.indices.map(i => f"$dir/shard=$i%03d")
      old.zip(shards).foreach { case (rs, s) => publish(rs, s) }
      val df = AggregateEngine.aggregatePqShards(spark, shards, Seq("k"),
        Seq(Seq("v", "sum", "s"), Seq("v", "count", "n")))
      publish(fresh, shards(replaced))
      val before = expected(old)
      val after = expected(old.updated(replaced, fresh))
      Try(df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
        .toMap) match {
        case Success(got) => got == before || got == after
        case Failure(e) =>
          Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
            .exists(c => Option(c.getMessage)
              .exists(_.contains(shards(replaced))))
      }
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }
}
