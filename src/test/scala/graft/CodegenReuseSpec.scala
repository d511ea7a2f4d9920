package graft

import java.time.{Instant, LocalDate}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

import graft.plans.BoundFilterValue

/**
 * A repeated report shape compiles once: after one warm call,
 * `aggregatePqShards` calls that differ only in filter values compile no
 * class, on the one-task `coalesce(1)` plan and on the shuffled plan.
 * Dims are grouped in a canonical order, so calls that list the same dims
 * in another order share every generated class but the one that writes
 * the result row in the caller's order (in one task, a small projection
 * class of its own; on the shuffled plan, the final aggregate's).
 *
 * Compiles are read from Spark's own counter (`CodegenMetrics`), which
 * counts every Janino compile in the JVM — cache hits are not counted.
 */
class CodegenReuseSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private lazy val shards: Seq[String] = {
    val dir = tmpDir()
    (0 until 2).map { s =>
      val p = s"$dir/shard$s.parquet"
      spark.range(0, 1000).selectExpr(
        "cast(id % 7 as int) as k1", "id % 5 as k2",
        "cast(id % 3 as string) as k3",
        "if(id % 10 = 0, null, if(id % 10 = 1, double('NaN'), " +
          "cast(id as double))) as x",
        s"id + $s as n", "cast(id % 200 as int) as i",
        "timestamp_seconds(id * 60) as ts",
        "date_add(date'2020-01-01', cast(id % 300 as int)) as dt")
        .coalesce(1).write.parquet(p)
      p
    }
  }

  private def compiles: Long =
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Classes compiled while `body` runs. */
  private def compiled(body: => Unit): Long = {
    val c0 = compiles
    body
    compiles - c0
  }

  private def call(dims: Seq[String], fs: Seq[Filter]): DataFrame =
    AggregateEngine.aggregatePqShards(spark, shards, dims,
      Seq(Seq("x", "sum", "sx"), Seq("n", "max", "mn")), fs)

  private def shuffles(df: DataFrame): Int =
    collect(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e }.size

  private def bound(df: DataFrame): Seq[BoundFilterValue] =
    collect(df.queryExecution.executedPlan) { case p => p }
      .flatMap(_.expressions).flatMap(_.collect {
        case b: BoundFilterValue => b })

  /** Value `j` for a filter on `column`: a value present in the data. */
  private def value(column: String, j: Int): Any = column match {
    case "x"  => 102.0 + 37 * j
    case "n"  => 50L + 11 * j
    case "i"  => 10 + 3 * j
    case "ts" => Instant.ofEpochSecond((60L + 7 * j) * 60)
    case "dt" => LocalDate.of(2020, 1, 1).plusDays(20L + 9 * j)
  }

  private val columns = Seq("x", "n", "i", "ts", "dt")
  private val ops = Seq(">", ">=", "<", "<=", "==", "!=")

  /** Runs `body` on the one-task plan (the default for this small
    * input) and on the shuffled plan (no input counts as small). */
  private def bothPlans(body: String => Unit): Unit = {
    body("coalesce(1)")
    val key = "spark.sql.files.openCostInBytes"
    val before = spark.conf.get(key)
    spark.conf.set(key, "0")
    try body("shuffled") finally spark.conf.set(key, before)
  }

  test("calls that differ only in filter values compile no new class") {
    bothPlans { plan =>
      val filters: Seq[Int => Seq[Filter]] =
        columns.flatMap(c => ops.map(op =>
          (j: Int) => Seq(Filter(c, op, value(c, j))))) ++
        columns.map(c => (j: Int) =>
          Seq(Filter(c, "in", (0 until 3).map(k => value(c, 3 * j + k)))))
      filters.foreach { f =>
        val warm = call(Seq("k1", "k2"), f(0))
        warm.collect()
        assert(shuffles(warm) == (if (plan == "shuffled") 1 else 0),
          s"$plan: ${warm.queryExecution.executedPlan}")
        (1 to 2).foreach { j =>
          val rows = call(Seq("k1", "k2"), f(j))
          val n = compiled(rows.collect())
          assert(n == 0, s"$plan: ${f(j)} compiled $n classes")
        }
        assert(bound(warm).nonEmpty, s"$plan: no value bound for ${f(0)}")
      }
    }
  }

  test("the scan's PushedFilters still carry the filter values") {
    bothPlans { plan =>
      val df = call(Seq("k1"),
        Seq(Filter("x", ">", 139.0), Filter("n", "<=", 61L)))
      df.collect()
      val s = df.queryExecution.executedPlan.toString
      assert(s.contains("GreaterThan(x,139.0)"), s"$plan: $s")
      assert(s.contains("LessThanOrEqual(n,61)"), s"$plan: $s")
      assert(bound(df).map(_.value).toSet == Set(139.0, 61L),
        s"$plan: ${bound(df)}")
    }
  }

  test("dims in another order share every class but the result row's") {
    bothPlans { plan =>
      val orders = Seq(Seq("k1", "k2", "k3"), Seq("k3", "k1", "k2"))
      val f = (j: Int) => Seq(Filter("x", ">", value("x", j)))
      orders.foreach(o => call(o, f(0)).collect())
      val sources = orders.map { o =>
        val df = call(o, f(1))
        val n = compiled(df.collect())
        assert(n == 0, s"$plan: dims $o compiled $n classes")
        assert(df.columns.toSeq == o ++ Seq("sx", "mn"))
        codegenStringSeq(df.queryExecution.executedPlan).map(_._2)
      }
      assert(sources.map(_.size).distinct.size == 1, s"$plan: $sources")
      val differing = sources.head.zip(sources(1)).count { case (a, b) =>
        a != b }
      assert(differing == 1, s"$plan: $differing stages differ")
      assert(sources.head.head == sources(1).head,
        s"$plan: the scan stage differs")
      // the same rows under either order
      val rows = orders.map(o => call(o, f(2))
        .select("k1", "k2", "k3", "sx", "mn").collect()
        .map(_.toString).sorted.toSeq)
      assert(rows.head == rows(1))
    }
  }
}
