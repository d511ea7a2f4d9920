package graft

import java.time.{Instant, LocalDate}

import org.apache.spark.sql.{Column, DataFrame, GraftPlainSession, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Literal, Round}
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.plans.BoundFilterValue

/**
 * The rule that keeps filter values out of generated code changes no
 * result: one filter gives the same rows with the rule (the shared
 * session, built by `GraftSession.builder`) and without it (a session on
 * the same context with no extensions), on null-bearing and NaN columns,
 * timestamp and date values and `in` lists — in generated code and on
 * the interpreted path (`spark.sql.codegen.wholeStage=false`). It binds
 * only primitive operands of comparisons and `In` lists.
 */
class BindFilterValuesSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private lazy val plain: SparkSession = GraftPlainSession.of(spark)

  private lazy val path: String = {
    val p = tmpDir() + "/t.parquet"
    spark.range(0, 400).selectExpr(
      "if(id % 9 = 0, null, if(id % 9 = 1, double('NaN'), " +
        "id / 4.0)) as x",
      "if(id % 7 = 0, null, id) as n",
      "if(id % 5 = 0, null, cast(id % 40 as int)) as i",
      "if(id % 11 = 0, null, timestamp_seconds(id * 3600)) as ts",
      "if(id % 13 = 0, null, date_add(date'2021-03-01', " +
        "cast(id as int))) as dt",
      "if(id % 6 = 0, null, cast(id % 4 as string)) as s")
      .write.parquet(p)
    p
  }

  private val t0 = Instant.ofEpochSecond(100L * 3600)
  private val d0 = LocalDate.of(2021, 3, 1).plusDays(150)

  /** Predicates whose every primitive comparison operand is bound. */
  private val bindable: Seq[(String, Column)] = Seq(
    "x > 12.5" -> (col("x") > 12.5),
    "x >= NaN" -> (col("x") >= Double.NaN),
    "x == NaN" -> (col("x") === Double.NaN),
    "x < NaN" -> (col("x") < Double.NaN),
    "x != 20.0" -> (col("x") =!= 20.0),
    "x in (1.0, NaN, 30.25)" -> col("x").isin(1.0, Double.NaN, 30.25),
    "n <= 120" -> (col("n") <= 120L),
    "n <=> 15" -> (col("n") <=> 15L),
    "i == 3" -> (col("i") === 3),
    "i in (1, 2, 3, 4, 5, 6, 7, 8, 9, 10)" -> col("i").isin(1 to 10: _*),
    "ts > t0" -> (col("ts") > lit(t0)),
    "ts in (...)" -> col("ts").isin(t0, t0.plusSeconds(3600),
      t0.plusSeconds(7200)),
    "dt <= d0" -> (col("dt") <= lit(d0)),
    "dt in (...)" -> col("dt").isin(d0, d0.plusDays(1), d0.plusDays(3)),
    "not (x > 5.0) or n < 30" -> (!(col("x") > 5.0) || col("n") < 30L))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def filterExprs(df: DataFrame) =
    collect(df.queryExecution.executedPlan) { case f: FilterExec =>
      f.condition }

  private def bound(df: DataFrame): Seq[BoundFilterValue] =
    filterExprs(df).flatMap(_.collect { case b: BoundFilterValue => b })

  private def withWholeStage(on: Boolean)(body: => Unit): Unit = {
    val key = "spark.sql.codegen.wholeStage"
    val sessions = Seq(spark, plain)
    val before = sessions.map(_.conf.get(key))
    sessions.foreach(_.conf.set(key, on.toString))
    try body
    finally sessions.zip(before).foreach { case (s, v) => s.conf.set(key, v) }
  }

  Seq(true, false).foreach { wholeStage =>
    test(s"same rows with and without the rule (wholeStage=$wholeStage)") {
      withWholeStage(wholeStage) {
        bindable.foreach { case (name, p) =>
          val withRule = spark.read.parquet(path).where(p)
          val without = plain.read.parquet(path).where(p)
          val got = rows(withRule)
          assert(got == rows(without), name)
          assert(got.nonEmpty, s"$name selects no row")
          assert(bound(withRule).nonEmpty, s"$name: nothing bound")
          assert(bound(without).isEmpty, s"$name: bound without the rule")
        }
      }
    }
  }

  test("a string value and a literal outside a comparison stay Literal") {
    val s = spark.read.parquet(path).where(col("s") === "2")
    assert(rows(s) == rows(plain.read.parquet(path).where(col("s") === "2")))
    assert(bound(s).isEmpty, filterExprs(s))
    assert(filterExprs(s).exists(_.exists {
      case Literal(v, _) => String.valueOf(v) == "2"
      case _ => false
    }), filterExprs(s))

    val r = spark.read.parquet(path).where(round(col("x"), 1) > 20.0)
    assert(rows(r) ==
      rows(plain.read.parquet(path).where(round(col("x"), 1) > 20.0)))
    val rounds = filterExprs(r).flatMap(_.collect { case x: Round => x })
    assert(rounds.nonEmpty, filterExprs(r))
    rounds.foreach(x => assert(x.scale.isInstanceOf[Literal], x))
    assert(bound(r).map(_.value) == Seq(20.0), filterExprs(r))
  }
}
