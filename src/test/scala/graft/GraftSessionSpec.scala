package graft

import org.apache.spark.sql.functions.col

import graft.plans.{BindFilterValues, BoundFilterValue, GraftExtensions}

/** A session built by [[GraftSession.builder]] (the shared test session
  * is one) carries every pinned conf and graft's installed extensions. */
class GraftSessionSpec extends SparkSpec {

  test("a built session carries every pinned conf") {
    val expected = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.parquet.filterPushdown" -> "true",
      "spark.sql.parquet.enableVectorizedReader" -> "true",
      "spark.sql.files.maxPartitionBytes" -> "134217728",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.codegen.cache.maxEntries" ->
        GraftSession.codegenCacheEntries.toString)
    expected.foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, k)
    }
    // Spark's default is smaller than graft's measured working set
    assert(GraftSession.codegenCacheEntries > 100)
  }

  test("a built session runs the filter-value rule and has every native " +
      "function without a register call") {
    assert(spark.sessionState.columnarRules
      .exists(_.preColumnarTransitions eq BindFilterValues))
    // every function the extensions inject (NativeExprSpec checks that
    // list names every native function)
    val fns = spark.sessionState.functionRegistry.listFunction()
      .map(_.funcName).toSet
    val injected = org.apache.spark.sql.GraftExtensionsProbe
      .injectedFunctionNames(new GraftExtensions)
    assert(injected.nonEmpty)
    injected.foreach(n => assert(fns.contains(n), n))
    val df = spark.range(10).where(col("id") > 3L)
    assert(df.count() == 6)
    assert(df.queryExecution.executedPlan.exists(_.expressions.exists(
      _.exists(_.isInstanceOf[BoundFilterValue]))))
  }
}
