package graft

import org.apache.spark.sql.GraftPlainSession
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
        GraftSession.codegenCacheEntries.toString,
      "spark.sql.legacy.parquet.nanosAsLong" -> "true")
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

  test("building an events query leaves the session's settings as they " +
      "were") {
    val s = GraftPlainSession.of(spark)
    import s.implicits._
    val d = tmpDir()
    val ts = java.sql.Timestamp.from(
      java.time.Instant.parse("2024-01-01T10:15:00Z"))
    Seq((1L, ts, 7L, "view", 1.5, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$d/events.parquet")
    val before = s.conf.getAll
    val hourly = SparkEntry.queries("q_events_hourly")(s, d)
    assert(s.conf.getAll == before)
    assert(hourly.collect().map(_.getString(0)).toSeq ==
      Seq("2024-01-01 10:00:00"))
  }
}
