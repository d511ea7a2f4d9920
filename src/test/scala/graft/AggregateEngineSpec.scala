package graft

import scala.util.{Failure, Success, Try}

import org.apache.spark.{GraftJobProbe, SparkThrowable}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.parquet.GraftFooterSchema
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Top-level so Spark can derive an Encoder (inner classes cannot). */
case class EngineRow(f0: String, f2: Long, f4: Option[Double], f5: Long)

/** The local file system under the `vanish:` scheme, where listing a
  * directory deletes the `vanish-*` files it lists: a shard republished
  * between a call's listing and its footer read, with no timing race. */
class VanishOnListFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("vanish:///")
  override def getScheme: String = "vanish"
  override def listStatus(
      f: org.apache.hadoop.fs.Path): Array[org.apache.hadoop.fs.FileStatus] = {
    val listed = super.listStatus(f)
    listed.filter(_.getPath.getName.startsWith("vanish-"))
      .foreach(st => delete(st.getPath, false))
    listed
  }
}

/**
 * Oracle-differential tests in the reference's own style
 * (`tests/test_parquery.py`): seeded synthetic data, expected values
 * computed with plain Scala collections, result rows sorted before compare.
 */
class AggregateEngineSpec extends SparkSpec {
  import spark.implicits._

  // seeded 7-col-style fixture (FIXTURES.md §1): dims f0(str) f2(long),
  // measures f4(double, nulls) f5(long)
  private val rnd = new scala.util.Random(1)
  private type R = EngineRow
  private val R = EngineRow
  private val data: Seq[R] = (0 until 2000).map { i =>
    R(Seq("a", "b", "c", "d", "e")(i % 5), (i % 3).toLong,
      if (i % 7 == 0) None else Some(rnd.nextDouble()),
      rnd.between(-10L, 11L))
  }
  private lazy val path: String = {
    val p = tmpDir() + "/t.parquet"
    data.toDF().write.parquet(p)
    p
  }

  private def run(dims: Seq[String], ms: Seq[Seq[String]],
                  fs: Seq[Filter] = Nil, agg: Boolean = true) =
    AggregateEngine.aggregatePq(spark, path, dims, ms, fs, aggregate = agg)

  test("sum matches independent oracle") {
    val got = run(Seq("f0"), Seq(Seq("f5", "sum", "s")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exp = data.groupBy(_.f0).view.mapValues(_.map(_.f5).sum).toMap
    assert(got == exp)
  }

  test("mean/std match oracle within 1e-9") {
    val got = run(Seq("f0"), Seq(Seq("f4", "mean", "m"), Seq("f4", "std", "sd")))
      .collect().map(r => (r.getString(0), (r.getDouble(1), r.getDouble(2))))
      .toMap
    data.groupBy(_.f0).foreach { case (k, rows) =>
      val vs = rows.flatMap(_.f4)
      val mean = vs.sum / vs.size
      val sd = math.sqrt(vs.map(v => (v - mean) * (v - mean)).sum /
        (vs.size - 1)) // sample stddev, ddof=1 (DuckDB semantics)
      assert(math.abs(got(k)._1 - mean) < 1e-9)
      assert(math.abs(got(k)._2 - sd) < 1e-9)
    }
  }

  test("count skips nulls; count_na counts nulls (README contract)") {
    val got = run(Seq("f0"), Seq(
      Seq("f4", "count", "n"), Seq("f4", "count_na", "nn")))
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    data.groupBy(_.f0).foreach { case (k, rows) =>
      assert(got(k)._1 == rows.count(_.f4.isDefined))
      assert(got(k)._2 == rows.count(_.f4.isEmpty))
    }
  }

  test("count_distinct and legacy alias") {
    for (op <- Seq("count_distinct", "sorted_count_distinct")) {
      val got = run(Seq("f0"), Seq(Seq("f2", op, "d")))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val exp = data.groupBy(_.f0).view.mapValues(_.map(_.f2).distinct.size.toLong).toMap
      assert(got == exp)
    }
  }

  test("min/max/one") {
    val got = run(Seq("f2"), Seq(
      Seq("f5", "min", "mn"), Seq("f5", "max", "mx"), Seq("f5", "one", "o")))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    data.groupBy(_.f2).foreach { case (k, rows) =>
      assert(got(k)._1 == rows.map(_.f5).min)
      assert(got(k)._2 == rows.map(_.f5).max)
      assert(got(k)._3 == rows.map(_.f5).min) // one ≡ min (deterministic)
    }
  }

  test("global aggregate (no group-by) returns one row") {
    val got = run(Nil, Seq(Seq("f5", "sum", "s"))).collect()
    assert(got.length == 1)
    assert(got(0).getLong(0) == data.map(_.f5).sum)
  }

  test("aggregate=false returns filtered rows, columns name-sorted") {
    val got = run(Seq("f2"), Seq(Seq("f5"), Seq("f0")),
      Seq(Filter("f2", "==", 1L)), agg = false)
    assert(got.columns.toSeq == Seq("f0", "f2", "f5")) // sorted names
    assert(got.count() == data.count(_.f2 == 1L))
  }

  test("string filter values work (fixed vs reference DuckDB engine quirk)") {
    val got = run(Seq("f2"), Seq(Seq("f5", "count", "n")),
      Seq(Filter("f0", "in", Seq("a", "b"))))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exp = data.filter(r => r.f0 == "a" || r.f0 == "b")
      .groupBy(_.f2).view.mapValues(_.size.toLong).toMap
    assert(got == exp)
  }

  test("filter conjunction ANDs all predicates") {
    val got = run(Nil, Seq(Seq("f5", "count", "n")),
      Seq(Filter("f5", ">", 0L), Filter("f5", "<=", 5L),
        Filter("f0", "!=", "c"))).collect()(0).getLong(0)
    assert(got == data.count(r => r.f5 > 0 && r.f5 <= 5 && r.f0 != "c"))
  }

  test("in with scalar degrades to == (aggregate_duckdb.py:373-378)") {
    val a = run(Nil, Seq(Seq("f5", "count", "n")),
      Seq(Filter("f2", "in", 1L))).collect()(0).getLong(0)
    assert(a == data.count(_.f2 == 1L))
  }

  // ---- schema drift M1-M6 (SURVEY.md §2.9) -------------------------------

  test("M1: missing file → empty typed result") {
    val got = AggregateEngine.aggregatePq(spark, "/tmp/nope_missing.parquet",
      Seq("g"), Seq(Seq("m", "sum", "ms")))
    assert(got.count() == 0)
    assert(got.columns.toSeq == Seq("g", "ms"))
  }

  test("M1: handleMissingFile=false throws") {
    intercept[java.io.FileNotFoundException] {
      AggregateEngine.aggregatePq(spark, "/tmp/nope_missing.parquet",
        Seq("g"), Seq(Seq("m")), handleMissingFile = false)
    }
  }

  test("M1: handleMissingFile=false names every missing shard") {
    val dir = tmpDir()
    data.toDF().write.parquet(s"$dir/here.parquet")
    val gone = Seq(s"$dir/gone1.parquet", s"$dir/gone2.parquet")
    val e = intercept[java.io.FileNotFoundException] {
      AggregateEngine.aggregatePqShards(spark, s"$dir/here.parquet" +: gone,
        Seq("f0"), Seq(Seq("f5")), handleMissingFile = false)
    }
    assert(e.getMessage == gone.mkString(", "))
  }

  test("M2: all requested columns missing → empty result") {
    val got = run(Seq("ghost1"), Seq(Seq("ghost2")))
    assert(got.count() == 0)
    assert(got.columns.toSeq == Seq("ghost1", "ghost2"))
  }

  test("M3: missing dim → standardMissingId; missing measure → 0.0") {
    val got = run(Seq("f0", "ghostdim"),
      Seq(Seq("f5", "sum", "s"), Seq("ghostm", "sum", "gm"))).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r.getLong(r.fieldIndex("ghostdim")) == -1L)
      assert(r.getDouble(r.fieldIndex("gm")) == 0.0)
    }
    val sums = got.map(r => r.getString(0) -> r.getLong(r.fieldIndex("s"))).toMap
    assert(sums == data.groupBy(_.f0).view.mapValues(_.map(_.f5).sum).toMap)
  }

  test("M4: filter on missing column → empty, real schema types") {
    val got = run(Seq("f0"), Seq(Seq("f5", "sum", "s")),
      Seq(Filter("ghost", ">", 1L)))
    assert(got.count() == 0)
    assert(got.schema("f0").dataType.typeName == "string")
    assert(got.schema("s").dataType.typeName == "long")
  }

  test("M5: empty file → empty result with correct schema") {
    val p = tmpDir() + "/empty.parquet"
    data.take(0).toDF().write.parquet(p)
    val got = AggregateEngine.aggregatePq(spark, p, Seq("f0"),
      Seq(Seq("f5", "sum", "s")))
    assert(got.count() == 0)
    assert(got.columns.toSeq == Seq("f0", "s"))
  }

  test("M6: all rows filtered out → empty result") {
    val got = run(Seq("f0"), Seq(Seq("f5", "sum", "s")),
      Seq(Filter("f5", ">", 1000L)))
    assert(got.count() == 0)
  }

  test("custom standardMissingId") {
    val got = AggregateEngine.aggregatePq(spark, path, Seq("f0", "ghost"),
      Seq(Seq("f5", "sum", "s")), standardMissingId = -999L).collect()
    got.foreach(r => assert(r.getLong(r.fieldIndex("ghost")) == -999L))
  }

  test("filters reach the parquet scan as PushedFilters (regression guard)") {
    val plan = run(Seq("f0"), Seq(Seq("f5", "sum", "s")),
      Seq(Filter("f5", ">", 3L), Filter("f2", "==", 1L)))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters:"), plan.take(800))
    assert(plan.contains("GreaterThan(f5,3)"), plan.take(800))
    assert(plan.contains("EqualTo(f2,1)"), plan.take(800))
  }

  test("scan reads only requested columns (pruning regression guard)") {
    val plan = run(Seq("f0"), Seq(Seq("f5", "sum", "s")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<f0:string,f5:bigint>"),
      plan.take(800))
  }

  test("multi-shard aggregation ≡ single concatenated table") {
    val dir = tmpDir()
    val (s1, s2) = data.splitAt(1000)
    s1.toDF().write.parquet(s"$dir/shard1.parquet")
    s2.toDF().write.parquet(s"$dir/shard2.parquet")
    val got = AggregateEngine.aggregatePqShards(spark,
      Seq(s"$dir/shard1.parquet", s"$dir/shard2.parquet",
        s"$dir/shard_missing.parquet"), // skipped per M1
      Seq("f0"), Seq(Seq("f5", "sum", "s")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == data.groupBy(_.f0).view.mapValues(_.map(_.f5).sum).toMap)
  }

  test("shards with drifted schemas: merged probe, null-skip semantics") {
    // shard 1 predates column f5 (schema drift, RELEASE_NOTES.md:102);
    // mergeSchema must still surface f5 even if Spark reads shard 1's
    // footer first, and shard-1 rows contribute null → skipped by
    // sum/count (documented cross-shard divergence from per-file M3)
    val dir = tmpDir()
    Seq(("a", 1L), ("b", 2L)).toDF("f0", "f2")
      .write.parquet(s"$dir/old.parquet")
    Seq(("a", 1L, 10L), ("a", 2L, 20L)).toDF("f0", "f2", "f5")
      .write.parquet(s"$dir/new.parquet")
    val got = AggregateEngine.aggregatePqShards(spark,
      Seq(s"$dir/old.parquet", s"$dir/new.parquet"), Seq("f0"),
      Seq(Seq("f5", "sum", "s"), Seq("f5", "count", "n")))
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getLong(2)))
      .toMap
    // "a": nulls skipped (10+20, count 2); "b": only null cells →
    // SQL null sum, zero count
    assert(got == Map("a" -> (Some(30L), 2L), "b" -> (None, 0L)))
  }

  test("shards giving one column conflicting types: an error naming " +
      "the shards, not an empty result") {
    // one file per shard, and 20 per shard (40 leaves, more than Spark's
    // 32-path cutoff for listing on the driver): the driver merge names
    // the shards either way
    for (files <- Seq(1, 20)) {
      val dir = tmpDir()
      val shards = Seq(s"$dir/a.parquet", s"$dir/b.parquet")
      def write(df: DataFrame, p: String): Unit =
        df.coalesce(1).write.option("maxRecordsPerFile", 1L).parquet(p)
      write((1L to files).map(g => (g, 1)).toDF("g", "m"), shards(0))
      write((1L to files).map(g => (g, "x")).toDF("g", "m"), shards(1))
      assert(shards.map(leafCount).sum == 2 * files)
      val e = intercept[IllegalArgumentException] {
        AggregateEngine.aggregatePqShards(spark, shards, Seq("g"),
          Seq(Seq("m", "sum", "s"))).collect()
      }
      shards.foreach(s => assert(e.getMessage.contains(s), e.getMessage))
    }
  }

  test("glob path aggregates all matching shards") {
    val dir = tmpDir()
    val (s1, s2) = data.splitAt(1000)
    s1.toDF().write.parquet(s"$dir/part_a.parquet")
    s2.toDF().write.parquet(s"$dir/part_b.parquet")
    val got = AggregateEngine.aggregatePq(spark, s"$dir/part_*.parquet",
      Nil, Seq(Seq("f5", "sum", "s"))).collect()(0).getLong(0)
    assert(got == data.map(_.f5).sum)
  }

  test("timestamp filter values work end-to-end") {
    val p2 = tmpDir() + "/ts.parquet"
    val rows = (0 until 100).map { i =>
      (i.toLong, java.sql.Timestamp.valueOf(f"2024-01-${i % 28 + 1}%02d 12:00:00"))
    }
    rows.toDF("k", "ts").write.parquet(p2)
    val cut = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")
    val got = AggregateEngine.aggregatePq(spark, p2, Nil,
      Seq(Seq("k", "count", "n")),
      Seq(Filter("ts", ">=", cut))).collect()(0).getLong(0)
    assert(got == rows.count(!_._2.before(cut)))
  }

  test("engine parameter: API-parity validation (E1)") {
    for (e <- Seq("auto", "duckdb", "pyarrow", "spark")) {
      val got = AggregateEngine.aggregatePq(spark, path, Nil,
        Seq(Seq("f5", "count", "n")), engine = e).collect()(0).getLong(0)
      assert(got == data.size)
    }
    val err = intercept[IllegalArgumentException] {
      AggregateEngine.aggregatePq(spark, path, Nil, Seq(Seq("f5")),
        engine = "polars")
    }
    assert(err.getMessage.contains("auto"))
  }

  test("count_na duckdb-compat flag reproduces the reference bug") {
    val got = AggregateEngine.aggregatePq(spark, path, Seq("f0"),
      Seq(Seq("f4", "count_na", "n")), countNaDuckdbCompat = true)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exp = data.groupBy(_.f0).view
      .mapValues(_.count(_.f4.isDefined).toLong).toMap // non-null! (the bug)
    assert(got == exp)
  }

  // ---- small calls: footer schema on the driver, no Exchange -------------

  private def leaves(p: String) =
    AggregateEngine.leafFiles(spark.sessionState.newHadoopConf(), p).get

  private def leafCount(p: String): Int = leaves(p).size

  /** Shuffle exchanges of the physical plan as planned (AQE's initial
    * plan, before any stage runs). */
  private def shuffles(df: DataFrame): Int = {
    val qe = spark.sessionState.executePlan(df.queryExecution.logical)
    qe.assertAnalyzed()
    val plan = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case other => other
    }
    plan.collect { case e: ShuffleExchangeExec => e }.size
  }

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val before = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("input at or below spark.sql.files.openCostInBytes: no Exchange, " +
      "no job to plan, one to run; above it: an Exchange, as before") {
    val bytes = leaves(path).map(_.getLen).sum
    def call() = AggregateEngine.aggregatePq(spark, path, Seq("f0"),
      Seq(Seq("f5", "sum", "s"), Seq("f2", "count_distinct", "d")))
    val exp = data.groupBy(_.f0).view.mapValues(rs =>
      (rs.map(_.f5).sum, rs.map(_.f2).distinct.size.toLong)).toMap
    def rows(df: DataFrame) =
      df.collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
    val key = "spark.sql.files.openCostInBytes"
    withConf(key, bytes.toString) {
      val (df, planJobs) = GraftJobProbe.jobs(spark.sparkContext)(call())
      assert(planJobs == 0)
      assert(shuffles(df) == 0, df.queryExecution.executedPlan.toString)
      val (got, execJobs) = GraftJobProbe.jobs(spark.sparkContext)(rows(df))
      assert(execJobs == 1)
      assert(got == exp)
    }
    withConf(key, (bytes - 1).toString) {
      val df = call()
      assert(shuffles(df) > 0)
      assert(rows(df) == exp)
    }
  }

  test("driver footer schema ≡ mergeSchema read: every sf0.01 table under " +
      "both nanos settings, and a Hive shard=k directory") {
    val conf = spark.sessionState.newHadoopConf()
    def viaDriver(p: String) = Try(GraftFooterSchema.merged(spark, conf,
      AggregateEngine.leafFiles(conf, p).get).map(spark.read.schema(_)
        .parquet(p).schema))
    def viaJob(p: String) =
      Try(Some(spark.read.option("mergeSchema", value = true).parquet(p)
        .schema))
    def condition(e: Throwable) = e match {
      case s: SparkThrowable => s.getCondition
      case other => other.getClass.getName
    }
    def check(p: String): Unit = (viaDriver(p), viaJob(p)) match {
      case (Success(a), Success(b)) => assert(a == b, p)
      case (Failure(a), Failure(b)) =>
        assert(condition(a) == condition(b), s"$p: $a vs $b")
      case (a, b) => fail(s"$p: driver $a, mergeSchema job $b")
    }
    val tables = new java.io.File("/root/testdata/sf0.01").listFiles()
      .map(_.toString).filter(_.endsWith(".parquet")).sorted
    assert(tables.exists(_.endsWith("events.parquet")))
    for (nanos <- Seq("true", "false"))
      withConf("spark.sql.legacy.parquet.nanosAsLong", nanos) {
        tables.foreach(check)
      }

    // column names that differ only in case merge as the session's
    // spark.sql.caseSensitive says
    val cased = tmpDir()
    Seq((1L, 2L)).toDF("g", "F5").coalesce(1).write.mode("append")
      .parquet(cased)
    Seq((1L, 3L)).toDF("g", "f5").coalesce(1).write.mode("append")
      .parquet(cased)
    check(cased)

    val dir = tmpDir()
    Seq(("a", 1L)).toDF("f0", "f2").write.parquet(s"$dir/shard=0")
    Seq(("b", 2L, 3.5)).toDF("f0", "f2", "f4").write.parquet(s"$dir/shard=1")
    check(dir)
    assert(viaDriver(dir).get.get.fieldNames.toSeq ==
      Seq("f0", "f2", "f4", "shard"))
    val got = AggregateEngine.aggregatePq(spark, dir, Seq("shard"),
      Seq(Seq("f2", "sum", "s"))).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got == Map(0 -> 1L, 1 -> 2L))
  }

  test("edge inputs give the mergeSchema probe's outcome: an empty " +
      "directory, and a non-Parquet file among the shards") {
    val dir = tmpDir()
    val empty = s"$dir/empty"
    new java.io.File(empty).mkdirs()
    val notes = s"$dir/notes.txt"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(notes),
      "not parquet\n")
    def call(shards: String*) = AggregateEngine.aggregatePqShards(spark,
      shards, Seq("f0"), Seq(Seq("f5", "sum", "s")))
    val exp = data.groupBy(_.f0).view.mapValues(_.map(_.f5).sum).toMap
    // alone: no schema → the typed empty result
    for (only <- Seq(empty, notes)) {
      val df = call(only)
      assert(df.collect().isEmpty, only)
      assert(df.columns.toSeq == Seq("f0", "s"))
    }
    // beside a real shard: the empty directory adds nothing, an
    // unreadable footer fails the whole probe → empty
    assert(call(path, empty).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap == exp)
    assert(call(path, notes).collect().isEmpty)
  }

  test("a shard file deleted after the listing fails the call naming " +
      "it, in place of an empty result") {
    val dir = tmpDir()
    data.toDF().write.parquet(s"$dir/a")
    data.toDF().coalesce(1).write.parquet(s"$dir/b")
    val part = new java.io.File(s"$dir/b").listFiles()
      .find(_.getName.startsWith("part-")).get
    assert(part.renameTo(new java.io.File(s"$dir/b/vanish-0.parquet")))
    spark.conf.set("fs.vanish.impl",
      classOf[VanishOnListFileSystem].getName)
    try {
      val e = intercept[java.io.FileNotFoundException] {
        AggregateEngine.aggregatePqShards(spark,
          Seq(s"vanish://$dir/a", s"vanish://$dir/b"), Seq("f0"),
          Seq(Seq("f5", "sum", "s")))
      }
      assert(e.getMessage.contains("vanish-0.parquet"), e.getMessage)
    } finally spark.conf.unset("fs.vanish.impl")
  }
}
