package graft

import graft.sources.Bucketed
import org.apache.spark.sql.functions._

/**
 * Bucketed-table co-location: the join between two tables CLUSTERED
 * BY their join key into the same bucket count must plan WITHOUT an
 * exchange on either side — the storage-level shuffle elimination
 * q_bucketed_join demonstrates — and the layout must be
 * semantics-preserving and re-attachable across catalog resets (the
 * in-memory catalog is session-scoped; files persist).
 */
class BucketedSpec extends SparkSpec {
  import spark.implicits._

  private def fixture(): (String, String) = {
    val base = tmpDir("bucketed-spec")
    val facts = (1L to 4000L).map(k => (k, (k % 7).toInt, s"g${k % 3}"))
      .toDF("k", "v", "grp")
    val dims = (1L to 4000L).filter(_ % 2 == 0)
      .map(k => (k, s"s${k % 5}")).toDF("k2", "status")
    Bucketed.writeBucketed(facts, "bspec_facts", s"$base/facts",
      "k", 4)
    Bucketed.writeBucketed(dims, "bspec_dims", s"$base/dims", "k2", 4)
    (s"$base/facts", s"$base/dims")
  }

  private def joined(factsPath: String, dimsPath: String) = {
    val facts = Bucketed.attach(spark, "bspec_facts",
      "k BIGINT, v INT, grp STRING", "k", 4, "k", factsPath)
    val dims = Bucketed.attach(spark, "bspec_dims",
      "k2 BIGINT, status STRING", "k2", 4, "k2", dimsPath)
    facts.join(dims.hint("merge"), facts("k") === dims("k2"))
      .groupBy($"grp", $"status").agg(sum($"v").as("sv"),
        count(lit(1)).as("n"))
  }

  test("co-located join plans with ZERO exchanges before the final " +
      "aggregation, and matches the plain-parquet join exactly") {
    val (fp, dp) = fixture()
    val df = joined(fp, dp)
    // static plan (AQE off): the ONLY exchange is the final group-by;
    // the join reads both bucketed scans directly
    val before = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = df.queryExecution.executedPlan
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      import org.apache.spark.sql.execution.joins.SortMergeJoinExec
      val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.size == 1,
        s"expected only the final-agg exchange, got ${exchanges.size}:\n" +
          plan.toString.take(2000))
      val smj = plan.collect { case j: SortMergeJoinExec => j }
      assert(smj.size == 1, "the co-located join must be a merge join")
      // and no exchange sits BELOW the join
      assert(smj.head.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        "neither bucketed side may shuffle")
    } finally spark.conf.set("spark.sql.adaptive.enabled", before)
    // values: identical to the unbucketed join over the same rows
    // (raw reads resolve the versioned data dir via the pointer)
    val facts = spark.read.parquet(Bucketed.dataLocation(fp))
    val dims = spark.read.parquet(Bucketed.dataLocation(dp))
    val expect = facts.join(dims, facts("k") === dims("k2"))
      .groupBy($"grp", $"status").agg(sum($"v").as("sv"),
        count(lit(1)).as("n"))
      .collect().map(_.toSeq).toSet
    assert(df.collect().map(_.toSeq).toSet == expect)
  }

  test("aggregation ON the bucket key is exchange-free too") {
    val (fp, _) = fixture()
    val facts = Bucketed.attach(spark, "bspec_facts",
      "k BIGINT, v INT, grp STRING", "k", 4, "k", fp)
    val agg = facts.groupBy($"k").agg(sum($"v").as("sv"))
    val before = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      val exchanges = agg.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e }
      assert(exchanges.isEmpty,
        "a group-by on the bucket key must reuse the bucket hash " +
          "partitioning — zero exchanges")
    } finally spark.conf.set("spark.sql.adaptive.enabled", before)
    assert(agg.count() == 4000)
  }

  test("re-attach after a catalog reset: DDL re-creates the table " +
      "over the same files with the same bucket spec") {
    val (fp, dp) = fixture()
    val t = Bucketed.tableName("bspec_facts", fp)
    spark.sql(s"DROP TABLE IF EXISTS $t") // simulate a new session
    val again = joined(fp, dp)
    assert(again.agg(sum($"n")).collect()(0).getLong(0) == 2000L,
      "every even key joins exactly once after re-attach")
  }

  test("bucket pruning: an equality filter on the bucket key scans " +
      "1 of n buckets") {
    val (fp, _) = fixture()
    val facts = Bucketed.attach(spark, "bspec_facts",
      "k BIGINT, v INT, grp STRING", "k", 4, "k", fp)
    // a bare filter has no downstream need for the bucket
    // partitioning, so DisableUnnecessaryBucketedScan would turn the
    // bucketed scan (and with it, pruning) off — pin autoBucketedScan
    // off for the probe, the config a point-lookup workload sets
    val before = spark.conf.get(
      "spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")
    spark.conf.set(
      "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      val probe = facts.where($"k" === 1234L)
      val plan = probe.queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount: 1 out of 4"),
        s"bucket pruning missing from the scan:\n${plan.take(1500)}")
      assert(probe.count() == 1)
    } finally spark.conf.set(
      "spark.sql.sources.bucketing.autoBucketedScan.enabled", before)
  }

  test("tableName is location-keyed: two SF dirs cannot share a name") {
    assert(Bucketed.tableName("p", "/a/b") != Bucketed.tableName("p", "/a/c"))
  }

  test("appendBucketed: ingest batches land in-bucket — the join " +
      "stays exchange-free across appends and values are the union") {
    val (fp, dp) = fixture()
    // two ingest batches of new fact rows (disjoint key ranges)
    val b1 = (4001L to 4500L).map(k => (k, (k % 7).toInt, s"g${k % 3}"))
      .toDF("k", "v", "grp")
    val b2 = (4501L to 5000L).map(k => (k, (k % 7).toInt, s"g${k % 3}"))
      .toDF("k", "v", "grp")
    Bucketed.appendBucketed(b1, "bspec_facts", fp, "k", 4)
    Bucketed.appendBucketed(b2, "bspec_facts", fp, "k", 4)
    val dimsExtra = (4001L to 5000L).filter(_ % 2 == 0)
      .map(k => (k, s"s${k % 5}")).toDF("k2", "status")
    Bucketed.appendBucketed(dimsExtra, "bspec_dims", dp, "k2", 4)
    val df = joined(fp, dp)
    val before = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      val exchanges = df.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e }
      assert(exchanges.size == 1,
        "appends must not reintroduce join-side exchanges " +
          "(multi-file buckets re-sort, never re-shuffle)")
    } finally spark.conf.set("spark.sql.adaptive.enabled", before)
    // every even key 2..5000 joins exactly once
    assert(df.agg(sum($"n")).collect()(0).getLong(0) == 2500L)
  }

  test("compact: append-accumulated files shrink to ~one per bucket, " +
      "values and the exchange-free join survive the swap") {
    val (fp, dp) = fixture()
    (1 to 5).foreach { w =>
      val lo = 4000L + 200L * (w - 1) + 1L
      Bucketed.appendBucketed(
        (lo to lo + 199L).map(k => (k, (k % 7).toInt, s"g${k % 3}"))
          .toDF("k", "v", "grp"), "bspec_facts", fp, "k", 4)
    }
    def dataFiles(dir: String): Int =
      Option(new java.io.File(dir).listFiles).map(_.count(f =>
        f.isFile && !f.getName.startsWith("_") &&
          !f.getName.startsWith("."))).getOrElse(0)
    val before = dataFiles(Bucketed.dataLocation(fp))
    assert(before >= 4 + 5 * 4 - 8, s"appends must add files ($before)")
    val sumBefore = spark.read.parquet(Bucketed.dataLocation(fp))
      .agg(sum($"v")).collect()(0).getLong(0)
    // pin a reader BEFORE the compact: its plan has already resolved
    // the current version's file list
    val pinned = Bucketed.attach(spark, "bspec_facts",
      "k BIGINT, v INT, grp STRING", "k", 4, "k", fp)
    val pinnedPlanned = pinned.groupBy().agg(sum($"v").as("sv"))
    Bucketed.compact(spark, "bspec_facts",
      "k BIGINT, v INT, grp STRING", "k", 4, "k", fp)
    val after = dataFiles(Bucketed.dataLocation(fp))
    assert(after <= 4, s"compact must leave ~one file per bucket ($after)")
    assert(spark.read.parquet(Bucketed.dataLocation(fp)).agg(sum($"v"))
      .collect()(0).getLong(0) == sumBefore, "values must survive")
    // reader-atomicity: the pre-compact plan still collects correctly
    // (the retired version's files survive the publish — the round-16
    // rename dance failed exactly this)
    assert(pinnedPlanned.collect()(0).getLong(0) == sumBefore,
      "a reader planned before compact must survive the publish")
    // grace GC: a SECOND compact retires the previous version and
    // garbage-collects the one before it — at most current + grace
    // versions remain
    Bucketed.compact(spark, "bspec_facts",
      "k BIGINT, v INT, grp STRING", "k", 4, "k", fp)
    val vdirs = Option(new java.io.File(fp).listFiles).get
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(vdirs.length <= 2, s"grace GC must bound versions: $vdirs")
    assert(spark.read.parquet(Bucketed.dataLocation(fp)).agg(sum($"v"))
      .collect()(0).getLong(0) == sumBefore)
    // the catalog entry still serves the location: join exchange-free
    val df = joined(fp, dp)
    val beforeConf = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      assert(df.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e }.size == 1)
    } finally spark.conf.set("spark.sql.adaptive.enabled", beforeConf)
    assert(df.agg(sum($"n")).collect()(0).getLong(0) == 2000L,
      "even keys 2..4000 join once (appended keys have no dims)")
  }

  test("appends racing compacts lose no rows: both serialize on the " +
      "shared per-path lock (an unserialized append could land its " +
      "files in the version being retired and vanish at GC)") {
    val (fp, _) = fixture()
    val ddl = "k BIGINT, v INT, grp STRING"
    val baseSum = spark.read.parquet(Bucketed.dataLocation(fp))
      .agg(sum($"v")).collect()(0).getLong(0)
    // interleave: 3 appender threads race 2 compacting threads
    val appendSums = new java.util.concurrent.atomic.AtomicLong(0)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 3).map { t =>
      new Thread(() => {
        try {
          val lo = 10000L * t
          val batch = (lo to lo + 99L)
            .map(k => (k, (k % 7).toInt, s"g${k % 3}"))
            .toDF("k", "v", "grp")
          appendSums.addAndGet(batch.agg(sum($"v")).collect()(0).getLong(0))
          Bucketed.appendBucketed(batch, "bspec_facts", fp, "k", 4)
        } catch { case e: Throwable => errors.add(e) }
      })
    } ++ (1 to 2).map { _ =>
      new Thread(() => {
        try Bucketed.compact(spark, "bspec_facts", ddl, "k", 4, "k", fp)
        catch { case e: Throwable => errors.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errors.isEmpty, s"racers must not fail: ${errors.peek()}")
    // one more compact to flush any append that followed the last one
    Bucketed.compact(spark, "bspec_facts", ddl, "k", 4, "k", fp)
    val finalSum = spark.read.parquet(Bucketed.dataLocation(fp))
      .agg(sum($"v")).collect()(0).getLong(0)
    assert(finalSum == baseSum + appendSums.get(),
      s"rows lost: base $baseSum + appends ${appendSums.get()} != $finalSum")
  }

  test("a crashed half-publish orphan (catalog flipped, pointer did " +
      "not) gets the GC grace window — a reader planned against it " +
      "survives the next compact") {
    val (fp, _) = fixture()
    val ddl = "k BIGINT, v INT, grp STRING"
    Bucketed.compact(spark, "bspec_facts", ddl, "k", 4, "k", fp)
    val servedLoc = Bucketed.dataLocation(fp) // v1 after first compact
    val servedName = new java.io.File(servedLoc).getName
    // simulate the crash: a newer version dir exists and the CATALOG
    // was flipped to it, but the _CURRENT pointer commit never ran
    val orphanName = s"v${servedName.drop(1).toInt + 1}"
    val orphanDir = new java.io.File(fp, orphanName)
    def cp(src: java.io.File, dst: java.io.File): Unit = {
      if (src.isDirectory) {
        dst.mkdirs()
        Option(src.listFiles).foreach(_.foreach(f =>
          cp(f, new java.io.File(dst, f.getName))))
      } else java.nio.file.Files.copy(src.toPath, dst.toPath)
    }
    cp(new java.io.File(servedLoc), orphanDir)
    val table = Bucketed.tableName("bspec_facts", fp)
    spark.sql(s"ALTER TABLE `$table` SET LOCATION " +
      s"'${orphanDir.getPath.replace("'", "\\'")}'")
    spark.catalog.refreshTable(table)
    // a reader in this session plans against the orphan location —
    // force physical planning NOW so the file list resolves before
    // the compact (queryExecution is lazy; without this the collect
    // below would re-resolve the post-compact catalog)
    val pinned = spark.table(table).groupBy()
      .agg(sum($"v").as("sv"))
    pinned.queryExecution.executedPlan
    val expect = spark.read.parquet(orphanDir.getPath).agg(sum($"v"))
      .collect()(0).getLong(0)
    Bucketed.compact(spark, "bspec_facts", ddl, "k", 4, "k", fp)
    assert(orphanDir.isDirectory,
      "the orphan the catalog was serving must survive one compact")
    assert(pinned.collect()(0).getLong(0) == expect,
      "the reader planned against the orphan must still collect")
    // one compact later the orphan is retired-out like any grace copy
    Bucketed.compact(spark, "bspec_facts", ddl, "k", 4, "k", fp)
    assert(!orphanDir.isDirectory,
      "the orphan is GC'd once its grace window passes")
    assert(spark.table(table).agg(sum($"v")).collect()(0).getLong(0)
      == expect, "values survive the whole recovery sequence")
  }

  test("quote-bearing paths survive the DDL round-trip (escaped " +
      "LOCATION literal, not string splicing)") {
    val base = tmpDir("bucketed-q'uote")
    assert(base.contains("'"), s"fixture dir lost its quote: $base")
    val df = (1L to 100L).map(k => (k, k * 2)).toDF("k", "v")
    Bucketed.writeBucketed(df, "bspec_quoted", s"$base/t", "k", 2)
    val back = Bucketed.attach(spark, "bspec_quoted",
      "k BIGINT, v BIGINT", "k", 2, "k", s"$base/t")
    assert(back.count() == 100)
    assert(back.agg(sum($"v")).collect()(0).getLong(0) == 10100L)
  }
}
