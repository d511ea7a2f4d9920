package graft

import org.apache.spark.sql.functions._

import graft.functions.Naming
import graft.sources.Writer

class NamingWriterSpec extends SparkSpec {
  import spark.implicits._

  test("natural/original name round-trip (tool.py:49-120)") {
    val df = Seq((1L, 2L, 3.0)).toDF("a-31", "g", "m-1")
    val nat = Naming.dfToNaturalName(df)
    assert(nat.columns.toSeq == Seq("a_n_31", "g", "m_n_1"))
    val orig = Naming.dfToOriginalName(nat)
    assert(orig.columns.toSeq == Seq("a-31", "g", "m-1"))
  }

  test("mangled columns stay queryable through the engine") {
    val p = tmpDir() + "/nat.parquet"
    Seq((1L, 10.0), (1L, 20.0), (2L, 5.0)).toDF("a-31", "m1")
      .transform(Naming.dfToNaturalName)
      .write.parquet(p)
    val got = AggregateEngine.aggregatePq(spark, p, Seq("a_n_31"),
      Seq(Seq("m1", "sum", "s")))
    val back = Naming.dfToOriginalName(got)
    assert(back.columns.toSeq == Seq("a-31", "s"))
    assert(back.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap ==
      Map(1L -> 30.0, 2L -> 5.0))
  }

  test("writer produces zstd parquet readable back (write.py:120-138)") {
    val p = tmpDir() + "/w.parquet"
    val df = (1 to 100).map(i => (i.toLong, i * 1.5)).toDF("k", "v")
    Writer.dfToParquet(df, p)
    val back = spark.read.parquet(p)
    assert(back.count() == 100)
    // zstd codec actually applied
    val file = new java.io.File(p).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    assert(file.getName.contains("zstd"))
  }

  test("overwritePartitions rewrites only the partitions being written") {
    val p = tmpDir() + "/dyn.parquet"
    Seq(("a", 1L), ("a", 2L), ("b", 10L))
      .toDF("part", "v")
      .write.partitionBy("part").parquet(p)
    // republish partition "a" only — "b" must survive (static overwrite
    // would delete it)
    graft.sources.Writer.overwritePartitions(
      Seq(("a", 99L)).toDF("part", "v"), p, Seq("part"))
    val got = spark.read.parquet(p).collect()
      .map(r => (r.getAs[String]("part"), r.getAs[Long]("v"))).toSet
    assert(got == Set(("a", 99L), ("b", 10L)))
  }

  test("compact merges a many-small-files dataset, preserving rows") {
    val in = tmpDir() + "/frag.parquet"
    val rows = (1 to 2000).map(i => (i.toLong, s"v$i"))
    // 40 shards of 50 rows — the accreted-small-files shape — in Hive
    // `shard=k` directories, the layout of a cycle of published shards
    rows.grouped(50).zipWithIndex.foreach { case (g, i) =>
      g.toDF("k", "v").coalesce(1).write.mode("append")
        .parquet(f"$in/shard=${i % 4}%03d")
    }
    def parquetFiles(p: String): Int = {
      val fs = new java.io.File(p).listFiles()
      fs.count(_.getName.endsWith(".parquet")) +
        fs.filter(_.isDirectory).map(d => parquetFiles(d.getPath)).sum
    }
    assert(parquetFiles(in) >= 40)
    val out = tmpDir() + "/compact.parquet"
    // 128 MB target → 1 file, in one job: the schema comes from the
    // footers on the driver and coalesce(1) leaves no Exchange
    val (_, jobs) = org.apache.spark.GraftJobProbe.jobs(spark.sparkContext)(
      graft.sources.Writer.compact(spark, in, out))
    assert(jobs == 1)
    assert(parquetFiles(out) == 1)
    val back = spark.read.parquet(out)
    assert(back.schema == spark.read.parquet(in).schema)
    assert(back.columns.toSeq == Seq("k", "v", "shard"))
    val got = back.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(got == rows.zipWithIndex.map { case ((k, v), j) =>
      (k, v, (j / 50) % 4) }.toSet)
  }

  test("compact names a missing or empty input") {
    val dir = tmpDir()
    val missing = intercept[java.io.FileNotFoundException](
      graft.sources.Writer.compact(spark, s"$dir/absent", s"$dir/o1"))
    assert(missing.getMessage.contains(s"$dir/absent"))
    new java.io.File(s"$dir/empty").mkdir()
    val empty = intercept[IllegalArgumentException](
      graft.sources.Writer.compact(spark, s"$dir/empty", s"$dir/o2"))
    assert(empty.getMessage.contains(s"$dir/empty"))
  }

  test("partition-by layout prunes at the scan (PartitionFilters)") {
    val p = tmpDir() + "/part.parquet"
    (1 to 300).map(i => (s"g${i % 3}", i.toLong)).toDF("part", "v")
      .write.partitionBy("part").parquet(p)
    val q = spark.read.parquet(p).where(col("part") === "g1")
    val scan = q.queryExecution.executedPlan.toString
    // the filter must land in PartitionFilters (directory pruning — the
    // 100 TB lever), not survive as a post-scan Filter over all files
    assert(scan.contains("PartitionFilters: [isnotnull(part"), scan.take(900))
    assert(q.count() == 100)
  }

  test("writer overwrite replaces prior data (write.py:52-53 delete-first)") {
    val p = tmpDir() + "/ow.parquet"
    Writer.dfToParquet(Seq((1L, "old")).toDF("k", "v"), p)
    Writer.dfToParquet(Seq((2L, "new")).toDF("k", "v"), p)
    val back = spark.read.parquet(p).collect()
    assert(back.length == 1 && back(0).getString(1) == "new")
  }

  test("bloomFilterCols writes real per-row-group parquet bloom filters") {
    // singleFile = true writes this local relation on the driver; both
    // write paths take the same options
    Seq(false, true).foreach(bloomOnce)
  }

  private def bloomOnce(singleFile: Boolean): Unit = {
    val p = tmpDir("graft_bloomw") + "/t"
    val (_, jobs) = org.apache.spark.GraftJobProbe.jobs(spark.sparkContext)(
      Writer.dfToParquet((1L to 1000L).toDF("k")
        .withColumn("v", org.apache.spark.sql.functions.col("k") * 2),
        p, singleFile = singleFile,
        bloomFilterCols = Seq("k"), bloomFilterNdv = Map("k" -> 1000L)))
    if (singleFile) assert(jobs == 0, "not written on the driver")
    // the sketch must actually be in the file metadata, not just an
    // accepted-and-ignored option
    val file = new java.io.File(p).listFiles
      .find(f => f.getName.endsWith(".parquet")).get
    val in = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.getPath),
        spark.sparkContext.hadoopConfiguration))
    try {
      val cols = in.getFooter.getBlocks.get(0).getColumns
      val k = (0 until cols.size).map(cols.get)
        .find(_.getPath.toDotString == "k").get
      val v = (0 until cols.size).map(cols.get)
        .find(_.getPath.toDotString == "v").get
      assert(k.getBloomFilterOffset >= 0, "no bloom filter on k")
      assert(v.getBloomFilterOffset < 0, "unrequested bloom on v")
    } finally in.close()
    // sized from the declared NDV, not parquet-mr's ~1MB max bitset
    // (measured: an unsized filter costs ~1MB per column per row
    // group; 1000 declared values fit in a few KB)
    assert(file.length < 100 * 1024,
      s"bloom filter not NDV-sized: ${file.length} bytes")
    // and the data reads back intact through an equality lookup
    assert(spark.read.parquet(p)
      .where(org.apache.spark.sql.functions.col("k") === 500L)
      .count() == 1)
    // a misspelled column must fail fast, not silently skip the sketch
    intercept[IllegalArgumentException] {
      Writer.dfToParquet(Seq((1L, 2L)).toDF("k", "v"), p + "_x",
        singleFile = singleFile, bloomFilterCols = Seq("key"))
    }
  }
}
