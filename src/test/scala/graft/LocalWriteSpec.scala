package graft

import java.io.File

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.{GraftJobProbe, SparkThrowable}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.GraftLocalWrite
import org.apache.spark.sql.types.{LongType, StructType}

import graft.functions.Naming
import graft.sources.{Transport, Writer}

/**
 * The driver write of a local relation (`Writer.dfToParquet` with
 * `singleFile`, through `GraftLocalWrite`) against Spark's own write of
 * the same DataFrame (`coalesce(1).write`): same schema, rows, codec,
 * footer metadata and file set, the same error conditions, and no job.
 */
class LocalWriteSpec extends SparkSpec {

  private def arrow(sql: String): DataFrame =
    Transport.deserializeArrowBytes(spark,
      Transport.serializeArrowBytes(spark.sql(sql)))

  /** Every type Transport ships, with nulls in each column. */
  private lazy val typed = arrow("""
    SELECT * FROM VALUES
      (1L, 'a', 1.5D, CAST(12.34 AS DECIMAL(10, 2)), DATE'2024-02-29',
       TIMESTAMP'2024-03-01 12:34:56.123456',
       TIMESTAMP_NTZ'2024-03-01 01:02:03', array(1, 2, NULL),
       map('x', 1L, 'y', NULL), named_struct('p', 1, 'q', 'r'), true),
      (2L, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL),
      (3L, '', -0.0D, CAST(-99999999.99 AS DECIMAL(10, 2)),
       DATE'1900-01-01', TIMESTAMP'1969-12-31 23:59:59',
       TIMESTAMP_NTZ'2100-01-01 00:00:00', array(), map(),
       named_struct('p', NULL, 'q', NULL), false)
    AS t(id, s, d, dec, dt, ts, ntz, arr, m, st, b)""")

  private def inputs: Seq[(String, DataFrame)] = Seq(
    "typed" -> typed,
    "empty" -> typed.limit(0).transform(df =>
      Transport.deserializeArrowBytes(spark,
        Transport.serializeArrowBytes(df))),
    "renamed" -> Naming.dfToNaturalName(
      arrow("SELECT 1L AS `a-31`, 2.5D AS `m-1`, 'x' AS g")),
    // Spark 4.1 writes a void column; so does the driver
    "void" -> arrow("SELECT 1L AS k, NULL AS v"))

  private def viaDriver(df: DataFrame, p: String,
                        overwrite: Boolean = true): Int =
    GraftJobProbe.jobs(spark.sparkContext)(
      Writer.dfToParquet(df, p, overwrite = overwrite, singleFile = true))._2

  private def viaSpark(df: DataFrame, p: String,
                       overwrite: Boolean = true): Unit =
    df.coalesce(1).write
      .mode(if (overwrite) "overwrite" else "errorifexists")
      .option("compression", "zstd").parquet(p)

  private def names(p: String): Set[String] =
    new File(p).list().toSet.map((n: String) =>
      n.replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "<uuid>"))

  private def dataFile(p: String): Path = new Path(new File(p).listFiles()
    .find(f => f.getName.startsWith("part-")).get.getPath)

  /** The footer's key-value metadata and each column chunk's codec. */
  private def footer(p: String)
      : (Map[String, String], Seq[CompressionCodecName]) = {
    val in = ParquetFileReader.open(HadoopInputFile.fromPath(dataFile(p),
      spark.sparkContext.hadoopConfiguration))
    try {
      val f = in.getFooter
      (f.getFileMetaData.getKeyValueMetaData.asScala.toMap,
        f.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala.map(_.getCodec)))
    } finally in.close()
  }

  private def condition(what: String)(body: => Unit): String =
    Try(body).failed.toOption match {
      case Some(e: SparkThrowable) => e.getCondition
      case other => fail(s"$what: not a Spark error condition: $other")
    }

  test("the driver write equals Spark's write and runs no job") {
    inputs.foreach { case (name, df) =>
      val dir = tmpDir()
      val (mine, theirs) = (s"$dir/driver", s"$dir/spark")
      assert(viaDriver(df, mine) == 0, name)
      viaSpark(df, theirs)
      val (a, b) = (spark.read.parquet(mine), spark.read.parquet(theirs))
      assert(a.schema == b.schema, name)
      assert(a.collect().toSeq == b.collect().toSeq, name)
      assert(a.count() == df.count(), name)
      assert(names(mine) == names(theirs), name)
      assert(names(mine) == Set("part-00000-<uuid>-c000.zstd.parquet",
        ".part-00000-<uuid>-c000.zstd.parquet.crc", "_SUCCESS",
        "._SUCCESS.crc"), name)
      val ((kvA, codecsA), (kvB, codecsB)) = (footer(mine), footer(theirs))
      assert(kvA == kvB, name)
      assert((codecsA ++ codecsB).forall(_ == CompressionCodecName.ZSTD),
        s"$name: $codecsA $codecsB")
      if (name != "empty") assert(codecsA.nonEmpty, name)
    }
  }

  test("the driver write fails with Spark's error conditions") {
    val dir = tmpDir()
    val one = arrow("SELECT 1L AS k")
    def fresh(sql: String) = (arrow(sql), (_: String) => (), true)
    Seq(
      "an existing path without overwrite" ->
        ((one, (p: String) => viaSpark(one, p), false)),
      // Arrow carries duplicate top-level names; the session is
      // case-insensitive
      "duplicate top-level names" -> fresh("SELECT 1L AS k, 2L AS K"),
      "an interval column" ->
        fresh("SELECT 1L AS k, make_interval(1, 2, 0, 3) AS iv"),
      "an empty struct column" -> fresh("SELECT named_struct() AS e")
    ).zipWithIndex.foreach { case ((what, (df, prepare, overwrite)), i) =>
      val (mine, theirs) = (s"$dir/d$i", s"$dir/s$i")
      prepare(mine); prepare(theirs)
      val expected =
        condition(s"$what, Spark")(viaSpark(df, theirs, overwrite))
      val (got, jobs) = GraftJobProbe.jobs(spark.sparkContext)(
        condition(s"$what, driver")(Writer.dfToParquet(df, mine,
          overwrite = overwrite, singleFile = true)))
      assert(got == expected, what)
      assert(jobs == 0, what)
    }
  }

  test("an overwrite refreshes a cached read of the path") {
    val p = tmpDir() + "/cached"
    viaDriver(arrow("SELECT 1L AS k"), p)
    val cached = spark.read.parquet(p).cache()
    try {
      assert(cached.collect().map(_.getLong(0)).toSeq == Seq(1L))
      viaDriver(arrow("SELECT 2L AS k UNION ALL SELECT 3L"), p)
      assert(spark.read.parquet(p).collect().map(_.getLong(0)).sorted
        .toSeq == Seq(2L, 3L))
    } finally cached.unpersist()
  }

  test("a write that throws partway leaves no file a reader lists") {
    val p = tmpDir() + "/partial"
    val rows = Iterator.range(0, 1000).map { i =>
      if (i == 500) throw new IllegalStateException("boom")
      InternalRow(i.toLong)
    }
    val e = intercept[IllegalStateException](GraftLocalWrite.write(spark,
      new StructType().add("k", LongType), rows, p, overwrite = true,
      Map("compression" -> "zstd")))
    assert(e.getMessage == "boom")
    val left = Option(new File(p).list()).toSeq.flatten
    assert(!left.exists(n => n.startsWith("part-") ||
      n.startsWith("_temporary")), left)
  }
}
