package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.time.LocalDateTime

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector._
import org.apache.arrow.vector.ipc.{ArrowStreamReader, ArrowStreamWriter}
import org.apache.arrow.vector.types.pojo.ArrowType
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, struct}
import org.apache.spark.sql.types._

import graft.sources.Transport

/** Top-level so Spark can derive an Encoder (inner classes cannot). */
case class TransportRow(i: Long, d: Double, s: String, b: Boolean)

class TransportSpec extends SparkSpec {
  import spark.implicits._

  private type T = TransportRow
  private val T = TransportRow

  private def roundTrip(df: DataFrame): DataFrame =
    Transport.deserializeArrowBytes(spark, Transport.serializeArrowBytes(df))

  /** Rows as a sorted multiset, for results with repeated rows. */
  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toString).sorted

  /** A stream written by Arrow Java itself over `vs`: one record batch
    * per `fill`, which sets the values and returns the row count. The
    * vectors are closed after writing. */
  private def plainStream(vs: FieldVector*)(fills: (() => Int)*)
      : Array[Byte] = {
    val root = VectorSchemaRoot.of(vs: _*)
    try {
      val out = new ByteArrayOutputStream()
      val w = new ArrowStreamWriter(root, null, out)
      w.start()
      fills.foreach { fill =>
        vs.foreach(_.allocateNew())
        root.setRowCount(fill())
        w.writeBatch()
      }
      w.end(); w.close()
      out.toByteArray
    } finally root.close()
  }

  private def withAllocator[A](body: RootAllocator => A): A = {
    val alloc = new RootAllocator()
    try body(alloc) finally alloc.close()
  }

  test("arrow IPC bytes round-trip preserves schema and values") {
    val df = Seq(T(1L, 1.5, "x", true), T(2L, -2.25, "héllo", false)).toDF()
    val back = Transport.deserializeArrowBytes(spark,
      Transport.serializeArrowBytes(df))
    assert(back.schema == df.schema)
    assert(back.collect().toSet == df.collect().toSet)
  }

  test("round-trip preserves nulls") {
    val df = Seq((Some(1L), Option.empty[Double], Some("a")),
      (None, Some(2.5), None))
      .toDF("i", "d", "s")
    val back = Transport.deserializeArrowBytes(spark,
      Transport.serializeArrowBytes(df))
    assert(back.collect().toSet == df.collect().toSet)
  }

  test("base64 round-trip (transport.py:47-75 parity)") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val s = Transport.serializeArrowBase64(df)
    assert(s.matches("[A-Za-z0-9+/=]+")) // text-protocol safe
    val back = Transport.deserializeArrowBase64(spark, s)
    assert(back.collect().toSet == df.collect().toSet)
  }

  test("aggregation result round-trips (the reference's actual use)") {
    val df = AggregateEngine.aggregatePq(spark,
      "/root/testdata/sf0.001/lineitem.parquet",
      Seq("l_returnflag"), Seq(Seq("l_quantity", "sum", "s")))
    val back = Transport.deserializeArrowBytes(spark,
      Transport.serializeArrowBytes(df))
    assert(back.collect().toSet == df.collect().toSet)
  }

  test("date and timestamp columns round-trip") {
    val df = Seq(
      (java.sql.Date.valueOf("2024-03-01"),
        java.sql.Timestamp.valueOf("2024-03-01 12:34:56.789"),
        LocalDateTime.parse("2024-03-01T12:34:56.789")),
      (java.sql.Date.valueOf("1999-12-31"),
        java.sql.Timestamp.valueOf("1999-12-31 23:59:59.999999"),
        LocalDateTime.parse("1969-12-31T23:59:59.999999")))
      .toDF("d", "ts", "ntz")
    assert(df.schema("ntz").dataType == TimestampNTZType)
    val back = Transport.deserializeArrowBytes(spark,
      Transport.serializeArrowBytes(df))
    assert(back.schema == df.schema)
    assert(back.collect().toSet == df.collect().toSet)
  }

  test("embedding (array<float>) result round-trips — generic-table parity") {
    // the reference transport ships ANY pa.Table (transport.py:12-39);
    // list columns (the embeddings shape) must survive the IPC edge
    val df = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding").limit(8)
    val back = Transport.deserializeArrowBytes(spark,
      Transport.serializeArrowBytes(df))
    assert(back.schema == df.schema)
    val exp = df.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val got = back.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(got == exp)
  }

  test("array<double>, null arrays, and decimal columns round-trip") {
    val df = Seq(
      (1L, Option(Seq(1.0, -2.5, 0.125)), BigDecimal("12.34")),
      (2L, Option.empty[Seq[Double]], BigDecimal("-0.07")))
      .toDF("k", "v", "d")
    val back = Transport.deserializeArrowBytes(spark,
      Transport.serializeArrowBytes(df))
    assert(back.schema == df.schema)
    assert(back.collect().toSet == df.collect().toSet)
  }

  test("empty result round-trips") {
    val df = Seq((1L, "a")).toDF("k", "v").where("k > 5")
    val bytes = Transport.serializeArrowBytes(df)
    val back = Transport.deserializeArrowBytes(spark, bytes)
    assert(back.count() == 0)
    assert(back.schema == df.schema)
    // a plain Arrow reader sees the schema and no rows
    withAllocator { alloc =>
      val r = new ArrowStreamReader(new ByteArrayInputStream(bytes), alloc)
      try {
        assert(r.getVectorSchemaRoot.getSchema.getFields.asScala
          .map(f => f.getName -> f.getType).toSeq == Seq(
            "k" -> new ArrowType.Int(64, true), "v" -> ArrowType.Utf8.INSTANCE))
        var n = 0
        while (r.loadNextBatch()) n += r.getVectorSchemaRoot.getRowCount
        assert(n == 0)
      } finally r.close()
    }
  }

  test("timestamp_ntz result of selectPq round-trips") {
    // the test data's timestamps are Parquet isAdjustedToUTC=false,
    // which Spark reads as timestamp_ntz
    val df = AggregateEngine.selectPq(spark,
      "/root/testdata/sf0.01/lineitem.parquet", Seq("l_orderkey", "l_shipdate"))
    assert(df.schema("l_shipdate").dataType == TimestampNTZType)
    val back = roundTrip(df)
    assert(back.schema == df.schema)
    assert(rows(back) == rows(df))
  }

  test("a zone-less Arrow timestamp column with a null decodes as timestamp_ntz") {
    // pyarrow's default for naive Python datetimes: timestamp[us], no zone
    val bytes = withAllocator { alloc =>
      val ts = new TimeStampMicroVector("ts", alloc)
      plainStream(ts) { () =>
        ts.setSafe(0, 1700000000123456L); ts.setNull(1); ts.setSafe(2, -1L)
        3
      }
    }
    val back = Transport.deserializeArrowBytes(spark, bytes)
    assert(back.schema == StructType(Seq(StructField("ts", TimestampNTZType))))
    assert(back.collect().toSeq == Seq(
      Row(LocalDateTime.parse("2023-11-14T22:13:20.123456")), Row(null),
      Row(LocalDateTime.parse("1969-12-31T23:59:59.999999"))))
  }

  test("a plain-Arrow batch in the publish shape decodes to the same rows") {
    // f0 string, f1..f3 float8/int64/int32, f4 float8 with nulls, f5
    // int64, and the hyphenated `f-6` int32
    val n = 20
    val expected = (0 until n).map { i =>
      Row(Seq("a", "b", "c", "d", "e")(i % 5), 1.1 + i, i.toLong, i % 3,
        if (i % 5 == 4) null else i * 0.25, -i.toLong, i - 10)
    }
    val encoded = java.util.Base64.getEncoder.encodeToString(
      withAllocator { alloc =>
        val f0 = new VarCharVector("f0", alloc)
        val f1 = new Float8Vector("f1", alloc)
        val f2 = new BigIntVector("f2", alloc)
        val f3 = new IntVector("f3", alloc)
        val f4 = new Float8Vector("f4", alloc)
        val f5 = new BigIntVector("f5", alloc)
        val f6 = new IntVector("f-6", alloc)
        plainStream(f0, f1, f2, f3, f4, f5, f6) { () =>
          expected.zipWithIndex.foreach { case (r, i) =>
            f0.setSafe(i, r.getString(0).getBytes("UTF-8"))
            f1.setSafe(i, r.getDouble(1)); f2.setSafe(i, r.getLong(2))
            f3.setSafe(i, r.getInt(3))
            if (r.isNullAt(4)) f4.setNull(i) else f4.setSafe(i, r.getDouble(4))
            f5.setSafe(i, r.getLong(5)); f6.setSafe(i, r.getInt(6))
          }
          n
        }
      })
    val back = Transport.deserializeArrowBase64(spark, encoded)
    assert(back.schema == StructType(Seq(
      "f0" -> StringType, "f1" -> DoubleType, "f2" -> LongType,
      "f3" -> IntegerType, "f4" -> DoubleType, "f5" -> LongType,
      "f-6" -> IntegerType).map { case (c, t) => StructField(c, t) }))
    assert(back.collect().toSeq == expected)
  }

  test("a two-batch stream decodes to all rows") {
    val bytes = withAllocator { alloc =>
      val k = new BigIntVector("k", alloc)
      val v = new VarCharVector("v", alloc)
      plainStream(k, v)(
        () => { k.setSafe(0, 1L); v.setSafe(0, "a".getBytes("UTF-8")); 1 },
        () => {
          k.setSafe(0, 2L); v.setNull(0)
          k.setSafe(1, 3L); v.setSafe(1, "c".getBytes("UTF-8"))
          2
        })
    }
    assert(Transport.deserializeArrowBytes(spark, bytes).collect().toSeq ==
      Seq(Row(1L, "a"), Row(2L, null), Row(3L, "c")))
  }

  test("hyphenated and duplicate column names round-trip") {
    val df = spark.sql("SELECT 1L AS `f-6`, 2L AS k, 'x' AS k")
    val back = roundTrip(df)
    assert(back.columns.toSeq == Seq("f-6", "k", "k"))
    assert(back.collect().toSeq == Seq(Row(1L, 2L, "x")))
    // inside a struct they are an error, raised before any job runs
    val nested = spark.range(3).select(
      struct(col("id").as("a"), col("id").as("a")).as("s"))
    val (res, jobs) = org.apache.spark.GraftJobProbe.jobs(
      spark.sparkContext)(Try(Transport.serializeArrowBytes(nested)))
    assert(res.failed.get.getMessage
      .contains("DUPLICATED_FIELD_NAME_IN_ARROW_STRUCT"))
    assert(jobs == 0)
  }

  test("map and struct columns round-trip") {
    val df = spark.sql("""
      SELECT 1L AS k, map('a', 1, 'b', 2) AS m,
             named_struct('x', 1.5D, 'y', 'z') AS s
      UNION ALL
      SELECT 2L, CAST(NULL AS MAP<STRING, INT>),
             CAST(NULL AS STRUCT<x: DOUBLE, y: STRING>)""")
    val back = roundTrip(df)
    assert(back.schema == df.schema)
    assert(rows(back) == rows(df))
  }
}

