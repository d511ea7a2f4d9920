package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}

import graft.sources.Csv

/** CSV edge-format contract: RFC 4180 quoting round-trip of hostile
  * text, the `\N` null convention (null vs "" BOTH survive), corrupt
  * quarantine being relative to referenced columns (the csv parser's
  * selective conversion), and token-count drift quarantining under
  * the full schema (Spark 4 semantics, documented on Csv.read). */
class CsvSpec extends SparkSpec {
  import spark.implicits._

  private val schema = new StructType()
    .add("id", LongType).add("text", StringType)

  private def tmp(): String =
    new java.io.File(tmpDir(), "data").toString

  test("round-trips commas, doubled quotes, embedded CRLF/newlines") {
    val rows = Seq((1L, "a,b,c"), (2L, "say \"hi\" and \"\"bye\"\""),
      (3L, "line1\nline2\r\nline3"), (4L, "emoji 😀 中文"),
      (5L, "trailing space "), (6L, ",\",\n\"mix"))
    val path = tmp()
    Csv.write(rows.toDF("id", "text"), path)
    val back = Csv.readClean(spark, path, schema)
      .as[(Long, String)].collect().toSet
    assert(back == rows.toSet)
  }

  test("null and empty string BOTH survive the trip, distinctly") {
    val rows = Seq((1L, null), (2L, ""), (3L, "x"))
    val path = tmp()
    Csv.write(rows.toDF("id", "text"), path)
    val back = Csv.readClean(spark, path, schema)
      .as[(Long, String)].collect().toMap
    assert(back(1L) == null, "null must stay null (written as \\N)")
    assert(back(2L) == "", "empty string must stay \"\" (written quoted)")
    assert(back(3L) == "x")
  }

  test("the \\N convention's documented corner: a literal \\N string reads back null") {
    val path = tmp()
    Csv.write(Seq((1L, "\\N")).toDF("id", "text"), path)
    val back = Csv.readClean(spark, path, schema)
      .as[(Long, String)].collect().toMap
    assert(back(1L) == null)
  }

  test("type mismatches AND token-count drift quarantine under the full schema") {
    val path = tmp()
    Csv.write(Seq((1L, "good")).toDF("id", "text"), path)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path, "hostile.csv"),
      ("id,text\n" +
        "notanumber,oops\n" + // type mismatch -> corrupt
        "2,short\n" + // clean
        "3\n" + // fewer tokens than referenced width -> corrupt
        "4,a,b,c\n").getBytes("UTF-8")) // extra tokens -> corrupt
    val stats = Csv.quarantineStats(spark, path, schema)
      .as[(Long, Long)].head()
    assert(stats == ((2L, 3L)),
      s"expected 2 valid + 3 corrupt, got $stats")
    // data columns ride along: a corrupt-column-only projection is
    // rejected outright (QUERY_ONLY_CORRUPT_RECORD_COLUMN)
    val corrupt = Csv.read(spark, path, schema)
      .where(col(Csv.CorruptCol).isNotNull)
      .select(col("id"), col("text"), col(Csv.CorruptCol))
      .collect().map(_.getString(2)).toSet
    assert(corrupt == Set("notanumber,oops", "3", "4,a,b,c"),
      "every corrupt row keeps its raw text")
  }

  test("property: arbitrary valid-UTF-8 text round-trips (\\N corner mapped)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // valid UTF-8 only: lone surrogates can't survive the file's
    // UTF-8 encode (they become U+FFFD — an encoding fact, not a CSV
    // dialect property)
    val utf8Text = Gen.listOf(Gen.oneOf(
      Gen.choose(0.toChar, 0xD7FF.toChar),
      Gen.oneOf('"', ',', '\n', '\r', '\\', 'N', ' ', '\t', '\u0000'),
      Gen.choose(0xE000.toChar, 0xFFFD.toChar))).map(_.mkString)
    val prop = Prop.forAll(Gen.listOfN(5, utf8Text)) { texts =>
      val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val path = tmp()
      Csv.write(rows.toDF("id", "text"), path)
      val back = Csv.readClean(spark, path, schema)
        .as[(Long, String)].collect().toMap
      rows.forall { case (id, t) =>
        val expected = if (t == "\\N") null else t
        val ok = back.get(id).map(Option(_)) == Some(Option(expected))
        if (!ok) println(s"CSVPROP MISMATCH id=$id expected=[" +
          t.map(c => f"\\u${c.toInt}%04x").mkString + "] got=" +
          back.get(id).map(v => Option(v).map(
            _.map(c => f"\\u${c.toInt}%04x").mkString)))
        ok
      }
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }

  test("readStream ingests CSV drops with the same quarantine contract") {
    val dir = new java.io.File(tmpDir())
    val data = new java.io.File(dir, "in"); data.mkdirs()
    val ckpt = new java.io.File(dir, "ckpt").toString
    def drop(name: String, content: String): Unit =
      java.nio.file.Files.write(
        new java.io.File(data, name).toPath, content.getBytes("UTF-8"))
    drop("d0.csv", "id,text\n1,\"a,\"\"quoted\"\"\nline\"\nbad,oops\n")
    val q = Csv.readStream(spark, data.toString, schema)
      .writeStream.outputMode("append").format("memory")
      .queryName("csv_stream")
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      drop("d1.csv", "id,text\n2,b\n")
      q.processAllAvailable()
      val rows = spark.table("csv_stream")
        .select(col("id"), col("text"),
          col(Csv.CorruptCol).isNotNull.as("bad"))
        .collect().map(r => (if (r.isNullAt(0)) -1L else r.getLong(0),
          r.getString(1), r.getBoolean(2))).toSet
      assert(rows == Set((1L, "a,\"quoted\"\nline", false),
        (2L, "b", false), (-1L, "oops", true)))
    } finally q.stop()
  }

  test("quarantine is relative to REFERENCED columns (selective conversion, pinned)") {
    val path = tmp()
    Csv.write(Seq((1L, "good")).toDF("id", "text"), path)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path, "hostile.csv"),
      "id,text\nnotanumber,oops\n".getBytes("UTF-8"))
    // a plan touching only `text` never converts `id`, so the bad row
    // does NOT quarantine there — this is the behavior quarantineStats
    // exists to circumvent (it anchors every column)
    val textOnly = Csv.read(spark, path, schema)
      .where(col(Csv.CorruptCol).isNull)
      .select(col("text")).as[String].collect().toSet
    assert(textOnly == Set("good", "oops"),
      "selective conversion admits the row when id is unreferenced")
    val full = Csv.readClean(spark, path, schema)
      .as[(Long, String)].collect().toSet
    assert(full == Set((1L, "good")),
      "full-width reads quarantine it")
  }
}
