package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}

import graft.sources.Jsonl

/** JSONL edge-format contract: lossless round-trip of hostile text,
  * explicit-schema reads, corrupt-line quarantine (bad JSON and
  * type-mismatched values both), and the accounting frame. */
class JsonlSpec extends SparkSpec {
  import spark.implicits._

  private val schema = new StructType()
    .add("id", LongType).add("text", StringType)

  private def tmp(): String =
    new java.io.File(tmpDir(), "data").toString

  test("round-trips text with newlines, quotes, unicode, and tabs") {
    val rows = Seq((1L, "line1\nline2"), (2L, "he said \"hi\""),
      (3L, "emoji 😀 中文 Ġ"), (4L, "tab\tand\\backslash"),
      (5L, ""))
    val path = tmp()
    Jsonl.write(rows.toDF("id", "text"), path)
    val back = Jsonl.readClean(spark, path, schema)
      .as[(Long, String)].collect().toSet
    assert(back == rows.toSet)
  }

  test("corrupt lines are quarantined with their raw text, not dropped") {
    val path = tmp()
    Jsonl.write(Seq((1L, "good")).toDF("id", "text"), path)
    // hostile vendor shard: broken JSON + a type-mismatched field;
    // whitespace-ONLY padding lines (tab/space) must be skipped like
    // the json source does, not counted as corrupt
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path, "corrupt-0.json"),
      "{broken\n\t\n   \n{\"id\": \"notanumber\", \"text\": \"x\"}\n"
        .getBytes("UTF-8"))
    val all = Jsonl.read(spark, path, schema)
    val corrupt = all.where(col(Jsonl.CorruptCol).isNotNull)
      .select(col(Jsonl.CorruptCol)).as[String].collect().toSet
    assert(corrupt == Set("{broken",
      "{\"id\": \"notanumber\", \"text\": \"x\"}"))
    assert(Jsonl.readClean(spark, path, schema)
      .as[(Long, String)].collect().toSeq == Seq((1L, "good")))
    val stats = Jsonl.quarantineStats(spark, path, schema)
      .as[(Long, Long)].collect().head
    assert(stats == ((1L, 2L)))
  }

  test("readStream ingests JSONL drops with the same quarantine contract") {
    val dir = new java.io.File(tmpDir())
    val data = new java.io.File(dir, "in"); data.mkdirs()
    val ckpt = new java.io.File(dir, "ckpt").toString
    def drop(name: String, content: String): Unit =
      java.nio.file.Files.write(
        new java.io.File(data, name).toPath, content.getBytes("UTF-8"))
    drop("d0.jsonl", "{\"id\": 1, \"text\": \"a\"}\n{broken\n")
    val q = Jsonl.readStream(spark, data.toString, schema)
      .writeStream.outputMode("append").format("memory")
      .queryName("jsonl_stream")
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      // a corrupt line in a drop must not kill the stream, and must
      // stay accountable in the sink
      drop("d1.jsonl", "{\"id\": 2, \"text\": \"b\"}\n")
      q.processAllAvailable()
      val rows = spark.table("jsonl_stream")
        .select(col("id"), col("text"),
          col(Jsonl.CorruptCol).isNotNull.as("bad"))
        .collect().map(r => (if (r.isNullAt(0)) -1L else r.getLong(0),
          r.getBoolean(2))).toSet
      assert(rows == Set((1L, false), (2L, false), (-1L, true)))
    } finally q.stop()
  }

  test("declared schema must not claim the corrupt column") {
    intercept[IllegalArgumentException] {
      Jsonl.read(spark, "/nonexistent",
        schema.add(Jsonl.CorruptCol, StringType))
    }
  }

  test("maxRecordsPerFile bounds shard size") {
    val path = tmp()
    Jsonl.write((1L to 10L).toDF("id")
      .withColumn("text", lit("x")), path, maxRecordsPerFile = 3)
    val parts = new java.io.File(path).listFiles
      .count(f => f.getName.startsWith("part-"))
    assert(parts >= 4) // ceil(10/3) data files at minimum
  }
}
