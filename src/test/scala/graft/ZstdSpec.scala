package graft

import org.apache.spark.sql.types.{LongType, StringType, StructType}

import graft.sources.{Jsonl, Zstd}

/**
 * Pure-Java zstd for text sources: write → read round-trip through
 * the airlift Hadoop codec, extension mapping (`.zst` resolves to the
 * pure-Java codec, no native lib), quarantine behavior preserved
 * through compression, and a byte-level check that the files really
 * are zstd frames (magic 0x28B52FFD little-endian).
 */
class ZstdSpec extends SparkSpec {

  private val schema = new StructType()
    .add("id", LongType).add("text", StringType)

  test("jsonl.zst round-trip: shards carry the zstd frame magic and " +
      "read back exactly, quarantine intact") {
    import spark.implicits._
    val df = (1L to 500L).map(i => (i, s"doc $i body")).toDF("id", "text")
    val dir = tmpDir("zstd")
    Zstd.writeJsonlZst(df, s"$dir/data")
    val files = new java.io.File(s"$dir/data").listFiles
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))
    assert(files.nonEmpty)
    assert(files.forall(_.getName.endsWith(".zst")),
      s"shards must carry the codec's extension: ${files.map(_.getName).toSeq}")
    files.foreach { f =>
      val head = java.nio.file.Files.readAllBytes(f.toPath).take(4)
      assert((head(0) & 0xFF) == 0x28 && (head(1) & 0xFF) == 0xB5 &&
        (head(2) & 0xFF) == 0x2F && (head(3) & 0xFF) == 0xFD,
        s"${f.getName} is not a zstd frame")
    }
    // plant a corrupt COMPRESSED shard alongside: one zstd file whose
    // decompressed payload has a malformed line — quarantine must
    // work through the codec exactly as on plain text
    val corrupt = {
      val out = new java.io.ByteArrayOutputStream()
      val z = new io.airlift.compress.zstd.ZstdOutputStream(out)
      z.write("{broken\n{\"id\": 9999, \"text\": \"ok line\"}\n".getBytes("UTF-8"))
      z.close()
      out.toByteArray
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/data", "corrupt-0.jsonl.zst"), corrupt)
    val back = Zstd.readJsonlZst(spark, s"$dir/data", schema)
    val clean = back.where(org.apache.spark.sql.functions
      .col(Jsonl.CorruptCol).isNull)
    assert(clean.count() == 501) // 500 + the ok line in the corrupt shard
    assert(back.where(org.apache.spark.sql.functions
      .col(Jsonl.CorruptCol).isNotNull).count() == 1)
    val vals = clean.select("id", "text").as[(Long, String)]
      .collect().toMap
    assert(vals(42L) == "doc 42 body" && vals(9999L) == "ok line")
  }

  test("register maps .zst to the PURE-JAVA codec (native-free) and " +
      "plain spark.read.text reads it") {
    import spark.implicits._
    Zstd.register(spark)
    val factory = new org.apache.hadoop.io.compress.CompressionCodecFactory(
      spark.sparkContext.hadoopConfiguration)
    val codec = factory.getCodec(
      new org.apache.hadoop.fs.Path("/x/part-0.jsonl.zst"))
    assert(codec != null, "no codec claimed .zst")
    assert(codec.getClass.getName == Zstd.CodecClass,
      s"native-dependent codec won the extension: ${codec.getClass}")
    // raw text read through the extension map
    val dir = tmpDir("zstdtxt")
    val out = new java.io.ByteArrayOutputStream()
    val z = new io.airlift.compress.zstd.ZstdOutputStream(out)
    z.write("alpha\nbeta\ngamma\n".getBytes("UTF-8"))
    z.close()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "lines.txt.zst"), out.toByteArray)
    val lines = spark.read.text(dir).as[String].collect().sorted.toSeq
    assert(lines == Seq("alpha", "beta", "gamma"))
  }

  test("register is idempotent and keeps the stock codecs registered") {
    Zstd.register(spark)
    Zstd.register(spark)
    val v = spark.sparkContext.hadoopConfiguration
      .get("io.compression.codecs")
    assert(v.split(",").count(_.trim == Zstd.CodecClass) == 1)
    val factory = new org.apache.hadoop.io.compress.CompressionCodecFactory(
      spark.sparkContext.hadoopConfiguration)
    assert(factory.getCodec(
      new org.apache.hadoop.fs.Path("/x/a.gz")) != null, "gzip lost")
    assert(factory.getCodec(
      new org.apache.hadoop.fs.Path("/x/a.bz2")) != null, "bzip2 lost")
  }
}
