package graft

import org.apache.spark.sql.functions._

import graft.sources.{Html, Warc}

class WarcSpec extends SparkSpec {
  import spark.implicits._

  private def record(url: String, text: String,
                     version: String = "WARC/1.0"): String =
    version + "\r\n" +
      s"WARC-Type: conversion\r\nWARC-Target-URI: $url\r\n" +
      "WARC-Date: 2024-06-01T12:00:00Z\r\n" +
      s"Content-Length: ${text.getBytes("UTF-8").length}\r\n\r\n" +
      text + "\r\n\r\n"

  private def wetFile(records: Seq[(String, String)],
                      version: String = "WARC/1.0"): String = {
    val f = java.nio.file.Paths.get(tmpDir("graft-wet"), "in.wet")
    java.nio.file.Files.writeString(f,
      records.map { case (u, t) => record(u, t, version) }.mkString)
    f.toString
  }

  test("readWetRecords splits a real WET file into records") {
    val path = wetFile(Seq(
      ("http://a.example/1", "first doc text\nsecond line"),
      ("http://b.example/2", "short"),
      ("http://c.example/3", "third doc")))
    val docs = Warc.wetDocuments(spark, path).orderBy("url").collect()
    assert(docs.length == 3)
    assert(docs.map(_.getString(0)).toSeq == Seq(
      "http://a.example/1", "http://b.example/2", "http://c.example/3"))
    assert(docs(0).getString(3) == "first doc text\nsecond line")
    assert(docs(0).getLong(2) == "first doc text\nsecond line".length)
    assert(docs.forall(_.getString(1) == "2024-06-01T12:00:00Z"))
  }

  test("WARC/1.1 archives split correctly when the version is passed") {
    val path = wetFile(Seq(
      ("http://a.example/1", "one"), ("http://b.example/2", "two")),
      version = "WARC/1.1")
    assert(Warc.wetDocuments(spark, path, "WARC/1.1").count() == 2)
  }

  test("payload blank lines and a bare in-payload version LINE do not " +
      "split or truncate the record") {
    val text = "para one\n\npara two\nWARC/1.0\nnot a new record\n\nend"
    val path = wetFile(Seq(("http://x.example/p", text)))
    val got = Warc.wetDocuments(spark, path).collect()
    assert(got.length == 1)
    assert(got(0).getString(3) == text)
  }

  test("content trailing newlines survive the round trip") {
    val text = "ends with blank lines\n\n"
    val path = wetFile(Seq(("http://t.example/n", text)))
    val got = Warc.wetDocuments(spark, path).collect()(0)
    // only the record terminator is stripped — content bytes intact
    assert(got.getString(3) == text)
  }

  test("corrupt records yield null fields, not a failed scan") {
    val f = java.nio.file.Paths.get(tmpDir("graft-wet"), "in.wet")
    java.nio.file.Files.writeString(f,
      "WARC/1.0\r\ngarbage without headers or blank line")
    val got = Warc.wetDocuments(spark, f.toString).collect()
    assert(got.length == 1)
    assert(got(0).isNullAt(0) && got(0).isNullAt(2))
  }

  test("hostile header values cannot shadow other headers") {
    val f = java.nio.file.Paths.get(tmpDir("graft-wet"), "in.wet")
    java.nio.file.Files.writeString(f,
      "WARC/1.0\r\n" +
        "WARC-Target-URI: http://evil/?x=Content-Length: 0\r\n" +
        "Content-Length: 7\r\n\r\npayload\r\n\r\n")
    val got = Warc.wetDocuments(spark, f.toString).collect()(0)
    assert(got.getString(0) == "http://evil/?x=Content-Length: 0")
    assert(got.getLong(2) == 7L)
    assert(got.getString(3) == "payload")
  }

  test("toWetRecord ∘ parseWet is identity; Content-Length is octets") {
    val docs = Seq((1L, "hello world"), (2L, ""), (3L, "tab\tand space"),
      (4L, "trailing\n\n"), (5L, "中国 bytes"))
      .toDF("id", "text")
    val parsed = Warc.parseWet(docs.select(Warc.toWetRecord(
        concat(lit("u/"), col("id").cast("string")),
        lit("2024-01-01T00:00:00Z"), col("text")).as("record")))
      .orderBy("url").collect()
    assert(parsed.map(_.getString(3)).toSeq ==
      Seq("hello world", "", "tab\tand space", "trailing\n\n",
        "中国 bytes"))
    assert(parsed.map(_.getLong(2)).toSeq ==
      Seq(11L, 0L, 13L, 10L, 12L)) // 中国 = 6 octets + " bytes"
  }

  test("streaming WET ingestion dedups across archive drops") {
    val wetDir = tmpDir("graft-wet-stream")
    val corpus = tmpDir("graft-wet-corpus") + "/c"
    val ckpt = tmpDir("graft-wet-ckpt")
    def drop(name: String, records: Seq[(String, String)]): Unit =
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(wetDir, name),
        records.map { case (u, t) => record(u, t) }.mkString)
    drop("seg1.wet", Seq(("http://a/1", "alpha"), ("http://b/2", "beta")))
    Warc.wetIngest(spark, wetDir, corpus, ckpt).awaitTermination()
    // second drop: one new doc, one exact re-crawl of an ingested one
    drop("seg2.wet", Seq(("http://c/3", "gamma"), ("http://a/1", "alpha")))
    Warc.wetIngest(spark, wetDir, corpus, ckpt).awaitTermination()
    val got = spark.read.parquet(corpus)
      .select("url", "text").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(("http://a/1", "alpha"), ("http://b/2", "beta"),
      ("http://c/3", "gamma")))
  }

  test("record splitting survives many records across input splits") {
    // force multiple Hadoop splits with a small maxPartitionBytes so a
    // delimiter straddles a split boundary somewhere
    val n = 500
    val path = wetFile((0 until n).map(i =>
      (s"http://s.example/$i", s"document number $i " + ("x" * 200))))
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "8192")
      val docs = Warc.wetDocuments(spark, path)
      assert(docs.count() == n)
      assert(docs.where(col("url").isNull).count() == 0)
      val ids = docs.select(
          regexp_extract(col("url"), "/(\\d+)$", 1).cast("int"))
        .as[Int].collect().sorted
      assert(ids.toSeq == (0 until n))
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("streaming full-WARC ingestion dedups re-crawls across shard " +
      "drops and skims past a corrupt shard") {
    val warcDir = tmpDir("graft-warc-stream")
    val corpus = tmpDir("graft-warc-corpus") + "/c"
    val ckpt = tmpDir("graft-warc-ckpt")
    def page(u: String, body: String) =
      (u, "text/html; charset=windows-1252",
        s"<html><body><p>$body</p></body></html>"
          .getBytes("windows-1252"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(warcDir, "seg1.warc.gz"),
      Warc.buildWarc(Seq(page("http://a/1", "alpha café"),
        page("http://b/2", "beta")), gzipped = true))
    Warc.warcIngest(spark, warcDir, corpus, ckpt).awaitTermination()
    // drop 2: one new page, one re-crawl of an ingested URL, plus a
    // corrupt shard that must be skimmed past
    java.nio.file.Files.write(
      java.nio.file.Paths.get(warcDir, "seg2.warc"),
      Warc.buildWarc(Seq(page("http://c/3", "gamma"),
        page("http://a/1", "alpha café")), gzipped = false))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(warcDir, "junk.warc"),
      "definitely not a warc".getBytes)
    val q2 = Warc.warcIngest(spark, warcDir, corpus, ckpt)
    q2.awaitTermination()
    val got = spark.read.parquet(corpus).select("url", "text")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(("http://a/1", "alpha café"), ("http://b/2", "beta"),
      ("http://c/3", "gamma")),
      "windows-1252 decoded, re-crawl deduped, corrupt shard skimmed")
    // the corrupt shard is ACCOUNTED, not silently swallowed: the
    // stream's observed metrics count it out per micro-batch
    val corrupt = q2.recentProgress.toSeq
      .flatMap(p => Option(p.observedMetrics.get("warc_ingest")))
      .map(_.getAs[Long]("corrupt_rows")).sum
    assert(corrupt == 1L, s"junk.warc must count into observed " +
      s"metrics (got $corrupt)")
  }

  // ---- full WARC (response records) ------------------------------

  private def entries(n: Int) = (1 to n).map { i =>
    (s"http://fixture.test/p$i", "text/html; charset=windows-1252",
      s"<html><body><p>page $i café</p></body></html>"
        .getBytes("windows-1252"))
  }

  test(".warc.zst shards round-trip through the zstd magic sniff " +
      "identically to plain") {
    val plain = Warc.buildWarc(entries(2), gzipped = false)
    val zst = graft.sources.Zstd.compress(plain)
    assert((zst(0) & 0xFF) == 0x28 && (zst(1) & 0xFF) == 0xB5)
    def uris(b: Array[Byte]) = Warc.records(
      new java.io.ByteArrayInputStream(b))
      .filter(_.warcType == "response").map(_.targetUri).toVector
    assert(uris(zst) == uris(plain))
  }

  test("plain and gzipped shards parse to the same records; warcinfo " +
      "and request records are walked over, responses split HTTP") {
    for (gz <- Seq(false, true)) {
      val shard = Warc.buildWarc(entries(3), gzipped = gz)
      val recs = Warc.records(
        new java.io.ByteArrayInputStream(shard)).toVector
      assert(recs.length == 7, s"warcinfo + 3 pairs (gz=$gz)")
      val resp = recs.filter(_.warcType == "response")
      assert(resp.length == 3)
      assert(resp.map(_.targetUri) ==
        (1 to 3).map(i => s"http://fixture.test/p$i"))
      resp.foreach { r =>
        assert(r.httpContentType == "text/html; charset=windows-1252")
        // the payload is the html bytes EXACTLY (no HTTP headers left)
        assert(new String(r.payload, "windows-1252").startsWith("<html>"))
      }
      // end-to-end crawl path: transport charset reaches the decoder
      val txt = Html.decodeHtmlBytes(resp(0).payload,
        resp(0).httpContentType)
      assert(txt.contains("page 1 café"))
    }
  }

  test("header folding, LF-only HTTP header termination, and a " +
      "missing Content-Type all parse (crawled servers ship all three)") {
    val body = ("HTTP/1.1 200 OK\n" +
      "Content-Type: text/plain\n\npayload here").getBytes("ISO-8859-1")
    val rec = ("WARC/1.1\r\n" +
      "WARC-Type: response\r\n" +
      "WARC-Target-URI: http://x.test/\r\n" +
      "Content-Type: application/http;\r\n msgtype=response\r\n" + // folded
      s"Content-Length: ${body.length}\r\n\r\n").getBytes("ISO-8859-1") ++
      body ++ "\r\n\r\n".getBytes("ISO-8859-1")
    val r = Warc.records(new java.io.ByteArrayInputStream(rec)).toVector
    assert(r.length == 1)
    assert(r(0).contentType == "application/http; msgtype=response")
    assert(r(0).httpContentType == "text/plain")
    assert(new String(r(0).payload, "ISO-8859-1") == "payload here")
    // no blank line in the HTTP body → header-only record: the
    // Content-Type stays null and the body passes through untouched
    val headerOnly = ("HTTP/1.1 304 Not Modified\r\n")
      .getBytes("ISO-8859-1")
    val rec304 = ("WARC/1.0\r\nWARC-Type: response\r\n" +
      "Content-Type: application/http;msgtype=response\r\n" +
      s"Content-Length: ${headerOnly.length}\r\n\r\n")
      .getBytes("ISO-8859-1") ++ headerOnly ++
      "\r\n\r\n".getBytes("ISO-8859-1")
    val r304 = Warc.records(
      new java.io.ByteArrayInputStream(rec304)).toVector
    assert(r304.length == 1 && r304(0).httpContentType == null)
  }

  test("truncation, lying Content-Length, and garbage are NAMED " +
      "errors, never hangs or OOM") {
    val good = Warc.buildWarc(entries(2), gzipped = false)
    Seq(10, good.length / 3, good.length / 2, good.length - 30).foreach { n =>
      intercept[IllegalArgumentException](
        Warc.records(new java.io.ByteArrayInputStream(good.take(n)))
          .toVector)
    }
    val e = intercept[IllegalArgumentException](Warc.records(
      new java.io.ByteArrayInputStream("not a warc".getBytes)).toVector)
    assert(e.getMessage.contains("version line"))
    // a record claiming a multi-GB body must err on the cap, not
    // allocate
    val lying = ("WARC/1.0\r\nWARC-Type: response\r\n" +
      "Content-Length: 99999999999\r\n\r\n").getBytes("ISO-8859-1")
    val e2 = intercept[IllegalArgumentException](Warc.records(
      new java.io.ByteArrayInputStream(lying)).toVector)
    assert(e2.getMessage.contains("out of bounds"))
  }

  test("a gzip bomb with no newline errs NAMED at the line cap " +
      "instead of accumulating the decompressed stream") {
    val out = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(out)
    val xs = new Array[Byte](1 << 16)
    java.util.Arrays.fill(xs, 'x'.toByte)
    var fed = 0L
    while (fed < (8L << 20)) { gz.write(xs); fed += xs.length }
    gz.close()
    val e = intercept[IllegalArgumentException](Warc.records(
      new java.io.ByteArrayInputStream(out.toByteArray)).toVector)
    assert(e.getMessage.contains("bomb"), e.getMessage)
  }

  test("Spark surface: one task per shard, responses exploded, a " +
      "corrupt shard quarantined per-file") {
    val dir = tmpDir()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "a.warc"),
      Warc.buildWarc(entries(2), gzipped = false))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "b.warc.gz"),
      Warc.buildWarc(entries(1).map { case (u, c, p) =>
        (u.replace("/p1", "/gz1"), c, p) }, gzipped = true))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "corrupt.warc"),
      "WARC/1.0\r\nno colon header\r\n\r\n".getBytes("ISO-8859-1"))
    val out = Warc.responses(spark, dir + "/*").collect()
    val ok = out.filter(_.getString(4) == null)
    val bad = out.filter(_.getString(4) != null)
    assert(ok.length == 3 && bad.length == 1)
    assert(bad(0).getString(0).endsWith("corrupt.warc"))
    assert(bad(0).getString(4).contains("malformed"))
    assert(ok.map(_.getString(1)).toSet ==
      Set("http://fixture.test/p1", "http://fixture.test/p2",
        "http://fixture.test/gz1"))
  }
}
