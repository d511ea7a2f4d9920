package graft

import graft.sources.{Warc, Wat}

class WatSpec extends SparkSpec {

  private def pages = Seq(
    ("http://a.test/", "Page A",
      Seq(("A@/href", "http://b.test/"), ("IMG@/src", "http://img.test/i.png"))),
    ("http://b.test/", "Page \"B\" — quoted",
      Seq(("A@/href", "http://a.test/"))))

  test("record walk: warcinfo skipped, metadata JSON extracted, " +
      "gzip and plain identical") {
    for (gz <- Seq(false, true)) {
      val recs = Warc.records(new java.io.ByteArrayInputStream(
        Wat.buildWat(pages, gzipped = gz))).toVector
      assert(recs.map(_.warcType) == Vector("warcinfo", "metadata",
        "metadata"))
      val js = new String(recs(1).payload, "UTF-8")
      assert(js.contains("\"Title\":\"Page A\"") &&
        js.contains("http://b.test/"))
    }
  }

  test("links(): envelope subtree parses, extra siblings pruned, " +
      "escaped title round-trips, one edge row per link") {
    import spark.implicits._
    val metas = Warc.records(new java.io.ByteArrayInputStream(
      Wat.buildWat(pages)))
      .filter(_.warcType == "metadata")
      .map(r => (r.targetUri, new String(r.payload, "UTF-8"),
        null: String))
      .toSeq.toDF("target_uri", "json", "wat_error")
    val edges = Wat.links(metas).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3))).sortBy(_.toString)
    assert(edges.toSeq == Seq(
      ("http://a.test/", "Page A", "A@/href", "http://b.test/"),
      ("http://a.test/", "Page A", "IMG@/src", "http://img.test/i.png"),
      ("http://b.test/", "Page \"B\" — quoted", "A@/href",
        "http://a.test/")).sortBy(_.toString))
  }

  test("links(): malformed JSON and non-HTML envelopes contribute " +
      "no rows (documented drop, not an error)") {
    import spark.implicits._
    val metas = Seq(
      ("http://bad.test/", "{not json", null: String),
      ("http://req.test/",
        """{"Envelope":{"Payload-Metadata":{
          "Actual-Content-Type":"application/http"}}}""",
        null: String)).toDF("target_uri", "json", "wat_error")
    assert(Wat.links(metas).count() == 0)
  }

  test("Spark surface: shards explode to edges, a corrupt shard " +
      "quarantines per-file at the record layer") {
    val dir = tmpDir("graft-wat")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "s0.wat.gz"),
      Wat.buildWat(pages, gzipped = true))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "junk.wat.gz"),
      "definitely not warc".getBytes)
    val meta = Wat.metadataJson(spark, s"$dir/*.wat.gz")
    val errs = meta.where("wat_error is not null").collect()
    assert(errs.length == 1 &&
      errs(0).getString(0).endsWith("junk.wat.gz"))
    assert(Wat.links(meta).count() == 3)
  }
}
