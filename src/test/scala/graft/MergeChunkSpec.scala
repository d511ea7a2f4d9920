package graft

import graft.functions.TextAnalysis
import graft.operators.{Dedup, Merge}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}

/** Round-7 operators: token chunking, CDC merge, schema-evolution
  * union, multi-benchmark contamination. */
class MergeChunkSpec extends SparkSpec {
  import spark.implicits._

  // ---- chunkByTokens ------------------------------------------------------

  test("chunkByTokens covers every token with the declared windows") {
    val docs = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 tokens
      (2L, "a b c"),                                  // shorter than size
      (3L, ""), (4L, "   ")                           // no chunks
    ).toDF("doc_id", "text")
    val got = TextAnalysis.chunkByTokens(docs, "text",
        chunkSize = 4, stride = 3)
      .orderBy("doc_id", "chunk_idx")
      .select("doc_id", "chunk_idx", "chunk_start", "chunk_tokens",
        "chunk_text")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getInt(3), r.getString(4)))
    // doc 1: n=10, size=4, stride=3 -> 1 + ceil(6/3) = 3 chunks
    assert(got.toSeq == Seq(
      (1L, 0, 0, 4, "w1 w2 w3 w4"),
      (1L, 1, 3, 4, "w4 w5 w6 w7"),
      (1L, 2, 6, 4, "w7 w8 w9 w10"),
      (2L, 0, 0, 3, "a b c")))
  }

  test("chunkByTokens disjoint windows when stride == size") {
    val docs = Seq((1L, (1 to 7).map(_.toString).mkString(" ")))
      .toDF("doc_id", "text")
    val got = TextAnalysis.chunkByTokens(docs, "text", 3, 3)
      .orderBy("chunk_idx")
      .collect().map(r => (r.getAs[Int]("chunk_idx"),
        r.getAs[Int]("chunk_tokens"), r.getAs[String]("chunk_text")))
    assert(got.toSeq == Seq((0, 3, "1 2 3"), (1, 3, "4 5 6"), (2, 1, "7")))
  }

  test("chunkByTokens covers [0, n) exactly for a grid of doc lengths") {
    val docs = (1 to 40).map(n =>
      (n.toLong, (0 until n).map(i => s"t$i").mkString(" ")))
      .toDF("doc_id", "text")
    val chunks = TextAnalysis.chunkByTokens(docs, "text",
        chunkSize = 7, stride = 5)
      .select("doc_id", "chunk_idx", "chunk_start", "chunk_tokens",
        "chunk_text")
      .collect()
      .groupBy(_.getLong(0)).view.mapValues(_.sortBy(_.getInt(1))).toMap
    (1 to 40).foreach { n =>
      val cs = chunks(n.toLong)
      // chunk_idx dense from 0; starts advance by stride; windows
      // within bounds; the final window reaches exactly token n
      cs.zipWithIndex.foreach { case (r, i) =>
        assert(r.getInt(1) == i && r.getInt(2) == i * 5)
        val ct = r.getInt(3)
        assert(ct >= 1 && ct <= 7 && r.getInt(2) + ct <= n)
        assert(r.getString(4) ==
          (r.getInt(2) until r.getInt(2) + ct).map(i => s"t$i")
            .mkString(" "))
      }
      assert(cs.last.getInt(2) + cs.last.getInt(3) == n, s"n=$n tail gap")
      // no chunk starts at-or-past the end
      assert(cs.last.getInt(2) < n)
    }
  }

  test("chunkByTokens keeps all input columns and rejects bad params") {
    val docs = Seq((1L, "x y", "keep")).toDF("doc_id", "text", "extra")
    val got = TextAnalysis.chunkByTokens(docs, "text", 5, 5)
    assert(got.columns.toSeq == Seq("doc_id", "text", "extra",
      "chunk_idx", "chunk_start", "chunk_tokens", "chunk_text"))
    assert(got.select("extra").head.getString(0) == "keep")
    intercept[IllegalArgumentException] {
      TextAnalysis.chunkByTokens(docs, "text", 0, 1)
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.chunkByTokens(docs, "text", 4, 0)
    }
  }

  // ---- extractHtmlText ---------------------------------------------------

  test("extractHtmlText strips script/style/comments, keeps block text") {
    val html = """<html><head><style>p { color: red }</style>
      |<script type="text/javascript">if (1 < 2) { alert("x"); }</script>
      |</head><body><h1>Title</h1><p>First  para.</p>
      |<!-- secret --><div>Second &amp; third &lt;part&gt;.</div>
      |<ul><li>item one</li><li>item two</li></ul></body></html>"""
      .stripMargin
    val got = Seq(html).toDF("h")
      .select(TextAnalysis.extractHtmlText(col("h")).as("t"))
      .head.getString(0)
    assert(got == "Title\nFirst para.\nSecond & third <part>.\n" +
      "item one\nitem two", s"got: [$got]")
  }

  test("extractHtmlText decodes &amp; last; plain text passes through") {
    val got = Seq("&amp;lt; stays &quot;quoted&quot; &#39;q&#39;")
      .toDF("h")
      .select(TextAnalysis.extractHtmlText(col("h")).as("t"))
      .head.getString(0)
    // &amp;lt; must become the TEXT "&lt;", not "<"
    assert(got == "&lt; stays \"quoted\" 'q'", s"got: [$got]")
    val plain = Seq("no markup   here").toDF("h")
      .select(TextAnalysis.extractHtmlText(col("h")).as("t"))
      .head.getString(0)
    assert(plain == "no markup here")
  }

  test("removeBoilerplate: nav/footer/link-strips die, content survives") {
    val html = "<html><body>" +
      "<div><a href='/'>Home</a> <a href='/a'>About</a></div>" +
      "<p>This paragraph is long enough to be kept as content.</p>" +
      "<div>Short.</div>" +
      "<div>Related links: <a href='/x'>a very long anchor text here</a></div>" +
      "<footer><a href='/p'>Privacy policy page</a> &amp; Co</footer>" +
      "</body></html>"
    val got = Seq(html).toDF("h")
      .select(TextAnalysis.removeBoilerplate(col("h")).as("t"))
      .head.getString(0)
    assert(got == "This paragraph is long enough to be kept as content.",
      s"got: [$got]")
    // threshold knobs: density 100% keeps the link-heavy related strip
    val loose = Seq(html).toDF("h")
      .select(TextAnalysis.removeBoilerplate(col("h"),
        minChars = 10, maxLinkPct = 100).as("t"))
      .head.getString(0)
    assert(loose.contains("Related links:") && loose.contains("Home"),
      s"got: [$loose]")
    // entity subset decodes in the kept text (&amp; -> &)
    val ent = Seq("<p>Fish &amp; chips, a dish good enough to keep.</p>")
      .toDF("h")
      .select(TextAnalysis.removeBoilerplate(col("h")).as("t"))
      .head.getString(0)
    assert(ent == "Fish & chips, a dish good enough to keep.")
    // page that is ALL boilerplate -> empty string, not null
    val none = Seq("<div><a href='/'>Home</a></div>").toDF("h")
      .select(TextAnalysis.removeBoilerplate(col("h")).as("t"))
      .head.getString(0)
    assert(none == "")
  }

  test("Urls: host/domain/path extraction and canonicalization edges") {
    import graft.functions.Urls
    def one(u: String): (String, String, String, String) = {
      val r = Seq(u).toDF("u").select(
        Urls.urlHost(col("u")), Urls.urlDomain(col("u")),
        Urls.urlPath(col("u")), Urls.urlCanonicalize(col("u"))).head
      (r.getString(0), r.getString(1), r.getString(2), r.getString(3))
    }
    assert(one("HTTPS://User:pw@WWW.Ex.COM:443/A/b?x=1#f") ==
      (("www.ex.com", "ex.com", "/A/b",
        "https://user:pw@www.ex.com/A/b?x=1")))
    // leading tracking param: the survivor re-anchors to '?'
    assert(one("http://h.io/p?utm_source=a&id=2&gclid=z")._4 ==
      "http://h.io/p?id=2")
    // emptied query drops '?'; non-default port survives
    assert(one("http://h.io:8080/p?utm_campaign=x")._4 ==
      "http://h.io:8080/p")
    // bare host: empty path; schemeless input: empty host/canonical core
    assert(one("https://a.b.c.io")._3 == "")
    assert(one("not a url")._1 == "")
  }

  test("scriptLetterCount: hand-counted mixed-script string") {
    val df = Seq("ab Кир 你好 مر x9!").toDF("t")
    val got = df.select(
      TextAnalysis.letterCount(col("t")).as("l"),
      TextAnalysis.scriptLetterCount(col("t"), "Latin").as("lat"),
      TextAnalysis.scriptLetterCount(col("t"), "Cyrillic").as("cyr"),
      TextAnalysis.scriptLetterCount(col("t"), "Han").as("han"),
      TextAnalysis.scriptLetterCount(col("t"), "Arabic").as("ar")).head
    // letters: a b К и р 你 好 م ر x = 10 (digits/punct excluded)
    assert((got.getLong(0), got.getLong(1), got.getLong(2),
      got.getLong(3), got.getLong(4)) == ((10L, 3L, 3L, 2L, 2L)))
    intercept[IllegalArgumentException] {
      TextAnalysis.scriptLetterCount(col("t"), "Latin)|x")
    }
  }

  test("HtmlEntities.decode: numeric, hex, named, malformed, single-pass") {
    import graft.plans.HtmlEntities.decode
    assert(decode("&#65;&#x42;") == "AB")
    assert(decode("&rsquo;") == "’")
    assert(decode("&#128077;") == new String(Character.toChars(128077)))
    assert(decode("&amp;lt;") == "&lt;")           // single-pass, no double decode
    assert(decode("&bogus; &#xD800; &#99999999; &#xZZ; &amp") ==
      "&bogus; &#xD800; &#99999999; &#xZZ; &amp") // malformed verbatim
    assert(decode("&#+60;s&#x+41;") == "&#+60;s&#x+41;") // digits ONLY
    assert(decode("&#151;") == "—")  // C1 -> Windows-1252 em dash
    assert(decode("&#0;") == "�")    // NUL -> replacement char
    assert(decode("no refs at all") == "no refs at all")
    assert(decode("&&amp;&") == "&&&")
    // expression path (interpreted + codegen) agrees with the raw decoder
    val got = Seq("x &#65; &amp;lt; y").toDF("t")
      .select(graft.plans.NativeFunctions.htmlEntitiesNative(col("t")))
      .head.getString(0)
    assert(got == "x A &lt; y")
  }

  // ---- compactLog / mergeUpsert ------------------------------------------

  test("mergeUpsert: update wins, tombstone drops, insert lands") {
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val updates = Seq(
      (1L, "a2", 1L, false), // update
      (2L, null, 1L, true),  // delete
      (9L, "new", 1L, false) // insert
    ).toDF("k", "v", "version", "is_delete")
    val got = Merge.mergeUpsert(base, updates, Seq("k"), "version",
        deleteCol = Some("is_delete"))
      .select("k", "v").collect().map(r => r.getLong(0) -> r.getString(1))
      .toMap
    assert(got == Map(1L -> "a2", 3L -> "c", 9L -> "new"))
  }

  test("mergeUpsert: equal-version tie resolves to the update side") {
    val base = Seq((1L, "base", 5L)).toDF("k", "v", "version")
    val updates = Seq((1L, "upd", 5L)).toDF("k", "v", "version")
    val got = Merge.mergeUpsert(base, updates, Seq("k"), "version")
    assert(got.select("v").head.getString(0) == "upd")
    // and a HIGHER base version survives an older update
    val got2 = Merge.mergeUpsert(
      Seq((1L, "base", 9L)).toDF("k", "v", "version"),
      Seq((1L, "upd", 5L)).toDF("k", "v", "version"),
      Seq("k"), "version")
    assert(got2.select("v").head.getString(0) == "base")
  }

  test("compactLog keeps max-version row per key; delete col dropped") {
    val log = Seq(
      (1L, "v0", 0L, false), (1L, "v2", 2L, false), (1L, "v1", 1L, false),
      (2L, "x", 0L, false), (2L, null, 3L, true)
    ).toDF("k", "v", "version", "del")
    val got = Merge.compactLog(log, Seq("k"), "version", Some("del"))
    assert(got.columns.toSeq == Seq("k", "v", "version"))
    val rows = got.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows == Map(1L -> "v2"))
  }

  // ---- unionEvolve --------------------------------------------------------

  test("unionEvolve: null-fill, first-appearance order, widening") {
    val a = Seq((1, "x")).toDF("id", "name")
    val b = Seq((2L, 3.5)).toDF("id", "score")
    val got = Merge.unionEvolve(Seq(a, b))
    assert(got.columns.toSeq == Seq("id", "name", "score"))
    assert(got.schema("id").dataType == LongType)   // int widened to long
    assert(got.schema("score").dataType == DoubleType)
    val rows = got.orderBy("id").collect()
    assert(rows(0).getLong(0) == 1L && rows(0).getString(1) == "x"
      && rows(0).isNullAt(2))
    assert(rows(1).getLong(0) == 2L && rows(1).isNullAt(1)
      && rows(1).getDouble(2) == 3.5)
  }

  test("unionEvolve: decimal mixes stay exact decimals") {
    import org.apache.spark.sql.types.DecimalType
    val a = Seq(1).toDF("id")
      .select(col("id"), lit(BigDecimal("12.34")).cast(DecimalType(10, 2))
        .as("x"))
    val b = Seq(2).toDF("id")
      .select(col("id"), lit(BigDecimal("0.12345")).cast(DecimalType(6, 5))
        .as("x"))
    val got = Merge.unionEvolve(Seq(a, b))
    // int digits max(8, 1) = 8, scale max(2, 5) = 5 -> DECIMAL(13, 5)
    assert(got.schema("x").dataType == DecimalType(13, 5))
    val vals = got.orderBy("id").collect()
      .map(_.getDecimal(1).toPlainString)
    assert(vals.toSeq == Seq("12.34000", "0.12345"))
    // decimal + long widens to a decimal that covers any 64-bit value
    val c = Seq((3, 7L)).toDF("id", "x")
    assert(Merge.unionEvolve(Seq(a, c)).schema("x").dataType ==
      DecimalType(22, 2))
  }

  test("unionEvolve decimal cap sacrifices scale, never integer digits") {
    import org.apache.spark.sql.types.DecimalType
    val a = Seq(1).toDF("id")
      .select(col("id"), lit(BigDecimal(10).pow(30))
        .cast(DecimalType(38, 0)).as("x"))
    val b = Seq(2).toDF("id")
      .select(col("id"), lit(BigDecimal("0.123456789"))
        .cast(DecimalType(10, 9)).as("x"))
    val got = Merge.unionEvolve(Seq(a, b))
    // intDigits 38 + scale 9 caps at 38 total: scale gives way (values
    // round) — keeping scale 9 would shrink the integer range and NULL
    // a's in-range 1e30 on cast
    assert(got.schema("x").dataType == DecimalType(38, 0))
    assert(got.where(col("x").isNull).count() == 0)
  }

  test("unionEvolve: int/double mix widens to double; string conflict fails") {
    val a = Seq((1, 2)).toDF("id", "x")
    val b = Seq((2, 3.5)).toDF("id", "x")
    val got = Merge.unionEvolve(Seq(a, b))
    assert(got.schema("x").dataType == DoubleType)
    assert(got.agg(sum("x")).head.getDouble(0) == 5.5)
    val c = Seq((3, "s")).toDF("id", "x")
    val e = intercept[IllegalArgumentException] {
      Merge.unionEvolve(Seq(a, c))
    }
    assert(e.getMessage.contains("incompatible"))
    assert(Merge.unionEvolve(Seq(a)).columns.toSeq == Seq("id", "x"))
  }

  test("unionEvolve: case-variant names merge into one column, not two") {
    // session default is case-INsensitive resolution: "ID" and "id" are
    // the same logical column, so the fold must produce ONE output slot
    // (first-appearance spelling), null-filling nothing
    val a = Seq((1L, "x")).toDF("ID", "name")
    val b = Seq((2L, 3.5)).toDF("id", "score")
    val got = Merge.unionEvolve(Seq(a, b))
    assert(got.columns.toSeq == Seq("ID", "name", "score"))
    val rows = got.orderBy("ID").collect()
    assert(rows(0).getLong(0) == 1L && rows(1).getLong(0) == 2L)
    assert(got.where(col("ID").isNull).count() == 0)
    // a frame that ITSELF holds case-colliding columns is unresolvable
    // under case-insensitive resolution — fail fast, not duplicate
    val bad = Seq((1L, 2L)).toDF("k", "K")
    val e = intercept[IllegalArgumentException] {
      Merge.unionEvolve(Seq(bad))
    }
    assert(e.getMessage.contains("collide"))
  }

  // ---- contaminationScoreMulti -------------------------------------------

  test("contaminationScoreMulti: per-benchmark hits only, shared doc totals") {
    val shared1 = "alpha beta gamma delta epsilon" // 5-gram in bench b1
    val shared2 = "one two three four five"        // 5-gram in bench b2
    val docs = Seq(
      (1L, s"$shared1 filler words here then more padding tokens"),
      (2L, s"$shared1 intro and also $shared2 trailing tail words"),
      (3L, "totally unrelated content with no overlap at all")
    ).toDF("doc_id", "text")
    val bench = Seq(
      ("b1", s"prefix $shared1 suffix"),
      ("b2", s"$shared2 something else")
    ).toDF("benchmark", "text")
    val got = Dedup.contaminationScoreMulti(docs, bench,
        "doc_id", "text", "benchmark", shingleWords = 5)
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    // doc 3 emits nothing; doc 1 hits b1 only; doc 2 hits both
    assert(got.keySet == Set((1L, "b1"), (2L, "b1"), (2L, "b2")))
    assert(got((1L, "b1"))._2 == 1L)
    assert(got((2L, "b1"))._2 == 1L && got((2L, "b2"))._2 == 1L)
    // n_shingles is the doc total (same for both doc-2 rows)
    assert(got((2L, "b1"))._1 == got((2L, "b2"))._1)
  }

  test("contaminationScoreMulti 128-bit keys match 64-bit results") {
    val docs = Seq((1L, "a b c d e f g")).toDF("doc_id", "text")
    val bench = Seq(("b", "a b c d e")).toDF("benchmark", "text")
    def run(bits: Int) = Dedup.contaminationScoreMulti(docs, bench,
        "doc_id", "text", "benchmark", 5, hashBits = bits)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3)))
      .toSet
    assert(run(64) == run(128))
  }
}
