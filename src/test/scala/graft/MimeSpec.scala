package graft

import graft.sources.Mime

/**
 * Email/MIME extraction: mbox envelope splitting (RFC 4155 shape, not
 * bare `From ` prefixes; mboxrd unquoting), header folding, multipart
 * recursion with preamble/epilogue drops, quoted-printable and base64
 * transfer decodings, per-part charsets, RFC 2047 encoded-words
 * (including the adjacent-word whitespace rule), NAMED boundaries,
 * and the two-granularity quarantining Spark surface.
 */
class MimeSpec extends SparkSpec {

  test("the fixture mbox round-trips: subjects (RFC 2047), QP cp1252 " +
      "text, base64 html, attachment counts, preamble/epilogue dropped") {
    val entries = Seq(
      ("alice@x.test", "plain subject", "hello world\nsecond line"),
      ("bob@x.test", "Grüße aus München", "ein café für 3€? naïve!"),
      ("carol@x.test", "re: report", "From the top:\nnumbers look fine"))
    val msgs = Mime.splitMbox(new String(Mime.buildMbox(entries),
      "ISO-8859-1")).map(Mime.parseMessage)
    assert(msgs.length == 3)
    msgs.zip(entries).foreach { case (m, (from, subj, text)) =>
      assert(m.from == from)
      assert(m.subject == subj, s"subject '$subj' must decode exactly")
      assert(m.text == text, s"text for '$subj'")
      assert(m.html == s"<p>$text</p>")
      assert(m.attachments == 1)
      assert(!m.text.contains("preamble") && !m.text.contains("epilogue"))
    }
  }

  test("mbox splitting: RFC 4155 envelopes split, bare in-body " +
      "'From ' lines do not, '>From ' unquotes") {
    val mbox =
      "From a@x.test Mon Jan  5 10:00:00 2026\n" +
        "From: a@x.test\nSubject: s1\n\n" +
        "From here on, this line must NOT split the message.\n" +
        ">From quoted-envelope line survives unquoted.\n" +
        "From b@x.test Tue Jan  6 11:00:00 2026\n" +
        "From: b@x.test\nSubject: s2\n\nsecond body\n"
    val msgs = Mime.splitMbox(mbox)
    assert(msgs.length == 2)
    val m1 = Mime.parseMessage(msgs(0))
    assert(m1.text.contains("From here on"))
    assert(m1.text.contains("From quoted-envelope"))
    assert(!m1.text.contains(">From"))
    assert(Mime.parseMessage(msgs(1)).text == "second body\n"
      .stripSuffix("\n") || Mime.parseMessage(msgs(1)).text == "second body\n" ||
      Mime.parseMessage(msgs(1)).text.startsWith("second body"))
  }

  test("RFC 2047: B and Q encodings, the underscore-space rule, and " +
      "whitespace between adjacent encoded words dropped") {
    assert(Mime.decodeEncodedWords("=?UTF-8?B?Z3LDvG4=?=") == "grün")
    assert(Mime.decodeEncodedWords("=?ISO-8859-1?Q?caf=E9_au_lait?=")
      == "café au lait")
    // §6.2: the space BETWEEN two encoded words is not display text
    assert(Mime.decodeEncodedWords(
      "=?UTF-8?B?YWI=?= =?UTF-8?B?Y2Q=?=") == "abcd")
    // but a space between an encoded word and plain text IS kept
    assert(Mime.decodeEncodedWords("=?UTF-8?B?YWI=?= plain") == "ab plain")
    val e = intercept[IllegalArgumentException](
      Mime.decodeEncodedWords("=?no-such-cs?B?YWI=?="))
    assert(e.getMessage.contains("no-such-cs"))
  }

  test("NAMED boundaries: missing multipart boundary, unknown " +
      "transfer encoding, nesting bomb, not-an-mbox") {
    val noBoundary = "Content-Type: multipart/mixed\n\nbody"
    val e1 = intercept[IllegalArgumentException](
      Mime.parseMessage(noBoundary))
    assert(e1.getMessage.contains("boundary"))
    val badEnc = "Content-Transfer-Encoding: uuencode\n\nbody"
    val e2 = intercept[IllegalArgumentException](Mime.parseMessage(badEnc))
    assert(e2.getMessage.contains("uuencode"))
    intercept[IllegalArgumentException](Mime.splitMbox("no envelope here"))
    // nesting bomb: 40 nested multiparts must hit the depth cap
    val deep = new StringBuilder
    (0 until 40).foreach { i =>
      deep.append(s"Content-Type: multipart/mixed; boundary=b$i\n\n--b$i\n")
    }
    val e3 = intercept[IllegalArgumentException](
      Mime.parseMessage(deep.toString))
    assert(e3.getMessage.contains("nesting"))
  }

  test("RFC 2046 delimiter edges: trailing LWSP tolerated, " +
      "post-close '--boundary' is epilogue (no section re-open), " +
      "non-LWSP suffix is part text") {
    def msg(body: String) =
      "Content-Type: multipart/mixed; boundary=bb\n\n" + body
    def part(s: String) =
      s"Content-Type: text/plain; charset=UTF-8\n\n$s"
    // trailing tab and spaces on delimiter lines are still delimiters
    val m1 = Mime.parseMessage(msg(
      s"--bb\t\n${part("alpha")}\n--bb  \n${part("beta")}\n--bb-- \t\n"))
    assert(m1.text == "alpha\nbeta")
    // after --bb--, a later --bb line must NOT open a new section
    val m2 = Mime.parseMessage(msg(
      s"--bb\n${part("only")}\n--bb--\n--bb\n${part("ghost")}\n--bb--\n"))
    assert(m2.text == "only")
    // '--bb trailing' has a NON-whitespace suffix: not a delimiter,
    // so it stays inside the open part's text
    val m3 = Mime.parseMessage(msg(
      s"--bb\n${part("kept --bb? no:")}\n--bb trailing\n--bb--\n"))
    assert(m3.text.contains("--bb trailing"))
  }

  test("streaming mbox ingestion dedups re-synced messages across " +
      "archive drops and COUNTS corrupt archives out") {
    val mboxDir = tmpDir("graft-mbox-stream")
    val corpus = tmpDir("graft-mbox-corpus") + "/c"
    val ckpt = tmpDir("graft-mbox-ckpt")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(mboxDir, "sync1.mbox"),
      Mime.buildMbox(Seq(
        ("a@list.test", "first subject", "body alpha"),
        ("b@list.test", "second subject", "body beta"))))
    Mime.mboxIngest(spark, mboxDir, corpus, ckpt).awaitTermination()
    // drop 2: one new message, one RE-SYNC of an ingested message
    // (list archives overlap), plus a corrupt archive to skim past
    java.nio.file.Files.write(
      java.nio.file.Paths.get(mboxDir, "sync2.mbox"),
      Mime.buildMbox(Seq(
        ("c@list.test", "third subject", "body gamma"),
        ("a@list.test", "first subject", "body alpha"))))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(mboxDir, "junk.mbox"),
      "definitely not an mbox archive".getBytes)
    val q2 = Mime.mboxIngest(spark, mboxDir, corpus, ckpt)
    q2.awaitTermination()
    val got = spark.read.parquet(corpus).select("text")
      .collect().map(_.getString(0)).toSet
    assert(got == Set("body alpha", "body beta", "body gamma"),
      "re-sync deduped, corrupt archive skimmed")
    val corrupt = q2.recentProgress.toSeq
      .flatMap(p => Option(p.observedMetrics.get("mbox_ingest")))
      .map(_.getAs[Long]("corrupt_rows")).sum
    assert(corrupt == 1L,
      s"junk.mbox must count into observed metrics (got $corrupt)")
  }

  test("Spark surface: messages explode with per-archive AND " +
      "per-message quarantine") {
    import spark.implicits._
    val good = Mime.buildMbox(Seq(("a@x.test", "s", "body a")))
    // an archive whose SECOND message has a broken MIME structure
    val mixed = (new String(good, "ISO-8859-1") +
      "From b@x.test Mon Jan  5 11:00:00 2026\n" +
      "Content-Type: multipart/mixed\n\nbroken\n")
      .getBytes("ISO-8859-1")
    val rows: Seq[(Long, Array[Byte])] = Seq(
      (1L, good), (2L, mixed), (3L, "not an mbox at all".getBytes))
    val out = Mime.parseMboxes(spark.createDataset(rows)).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(4),
        r.getString(7)))
      .sortBy(t => (t._1, t._2))
    assert(out.length == 4)
    assert(out(0) == ((1L, 0, "body a", null)))
    assert(out(1) == ((2L, 0, "body a", null)))
    assert(out(2)._2 == 1 && out(2)._3 == null && out(2)._4 != null,
      "the broken second message quarantines alone")
    assert(out(3)._1 == 3L && out(3)._2 == -1 && out(3)._4 != null,
      "the non-mbox archive quarantines per-file")
  }
}
