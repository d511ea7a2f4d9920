package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Stack Exchange data-dump ingestion — the Q&A corpus in essentially
 * every instruction/pretraining mix beside Wikipedia: archive.org
 * ships per-site dumps whose `Posts.xml` is a flat
 * `<posts><row …/><row …/></posts>` file, one self-closing `<row>`
 * element PER LINE with everything in XML attributes. Written from
 * the public dump schema (the archive.org data-dump README /
 * Meta.SE "database schema documentation": `Id`, `PostTypeId`
 * (1 = question, 2 = answer), `ParentId`, `AcceptedAnswerId`,
 * `Score`, `Title`, `Body`, `Tags`, `OwnerUserId`, `CreationDate`).
 *
 * Format traps, each handled and spec-pinned:
 *
 *  - **Double encoding.** `Body` is HTML, XML-escaped into the
 *    attribute (`&lt;p&gt;…`): the StAX attribute decode yields
 *    HTML, which then flattens through the SAME
 *    [[graft.functions.TextAnalysis.extractHtmlText]] chain as
 *    crawl pages — one HTML policy for the whole repo.
 *  - **Tags shapes.** Old dumps carry `&lt;a&gt;&lt;b&gt;`
 *    (angle-bracket runs), 2024+ dumps carry `|a|b|` (pipe-delimited)
 *    — both parse to the same `array<string>`.
 *  - **Row-per-line layout.** Real dumps put each `<row>` on its own
 *    line, so the read is `spark.read.textFile` + a `<row` filter:
 *    splittable (a recompressed-to-bz2/zstd multi-GB Posts.xml
 *    parallelizes across tasks with no driver work — the [[Wiki]]
 *    geometry; the shipped 7z archives themselves are not a
 *    streamable codec and are documented as a one-time re-compress
 *    on landing, exactly like every other non-splittable hand-off).
 *    A line whose XML is malformed quarantines per-ROW with the
 *    named error (`se_error`); the header/footer lines are not rows
 *    and are skipped by construction.
 *  - **XXE.** Attributes decode through the shared StAX factory with
 *    DTD + external entities OFF (the [[Docx]]/[[Wiki]] discipline —
 *    a public dump is untrusted input).
 *
 * [[qaPairs]] is the training-data flattening: answers join their
 * question on `ParentId` (a keyed shuffle join — both sides are
 * corpus-scale, nothing broadcast), ranked per question by score
 * (accepted answer first — the dump's own quality signal), bodies
 * flattened to text. Scale shape: one narrow parse stage, one keyed
 * join, one per-question window — no all-pairs step anywhere.
 *
 * The reference engine (parquery) reads parquet only — this is a
 * training-data-pipeline extension (SURVEY §8).
 */
object StackExchange {

  private def err(msg: String): Nothing =
    throw new IllegalArgumentException(s"STACKEXCHANGE: $msg")

  /** Parse one `<row …/>` line's attributes (StAX decodes the XML
    * escaping; cap + malformed-XML err NAMED). */
  private[graft] def parseRow(line: String): Map[String, String] = {
    if (line.length > Pdf.MaxDecodedBytes)
      err(s"row exceeds the ${Pdf.MaxDecodedBytes} byte cap")
    val r = Payload.reader(line.trim, "STACKEXCHANGE")
    try {
      var attrs: Map[String, String] = null
      while (attrs == null && r.hasNext) {
        if (r.next() == javax.xml.stream.XMLStreamConstants.START_ELEMENT) {
          if (r.getLocalName != "row")
            err(s"expected <row>, got <${r.getLocalName.take(20)}>")
          attrs = (0 until r.getAttributeCount)
            .map(i => r.getAttributeLocalName(i) -> r.getAttributeValue(i))
            .toMap
        }
      }
      if (attrs == null) err("no <row> element in line")
      attrs
    } finally r.close()
  }

  /** Both live `Tags` shapes → tag list: `<a><b>` (pre-2024 dumps)
    * and `|a|b|` (2024+ dumps). */
  private[graft] def parseTags(tags: String): Seq[String] =
    if (tags == null || tags.isEmpty) Seq.empty
    else if (tags.startsWith("|"))
      tags.split("\\|").toSeq.filter(_.nonEmpty)
    else if (tags.startsWith("<"))
      tags.stripPrefix("<").stripSuffix(">").split("><").toSeq
        .filter(_.nonEmpty)
    else Seq(tags)

  /**
   * `Posts.xml` lines under `path` (glob; plain or any
   * extension-registered splittable codec) as typed post rows:
   * `(id, post_type_id, parent_id, accepted_answer_id, score, title,
   * body_html, tags, owner_user_id, creation_date, se_error)` —
   * malformed rows quarantine per-ROW with nulls + the named error.
   */
  def posts(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.read.textFile(path)
      .filter(col("value").contains("<row"))
      .as[String]
      .map { line =>
        try {
          val a = parseRow(line)
          def num(k: String): java.lang.Long =
            a.get(k).map(v => java.lang.Long.valueOf(v.trim)).orNull
          PostRow(num("Id"), num("PostTypeId"), num("ParentId"),
            num("AcceptedAnswerId"), num("Score"),
            a.getOrElse("Title", null), a.getOrElse("Body", null),
            parseTags(a.getOrElse("Tags", null)),
            num("OwnerUserId"), a.getOrElse("CreationDate", null),
            null)
        } catch {
          case scala.util.control.NonFatal(e) =>
            PostRow(null, null, null, null, null, null, null, Seq.empty,
              null, null, Payload.named(e))
        }
      }
      .toDF("id", "post_type_id", "parent_id", "accepted_answer_id",
        "score", "title", "body_html", "tags", "owner_user_id",
        "creation_date", "se_error")
  }

  /**
   * The training-data flattening over a [[posts]] frame: one row per
   * (question, answer) with bodies flattened to text —
   * `(question_id, title, tags, question_text, answer_text,
   * answer_score, is_accepted, answer_rank)`, rank per question by
   * accepted-first then score desc then answer id (deterministic).
   * Keyed shuffle join + per-question window; questions without
   * answers drop (callers wanting them use [[posts]] directly).
   */
  def qaPairs(posts: DataFrame): DataFrame = {
    val text = graft.functions.TextAnalysis.extractHtmlText _
    val ok = posts.where(col("se_error").isNull)
    val questions = ok.where(col("post_type_id") === 1)
      .select(col("id").as("question_id"), col("title"),
        array_join(col("tags"), ",").as("tags"),
        text(col("body_html")).as("question_text"),
        col("accepted_answer_id"))
    val answers = ok.where(col("post_type_id") === 2)
      .select(col("id").as("answer_id"), col("parent_id"),
        text(col("body_html")).as("answer_text"),
        col("score").as("answer_score"))
    val joined = questions.join(answers,
        questions("question_id") === answers("parent_id"))
      .withColumn("is_accepted",
        // coalesce: a question with no AcceptedAnswerId must read
        // false (a null would also sort after true under desc, but
        // the surfaced column should not be three-valued)
        coalesce(col("accepted_answer_id") === col("answer_id"),
          lit(false)))
    joined
      .withColumn("answer_rank", row_number().over(
        Window.partitionBy(col("question_id"))
          .orderBy(col("is_accepted").desc, col("answer_score").desc,
            col("answer_id"))))
      .select("question_id", "title", "tags", "question_text",
        "answer_text", "answer_score", "is_accepted", "answer_rank")
  }

  // ---------------------------------------------------------------
  // fixture writer
  // ---------------------------------------------------------------

  /** A dump-shaped `Posts.xml`: XML declaration + `<posts>` wrapper
    * + one `<row …/>` per line, every attribute XML-escaped (so HTML
    * bodies arrive double-encoded exactly as in real dumps). */
  def buildPostsXml(rows: Seq[Map[String, String]]): String = {
    val sb = new java.lang.StringBuilder()
    sb.append("﻿<?xml version=\"1.0\" encoding=\"utf-8\"?>\n")
    sb.append("<posts>\n")
    rows.foreach { r =>
      sb.append("  <row")
      r.toSeq.sortBy(_._1).foreach { case (k, v) =>
        sb.append(' ').append(k).append("=\"")
          .append(Payload.xmlEscape(v)).append('"')
      }
      sb.append(" />\n")
    }
    sb.append("</posts>\n")
    sb.toString
  }
}

/** Typed row for [[StackExchange.posts]] (nullable longs need boxed
  * fields — a case class with `Long` would default-zero them). */
private[graft] final case class PostRow(
    id: java.lang.Long, post_type_id: java.lang.Long,
    parent_id: java.lang.Long, accepted_answer_id: java.lang.Long,
    score: java.lang.Long, title: String, body_html: String,
    tags: Seq[String], owner_user_id: java.lang.Long,
    creation_date: String, se_error: String)
