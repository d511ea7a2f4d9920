package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset}

/**
 * Subtitle parsing — SRT (SubRip) and WebVTT, the two formats
 * video/caption corpora ship; the text side of audiovisual training
 * data (caption-to-frame alignment keys on the cue timestamps the
 * parse surfaces as milliseconds).
 *
 *  - SRT: blank-line-separated blocks of `index` /
 *    `HH:MM:SS,mmm --> HH:MM:SS,mmm` / text lines. Index lines are
 *    advisory (renumbered files are routine) — cues re-index in file
 *    order; BOMs tolerated; both `,` and `.` millisecond separators
 *    accepted (the classic SRT/VTT interchange slop).
 *  - WebVTT (W3C): a `WEBVTT` signature line, optional header
 *    metadata, `NOTE`/`STYLE`/`REGION` blocks skipped, optional cue
 *    identifiers, `HH:MM:SS.mmm --> HH:MM:SS.mmm` (hours optional)
 *    with cue settings after the end timestamp dropped, and inline
 *    markup (`<i>`, `<b>`, `<c.class>`, `<v Speaker>`, timestamps
 *    `<00:01.000>`) STRIPPED to display text; `&amp; &lt; &gt;
 *    &nbsp;` decode.
 *
 * Malformed cues (bad timestamps, no arrow) are SKIPPED, not fatal —
 * caption files are routinely hand-edited; a payload with a VTT
 * signature but zero parseable cues, or no signature and zero SRT
 * blocks, is a NAMED error (quarantined per-row by [[parseAll]]).
 *
 * The reference engine (parquery) has no subtitle surface — this is
 * a training-data-pipeline extension (SURVEY §8), verified against
 * fixture files from [[buildSrt]]/[[buildVtt]].
 */
object Subtitles {

  private def err(msg: String): Nothing =
    throw new IllegalArgumentException(s"SUBTITLE: $msg")

  /** One cue: 0-based file-order index, [startMs, endMs), text with
    * internal line breaks preserved as '\n'. */
  final case class Cue(idx: Int, startMs: Long, endMs: Long, text: String)

  // `HH:MM:SS,mmm` or `MM:SS.mmm` (VTT short form); both separators.
  private val TsRe =
    "(?:(\\d{1,3}):)?(\\d{1,2}):(\\d{2})[.,](\\d{3})".r

  private def parseTs(s: String): Option[Long] =
    TsRe.findPrefixMatchOf(s.trim).map { m =>
      val h = Option(m.group(1)).map(_.toLong).getOrElse(0L)
      ((h * 60 + m.group(2).toLong) * 60 + m.group(3).toLong) * 1000 +
        m.group(4).toLong
    }

  private def stripBom(s: String): String =
    if (s.nonEmpty && s.charAt(0) == '﻿') s.substring(1) else s

  private def decodeEntities(s: String): String =
    s.replace("&nbsp;", " ").replace("&lt;", "<").replace("&gt;", ">")
      .replace("&amp;", "&")

  private def stripTags(s: String): String =
    decodeEntities(s.replaceAll("<[^>]*>", ""))

  /** Parse subtitle text, auto-detecting VTT (signature) vs SRT. */
  def parse(content: String): Seq[Cue] = {
    val c = stripBom(content)
    if (c.startsWith("WEBVTT")) parseVtt(c) else parseSrt(c)
  }

  def parseSrt(content: String): Seq[Cue] = {
    val blocks = stripBom(content).split("\r?\n\r?\n+")
    val cues = scala.collection.mutable.ArrayBuffer[Cue]()
    blocks.foreach { b =>
      val lines = b.split("\r?\n").dropWhile(_.trim.isEmpty)
      // index line optional/advisory: find the arrow line
      val arrowAt = lines.indexWhere(_.contains("-->"))
      if (arrowAt >= 0) {
        val Array(a, rest @ _*) = lines(arrowAt).split("-->"): @unchecked
        (parseTs(a), rest.headOption.flatMap(parseTs)) match {
          case (Some(s), Some(e)) if e >= s =>
            val txt = lines.drop(arrowAt + 1).mkString("\n").trim
            if (txt.nonEmpty)
              cues += Cue(cues.length, s, e, stripTags(txt))
          case _ => () // malformed cue: skipped, not fatal
        }
      }
    }
    if (cues.isEmpty) err("no parseable SRT cues (not a subtitle file?)")
    cues.toSeq
  }

  def parseVtt(content: String): Seq[Cue] = {
    val c = stripBom(content)
    if (!c.startsWith("WEBVTT")) err("missing WEBVTT signature")
    val blocks = c.split("\r?\n\r?\n+").drop(1) // header block dropped
    val cues = scala.collection.mutable.ArrayBuffer[Cue]()
    blocks.foreach { b =>
      val lines = b.split("\r?\n").dropWhile(_.trim.isEmpty)
      if (lines.nonEmpty &&
          !lines(0).startsWith("NOTE") && !lines(0).startsWith("STYLE") &&
          !lines(0).startsWith("REGION")) {
        val arrowAt = lines.indexWhere(_.contains("-->"))
        if (arrowAt >= 0) { // line 0 may be a cue identifier
          val Array(a, rest @ _*) = lines(arrowAt).split("-->"): @unchecked
          // cue settings (align:, line:, …) follow the end timestamp
          (parseTs(a), rest.headOption.flatMap(parseTs)) match {
            case (Some(s), Some(e)) if e >= s =>
              val txt = lines.drop(arrowAt + 1).mkString("\n").trim
              if (txt.nonEmpty)
                cues += Cue(cues.length, s, e, stripTags(txt))
            case _ => ()
          }
        }
      }
    }
    if (cues.isEmpty) err("WEBVTT file with zero parseable cues")
    cues.toSeq
  }

  /** Spark surface: explode every cue of every (id, content) row with
    * per-row quarantine (the [[Pdf.extractTexts]] pattern). */
  def parseAll(ds: Dataset[(Long, String)]): DataFrame = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.flatMap { case (id, content) =>
      try parse(content).map(c =>
        (id, c.idx, c.startMs, c.endMs, c.text, null: String))
      catch {
        case scala.util.control.NonFatal(e) =>
          Seq((id, -1, -1L, -1L, null: String,
            Payload.named(e)))
      }
    }.toDF("id", "cue_idx", "start_ms", "end_ms", "text", "sub_error")
  }

  // ---------------------------------------------------------------
  // fixture writers
  // ---------------------------------------------------------------

  private def ts(ms: Long, sep: Char): String = {
    val h = ms / 3600000; val m = (ms / 60000) % 60
    val s = (ms / 1000) % 60; val f = ms % 1000
    f"$h%02d:$m%02d:$s%02d$sep$f%03d"
  }

  /** SRT with one cue per entry `(startMs, endMs, text)`. */
  def buildSrt(cues: Seq[(Long, Long, String)]): String =
    cues.zipWithIndex.map { case ((s, e, t), i) =>
      s"${i + 1}\n${ts(s, ',')} --> ${ts(e, ',')}\n$t\n"
    }.mkString("\n")

  /** WebVTT with header metadata, a NOTE block, cue identifiers, cue
    * settings, and the first word of each cue italic-tagged — every
    * piece of VTT syntax the parser must see through. */
  def buildVtt(cues: Seq[(Long, Long, String)]): String = {
    val sb = new StringBuilder("WEBVTT - fixture file\nKind: captions\n\n")
    sb.append("NOTE\nthis comment block must be skipped\n\n")
    cues.zipWithIndex.foreach { case ((s, e, t), i) =>
      val words = t.split(" ", 2)
      val tagged =
        if (words.length == 2) s"<i>${words(0)}</i> ${words(1)}"
        else s"<i>$t</i>"
      sb.append(s"cue-$i\n${ts(s, '.')} --> ${ts(e, '.')} align:start\n")
      sb.append(tagged).append("\n\n")
    }
    sb.toString
  }
}
