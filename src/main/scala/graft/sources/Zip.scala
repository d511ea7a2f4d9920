package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * ZIP shard ingestion — corpora routinely arrive as directories of
 * `.zip` shards whose members are the actual `.txt`/`.jsonl`/`.md`
 * documents (academic dumps and scrape hand-offs ship this way).
 * JDK-only (`java.util.zip`), riding Spark's `binaryFile` source —
 * one task per shard, the [[Manifest]]/[[Warc.responses]] geometry
 * (ZIP central directories aren't split-readable without an external
 * index; a 100 TB corpus is many shards, and shard-level parallelism
 * is the right grain).
 *
 * Members explode to `(path, member, text)` rows decoded by
 * [[Html.decodeHtmlBytes]]'s BOM-aware sniff head (BOM wins, UTF-8
 * default — text members carry no meta/transport declarations).
 * Member reads are bomb-capped per entry AND per shard by
 * [[Payload.zipWalk]], which buffers text members only; a corrupt
 * shard quarantines per-FILE with the named error instead of failing
 * the job. Non-text members (by extension) are skipped with a
 * counted row, not silently: the ingest accounting must add up.
 *
 * The reference engine (parquery) reads parquet only — this is a
 * training-data-pipeline extension (SURVEY §8).
 */
object Zip {

  private def err(msg: String): Nothing =
    throw new IllegalArgumentException(s"ZIP: $msg")

  private val TextExtensions =
    Set("txt", "text", "jsonl", "json", "md", "csv", "tsv")

  private def extOf(name: String): String =
    name.lastIndexOf('.') match {
      case -1 => ""
      case i => name.substring(i + 1).toLowerCase
    }

  /** Explode one shard's text members: (member, text) plus a count of
    * skipped non-text members. Repeated member names each keep their
    * row. */
  private[graft] def textMembers(bytes: Array[Byte])
      : (Seq[(String, String)], Int) = {
    val out = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var skipped = 0
    Payload.zipWalk(bytes, "ZIP", Pdf.MaxDecodedBytes) { (name, data) =>
      if (TextExtensions.contains(extOf(name)))
        out += name -> Html.decodeHtmlBytes(data())
      else skipped += 1
      true
    }
    // ZipInputStream returns NO entries (rather than throwing) on a
    // payload whose PK prefix is a lie — and an entry-less shard in a
    // corpus hand-off is anomalous either way: err named, don't
    // silently contribute zero documents
    if (out.isEmpty && skipped == 0)
      err("no ZIP entries (truncated or corrupt shard?)")
    (out.toSeq, skipped)
  }

  /**
   * Spark surface: every text member of every shard under `pathGlob`
   * as `(path, member, text, skipped_members, zip_error)` — one task
   * per shard, corrupt shards quarantined per-FILE.
   */
  def textShards(spark: SparkSession, pathGlob: String): DataFrame =
    Tar.memberShards(spark, pathGlob, "zip_error")(textMembers)

  /** Fixture shard: named text members (+ one binary member that must
    * be skip-counted, never decoded into the corpus). */
  def buildShard(members: Seq[(String, String)]): Array[Byte] = {
    Payload.buildZip(members.map { case (name, text) =>
      name -> text.getBytes("UTF-8")
    } :+ ("image.bin" -> Array[Byte](0, 1, 2, 3)))
  }
}
