package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Checkpoints

/**
 * Persisted content-defined-chunk index — the steady-state state store
 * behind [[graft.operators.Dedup.cdcNoveltyAgainstIndex]], mirroring
 * the admission-state pattern (`q_ingest_admission_state`): build once,
 * append per admitted batch, probe per incoming batch. Extension
 * beyond the reference surface (single-table OLAP,
 * `parquery/README.md:4-8`).
 *
 * Layout under `dir`:
 *  - `chunks/` (or `chunks-vN/` behind the `_CHUNKS` pointer once
 *    [[compact]] has run) — parquet of DISTINCT chunk hashes,
 *    partitioned by `bucket = pmod(chunk_hash, buckets)`: at 100 TB
 *    the index is billions of 8-byte hashes; bucket partitioning
 *    keeps individual files bounded, append-batches small (novel
 *    hashes land in their buckets), and lets a bucket-keyed probe
 *    plan prune; [[compact]] merges the per-append file accumulation
 *    back to one file per bucket with a reader-atomic versioned
 *    publish and one-cycle grace GC;
 *  - `sketch` — a Bloom sketch of every indexed hash (atomic-rename
 *    committed), the join-free front: a probe first consults the
 *    sketch and only sketch-POSITIVE chunks pay the exact anti-join,
 *    so per-batch cost is flat in history size for the novel majority
 *    (the `ingestAdmission` discipline; no false negatives, so no
 *    seen chunk can score novel). Commit ORDER is sketch before
 *    chunks, in both [[create]] and [[append]]: a crash between the
 *    two leaves sketch bits for unindexed hashes — harmless false
 *    POSITIVES the exact anti-join resolves (the rows stay novel and
 *    re-append). The reverse order would leave indexed hashes the
 *    sketch misses — FALSE NEGATIVES that silently admit duplicates,
 *    the one failure the contract forbids;
 *  - `meta.json` — bucket count and sketch sizing, pinned at create
 *    time: appended batch sketches must be built with the SAME sizing
 *    or `mergeInPlace` would reject them.
 */
object ChunkIndex {

  /** Resolve the LIVE chunk-parquet directory: versioned
    * (`chunks-v1`, `chunks-v2`, …) behind an atomic-rename-committed
    * `_CHUNKS` pointer once [[compact]] has run; the original flat
    * `chunks` layout before that. The Bucketed publish discipline —
    * a compact never touches files a running probe already listed. */
  private def chunksDir(dir: String): String = {
    val ptr = new java.io.File(dir, "_CHUNKS")
    if (ptr.isFile) {
      val v = new String(java.nio.file.Files.readAllBytes(ptr.toPath),
        "UTF-8").trim
      if (v.nonEmpty) new java.io.File(dir, v).getPath else s"$dir/chunks"
    } else s"$dir/chunks"
  }
  private def sketchFile(dir: String) = new java.io.File(dir, "sketch")
  private def metaFile(dir: String) = new java.io.File(dir, "meta.json")

  final case class Meta(buckets: Int, expectedItems: Long, numBits: Long)

  /** Create the index from a chunk table (the [[graft.operators.Dedup
    * .cdcChunkHashes]] output — only `chunk_hash` is read). */
  def create(chunks: DataFrame, dir: String, buckets: Int = 64,
             expectedItems: Long = 1000000L,
             numBits: Long = 1L << 23): Unit = Checkpoints.scoped { s =>
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    new java.io.File(dir).mkdirs()
    writeMeta(dir, Meta(buckets, expectedItems, numBits))
    // one computation feeds both state writes
    val distinctHashes = s.pinLocal(chunks.select(col("chunk_hash")).distinct())
    // sketch FIRST (see the commit-order contract in the scaladoc)
    writeSketch(dir, graft.operators.Dedup.buildSeenSketch(
      distinctHashes, "chunk_hash", expectedItems, numBits))
    distinctHashes
      .withColumn("bucket", pmod(col("chunk_hash"), lit(buckets.toLong)))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(chunksDir(dir))
  }

  /**
   * Append a batch's chunk hashes: only hashes NOT already indexed
   * land (sketch-negative hashes skip the probe entirely; positives
   * anti-join the index), appended into their bucket partitions, and
   * the batch sketch merges into the persisted one (bitset OR — the
   * history is never rebuilt). Call with the admitted batch's chunks
   * after a [[graft.operators.Dedup.cdcNoveltyAgainstIndex]] decision.
   *
   * ==Writer concurrency==
   * Appends are SERIALIZED: the whole read-probe-merge-write sequence
   * runs under a per-index exclusive lock (a JVM-level monitor keyed
   * on the canonical dir, plus an advisory `append.lock` file lock for
   * cross-process callers on a shared filesystem). Without it, two
   * concurrent appends would both read the pre-append sketch and the
   * second `writeSketch` would drop the first batch's bits while that
   * batch's parquet rows still landed under `chunks/` — those hashes
   * would become sketch FALSE NEGATIVES, exactly the silent-duplicate
   * failure the commit-order contract exists to forbid (and the
   * anti-join probe racing the other batch's un-landed rows would
   * additionally re-append duplicate index rows). The persisted sketch
   * is re-read INSIDE the lock, so each append merges onto the truly
   * latest state. NOTE: the file lock is advisory — writers on object
   * stores without POSIX lock semantics must serialize externally
   * (single appender per index), which is the deployment contract.
   *
   * ==Reader concurrency==
   * Readers never need the lock. The sketch is atomic-rename
   * committed, so a concurrent probe sees the complete old or complete
   * new bytes, never a torn file; `chunks/` grows by whole committed
   * parquet files. Because sketch commits BEFORE chunks, a probe
   * interleaved with an append sees at worst extra sketch bits
   * (resolvable false positives) or not-yet-landed batch rows — i.e. a
   * novelty decision concurrent with an in-flight append may not
   * observe THAT append's hashes (read-committed, batch granularity);
   * it can never un-see history that was committed before it started.
   */
  def append(newChunks: DataFrame, dir: String): Unit =
    withAppendLock(dir)(Checkpoints.scoped { s =>
      val m = readMeta(dir)
      val spark = newChunks.sparkSession
      val batch = newChunks.select(col("chunk_hash")).distinct()
      // pin the decision before state writes
      val novel = s.pinLocal(
        graft.operators.Dedup.novelAgainstIndex(batch, spark, dir))
      // sketch FIRST (see the commit-order contract in the scaladoc):
      // a crash between the writes must leave resolvable false
      // POSITIVES, never contract-breaking false negatives
      val batchSketch = graft.operators.Dedup.buildSeenSketch(
        novel, "chunk_hash", m.expectedItems, m.numBits)
      writeSketch(dir, graft.operators.Dedup.mergeSeenSketches(
        sketch(dir), batchSketch))
      novel
        .withColumn("bucket",
          pmod(col("chunk_hash"), lit(m.buckets.toLong)))
        .write.mode("append").partitionBy("bucket")
        .parquet(chunksDir(dir))
    })

  /** Per-index append mutex — the shared [[PathLock]] discipline
    * (same-JVM monitor wrapping an advisory cross-process file
    * lock). */
  private def withAppendLock[T](dir: String)(body: => T): T =
    PathLock.withLock(dir, "append.lock")(body)

  /**
   * Compact the append-accumulated index state: every [[append]]
   * batch adds one file set per touched bucket, so a 1000-batch
   * history pays a 1000-file-per-bucket probe scan forever — this
   * merges the chunk parquet back to ONE file per bucket and rebuilds
   * the Bloom sketch from the live hash set (shedding bits a crashed
   * append left for hashes that never landed — harmless false
   * positives, but paid on every probe).
   *
   * Publish is READER-ATOMIC via the [[Bucketed.compact]] discipline:
   * the merged copy lands in the NEXT `chunks-vN` directory, the
   * `_CHUNKS` pointer commits by atomic rename, and the retired
   * version survives one full compact cycle (a probe that planned
   * before the flip keeps its file list valid; the version it read is
   * GC'd one compact LATER). The rebuilt sketch commits BEFORE the
   * pointer flips — it describes the same hash set as both versions,
   * so a crash anywhere between the writes leaves a consistent
   * (old-version) index. Runs under the same per-index lock as
   * [[append]], so a compact racing an append is impossible in-JVM
   * and advisory-locked cross-process.
   */
  def compact(spark: SparkSession, dir: String): Unit =
    withAppendLock(dir)(Checkpoints.scoped { s =>
      val m = readMeta(dir)
      val cur = chunksDir(dir)
      val curName = new java.io.File(cur).getName
      def verOf(n: String): Int =
        if (n.startsWith("chunks-v") && n.drop(8).nonEmpty &&
          n.drop(8).forall(_.isDigit)) n.drop(8).toInt
        else -1 // the flat pre-pointer `chunks` layout
      val maxVer = Option(new java.io.File(dir).listFiles)
        .map(_.toSeq.filter(_.isDirectory).map(f => verOf(f.getName)))
        .getOrElse(Seq.empty).maxOption.getOrElse(-1)
      val newName = s"chunks-v${math.max(verOf(curName), maxVer) + 1}"
      // pin the set before any state write
      val all = s.pinLocal(hashes(spark, dir).distinct())
      // sketch first (the commit-order contract): the rebuilt sketch
      // describes the SAME hash set as old and new chunk versions
      writeSketch(dir, graft.operators.Dedup.buildSeenSketch(
        all, "chunk_hash", m.expectedItems, m.numBits))
      all
        .withColumn("bucket", pmod(col("chunk_hash"), lit(m.buckets.toLong)))
        .repartition(col("bucket")) // each bucket whole in one task →
        .write.mode("overwrite").partitionBy("bucket") // one file/bucket
        .parquet(new java.io.File(dir, newName).getPath)
      val tmp = new java.io.File(dir, s"_CHUNKS.tmp${System.nanoTime()}")
      java.nio.file.Files.write(tmp.toPath, newName.getBytes("UTF-8"))
      java.nio.file.Files.move(tmp.toPath,
        new java.io.File(dir, "_CHUNKS").toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      // grace-deferred GC: every chunk version that is neither the one
      // just PUBLISHED nor the one just RETIRED goes (the retiree
      // serves pinned readers for one full compact cycle)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm))
        f.delete(); ()
      }
      Option(new java.io.File(dir).listFiles).foreach(_.foreach { f =>
        val n = f.getName
        val isChunkDir = f.isDirectory && (n == "chunks" || verOf(n) >= 0)
        if (isChunkDir && n != newName && n != curName) rm(f)
      })
    })

  /** The indexed hash column `(chunk_hash)` — empty (not a failed
    * schema inference) when nothing has been indexed yet: an index
    * created from an empty history writes no data files under
    * `chunks/`, and the day-0 probe must read it as "everything is
    * novel", not crash. */
  def hashes(spark: SparkSession, dir: String): DataFrame = {
    val d = new java.io.File(chunksDir(dir))
    val hasData = d.isDirectory && Option(d.listFiles).exists(_.exists(
      f => f.isDirectory || (f.isFile && f.getName.endsWith(".parquet"))))
    if (hasData)
      spark.read.parquet(chunksDir(dir)).select(col("chunk_hash"))
    else
      spark.range(0).select(col("id").as("chunk_hash"))
  }

  /** The persisted Bloom sketch; None before any hash was indexed. */
  def sketch(dir: String): Option[Array[Byte]] = {
    val f = sketchFile(dir)
    if (f.isFile) Some(java.nio.file.Files.readAllBytes(f.toPath))
    else None
  }

  def readMeta(dir: String): Meta = {
    val s = new String(java.nio.file.Files.readAllBytes(
      metaFile(dir).toPath), "UTF-8")
    def num(k: String): Long = {
      val m = s"""\"$k\"\\s*:\\s*(\\d+)""".r.findFirstMatchIn(s)
      require(m.isDefined, s"meta.json missing $k in $dir")
      m.get.group(1).toLong
    }
    Meta(num("buckets").toInt, num("expectedItems"), num("numBits"))
  }

  private def writeMeta(dir: String, m: Meta): Unit =
    java.nio.file.Files.write(metaFile(dir).toPath,
      s"""{"buckets":${m.buckets},"expectedItems":${m.expectedItems},"numBits":${m.numBits}}"""
        .getBytes("UTF-8"))

  /** Atomic-rename commit (the registry-fixture discipline): a crashed
    * write leaves a `.tmp`, never a torn sketch a later probe trusts. */
  private def writeSketch(dir: String, bytes: Option[Array[Byte]]): Unit =
    bytes.foreach { b =>
      val tmp = new java.io.File(dir, s"sketch.tmp${System.nanoTime()}")
      java.nio.file.Files.write(tmp.toPath, b)
      java.nio.file.Files.move(tmp.toPath, sketchFile(dir).toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
}
