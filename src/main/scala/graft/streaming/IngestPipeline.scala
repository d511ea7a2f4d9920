package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.operators.{Checkpoints, Dedup}

/**
 * Continuous corpus ingestion with exact dedup against everything already
 * ingested: each micro-batch is [[Dedup.incrementalExact]]'d against the
 * corpus-so-far and only genuinely new documents are appended.
 *
 * Shape: `foreachBatch` — the batch-side anti-join reuses the exact same
 * operator the batch pipeline uses (one code path to trust), and history
 * enters the join as a DISTINCT hash projection, so a growing 100 TB
 * corpus costs one column scan of its hash column per batch — at scale,
 * point the `seen` projection at a compacted hash index instead of the
 * full corpus (same operator, narrower input; see SCALE.md).
 *
 * Exactly-once: foreachBatch can replay a batch after a failure; the
 * anti-join against the corpus makes the re-append a no-op for rows that
 * already landed (their hashes are now "seen") — idempotent by
 * construction, no transactional sink needed for this dedup semantics.
 */
object IngestPipeline {

  /**
   * Start the ingestion query. `stream` must carry `idCol` + `textCol`.
   * New unique documents are appended to `corpusDir` as parquet.
   */
  def dedupIngest(stream: DataFrame, idCol: String, textCol: String,
                  corpusDir: String, checkpointDir: String,
                  trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val seen = readCorpus(spark, corpusDir, idCol, textCol)
        Dedup.incrementalExact(batch, seen, idCol, textCol)
          .write.mode("append").parquet(corpusDir)
      }
      .start()

  /**
   * BUCKETED ingestion — the streaming twin of
   * [[graft.sources.Bucketed.appendBucketed]]: each micro-batch lands
   * in the bucketed table through Spark's bucketed writer, so the
   * corpus keeps its CLUSTERED BY layout as shards arrive and every
   * downstream equi-join on `bucketCol` stays exchange-free (the
   * BucketedSpec plan pin). Exactly-once caveat: a replayed batch
   * APPENDS its rows again — compose with [[dedupIngest]] (dedup
   * first, then bucket the survivors) or an idempotent upstream for
   * at-least-once sources; this primitive owns the LAYOUT, not the
   * dedup (the two concerns compose as ordinary stages).
   */
  def bucketedIngest(stream: DataFrame, prefix: String, path: String,
                     bucketCol: String, buckets: Int,
                     checkpointDir: String,
                     sortCol: String = null,
                     trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.sources.Bucketed.appendBucketed(batch, prefix, path,
          bucketCol, buckets, sortCol)
        ()
      }
      .start()

  /**
   * Near-dup-aware ingestion: each micro-batch runs the FULL admission
   * pipeline ([[Dedup.ingestAdmission]]: Bloom gate → exact anti-join →
   * banded MinHash near-dup gate) against the corpus-so-far, so
   * documents that are merely near-copies of already-ingested text are
   * rejected too — the streaming parity of the batch
   * `q_ingest_admission` composition, on the same operators.
   *
   * Exactly-once: a replayed batch's rows are exact duplicates of their
   * own earlier append, so the Bloom gate flags them and the exact
   * anti-join drops them — idempotent like [[dedupIngest]]. An empty
   * corpus needs no special case: the sketch is absent (nothing
   * flagged), the band index is empty (no candidates), and the
   * within-batch exact stage still dedups the first wave. The sketch
   * and band index are rebuilt from the corpus per batch here for
   * self-containment; production ingestion persists both beside the
   * corpus and feeds [[Dedup.bloomFlagsFromSketch]] /
   * [[Dedup.incrementalMinhash]] from them (same operators, no
   * per-batch history re-scan).
   */
  def nearDupIngest(stream: DataFrame, idCol: String, textCol: String,
                    corpusDir: String, checkpointDir: String,
                    minJaccard: Double = 0.8,
                    trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val seen = readCorpus(spark, corpusDir, idCol, textCol)
        Dedup.ingestAdmission(batch, seen, idCol, textCol,
            minJaccard = minJaccard)
          .write.mode("append").parquet(corpusDir)
      }
      .start()

  /**
   * [[nearDupIngest]] with PERSISTED dedup state — the 100 TB form:
   * the Bloom sketch lives at `sketchPath` and the banded MinHash
   * index under `indexDir` (one overwritten Hive partition per epoch),
   * both updated incrementally with the admitted docs only, so
   * per-batch fingerprinting cost is O(batch), independent of history
   * size; history text is scanned only as the exact-stage hash
   * projection and for band-colliding candidates.
   *
   * Crash-safety ordering per batch: (1) admitted set is decided and
   * PINNED (localCheckpoint), (2) the admitted docs' bands land in the
   * index, (3) their sketch merges into the persisted sketch, (4) the
   * corpus append. A crash between any two steps leaves index/sketch
   * entries for docs not yet in the corpus — benign, because the
   * corpus is the source of truth (a sketch over-flag drains through
   * the exact anti-join; an index candidate without a corpus row drops
   * out of the verification join) — whereas corpus-first would leave
   * admitted docs MISSING from the sketch and break the
   * no-false-negative admission contract. Replay after any crash
   * recomputes the same admitted set (the batch's own ids are excluded
   * from the probed index, so its own pre-crash band writes cannot
   * shift hot-key counts and flip an exclusion), or an empty one if
   * the corpus append already landed; the index partition overwrite
   * (keyed by the batch's min admitted id — deterministic under
   * replay, collision-proof across checkpoint resets, unlike the
   * checkpoint-scoped epoch) and the Bloom OR-merge are idempotent
   * re-dos.
   *
   * Missing-state bootstrap: a non-empty corpus with an absent (or
   * unreadable) sketch/index — a corpus migrated from [[dedupIngest]],
   * or lost state files — is rebuilt FROM the corpus and persisted
   * before the first batch is judged; silently proceeding with a None
   * sketch would disable dedup entirely and contaminate the corpus.
   *
   * Unique-id contract: doc ids must be unique ACROSS batches (admission
   * dedups texts, never ids). The index partition key is the batch's min
   * admitted id; if an id recurred as two different batches' min, the
   * later partition overwrite would silently delete the earlier batch's
   * bands from the near-dup index. Streams whose source can replay ids
   * with different text should derive ids content-side (e.g.
   * xxhash64(text)) before ingestion.
   *
   * Sketch sizing: `expectedItems`/`numBits` fix the Bloom capacity at
   * first build; OR-merges only saturate it. Past ~expectedItems docs
   * the false-positive rate climbs toward 1 and the join-free fast path
   * degrades to routing nearly every doc through the exact anti-join —
   * correctness holds (Bloom never false-negatives), but the O(batch)
   * steady-state cost claim erodes. Size expectedItems for the TARGET
   * corpus, watch the per-batch `expectedFpp` log line this method
   * emits, and rebuild at larger sizing ([[Dedup.buildSeenSketch]] over
   * the corpus) when it approaches the configured tolerance.
   */
  def nearDupIngestIncremental(stream: DataFrame, idCol: String,
                               textCol: String,
                               corpusDir: String, indexDir: String,
                               sketchPath: String, checkpointDir: String,
                               expectedItems: Long = 1000000L,
                               numBits: Long = 1L << 23,
                               numHashes: Int = 64, bands: Int = 16,
                               shingleWords: Int = 3,
                               minJaccard: Double = 0.8,
                               maxBucket: Int = 1000,
                               trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) => Checkpoints.scoped { s =>
        val spark = batch.sparkSession
        val corpus = readCorpus(spark, corpusDir, idCol, textCol)
        val sketch = readSketch(spark, sketchPath).orElse {
          if (corpus.isEmpty) None
          else { // bootstrap from the source of truth, then persist
            val built = Dedup.buildSeenSketch(corpus, textCol,
              expectedItems, numBits)
            writeSketch(spark, sketchPath, built)
            built
          }
        }
        val index =
          if (hasCommittedParquet(spark, indexDir))
            spark.read.parquet(indexDir)
          else {
            val built = Dedup.minhashBands(corpus, idCol, textCol,
              numHashes, bands, shingleWords)
              .withColumnRenamed(idCol, "seen_id")
            if (!corpus.isEmpty)
              built.write.mode("overwrite")
                .parquet(s"$indexDir/batch_min_id=-1")
            built
          }
        // the batch's own ids never probe the index: a replay after a
        // crash between the index write and the corpus append would
        // otherwise count the batch's own bands toward maxBucket
        val indexSansSelf = index.join(
          batch.select(col(idCol).as("seen_id")).distinct(),
          Seq("seen_id"), "left_anti")
        val admitted = s.pinLocal(Dedup.ingestAdmissionAgainstState(batch,
            corpus, sketch, indexSansSelf, idCol, textCol, numHashes, bands,
            shingleWords, minJaccard, maxBucket)) // pin before state writes
        if (!admitted.isEmpty) {
          val minId = admitted.agg(min(col(idCol))).first().get(0)
          Dedup.minhashBands(admitted, idCol, textCol, numHashes, bands,
              shingleWords)
            .withColumnRenamed(idCol, "seen_id")
            .write.mode("overwrite")
            .parquet(s"$indexDir/batch_min_id=$minId")
          val merged = Dedup.mergeSeenSketches(sketch,
            Dedup.buildSeenSketch(admitted, textCol, expectedItems,
              numBits))
          // saturation signal: a sketch sized below the corpus quietly
          // degrades the fast path to "flag everything" — make the
          // occupancy visible per batch so operators can rebuild larger
          merged.foreach { bytes =>
            val fpp = org.apache.spark.util.sketch.BloomFilter
              .readFrom(bytes).expectedFpp()
            System.err.println(
              f"[ingest] sketch expectedFpp=$fpp%.6f" + (
                if (fpp > 0.5) " — SATURATED: rebuild with larger expectedItems"
                else ""))
          }
          writeSketch(spark, sketchPath, merged)
          admitted.write.mode("append").parquet(corpusDir)
        }
      }}
      .start()

  /**
   * Streaming CDC-chunk novelty ingestion — the streaming twin of
   * `q_cdc_novelty_state`'s batch composition: each micro-batch is
   * chunk-scored against the PERSISTED [[graft.sources.ChunkIndex]]
   * (Bloom front, bucket-pruned exact anti-join — per-batch cost flat
   * in history size), documents whose novel-byte fraction clears
   * `minNovelty` are admitted, and the admitted chunks append to the
   * index via [[graft.sources.ChunkIndex.append]] (serialized under
   * its per-index lock). Within-batch exact copies collapse first
   * (min id per text hash), so a batch of identical docs admits one.
   *
   * ==Crash ordering and replay idempotence==
   * Per batch: (1) score + admit (decision pinned via
   * localCheckpoint); (2) corpus append of admitted docs NOT already
   * in the corpus (id anti-join); (3) `ChunkIndex.append` of ALL
   * admitted docs' chunks — content-idempotent, already-indexed
   * hashes never re-land. Structured Streaming replays a crashed
   * batch before any later batch, so each window heals:
   *  - crash before (2): plain replay;
   *  - crash between (2) and (3): the replay re-scores against the
   *    index WITHOUT the batch's chunks → the same docs re-admit, the
   *    id anti-join makes the corpus append a no-op, and (3) finally
   *    lands the chunks — no lost docs, no duplicate corpus rows, and
   *    the index can never permanently miss admitted content (the
   *    false-negative class the ChunkIndex contract forbids);
   *  - crash inside (3): ChunkIndex's own sketch-before-chunks order
   *    leaves resolvable false POSITIVES only;
   *  - replay of a fully-committed batch: novelty scores 0 → nothing
   *    admitted → no state touched.
   * The corpus-BEFORE-index order is load-bearing: the reverse would
   * make a replayed batch score its own chunks as seen and drop the
   * not-yet-appended docs from the corpus permanently.
   *
   * Unique-id contract as in [[nearDupIngestIncremental]]: ids must
   * not recur across batches with different text.
   */
  def cdcNoveltyIngest(stream: DataFrame, idCol: String,
                       textCol: String, corpusDir: String,
                       indexDir: String, checkpointDir: String,
                       minNovelty: Double = 0.5,
                       minSize: Int = 32, avgSize: Int = 64,
                       maxSize: Int = 128, buckets: Int = 16,
                       expectedItems: Long = 1000000L,
                       numBits: Long = 1L << 23,
                       trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) => Checkpoints.scoped { s =>
        val spark = batch.sparkSession
        import graft.sources.ChunkIndex
        // bootstrap: index the pre-existing corpus once (empty is fine)
        if (!new java.io.File(indexDir, "meta.json").isFile) {
          val corpus = readCorpus(spark, corpusDir, idCol, textCol)
          ChunkIndex.create(
            Dedup.cdcChunkHashes(corpus, idCol, textCol, minSize,
              avgSize, maxSize),
            indexDir, buckets, expectedItems, numBits)
        }
        // within-batch exact-content dedup: min id per text hash
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(xxhash64(col(textCol))).orderBy(col(idCol))
        val once = batch.select(col(idCol), col(textCol))
          .withColumn("__rn", row_number().over(w))
          .where(col("__rn") === 1).drop("__rn")
        val admitted = s.pinLocal(once
          .join(Dedup.cdcNoveltyAgainstIndex(once, idCol, textCol,
              indexDir, minSize, avgSize, maxSize)
            .where(col("novelty") >= minNovelty).select(col(idCol)),
            Seq(idCol))) // pin the decision before state writes
        if (!admitted.isEmpty) {
          // corpus FIRST (see the crash-ordering contract above)
          val corpusIds = readCorpus(spark, corpusDir, idCol, textCol)
            .select(col(idCol))
          admitted.join(corpusIds, Seq(idCol), "left_anti")
            .write.mode("append").parquet(corpusDir)
          ChunkIndex.append(
            Dedup.cdcChunkHashes(admitted, idCol, textCol, minSize,
              avgSize, maxSize), indexDir)
        }
      }}
      .start()

  /**
   * Streaming MEDIA ingestion gated by time-offset-robust sequence
   * matching: each micro-batch of [[graft.multimodal.MediaRow]]s is
   * hashed ONCE (`hashesOf` = [[graft.multimodal.Multimodal
   * .audioConstellationHashes]] for audio or [[graft.multimodal
   * .Multimodal.videoFrameHashes]] for video), matched WITHIN the
   * batch (smaller id survives) and against the PERSISTED hash index
   * of everything admitted so far, and only novel clips append to the
   * corpus — history payloads are never re-decoded; history
   * participates through fixed-width `(media_id, t, lh)` index rows
   * restricted to batch-touched hashes.
   *
   * State ordering per batch: index partition write BEFORE corpus
   * append — the [[nearDupIngestIncremental]] crash discipline (a
   * replay can only over-flag, never admit a duplicate; the batch's
   * own ids are excluded from the probed index so pre-crash writes
   * cannot shift hot-hash counts). Bootstrap: a non-empty corpus with
   * a missing/uncommitted index is re-hashed once and persisted
   * before the first batch is judged. Unique-id contract as in
   * [[nearDupIngestIncremental]].
   */
  def mediaSequenceIngest(stream: Dataset[graft.multimodal.MediaRow],
                          hashesOf: Dataset[graft.multimodal.MediaRow]
                            => DataFrame,
                          corpusDir: String, indexDir: String,
                          checkpointDir: String,
                          minVotes: Int = 32, maxBucket: Int = 1000,
                          trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch {
        (batch: Dataset[graft.multimodal.MediaRow], _: Long) =>
        Checkpoints.scoped { s =>
        import graft.multimodal.{MediaRow, Multimodal}
        val spark = batch.sparkSession
        val mediaEnc = org.apache.spark.sql.Encoders.product[MediaRow]
        val bh = s.pinLocal(hashesOf(batch))
        val index =
          if (hasCommittedParquet(spark, indexDir))
            spark.read.parquet(indexDir)
              .select(col("media_id"), col("t"), col("lh"))
          else if (hasCommittedParquet(spark, corpusDir)) {
            // materialize once: without the checkpoint the lazy plan
            // would decode + FFT the whole corpus TWICE (once for the
            // index write, again for the probe below)
            val built =
              s.pinLocal(hashesOf(spark.read.parquet(corpusDir).as(mediaEnc)))
            built.write.mode("overwrite")
              .parquet(s"$indexDir/batch_min_id=-1")
            built
          } else bh.limit(0)
        // replay safety: the batch's own pre-crash index partition
        // must not probe against itself
        val indexSansSelf = index.join(
          bh.select(col("media_id")).distinct(),
          Seq("media_id"), "left_anti")
        val vsHistory = Multimodal.sequenceProbeFromHashes(
            bh, indexSansSelf, minVotes, maxBucket)
          .select(col("new_id").as("media_id"))
        // within-batch: the larger id of each matched pair is dropped
        val withinBatch = Multimodal.sequencePairsFromHashes(
            bh, minVotes, maxBucket)
          .select(col("id_b").as("media_id"))
        val rejected = vsHistory.unionByName(withinBatch).distinct()
        val admitted = s.pinLocal(
          batch.join(rejected, Seq("media_id"), "left_anti").as(mediaEnc))
        if (!admitted.isEmpty) {
          val minId =
            admitted.agg(min(col("media_id"))).first().getLong(0)
          bh.join(admitted.select(col("media_id")),
              Seq("media_id"), "left_semi")
            .write.mode("overwrite")
            .parquet(s"$indexDir/batch_min_id=$minId")
          admitted.write.mode("append").parquet(corpusDir)
        }
        }
      }
      .start()

  /** True iff `path` exists AND holds at least one committed data
    * file. Bare existence is not enough: a crash during the FIRST
    * write to a directory (bootstrap index write, first corpus append)
    * can leave it existing but containing only an uncommitted
    * `_temporary` subtree — `spark.read.parquet` then throws "Unable to
    * infer schema" on EVERY replay, permanently bricking the stream
    * until manual cleanup. A directory with no committed data is
    * semantically absent and is treated as such (the replayed batch
    * rebuilds/rewrites it).
    *
    * "Committed data file" = any visible file outside `_temporary` —
    * the same rule Spark's own file listing applies (hidden `_`/`.`
    * names excluded). Deliberately NOT a `.parquet`-suffix check: a
    * corpus written by Hive/Trino-style committers has data files
    * named `000000_0` etc. which `spark.read.parquet` reads fine, and
    * treating such a corpus as an empty history would silently admit
    * every duplicate. */
  private[streaming] def hasCommittedParquet(spark: SparkSession,
                                             path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && {
      val it = fs.listFiles(p, true)
      var found = false
      while (!found && it.hasNext) {
        val f = it.next()
        val name = f.getPath.getName
        found = f.isFile &&
          !name.startsWith("_") && !name.startsWith(".") &&
          !f.getPath.toString.contains("/_temporary/")
      }
      found
    }
  }

  /** Persisted sketch bytes, through the Hadoop filesystem of `path`
    * (works on local disk, HDFS and object stores alike). None when
    * absent OR unreadable/corrupt (e.g. a torn write the temp+rename
    * below couldn't prevent on a rename-less object store) — the
    * caller's bootstrap path then rebuilds from the corpus, which is
    * always safe: dedup state ahead of the corpus only over-flags. */
  private def readSketch(spark: SparkSession,
                         path: String): Option[Array[Byte]] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else
      try {
        val in = fs.open(p)
        val bytes =
          try org.apache.commons.io.IOUtils.toByteArray(in)
          finally in.close()
        // validate before trusting: a corrupt sketch must route to the
        // rebuild path, not brick every subsequent batch. Two layers:
        // (1) structural check of the serialized header — version 1,
        // then numHashFunctions and the bit-array word count, which
        // must be positive and consistent with the byte length. This
        // catches the case NonFatal can't: torn bytes whose word count
        // reads as a huge POSITIVE int would OOM the long[] allocation
        // inside readFrom, and OutOfMemoryError is fatal — it would
        // escape any reasonable catch and brick every replay;
        // (2) NonFatal around the decode for everything else (short
        // reads → IOException, negative counts → NegativeArraySize).
        val din = new java.io.DataInputStream(
          new java.io.ByteArrayInputStream(bytes))
        val version = din.readInt()
        val numHashes = din.readInt()
        val numWords = din.readInt()
        // k outside [1, 64]: a torn k that reads huge-positive would
        // make every later mightContain probe loop ~2^31 hashes per
        // row (a hang, not an exception — uncatchable downstream);
        // k <= 0 would make every probe return true and silently
        // degrade the fast path. Real sketches keep k = numBits/items
        // * ln2, single digits; 64 is far beyond any sane sizing.
        if (version != 1 || numHashes <= 0 || numHashes > 64 ||
            numWords <= 0 || bytes.length < 12L + 8L * numWords) None
        else {
          org.apache.spark.util.sketch.BloomFilter.readFrom(bytes)
          Some(bytes)
        }
      } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Temp-file + rename so a crash mid-write cannot destroy the
    * previous sketch AND leave truncated bytes (rename is atomic on
    * HDFS/local; on object stores the validating read side covers the
    * residual window). */
  private def writeSketch(spark: SparkSession, path: String,
                          sketch: Option[Array[Byte]]): Unit =
    sketch.foreach { bytes =>
      val p = new org.apache.hadoop.fs.Path(path)
      val tmp = new org.apache.hadoop.fs.Path(path + ".tmp")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = fs.create(tmp, true)
      try out.write(bytes) finally out.close()
      fs.delete(p, false)
      if (!fs.rename(tmp, p))
        throw new java.io.IOException(s"could not move $tmp over $p")
    }

  /** Corpus-so-far, or a typed empty frame before the first append.
    * COMMITTED-data presence is the branch condition: a directory left
    * behind by a crashed first append (only `_temporary` inside) is
    * absent, not an error — but a read failure on a corpus with
    * committed files must still fail the batch (the stream retries),
    * not silently present an empty history and admit duplicates. */
  private def readCorpus(spark: SparkSession, dir: String,
                         idCol: String, textCol: String): DataFrame =
    if (hasCommittedParquet(spark, dir)) spark.read.parquet(dir)
    else
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(idCol,
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField(textCol,
            org.apache.spark.sql.types.StringType))))
}
