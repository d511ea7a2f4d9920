package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.streaming.EventsPipeline

/** Top-level for Encoder derivation. */
case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
              event_type: String, value: Double, props: String)

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ev(id: Long, hourOffsetMin: Int, user: Long, typ: String,
                 v: Double): Ev =
    Ev(id, Timestamp.valueOf(f"2024-01-01 ${10 + hourOffsetMin / 60}%02d:${hourOffsetMin % 60}%02d:00"),
      user, typ, v, "{}")

  private val batch1 = Seq(
    ev(1, 0, 1, "click", 1.0), ev(2, 10, 2, "click", 2.0),
    ev(3, 20, 1, "view", 3.0))
  private val batch2 = Seq( // two hours later → advances watermark past hour 10
    ev(4, 125, 3, "click", 4.0))

  test("hourlyRollup batch semantics") {
    val got = EventsPipeline.hourlyRollup(batch1.toDF())
      .collect().map(r => (r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == Set(("click", 2L, 3.0), ("view", 1L, 3.0)))
  }

  test("file-stream: watermark finalizes windows incrementally (append)") {
    val inDir = tmpDir()
    val ckDir = tmpDir()
    batch1.toDF().coalesce(1).write.mode("append").parquet(inDir)
    val stream = spark.readStream.schema(EventsPipeline.eventsSchema)
      .parquet(inDir)
    val q = EventsPipeline.hourlyRollup(stream).writeStream
      .outputMode("append")
      .option("checkpointLocation", ckDir)
      .format("memory").queryName("rollup_test")
      .start()
    try {
      q.processAllAvailable()
      // watermark hasn't passed hour-10's end yet → nothing finalized
      assert(spark.table("rollup_test").count() == 0)
      batch2.toDF().coalesce(1).write.mode("append").parquet(inDir)
      q.processAllAvailable()
      val got = spark.table("rollup_test").collect()
        .map(r => (r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(got == Set(("click", 2L, 3.0), ("view", 1L, 3.0)))
    } finally q.stop()
  }

  test("text quality/redact/sample ops run stateless in a stream") {
    // the per-row text operators (quality score, langId, PII redaction,
    // hash-sample predicate) are pure projections/filters — they must
    // compose into a streaming pipeline unchanged, with no state store
    val inDir = tmpDir()
    val ckDir = tmpDir()
    import graft.functions.TextAnalysis
    import graft.operators.Sampling
    Seq((1L, "the quick brown fox and the lazy dog mail me at a@b.co"),
      (2L, "der hund und die katze und der vogel im haus"),
      (3L, "the cat is on the mat and it is warm there"))
      .toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(inDir)
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING").parquet(inDir)
      .select(col("doc_id"),
        TextAnalysis.redactPii(col("text")).as("clean"),
        TextAnalysis.langId(col("text")).as("lang"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
      .where(Sampling.hashSamplePredicate(col("doc_id"), 1.0))
    val q = stream.writeStream.outputMode("append")
      .option("checkpointLocation", ckDir)
      .format("memory").queryName("textpipe_test").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("textpipe_test").collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
      assert(rows.size == 3)
      assert(rows(1L)._1.endsWith("mail me at <EMAIL>"))
      assert(rows(1L)._2 == "en" && rows(2L)._2 == "de")
    } finally q.stop()
  }

  test("dedupIngest: only new documents reach the corpus across batches") {
    import graft.streaming.IngestPipeline
    val inDir = tmpDir()
    val ckDir = tmpDir()
    val corpus = tmpDir() + "/corpus"
    Seq((1L, "doc one"), (2L, "doc two"), (3L, "doc one"))
      .toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(inDir)
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING").parquet(inDir)
    val q1 = IngestPipeline.dedupIngest(stream, "doc_id", "text",
      corpus, ckDir)
    q1.awaitTermination()
    val after1 = spark.read.parquet(corpus)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after1 == Map(1L -> "doc one", 2L -> "doc two")) // 3 in-batch dup
    // second wave: one repeat of history, one new
    Seq((4L, "doc two"), (5L, "doc three"))
      .toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(inDir)
    val q2 = IngestPipeline.dedupIngest(spark.readStream
      .schema("doc_id LONG, text STRING").parquet(inDir),
      "doc_id", "text", corpus, ckDir)
    q2.awaitTermination()
    val after2 = spark.read.parquet(corpus)
      .select("doc_id").as[Long].collect().toSet
    assert(after2 == Set(1L, 2L, 5L)) // 4 was already seen as text
  }

  test("bucketedIngest: streamed batches land in-bucket and the " +
      "downstream join stays exchange-free") {
    import graft.streaming.IngestPipeline
    import graft.sources.Bucketed
    val inDir = tmpDir()
    val ckDir = tmpDir()
    val base = tmpDir()
    // seed the bucketed tables (the write-once layout owner)
    val facts0 = (1L to 1000L).map(k => (k, (k % 5).toInt))
      .toDF("k", "v")
    Bucketed.writeBucketed(facts0, "sbi_facts", s"$base/facts", "k", 4)
    val dims = (1L to 2000L).map(k => (k, s"s${k % 3}"))
      .toDF("k2", "status")
    Bucketed.writeBucketed(dims, "sbi_dims", s"$base/dims", "k2", 4)
    // two streamed waves of new facts
    (1L to 2L).foreach { wave =>
      val lo = 1000L + 500L * (wave - 1L) + 1L
      (lo to lo + 499L).map(k => (k, (k % 5).toInt)).toDF("k", "v")
        .coalesce(1).write.mode("append").parquet(inDir)
      val q = IngestPipeline.bucketedIngest(
        spark.readStream.schema("k LONG, v INT").parquet(inDir),
        "sbi_facts", s"$base/facts", "k", 4, ckDir)
      q.awaitTermination()
    }
    val facts = Bucketed.attach(spark, "sbi_facts", "k BIGINT, v INT",
      "k", 4, "k", s"$base/facts")
    val dimsT = Bucketed.attach(spark, "sbi_dims",
      "k2 BIGINT, status STRING", "k2", 4, "k2", s"$base/dims")
    val joined = facts.join(dimsT.hint("merge"),
        facts("k") === dimsT("k2"))
      .groupBy($"status").agg(count(lit(1)).as("n"))
    val before = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      assert(joined.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e }.size == 1,
        "streamed appends must keep the join exchange-free")
    } finally spark.conf.set("spark.sql.adaptive.enabled", before)
    // every key 1..2000 joins exactly once (facts now reach 2000)
    assert(joined.agg(sum($"n")).collect()(0).getLong(0) == 2000L)
  }

  test("nearDupIngest rejects near-copies of history across batches") {
    import graft.streaming.IngestPipeline
    val inDir = tmpDir()
    val ckDir = tmpDir()
    val corpus = tmpDir() + "/corpus"
    val textA = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
    val textB = "one two three four five six seven eight nine ten " +
      "eleven twelve thirteen fourteen fifteen sixteen seventeen eighteen"
    val textC = "red orange yellow green blue indigo violet cyan " +
      "magenta teal maroon olive navy coral amber jade ruby pearl"
    Seq((1L, textA), (2L, textB)).toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(inDir)
    val q1 = IngestPipeline.nearDupIngest(spark.readStream
      .schema("doc_id LONG, text STRING").parquet(inDir),
      "doc_id", "text", corpus, ckDir)
    q1.awaitTermination()
    assert(spark.read.parquet(corpus).select("doc_id").as[Long]
      .collect().toSet == Set(1L, 2L)) // empty history: both admitted
    // second wave: 3 = exact repeat (bloom-flagged, exact-rejected);
    // 4 = one appended word, shingle jaccard 18/19 ≈ 0.947 — NOT an
    // exact match, only the minhash gate can reject it; 5 = novel
    Seq((3L, textA), (4L, textA + " extra"), (5L, textC))
      .toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(inDir)
    val q2 = IngestPipeline.nearDupIngest(spark.readStream
      .schema("doc_id LONG, text STRING").parquet(inDir),
      "doc_id", "text", corpus, ckDir)
    q2.awaitTermination()
    assert(spark.read.parquet(corpus).select("doc_id").as[Long]
      .collect().toSet == Set(1L, 2L, 5L))
  }

  test("nearDupIngestIncremental: persisted sketch + band index across " +
      "batches") {
    import graft.streaming.IngestPipeline
    val inDir = tmpDir()
    val ckDir = tmpDir()
    val base = tmpDir()
    val corpus = base + "/corpus"
    val index = base + "/bands"
    val sketch = base + "/sketch.bin"
    val textA = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
    val textB = "one two three four five six seven eight nine ten " +
      "eleven twelve thirteen fourteen fifteen sixteen seventeen eighteen"
    val textC = "red orange yellow green blue indigo violet cyan " +
      "magenta teal maroon olive navy coral amber jade ruby pearl"
    Seq((1L, textA), (2L, textB)).toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(inDir)
    IngestPipeline.nearDupIngestIncremental(spark.readStream
      .schema("doc_id LONG, text STRING").parquet(inDir),
      "doc_id", "text", corpus, index, sketch, ckDir,
      expectedItems = 1000L, numBits = 1L << 14).awaitTermination()
    assert(spark.read.parquet(corpus).select("doc_id").as[Long]
      .collect().toSet == Set(1L, 2L))
    // state materialized: band index rows for both docs, sketch file
    assert(spark.read.parquet(index).select("seen_id").distinct()
      .as[Long].collect().toSet == Set(1L, 2L))
    assert(new java.io.File(sketch).length() > 0)
    // wave 2 probes the PERSISTED state: exact repeat rejected via
    // sketch+anti-join, one-word edit rejected via the index, novel kept
    Seq((3L, textA), (4L, textA + " extra"), (5L, textC))
      .toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(inDir)
    IngestPipeline.nearDupIngestIncremental(spark.readStream
      .schema("doc_id LONG, text STRING").parquet(inDir),
      "doc_id", "text", corpus, index, sketch, ckDir,
      expectedItems = 1000L, numBits = 1L << 14).awaitTermination()
    assert(spark.read.parquet(corpus).select("doc_id").as[Long]
      .collect().toSet == Set(1L, 2L, 5L))
    assert(spark.read.parquet(index).select("seen_id").distinct()
      .as[Long].collect().toSet == Set(1L, 2L, 5L))
  }

  test("nearDupIngestIncremental: replay after a crash between state " +
      "writes and corpus append is idempotent") {
    import graft.streaming.IngestPipeline
    val inDir = tmpDir()
    val ckDir = tmpDir()
    val base = tmpDir()
    val corpus = base + "/corpus"
    val index = base + "/bands"
    val sketch = base + "/sketch.bin"
    val textA = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
    val textC = "red orange yellow green blue indigo violet cyan " +
      "magenta teal maroon olive navy coral amber jade ruby pearl"
    Seq((1L, textA)).toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(inDir)
    IngestPipeline.nearDupIngestIncremental(spark.readStream
      .schema("doc_id LONG, text STRING").parquet(inDir),
      "doc_id", "text", corpus, index, sketch, ckDir,
      expectedItems = 1000L, numBits = 1L << 14).awaitTermination()
    // SIMULATE the crash window: a wave-2 attempt (batch = exact repeat
    // 3 + novel 5) decided admitted = {5}, landed 5's bands and merged
    // 5's sketch, then DIED before the corpus append
    val admittedPreCrash = Seq((5L, textC)).toDF("doc_id", "text")
    graft.operators.Dedup.minhashBands(admittedPreCrash, "doc_id", "text")
      .withColumnRenamed("doc_id", "seen_id")
      .write.mode("overwrite").parquet(s"$index/batch_min_id=5")
    val merged = graft.operators.Dedup.mergeSeenSketches(
      graft.operators.Dedup.buildSeenSketch(Seq((1L, textA))
        .toDF("doc_id", "text"), "text", 1000L, 1L << 14),
      graft.operators.Dedup.buildSeenSketch(admittedPreCrash, "text",
        1000L, 1L << 14))
    java.nio.file.Files.write(java.nio.file.Paths.get(sketch), merged.get)
    // replay of the wave: doc 5's own pre-crash bands must not
    // self-match (or shift hot-key counts), its sketch over-flag must
    // drain through the exact anti-join, and the re-run must land the
    // SAME admitted set exactly once
    Seq((3L, textA), (5L, textC)).toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(inDir)
    IngestPipeline.nearDupIngestIncremental(spark.readStream
      .schema("doc_id LONG, text STRING").parquet(inDir),
      "doc_id", "text", corpus, index, sketch, ckDir,
      expectedItems = 1000L, numBits = 1L << 14).awaitTermination()
    val ids = spark.read.parquet(corpus).select("doc_id").as[Long].collect()
    assert(ids.sorted.toSeq == Seq(1L, 5L)) // no duplicate appends
    assert(spark.read.parquet(index).select("seen_id").distinct()
      .as[Long].collect().toSet == Set(1L, 5L))
  }

  test("nearDupIngestIncremental bootstraps state from an existing corpus") {
    import graft.streaming.IngestPipeline
    val inDir = tmpDir()
    val ckDir = tmpDir()
    val base = tmpDir()
    val corpus = base + "/corpus"
    val index = base + "/bands"
    val sketch = base + "/sketch.bin"
    val textA = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
    // a pre-existing corpus WITHOUT sketch/index (e.g. built by
    // dedupIngest, or state files lost) — a None sketch taken at face
    // value would disable dedup and admit the exact repeat
    Seq((1L, textA)).toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(corpus)
    Seq((10L, textA), (11L, textA + " extra"),
      (12L, "entirely novel words with no overlap at all whatsoever " +
        "in this freshly written document body"))
      .toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(inDir)
    IngestPipeline.nearDupIngestIncremental(spark.readStream
      .schema("doc_id LONG, text STRING").parquet(inDir),
      "doc_id", "text", corpus, index, sketch, ckDir,
      expectedItems = 1000L, numBits = 1L << 14).awaitTermination()
    assert(spark.read.parquet(corpus).select("doc_id").as[Long]
      .collect().toSet == Set(1L, 12L))
    // the bootstrapped state persisted: doc 1's bands + the sketch file
    assert(spark.read.parquet(index).select("seen_id").distinct()
      .as[Long].collect().toSet == Set(1L, 12L))
    assert(new java.io.File(sketch).length() > 0)
  }

  test("streamingDrift logs per-batch TV against a fixed reference") {
    import graft.streaming.DriftMonitor
    val inDir = tmpDir()
    val ckDir = tmpDir()
    val outDir = tmpDir() + "/drift"
    val ref = (0 until 100).map(i => i % 10).toDF("v") // uniform bins 0-9
    (0 until 100).map(i => i % 10).toDF("v").coalesce(1)
      .write.mode("append").parquet(inDir)
    val q1 = DriftMonitor.streamingDrift(spark.readStream
      .schema("v INT").parquet(inDir), ref, "v", 1.0, outDir, ckDir)
    q1.awaitTermination()
    // batch 1 matches the reference exactly: TV must be exactly 0
    val t1 = spark.read.parquet(outDir)
      .select("tv_distance").distinct().as[Double].collect().toSeq
    assert(t1 == Seq(0.0))
    // batch 2 is fully disjoint (bins 20-29): one-sided bins on both
    // ends, TV must be exactly 1 and the log keeps both trajectories
    (0 until 100).map(i => 20 + i % 10).toDF("v").coalesce(1)
      .write.mode("append").parquet(inDir)
    val q2 = DriftMonitor.streamingDrift(spark.readStream
      .schema("v INT").parquet(inDir), ref, "v", 1.0, outDir, ckDir)
    q2.awaitTermination()
    val log = spark.read.parquet(outDir)
    assert(log.select("tv_distance").distinct().as[Double]
      .collect().toSet == Set(0.0, 1.0))
    assert(log.where(col("tv_distance") === 1.0).count() == 20) // 10+10 bins
  }

  test("sliding windows emit overlapping buckets") {
    val got = EventsPipeline.slidingUserActivity(batch1.toDF()).collect()
    // each event lands in two 10-min windows sliding by 5
    assert(got.map(_.getLong(2)).sum == batch1.size * 2)
  }

  test("sessionizeBatch splits on >gap, aggregates per session") {
    // user 1: events at 10:00, 10:10 (one session), 11:00 (new session)
    val evs = Seq(ev(1, 0, 1, "a", 1.0), ev(2, 10, 1, "a", 2.0),
      ev(3, 60, 1, "a", 4.0), ev(4, 5, 2, "b", 8.0))
    val got = EventsPipeline.sessionizeBatch(evs.toDF(), gapMinutes = 30)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(4), r.getDouble(5)))
      .toMap
    assert(got.size == 3)
    assert(got((1L, 1L)) == (2L, 3.0)) // first session: 2 events, 1+2
    assert(got((1L, 2L)) == (1L, 4.0))
    assert(got((2L, 1L)) == (1L, 8.0))
  }

  test("streamingDedup drops republished events across batches") {
    val inDir = tmpDir()
    val ckDir = tmpDir()
    Seq(ev(1, 0, 1, "a", 1.0), ev(2, 5, 2, "a", 2.0))
      .toDF().coalesce(1).write.mode("append").parquet(inDir)
    val stream = spark.readStream.schema(EventsPipeline.eventsSchema)
      .parquet(inDir)
    val q = EventsPipeline.streamingDedup(stream, Seq("event_id"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckDir)
      .format("memory").queryName("dedup_test")
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("dedup_test").count() == 2)
      // batch 2 republishes event 1 (same id+ts) plus one new event
      Seq(ev(1, 0, 1, "a", 1.0), ev(3, 10, 1, "b", 3.0))
        .toDF().coalesce(1).write.mode("append").parquet(inDir)
      q.processAllAvailable()
      val ids = spark.table("dedup_test").collect()
        .map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L)) // republished event 1 dropped
    } finally q.stop()
  }

  test("streamingNearDupFilter drops exact re-posts of a document") {
    val inDir = tmpDir()
    val ckDir = tmpDir()
    val docBase = "the quick brown fox jumps over the lazy dog near the river"
    def doc(id: Long, min: Int, text: String) =
      (id, Timestamp.valueOf(f"2024-01-01 10:${min}%02d:00"), text)
    Seq(doc(1, 0, docBase), doc(2, 1, "totally different content here now"))
      .toDF("doc_id", "ts", "text").coalesce(1)
      .write.mode("append").parquet(inDir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.schema(schema).parquet(inDir)
    val q = EventsPipeline.streamingNearDupFilter(stream, "text")
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckDir)
      .format("memory").queryName("neardup_test")
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("neardup_test").count() == 2)
      // batch 2: doc 1 re-posted verbatim + one genuinely new doc
      Seq(doc(3, 5, docBase), doc(4, 6, "fresh unseen text with new words"))
        .toDF("doc_id", "ts", "text").coalesce(1)
        .write.mode("append").parquet(inDir)
      q.processAllAvailable()
      val ids = spark.table("neardup_test").collect()
        .map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(1L, 2L, 4L)) // re-post (id 3) dropped
    } finally q.stop()
  }

  private val docSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("ts",
      org.apache.spark.sql.types.TimestampType),
    org.apache.spark.sql.types.StructField("text",
      org.apache.spark.sql.types.StringType)))

  test("streamingBandedNearDupFilter drops partial-band near-dups") {
    val inDir = tmpDir()
    val ckDir = tmpDir()
    // same corpus as DedupSpec: base vs one-word-edit share >=1 band
    // (deterministic — xxhash64 family), distinct docs share none
    val base = "the quick brown fox jumps over the lazy dog while the " +
      "cat sleeps near the warm fire and the birds sing in the tall " +
      "green trees"
    def doc(id: Long, hhmm: String, text: String) =
      (id, Timestamp.valueOf(s"2024-01-01 $hhmm:00"), text)
    Seq(doc(1, "10:00", base),
      doc(2, "10:01", "completely different content about spark query " +
        "engines and distributed columnar execution with catalyst " +
        "optimizer rules"))
      .toDF("doc_id", "ts", "text").coalesce(1)
      .write.mode("append").parquet(inDir)
    val stream = spark.readStream.schema(docSchema).parquet(inDir)
    val q = EventsPipeline.streamingBandedNearDupFilter(stream,
      "doc_id", "text", watermarkDelay = "10 minutes")
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckDir)
      .format("memory").queryName("banded_test")
      .start()
    try {
      q.processAllAvailable()
      // batch 2: an EDITED near-dup of doc 1 (shares some but not all
      // bands — the case the signature-equality filter streams through),
      // one genuinely new doc, and a far-future doc to advance the
      // watermark past every earlier window
      Seq(doc(3, "10:06", base.replace("lazy", "sleepy")),
        doc(4, "10:07", "yet another unrelated document mentioning " +
          "parquet files arrow memory and zstd compression for " +
          "analytics workloads"),
        doc(99, "13:00", "watermark flusher sentinel completely distinct"))
        .toDF("doc_id", "ts", "text").coalesce(1)
        .write.mode("append").parquet(inDir)
      q.processAllAvailable()
      val ids = spark.table("banded_test").collect()
        .map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(1L, 2L, 4L)) // near-dup 3 dropped; 99 unflushed
    } finally q.stop()
  }

  test("batch and stream sessionization agree on closed sessions") {
    // same events through sessionizeBatch and sessionizeStream must
    // yield identical session tuples — guards both against drift
    val evs = Seq(ev(1, 0, 1, "a", 1.0), ev(2, 10, 1, "a", 2.0),
      ev(3, 60, 1, "a", 4.0), ev(4, 5, 2, "b", 8.0),
      ev(5, 45, 2, "b", 1.5))
    val flush = Seq(ev(99, 600, 999, "z", 0.0)) // closes all via watermark
    val inDir = tmpDir()
    val ckDir = tmpDir()
    evs.toDF().coalesce(1).write.mode("append").parquet(inDir)
    val stream = spark.readStream.schema(EventsPipeline.eventsSchema)
      .parquet(inDir)
    val q = EventsPipeline.sessionizeStream(stream, gapMinutes = 30)
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckDir)
      .format("memory").queryName("sess_equiv")
      .start()
    try {
      q.processAllAvailable()
      flush.toDF().coalesce(1).write.mode("append").parquet(inDir)
      q.processAllAvailable()
      def tuple(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
          r.getLong(3), r.getDouble(4))
      val streamGot = spark.table("sess_equiv").collect().map(tuple).toSet
      val batchGot = EventsPipeline
        .sessionizeBatch((evs ++ flush).toDF(), gapMinutes = 30)
        .where(col("user_id") =!= 999L) // flusher session still open
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"), col("sum_value"))
        .collect().map(tuple).toSet
      assert(streamGot == batchGot && streamGot.size == 4)
    } finally q.stop()
  }

  test("publishHourlySnapshots: updated partitions replaced, others intact") {
    val inDir = tmpDir()
    val ckDir = tmpDir()
    val outDir = tmpDir() + "/rollup.parquet"
    Seq(ev(1, 0, 1, "click", 1.0), ev(2, 10, 2, "click", 2.0),
      ev(3, 20, 1, "view", 3.0))
      .toDF().coalesce(1).write.mode("append").parquet(inDir)
    val stream = spark.readStream.schema(EventsPipeline.eventsSchema)
      .parquet(inDir)
    val q = EventsPipeline.publishHourlySnapshots(stream, outDir, ckDir,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    try q.awaitTermination(60000) finally q.stop()
    def snap() = spark.read.parquet(outDir)
      .select("event_type", "n_events", "sum_value").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(snap() == Set(("click", 2L, 3.0), ("view", 1L, 3.0)))
    // batch 2: one more click in hour 10 and a click two hours later —
    // the hour-10 click partition must be REPLACED (n 2→3), hour-10 view
    // left intact, and the new hour published
    Seq(ev(4, 30, 3, "click", 4.0), ev(5, 125, 1, "click", 8.0))
      .toDF().coalesce(1).write.mode("append").parquet(inDir)
    val q2 = EventsPipeline.publishHourlySnapshots(stream, outDir, ckDir,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    try q2.awaitTermination(60000) finally q2.stop()
    assert(snap() == Set(("click", 3L, 7.0), ("view", 1L, 3.0),
      ("click", 1L, 8.0)))
  }

  test("sessionizeNative (session_window) ≡ sessionizeBatch") {
    val evs = Seq(ev(1, 0, 1, "a", 1.0), ev(2, 10, 1, "a", 2.0),
      ev(3, 60, 1, "a", 4.0), ev(4, 5, 2, "b", 8.0),
      ev(5, 45, 2, "b", 1.5)).toDF()
    def tuples(df: org.apache.spark.sql.DataFrame) =
      df.select("user_id", "session_start", "session_end", "n_events",
        "sum_value").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
          r.getLong(3), r.getDouble(4))).toSet
    assert(tuples(EventsPipeline.sessionizeNative(evs, 30)) ==
      tuples(EventsPipeline.sessionizeBatch(evs, 30)))
  }

  test("stream-stream interval join: click joins only its recent view") {
    val inDir = tmpDir()
    val ckDir = tmpDir()
    Seq(ev(1, 0, 1, "view", 1.0), // view 10:00
      ev(2, 5, 1, "click", 2.0), // click 10:05 → joins view 1
      ev(3, 20, 1, "click", 3.0), // click 10:20 → view is 20 min old: no
      ev(4, 1, 2, "view", 4.0)) // user 2 never clicks
      .toDF().coalesce(1).write.mode("append").parquet(inDir)
    val stream = spark.readStream.schema(EventsPipeline.eventsSchema)
      .parquet(inDir)
    val q = EventsPipeline.clickViewJoin(
      stream.where(col("event_type") === "click"),
      stream.where(col("event_type") === "view"),
      withinMinutes = 10)
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckDir)
      .format("memory").queryName("ssjoin_test")
      .start()
    try {
      q.processAllAvailable()
      val got = spark.table("ssjoin_test").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
      assert(got == Set((1L, 2L, 1L))) // (user, click_id, view_id)
    } finally q.stop()
  }

  test("sessionizeStream: stateful sessions close on gap and watermark") {
    val inDir = tmpDir()
    val ckDir = tmpDir()
    // batch 1: user 1 session of two events (10:00, 10:10)
    Seq(ev(1, 0, 1, "a", 1.0), ev(2, 10, 1, "a", 2.0))
      .toDF().coalesce(1).write.mode("append").parquet(inDir)
    val stream = spark.readStream.schema(EventsPipeline.eventsSchema)
      .parquet(inDir)
    val q = EventsPipeline.sessionizeStream(stream, gapMinutes = 30)
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckDir)
      .format("memory").queryName("sessions_test")
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("sessions_test").count() == 0) // still open
      // batch 2: event at 11:30 → new session; watermark still behind
      Seq(ev(3, 90, 1, "a", 4.0)).toDF().coalesce(1)
        .write.mode("append").parquet(inDir)
      q.processAllAvailable()
      // batch 3: event at 13:00 advances watermark past 11:30+30min →
      // closes BOTH earlier sessions (10:00-10:10 and 11:30)
      Seq(ev(4, 180, 2, "b", 8.0)).toDF().coalesce(1)
        .write.mode("append").parquet(inDir)
      q.processAllAvailable()
      val rows = spark.table("sessions_test").collect()
        .map(r => (r.getLong(0), r.getLong(3), r.getDouble(4))).toSet
      assert(rows.contains((1L, 2L, 3.0))) // session 1: 2 events, sum 3
      assert(rows.contains((1L, 1L, 4.0))) // session 2: 1 event, sum 4
    } finally q.stop()
  }

  test("nearDupIngestIncremental: a dir holding only _temporary (crashed " +
      "first write) reads as absent, not as a bricked corpus") {
    import graft.streaming.IngestPipeline
    val inDir = tmpDir()
    val ckDir = tmpDir()
    val base = tmpDir()
    val corpus = base + "/corpus"
    val index = base + "/bands"
    val sketch = base + "/sketch.bin"
    // SIMULATE a crash during the very first write to both parquet
    // dirs: the directory exists but contains only an uncommitted
    // _temporary subtree — spark.read.parquet on it throws "Unable to
    // infer schema", so bare-existence probing would fail EVERY replay
    // debris lives where a crashed task leaves it: under the PENDING
    // attempts dir (_temporary/0/_temporary/attempt_*), which later
    // commits ignore — only the top-level existence is the trap
    for (d <- Seq(corpus, index)) {
      val t = new java.io.File(d,
        "_temporary/0/_temporary/attempt_0/part-00000.parquet")
      t.getParentFile.mkdirs()
      java.nio.file.Files.write(t.toPath, Array[Byte](1, 2, 3))
    }
    val textA = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
    Seq((1L, textA), (2L, textA)).toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(inDir)
    IngestPipeline.nearDupIngestIncremental(spark.readStream
      .schema("doc_id LONG, text STRING").parquet(inDir),
      "doc_id", "text", corpus, index, sketch, ckDir,
      expectedItems = 1000L, numBits = 1L << 14).awaitTermination()
    // replay succeeded: empty-history semantics, in-batch dedup applied
    assert(spark.read.parquet(corpus).select("doc_id").as[Long]
      .collect().toSet == Set(1L))
  }

  test("nearDupIngestIncremental: torn sketch bytes that decode to a " +
      "negative array size route to the rebuild path") {
    import graft.streaming.IngestPipeline
    val inDir = tmpDir()
    val ckDir = tmpDir()
    val base = tmpDir()
    val corpus = base + "/corpus"
    val index = base + "/bands"
    val sketch = base + "/sketch.bin"
    val textA = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
    // pre-existing corpus, and a corrupt sketch whose VERSION int still
    // reads as valid (1) but whose bit-array word count is negative —
    // BloomFilter.readFrom then throws NegativeArraySizeException, not
    // IOException; an IOException-only guard would fail every batch
    Seq((1L, textA)).toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(corpus)
    val bos = new java.io.ByteArrayOutputStream()
    val dos = new java.io.DataOutputStream(bos)
    dos.writeInt(1)    // V1 — passes the version check
    dos.writeInt(3)    // numHashFunctions
    dos.writeInt(-100) // BitArray numWords → new long[negative]
    dos.close()
    java.nio.file.Files.write(java.nio.file.Paths.get(sketch),
      bos.toByteArray)
    // batch: exact repeat of 1 (MUST be rejected — a sketch taken at
    // face value as None-without-rebuild would admit it) + novel doc
    val textC = "red orange yellow green blue indigo violet cyan " +
      "magenta teal maroon olive navy coral amber jade ruby pearl"
    Seq((10L, textA), (12L, textC)).toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(inDir)
    IngestPipeline.nearDupIngestIncremental(spark.readStream
      .schema("doc_id LONG, text STRING").parquet(inDir),
      "doc_id", "text", corpus, index, sketch, ckDir,
      expectedItems = 1000L, numBits = 1L << 14).awaitTermination()
    assert(spark.read.parquet(corpus).select("doc_id").as[Long]
      .collect().toSet == Set(1L, 12L))
    // the rebuilt sketch replaced the corrupt bytes with a readable one
    val fixed = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(sketch))
    org.apache.spark.util.sketch.BloomFilter.readFrom(fixed)
  }

  test("streamingHeavyHitters: per-batch summaries merge to exact " +
      "counts across batches") {
    import graft.streaming.FrequencyMonitor
    val inDir = tmpDir()
    val ckDir = tmpDir()
    val outDir = tmpDir() + "/hh"
    // batch 1: a x3, b x2, c x1
    (Seq.fill(3)("a") ++ Seq.fill(2)("b") ++ Seq("c")).toDF("v")
      .coalesce(1).write.mode("append").parquet(inDir)
    FrequencyMonitor.streamingHeavyHitters(
      spark.readStream.schema("v STRING").parquet(inDir), "v",
      capacity = 16, outDir, ckDir).awaitTermination()
    val after1 = FrequencyMonitor.runningTopK(spark, outDir, 16, 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(after1 == Seq(("a", 3L), ("b", 2L), ("c", 1L)))
    // batch 2 (same checkpoint → only the new file): b x4, d x2.
    // capacity ≥ cardinality → merged summary must be the EXACT union
    (Seq.fill(4)("b") ++ Seq.fill(2)("d")).toDF("v")
      .coalesce(1).write.mode("append").parquet(inDir)
    FrequencyMonitor.streamingHeavyHitters(
      spark.readStream.schema("v STRING").parquet(inDir), "v",
      capacity = 16, outDir, ckDir).awaitTermination()
    val merged = FrequencyMonitor.runningTopK(spark, outDir, 16, 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(merged == Seq(("b", 6L), ("a", 3L), ("c", 1L), ("d", 2L))
      .sortBy { case (k, c) => (-c, k) })
    // n_total rides the merged view
    val n = FrequencyMonitor.runningTopK(spark, outDir, 16, 1)
      .select("n_total").as[Long].collect()(0)
    assert(n == 12L)
    // the log keeps the per-batch trajectory: two distinct batch keys
    assert(spark.read.parquet(outDir)
      .select("batch_key").distinct().count() == 2)
  }

  test("streamingHeavyHitters: empty batches write nothing; merged " +
      "bound holds at small capacity") {
    import graft.streaming.FrequencyMonitor
    val inDir = tmpDir()
    val ckDir = tmpDir()
    val outDir = tmpDir() + "/hh"
    // heavy item x200 + 100 singletons, capacity 8:
    // bound = 300/9 ≈ 33 << 200 — the heavy must survive the merge
    val data = Seq.fill(200)("heavy") ++ (1 to 100).map(i => s"n_$i")
    new scala.util.Random(7).shuffle(data).toDF("v")
      .coalesce(2).write.mode("append").parquet(inDir)
    FrequencyMonitor.streamingHeavyHitters(
      spark.readStream.schema("v STRING").parquet(inDir), "v",
      capacity = 8, outDir, ckDir).awaitTermination()
    val top = FrequencyMonitor.runningTopK(spark, outDir, 8, 1)
      .collect()(0)
    assert(top.getString(0) == "heavy")
    val est = top.getLong(1)
    assert(est <= 200L && est >= 200L - (300L / 9 + 1),
      s"est $est outside the MG bound")
    // second run with the same checkpoint and NO new data: no new
    // batch partitions appear (empty batch guard)
    val before = spark.read.parquet(outDir)
      .select("batch_key").distinct().count()
    FrequencyMonitor.streamingHeavyHitters(
      spark.readStream.schema("v STRING").parquet(inDir), "v",
      capacity = 8, outDir, ckDir).awaitTermination()
    assert(spark.read.parquet(outDir)
      .select("batch_key").distinct().count() == before)
    // an all-empty-batches log reads as zero rows, not an exception
    val empty = FrequencyMonitor.runningTopK(spark,
      tmpDir() + "/never_written", 8, 5)
    assert(empty.count() == 0)
    assert(empty.columns.toSeq == Seq("item", "est", "n_total"))
  }

  test("qualityGate admits by perplexity, rejects OOV and short docs") {
    import graft.streaming.QualityMonitor
    import graft.functions.LanguageModel
    val inDir = tmpDir(); val ckDir = tmpDir()
    val admDir = tmpDir() + "/adm"; val stDir = tmpDir() + "/st"
    val model = LanguageModel.trainBigramLm(
      Seq("the cat sat on the mat").toDF("text"), "text")
    // in-domain ppl ~3.2, fully-OOV ppl = V = 5, "solo" unscorable
    Seq((1L, "the cat sat on the mat"), (2L, "zz qq ww ee rr tt"),
        (3L, "solo"))
      .toDF("id", "text").coalesce(1).write.mode("append").parquet(inDir)
    QualityMonitor.qualityGate(
      spark.readStream.schema("id LONG, text STRING").parquet(inDir),
      "id", "text", model, maxPpl = 4.0, admDir, stDir, ckDir)
      .awaitTermination()
    val adm = spark.read.parquet(admDir)
    assert(adm.select("id").as[Long].collect().toSeq == Seq(1L))
    // admitted rows keep their columns + ppl (~3.2 < 4)
    assert(adm.columns.toSet == Set("id", "text", "ppl", "batch_key"))
    val st = spark.read.parquet(stDir).collect()
    assert(st.length == 1)
    val r = st.head
    assert(r.getAs[Long]("n_in") == 3L)
    assert(r.getAs[Long]("n_scored") == 2L)   // "solo" unscorable
    assert(r.getAs[Long]("n_admitted") == 1L)
    assert(r.getAs[Double]("max_ppl") == 5.0) // fully-OOV doc: ppl = V

    // cross-batch: a second in-domain doc lands in its OWN partition;
    // the stats log becomes a two-row trajectory
    Seq((10L, "the cat sat on the mat")).toDF("id", "text")
      .coalesce(1).write.mode("append").parquet(inDir)
    QualityMonitor.qualityGate(
      spark.readStream.schema("id LONG, text STRING").parquet(inDir),
      "id", "text", model, maxPpl = 4.0, admDir, stDir, ckDir)
      .awaitTermination()
    assert(spark.read.parquet(admDir).select("id").as[Long]
      .collect().toSet == Set(1L, 10L))
    assert(spark.read.parquet(stDir).count() == 2L)
  }

  test("qualityGate releases its model pins when the query terminates") {
    import org.apache.spark.sql.streaming.Trigger
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    import graft.streaming.QualityMonitor
    import graft.functions.LanguageModel
    val inDir = tmpDir()
    val model = LanguageModel.trainBigramLm(
      Seq("the cat sat on the mat").toDF("text"), "text")
    Seq((1L, "the cat sat on the mat")).toDF("id", "text")
      .coalesce(1).write.mode("append").parquet(inDir)
    val sc = spark.sparkContext
    def gate(trigger: Trigger) = QualityMonitor.qualityGate(
      spark.readStream.schema("id LONG, text STRING").parquet(inDir),
      "id", "text", model, maxPpl = 4.0, tmpDir() + "/adm",
      tmpDir() + "/st", tmpDir(), trigger)
    def released(before: Set[Int]): Unit =
      eventually(timeout(30.seconds), interval(50.millis)) {
        assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
      }
    // stopped: the three model pins live while the query runs
    val before = sc.getPersistentRDDs.keySet.toSet
    val running = gate(Trigger.ProcessingTime("1 second"))
    assert((sc.getPersistentRDDs.keySet -- before).size >= 3)
    running.processAllAvailable()
    running.stop()
    released(before)
    // finished: an AvailableNow gate that ends by itself
    gate(Trigger.AvailableNow()).awaitTermination()
    released(before)
  }

  // ---- streaming CDC compaction ------------------------------------------

  test("CdcPipeline: change stream compacts to the latest snapshot") {
    import graft.streaming.CdcPipeline
    val inDir = tmpDir()
    val ckDir = tmpDir()
    val snapDir = tmpDir() + "/snapshot"
    // batch 1: three inserts
    Seq((1L, "a", 1L, false), (2L, "b", 1L, false), (3L, "c", 1L, false))
      .toDF("k", "v", "version", "is_delete")
      .coalesce(1).write.mode("append").parquet(inDir)
    val schema = "k LONG, v STRING, version LONG, is_delete BOOLEAN"
    CdcPipeline.upsertStream(
      spark.readStream.schema(schema).parquet(inDir),
      snapDir, ckDir, Seq("k"), "version", "is_delete", numBuckets = 4)
      .awaitTermination()
    assert(CdcPipeline.readSnapshot(spark, snapDir)
      .select("k", "v").collect().map(r => r.getLong(0) -> r.getString(1))
      .toMap == Map(1L -> "a", 2L -> "b", 3L -> "c"))
    // batch 2: update k=1, delete k=2, insert k=9
    Seq((1L, "a2", 2L, false), (2L, null, 2L, true), (9L, "new", 2L, false))
      .toDF("k", "v", "version", "is_delete")
      .coalesce(1).write.mode("append").parquet(inDir)
    CdcPipeline.upsertStream(
      spark.readStream.schema(schema).parquet(inDir),
      snapDir, ckDir, Seq("k"), "version", "is_delete", numBuckets = 4)
      .awaitTermination()
    assert(CdcPipeline.readSnapshot(spark, snapDir)
      .select("k", "v").collect().map(r => r.getLong(0) -> r.getString(1))
      .toMap == Map(1L -> "a2", 3L -> "c", 9L -> "new"))
  }

  test("CdcPipeline: time travel serves each bucket as of the epoch") {
    import graft.streaming.CdcPipeline
    val snapDir = tmpDir() + "/snap"
    def batch(rows: Seq[(Long, String, Long, Boolean)], epoch: Long) =
      CdcPipeline.applyBatch(spark,
        rows.toDF("k", "v", "version", "is_delete"), snapDir,
        Seq("k"), "version", "is_delete", numBuckets = 4, epoch = epoch)
    batch(Seq((1L, "a", 1L, false), (2L, "b", 1L, false)), 0L)
    batch(Seq((1L, "a2", 2L, false), (3L, "c", 2L, false)), 1L)
    batch(Seq((2L, null, 3L, true)), 2L)
    def state(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "v").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(state(CdcPipeline.readSnapshotAsOf(spark, snapDir, 0L)) ==
      Map(1L -> "a", 2L -> "b"))
    assert(state(CdcPipeline.readSnapshotAsOf(spark, snapDir, 1L)) ==
      Map(1L -> "a2", 2L -> "b", 3L -> "c"))
    assert(state(CdcPipeline.readSnapshotAsOf(spark, snapDir, 2L)) ==
      Map(1L -> "a2", 3L -> "c"))
    // as-of beyond the newest epoch = the current snapshot
    assert(state(CdcPipeline.readSnapshotAsOf(spark, snapDir, 99L)) ==
      state(CdcPipeline.readSnapshot(spark, snapDir)))
    // beyond retention (or never written) fails loudly
    intercept[IllegalArgumentException] {
      CdcPipeline.readSnapshotAsOf(spark, snapDir, -1L)
    }
  }

  test("CdcPipeline: a batch rewrites only the buckets it touches") {
    import graft.streaming.CdcPipeline
    val snapDir = tmpDir() + "/snap"
    val all = Seq((1L, "a", 1L, false), (2L, "b", 1L, false),
      (3L, "c", 1L, false), (4L, "d", 1L, false))
      .toDF("k", "v", "version", "is_delete")
    CdcPipeline.applyBatch(spark, all, snapDir, Seq("k"), "version",
      "is_delete", numBuckets = 8, epoch = 0L)
    val one = Seq((1L, "a2", 2L, false))
      .toDF("k", "v", "version", "is_delete")
    CdcPipeline.applyBatch(spark, one, snapDir, Seq("k"), "version",
      "is_delete", numBuckets = 8, epoch = 1L)
    // epoch 1 contains exactly the single touched bucket
    val e1 = new java.io.File(s"$snapDir/epoch=1")
      .listFiles.filter(_.isDirectory).map(_.getName).toSeq
    assert(e1.length == 1 && e1.head.startsWith("bucket="))
    // snapshot still complete: untouched buckets served from epoch 0
    assert(CdcPipeline.readSnapshot(spark, snapDir)
      .select("k", "v").collect().map(r => r.getLong(0) -> r.getString(1))
      .toMap == Map(1L -> "a2", 2L -> "b", 3L -> "c", 4L -> "d"))
  }

  test("CdcPipeline: narrower batch key type routes to the snapshot's buckets") {
    import graft.streaming.CdcPipeline
    val snapDir = tmpDir() + "/snap"
    val b0 = Seq((1L, "a", 1L, false), (2L, "b", 1L, false))
      .toDF("k", "v", "version", "is_delete")
    CdcPipeline.applyBatch(spark, b0, snapDir, Seq("k"), "version",
      "is_delete", numBuckets = 16, epoch = 0L)
    // same logical key arrives as INT: xxhash64(int) != xxhash64(long),
    // so without type alignment this update would land in a different
    // bucket and the stale long-keyed row would survive beside it
    val b1 = Seq((1, "a2", 2L, false)).toDF("k", "v", "version", "is_delete")
    CdcPipeline.applyBatch(spark, b1, snapDir, Seq("k"), "version",
      "is_delete", numBuckets = 16, epoch = 1L)
    val got = CdcPipeline.readSnapshot(spark, snapDir)
      .select("k", "v").collect().map(r => r.getLong(0) -> r.getString(1))
    assert(got.length == 2 && got.toMap == Map(1L -> "a2", 2L -> "b"))
  }

  test("CdcPipeline: later epochs' new columns survive the mixed-epoch read") {
    import graft.streaming.CdcPipeline
    val snapDir = tmpDir() + "/snap"
    val b0 = Seq((1L, "a", 1L, false), (2L, "b", 1L, false))
      .toDF("k", "v", "version", "is_delete")
    CdcPipeline.applyBatch(spark, b0, snapDir, Seq("k"), "version",
      "is_delete", numBuckets = 16, epoch = 0L)
    val b1 = Seq((1L, "a2", "extra", 2L, false))
      .toDF("k", "v", "w", "version", "is_delete")
    CdcPipeline.applyBatch(spark, b1, snapDir, Seq("k"), "version",
      "is_delete", numBuckets = 16, epoch = 1L)
    val snap = CdcPipeline.readSnapshot(spark, snapDir)
    // w must be visible regardless of which epoch's footer is sampled
    assert(snap.columns.contains("w"))
    val w = snap.select("k", "w").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(w == Map(1L -> Some("extra"), 2L -> None))
  }

  test("CdcPipeline: compaction folds all epochs; old ones become garbage") {
    import graft.streaming.CdcPipeline
    val snapDir = tmpDir() + "/snap"
    val b0 = Seq((1L, "a", 1L, false), (2L, "b", 1L, false),
      (3L, "c", 1L, false)).toDF("k", "v", "version", "is_delete")
    CdcPipeline.applyBatch(spark, b0, snapDir, Seq("k"), "version",
      "is_delete", numBuckets = 8, epoch = 0L)
    val b1 = Seq((1L, "a2", 2L, false), (2L, null, 2L, true))
      .toDF("k", "v", "version", "is_delete")
    CdcPipeline.applyBatch(spark, b1, snapDir, Seq("k"), "version",
      "is_delete", numBuckets = 8, epoch = 1L)
    val next = CdcPipeline.compactSnapshot(spark, snapDir, Seq("k"),
      numBuckets = 8)
    assert(next == 2L)
    // old epochs deleted: the compacted epoch alone serves the snapshot
    // (incl. k=2's tombstoned-empty bucket, materialized as zero rows)
    Seq(0L, 1L).foreach { e =>
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(s"$snapDir/epoch=$e"))
    }
    val got = CdcPipeline.readSnapshot(spark, snapDir)
      .select("k", "v").collect().map(r => r.getLong(0) -> r.getString(1))
      .toMap
    assert(got == Map(1L -> "a2", 3L -> "c"))
  }

  test("CdcPipeline: epoch commit is atomic — no staging residue, marker inside") {
    import graft.streaming.CdcPipeline
    val snapDir = tmpDir() + "/snap"
    val b0 = Seq((1L, "a", 1L, false), (2L, null, 1L, true))
      .toDF("k", "v", "version", "is_delete")
    CdcPipeline.applyBatch(spark, b0, snapDir, Seq("k"), "version",
      "is_delete", numBuckets = 4, epoch = 0L)
    val root = new java.io.File(snapDir)
    // the staging dir was renamed away, not left beside the epoch
    assert(root.listFiles.map(_.getName).forall(!_.startsWith(".batch-")),
      root.listFiles.map(_.getName).mkString(","))
    // the epoch is committed WITH its bucket-count marker and its
    // tombstoned-empty bucket sentinel (k=2 died in its own batch)
    assert(new java.io.File(s"$snapDir/epoch=0/_SUCCESS").isFile)
    assert(new java.io.File(s"$snapDir/epoch=0/_GRAFT_BUCKETS").isFile)
    val buckets = new java.io.File(s"$snapDir/epoch=0")
      .listFiles.filter(_.isDirectory).map(_.getName).toSet
    val expected = Seq(1L, 2L).toDF("k")
      .select(pmod(xxhash64(col("k")), lit(4L)).cast("int").as("b"))
      .collect().map(r => s"bucket=${r.getInt(0)}").toSet
    assert(buckets == expected, s"$buckets vs touched homes $expected")
    assert(CdcPipeline.readSnapshot(spark, snapDir)
      .select("k").collect().map(_.getLong(0)).toSet == Set(1L))
  }

  test("CdcPipeline: committed bucket count wins over a drifting parameter") {
    import graft.streaming.CdcPipeline
    val snapDir = tmpDir() + "/snap"
    val b0 = Seq((1L, "a", 1L, false), (2L, "b", 1L, false),
      (3L, "c", 1L, false), (4L, "d", 1L, false))
      .toDF("k", "v", "version", "is_delete")
    CdcPipeline.applyBatch(spark, b0, snapDir, Seq("k"), "version",
      "is_delete", numBuckets = 4, epoch = 0L)
    // a later caller passes a DIFFERENT bucket count: without adoption
    // the update hashes into a 32-bucket id, missing k=1's real home —
    // the stale row would survive beside the update in the read
    val b1 = (1L to 4L).map(k => (k, s"v$k", 2L, false))
      .toDF("k", "v", "version", "is_delete")
    CdcPipeline.applyBatch(spark, b1, snapDir, Seq("k"), "version",
      "is_delete", numBuckets = 32, epoch = 1L)
    val got = CdcPipeline.readSnapshot(spark, snapDir)
      .select("k", "v").collect().map(r => r.getLong(0) -> r.getString(1))
    assert(got.length == 4, s"stale rows survived: ${got.mkString(",")}")
    assert(got.toMap == Map(1L -> "v1", 2L -> "v2", 3L -> "v3", 4L -> "v4"))
    // epoch 1 only used ids < 4 (the committed count), never 32-space ids
    val e1 = new java.io.File(s"$snapDir/epoch=1")
      .listFiles.filter(_.isDirectory).map(_.getName.stripPrefix("bucket=").toInt)
    assert(e1.forall(_ < 4), e1.mkString(","))
    // compaction IS the re-bucketing path: its count becomes the layout's
    val next = CdcPipeline.compactSnapshot(spark, snapDir, Seq("k"),
      numBuckets = 8)
    val b2 = Seq((1L, "z", 3L, false)).toDF("k", "v", "version", "is_delete")
    CdcPipeline.applyBatch(spark, b2, snapDir, Seq("k"), "version",
      "is_delete", numBuckets = 4, epoch = 7L)
    assert(CdcPipeline.readSnapshot(spark, snapDir)
      .select("k", "v").collect().map(r => r.getLong(0) -> r.getString(1))
      .toMap == Map(1L -> "z", 2L -> "v2", 3L -> "v3", 4L -> "v4"))
    assert(next == 2L)
  }

  test("CdcPipeline: lossy key narrowing fails loudly, not silently") {
    import graft.streaming.CdcPipeline
    val snapDir = tmpDir() + "/snap"
    // snapshot stores INT keys
    val b0 = Seq((1, "a", 1L, false), (2, "b", 1L, false))
      .toDF("k", "v", "version", "is_delete")
    CdcPipeline.applyBatch(spark, b0, snapDir, Seq("k"), "version",
      "is_delete", numBuckets = 4, epoch = 0L)
    // a LONG key beyond int range would null/wrap under a plain cast and
    // merge under a corrupted key — must throw instead
    val big = Seq((1L << 40, "boom", 2L, false))
      .toDF("k", "v", "version", "is_delete")
    val e = intercept[IllegalArgumentException] {
      CdcPipeline.applyBatch(spark, big, snapDir, Seq("k"), "version",
        "is_delete", numBuckets = 4, epoch = 1L)
    }
    assert(e.getMessage.contains("do not fit"))
    // in-range long keys still align-and-apply fine
    val ok = Seq((1L, "a2", 2L, false)).toDF("k", "v", "version", "is_delete")
    CdcPipeline.applyBatch(spark, ok, snapDir, Seq("k"), "version",
      "is_delete", numBuckets = 4, epoch = 1L)
    assert(CdcPipeline.readSnapshot(spark, snapDir)
      .select("k", "v").collect().map(r => r.getInt(0) -> r.getString(1))
      .toMap == Map(1 -> "a2", 2 -> "b"))
  }

  test("CdcPipeline: replayed epoch is idempotent; torn epoch ignored") {
    import graft.streaming.CdcPipeline
    val snapDir = tmpDir() + "/snap"
    val b0 = Seq((1L, "a", 1L, false), (2L, "b", 1L, false))
      .toDF("k", "v", "version", "is_delete")
    CdcPipeline.applyBatch(spark, b0, snapDir, Seq("k"), "version",
      "is_delete", numBuckets = 4, epoch = 0L)
    val b1 = Seq((1L, "a2", 2L, false), (2L, null, 2L, true))
      .toDF("k", "v", "version", "is_delete")
    CdcPipeline.applyBatch(spark, b1, snapDir, Seq("k"), "version",
      "is_delete", numBuckets = 4, epoch = 1L)
    val after1 = CdcPipeline.readSnapshot(spark, snapDir)
      .select("k", "v").collect().map(r => r.getLong(0) -> r.getString(1))
      .toMap
    // replay epoch 1 (crash-after-commit rerun): same snapshot — the
    // rewrite lands at a FRESH epoch id (committed-max + 1), never on
    // top of a committed one
    CdcPipeline.applyBatch(spark, b1, snapDir, Seq("k"), "version",
      "is_delete", numBuckets = 4, epoch = 1L)
    val replayed = CdcPipeline.readSnapshot(spark, snapDir)
      .select("k", "v").collect().map(r => r.getLong(0) -> r.getString(1))
      .toMap
    assert(after1 == Map(1L -> "a2") && replayed == after1)
    assert(new java.io.File(s"$snapDir/epoch=1/_SUCCESS").isFile &&
      new java.io.File(s"$snapDir/epoch=2/_SUCCESS").isFile)
    // torn epoch: a directory without _SUCCESS must be invisible
    val torn = new java.io.File(s"$snapDir/epoch=9/bucket=0")
    torn.mkdirs()
    assert(CdcPipeline.readSnapshot(spark, snapDir)
      .select("k").collect().map(_.getLong(0)).toSet == Set(1L))
  }

  test("mediaSequenceIngest: delayed audio copies rejected across AND " +
      "within batches; index persists, history never re-decoded") {
    import graft.multimodal.{MediaCorpus, MediaRow, Multimodal}
    import graft.streaming.IngestPipeline
    val inDir = tmpDir()
    val ckDir = tmpDir()
    val base = tmpDir()
    val corpus = base + "/corpus"
    val index = base + "/seq_index"
    val mediaSchema = "media_id LONG, kind STRING, bytes BINARY, " +
      "meta STRUCT<width INT, height INT, sampleRate INT, nFrames INT>"
    def stream() = spark.readStream.schema(mediaSchema).parquet(inDir)
      .as[MediaRow]
    val all = MediaCorpus.offset(spark, 8, 6,
      base = 1000)(MediaCorpus.delayedWav(noiseLsb = 0))
      .collect().map(r => r.media_id -> r).toMap
    // wave 1: originals 0-3, PLUS a within-batch delayed copy of 2
    // (id 1002) — only 0-3 may land
    spark.createDataset(Seq(all(0L), all(1L), all(2L), all(3L),
        all(1002L))).coalesce(1)
      .write.mode("append").parquet(inDir)
    IngestPipeline.mediaSequenceIngest(stream(),
      Multimodal.audioConstellationHashes(_), corpus, index, ckDir,
      minVotes = 100).awaitTermination()
    assert(spark.read.parquet(corpus).select("media_id").as[Long]
      .collect().toSet == Set(0L, 1L, 2L, 3L))
    // wave 2: delayed copies of history (1000, 1003) + novels (4, 5)
    spark.createDataset(Seq(all(1000L), all(1003L), all(4L), all(5L)))
      .coalesce(1).write.mode("append").parquet(inDir)
    IngestPipeline.mediaSequenceIngest(stream(),
      Multimodal.audioConstellationHashes(_), corpus, index, ckDir,
      minVotes = 100).awaitTermination()
    assert(spark.read.parquet(corpus).select("media_id").as[Long]
      .collect().toSet == Set(0L, 1L, 2L, 3L, 4L, 5L))
    // the persisted index covers exactly the admitted clips
    assert(spark.read.parquet(index).select("media_id").as[Long]
      .collect().toSet == Set(0L, 1L, 2L, 3L, 4L, 5L))
  }

  test("mediaSequenceIngest composes with RATIO hashes: resampled " +
      "re-uploads rejected at the gate, novels admitted") {
    import graft.multimodal.{MediaCorpus, MediaRow, Multimodal}
    import graft.streaming.IngestPipeline
    val inDir = tmpDir()
    val ckDir = tmpDir()
    val base = tmpDir()
    val corpus = base + "/corpus"
    val index = base + "/ratio_index"
    val mediaSchema = "media_id LONG, kind STRING, bytes BINARY, " +
      "meta STRUCT<width INT, height INT, sampleRate INT, nFrames INT>"
    def stream() = spark.readStream.schema(mediaSchema).parquet(inDir)
      .as[MediaRow]
    val all = MediaCorpus.offset(spark, 8, 6,
      base = 2000)(MediaCorpus.resampledWav)
      .collect().map(r => r.media_id -> r).toMap
    // minVotes 60: planted ratio votes measured 85-113 on this fixture
    // class, chance <= 36 — the vote gate alone separates here (the
    // batch-path verify stage is the offline matcher's refinement)
    // wave 1: originals 0-3
    spark.createDataset(Seq(all(0L), all(1L), all(2L), all(3L)))
      .coalesce(1).write.mode("append").parquet(inDir)
    IngestPipeline.mediaSequenceIngest(stream(),
      Multimodal.audioConstellationRatioHashes(_), corpus, index, ckDir,
      minVotes = 60).awaitTermination()
    assert(spark.read.parquet(corpus).select("media_id").as[Long]
      .collect().toSet == Set(0L, 1L, 2L, 3L))
    // wave 2: RESAMPLED copies of history (2000, 2003) + novels (4, 5)
    // — the case the absolute-bin hash family cannot see at any gate
    spark.createDataset(Seq(all(2000L), all(2003L), all(4L), all(5L)))
      .coalesce(1).write.mode("append").parquet(inDir)
    IngestPipeline.mediaSequenceIngest(stream(),
      Multimodal.audioConstellationRatioHashes(_), corpus, index, ckDir,
      minVotes = 60).awaitTermination()
    assert(spark.read.parquet(corpus).select("media_id").as[Long]
      .collect().toSet == Set(0L, 1L, 2L, 3L, 4L, 5L))
    assert(spark.read.parquet(index).select("media_id").as[Long]
      .collect().toSet == Set(0L, 1L, 2L, 3L, 4L, 5L))
  }

  private val cdcLorem = (1 to 40).map(i =>
    s"alpha$i beta$i gamma$i delta$i").mkString(" ")
  private val cdcOther = (1 to 40).map(i =>
    s"red$i blue$i green$i yellow$i").mkString(" ")

  test("cdcNoveltyIngest: cross-batch novelty against the persisted " +
      "chunk index — copies of batch-1 docs score 0 and are rejected") {
    import graft.streaming.IngestPipeline
    val inDir = tmpDir()
    val ckDir = tmpDir()
    val base = tmpDir()
    val corpus = base + "/corpus"
    val index = base + "/chunkidx"
    // batch 1: two novel docs + a within-batch exact copy (one admits)
    Seq((1L, cdcLorem), (2L, cdcOther), (3L, cdcLorem))
      .toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(inDir)
    IngestPipeline.cdcNoveltyIngest(spark.readStream
      .schema("doc_id LONG, text STRING").parquet(inDir),
      "doc_id", "text", corpus, index, ckDir,
      minNovelty = 0.5, minSize = 16, avgSize = 32, maxSize = 256,
      buckets = 4).awaitTermination()
    assert(spark.read.parquet(corpus).select("doc_id").as[Long]
      .collect().toSet == Set(1L, 2L))
    // batch 2: exact copy of doc 1 (novelty 0 → reject), a mostly-
    // copied doc (shared suffix → below threshold → reject), a novel
    // doc (admit)
    Seq((10L, cdcLorem),
        (11L, "tiny prefix :: " + cdcLorem),
        (12L, (1 to 40).map(i => s"nova$i star$i moon$i").mkString(" ")))
      .toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(inDir)
    IngestPipeline.cdcNoveltyIngest(spark.readStream
      .schema("doc_id LONG, text STRING").parquet(inDir),
      "doc_id", "text", corpus, index, ckDir,
      minNovelty = 0.5, minSize = 16, avgSize = 32, maxSize = 256,
      buckets = 4).awaitTermination()
    assert(spark.read.parquet(corpus).select("doc_id").as[Long]
      .collect().toSet == Set(1L, 2L, 12L),
      "batch-2 copies must be rejected by the PERSISTED index")
    // the admitted batch-2 content is itself indexed now
    import graft.operators.Dedup
    val re = Dedup.cdcNoveltyAgainstIndex(
      Seq((99L, (1 to 40).map(i => s"nova$i star$i moon$i")
        .mkString(" "))).toDF("doc_id", "text"),
      "doc_id", "text", index, 16, 32, 256).collect()(0)
    assert(re.getDouble(3) == 0.0,
      s"admitted content must score 0 on re-probe, got $re")
  }

  test("cdcNoveltyIngest stays green over a compact mid-stream: the " +
      "versioned republish is invisible to the ingest gate") {
    import graft.streaming.IngestPipeline
    import graft.sources.ChunkIndex
    val inDir = tmpDir()
    val ckDir = tmpDir()
    val base = tmpDir()
    val corpus = base + "/corpus"
    val index = base + "/chunkidx"
    Seq((1L, cdcLorem), (2L, cdcOther))
      .toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(inDir)
    IngestPipeline.cdcNoveltyIngest(spark.readStream
      .schema("doc_id LONG, text STRING").parquet(inDir),
      "doc_id", "text", corpus, index, ckDir,
      minNovelty = 0.5, minSize = 16, avgSize = 32, maxSize = 256,
      buckets = 4).awaitTermination()
    // steady-state maintenance between micro-batch windows
    ChunkIndex.compact(spark, index)
    Seq((10L, cdcLorem), // copy of pre-compact history → reject
        (12L, (1 to 40).map(i => s"nova$i star$i moon$i").mkString(" ")))
      .toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(inDir)
    IngestPipeline.cdcNoveltyIngest(spark.readStream
      .schema("doc_id LONG, text STRING").parquet(inDir),
      "doc_id", "text", corpus, index, ckDir,
      minNovelty = 0.5, minSize = 16, avgSize = 32, maxSize = 256,
      buckets = 4).awaitTermination()
    assert(spark.read.parquet(corpus).select("doc_id").as[Long]
      .collect().toSet == Set(1L, 2L, 12L),
      "the compact must not change any admission decision")
    // and the post-compact append (batch-2 chunks) is itself probed
    // correctly after ANOTHER compact
    ChunkIndex.compact(spark, index)
    import graft.operators.Dedup
    val re = Dedup.cdcNoveltyAgainstIndex(
      Seq((99L, (1 to 40).map(i => s"nova$i star$i moon$i")
        .mkString(" "))).toDF("doc_id", "text"),
      "doc_id", "text", index, 16, 32, 256).collect()(0)
    assert(re.getDouble(3) == 0.0,
      "post-compact appended content must survive the next compact")
  }

  test("QuantileMonitor: per-batch KLL sketch log, running quantiles " +
      "over the union, exact N through merges") {
    import graft.streaming.QuantileMonitor
    val inDir = tmpDir()
    val ckDir = tmpDir()
    val outDir = tmpDir() + "/qlog"
    // wave 1: uniform 1..4000
    (1 to 4000).map(_.toDouble).toDF("v").coalesce(1)
      .write.mode("append").parquet(inDir)
    QuantileMonitor.streamingQuantiles(spark.readStream
      .schema("v DOUBLE").parquet(inDir), "v", outDir, ckDir)
      .awaitTermination()
    // wave 2: shifted block 10001..14000 — moves the global median
    (10001 to 14000).map(_.toDouble).toDF("v").coalesce(1)
      .write.mode("append").parquet(inDir)
    QuantileMonitor.streamingQuantiles(spark.readStream
      .schema("v DOUBLE").parquet(inDir), "v", outDir, ckDir)
      .awaitTermination()
    assert(spark.read.parquet(outDir).count() == 2,
      "one sketch row per non-empty batch")
    val r = QuantileMonitor.runningQuantiles(spark, outDir,
      Seq(0.25, 0.5, 0.75)).collect()(0)
    assert(r.getLong(1) == 8000L, "union N must be exact")
    val qs = r.getSeq[Double](0)
    // exact inclusive ranks of the estimates must sit within 2x the
    // advertised KLL bound (the q_kll_log gate, over the merged log)
    val all = ((1 to 4000) ++ (10001 to 14000)).map(_.toDouble).sorted
    Seq(0.25, 0.5, 0.75).zipWithIndex.foreach { case (rank, i) =>
      val exact = all.count(_ <= qs(i)).toDouble / all.size
      assert(math.abs(exact - rank) <= 0.033,
        s"rank $rank: estimate ${qs(i)} has exact rank $exact")
    }
    // the per-batch trajectory is readable directly: wave Ns recorded
    assert(spark.read.parquet(outDir).select("n_seen").as[Long]
      .collect().toSet == Set(4000L))
  }

  test("OverlapMonitor: per-batch theta sketch logs; exact-mode " +
      "union/intersection/difference across two streams") {
    import graft.streaming.OverlapMonitor
    val inA = tmpDir(); val inB = tmpDir()
    val ckA = tmpDir(); val ckB = tmpDir()
    val logA = tmpDir() + "/tlogA"; val logB = tmpDir() + "/tlogB"
    // stream A: keys 1..3000 over two batches; stream B: multiples
    // of 3 in 1..6000 (one batch). Overlap = 1000, A\B = 2000.
    def drain(in: String, ck: String, log: String): Unit =
      OverlapMonitor.streamingKeySketches(spark.readStream
        .schema("k LONG").parquet(in), "k", log, ck, lgK = 14)
        .awaitTermination()
    (1L to 1500L).toDF("k").coalesce(1).write.mode("append").parquet(inA)
    drain(inA, ckA, logA)
    (1501L to 3000L).toDF("k").coalesce(1).write.mode("append").parquet(inA)
    drain(inA, ckA, logA)
    (1L to 2000L).map(_ * 3).toDF("k").coalesce(1)
      .write.mode("append").parquet(inB)
    drain(inB, ckB, logB)
    assert(spark.read.parquet(logA).count() == 2,
      "one sketch row per non-empty batch")
    // lgK=14 >> 3000 distinct → exact mode: all three probes exact
    val da = OverlapMonitor.runningDistinct(spark, logA, 14).collect()(0)
    assert(da.getDouble(1) == 3000.0 && da.getDouble(0) == 3000.0)
    val ov = OverlapMonitor.overlap(spark, logA, logB, 14).collect()(0)
    assert(ov.getDouble(1) == 1000.0,
      s"overlap ${ov.getDouble(1)} != 1000 (multiples of 3 in 1..3000)")
    val nv = OverlapMonitor.novelty(spark, logA, logB, 14).collect()(0)
    assert(nv.getDouble(1) == 2000.0, s"novelty ${nv.getDouble(1)}")
    // replay idempotence: re-drain with a FRESH checkpoint into the
    // same log dir must overwrite its own epoch partitions, not
    // double-count — the lineage prefix isolates; union over BOTH
    // lineages' rows still reports the same exact set
    val ck2 = tmpDir()
    drain(inA, ck2, logA)
    val da2 = OverlapMonitor.runningDistinct(spark, logA, 14).collect()(0)
    assert(da2.getDouble(1) == 3000.0,
      "set union is idempotent — duplicate sketch rows cannot inflate")
  }

  test("cdcNoveltyIngest: replay after a crash between corpus append " +
      "and index append heals both states (no loss, no duplicates)") {
    import graft.streaming.IngestPipeline
    import graft.operators.Dedup
    import graft.sources.ChunkIndex
    val inDir = tmpDir()
    val base = tmpDir()
    val corpus = base + "/corpus"
    val index = base + "/chunkidx"
    Seq((1L, cdcLorem)).toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(inDir)
    // simulate the crash window: the batch's docs landed in the
    // CORPUS but the index append never ran (corpus-before-index is
    // the pipeline's write order), then the batch REPLAYS (fresh
    // checkpoint over the same input = Structured Streaming's replay)
    Seq((1L, cdcLorem)).toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(corpus)
    ChunkIndex.create(Dedup.cdcChunkHashes(
      Seq.empty[(Long, String)].toDF("doc_id", "text"),
      "doc_id", "text", 16, 32, 256), index, buckets = 4)
    IngestPipeline.cdcNoveltyIngest(spark.readStream
      .schema("doc_id LONG, text STRING").parquet(inDir),
      "doc_id", "text", corpus, index, tmpDir(),
      minNovelty = 0.5, minSize = 16, avgSize = 32, maxSize = 256,
      buckets = 4).awaitTermination()
    // no duplicate corpus rows...
    assert(spark.read.parquet(corpus).count() == 1)
    // ...and the index finally carries the doc's chunks (the
    // permanent-false-negative class the ordering contract forbids)
    val nov = Dedup.cdcNoveltyAgainstIndex(
      Seq((50L, cdcLorem)).toDF("doc_id", "text"),
      "doc_id", "text", index, 16, 32, 256).collect()(0)
    assert(nov.getDouble(3) == 0.0,
      s"replay must heal the index, got novelty $nov")
  }
}
