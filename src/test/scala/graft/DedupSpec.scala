package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog while the cat sleeps " +
      "near the warm fire and the birds sing in the tall green trees"
  // doc 2 = near-dup of 1 (one word changed); 3 = exact dup of 1; 4/5 distinct
  private lazy val docs = Seq(
    (1L, base),
    (2L, base.replace("lazy", "sleepy")),
    (3L, base),
    (4L, "completely different content about spark query engines and " +
      "distributed columnar execution with catalyst optimizer rules"),
    (5L, "yet another unrelated document mentioning parquet files arrow " +
      "memory and zstd compression for analytics workloads")
  ).toDF("doc_id", "text")

  test("exact dedup keeps deterministic survivor per key") {
    val out = Dedup.exact(docs, Seq("text"), "doc_id")
    val ids = out.select("doc_id").as[Long].collect().toSet
    assert(ids == Set(1L, 2L, 4L, 5L)) // 3 deduped into 1 (min id)
  }

  test("exactSummary counts copies per text hash") {
    val m = Dedup.exactSummary(docs, "text", "doc_id")
      .collect().map(r => r.getLong(2) -> r.getLong(1)).toMap
    assert(m(1L) == 2L) // docs 1+3
    assert(m(2L) == 1L)
  }

  test("minhash LSH finds near-dup and exact-dup pairs, not distinct docs") {
    val cand = Dedup.minhashCandidates(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand.contains((1L, 3L))) // exact dup always collides
    assert(cand.contains((1L, 2L)) || cand.contains((2L, 3L))) // near dup
    assert(!cand.contains((4L, 5L)))
  }

  test("ngram jaccard verification scores exact dup 1.0, filters unrelated") {
    val dups = Dedup.minhashDuplicates(docs, "doc_id", "text",
      minJaccard = 0.5)
    val m = dups.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(m((1L, 3L)) == 1.0)
    assert(m.keys.forall { case (a, b) => Set(1L, 2L, 3L)(a) && Set(1L, 2L, 3L)(b) })
  }

  test("simhash: exact dups same hash, near-dups low hamming") {
    val hs = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hs(1L) == hs(3L))
    assert(java.lang.Long.bitCount(hs(1L) ^ hs(2L)) <= 6)
    assert(java.lang.Long.bitCount(hs(1L) ^ hs(4L)) > 6)
  }

  test("simhashDuplicates blocks then verifies hamming") {
    val pairs = Dedup.simhashDuplicates(docs, "doc_id", "text", maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 3L)))
    assert(!pairs.exists { case (a, b) => b == 4L || a == 4L })
  }

  test("embedding near-dup via hyperplane LSH + cosine") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f, 0.5f, 0.2f)),
      (2L, Seq(0.99f, 0.01f, 0.5f, 0.2f)), // near-dup of 1
      (3L, Seq(-1.0f, 0.3f, -0.5f, 0.8f)),
      (4L, Seq(0.0f, 1.0f, -0.2f, -0.9f))
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingDuplicates(vecs, "vec_id", "embedding",
      planes = 6, minCosine = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("embedding dedup drops degenerate over-cap buckets (all-zero vecs)") {
    // 30 zero vectors share one hyperplane bucket; cosine(0,0) = 0 passes
    // minCosine = 0.0, so without the cap this emits 435 pairs. The cap
    // drops the whole bucket before quadratic expansion.
    val zeros = (1L to 30L).map(i => (i, Seq.fill(4)(0.0f)))
      .toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingDuplicates(zeros, "vec_id", "embedding",
      planes = 6, minCosine = 0.0, maxBucket = 10)
    assert(pairs.count() == 0)
  }

  test("simhash chunk blocking guarantees recall up to maxHamming") {
    // doc 2 sits within hamming 6 of docs 1/3 (asserted above); with
    // chunks derived as maxHamming+1 the pigeonhole guarantee makes the
    // pair a GUARANTEED candidate, even when its differing bits straddle
    // every one of the old fixed 16-bit chunks
    val pairs = Dedup.simhashDuplicates(docs, "doc_id", "text",
      maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 3L)))
  }

  test("simhash Manku blocking finds EVERY planted ≤8-bit-flip pair") {
    // fingerprint-level planting: 20 random fingerprints, each with a
    // partner at exactly (i % 9) ∈ [0, 8] flipped bits at random
    // positions — recall must be guaranteed by the pigeonhole over
    // concatenated chunk keys, whatever chunks the flips straddle
    val rnd = new scala.util.Random(42)
    val rows = (0 until 20).flatMap { i =>
      val fp = rnd.nextLong()
      val flips = rnd.shuffle((0 until 64).toList).take(i % 9)
      Seq((i.toLong, fp),
        (i + 1000L, flips.foldLeft(fp)((a, p) => a ^ (1L << p))))
    }.toDF("id", "fp")
    val pairs = Dedup.simhashPairsFromFingerprints(rows, "id", "fp",
      maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0 until 20).foreach { i =>
      assert(pairs.contains((i.toLong, i + 1000L)),
        s"planted pair ($i, ${i + 1000}) with ${i % 9} flips not found")
    }
  }

  test("simhashProbeIndex: full recall on planted flips, none beyond, " +
      "≡ brute force") {
    val rnd = new scala.util.Random(77)
    val index = (0 until 25).map(i => (i.toLong, rnd.nextLong()))
    // batch: for each indexed id i, a probe at exactly (i % 10) flips —
    // ≤8 must match, 9 must not
    val batch = index.map { case (i, fp) =>
      val flips = rnd.shuffle((0 until 64).toList).take((i % 10).toInt)
      (i + 1000L, flips.foldLeft(fp)((a, p) => a ^ (1L << p)))
    }
    val got = Dedup.simhashProbeIndex(batch.toDF("id", "fp"),
        index.toDF("id", "fp"), "id", "fp", maxHamming = 8)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2)))
      .toMap
    // brute force over batch × index
    val exp = (for {
      (bi, bfp) <- batch; (si, sfp) <- index
      d = java.lang.Long.bitCount(bfp ^ sfp) if d <= 8
    } yield ((bi, si), d)).toMap
    assert(got == exp)
    assert(exp.contains((1000L, 0L)) && !got.keySet.exists(_._1 == 1009L))
  }

  test("simhash blocking excludes pairs beyond maxHamming") {
    val fp = 0x0123456789ABCDEFL
    val flipped9 = (0 until 9).foldLeft(fp)((a, p) => a ^ (1L << (p * 7)))
    assert(java.lang.Long.bitCount(fp ^ flipped9) == 9)
    val df = Seq((1L, fp), (2L, flipped9)).toDF("id", "fp")
    assert(Dedup.simhashPairsFromFingerprints(df, "id", "fp",
      maxHamming = 8).count() == 0)
  }

  test("over-cap buckets are dropped but SURFACED via observe metric") {
    // 50 identical fingerprints (over the cap of 10 in every family) plus
    // one well-behaved pair: the big cohort's pairs must be dropped, the
    // small pair found, and the drop visible in the observe metric
    val df = ((1L to 50L).map((_, 42L)) ++ Seq((100L, -7L), (101L, -7L)))
      .toDF("id", "fp")
    val q = Dedup.simhashPairsFromFingerprints(df, "id", "fp",
      maxHamming = 3, maxBucket = 10)
    val pairs = q.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((100L, 101L)))
    val metrics = Dedup.bucketMetrics(q)
    assert(metrics.values.exists(_._2 > 0),
      s"no dropped-bucket metric in $metrics")
    assert(metrics.values.exists(_._3 == 50)) // the over-cap cohort's size
  }

  test("incrementalMinhash: batch near-dups vs corpus, novel docs clear") {
    val seen = docs // 1..5 from the fixture
    val batch = Seq(
      (10L, base),                          // exact copy of doc 1 → match
      (11L, base.replace("dog", "wolf")),   // near-dup of doc 1 → match
      (12L, "entirely novel text about streaming watermarks and " +
        "stateful aggregation semantics in structured streaming")
    ).toDF("doc_id", "text")
    val m = Dedup.incrementalMinhash(batch, seen, "doc_id", "text",
      minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(m.contains((10L, 1L)) && m.contains((10L, 3L))) // both copies
    assert(m.exists(_._1 == 11L))
    assert(!m.exists(_._1 == 12L))
  }

  test("selectSurvivors keeps cluster minima and untouched docs") {
    val corpus = Seq((1L, "a"), (2L, "a"), (3L, "a"), (7L, "unique"))
      .toDF("doc_id", "text")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("id", "cluster")
    val kept = Dedup.selectSurvivors(corpus, labels, "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 7L))
  }

  test("bloomSeenFlags: no false negatives, bounded false positives") {
    val seen = (1L to 500L).map(i => (i, s"history document number $i"))
      .toDF("doc_id", "text")
    val batch = ((1L to 50L).map(i => (i + 1000L, s"history document number $i"))
      ++ (1L to 200L).map(i => (i + 5000L, s"genuinely novel text $i")))
      .toDF("doc_id", "text")
    val flags = Dedup.bloomSeenFlags(batch, seen, "doc_id", "text",
      expectedItems = 500L, numBits = 1L << 16)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    // every true duplicate MUST be flagged — Bloom has no false negatives
    (1L to 50L).foreach(i => assert(flags(i + 1000L), s"dup $i unflagged"))
    // novel docs false-positive at the sketch rate, not wholesale
    val fp = (1L to 200L).count(i => flags(i + 5000L))
    assert(fp < 20, s"false-positive count $fp out of 200")
  }

  test("bloomSeenFlags: empty history flags nothing (no NULL flags)") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val batch = Seq((1L, "anything at all")).toDF("doc_id", "text")
    val rows = Dedup.bloomSeenFlags(batch, empty, "doc_id", "text")
      .collect()
    // the flag must be a REAL false — a null would fail both the
    // flagged route and its negation and silently lose the batch
    assert(rows.length == 1 && !rows.head.isNullAt(2) &&
      !rows.head.getBoolean(2))
  }

  test("buildSeenSketch rejects sizes beyond the aggregate's clamp") {
    val seen = Seq((1L, "doc")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Dedup.buildSeenSketch(seen, "text",
        expectedItems = 1L << 40, numBits = 1L << 40)
    }
  }

  test("ingestAdmission: an over-cap sketch fails with its own error " +
      "and releases the background bands pin") {
    val seen = Seq((1L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val batch = Seq((2L, "zeta eta theta iota kappa")).toDF("doc_id", "text")
    // compared by id, not count: the context cleaner may free an
    // earlier test's RDD meanwhile
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val before = persisted
    val e = intercept[IllegalArgumentException] {
      Dedup.ingestAdmission(batch, seen, "doc_id", "text",
        numBits = 1L << 40)
    }
    assert(e.getMessage.contains("exceeds BloomFilterAggregate's clamp"))
    assert(persisted.diff(before).isEmpty)
  }

  test("ingestAdmission: empty history admits batch minus in-batch dups; " +
      "near-dups of history are rejected") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val textA = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
    val batch = Seq((1L, textA), (2L, "totally different words here " +
      "one two three four five six seven eight nine ten"), (3L, textA))
      .toDF("doc_id", "text")
    // empty history: no sketch, no bands — within-batch exact dedup only
    val got1 = Dedup.ingestAdmission(batch, empty, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(got1 == Set(1L, 2L)) // 3 is an in-batch copy of 1
    // history = textA: exact re-ingest rejected by bloom+exact; a
    // one-word edit passes both and only the minhash gate rejects it
    val history = Seq((100L, textA)).toDF("doc_id", "text")
    val batch2 = Seq((10L, textA), (11L, textA + " extra"),
      (12L, "novel completely unrelated content with many fresh words " +
        "spread across the whole document body"))
      .toDF("doc_id", "text")
    val got2 = Dedup.ingestAdmission(batch2, history, "doc_id", "text",
      minJaccard = 0.8).select("doc_id").as[Long].collect().toSet
    assert(got2 == Set(12L))
  }

  test("ingestAdmission keyOf=normalizeForDedup rejects a case-only " +
      "copy the raw path admits") {
    val textA = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
    val history = Seq((100L, textA)).toDF("doc_id", "text")
    // uppercased + punctuated copy: different exact hash AND different
    // case-sensitive shingles — invisible to both raw gates
    val batch = Seq((10L, textA.toUpperCase + "!!!"),
      (11L, "novel completely unrelated content with many fresh words"))
      .toDF("doc_id", "text")
    val raw = Dedup.ingestAdmission(batch, history, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(raw == Set(10L, 11L)) // the reformatted copy slips through
    val normed = Dedup.ingestAdmission(batch, history, "doc_id", "text",
      keyOf = graft.functions.TextAnalysis.normalizeForDedup)
      .select("doc_id").as[Long].collect().toSet
    assert(normed == Set(11L)) // normalized key collides with history
  }

  test("keyOf contract: a sketch built WITHOUT the probe's keyOf " +
      "loses the no-false-negative guarantee (documented failure mode)") {
    // history text whose RAW form differs from its normalized key
    // (case + punctuation), so a raw-keyed sketch holds a hash the
    // normalized probe will never ask about
    val textA = "Alpha, beta. Gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi rho sigma tau upsilon!"
    val history = Seq((100L, textA)).toDF("doc_id", "text")
    val batch = Seq((10L, textA.toUpperCase))
      .toDF("doc_id", "text")
    val norm = graft.functions.TextAnalysis.normalizeForDedup(_)
    // RAW-keyed sketch probed with NORMALIZED keys: the normalized
    // key of the copy was never inserted, the Bloom gate waves it
    // through, and the duplicate is admitted — exactly why
    // ingestAdmissionAgainstState documents that persisted state and
    // probe MUST share keyOf
    val rawSketch = Dedup.buildSeenSketch(history, "text", 1000L, 1L << 14)
    val bands = Dedup.minhashBands(history, "doc_id", "text")
      .withColumnRenamed("doc_id", "seen_id")
    val mismatched = Dedup.ingestAdmissionAgainstState(batch, history,
      rawSketch, bands, "doc_id", "text", keyOf = norm)
      .select("doc_id").as[Long].collect().toSet
    assert(mismatched == Set(10L)) // duplicate slips through
    // consistently normalized state rejects it
    val normSketch = Dedup.buildSeenSketch(history, "text", 1000L,
      1L << 14, keyOf = norm)
    val consistent = Dedup.ingestAdmissionAgainstState(batch, history,
      normSketch, bands, "doc_id", "text", keyOf = norm)
      .select("doc_id").as[Long].collect().toSet
    assert(consistent.isEmpty)
  }

  test("mergeSeenSketches: merged sketch flags both sides' texts") {
    val h1 = Seq((1L, "first history doc")).toDF("doc_id", "text")
    val h2 = Seq((2L, "second history doc")).toDF("doc_id", "text")
    val s1 = Dedup.buildSeenSketch(h1, "text", 1000L, 1L << 14)
    val s2 = Dedup.buildSeenSketch(h2, "text", 1000L, 1L << 14)
    val merged = Dedup.mergeSeenSketches(s1, s2)
    val batch = Seq((10L, "first history doc"), (11L, "second history doc"),
      (12L, "a genuinely novel doc")).toDF("doc_id", "text")
    val flags = Dedup.bloomFlagsFromSketch(batch, "doc_id", "text", merged)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(flags(10L) && flags(11L)) // no false negatives from either side
    // None behaves as the empty history on either side
    assert(Dedup.mergeSeenSketches(None, s1) == s1)
    assert(Dedup.mergeSeenSketches(s2, None) == s2)
  }

  test("incrementalMinhashAgainstIndex matches the inline-index form") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten"),
      (3L, "red orange yellow green blue indigo violet cyan teal navy"))
      .toDF("doc_id", "text")
    val batch = docs.where(col("doc_id") <= 2)
      .select((col("doc_id") + 100L).as("doc_id"), col("text"))
    val index = Dedup.minhashBands(docs, "doc_id", "text")
      .withColumnRenamed("doc_id", "seen_id")
    val viaIndex = Dedup.incrementalMinhashAgainstIndex(
        batch, index, docs, "doc_id", "text", minJaccard = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val inline = Dedup.incrementalMinhash(batch, docs, "doc_id", "text",
        minJaccard = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaIndex == inline)
    assert(viaIndex == Set((101L, 1L), (102L, 2L)))
  }

  test("duplicateClusters: min-label connected components") {
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val got = Dedup.duplicateClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L))
  }

  test("duplicateClusters converges on a long chain (multi-iteration)") {
    // path graph 1-2-3-...-9: min label must travel the full diameter
    val pairs = (1L until 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.duplicateClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (1L to 9L).map(_ -> 1L).toMap)
  }

  test("duplicateClusters: pointer jumping beats the diameter (300-chain)") {
    // a 300-node path has diameter 299 — plain min-label propagation
    // could never converge inside maxIters=20; pointer doubling must
    // (log2(300) ≈ 8.2 halving rounds)
    val pairs = (1L until 300L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.duplicateClusters(pairs, maxIters = 20).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (1L to 300L).map(_ -> 1L).toMap)
  }

  test("duplicateClusters: O(log diameter) convergence bound (2^10 chain)") {
    // locks the pointer-jumping guarantee a bench can't see: a path of
    // 2^10 nodes (diameter 1023) must fully label to the min within
    // 2 (propagation-only warm rounds) + ceil(log2(diameter)) + 4 slack
    // = 16 rounds. maxIters IS the bound: if the jump regressed to plain
    // propagation, 16 rounds reach only ~16 hops from node 1 and every
    // farther node keeps a wrong label, failing the assertion.
    val n = 1 << 10
    val rounds = 2 + (math.log(n - 1) / math.log(2)).ceil.toInt + 4
    val pairs = (1L until n.toLong).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.duplicateClusters(pairs, maxIters = rounds).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (1L to n.toLong).map(_ -> 1L).toMap)
  }

  test("cosine function exact on known vectors") {
    val df = Seq((Seq(1.0, 0.0), Seq(0.0, 1.0)),
      (Seq(1.0, 1.0), Seq(1.0, 1.0))).toDF("a", "b")
      .select(Similarity.cosine(col("a"), col("b")).as("c"))
    val got = df.as[Double].collect()
    assert(math.abs(got(0)) < 1e-12)
    assert(math.abs(got(1) - 1.0) < 1e-12)
  }

  // ---- span cut extraction ------------------------------------------------

  // spanWords = 3 throughout: windows small enough to hand-compute.
  // A and B share the token run "c d e f" (windows "c d e" + "d e f"
  // → overlapping intervals that must merge); C repeats both 3-grams
  // in two SEPARATED places (two disjoint intervals); D is all-unique.
  private lazy val spanDocs = Seq(
    (1L, "a b c d e f g h"),
    (2L, "x y c d e f z"),
    (3L, "m n c d e o p q d e f r s"),
    (4L, "u1 u2 u3 u4 u5 u6")
  ).toDF("doc_id", "text")

  test("duplicateSpanCuts: overlapping dup windows merge into maximal " +
      "intervals; separated runs stay disjoint") {
    val cuts = Dedup.duplicateSpanCuts(spanDocs, "doc_id", "text",
      spanWords = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    // A: dup windows at starts 2,3 → [2,5)∪[3,6) merged = [2,6)
    // B: same relative position → [2,6)
    // C: "c d e" at 2 → [2,5); "d e f" at 8 → [8,11); gap stays open
    // D: no cuts at all
    assert(cuts == Set((1L, 2L, 6L), (2L, 2L, 6L),
      (3L, 2L, 5L), (3L, 8L, 11L)))
  }

  test("rewriteWithoutSpans drops exactly the cut tokens; cut-free docs " +
      "pass through") {
    val cuts = Dedup.duplicateSpanCuts(spanDocs, "doc_id", "text",
      spanWords = 3)
    val got = Dedup.rewriteWithoutSpans(spanDocs, cuts, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "a b g h")
    assert(got(2L) == "x y z")
    assert(got(3L) == "m n o p q r s")
    assert(got(4L) == "u1 u2 u3 u4 u5 u6")
  }

  test("duplicateSpans and duplicateSpanCuts: 128-bit keys agree with " +
      "64-bit on every output") {
    val all = docs.unionByName(spanDocs)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(Dedup.duplicateSpans(all, "doc_id", "text", 3, 64)) ==
      rows(Dedup.duplicateSpans(all, "doc_id", "text", 3, 128)))
    assert(rows(Dedup.duplicateSpanCuts(all, "doc_id", "text", 3, 64)) ==
      rows(Dedup.duplicateSpanCuts(all, "doc_id", "text", 3, 128)))
    assert(rows(Dedup.contaminationScore(docs, spanDocs, "doc_id", "text",
        shingleWords = 3, hashBits = 64)) ==
      rows(Dedup.contaminationScore(docs, spanDocs, "doc_id", "text",
        shingleWords = 3, hashBits = 128)))
    intercept[IllegalArgumentException] {
      Dedup.duplicateSpans(all, "doc_id", "text", 3, 96).collect()
    }
    // contaminationSketch is 64-bit-only (theta agg keys on a single
    // long; sketch error dwarfs collision mass) — named error, not an
    // analysis-time type failure deep in ThetaSketchAgg
    val e = intercept[IllegalArgumentException] {
      Dedup.contaminationSketch(docs, spanDocs, "text",
        shingleWords = 3, hashBits = 128)
    }
    assert(e.getMessage.contains("hashBits=64"), e.getMessage)
  }

  test("contaminationSketchLog + contaminationFromLog: the persisted " +
      "per-shard log answers exactly what the batch form computes") {
    val dir = tmpDir("theta-log")
    val all = docs.withColumn("src",
        when(col("doc_id") <= 2, "bench").otherwise(
          concat(lit("s"), col("doc_id") % 2)))
      .unionByName(spanDocs.withColumn("src", lit("s9")))
    Dedup.contaminationSketchLog(all, "text", "src", s"$dir/log",
      shingleWords = 3, lgK = 16)
    val fromLog = Dedup.contaminationFromLog(spark, s"$dir/log",
      benchShards = Seq("bench"), lgK = 16).collect()(0)
    val batch = Dedup.contaminationSketch(
      all.where(col("src") =!= "bench"),
      all.where(col("src") === "bench"), "text",
      shingleWords = 3, lgK = 16).collect()(0)
    // union-of-shards == one-shot sketch, field by field (exact mode:
    // tiny corpora ≪ 2^16)
    assert(fromLog.toSeq == batch.toSeq,
      s"log $fromLog vs batch $batch")
    // duplicate shard rows are idempotent (A ∪ A = A): re-append the
    // same shards and probe again
    val log1 = spark.read.parquet(s"$dir/log")
    log1.write.mode("append").partitionBy("shard")
      .parquet(s"$dir/log2")
    log1.write.mode("append").partitionBy("shard")
      .parquet(s"$dir/log2")
    val doubled = Dedup.contaminationFromLog(spark, s"$dir/log2",
      benchShards = Seq("bench"), lgK = 16).collect()(0)
    assert(doubled.toSeq == batch.toSeq)
    intercept[IllegalArgumentException] {
      Dedup.contaminationFromLog(spark, s"$dir/log", Seq(), 16)
    }
    // upsert: refresh ONE shard's data; the probe reflects it and
    // the other shards' rows are untouched
    val before = spark.read.parquet(s"$dir/log")
      .select("shard", "n_shingle_rows")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    Dedup.contaminationSketchLogUpsert(
      all.where(col("src") === "s9")
        .withColumn("text", concat(col("text"), lit(" zz9 zz8 zz7"))),
      "text", "src", s"$dir/log", shingleWords = 3, lgK = 16)
    val after = spark.read.parquet(s"$dir/log")
      .select("shard", "n_shingle_rows")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after.keySet == before.keySet)
    assert(after("s9") > before("s9"), "refreshed shard must change")
    assert(after.removed("s9") == before.removed("s9"),
      "untouched shards must keep their rows byte-for-byte")
  }

  // ---- semantic dedup -----------------------------------------------------

  test("semanticDuplicates finds identical embeddings within IVF cells; " +
      "semanticDedup keeps the min id per group") {
    // two planted identical groups far apart in direction, plus noise
    // vectors near-orthogonal to both; nlist=2 so each group's copies
    // must land in one cell together (deterministic assignment)
    val vecs = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0)),
      (11L, Seq(1.0, 0.0, 0.0, 0.0)),   // copy of 1
      (21L, Seq(1.0, 0.0, 0.0, 0.0)),   // copy of 1
      (2L, Seq(0.0, 1.0, 0.0, 0.0)),
      (12L, Seq(0.0, 1.0, 0.0, 0.0)),   // copy of 2
      (5L, Seq(0.0, 0.0, 1.0, 0.0)),
      (6L, Seq(0.0, 0.0, 0.0, 1.0))
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.semanticDuplicates(vecs, "vec_id", "embedding",
      nlist = 2, minCosine = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 11L)) && pairs.contains((1L, 21L)) &&
      pairs.contains((11L, 21L)))
    assert(pairs.contains((2L, 12L)))
    assert(!pairs.exists(p => Set(5L, 6L).contains(p._1) ||
      Set(5L, 6L).contains(p._2)))
    val survivors = Dedup.semanticDedup(vecs, "vec_id", "embedding",
      nlist = 2, minCosine = 0.999)
      .select("vec_id").as[Long].collect().toSet
    assert(survivors == Set(1L, 2L, 5L, 6L))
  }

  test("semanticDedup keepPolicy=farthest keeps the member least like " +
      "its group mean; identical copies tie-break to min id") {
    // group A: 1 and 2 almost identical, 3 slightly rotated away — all
    // pairwise cosines clear 0.999 (max angle ~1.7°), the mean sits at
    // ~0.76° and 3 is the least similar to it (~1e-4 margin) → keep 3.
    // group B: exact copies 10/11 → tie on similarity → min id 10.
    val e = 0.01
    val vecs = Seq(
      (1L, Seq(1.0, 0.0, 0.0)),
      (2L, Seq(1.0, e, 0.0)),
      (3L, Seq(1.0, 3 * e, 0.0)),
      (10L, Seq(0.0, 0.0, 1.0)),
      (11L, Seq(0.0, 0.0, 1.0)),
      (50L, Seq(0.0, 1.0, 0.0))    // singleton: passes through
    ).toDF("vec_id", "embedding")
    val got = Dedup.semanticDedup(vecs, "vec_id", "embedding",
      nlist = 2, minCosine = 0.999, keepPolicy = "farthest")
      .select("vec_id").as[Long].collect().toSet
    assert(got == Set(3L, 10L, 50L))
    intercept[IllegalArgumentException] {
      Dedup.semanticDedup(vecs, "vec_id", "embedding",
        keepPolicy = "median")
    }
  }

  test("semanticDedup on an empty corpus returns the empty frame") {
    val empty = Seq.empty[(Long, Seq[Double])].toDF("vec_id", "embedding")
    assert(Dedup.semanticDedup(empty, "vec_id", "embedding").count() == 0)
  }

  test("incrementalSemantic: batch copies match their corpus source; " +
      "novel directions clear; empty corpus matches nothing") {
    val corpus = Seq(
      (1L, Seq(1.0, 0.0, 0.0)),
      (2L, Seq(0.0, 1.0, 0.0)),
      (3L, Seq(0.0, 0.0, 1.0))
    ).toDF("vec_id", "embedding")
    val batch = Seq(
      (11L, Seq(1.0, 0.0, 0.0)),      // copy of 1 → match at 1.0
      (12L, Seq(0.7, 0.7, 0.1))       // between cells, near nothing
    ).toDF("vec_id", "embedding")
    val got = Dedup.incrementalSemantic(batch, corpus, "vec_id",
      "embedding", nlist = 2, minCosine = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((11L, 1L, 1.0)))
    val none = Dedup.incrementalSemantic(batch,
      Seq.empty[(Long, Seq[Double])].toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    assert(none.count() == 0)
  }

  test("incrementalSemantic: over-cap cells are dropped but SURFACED " +
      "via the observe metric") {
    // cell A holds 3 identical corpus vectors (over maxCell=2) → its
    // batch probe is dropped; cell B survives, keeping the result
    // non-empty so the observe metric is AQE-reliable
    val corpus = Seq(
      (1L, Seq(1.0, 0.0, 0.0)), (2L, Seq(1.0, 0.0, 0.0)),
      (3L, Seq(1.0, 0.0, 0.0)),
      (9L, Seq(0.0, 0.0, 1.0))
    ).toDF("vec_id", "embedding")
    val batch = Seq(
      (11L, Seq(1.0, 0.0, 0.0)),   // probes the hot cell → dropped
      (19L, Seq(0.0, 0.0, 1.0))    // probes the small cell → matches 9
    ).toDF("vec_id", "embedding")
    val got = Dedup.incrementalSemantic(batch, corpus, "vec_id",
      "embedding", nlist = 2, minCosine = 0.999, maxCell = 2)
    val rows = got.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows == Set((19L, 9L)))
    val m = Dedup.bucketMetrics(got)
    assert(m.values.exists(_._2 >= 1L), s"no dropped-cell metric in $m")
  }
  // ---- content-defined chunking --------------------------------------

  test("cdcChunkHashes: chunks tile the document exactly; cuts are " +
      "content-defined (identical text chunks identically; a prefix " +
      "edit re-synchronizes)") {
    import spark.implicits._
    val body = Seq.tabulate(40)(i => s"sentence number $i with words")
      .mkString(" ")
    val docs = Seq(
      (1L, body),
      (2L, body), // identical → identical chunk table
      (3L, "A DIFFERENT PREFIX BLOCK xyzzy :: " + body)
    ).toDF("doc_id", "text")
    val ch = Dedup.cdcChunkHashes(docs, "doc_id", "text",
      minSize = 16, avgSize = 32, maxSize = 256)
    val byDoc = ch.collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getInt(2), r.getInt(3))))
      .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._2).toSeq).toMap
    // tiling: contiguous, gap-free, full coverage (byte offsets)
    byDoc.foreach { case (id, chunks) =>
      assert(chunks.head._2 == 0, s"doc $id first chunk not at 0")
      chunks.sliding(2).foreach {
        case Seq((_, s1, l1), (_, s2, _)) =>
          assert(s1 + l1 == s2, s"doc $id gap at $s2")
        case _ =>
      }
      val (_, ls, ll) = chunks.last
      assert(ls + ll == body.getBytes("UTF-8").length ||
        id == 3L, s"doc $id does not tile")
    }
    // identical text → identical chunk tables
    assert(byDoc(1L) == byDoc(2L))
    // prefix edit: the tail of doc 3 re-synchronizes to doc 1's chunk
    // hash set (all but the first chunk or two)
    val h1 = byDoc(1L).map(_._1).toSet
    val h3 = byDoc(3L).map(_._1).toSet
    val shared = h1.intersect(h3).size
    assert(shared >= h1.size - 2,
      s"resync too weak: $shared of ${h1.size} chunks shared")
  }

  test("cdcSharedChunkPairs: prefix-edited copy found, unrelated doc " +
      "not; repeated chunks inside one doc do not multiply the count") {
    import spark.implicits._
    val body = Seq.tabulate(40)(i => s"line $i of the shared body")
      .mkString(" ")
    val docs = Seq(
      (1L, body),
      (2L, "prefix alpha :: " + body),
      (3L, "totally unrelated content that shares nothing at all " * 12),
      // doc 4 repeats the SAME body twice: shared chunks with doc 1
      // must count each hash once, not once per occurrence
      (4L, body + " " + body)
    ).toDF("doc_id", "text")
    val pairs = Dedup.cdcSharedChunkPairs(docs, "doc_id", "text",
        minSize = 16, avgSize = 32, maxSize = 256)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(pairs.contains((1L, 2L)), s"copy pair missing: $pairs")
    assert(!pairs.keySet.exists(p => p._1 == 3L || p._2 == 3L),
      s"unrelated doc matched: $pairs")
    // distinct-hash discipline: (1,4) share the body's hash SET once
    val h1 = Dedup.cdcChunkHashes(docs.where(col("doc_id") === 1L),
      "doc_id", "text", 16, 32, 256)
      .select("chunk_hash").distinct().count()
    assert(pairs((1L, 4L)) <= h1,
      s"repeated chunks multiplied the pair count: ${pairs((1L, 4L))} > $h1")
  }

  test("cdcNovelty: copies score exactly 0, new content 1, a grown " +
      "doc in between; empty index makes everything novel") {
    import spark.implicits._
    val body = Seq.tabulate(40)(i => s"passage $i of the known body")
      .mkString(" ")
    val fresh = Seq.tabulate(40)(i => s"unseen material piece $i here")
      .mkString(" ")
    val history = Seq((1L, body)).toDF("doc_id", "text")
    val index = Dedup.cdcChunkHashes(history, "doc_id", "text",
      16, 32, 256)
    val batch = Seq(
      (10L, body),             // exact copy
      (11L, body + " " + fresh), // grown: old half + new half
      (12L, fresh)              // fully new
    ).toDF("doc_id", "text")
    val nv = Dedup.cdcNovelty(batch, "doc_id", "text", index,
        16, 32, 256).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3))).toMap
    assert(nv(10L)._3 == 0.0, s"copy not zero: ${nv(10L)}")
    assert(nv(12L)._3 == 1.0, s"new doc not fully novel: ${nv(12L)}")
    val grown = nv(11L)._3
    assert(grown > 0.3 && grown < 0.7,
      s"grown doc should be roughly half novel, got $grown")
    // bytes add up
    nv.values.foreach { case (tot, nov, f) =>
      assert(nov <= tot && math.abs(f - nov.toDouble / tot) < 1e-12)
    }
    // empty index: everything is novel
    val all = Dedup.cdcNovelty(batch, "doc_id", "text",
        index.limit(0), 16, 32, 256)
      .collect().map(_.getDouble(3))
    assert(all.forall(_ == 1.0))
  }

  test("two-stage ngramJaccardPairs is EXACT: reported jaccard equals " +
      "the directly computed string-shingle jaccard for every pair, " +
      "and the hashed prefilter drops nothing the exact stage keeps") {
    import spark.implicits._
    // a corpus dense enough that candidate pairs span the whole
    // jaccard range, including pairs just around the 0.5 gate
    val base = Seq("alpha beta gamma delta epsilon zeta eta theta",
      "alpha beta gamma delta epsilon zeta eta iota",
      "alpha beta gamma delta epsilon other words here",
      "alpha beta gamma unrelated tail of words now",
      "totally different text with no shared window at all")
    val rows = for {
      (t, i) <- base.zipWithIndex
      k <- 0 until 3
    } yield ((i * 3 + k).toLong,
      if (k == 0) t else t + s" suffix$k pad$k")
    val df = rows.toDF("doc_id", "text")
    val candidates = Dedup.minhashCandidates(df, "doc_id", "text")
    val got = Dedup.ngramJaccardPairs(df, candidates, "doc_id", "text",
        minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    // recompute the exact jaccard per candidate pair directly
    def shingles(t: String): Set[Seq[String]] =
      t.toLowerCase.split("\\s+").toSeq.sliding(3).map(_.toSeq).toSet
    val text = rows.toMap
    val want = candidates.collect().map { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      val (sa, sb) = (shingles(text(a)), shingles(text(b)))
      val j = sa.intersect(sb).size.toDouble / sa.union(sb).size
      (a, b) -> (math.round(j * 10000) / 10000.0)
    }.filter(_._2 >= 0.5).toMap
    assert(got == want,
      s"two-stage output differs from direct computation:\n got " +
        s"${got.toSeq.sorted}\n want ${want.toSeq.sorted}")
    assert(want.nonEmpty && want.values.exists(_ < 1.0),
      "fixture must exercise non-trivial jaccard values")
  }
}
