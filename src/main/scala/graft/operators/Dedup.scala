package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis
import graft.plans.NativeFunctions
import graft.plans.NativeFunctions.{cosineNative, shinglesNative}

/**
 * Deduplication operators for large-scale training-data pipelines: exact,
 * MinHash+LSH, SimHash, n-gram Jaccard verification, and embedding-cosine
 * near-dup. Extension beyond the reference surface (parquery has no
 * dedup; SURVEY.md §2).
 *
 * Scale design (the point of every choice here):
 *  - signatures/fingerprints are computed in one narrow projection per
 *    document (fused Catalyst kernels of [[graft.plans.NativeFunctions]],
 *    no explode of shingles, no UDFs);
 *  - candidate generation shuffles only (bucketKey, docId) pairs — never
 *    document text — so the shuffle volume is O(docs × bands), not O(text);
 *  - pair verification joins back to signatures by id, and only for
 *    bucket-cohabiting pairs: O(candidate pairs), not O(n²);
 *  - all-pairs comparison appears nowhere; a 100 TB corpus never
 *    materializes a cross join.
 */
object Dedup {

  // ---- exact ------------------------------------------------------------

  /**
   * Exact dedup: keep one row per key (the row with the smallest
   * `tieBreaker`, so the survivor is deterministic — unlike
   * `dropDuplicates`, which keeps an arbitrary first row).
   * One hash-partition shuffle on the key.
   */
  def exact(df: DataFrame, keyCols: Seq[String],
            tieBreaker: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tieBreaker))
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
  }

  /**
   * Exact-dup group summary over a text column: canonical hash → group
   * size + surviving id. `md5` (not xxhash64) so the result is
   * SQL-oracle-comparable across engines.
   */
  def exactSummary(df: DataFrame, textCol: String,
                   idCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast("binary")).as("text_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col(idCol)).as("keep_id"))

  // ---- MinHash + LSH ------------------------------------------------------

  /**
   * LSH banding: split the signature into `bands` equal bands and emit
   * (bandIndex, bandHash) rows per doc. Docs sharing any band land in the
   * same bucket. Probability theory (Broder '97 / LSH banding): with
   * r = numHashes/bands rows per band, P(bucket-share) = 1-(1-j^r)^bands
   * for Jaccard j — the standard S-curve.
   */
  def minhashBands(df: DataFrame, idCol: String, textCol: String,
                   numHashes: Int = 64, bands: Int = 16,
                   shingleWords: Int = 3): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    df.select(col(idCol), NativeFunctions.minhashNative(col(textCol),
        numHashes, shingleWords).as("sig"))
      .select(col(idCol), posexplode(transform(
        sequence(lit(0), lit(bands - 1)),
        b => xxhash64(slice(col("sig"), b * rows + lit(1), lit(rows))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_hash")
  }

  /** observe() metrics attached to every bucketed pair expansion:
    * bucket count, over-cap (dropped) bucket count, and the largest
    * bucket — so cap-induced recall loss is VISIBLE after any action
    * instead of silently truncating (`observedMetrics` on the query
    * execution, keyed by a name starting with `prefix`). Caveat: if the
    * FINAL result is empty, AQE's empty-relation propagation replaces
    * the executed subtree (CollectMetrics included) with an empty leaf
    * and the metric is unreachable — metrics are reliable whenever any
    * pair survives, which is every case where the drop count changes an
    * actual result. Names get a UUID suffix: they must be unique within
    * a query plan, and one query may bucket twice (e.g. a minhash +
    * embedding union). */
  private def observeBuckets(grouped: DataFrame, sizeCol: Column,
                             maxBucket: Int, prefix: String): DataFrame =
    grouped.observe(s"${prefix}_${java.util.UUID.randomUUID()}",
      count(lit(1)).as("n_buckets"),
      sum(when(sizeCol > maxBucket, 1L).otherwise(0L))
        .as("n_dropped_buckets"),
      max(sizeCol).as("max_bucket"))

  /**
   * Bucket metrics `(n_buckets, n_dropped_buckets, max_bucket)` observed
   * during the last action on `df` (a frame built by one of the
   * bucketed-dedup operators), keyed by observation name. Non-empty
   * after any action whose result had at least one surviving row — the
   * library-user surface for "did the cap silently cost me recall?".
   */
  def bucketMetrics(df: DataFrame): Map[String, (Long, Long, Long)] = {
    // max_bucket is an Int (size() is IntegerType); count/sum are Longs.
    // null ⟺ the observed aggregate saw zero rows (sum/max over nothing)
    // — report 0, don't NPE
    def l(r: org.apache.spark.sql.Row, f: String): Long =
      Option(r.getAs[Number](f)).map(_.longValue).getOrElse(0L)
    df.queryExecution.observedMetrics.collect {
      case (k, r) if k.startsWith("graft_buckets") =>
        k -> ((l(r, "n_buckets"), l(r, "n_dropped_buckets"),
          l(r, "max_bucket")))
    }.toMap
  }

  /**
   * All `id_a < id_b` pairs of ids sharing a bucket key: one shuffle on
   * the bucket key, `collect_list` per bucket, pairs expanded with
   * higher-order functions. Versus a bucket self-join this evaluates the
   * (expensive) id/bucket-producing subplan ONCE — Spark does not share
   * subplans between the two sides of a self-join — and shuffles each
   * bucket's ids once. Buckets larger than `maxBucket` are dropped
   * (degenerate keys — e.g. empty docs — would expand quadratically);
   * the cap also bounds per-group memory: ≤ maxBucket ids per group.
   * Dropped buckets are counted in an `observe` metric
   * (`graft_buckets_*`) — truncation is never silent.
   */
  private[operators] def pairsWithinBuckets(
      buckets: DataFrame, keyCols: Seq[String], idCol: String,
      maxBucket: Int): DataFrame = {
    val ids = col("__ids")
    // pair expansion as TWO chained explodes (each element against the
    // sorted tail after it) rather than one nested
    // transform/slice/flatten lambda: Generate + the slice are
    // codegen'd, while HOF lambdas are interpreted per bucket — the
    // rewrite measured 2x on the sf0.1 bench across tens of thousands
    // of small buckets
    observeBuckets(
      buckets.groupBy(keyCols.map(col): _*)
        .agg(sort_array(collect_list(col(idCol))).as("__ids")),
      size(ids), maxBucket, "graft_buckets")
      .where(size(ids).between(2, maxBucket))
      .select(ids, posexplode(ids).as(Seq("__i", "__a")))
      .select(col("__a").as("id_a"),
        explode(slice(ids, col("__i") + 2, size(ids))).as("id_b"))
      .distinct()
  }

  /**
   * Candidate near-dup pairs via MinHash LSH: pairs emerge per
   * (band, band_hash) bucket via [[pairsWithinBuckets]]. The shuffle
   * carries (bucketKey, id) only — O(docs × bands) fixed-width rows, never
   * text — and the signature subplan runs once.
   */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 64, bands: Int = 16,
                        shingleWords: Int = 3,
                        maxBucket: Int = 1000): DataFrame =
    pairsWithinBuckets(
      minhashBands(df, idCol, textCol, numHashes, bands, shingleWords),
      Seq("band", "band_hash"), idCol, maxBucket)

  /** Slack under `minJaccard` for the hashed prefilter stage of
    * [[ngramJaccardPairs]]: 64-bit shingle-hash collisions can move a
    * pair's set-Jaccard by at most ~(collisions / set size); moving a
    * TRUE pair below `minJaccard − 0.05` would need dozens of
    * same-document collisions (P ≈ (n²/2⁶⁴)ᵏ — never), so the
    * prefilter's survivor set provably contains every exact survivor
    * while the exact stage prunes any hash-flattered stragglers. */
  private val JaccardPrefilterSlack = 0.05

  /**
   * Exact n-gram Jaccard for candidate pairs, in two stages (round 17
   * — re-shaped after the x100 ScaleCurve decade exposed a
   * superlinear leg in the one-stage form):
   *
   *  1. PREFILTER on hashed shingles: candidates join `xxhash64`'d
   *    shingle arrays (8 B/element instead of ~25 B of string) and a
   *    pair survives when its hashed-set Jaccard clears
   *    `minJaccard −` [[JaccardPrefilterSlack]]. This stage touches
   *    EVERY candidate, so its row width is what the shuffle and the
   *    join's sort/spill actually pay — at the x100 decade the
   *    one-stage string form sort-spilled 29 GB in a single stage
   *    (e(x30→x100) = 1.9); the hashed rows keep the same join
   *    under memory.
   *  2. EXACT string Jaccard on the survivors only — typically the
   *    output's own order of magnitude, thousands of times smaller
   *    than the candidate set; AQE broadcasts the survivor list to
   *    the shingle table, so the wide string arrays never shuffle at
   *    all. Results are therefore EXACT (the operator's published
   *    contract), with the hashed stage only discarding pairs the
   *    exact stage would discard anyway.
   */
  def ngramJaccardPairs(df: DataFrame, candidates: DataFrame,
                        idCol: String, textCol: String,
                        shingleWords: Int = 3,
                        minJaccard: Double = 0.8)
      : DataFrame = Checkpoints.scoped { s =>
    // shingled ONCE and pinned (optimization round 19, guide §8 step 1
    // / §3.3): this frame is consumed four times below — both id sides
    // of the hashed prefilter join and both id sides of the exact
    // stage — and Spark does not share subplans across join branches,
    // so the lazy form re-tokenized and re-shingled the whole corpus
    // per consumer (4 extra text passes in the before-plan). Pinning
    // materializes the per-doc shingle/hashed-shingle table once (the
    // worked-example "emit fingerprints once" shape; ~8 B per shingle
    // hash + the shingle strings); values per row are identical, so
    // every downstream pair and jaccard is unchanged.
    val shAll = s.pin(df.select(col(idCol),
        shinglesNative(col(textCol), shingleWords).as("sh"))
      .withColumn("shh",
        array_sort(array_distinct(transform(col("sh"), h => xxhash64(h))))))
    val sh = shAll.select(col(idCol), col("sh"))
    // sorted+distinct once per DOCUMENT; each array is then probed by
    // ~candidates-per-doc pairs through the fused primitive merge
    // (SortedJaccardExpr) — no boxed hash sets in the per-pair loop
    val shHashed = shAll.select(col(idCol), col("shh"))
    val survivors = candidates
      .join(shHashed.select(col(idCol).as("id_a"), col("shh").as("ha")),
        "id_a")
      .join(shHashed.select(col(idCol).as("id_b"), col("shh").as("hb")),
        "id_b")
      .withColumn("jh",
        NativeFunctions.sortedJaccardNative(col("ha"), col("hb")))
      .where(col("jh") >= minJaccard - JaccardPrefilterSlack)
      .select(col("id_a"), col("id_b"))
    survivors
      .join(sh.select(col(idCol).as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col(idCol).as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .where(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Full MinHash pipeline: LSH candidates → exact Jaccard verification. */
  def minhashDuplicates(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 64, bands: Int = 16,
                        shingleWords: Int = 3,
                        minJaccard: Double = 0.8): DataFrame =
    ngramJaccardPairs(df,
      minhashCandidates(df, idCol, textCol, numHashes, bands, shingleWords),
      idCol, textCol, shingleWords, minJaccard)

  // ---- SimHash ------------------------------------------------------------

  /**
   * 64-bit SimHash (Charikar '02): per token, xxhash64 → 64 bits; each bit
   * votes ±1; the sign vector packs back into one long. Two near-identical
   * docs differ in few bits. One projection, no shuffle.
   */
  def simhash(text: Column): Column = {
    val toks = TextAnalysis.tokens(lower(text))
    val bitIdx = sequence(lit(0), lit(63))
    // votes(i) = sum over tokens of (bit i set ? +1 : -1)
    val votes = aggregate(toks,
      transform(bitIdx, _ => lit(0)),
      (acc, t) => zip_with(acc,
        transform(bitIdx, i =>
          when(call_function("shiftright", xxhash64(t), i)
            .bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)),
        (a, b) => a + b))
    // pack sign bits; use positive powers via shiftleft on long
    aggregate(zip_with(votes, bitIdx, (v, i) =>
        when(v > 0, call_function("shiftleft", lit(1L), i))
          .otherwise(lit(0L))),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** Hamming distance between two simhashes. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /**
   * SimHash near-dup pairs with Manku-style multi-chunk blocking (Manku,
   * Jain & Das Sarma 2007, "Detecting Near-Duplicates for Web Crawling" —
   * public): split the 64-bit fingerprint into `chunks` (= m) near-equal
   * chunks and build one candidate-key FAMILY per combination of
   * m − maxHamming chunks, keyed on the CONCATENATION of those chunks'
   * bits. A pair within Hamming distance ≤ maxHamming differs in at most
   * maxHamming chunks, so some m − maxHamming chunks are difference-free
   * and the pair collides in that family — full recall by pigeonhole,
   * C(m, maxHamming) families.
   *
   * Why not one chunk per key (the m = maxHamming + 1 degenerate case):
   * at maxHamming = 8 that yields 9 families of 7-8-bit keys — ≤256
   * distinct buckets per family, so bucket population grows LINEARLY with
   * corpus size, pair expansion quadratically in it, and the `maxBucket`
   * cap then drops whole buckets (recall collapse at ~10^5 docs). Wider
   * concatenated keys keep bucket size O(1) in corpus size; the price is
   * more families (each doc emits C(m, maxHamming) key rows). The `chunks`
   * dial makes the trade explicit:
   *   - m = maxHamming + 2 (default): C(m, 2) families of 2-chunk keys —
   *     e.g. k=3 → 10 families × ~26-bit keys, k=8 → 45 × ~13-bit keys;
   *   - larger m → wider keys but combinatorially more families
   *     (guarded at 1024).
   * Over-cap buckets are still dropped, but counted in the
   * `graft_buckets` observe metric — never silently.
   */
  def simhashDuplicates(df: DataFrame, idCol: String, textCol: String,
                        maxHamming: Int = 3,
                        maxBucket: Int = 1000,
                        chunks: Int = 0): DataFrame = {
    simhashPairsFromFingerprints(
      df.select(col(idCol).as("id"),
        NativeFunctions.simhashNative(col(textCol)).as("simhash")),
      "id", "simhash", maxHamming, maxBucket, chunks)
  }

  /** Shared Manku family keying: one `(outId, __fp, family, fam_key)`
    * row per C(m, m−maxHamming) chunk combination — the single
    * definition behind the within-set pair expansion
    * ([[simhashPairsFromFingerprints]]) and the batch-vs-index probe
    * ([[simhashProbeIndex]]), so the two paths cannot drift on chunk
    * layout or key packing. */
  private def simhashFamilyKeyed(fps: DataFrame, idCol: String,
                                 simhashCol: String, outId: String,
                                 maxHamming: Int,
                                 chunks: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 63,
      s"maxHamming must be in [0, 63), got $maxHamming")
    val nChunks = if (chunks > 0) chunks else maxHamming + 2
    require(nChunks > maxHamming && nChunks <= 64,
      s"chunks must be in (maxHamming, 64], got $nChunks")
    // C(m, m-k) family count, guarded before materializing combinations
    val nFamilies = (1 to (nChunks - maxHamming).min(maxHamming))
      .foldLeft(BigInt(1))((acc, i) => acc * (nChunks - i + 1) / i)
    require(nFamilies <= 1024,
      s"C($nChunks, ${nChunks - maxHamming}) = $nFamilies key families — " +
        "lower `chunks` (families shrink toward maxHamming+1 chunks)")
    // chunk layout: 64 bits over m chunks, first `64 % m` chunks one bit
    // wider — every chunk non-empty
    val base = 64 / nChunks
    val rem = 64 % nChunks
    val bounds = (0 until nChunks).scanLeft((0, 0)) { case ((s, w), c) =>
      (s + w, if (c < rem) base + 1 else base)
    }.tail
    def chunkVal(c: Int): Column = {
      val (start, width) = bounds(c)
      val mask = if (width == 64) -1L else (1L << width) - 1L
      call_function("shiftright", col("__fp"), lit(start))
        .bitwiseAND(lit(mask))
    }
    // one key per family: the selected chunks' bits packed into a long
    // (total selected width ≤ 64 — a subset of a 64-bit split)
    val familyKeys = (0 until nChunks).combinations(nChunks - maxHamming)
      .map(fam => fam.foldLeft(lit(0L)) { (acc, c) =>
        call_function("shiftleft", acc, lit(bounds(c)._2))
          .bitwiseOR(chunkVal(c))
      }).toSeq
    fps.select(col(idCol).as(outId), col(simhashCol).as("__fp"))
      .select(col(outId), col("__fp"),
        posexplode(array(familyKeys: _*)))
      .withColumnRenamed("pos", "family")
      .withColumnRenamed("col", "fam_key")
  }

  /**
   * Hamming-distance probe of a NEW batch's 64-bit fingerprints
   * against a PERSISTED fingerprint index `(idCol, simhashCol)` —
   * the incremental form of [[simhashPairsFromFingerprints]], and the
   * incremental path for ALL the 64-bit fingerprint families (text
   * SimHash, image pHash, audio ZCR, video middle-frame): history is
   * fingerprinted ONCE and participates per batch through an 8-byte
   * column scan, never re-decoded or re-tokenized. Returns
   * `(new_id, seen_id, hamming)` with Hamming ≤ `maxHamming`.
   *
   * Per-batch shape (the [[incrementalMinhashAgainstIndex]]
   * discipline): index keys are regenerated in-plan from the stored
   * longs (nothing but `(id, fingerprint)` is persisted), restricted
   * to the BATCH's keys by a broadcast semi-join before any
   * aggregation, hot keys (> `maxBucket` index rows) excluded and
   * counted in the `graft_buckets` observe metric — never a silent
   * recall cut.
   */
  def simhashProbeIndex(batch: DataFrame, index: DataFrame,
                        idCol: String, simhashCol: String,
                        maxHamming: Int = 3,
                        maxBucket: Int = 1000,
                        chunks: Int = 0): DataFrame = {
    val bk = simhashFamilyKeyed(batch, idCol, simhashCol, "new_id",
        maxHamming, chunks)
      .withColumnRenamed("__fp", "__fp_n")
    val ik = simhashFamilyKeyed(index, idCol, simhashCol, "seen_id",
        maxHamming, chunks)
      .withColumnRenamed("__fp", "__fp_s")
    val touched = ik.join(
      bk.select(col("family"), col("fam_key")).distinct(),
      Seq("family", "fam_key"), "left_semi")
    val hotKeys = observeBuckets(
      touched.groupBy(col("family"), col("fam_key"))
        .agg(count(lit(1)).as("__n")),
      col("__n"), maxBucket, "graft_buckets")
      .where(col("__n") > maxBucket)
      .select(col("family"), col("fam_key"))
    bk.join(hotKeys, Seq("family", "fam_key"), "left_anti")
      .join(touched, Seq("family", "fam_key"))
      .select(col("new_id"), col("seen_id"),
        hamming(col("__fp_n"), col("__fp_s")).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /**
   * [[simhashDuplicates]] over PRECOMPUTED fingerprints — the blocking /
   * verification stage on its own, so callers can reuse stored
   * fingerprints (the 100 TB shape: fingerprint once, re-block on
   * parameter changes) and tests can plant exact bit-flips.
   */
  def simhashPairsFromFingerprints(fps: DataFrame, idCol: String,
                                   simhashCol: String,
                                   maxHamming: Int = 3,
                                   maxBucket: Int = 1000,
                                   chunks: Int = 0): DataFrame = {
    val keyed = simhashFamilyKeyed(fps, idCol, simhashCol, "id",
      maxHamming, chunks)
      .withColumnRenamed("__fp", "simhash")
    // collect (id, simhash) per family bucket and verify Hamming INSIDE
    // the pair expansion: only ≤maxHamming pairs ever leave the bucket.
    // Bucket cap = skew guard (a degenerate key shared by a huge cohort —
    // e.g. empty docs, all fingerprint 0 — would expand quadratically).
    // Simhash fits the pair struct — 16 bytes — so carrying it through
    // collect_list is free, unlike vectors (embeddingDuplicates keeps the
    // join-based shape for that). The expansion is two chained explodes
    // (codegen'd), not nested HOF lambdas (interpreted) — see
    // [[pairsWithinBuckets]]; measured 2x on the sf0.1 bench.
    val xs = col("__xs")
    observeBuckets(
      keyed.groupBy(col("family"), col("fam_key"))
        .agg(sort_array(collect_list(struct(col("id"), col("simhash"))))
          .as("__xs")),
      size(xs), maxBucket, "graft_buckets")
      .where(size(xs).between(2, maxBucket))
      .select(xs, posexplode(xs).as(Seq("__i", "__a")))
      .select(col("__a"),
        explode(slice(xs, col("__i") + 2, size(xs))).as("__b"))
      .select(col("__a.id").as("id_a"), col("__b.id").as("id_b"),
        hamming(col("__a.simhash"), col("__b.simhash")).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  // ---- cluster formation --------------------------------------------------

  /**
   * Connected components over candidate-duplicate pairs: every id in the
   * pair graph gets the smallest id reachable from it as `cluster` —
   * turning pairwise near-dup hits into the dup GROUPS a pipeline needs
   * for survivor selection (keep `id === cluster`, drop the rest).
   *
   * Algorithm: iterative min-label propagation WITH pointer jumping.
   * Each round every node (1) takes the min of its own label and its
   * neighbors' labels — one hash join (edges ⋈ labels) + one
   * `groupBy(node).min` — then (2) jumps: replaces its label by its
   * label's label (one self-join of the label frame; labels only
   * decrease and always name a node of the same component, so the jump
   * is sound). Propagation alone needs rounds = component DIAMETER — a
   * 10^6-long chain of near-dup hops would need 10^6 rounds; the jump
   * halves every path per round (pointer doubling), making convergence
   * O(log diameter) — 20 rounds cover any component a real corpus can
   * produce. All distributed, nothing driver-side but the convergence
   * flag; a no-change round implies the propagation step itself is at
   * fixpoint, which is exactly component-min labeling. Lineage is
   * truncated per round with [[Checkpoints.Scope.pin]] so plans don't grow
   * with iterations — reliable checkpointing when the session has a
   * checkpoint dir (the cluster hardening: rounds survive executor
   * loss), localCheckpoint otherwise.
   *
   * Input: two id columns (`id_a`, `id_b`), as produced by
   * [[minhashDuplicates]] / [[simhashDuplicates]] /
   * [[embeddingDuplicates]]. Ids absent from any pair are absent from
   * the output (singletons are their own trivial cluster).
   */
  def duplicateClusters(pairs: DataFrame, idA: String = "id_a",
                        idB: String = "id_b",
                        maxIters: Int = 20)
      : DataFrame = Checkpoints.scoped { s =>
    // NO dedup of the symmetrized edge list (optimization round 20):
    // every consumer is duplicate-insensitive — round 0's groupBy and
    // each round's neighborMin take min() over edge targets, and the
    // propagation join feeds that same min — so repeated edges change
    // no label, only repeat work proportional to their multiplicity.
    // The callers in this repo pass verified candidate pairs that are
    // distinct by construction (pairsWithinBuckets ends in distinct),
    // so the previous .distinct() was a pure full-exchange tax on the
    // edge pin (guide §2.4 "remove shuffles outright": a distinct on
    // data that is already unique). A duplicate-HEAVY caller can
    // pre-distinct its pairs; labels are identical either way.
    val edges = s.pin(pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .union(pairs.select(col(idB).as("src"), col(idA).as("dst"))))
    // empty graph: nothing to label
    if (edges.isEmpty)
      return edges.select(col("src").as("id"), col("src").as("cluster"))
    var labels: DataFrame = null
    var prev: DataFrame = null // the pin behind `labels`
    var it = 0
    var converged = false
    while (!converged && it < maxIters) {
      // Round 0 specialized (optimization round 19, guide §2.4): labels
      // start as the identity (every node labels itself), so the first
      // round's edges ⋈ labels join resolves each neighbor's label to
      // the neighbor id itself, and the identity-label frame never
      // needs building, pinning, or emptiness-probing — one groupBy
      // over the pinned symmetric edges yields the same
      // (id, old, proposed) rows with two fewer shuffles and one fewer
      // checkpoint job. Every node appears as `src` (edges are
      // symmetrized above), so no node is lost; measured −20% on the
      // cluster queries with byte-identical labels.
      val propagated =
        if (it == 0) edges
          .groupBy(col("src").as("id"))
          .agg(min(col("dst")).as("__nmin"))
          .select(col("id"), col("id").as("__old"),
            least(col("id"), col("__nmin")).as("__p"))
        else {
          val neighborMin = edges
            .join(labels.select(col("id").as("dst"),
              col("cluster").as("__nc")), "dst")
            .groupBy(col("src").as("id"))
            .agg(min(col("__nc")).as("__nmin"))
          labels
            .join(neighborMin, Seq("id"), "left")
            .select(col("id"), col("cluster").as("__old"),
              least(col("cluster"),
                coalesce(col("__nmin"), col("cluster"))).as("__p"))
        }
      // Adaptive pointer jump (label := label(label)): dup families are
      // shallow, so the first two propagation-only rounds finish the
      // common case with no extra work; a component still unconverged
      // by round 3 is deep, and from there the jump halves every label
      // path per round — O(log diameter) total instead of O(diameter).
      // Every label value is some node's id, so the jump is a self-join
      // of the label frame (checkpointed first: Spark evaluates both
      // sides of a self-join, no subplan sharing); coalesce guards the
      // root. The jump result is checkpointed too: the convergence
      // metric and the next round's propagation both consume it, and an
      // unmaterialized self-join would execute twice per round on
      // exactly the deep graphs the jump exists for.
      // Convergence rides the checkpoint materialization as an
      // observe() metric — a separate isEmpty would re-scan the whole
      // label frame once per round just to count changes.
      def withChangeCount(df: DataFrame): (DataFrame, Row) =
        s.observed(df,
          sum(when(col("__p") =!= col("__old"), 1L).otherwise(0L))
            .as("changed"))
      val (updated, obs) =
        if (it < 2) withChangeCount(propagated)
        else {
          val p = s.pin(propagated)
          val jumped = withChangeCount(
            p.join(p.select(col("id").as("__p"), col("__p").as("__pp")),
                Seq("__p"), "left")
              .select(col("id"), col("__old"),
                coalesce(col("__pp"), col("__p")).as("__p")))
          s.release(p)
          jumped
        }
      converged = obs.getAs[Long]("changed") == 0L
      if (prev != null) s.release(prev)
      prev = updated
      labels = updated.select(col("id"), col("__p").as("cluster"))
      it += 1
    }
    labels
  }

  /**
   * Survivor selection — the step that turns [[duplicateClusters]]
   * labels back into a deduplicated corpus: drop every document whose
   * cluster label is not itself (the component min survives; documents
   * in no cluster were never candidates and pass through untouched).
   * One broadcast-or-hash anti-join on the id — the loser set is
   * cluster-membership-sized, usually tiny next to the corpus.
   */
  def selectSurvivors(docs: DataFrame, labels: DataFrame,
                      idCol: String): DataFrame = {
    val losers = labels.where(col("id") =!= col("cluster"))
      .select(col("id").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  // ---- embedding near-dup -------------------------------------------------

  /**
   * Embedding-cosine near-duplicates: random-hyperplane LSH (sign bits of
   * `planes` pseudo-random projections) buckets similar vectors together;
   * exact cosine runs only within buckets. Hyperplanes are deterministic
   * functions of (planeIdx, dimIdx) via xxhash64 — no model state, any
   * executor regenerates them, nothing is broadcast.
   *
   * Same candidate shape as MinHash/SimHash: [[pairsWithinBuckets]] over
   * (bucket, id) — the bucket expression (the expensive projection loop)
   * evaluates ONCE, not once per self-join side, and `maxBucket` caps a
   * degenerate bucket (e.g. all-zero vectors all land in bucket 0) that
   * would otherwise expand quadratically. Vectors are joined back by id
   * only for surviving candidate pairs, like [[ngramJaccardPairs]].
   */
  def embeddingDuplicates(df: DataFrame, idCol: String, vecCol: String,
                          planes: Int = 12,
                          minCosine: Double = 0.95,
                          maxBucket: Int = 1000): DataFrame = {
    val vecs = df.select(col(idCol),
      col(vecCol).cast("array<double>").as("v"))
    val keyed = vecs
      .withColumn("bucket",
        NativeFunctions.hyperplaneBucketNative(col("v"), planes))
      .select(col("bucket"), col(idCol))
    pairsWithinBuckets(keyed, Seq("bucket"), idCol, maxBucket)
      .join(vecs.select(col(idCol).as("id_a"), col("v").as("v_a")), "id_a")
      .join(vecs.select(col(idCol).as("id_b"), col("v").as("v_b")), "id_b")
      .withColumn("cosine", cosineNative(col("v_a"), col("v_b")))
      .where(col("cosine") >= minCosine)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
  }

  /**
   * Semantic near-duplicate pairs (SemDeDup-style, Abbas et al. 2023,
   * "SemDeDup: Data-efficient learning at web-scale through semantic
   * deduplication" — public): cluster the embedding space with a
   * data-dependent IVF/k-means pass, then compare cosines only WITHIN
   * each cluster — semantic duplicates (paraphrases, re-encodings,
   * templated variants) sit close in embedding space and land in the
   * same cell, so the quadratic comparison is confined to cells.
   *
   * Composition of existing scale shapes: IVF cell assignment
   * ([[Similarity.buildCentroids]] / [[Similarity.nearestCellFn]] — KB of
   * driver-side centroids, the documented bounded-collect class) →
   * [[pairsWithinBuckets]] keyed on the cell (shuffles (cell, id) longs
   * only, `maxBucket`-capped with observe-metric drop accounting) →
   * cosine verification joined back by id for surviving pairs only.
   * No all-pairs join anywhere. Versus hyperplane LSH
   * ([[embeddingDuplicates]]): cells adapt to the data's density (the
   * paper's choice), at the cost of the centroid build pass.
   *
   * Scale dial: cells hold ~corpus/nlist vectors, so `nlist` must grow
   * with the corpus to keep cells under `maxBucket` (the paper runs
   * 50k clusters at web scale); over-cap cells are dropped AND counted
   * in the `graft_buckets` observe metric, never silently. BUT flat
   * assignment is O(nlist · dim) per row, so nlist ∝ N makes the
   * assignment stage formally quadratic (measured, `scale_evidence/`
   * r12: e = 0.90, constant-dominated; the √N-nlist variant e = 1.95).
   * `twoLevel = true` is the scale-safe production mode: centroids are
   * coarse-quantized into ~√nlist groups
   * ([[Similarity.coarseCentroidGroups]]) and every assignment — the
   * Lloyd refinement's and the final cell keying — runs through the
   * fused two-level argmax
   * ([[graft.plans.NearestCentroidTwoLevelExpr]]) at O(√nlist · dim)
   * per row, making the operator O(N · √nlist · dim) by construction
   * with nlist ∝ N. Assignment stays a deterministic pure function of
   * the vector (identical embeddings ALWAYS co-assign — planted-copy
   * oracles hold verbatim, see `q_dedup_semantic_twolevel`); boundary
   * vectors may land in a different cell than the flat scan, the
   * standard IVF coarse-quantizer trade. The input must be
   * deterministic, as for [[Similarity.ivfTopK]].
   */
  def semanticDuplicates(df: DataFrame, idCol: String, vecCol: String,
                         nlist: Int = 16, iters: Int = 2,
                         minCosine: Double = 0.95,
                         maxBucket: Int = 1000,
                         twoLevel: Boolean = false)
      : DataFrame = Checkpoints.scoped { s =>
    val nearest =
      if (twoLevel) Similarity.nearestCellFnTwoLevel
      else Similarity.nearestCellFn
    val vecsRaw = df.select(col(idCol),
      col(vecCol).cast("array<double>").as("v"))
    // pinned once: the Lloyd loop (iters + 1 jobs), the cell keying and
    // the two pair-verification joins below all read this frame —
    // unpinned, each re-runs the source scan + cast
    val (vecs, seeds) = Similarity.pinWithSeeds(s, vecsRaw, idCol, "v", nlist)
    val centroids = Similarity.buildCentroids(vecs, idCol, "v", iters,
      nearest, seeds)
    if (centroids.isEmpty)
      // empty corpus: empty pair frame with the contract schema
      return vecs.select(col(idCol).as("id_a"), col(idCol).as("id_b"),
        lit(0.0).as("cosine")).limit(0)
    val keyed = vecs
      .withColumn("__cell", nearest(centroids, col("v")))
      .select(col("__cell"), col(idCol))
    pairsWithinBuckets(keyed, Seq("__cell"), idCol, maxBucket)
      .join(vecs.select(col(idCol).as("id_a"), col("v").as("v_a")), "id_a")
      .join(vecs.select(col(idCol).as("id_b"), col("v").as("v_b")), "id_b")
      .withColumn("cosine", cosineNative(col("v_a"), col("v_b")))
      .where(col("cosine") >= minCosine)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
  }

  /**
   * Full semantic dedup: [[semanticDuplicates]] → [[duplicateClusters]]
   * → survivor selection, keeping one representative per semantic-dup
   * group. Two survivor policies:
   *  - `"min_id"` (default): the group's min id — deterministic,
   *    oracle-stable, zero extra computation ([[selectSurvivors]]);
   *  - `"farthest"`: the member with the LOWEST cosine to its group's
   *    mean vector — SemDeDup's own policy (Abbas et al. 2023 §2 keep
   *    the most atypical example, which preserves diversity where
   *    min-id keeps an arbitrary one). Costs one membership-sized
   *    join + a per-group mean over the CLUSTERED minority (dup-group
   *    members only, not the corpus); ties (e.g. identical copies)
   *    break to the min id, so planted-copy oracles hold under both
   *    policies.
   */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    nlist: Int = 16, iters: Int = 2,
                    minCosine: Double = 0.95,
                    maxBucket: Int = 1000,
                    keepPolicy: String = "min_id",
                    twoLevel: Boolean = false)
      : DataFrame = Checkpoints.scoped { _ =>
    require(keepPolicy == "min_id" || keepPolicy == "farthest",
      s"keepPolicy must be min_id or farthest, got $keepPolicy")
    val labels = duplicateClusters(semanticDuplicates(df, idCol, vecCol,
      nlist, iters, minCosine, maxBucket, twoLevel))
    if (keepPolicy == "min_id") selectSurvivors(df, labels, idCol)
    else {
      // members of dup groups only — membership-sized, tiny next to
      // the corpus; group means via the same per-(group, dim)
      // posexplode shape as the Lloyd step (no whole-vector buffers)
      val members = df
        .select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
        .join(labels.withColumnRenamed("id", idCol), idCol)
      val means = Similarity.groupMeans(members, "cluster", "__v")
      val w = Window.partitionBy(col("cluster"))
        .orderBy(col("__sim").asc, col(idCol).asc)
      val keep = members.join(means, "cluster")
        .withColumn("__sim", cosineNative(col("__v"), col("__mean")))
        .withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1)
        .select(col(idCol))
      val losers = labels.select(col("id").as(idCol))
        .join(keep, Seq(idCol), "left_anti")
      df.join(losers, Seq(idCol), "left_anti")
    }
  }

  /**
   * Build the persisted SEMANTIC index consumed by
   * [[incrementalSemanticAgainstIndex]]: the corpus's IVF centroids
   * (driver-side, nlist × dim doubles — the documented bounded-collect
   * class) and the cell-assigned corpus as `(cell, seen_id, seen_vec)`.
   * Production ingestion persists the frame PARTITIONED BY `cell`
   * (plus the centroid table) beside the corpus and re-clusters only
   * on drift — the public builder, like [[minhashBands]] is for the
   * banded index. The input must be deterministic, as for
   * [[Similarity.ivfTopK]]; the index frame reads a pin (release it
   * with [[Checkpoints.unpin]]).
   */
  def semanticIndex(vecs: DataFrame, idCol: String, vecCol: String,
                    nlist: Int = 16, iters: Int = 2)
      : (Array[Seq[Double]], DataFrame) = Checkpoints.scoped { s =>
    val vRaw = vecs.select(col(idCol).as("seen_id"),
      col(vecCol).cast("array<double>").as("seen_vec"))
    // pinned for the same reason as `semanticDuplicates`: the Lloyd
    // jobs and the final cell assignment all read it
    val (v, seeds) =
      Similarity.pinWithSeeds(s, vRaw, "seen_id", "seen_vec", nlist)
    val centroids = Similarity.buildCentroids(v, "seen_id", "seen_vec",
      iters, Similarity.nearestCellFn, seeds)
    if (centroids.isEmpty)
      (centroids, v.withColumn("cell", lit(0)).limit(0))
    else (centroids, v.withColumn("cell",
      Similarity.nearestCellFn(centroids, col("seen_vec"))))
  }

  /**
   * Incremental SEMANTIC near-dup: match a batch of new embeddings
   * against an already-indexed corpus WITHOUT re-clustering it — the
   * embedding-side analog of [[incrementalMinhashAgainstIndex]],
   * completing the incremental family (exact hash / Bloom / banded
   * MinHash / semantic). `seenIndex` is a [[semanticIndex]] frame
   * `(cell, seen_id, seen_vec)` with its `centroids`. The batch is
   * assigned to cells under the CORPUS's centroids (the fused
   * [[graft.plans.NearestCentroidExpr]]), the index is pruned to the
   * probed cells and joined against the BROADCAST batch — so a
   * cell-partitioned on-disk index is read only at the probed cells
   * (broadcast-hash join + partition pruning), ~1/nlist of it per
   * distinct batch cell, and nothing is recomputed per batch. Exact
   * cosine verifies; returns (new_id, seen_id, cosine) at `minCosine`+.
   *
   * Hot-cell guard, same discipline as every other candidate
   * generator here: probed cells whose index population exceeds
   * `maxCell` are dropped AND counted in the `graft_buckets` observe
   * metric — never a silent cost/recall surprise. The cap bounds a
   * LINEAR blowup (batch-in-cell × cell size cosines), not the
   * quadratic pair expansion [[pairsWithinBuckets]] caps, hence the
   * larger default.
   */
  def incrementalSemanticAgainstIndex(newVecs: DataFrame,
                                      seenIndex: DataFrame,
                                      centroids: Array[Seq[Double]],
                                      idCol: String, vecCol: String,
                                      minCosine: Double = 0.95,
                                      maxCell: Int = 100000)
      : DataFrame = {
    require(centroids.nonEmpty,
      "empty centroids: an empty corpus has nothing to match against " +
        "— incrementalSemantic handles that case")
    val batch = newVecs
      .select(col(idCol).as("new_id"),
        col(vecCol).cast("array<double>").as("__nv"))
      .withColumn("cell", Similarity.nearestCellFn(centroids, col("__nv")))
    val probed = batch.select(col("cell")).distinct()
    val sizes = seenIndex
      .join(broadcast(probed), Seq("cell"), "left_semi")
      .groupBy(col("cell")).agg(count(lit(1)).as("__n"))
    val okCells = observeBuckets(sizes, col("__n"), maxCell,
      "graft_buckets")
      .where(col("__n") <= maxCell).select(col("cell"))
    seenIndex
      .join(broadcast(okCells), Seq("cell"), "left_semi")
      .join(broadcast(batch), Seq("cell"))
      .withColumn("cosine", cosineNative(col("__nv"), col("seen_vec")))
      .where(col("cosine") >= minCosine)
      .select(col("new_id"), col("seen_id"),
        round(col("cosine"), 4).as("cosine"))
  }

  /** [[incrementalSemanticAgainstIndex]] with the index built inline
    * via [[semanticIndex]] — the self-contained form. */
  def incrementalSemantic(newVecs: DataFrame, seenVecs: DataFrame,
                          idCol: String, vecCol: String,
                          nlist: Int = 16, iters: Int = 2,
                          minCosine: Double = 0.95,
                          maxCell: Int = 100000): DataFrame = {
    val (centroids, index) = semanticIndex(seenVecs, idCol, vecCol,
      nlist, iters)
    if (centroids.isEmpty)
      return newVecs.select(col(idCol).as("new_id"),
        col(idCol).as("seen_id"), lit(0.0).as("cosine")).limit(0)
    incrementalSemanticAgainstIndex(newVecs, index, centroids, idCol,
      vecCol, minCosine, maxCell)
  }

  // ---- incremental dedup --------------------------------------------------

  /**
   * Incremental exact dedup: from a batch of new documents, keep only
   * those whose canonical text hash is (a) absent from the already-
   * ingested corpus and (b) unique within the batch (smallest id
   * survives). The shape every append-only ingestion pipeline needs —
   * dedup against 100 TB of history WITHOUT re-reading it: `seen` is the
   * (hash)-projected history (or a pre-materialized hash index), the
   * anti-join shuffles only (hash, id) pairs, and Catalyst broadcasts
   * whichever side is small.
   *
   * `md5` (not xxhash64) so results stay SQL-oracle-comparable.
   *
   * `keyOf` rewrites the text BEFORE hashing (e.g. [[graft.functions
   * .TextAnalysis.normalizeForDedup]], so trivially-reformatted copies
   * collide); it must be the same expression on both sides of an
   * incremental pipeline or history membership silently breaks.
   */
  def incrementalExact(newDocs: DataFrame, seen: DataFrame,
                       idCol: String, textCol: String,
                       keyOf: Column => Column = identity): DataFrame = {
    val hash = (t: Column) => md5(keyOf(t).cast("binary"))
    val seenHashes = seen.select(hash(col(textCol)).as("__h")).distinct()
    val batch = newDocs.select(col(idCol), col(textCol),
      hash(col(textCol)).as("__h"))
    exact(batch.join(seenHashes, Seq("__h"), "left_anti"),
      Seq("__h"), idCol)
      .drop("__h")
  }

  /**
   * Near-duplicate matches of an incoming batch AGAINST an existing
   * corpus — the near-dup analog of [[incrementalExact]], and the shape
   * append-only ingestion needs at 100 TB: history participates only
   * through its banded MinHash signatures (in production read from a
   * pre-materialized index table — (id, band, band_hash) rows appended
   * once per ingested batch — so 100 TB of text is never re-read, let
   * alone re-fingerprinted; computing them here from `seen` is the same
   * plan with the scan inlined) and through the text of the few docs
   * that actually collide.
   *
   * Shape: batch bands ⋈ history bands on (band, band_hash) → candidate
   * (new, seen) id pairs; exact Jaccard verification joins shingles
   * computed ONLY for candidate ids on either side (semi-join first, so
   * history tokenization touches candidates, not the corpus). Degenerate
   * bucket keys — a band hash shared by more than `maxBucket` history
   * docs, e.g. the empty-document signature — are excluded before the
   * join (quadratic-guard, same role as [[pairsWithinBuckets]]'s cap).
   *
   * Returns (new_id, seen_id, jaccard) matches at `minJaccard`+; feed
   * the new-id set to an anti-join to admit only novel documents.
   */
  def incrementalMinhash(newDocs: DataFrame, seen: DataFrame,
                         idCol: String, textCol: String,
                         numHashes: Int = 64, bands: Int = 16,
                         shingleWords: Int = 3,
                         minJaccard: Double = 0.8,
                         maxBucket: Int = 1000): DataFrame =
    incrementalMinhashAgainstIndex(newDocs,
      minhashBands(seen, idCol, textCol, numHashes, bands,
        shingleWords).withColumnRenamed(idCol, "seen_id"),
      seen, idCol, textCol, numHashes, bands, shingleWords,
      minJaccard, maxBucket)

  /**
   * [[incrementalMinhash]] against a PREBUILT band index — the actual
   * 100 TB API: `seenBands` is a persisted (seen_id, band, band_hash)
   * table (appended once per admitted batch via [[minhashBands]], never
   * recomputed), and `seenTexts` a (id, text) lookup touched only for
   * the few candidate ids that band-collide (semi-join first). The
   * convenience form above inlines the index build for callers without
   * a persisted index; plans are identical. The index MUST have been
   * built with the same (numHashes, bands, shingleWords) parameters or
   * band hashes cannot collide with the batch's.
   */
  def incrementalMinhashAgainstIndex(newDocs: DataFrame,
                                     seenBands: DataFrame,
                                     seenTexts: DataFrame,
                                     idCol: String, textCol: String,
                                     numHashes: Int = 64, bands: Int = 16,
                                     shingleWords: Int = 3,
                                     minJaccard: Double = 0.8,
                                     maxBucket: Int = 1000)
      : DataFrame = Checkpoints.scoped { s =>
    // pinned (optimization round 19): the batch's band rows feed THREE
    // consumers below (the index semi-join probe, the hot-key anti-join
    // input, and the candidate join) — without the pin each consumer
    // re-runs the batch's minhash signatures; batch-sized by contract
    // (docs × bands fixed-width rows), the same class as the pins in
    // ingestAdmissionAgainstState
    val nb = s.pin(minhashBands(newDocs, idCol, textCol, numHashes, bands,
      shingleWords)
      .withColumnRenamed(idCol, "new_id"))
    // only index rows whose key the batch touches participate — the
    // hot-key count and the candidate join are both per-key, so
    // restricting to the batch's (band, band_hash) keys is
    // semantics-preserving and turns the per-batch cost from a
    // full-index aggregation into a broadcast semi-join probe (bucket
    // or partition the persisted index by band_hash for scan pruning
    // on top); per-key counts stay COMPLETE for the surviving keys
    val sb = seenBands.join(
      nb.select(col("band"), col("band_hash")).distinct(),
      Seq("band", "band_hash"), "left_semi")
    // excluded hot keys surface in the same graft_buckets observe
    // metric as the batch operators — never a silent recall cut
    val hotKeys = observeBuckets(
      sb.groupBy(col("band"), col("band_hash"))
        .agg(count(lit(1)).as("__n")),
      col("__n"), maxBucket, "graft_buckets")
      .where(col("__n") > maxBucket)
      .select(col("band"), col("band_hash"))
    // pinned (optimization round 19): three consumers (the two
    // tokenize-only-colliding-docs semi-join probes and the final
    // verification join) would each re-run the banded candidate join
    // lineage above; candidates are output-sized (band-colliding pairs)
    val cand = s.pin(nb.join(hotKeys, Seq("band", "band_hash"), "left_anti")
      .join(sb, Seq("band", "band_hash"))
      .select(col("new_id"), col("seen_id"))
      .distinct())
    // tokenize only colliding docs on each side
    val newSh = newDocs
      .join(cand.select(col("new_id").as(idCol)).distinct(), idCol)
      .select(col(idCol).as("new_id"),
        shinglesNative(col(textCol), shingleWords).as("__sh_n"))
    val seenSh = seenTexts
      .join(cand.select(col("seen_id").as(idCol)).distinct(), idCol)
      .select(col(idCol).as("seen_id"),
        shinglesNative(col(textCol), shingleWords).as("__sh_s"))
    cand.join(newSh, "new_id").join(seenSh, "seen_id")
      .withColumn("jaccard",
        size(array_intersect(col("__sh_n"), col("__sh_s"))).cast("double") /
          size(array_union(col("__sh_n"), col("__sh_s"))))
      .where(col("jaccard") >= minJaccard)
      .select(col("new_id"), col("seen_id"),
        round(col("jaccard"), 4).as("jaccard"))
  }

  /**
   * Join-free approximate membership pre-filter for ingestion at
   * extreme history scale: build a Bloom filter over the history's
   * canonical text hashes — one aggregation producing a binary sketch
   * bounded by `numBits` (KBs-MBs), NOT by history size — then flag
   * each batch doc by probing the sketch as a literal. NO false
   * negatives: every true duplicate is flagged; false positives at the
   * sketch's rate flag some novel docs. The intended composition:
   * admit unflagged docs join-free (the overwhelming majority in
   * steady-state ingestion), route flagged docs through the exact
   * [[incrementalExact]] anti-join. Uses Catalyst's own
   * BloomFilterAggregate / BloomFilterMightContain (the AQE
   * runtime-join-filter machinery) via the graft function registry.
   *
   * This convenience form rebuilds the sketch from `seen` on every
   * call; per-batch ingestion should build ONCE with
   * [[buildSeenSketch]], persist the bytes, and probe each batch with
   * [[bloomFlagsFromSketch]]. The driver holds only the sketch
   * (`numBits / 8` bytes) — the same bounded-collect class as IVF
   * centroids.
   */
  def bloomSeenFlags(newDocs: DataFrame, seen: DataFrame,
                     idCol: String, textCol: String,
                     expectedItems: Long = 1000000L,
                     numBits: Long = 1L << 23): DataFrame =
    bloomFlagsFromSketch(newDocs, idCol, textCol,
      buildSeenSketch(seen, textCol, expectedItems, numBits))

  /**
   * The sketch-build half of [[bloomSeenFlags]] on its own: aggregate
   * the history ONCE, persist the returned bytes, and probe each batch
   * with [[bloomFlagsFromSketch]] — per-batch ingestion must not rescan
   * history. `None` for an empty history (nothing can be a duplicate).
   * BloomFilterAggregate clamps sizing at
   * `spark.sql.optimizer.runtime.bloomFilter.maxNumItems` / `maxNumBits`
   * (defaults 4e6 / 2^26): exceeding them would SILENTLY degrade the FP
   * rate, so oversized requests are rejected here instead.
   */
  def buildSeenSketch(seen: DataFrame, textCol: String,
                      expectedItems: Long = 1000000L,
                      numBits: Long = 1L << 23,
                      keyOf: Column => Column = identity)
      : Option[Array[Byte]] = {
    val conf = seen.sparkSession.conf
    def cap(key: String, dflt: Long): Long =
      conf.getOption(key).map(_.toLong).getOrElse(dflt)
    val maxItems =
      cap("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", 4000000L)
    val maxBits =
      cap("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", 1L << 26)
    require(expectedItems <= maxItems && numBits <= maxBits,
      s"sketch size ($expectedItems items / $numBits bits) exceeds " +
        s"BloomFilterAggregate's clamp ($maxItems / $maxBits) — raise " +
        "spark.sql.optimizer.runtime.bloomFilter.maxNumItems/maxNumBits " +
        "or the clamp silently inflates the false-positive rate")
    Option(seen
      .agg(NativeFunctions.bloomAggNative(xxhash64(keyOf(col(textCol))),
        expectedItems, numBits).as("bf"))
      .collect()(0).getAs[Array[Byte]](0)) // null ⟺ empty history
  }

  /**
   * Merge two persisted membership sketches (bitset OR) — the
   * append-only update: after admitting a batch, build the batch's OWN
   * sketch ([[buildSeenSketch]] over just the admitted docs) and merge
   * it into the persisted history sketch, so the history is NEVER
   * rescanned as it grows. Uses Spark's public sketch API
   * (`BloomFilter.readFrom/mergeInPlace/writeTo` — the same
   * serialization `BloomFilterAggregate` emits and `might_contain`
   * reads). Both sketches must have been built with the same sizing
   * (same bit count and hash family) — `mergeInPlace` rejects
   * incompatible inputs rather than corrupting membership. `None`
   * behaves as the empty history.
   */
  def mergeSeenSketches(a: Option[Array[Byte]],
                        b: Option[Array[Byte]]): Option[Array[Byte]] =
    (a, b) match {
      case (None, x) => x
      case (x, None) => x
      case (Some(ba), Some(bb)) =>
        import org.apache.spark.util.sketch.BloomFilter
        val merged = BloomFilter.readFrom(ba)
        merged.mergeInPlace(BloomFilter.readFrom(bb))
        val out = new java.io.ByteArrayOutputStream()
        merged.writeTo(out)
        Some(out.toByteArray)
    }

  /** Probe half of [[bloomSeenFlags]]: flag batch docs against a
    * prebuilt sketch. An absent sketch (empty history) flags nothing —
    * the flag is always a real boolean, never null, so both the
    * `maybe_seen` route and its negation partition the batch. */
  def bloomFlagsFromSketch(newDocs: DataFrame, idCol: String,
                           textCol: String,
                           sketch: Option[Array[Byte]],
                           keyOf: Column => Column = identity)
      : DataFrame = {
    val flag = sketch match {
      case Some(bytes) =>
        NativeFunctions.bloomMightContain(lit(bytes),
          xxhash64(keyOf(col(textCol))))
      case None => lit(false)
    }
    newDocs.select(col(idCol), col(textCol), flag.as("maybe_seen"))
  }

  /**
   * Full ingestion-admission pipeline — the composition the pieces above
   * exist for, end-to-end: which documents of an incoming batch enter
   * the corpus?
   *
   *   1. within-batch exact dedup (smallest id survives), so the history
   *      gates see one representative per batch text;
   *   2. Bloom gate ([[buildSeenSketch]] / [[bloomFlagsFromSketch]]):
   *      unflagged docs are admitted past the exact stage JOIN-FREE —
   *      the steady-state majority; the sketch has no false negatives,
   *      so no true duplicate can slip past;
   *   3. exact anti-join ([[incrementalExact]]) for the flagged docs
   *      only — resolves Bloom false positives exactly;
   *   4. near-dup gate ([[incrementalMinhash]]): surviving candidates
   *      probe the history's banded MinHash index; any match at
   *      `minJaccard`+ rejects the candidate.
   *
   * Returns the admitted (idCol, textCol) rows. Scale shape: history
   * participates through one sketch aggregation (KB-MB driver bytes,
   * the documented bounded-collect class), one hash-projected anti-join
   * over the flagged minority, and its banded signature index — 100 TB
   * of history text is never re-read wholesale, only the few docs that
   * band-collide are re-tokenized. Within-batch NEAR-dup survivors are
   * the batch pipeline's job ([[minhashDuplicates]] → [[duplicateClusters]]
   * → [[selectSurvivors]]); this operator gates the batch against history.
   */
  def ingestAdmission(newDocs: DataFrame, seen: DataFrame,
                      idCol: String, textCol: String,
                      expectedItems: Long = 1000000L,
                      numBits: Long = 1L << 23,
                      numHashes: Int = 64, bands: Int = 16,
                      shingleWords: Int = 3,
                      minJaccard: Double = 0.8,
                      maxBucket: Int = 1000,
                      keyOf: Column => Column = identity)
      : DataFrame = Checkpoints.scoped { s =>
    // The history band index and the history membership sketch are
    // INDEPENDENT computations over `seen`; built sequentially, the
    // band lineage used to evaluate inside the candidate-pin job three
    // stages later while the driver idled through the sketch collect
    // and the batch checkpoints first. Pinning the bands from a
    // background thread overlaps it with those jobs (guide §2.6 — the
    // q_hybrid_search_ivf BM25-pin pattern). Bands content unchanged;
    // the persisted-state form (ingestAdmissionAgainstState) is what
    // production calls with both halves prebuilt.
    val bandsDf =
      minhashBands(seen, idCol, textCol, numHashes, bands, shingleWords)
        .withColumnRenamed(idCol, "seen_id")
    val bandsPin = s.async(s.pin(bandsDf))
    val sketch = buildSeenSketch(seen, textCol, expectedItems, numBits, keyOf)
    ingestAdmissionAgainstState(newDocs, seen, sketch, bandsPin(),
      idCol, textCol, numHashes, bands, shingleWords, minJaccard, maxBucket,
      keyOf)
  }

  /**
   * [[ingestAdmission]] against PERSISTED state — the per-batch form:
   * `sketch` is the history's membership sketch ([[buildSeenSketch]] /
   * [[mergeSeenSketches]]), `seenBands` its banded MinHash index, and
   * `seenTexts` the text lookup touched only for exact-stage suspects
   * (hash projection) and band-colliding candidates. The convenience
   * form above inlines both state builds.
   *
   * Index/sketch entries for ids NOT (or not yet) in `seenTexts` are
   * benign: a sketch over-flag drains through the exact anti-join, and
   * a band candidate with no `seenTexts` row drops out of the
   * verification join — `seenTexts` is the source of truth. The
   * REVERSE (corpus docs missing from the sketch) would break the
   * no-false-negative admission contract, so state writers must land
   * index and sketch before the corpus append (see
   * `IngestPipeline.nearDupIngestIncremental`). For the same reason a
   * `None` sketch is only correct for an EMPTY history — with history
   * present, exact duplicates lose the DETERMINISTIC exact gate and
   * are caught only by the probabilistic near-dup gate (identical
   * signatures band-collide), which misses texts shorter than
   * `shingleWords` words and texts whose bands are hot-key-capped;
   * rebuild from the corpus ([[buildSeenSketch]]) instead of passing
   * None, as the pipeline's bootstrap does.
   *
   * `keyOf` rewrites text before EVERY exact-stage hash (within-batch
   * dedup, sketch probe, exact anti-join) — pass [[graft.functions
   * .TextAnalysis.normalizeForDedup]] and a case-/punctuation-/digit-
   * reformatted copy of history collides where the raw hash admits it
   * (the CCNet key-normalization step; at 100 TB reformatted
   * duplicates are the rule, not the edge case). CONTRACT: the
   * persisted sketch must have been built with the SAME `keyOf`
   * ([[buildSeenSketch]]'s parameter) or admission silently loses its
   * no-false-negative guarantee. The near-dup gate deliberately stays
   * on the RAW text: shingle signatures tolerate small edits by
   * construction, and normalizing there would change every persisted
   * band index.
   */
  def ingestAdmissionAgainstState(newDocs: DataFrame, seenTexts: DataFrame,
                                  sketch: Option[Array[Byte]],
                                  seenBands: DataFrame,
                                  idCol: String, textCol: String,
                                  numHashes: Int = 64, bands: Int = 16,
                                  shingleWords: Int = 3,
                                  minJaccard: Double = 0.8,
                                  maxBucket: Int = 1000,
                                  keyOf: Column => Column = identity)
      : DataFrame = Checkpoints.scoped { s =>
    val batch = exact(
      newDocs.select(col(idCol), col(textCol),
        md5(keyOf(col(textCol)).cast("binary")).as("__h")),
      Seq("__h"), idCol).drop("__h")
    // checkpointed WHEN THE SKETCH IS BIG: the probe plan embeds the
    // sketch as a numBits/8-byte literal, and `flagged` fans out to two
    // consumers — without the truncation every downstream stage's task
    // binary would carry the sketch bytes and re-run the probe. That
    // justification is proportional to the literal: at the default
    // production sizing (2^23 bits = 1 MB) the pin pays; for a small
    // history sketch (KBs) the checkpoint job costs more than the
    // duplicated 16 KB literal + re-probe of a batch-sized frame
    // (optimization round 19, interleaved A/B: −0.25 s per admission
    // query at the 2^17-bit gate sizing, admitted set identical). The
    // gate is the literal's own size — scale-adaptive by construction.
    val flagged0 = bloomFlagsFromSketch(batch, idCol, textCol, sketch, keyOf)
    val flagged =
      if (sketch.exists(_.length >= (1 << 20))) s.pinLocal(flagged0)
      else flagged0
    val clean = flagged.where(!col("maybe_seen")).drop("maybe_seen")
    val suspects = flagged.where(col("maybe_seen")).drop("maybe_seen")
    val exactNovel =
      incrementalExact(suspects, seenTexts, idCol, textCol, keyOf)
    // checkpointed: four consumers (band projection, both candidate-id
    // semi-joins, the final anti-join) would each re-execute the
    // window + anti-join lineage above — again batch-sized
    val candidates = s.pinLocal(clean.unionByName(exactNovel))
    val nearMatches = incrementalMinhashAgainstIndex(candidates, seenBands,
      seenTexts, idCol, textCol, numHashes, bands, shingleWords,
      minJaccard, maxBucket)
    candidates.join(
      nearMatches.select(col("new_id").as(idCol)).distinct(),
      Seq(idCol), "left_anti")
  }

  // ---- benchmark contamination --------------------------------------------

  /** Shingle/window membership key at the configured width: 64-bit
    * `xxhash64`, or a 128-bit (two-long struct) key — `xxhash64(1, x)`
    * prepends a constant column, which is the seeded-second-function
    * form of the same family. Struct keys group/join/window exactly
    * like scalar keys; the exchange carries 16 bytes instead of 8. At
    * 10^12 keys the 64-bit birthday bound expects ~0.03 collisions;
    * a 10^13-shingle corpus (~5 expected) flips `hashBits = 128`
    * (expected ~1e-14) WITHOUT changing operator semantics. */
  private def membershipKey(x: Column, hashBits: Int): Column = {
    require(hashBits == 64 || hashBits == 128,
      s"hashBits must be 64 or 128, got $hashBits")
    if (hashBits == 64) xxhash64(x)
    else struct(xxhash64(x).as("h1"), xxhash64(lit(1L), x).as("h2"))
  }

  /**
   * Benchmark-contamination score: for each document, the fraction of its
   * distinct `k`-word shingles that also occur anywhere in `benchmark`
   * (the held-out eval corpus). Standard pre-training decontamination
   * check (cf. the n-gram-overlap procedure described in public LM
   * reports, e.g. GPT-3 appendix C / PaLM; public methodology).
   *
   * Scale shape: both corpora reduce to (doc, `xxhash64(shingle)`) /
   * distinct (`xxhash64(shingle)`) rows — the hash is MATERIALIZED in a
   * map-side projection immediately after the explode, so every exchange
   * (the membership join and the per-doc rollup) carries 8-byte keys,
   * never shingle text (~5x the corpus) and never full documents;
   * membership is a broadcast-or-hash LEFT join on the hash (Catalyst
   * broadcasts when the benchmark side is small, the common case); the
   * per-doc fraction is one `groupBy(doc)` with map-side partials. No
   * driver-side set, no cross join. (A 64-bit collision would count a
   * clean shingle as contaminated; at 10^12 shingles expected collisions
   * are ~0.03 — acceptable for a filtering statistic, same argument as
   * [[duplicateSpans]]; `hashBits = 128` switches to a two-long struct
   * key for 10^13+-shingle corpora without changing semantics.)
   */
  /**
   * SKETCH contamination: corpus-level overlap between the corpus's
   * and a benchmark's distinct shingle sets from two THETA sketches
   * ([[graft.operators.Frequency.thetaSketches]] family) instead of
   * the exact join — the 100 TB monitoring form: each side reduces
   * to one ≤(2^lgK·8 B) binary (persistable, mergeable across
   * days/shards), and |corpus ∩ benchmark| / |corpus| is answered
   * from the sketches alone, no re-scan, no join. The exact
   * per-document verdicts stay with [[contaminationScore]] (a sketch
   * cannot attribute hits to documents); this is the cheap
   * continuous gauge in front of it. One output row:
   * `(corpus_est, bench_est, overlap_lower, overlap_est,
   * overlap_upper, rate_est)`. Exact while distinct shingles ≤
   * 2^lgK per side (theta == 1); deterministic under the library's
   * fixed seed.
   */
  def contaminationSketch(docs: DataFrame, benchmark: DataFrame,
                          textCol: String, shingleWords: Int = 5,
                          lgK: Int = 12,
                          hashBits: Int = 64): DataFrame = {
    // 128-bit keys are a two-long STRUCT, which ThetaSketchAgg's input
    // type check rejects (bigint/int/string) — and a theta sketch adds
    // no resolution from them anyway: its own error (≥2^-lgK/2
    // relative) dwarfs 64-bit collision mass at any feasible corpus
    // size, so the wider key only matters for the EXACT forms
    // (contaminationScore / duplicateSpans), which accept it.
    require(hashBits == 64,
      s"contaminationSketch supports hashBits=64 only, got $hashBits")
    def sketchOf(df: DataFrame, name: String): DataFrame = df
      .select(explode(shinglesNative(col(textCol), shingleWords))
        .as("__shs"))
      .select(membershipKey(col("__shs"), hashBits).as("__sh"))
      .agg(NativeFunctions.thetaAggNative(col("__sh"), lgK).as(name))
    contaminationOutput(sketchOf(docs, "tc"), sketchOf(benchmark, "tb"))
  }

  /** The shared contamination-gauge tail: two one-row sketch frames
    * (`tc` = corpus, `tb` = benchmark) → the six-column output —
    * single-sourced so the batch ([[contaminationSketch]]) and
    * log-probing ([[contaminationFromLog]]) forms cannot diverge. */
  private def contaminationOutput(corpus: DataFrame,
                                  bench: DataFrame): DataFrame = {
    corpus.crossJoin(broadcast(bench))
      .select(col("tc"), col("tb"),
        NativeFunctions.thetaEstimateNative(
          NativeFunctions.thetaSetOpNative(col("tc"), col("tb"),
            "intersect")).as("ov"))
      .select(
        element_at(NativeFunctions.thetaEstimateNative(col("tc")), 2)
          .as("corpus_est"),
        element_at(NativeFunctions.thetaEstimateNative(col("tb")), 2)
          .as("bench_est"),
        element_at(col("ov"), 1).as("overlap_lower"),
        element_at(col("ov"), 2).as("overlap_est"),
        element_at(col("ov"), 3).as("overlap_upper"))
      .withColumn("rate_est",
        round(col("overlap_est") / col("corpus_est"), 6))
  }

  /**
   * Persist a per-shard shingle theta-sketch LOG for a documents
   * corpus — the production shape [[contaminationSketch]] points at:
   * instead of re-sketching both corpora per call, each shard (a
   * day, a source, a crawl snapshot) reduces ONCE to one ≤(2^lgK·8 B)
   * sketch row under its own partition, and every later contamination
   * question is answered from the log with ZERO re-scan of the data
   * (the [[graft.sources.ChunkIndex]] pattern for sketches;
   * [[graft.streaming.OverlapMonitor]] is the streaming writer of the
   * same layout). Layout: parquet partitioned by `shard=<value>`,
   * one row `(theta, n_shingle_rows)` per shard.
   *
   * LOG FORMAT CONTRACT — membership-key width: every sketch in a log
   * hashes shingles through `membershipKey(…, 64)` (64-bit keys,
   * hard-pinned here, NOT a parameter). The batch-side
   * `contaminationSketch` gauge exposes `hashBits` but guards it to
   * 64 for the same reason: theta sketches only intersect meaningfully
   * over one key function, so if a 128-bit path ever lands for the
   * batch gauge, this log format must version (new dir or a width
   * column), not silently mix widths.
   *
   * Append discipline: a NEW shard's arrival is one partition write —
   * rerun with `docs` filtered to it and dynamic partition overwrite,
   * or just this method per shard directory. Duplicate rows for one
   * shard are harmless to probes (theta union is idempotent — A∪A=A);
   * REPLACING a shard's data requires overwriting its partition.
   * Probes union shard sketches, so estimates are exact while the
   * union's distinct count fits 2^lgK (theta == 1) — union with the
   * SAME lgK preserves that, which is why [[contaminationFromLog]]
   * takes the create-time lgK.
   */
  def contaminationSketchLog(docs: DataFrame, textCol: String,
                             shardCol: String, dir: String,
                             shingleWords: Int = 5,
                             lgK: Int = 12): Unit = {
    shardSketches(docs, textCol, shardCol, shingleWords, lgK)
      .write.mode("overwrite").partitionBy("shard").parquet(dir)
  }

  /** One sketch row per shard — the shared front of
    * [[contaminationSketchLog]] and [[contaminationSketchLogUpsert]]. */
  private def shardSketches(docs: DataFrame, textCol: String,
                            shardCol: String, shingleWords: Int,
                            lgK: Int): DataFrame = {
    docs
      .select(col(shardCol).cast("string").as("shard"),
        explode(shinglesNative(col(textCol), shingleWords)).as("__shs"))
      .select(col("shard"), membershipKey(col("__shs"), 64).as("__sh"))
      .groupBy(col("shard"))
      .agg(NativeFunctions.thetaAggNative(col("__sh"), lgK).as("theta"),
        count(lit(1)).as("n_shingle_rows"))
  }

  /** Upsert SPECIFIC shards of a [[contaminationSketchLog]]: rebuild
    * the sketches of exactly the shards present in `docs` and
    * overwrite ONLY those partitions (dynamic partition overwrite) —
    * the new-day/new-crawl append and the replaced-shard refresh in
    * one primitive; untouched shards' files are never rewritten. */
  def contaminationSketchLogUpsert(docs: DataFrame, textCol: String,
                                   shardCol: String, dir: String,
                                   shingleWords: Int = 5,
                                   lgK: Int = 12): Unit = {
    shardSketches(docs, textCol, shardCol, shingleWords, lgK)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("shard").parquet(dir)
  }

  /** Answer the contamination gauge from a prebuilt
    * [[contaminationSketchLog]]: benchmark = the union of
    * `benchShards`' sketches, corpus = the union of every other
    * shard's — no join, no re-scan, two sketch unions over a
    * KB-scale log. Same output schema and semantics as
    * [[contaminationSketch]] (the persisted-state-is-semantics-
    * preserving contract q_contamination_theta_state pins). */
  def contaminationFromLog(spark: org.apache.spark.sql.SparkSession,
                           dir: String, benchShards: Seq[String],
                           lgK: Int = 12): DataFrame = {
    require(benchShards.nonEmpty, "benchShards must name ≥1 shard")
    import graft.operators.Frequency
    val log = spark.read.parquet(dir)
    val corpus = Frequency.thetaUnionSketch(
      log.where(!col("shard").isin(benchShards: _*)), "theta", lgK)
      .select(col("theta").as("tc"))
    val bench = Frequency.thetaUnionSketch(
      log.where(col("shard").isin(benchShards: _*)), "theta", lgK)
      .select(col("theta").as("tb"))
    contaminationOutput(corpus, bench)
  }

  def contaminationScore(docs: DataFrame, benchmark: DataFrame,
                         idCol: String, textCol: String,
                         shingleWords: Int = 5,
                         hashBits: Int = 64): DataFrame = {
    val shingles = shinglesNative(col(textCol), shingleWords)
    val docSh = docs.select(col(idCol), explode(shingles).as("__shs"))
      .select(col(idCol), membershipKey(col("__shs"), hashBits).as("__sh"))
    val benchSh = benchmark
      .select(explode(shingles).as("__shs"))
      .select(membershipKey(col("__shs"), hashBits).as("__sh"))
      .distinct()
      .withColumn("__hit", lit(1))
    docSh.join(benchSh, Seq("__sh"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("__hit"), lit(0))).as("n_contaminated"))
      .select(col(idCol), col("n_shingles"), col("n_contaminated"),
        round(col("n_contaminated").cast("double") / col("n_shingles"), 4)
          .as("contamination"))
  }

  /**
   * Decontamination against MANY benchmark sets in one corpus pass:
   * `benchmarks` carries (`benchCol`, `textCol`) rows — one per
   * benchmark example — and the result has one row per (document,
   * benchmark) pair WITH AT LEAST ONE shared `shingleWords`-word
   * shingle: `(idCol, benchCol, n_shingles, n_contaminated,
   * contamination)`. Emitting only hit pairs keeps the output
   * hits-sized, not |docs| x |benchmarks|-sized — the downstream
   * decontamination filter is an anti-join on the flagged ids (or on
   * pairs, for per-benchmark eval-carve-outs).
   *
   * Scale shape mirrors [[contaminationScore]], paid ONCE for all K
   * benchmarks instead of K times: both sides hash their shingles to
   * `hashBits` keys map-side (exchanges carry 8/16-byte keys + the
   * benchmark tag, never shingle text); the benchmark side is
   * `distinct` per (benchmark, shingle); one inner hash join on the
   * key, one (doc, benchmark) aggregation. A shingle shared by many
   * benchmarks fans out at most K-fold — bounded by the benchmark
   * count, not the corpus. Per-doc totals ride a doc-sized second
   * aggregate joined back on the id (both sides one row per doc).
   */
  def contaminationScoreMulti(docs: DataFrame, benchmarks: DataFrame,
                              idCol: String, textCol: String,
                              benchCol: String,
                              shingleWords: Int = 5,
                              hashBits: Int = 64): DataFrame = {
    val shingles = shinglesNative(col(textCol), shingleWords)
    val docSh = docs.select(col(idCol), explode(shingles).as("__shs"))
      .select(col(idCol), membershipKey(col("__shs"), hashBits).as("__sh"))
    val benchSh = benchmarks
      .select(col(benchCol), explode(shingles).as("__shs"))
      .select(col(benchCol), membershipKey(col("__shs"), hashBits).as("__sh"))
      .distinct()
    val totals = docSh.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"))
    docSh.join(benchSh, Seq("__sh"))
      .groupBy(col(idCol), col(benchCol))
      .agg(count(lit(1)).as("n_contaminated"))
      .join(totals, Seq(idCol))
      .select(col(idCol), col(benchCol), col("n_shingles"),
        col("n_contaminated"),
        round(col("n_contaminated").cast("double") / col("n_shingles"), 4)
          .as("contamination"))
  }

  // ---- line-level dedup ---------------------------------------------------

  /**
   * Cross-document line-level deduplication (CCNet-style, Wenzek et al.
   * 2019, public): every line keeps only its FIRST occurrence across the
   * whole corpus (survivor = smallest (`idCol`, position)); documents are
   * reassembled from their surviving lines in original order. Kills
   * boilerplate (headers, nav bars, cookie banners) that document-level
   * dedup can't touch. Documents whose every line is a repeat disappear.
   *
   * Scale shape: explode to (line, doc, pos) — the only shuffles are a
   * hash partition on the line key for the first-occurrence window and a
   * hash partition on doc for reassembly; line text rides the shuffle
   * once (at 100 TB, window over `xxhash64(line)` instead to shuffle
   * 8-byte keys). No driver state, no collect.
   */
  def lineDedup(df: DataFrame, idCol: String, textCol: String,
                sep: String = "\n"): DataFrame = {
    val lines = df.select(col(idCol),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .as(Seq("__pos", "__line")))
      .where(length(trim(col("__line"))) > 0)
    val w = Window.partitionBy(col("__line"))
      .orderBy(col(idCol), col("__pos"))
    lines.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("__pos"), col("__line"))))
        .as("__kept"))
      .select(col(idCol),
        array_join(transform(col("__kept"), k => k.getField("__line")),
          sep).as("text_dedup"),
        size(col("__kept")).cast("long").as("n_lines_kept"))
  }

  // ---- duplicate-span detection (substring-level dedup) -------------------

  /**
   * Duplicate-span statistics in the style of Lee et al. 2022
   * ("Deduplicating Training Data Makes Language Models Better" —
   * public): every `spanWords`-word sliding window of every document is
   * matched against the WHOLE corpus; a window occurring 2+ times
   * anywhere (within the same document or across documents) is a
   * duplicated span. Output per document: total windows, duplicated
   * windows, duplicated fraction — the signal substring-level dedup
   * cuts on, which document-level dedup cannot see (a copied paragraph
   * inside an otherwise unique page).
   *
   * Scale shape: explode to (doc, window), key the window by
   * `xxhash64` so the corpus-wide occurrence count — ONE analytic
   * count over the hash partition — shuffles 8-byte keys, not window
   * text; the per-doc rollup is a second key shuffle with map-side
   * partials. (A 64-bit collision would merge two spans' counts; at
   * 10^12 windows the expected collisions are ~0.03 — acceptable for a
   * filtering statistic, use a 128-bit hash pair if not.) The paper's
   * suffix array is for finding exact span BOUNDARIES to cut; the
   * corpus-scale statistic here is the standard bucket-count
   * decomposition; `hashBits = 128` switches the window key to a
   * two-long struct for 10^13+-window corpora. Tokens are materialized
   * as their own column before window expansion — interpreted HOF
   * lambdas re-evaluate captured expressions per element, so capturing
   * the raw `split` would re-tokenize once per window.
   */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
                     spanWords: Int = 10, hashBits: Int = 64): DataFrame =
    spanWindows(df, idCol, textCol, spanWords, hashBits)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("__occ") >= 2, 1L).otherwise(0L)).as("n_dup_spans"))
      .select(col(idCol), col("n_spans"), col("n_dup_spans"),
        round(col("n_dup_spans").cast("double") / col("n_spans"), 4)
          .as("dup_span_frac"))

  /** Shared first half of [[duplicateSpans]] / [[duplicateSpanCuts]]:
    * (id, window start offset, window end offset, corpus-wide
    * occurrence count) per sliding window. The window-key hash is
    * MATERIALIZED as a column before the analytic count — were the
    * count partitioned by xxhash64(__win) directly, WindowExec would
    * need __win to evaluate its partition expression and the shuffle
    * would carry every `spanWords`-word window string (~spanWords× the
    * corpus text); this way the exchange rows are fixed-width
    * (id, start, end, key). */
  private def spanWindows(df: DataFrame, idCol: String, textCol: String,
                          spanWords: Int, hashBits: Int): DataFrame = {
    require(spanWords >= 1, "spanWords must be >= 1")
    val wins = df
      .select(col(idCol),
        graft.functions.TextAnalysis.tokens(col(textCol)).as("__toks"))
      .withColumn("__nwin",
        greatest(size(col("__toks")) - (spanWords - 1), lit(1)))
      .select(col(idCol), size(col("__toks")).as("__ntok"),
        posexplode(transform(
          sequence(lit(0), col("__nwin") - 1),
          i => membershipKey(
            concat_ws(" ", slice(col("__toks"), i + 1, lit(spanWords))),
            hashBits)))
          .as(Seq("__start", "__h")))
      .select(col(idCol), col("__start"),
        least(col("__start") + spanWords, col("__ntok")).as("__end"),
        col("__h"))
    val occ = Window.partitionBy(col("__h"))
    wins.withColumn("__occ", count(lit(1)).over(occ))
  }

  /**
   * Duplicate-span CUT extraction — the actual Lee et al. 2022 corpus
   * operation, not just the statistic: per document, the maximal merged
   * token intervals `[span_start, span_end)` (0-based word offsets)
   * covered by sliding windows whose corpus-wide occurrence count is
   * >= 2. [[rewriteWithoutSpans]] drops exactly these intervals.
   *
   * Interval merging is two analytic passes over (id, start, end) rows
   * — a running max of `end` over preceding rows flags the start of
   * each disjoint group (adjacent intervals merge: contiguous
   * duplicated text is one cut), a running sum of flags numbers the
   * groups — then one `groupBy(id, group)`. Every exchange after the
   * window expansion carries fixed-width rows keyed by (id) or
   * (hash); window text never shuffles, same discipline as
   * [[duplicateSpans]].
   */
  def duplicateSpanCuts(df: DataFrame, idCol: String, textCol: String,
                        spanWords: Int = 10,
                        hashBits: Int = 64): DataFrame = {
    val dup = spanWindows(df, idCol, textCol, spanWords, hashBits)
      .where(col("__occ") >= 2)
      .select(col(idCol), col("__start"), col("__end"))
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("__start"))
    val grouped = dup
      .withColumn("__maxe", max(col("__end")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__new",
        when(col("__start") > coalesce(col("__maxe"), lit(-1L)), 1L)
          .otherwise(0L))
      .withColumn("__grp", sum(col("__new")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, 0)))
    grouped.groupBy(col(idCol), col("__grp"))
      .agg(min(col("__start")).as("span_start"),
        max(col("__end")).as("span_end"))
      .select(col(idCol), col("span_start").cast("long"),
        col("span_end").cast("long"))
  }

  /**
   * Rewrite documents with their duplicated spans cut out: tokens whose
   * 0-based offset falls in any of the doc's [[duplicateSpanCuts]]
   * intervals are dropped; the survivors re-join with single spaces
   * (tokenization already normalizes whitespace, so a cut-free doc
   * round-trips to its space-normalized form). Documents with no cuts
   * pass through. One membership-sized left join (cut intervals per
   * doc, collected — a handful of (start, end) longs each, bounded by
   * docLength/spanWords) + a zero-shuffle projection.
   */
  def rewriteWithoutSpans(df: DataFrame, cuts: DataFrame, idCol: String,
                          textCol: String): DataFrame = {
    val cutsByDoc = cuts
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("span_start"), col("span_end")))
        .as("__cuts"))
    df.join(cutsByDoc, Seq(idCol), "left")
      .withColumn("__toks",
        graft.functions.TextAnalysis.tokens(col(textCol)))
      .select(col(idCol),
        when(col("__cuts").isNull, concat_ws(" ", col("__toks")))
          .otherwise(concat_ws(" ", filter(col("__toks"),
            (_, i) => !exists(col("__cuts"), c =>
              i.cast("long") >= c.getField("span_start") &&
                i.cast("long") < c.getField("span_end")))))
          .as("text_cut"))
  }

  // ---- content-defined chunking (FastCDC gear) ----------------------------

  /**
   * Content-defined chunk table `(idCol, chunk_hash, chunk_start,
   * chunk_len)` — one row per chunk, byte offsets
   * ([[graft.plans.CdcChunking]], the FastCDC gear construction). Cut
   * points depend only on content, so documents sharing a long
   * substring RE-SYNCHRONIZE to identical chunks inside it regardless
   * of differing prefixes — the storage-level dedup primitive
   * (chunk-hash equality finds shared content where whole-document
   * hashing and fixed-offset blocking both fail). Zero shuffle: one
   * codegen'd projection + explode; persist the table partitioned by
   * `pmod(chunk_hash, buckets)` as the chunk index of a 100 TB store.
   */
  def cdcChunkHashes(df: DataFrame, idCol: String, textCol: String,
                     minSize: Int = 32, avgSize: Int = 64,
                     maxSize: Int = 128): DataFrame = {
    df.select(col(idCol),
        explode(graft.plans.NativeFunctions.cdcChunksNative(
          col(textCol), minSize, avgSize, maxSize)).as("__c"))
      .select(col(idCol),
        col("__c").getField("hash").as("chunk_hash"),
        col("__c").getField("start").as("chunk_start"),
        col("__c").getField("len").as("chunk_len"))
  }

  /**
   * Document pairs sharing content at chunk granularity:
   * `(id_a, id_b, n_shared_chunks, shared_bytes)` for pairs sharing at
   * least `minSharedChunks` chunk hashes. The banded-LSH plan shape —
   * self-join ON the chunk hash (hot hashes over `maxBucket` docs
   * dropped first, the boilerplate-chunk guard), two partial-aggregated
   * groupBys — never all-pairs. `shared_bytes` sums the matched chunk
   * lengths on the a-side: the dedupable-volume estimate a storage
   * planner acts on.
   */
  /**
   * Per-document NOVELTY against a persisted chunk index — the
   * incremental/steady-state form of the CDC family: what fraction of
   * this batch's bytes is content the store has never seen?
   * `(idCol, total_bytes, novel_bytes, novelty)` where novelty =
   * novel_bytes / total_bytes; an exact copy of indexed content scores
   * 0.0, fully new content 1.0, a prefix-edited copy only its changed
   * chunks. The index participates as ONE distinct 8-byte hash column
   * (the `incrementalExact` discipline — history text is never read),
   * so per-batch cost is the batch's chunking plus one scan of that
   * hash column (measured: a fixed 1000-doc batch against a 30× index
   * costs 2.3× — ScaleCurve's `cdc_novelty_fixed_batch`, e ≈ 0.24; for
   * strict history-independence put a Bloom sketch of the chunk hashes
   * in front — the `ingestAdmission` pattern composes directly, chunk
   * hashes being longs). This is the dedupable-volume /
   * acquisition-valuation number a storage or data-buying planner acts
   * on before ingesting a batch.
   */
  def cdcNovelty(df: DataFrame, idCol: String, textCol: String,
                 chunkIndex: DataFrame,
                 minSize: Int = 32, avgSize: Int = 64,
                 maxSize: Int = 128): DataFrame = {
    val chunks = cdcChunkHashes(df, idCol, textCol, minSize, avgSize,
      maxSize)
    val seen = chunkIndex.select(col("chunk_hash")).distinct()
    val novel = chunks.join(seen, Seq("chunk_hash"), "left_anti")
      .groupBy(col(idCol))
      .agg(sum(col("chunk_len")).as("novel_bytes"))
    chunks.groupBy(col(idCol))
      .agg(sum(col("chunk_len")).as("total_bytes"))
      .join(novel, Seq(idCol), "left")
      .select(col(idCol), col("total_bytes"),
        coalesce(col("novel_bytes"), lit(0L)).as("novel_bytes"),
        (coalesce(col("novel_bytes"), lit(0L)).cast("double") /
          col("total_bytes")).as("novelty"))
  }

  def cdcSharedChunkPairs(df: DataFrame, idCol: String, textCol: String,
                          minSize: Int = 32, avgSize: Int = 64,
                          maxSize: Int = 128,
                          minSharedChunks: Int = 1,
                          maxBucket: Int = 1000)
      : DataFrame = Checkpoints.scoped { s =>
    val chunks = s.pinLocal(cdcChunkHashes(df, idCol, textCol, minSize,
      avgSize, maxSize))
    val hot = chunks.groupBy(col("chunk_hash"))
      .agg(count_distinct(col(idCol)).as("__n"))
      .where(col("__n") > maxBucket).select(col("chunk_hash"))
    val pruned = chunks.join(hot, Seq("chunk_hash"), "left_anti")
    // distinct per (id, hash): repeated chunks inside ONE doc must not
    // multiply the pair count
    val a = pruned.groupBy(col("chunk_hash"), col(idCol))
      .agg(max(col("chunk_len")).as("__len"))
      .select(col("chunk_hash"), col(idCol).as("id_a"),
        col("__len").as("__len_a"))
    val b = pruned.select(col("chunk_hash"), col(idCol).as("id_b"))
      .distinct()
    a.join(b, Seq("chunk_hash"))
      .where(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared_chunks"),
        sum(col("__len_a")).as("shared_bytes"))
      .where(col("n_shared_chunks") >= minSharedChunks)
  }

  /**
   * Bloom-fronted novelty resolution of a hash frame against a
   * persisted [[graft.sources.ChunkIndex]]: rows of `hashFrame` (any
   * frame with a `chunk_hash` column) whose hash the index has NEVER
   * seen. Sketch-negative rows are novel JOIN-FREE (no false
   * negatives — the steady-state majority for novel content);
   * sketch-positive rows anti-join the indexed hash column to resolve
   * Bloom false positives exactly. Per-batch cost: the batch's sketch
   * probes plus one anti-join of the flagged MINORITY against the
   * index — the `ingestAdmission` shape on 8-byte chunk hashes.
   */
  def novelAgainstIndex(hashFrame: DataFrame,
                        spark: org.apache.spark.sql.SparkSession,
                        indexDir: String): DataFrame = {
    import graft.sources.ChunkIndex
    ChunkIndex.sketch(indexDir) match {
      case None =>
        // the index commits its sketch BEFORE its chunk parquet
        // (ChunkIndex's commit-order contract), so no sketch file
        // means nothing is durably indexed: everything is novel,
        // join-free — and the chunks/ directory may not even have
        // data files to read yet (day-0 bootstrap)
        hashFrame
      case Some(bytes) =>
        val flagged = hashFrame.withColumn("__maybe_seen",
          NativeFunctions.bloomMightContain(lit(bytes),
            xxhash64(col("chunk_hash"))))
        val novelFast = flagged.where(!col("__maybe_seen"))
        val resolved = flagged.where(col("__maybe_seen"))
          .join(ChunkIndex.hashes(spark, indexDir), Seq("chunk_hash"),
            "left_anti")
        novelFast.unionByName(resolved).drop("__maybe_seen")
    }
  }

  /**
   * [[cdcNovelty]] against a PERSISTED [[graft.sources.ChunkIndex]] —
   * the production steady-state form: the index participates through
   * its Bloom sketch (join-free for novel chunks) and, for the
   * sketch-positive minority, its bucket-partitioned hash column;
   * history text is never read, and per-batch cost is flat in history
   * size (strict history-independence for the novel majority — the
   * sketch probe is O(1) per chunk). Semantics are IDENTICAL to the
   * inline [[cdcNovelty]] (the sketch has no false negatives; false
   * positives resolve exactly) — `q_cdc_novelty_state` pins that with
   * the same oracle.
   */
  def cdcNoveltyAgainstIndex(df: DataFrame, idCol: String,
                             textCol: String, indexDir: String,
                             minSize: Int = 32, avgSize: Int = 64,
                             maxSize: Int = 128)
      : DataFrame = Checkpoints.scoped { s =>
    val chunks = s.pinLocal(cdcChunkHashes(df, idCol, textCol, minSize,
      avgSize, maxSize)) // two consumers: totals + novelty
    val novel = novelAgainstIndex(chunks, df.sparkSession, indexDir)
      .groupBy(col(idCol))
      .agg(sum(col("chunk_len")).as("novel_bytes"))
    chunks.groupBy(col(idCol))
      .agg(sum(col("chunk_len")).as("total_bytes"))
      .join(novel, Seq(idCol), "left")
      .select(col(idCol), col("total_bytes"),
        coalesce(col("novel_bytes"), lit(0L)).as("novel_bytes"),
        (coalesce(col("novel_bytes"), lit(0L)).cast("double") /
          col("total_bytes")).as("novelty"))
  }

  /**
   * Duplicate-chunk CUT extraction — the Lee et al. 2022 span
   * operation on CDC boundaries instead of fixed token windows: per
   * document, the maximal merged BYTE intervals `[cut_start, cut_end)`
   * covered by chunks whose hash occurs earlier in the corpus (global
   * first occurrence by `(id, chunk_start)` survives; every later
   * occurrence — cross-document or within-document — is cut).
   * [[rewriteWithoutChunkCuts]] drops exactly these intervals.
   *
   * Scale shape: first-occurrence is a map-side-partial `groupBy(hash)
   * min(struct(id, start))` — skew-safe where a per-hash window would
   * single-task a boilerplate chunk shared by millions of documents —
   * then one hash join back (chunk rows, fixed width, text never
   * shuffles) and the two-analytic-pass interval merge of
   * [[duplicateSpanCuts]] keyed by doc.
   */
  def cdcDuplicateChunkCuts(df: DataFrame, idCol: String,
                            textCol: String,
                            minSize: Int = 32, avgSize: Int = 64,
                            maxSize: Int = 128): DataFrame = {
    val chunks = cdcChunkHashes(df, idCol, textCol, minSize, avgSize,
      maxSize)
    val first = chunks.groupBy(col("chunk_hash"))
      .agg(min(struct(col(idCol), col("chunk_start"))).as("__f"))
    val dup = chunks.join(first, Seq("chunk_hash"))
      .where(!(col(idCol) === col("__f")(idCol) &&
        col("chunk_start") === col("__f")("chunk_start")))
      .select(col(idCol), col("chunk_start").as("__start"),
        (col("chunk_start") + col("chunk_len")).as("__end"))
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("__start"))
    val grouped = dup
      .withColumn("__maxe", max(col("__end")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__new",
        when(col("__start") > coalesce(col("__maxe"), lit(-1L)), 1L)
          .otherwise(0L))
      .withColumn("__grp", sum(col("__new")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, 0)))
    grouped.groupBy(col(idCol), col("__grp"))
      .agg(min(col("__start")).as("cut_start"),
        max(col("__end")).as("cut_end"))
      .select(col(idCol), col("cut_start").cast("long"),
        col("cut_end").cast("long"))
  }

  /**
   * Rewrite documents with their duplicated CHUNKS cut out — the
   * chunk-granularity twin of [[rewriteWithoutSpans]]: byte intervals
   * from [[cdcDuplicateChunkCuts]] are spliced out of the UTF-8 byte
   * stream and the survivors concatenate back (chunks tile the
   * document, so the kept bytes are whole chunks in order; a cut-free
   * doc round-trips byte-identically, unlike the token rewrite which
   * normalizes whitespace). One membership-sized left join (cut
   * intervals per doc — a handful of longs) + a zero-shuffle splice
   * projection over the sorted interval list.
   *
   * Byte-level caveat, documented not hidden: chunk boundaries are
   * content-defined BYTE positions; on multi-byte text a cut edge can
   * split a codepoint, in which case the decode replaces the orphaned
   * bytes (U+FFFD) — the storage-dedup view is bytes, and callers
   * needing codepoint-safe edges should post-trim. Exact copies cut
   * whole documents (every chunk duplicated), which is always
   * codepoint-safe.
   */
  def rewriteWithoutChunkCuts(df: DataFrame, cuts: DataFrame,
                              idCol: String, textCol: String)
      : DataFrame = {
    val cutsByDoc = cuts
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(
        col("cut_start"), col("cut_end")))).as("__cuts"))
    df.join(cutsByDoc, Seq(idCol), "left")
      .withColumn("__bin", encode(col(textCol), "UTF-8"))
      .select(col(idCol),
        when(col("__cuts").isNull, col(textCol))
          .otherwise(decode(aggregate(col("__cuts"),
            // running state: (pos = bytes consumed, acc = kept bytes)
            struct(lit(0L).as("pos"),
              encode(lit(""), "UTF-8").as("acc")),
            (st, c) => struct(
              c.getField("cut_end").as("pos"),
              concat(st.getField("acc"),
                col("__bin").substr(
                  (st.getField("pos") + 1).cast("int"),
                  (c.getField("cut_start") - st.getField("pos"))
                    .cast("int"))).as("acc")),
            st => concat(st.getField("acc"),
              col("__bin").substr((st.getField("pos") + 1).cast("int"),
                octet_length(col("__bin")).cast("int")))), "UTF-8"))
          .as("text_cut"))
  }
}
