package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.NativeFunctions
import graft.plans.NativeFunctions.{cosineNative, hyperplaneBucketNative,
  pqAdcNative, pqEncodeNative}

/**
 * Approximate-nearest-neighbor search over an embedding column
 * (`Array[Float]`). Extension beyond the reference surface.
 *
 * Two paths, as a scale ladder:
 *  - [[bruteForceTopK]] — exact cosine top-k: one narrow map (the fused
 *    cosine kernel, codegen'd) + a top-k sort. O(corpus) per
 *    query; correct baseline, and the right choice when the query set is
 *    small.
 *  - [[lshTopK]] — random-hyperplane LSH: corpus and queries are bucketed
 *    by projection sign bits; scoring happens only inside matching
 *    buckets (plus optional multi-probe for recall). At 100 TB the bucket
 *    join shuffles ids+buckets, not raw vectors-vs-every-query. (An IVF
 *    variant would k-means the corpus; hyperplane LSH gets the same
 *    bucketing effect with zero training state.)
 *
 * Every operator runs the fused Catalyst kernels of
 * [[graft.plans.NativeFunctions]] — double precision, no UDF, no BLAS
 * dependency, whole-stage-codegen'd. The HOF `Column` forms kept here
 * (`cosine`, `hyperplaneBucket`, `pqEncode`, `pqAdc`) are the
 * references the kernels are tested against.
 */
object Similarity {

  /** Dot product of two equal-length numeric array columns. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Squared L2 distance — same left-to-right accumulation as the
    * native PQ loops, so both paths produce identical doubles. */
  def l2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, v) => acc + v)

  /** Cosine similarity (0 when either vector has zero norm) — the HOF
    * reference the operators' fused kernel
    * ([[graft.plans.CosineSimilarityExpr]]) matches bit-for-bit: both
    * walk the vectors left-to-right. */
  def cosine(a: Column, b: Column): Column = {
    val denom = norm(a) * norm(b)
    when(denom === 0.0, lit(0.0)).otherwise(dot(a, b) / denom)
  }

  /**
   * Deterministic pseudo-random hyperplane component for (plane, dim):
   * uniform in [-1, 1), derived from xxhash64 — regenerable on any
   * executor, nothing to broadcast or train.
   */
  private def planeComponent(plane: Column, dim: Column): Column =
    (pmod(xxhash64(plane, dim), lit(2000001L)).cast("double") /
      lit(1000000.0)) - lit(1.0)

  /** Sign-bit bucket of `v` under `planes` random hyperplanes — the HOF
    * reference the operators' fused kernel
    * ([[graft.plans.HyperplaneBucketExpr]]) matches bit-for-bit. */
  def hyperplaneBucket(v: Column, planes: Int): Column =
    aggregate(
      transform(sequence(lit(0), lit(planes - 1)), p =>
        when(aggregate(zip_with(v,
          sequence(lit(0), size(v) - 1),
          (x, j) => x * planeComponent(p, j)),
          lit(0.0), (acc, x) => acc + x) > 0.0,
          call_function("shiftleft", lit(1L), p)).otherwise(lit(0L))),
      lit(0L), (acc, bit) => acc.bitwiseOR(bit))

  /**
   * Exact cosine top-k for one literal query vector. O(corpus) scan, then
   * a k-row total-order sort (Spark's `TakeOrderedAndProject` — no full
   * sort materialization).
   */
  def bruteForceTopK(corpus: DataFrame, idCol: String, vecCol: String,
                     query: Seq[Float], k: Int): DataFrame = {
    corpus.select(col(idCol),
        round(cosineNative(col(vecCol).cast("array<double>"),
          typedlit(query.map(_.toDouble))), 4).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /**
   * Exact cosine top-k per query row: broadcast the (small) query set
   * against the corpus, rank within each query. The corpus is scanned
   * once regardless of query count.
   */
  def topKPerQuery(corpus: DataFrame, queries: DataFrame,
                   corpusId: String, corpusVec: String,
                   queryId: String, queryVec: String, k: Int): DataFrame = {
    val joined = corpus.select(col(corpusId),
        col(corpusVec).cast("array<double>").as("cv"))
      .crossJoin(broadcast(queries.select(col(queryId),
        col(queryVec).cast("array<double>").as("qv"))))
      .withColumn("cosine", round(cosineNative(col("cv"), col("qv")), 4))
    val w = Window.partitionBy(col(queryId))
      .orderBy(col("cosine").desc, col(corpusId))
    joined.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(queryId), col(corpusId), col("cosine"), col("rank"))
  }

  /**
   * Hard-negative mining for contrastive / retrieval training: per
   * anchor, the `k` most-similar corpus items carrying a DIFFERENT
   * label — the near-boundary negatives (high cosine, wrong class)
   * that make embedding training data informative (in-batch random
   * negatives are mostly easy; mined hard negatives are the standard
   * upgrade — e.g. DPR, Karpukhin et al. 2020, public). Output
   * `(anchorId, corpusId, corpusLabel, cosine, rank)`.
   *
   * Shape: [[topKPerQuery]]'s broadcast scan with the label
   * inequality applied BEFORE the window, so same-label pairs never
   * enter the rank. Anchor/corpus column names must differ (rename on
   * the way in, as with the other query-set APIs). Scale path: swap
   * the exact scan for [[ivfTopK]] candidates + the same label filter
   * — mining tolerates approximate retrieval by construction.
   */
  def hardNegatives(corpus: DataFrame, anchors: DataFrame,
                    corpusId: String, corpusVec: String,
                    corpusLabel: String,
                    anchorId: String, anchorVec: String,
                    anchorLabel: String,
                    k: Int): DataFrame = {
    val joined = corpus.select(col(corpusId), col(corpusLabel),
        col(corpusVec).cast("array<double>").as("__cv"))
      .crossJoin(broadcast(anchors.select(col(anchorId),
        col(anchorLabel).as("__albl"),
        col(anchorVec).cast("array<double>").as("__qv"))))
      .where(col(corpusLabel) =!= col("__albl"))
      .withColumn("cosine", round(cosineNative(col("__cv"), col("__qv")), 4))
    val w = Window.partitionBy(col(anchorId))
      .orderBy(col("cosine").desc, col(corpusId))
    joined.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(anchorId), col(corpusId), col(corpusLabel),
        col("cosine"), col("rank"))
  }

  /**
   * k-NN label propagation — the standard semi-supervised labeling
   * pass for training-data curation: give every UNLABELED item the
   * majority label of its `k` nearest LABELED neighbors by cosine
   * (ties on count break toward the smaller label, so the prediction
   * is a pure function of the data — no RNG, engine-replayable).
   * Output `(id, label, votes)` with one row per unlabeled item:
   * the predicted label and how many of its k neighbors carried it.
   *
   * Used to bootstrap quality/domain labels across a corpus from a
   * small seed set (label spreading over an embedding space — Zhu &
   * Ghahramani 2002's one-step form, public). Shape: the labeled seed
   * set is the query-set of a [[topKPerQuery]]-style broadcast scan
   * INVERTED — here the unlabeled side is usually the big one, so the
   * scored pairs partition by unlabeled id and the window ranks the
   * labeled candidates within each. Two aggregations after the rank
   * (per-(id,label) vote count, then argmax) — both key-local, no
   * global window. Scale path: swap the exact pair scan for
   * [[ivfTopK]] candidates, propagation tolerates approximate
   * neighbors by construction.
   *
   * `labeled`/`unlabeled` must carry distinct vector column names
   * (rename on the way in, as with the other query-set APIs); the
   * labeled side must fit broadcast (it is the small seed set by
   * construction — for a large labeled side use [[knnLabelBucketed]],
   * which shuffles on LSH buckets instead of broadcasting).
   */
  def knnLabel(unlabeled: DataFrame, labeled: DataFrame,
               unlabeledId: String, unlabeledVec: String,
               labeledId: String, labeledVec: String,
               labelCol: String, k: Int): DataFrame = {
    val joined = unlabeled.select(col(unlabeledId),
        col(unlabeledVec).cast("array<double>").as("__uv"))
      .crossJoin(broadcast(labeled.select(col(labeledId),
        col(labelCol).as("__lbl"),
        col(labeledVec).cast("array<double>").as("__lv"))))
      .withColumn("__cos", round(cosineNative(col("__uv"), col("__lv")), 4))
    val nn = Window.partitionBy(col(unlabeledId))
      .orderBy(col("__cos").desc, col(labeledId))
    val votes = joined.withColumn("__rk", row_number().over(nn))
      .where(col("__rk") <= k)
      .groupBy(col(unlabeledId), col("__lbl"))
      .agg(count(lit(1)).as("votes"))
    val win = Window.partitionBy(col(unlabeledId))
      .orderBy(col("votes").desc, col("__lbl"))
    votes.withColumn("__vrk", row_number().over(win))
      .where(col("__vrk") === 1)
      .select(col(unlabeledId), col("__lbl").as(labelCol), col("votes"))
  }

  /**
   * [[knnLabel]]'s large-labeled-side path: both sides bucketed by
   * [[hyperplaneBucket]] and candidates scored only within the
   * unlabeled item's bucket — the labeled side is NEVER broadcast
   * (the join is pinned to a shuffle hash join on the bucket key), so
   * a 100M-row labeled set costs one bucket-keyed shuffle instead of
   * a driver OOM. Same vote/argmax tail and the same deterministic
   * tie-breaks as [[knnLabel]].
   *
   * Approximation contract (the [[lshTopK]] recall dial): neighbors
   * come only from the item's own bucket, so the k-NN set is
   * approximate, and an unlabeled item whose bucket holds no labeled
   * item gets NO output row. Fewer `planes` → bigger buckets → higher
   * recall and cost. Label propagation tolerates approximate
   * neighbors by construction (Zhu & Ghahramani 2002).
   */
  def knnLabelBucketed(unlabeled: DataFrame, labeled: DataFrame,
                       unlabeledId: String, unlabeledVec: String,
                       labeledId: String, labeledVec: String,
                       labelCol: String, k: Int,
                       planes: Int = 8): DataFrame = {
    val u = unlabeled.select(col(unlabeledId),
        col(unlabeledVec).cast("array<double>").as("__uv"))
      .withColumn("__bkt", hyperplaneBucketNative(col("__uv"), planes))
    val l = labeled.select(col(labeledId), col(labelCol).as("__lbl"),
        col(labeledVec).cast("array<double>").as("__lv"))
      .withColumn("__bkt", hyperplaneBucketNative(col("__lv"), planes))
    // shuffle_hash hint: without it Catalyst (or AQE at runtime) would
    // happily broadcast a small-at-test-scale labeled side — the exact
    // plan this variant exists to avoid. SHJ on the bucket key is also
    // the right physical join at corpus scale: both sides hash on
    // __bkt, no sort, no driver-side relation.
    val joined = u.join(l.hint("shuffle_hash"), Seq("__bkt"))
      .withColumn("__cos", round(cosineNative(col("__uv"), col("__lv")), 4))
    val nn = Window.partitionBy(col(unlabeledId))
      .orderBy(col("__cos").desc, col(labeledId))
    val votes = joined.withColumn("__rk", row_number().over(nn))
      .where(col("__rk") <= k)
      .groupBy(col(unlabeledId), col("__lbl"))
      .agg(count(lit(1)).as("votes"))
    val win = Window.partitionBy(col(unlabeledId))
      .orderBy(col("votes").desc, col("__lbl"))
    votes.withColumn("__vrk", row_number().over(win))
      .where(col("__vrk") === 1)
      .select(col(unlabeledId), col("__lbl").as(labelCol), col("votes"))
  }

  /**
   * LSH-bucketed ANN top-k per query: corpus and queries bucketed by
   * [[hyperplaneBucket]]; candidates scored only within the query's
   * bucket. Recall/cost dial: fewer `planes` → bigger buckets → higher
   * recall, more work. Exactness is traded away by design; pair with
   * [[bruteForceTopK]] to measure recall.
   */
  /**
   * IVF (inverted-file) ANN: data-dependent coarse quantization, the
   * complement of data-independent hyperplane LSH.
   *
   * Index build = one k-means-style pass: `nlist` centroids seeded by a
   * deterministic hash-sample of the corpus, refined with `iters`
   * Lloyd iterations (each a groupBy-average over cell assignments);
   * centroids live on the driver (nlist × dim doubles — KBs) and ship to
   * executors as a broadcast literal. Search assigns each query to its
   * `nprobe` nearest cells and scores only those cells' vectors — the
   * corpus is scanned once per (re)build, queries touch ~nprobe/nlist of
   * it. At 100 TB: the assignment pass is a narrow map, the cell join is
   * a hash join on cellId, and nothing driver-side grows with corpus
   * size.
   *
   * The corpus lineage is read twice at once (seed sample and pin), so
   * it must be deterministic — the same rows on every read. One that
   * yields no seeds is re-seeded from the pin; one that yields other
   * rows seeds the centroids from rows the index never sees.
   */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
              corpusId: String, corpusVec: String,
              queryId: String, queryVec: String,
              k: Int, nlist: Int = 16, nprobe: Int = 4,
              iters: Int = 2): DataFrame = Checkpoints.scoped { s =>
    require(nlist >= 1, s"nlist must be >= 1, got $nlist")
    // pin the projected corpus before the Lloyd loop: every iteration
    // is its own job, and without the checkpoint each one re-runs the
    // source scan + cast (iters + 2 parquet scans for one build). On a
    // cluster the blocks spill MEMORY_AND_DISK per executor — the same
    // one-materialization-many-iterations shape as `ivfpqIndex`.
    val cRaw = corpus.select(col(corpusId),
      col(corpusVec).cast("array<double>").as("cv"))
    val (c, seeds) = pinWithSeeds(s, cRaw, corpusId, "cv", nlist)

    val centroids = buildCentroids(c, corpusId, "cv", iters,
      nearestCellFn, seeds)

    if (centroids.isEmpty) {
      // empty corpus: nothing to index; empty result, search schema
      return c.crossJoin(queries.select(col(queryId)))
        .select(col(queryId), col(corpusId),
          lit(0.0).as("cosine"), lit(0).as("rank"))
        .limit(0)
    }

    val assigned = c.withColumn("cell", nearestCellFn(centroids, col("cv")))
    val q = queries.select(col(queryId),
        col(queryVec).cast("array<double>").as("qv"))
      .withColumn("cell", explode(nearestCells(centroids, nprobe)))

    val joined = assigned.join(broadcast(q), Seq("cell"))
      .withColumn("cosine", round(cosineNative(col("cv"), col("qv")), 4))
    val w = Window.partitionBy(col(queryId))
      .orderBy(col("cosine").desc, col(corpusId))
    joined.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(queryId), col(corpusId), col("cosine"), col("rank"))
  }

  /**
   * IVF centroid build, shared by [[ivfTopK]] and
   * `Dedup.semanticDuplicates`: `nlist` centroids seeded by a
   * deterministic hash-sample of the corpus (smallest `xxhash64(id)`),
   * refined with `iters` Lloyd iterations. Centroids are driver-side by
   * design — nlist × dim doubles, KBs, the documented bounded-collect
   * class — and ship to executors inside the assignment expression.
   *
   * Lloyd refinement runs per-(cell, dim) via posexplode: a cell holds
   * ~corpus/nlist vectors, so collecting them into one aggregation
   * buffer (collect_list of whole vectors) OOMs at scale; exploding to
   * (cell, pos, value) keeps every buffer O(1) with map-side partial
   * avg, and the regrouped buffer is just dim structs.
   */
  private[operators] def buildCentroids(
      c: DataFrame, corpusId: String, vecCol: String, iters: Int,
      nearest: (Array[Seq[Double]], Column) => Column,
      seeds: Array[Seq[Double]]): Array[Seq[Double]] = {
    var centroids = seeds
    if (centroids.isEmpty) return centroids
    val dim = centroids(0).length
    (1 to iters).foreach { _ =>
      // per-(cell, dim) means collected FLAT and assembled driver-side
      // (the trainCodebooks shape) — optimization round 19: groupMeans'
      // second groupBy existed only to regroup dim rows into an array
      // column, i.e. one extra exchange + stage per Lloyd iteration for
      // a driver-bound result of nlist × dim rows (KBs, the same
      // bounded-collect class as the centroids themselves). The
      // per-(cell, pos) avg — the part whose float accumulation order
      // determines the centroid values — is unchanged.
      val means = c.withColumn("__cell", nearest(centroids, col(vecCol)))
        .select(col("__cell"), posexplode(col(vecCol)))
        .groupBy(col("__cell"), col("pos"))
        .agg(avg(col("col")).as("m"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
      centroids = centroids.indices.map { i =>
        if (means.contains((i, 0))) Seq.tabulate(dim)(p => means((i, p)))
        else centroids(i)
      }.toArray
    }
    centroids
  }

  /** Deterministic centroid seed: the `k` smallest-`xxhash64(id)` rows'
    * vectors — a pure function of the frame's CONTENT, so it returns
    * identical seeds from the pinned frame or its unpinned lineage. */
  private def collectSeeds(c: DataFrame, idCol: String, vecCol: String,
                           k: Int): Array[Seq[Double]] = c
    .withColumn("__h", xxhash64(col(idCol)))
    .orderBy(col("__h")).limit(k)
    .select(col(vecCol)).collect().map(_.getSeq[Double](0))

  /** Pin `raw` while [[collectSeeds]] runs over its UNPINNED lineage as
    * an async job, so the seed job overlaps the pin (guide §2.6): both
    * scan the same small frame, and submitted sequentially the driver
    * idles through two job latencies where one suffices. The seed is a
    * function of content, so over a deterministic lineage it equals the
    * pin's; a lineage that yields NO seeds is re-seeded from the pin. */
  private[operators] def pinWithSeeds(s: Checkpoints.Scope, raw: DataFrame,
      idCol: String, vecCol: String, k: Int)
      : (DataFrame, Array[Seq[Double]]) = {
    val seeds = s.async(collectSeeds(raw, idCol, vecCol, k))
    val pinned = s.pin(raw)
    val got = seeds()
    (pinned,
      if (got.nonEmpty) got else collectSeeds(pinned, idCol, vecCol, k))
  }

  /** Per-group mean vector — (keyCol, `__mean` array<double>) — via the
    * per-(group, dim) posexplode shape: a group holds ~corpus/k
    * vectors, so collecting whole vectors into one aggregation buffer
    * OOMs at scale; exploding to (key, pos, value) keeps every buffer
    * O(1) with map-side partial avg, and the regrouped buffer is just
    * dim structs. ONE definition shared by the Lloyd refinement above
    * and `Dedup.semanticDedup`'s farthest-survivor policy, whose
    * determinism claims depend on identical accumulation order. */
  private[operators] def groupMeans(df: DataFrame, keyCol: String,
                                    vecCol: String): DataFrame =
    df.select(col(keyCol), posexplode(col(vecCol)))
      .groupBy(col(keyCol), col("pos"))
      .agg(avg(col("col")).as("m"))
      .groupBy(col(keyCol))
      .agg(array_sort(collect_list(struct(col("pos"), col("m"))))
        .as("pm"))
      .select(col(keyCol), expr("transform(pm, s -> s.m)").as("__mean"))

  /** Nearest-centroid cell id for vector `v` — argmax over centroids of
    * cosine through the fused [[graft.plans.NearestCentroidExpr]]
    * (greatest-of-structs semantics: a tie goes to the larger cell);
    * a single-cell index short-circuits to cell 0. Deterministic:
    * identical vectors always land in the same cell. The centroid
    * matrix is a codegen reference object, not nlist inlined literal
    * expressions, so the generated source is IDENTICAL across Lloyd
    * iterations (whole-stage codegen compiles once per query, not once
    * per iteration) and the expression scales to SemDeDup-sized nlist
    * (~50k cells). */
  private[operators] val nearestCellFn: (Array[Seq[Double]], Column) => Column =
    (cents, v) =>
      if (cents.length == 1) lit(0)
      else NativeFunctions.nearestCentroidNative(v, cents.toSeq.map(_.toSeq))

  /** Driver-side cosine between two centroid vectors — same
    * accumulation order as the assignment expressions' fused loop, so
    * the coarse grouping's own argmax agrees with what the expression
    * computes per row. */
  private def cosineLocal(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = a(i); val yi = b(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  /**
   * Cluster the `nlist` centroids themselves into ~√nlist coarse
   * groups (driver-side k-means, cosine metric, deterministic: seeded
   * by centroid index, ties to the larger group id like the assignment
   * expressions). Returns (coarse vectors, member centroid ids per
   * group — ascending, empty groups pruned). This is the IVF/IMI
   * coarse-quantizer build for
   * [[graft.plans.NearestCentroidTwoLevelExpr]]: O(nlist · √nlist ·
   * dim · iters) flops on the DRIVER — at the paper's web-scale
   * nlist ≈ 50k with dim 768 that is ~10^11 flops ≈ seconds, a
   * one-time cost per Lloyd iteration, bounded like the centroid
   * collect itself.
   */
  private[graft] def coarseCentroidGroups(
      centroids: Array[Seq[Double]], iters: Int = 3)
      : (Array[Seq[Double]], Array[Array[Int]]) = {
    val ncoarse = math.max(1, math.ceil(math.sqrt(
      centroids.length.toDouble)).toInt)
    if (ncoarse >= centroids.length)
      // degenerate: one group per centroid — coarse == fine; callers
      // normally hit this only at toy nlist
      return (centroids.clone(),
        centroids.indices.map(Array(_)).toArray)
    // unboxed copies once up front: the assignment loop below touches
    // nlist × √nlist × dim doubles per iteration — through Seq's boxed
    // apply that measured ~5.5 s at nlist ≈ 10k (r13), as raw arrays
    // it is ~0.1 s
    val cents: Array[Array[Double]] = centroids.map(_.toArray)
    var coarse: Array[Array[Double]] =
      cents.take(ncoarse).map(_.clone())
    var assign: Array[Int] = null
    (1 to iters).foreach { _ =>
      assign = cents.map { ct =>
        var best = Double.NegativeInfinity
        var bestG = 0
        var g = 0
        while (g < coarse.length) {
          val sim = cosineLocal(ct, coarse(g))
          if (org.apache.spark.sql.catalyst.util.SQLOrderingUtil
              .compareDoubles(sim, best) >= 0) {
            best = sim; bestG = g
          }
          g += 1
        }
        bestG
      }
      val dim = cents.head.length
      coarse = coarse.indices.map { g =>
        val mem = cents.indices.filter(assign(_) == g)
        if (mem.isEmpty) coarse(g)
        else {
          val m = new Array[Double](dim)
          mem.foreach { i =>
            val v = cents(i)
            var d = 0
            while (d < math.min(dim, v.length)) { m(d) += v(d); d += 1 }
          }
          var d = 0
          while (d < dim) { m(d) /= mem.length; d += 1 }
          m
        }
      }.toArray
    }
    val grouped = centroids.indices.groupBy(assign(_))
    val kept = coarse.indices.filter(grouped.contains)
    (kept.map(g => coarse(g).toSeq).toArray,
      kept.map(g => grouped(g).sorted.toArray).toArray)
  }

  /** TWO-LEVEL assignment picker — the scale-safe counterpart of
    * [[nearestCellFn]] for nlist ∝ N regimes (SemDeDup at web scale):
    * rebuilds the coarse grouping for each centroid set it is handed
    * (so Lloyd iterations each get a grouping consistent with their
    * centroids) and assigns via the fused
    * [[graft.plans.NearestCentroidTwoLevelExpr]] at O(√nlist · dim)
    * per row. */
  private[graft] val nearestCellFnTwoLevel
      : (Array[Seq[Double]], Column) => Column =
    (cents, v) =>
      if (cents.length == 1) lit(0)
      else {
        val (coarse, members) = coarseCentroidGroups(cents)
        NativeFunctions.nearestCentroidTwoLevelNative(v,
          coarse.toSeq.map(_.toSeq),
          members.toSeq.map(_.toSeq),
          cents.toSeq.map(_.toSeq))
      }

  /** The query's `nprobe` nearest cells as an array column. */
  private def nearestCells(centroids: Array[Seq[Double]],
                           nprobe: Int): Column = {
    val scored = array(centroids.toSeq.zipWithIndex.map { case (ct, i) =>
      struct(cosineNative(col("qv"), typedlit(ct)).as("sim"),
        lit(i).as("cell"))
    }: _*)
    slice(transform(array_sort(scored,
      (a, b) => when(a.getField("sim") > b.getField("sim"), -1)
        .when(a.getField("sim") < b.getField("sim"), 1).otherwise(0)),
      s => s.getField("cell")), 1, nprobe)
  }

  /**
   * Recall@k of an approximate ANN result against the exact baseline:
   * |approx ∩ exact| / |exact| per query, averaged. The tuning loop for
   * `planes`/`nlist`/`nprobe` — measure recall on a query sample, then
   * dial cost. Both inputs are (queryId, corpusId, ...) top-k frames.
   */
  def recallAtK(approx: DataFrame, exact: DataFrame,
                queryId: String, corpusId: String): Double = {
    val a = approx.select(col(queryId), col(corpusId))
    val e = exact.select(col(queryId), col(corpusId))
    val hits = a.join(e, Seq(queryId, corpusId), "left_semi").count().toDouble
    val total = e.count().toDouble
    if (total == 0) 0.0 else hits / total
  }

  // ---- IVF-PQ (product quantization) --------------------------------------

  /**
   * HOF PQ encoder (portable reference for
   * [[graft.plans.PqEncodeExpr]]): per subspace, the L2-argmin
   * sub-centroid code via least-of-structs — `least` compares
   * (distance, code) lexicographically, so distance ties pick the
   * SMALLER code, which the native loop replicates with a strict
   * `compareDoubles < 0`.
   */
  def pqEncode(v: Column, codebooks: Seq[Seq[Seq[Double]]]): Column = {
    var off = 1 // slice() is 1-based
    val codes = codebooks.map { book =>
      val dsub = book.head.length
      val sl = slice(v, off, dsub)
      off += dsub
      if (book.length == 1) lit(0)
      else {
        val scored = book.zipWithIndex.map { case (ct, j) =>
          struct(l2sq(sl, typedlit(ct)).as("d"), lit(j).as("code"))
        }
        least(scored: _*).getField("code")
      }
    }
    array(codes: _*)
  }

  /** HOF ADC inner product (portable reference for
    * [[graft.plans.PqAdcExpr]]): Σ_m dot(query-slice_m,
    * codebook[m][code_m]). A missing, null, or out-of-range code
    * contributes 0 for its subspace — `get()` (0-based, null past the
    * end) plus a range-guarded CaseWhen, the same skip semantics as
    * the native loop, so a stale index/codebook mismatch degrades
    * identically on both paths instead of throwing under ANSI on one. */
  def pqAdc(q: Column, codes: Column,
            codebooks: Seq[Seq[Seq[Double]]]): Column = {
    var off = 1
    val terms = codebooks.zipWithIndex.map { case (book, m) =>
      val dsub = book.head.length
      val sl = slice(q, off, dsub)
      off += dsub
      val code = get(codes, lit(m))
      when(code.between(0, book.length - 1),
        dot(sl, element_at(typedlit(book), code + 1)))
        .otherwise(lit(0.0))
    }
    terms.reduce(_ + _)
  }

  /**
   * Joint sub-quantizer training: ONE Lloyd loop refines all `m`
   * subspace codebooks together instead of running m sequential
   * [[buildCentroids]] loops. Each iteration is a single job over the
   * checkpointed residual frame — the PQ encoder
   * ([[graft.plans.PqEncodeExpr]])
   * assigns every subspace's code in one fused pass over the residual
   * row, then a per-(subspace, code, dim) average rebuilds all
   * codebooks at once; m × ksub × dsub doubles come back to the driver
   * (KBs — the bounded-collect class). Assignment semantics match the
   * per-subspace build exactly: strict-less L2 argmin, distance ties
   * to the SMALLER code (note the deliberate contrast with cosine
   * [[nearestCellFn]] — greatest semantics, larger cell wins). Seeding
   * matches too: the sub-vectors of the ksub smallest-`xxhash64(id)`
   * rows, the same ids for every subspace, so joint and sequential
   * training start identically and differ only in float accumulation
   * order. Empty codes (no members this round) keep their previous
   * entry, as in [[buildCentroids]].
   *
   * The collapse from m×(iters+1) jobs to iters+1 is what makes the
   * inline index build benchable: at m=8 the sequential form spent its
   * entire ~7s bench cost on job fan-out, not data.
   */
  private[operators] def trainCodebooks(
      assigned: DataFrame, residCol: String, m: Int, dsub: Int,
      ksub: Int, iters: Int,
      seeds: Array[Seq[Double]]): Array[Array[Seq[Double]]] = {
    var books: Array[Array[Seq[Double]]] = Array.tabulate(m) { mi =>
      seeds.map(v => v.slice(mi * dsub, (mi + 1) * dsub))
    }
    if (seeds.isEmpty) return books
    (1 to iters).foreach { _ =>
      val cb = books.toSeq.map(_.toSeq.map(_.toSeq))
      val updated = assigned
        .withColumn("__codes", pqEncodeNative(col(residCol), cb))
        .select(col("__codes"), posexplode(col(residCol)))
        .withColumn("mi", (col("pos") / lit(dsub)).cast("int"))
        .select(col("mi"),
          element_at(col("__codes"), col("mi") + 1).as("code"),
          pmod(col("pos"), lit(dsub)).as("sp"),
          col("col").as("v"))
        .groupBy("mi", "code", "sp").agg(avg(col("v")).as("mean"))
        .collect()
      val means = updated.map(r =>
        (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getDouble(3)).toMap
      books = Array.tabulate(m) { mi =>
        books(mi).zipWithIndex.map { case (old, code) =>
          if (means.contains((mi, code, 0)))
            Seq.tabulate(dsub)(sp => means((mi, code, sp)))
          else old
        }
      }
    }
    books
  }

  /**
   * IVF-PQ index build (Jégou–Douze–Schmid, "Product quantization for
   * nearest neighbor search", TPAMI 2011): coarse IVF centroids over
   * the unit-normalized corpus, then per-subspace codebooks trained by
   * L2 k-means on the coarse RESIDUALS (x − centroid[cell]) — the
   * classic IVFADC layout. Returns (coarse centroids, codebooks, index
   * frame `(__id, cell, codes)`).
   *
   * THE scale story of the ANN family: the index frame carries NO
   * vectors — per corpus row it is an id, a small int cell, and `m`
   * small ints (bytes at ksub ≤ 256). At dim 64 float that is ~30×
   * smaller than the raw embedding column, so the candidate scan reads
   * ~3% of the bytes a raw-vector scan would. Production persists it
   * partitioned by `cell` beside the corpus (the [[semanticIndex]]
   * pattern — re-cluster only on drift); centroids + codebooks are
   * driver-side literals (nlist×dim + m×ksub×dsub doubles, KBs — the
   * documented bounded-collect class).
   *
   * The assigned+residual frame is pinned ([[Checkpoints.Scope.pin]])
   * before codebook training: the joint [[trainCodebooks]] loop runs
   * iters+1 jobs over it (one per Lloyd pass regardless of `m` — see
   * its scaladoc), and without truncation each would recompute the
   * normalize+assign+residual lineage (use reliable checkpointing on a
   * cluster). The index frame reads that pin; release it with
   * [[Checkpoints.unpin]] when the index is dropped.
   *
   * The corpus lineage is read twice at once (seed sample and pin), so
   * it must be deterministic — the same rows on every read. One that
   * yields no seeds is re-seeded from the pin; one that yields other
   * rows seeds the centroids from rows the index never sees.
   */
  def ivfpqIndex(corpus: DataFrame, corpusId: String, corpusVec: String,
                 nlist: Int = 16, m: Int = 8, ksub: Int = 16,
                 iters: Int = 2)
      : (Array[Seq[Double]], Array[Array[Seq[Double]]], DataFrame) =
      Checkpoints.scoped { s =>
    require(nlist >= 1, s"nlist must be >= 1, got $nlist")
    require(m >= 1 && ksub >= 1, s"need m >= 1 and ksub >= 1, got $m/$ksub")
    // Embeddings.l2Normalize materializes the norm as an attribute
    // before the transform lambda — a lambda capturing the norm
    // EXPRESSION would re-evaluate the O(dim) fold per element
    val cRaw = Embeddings.l2Normalize(
        corpus.select(col(corpusId).as("__id"), col(corpusVec).as("__cv")),
        "__cv", "__cvn")
      .select(col("__id"), col("__cvn"))
    // one materialization for the whole build: the coarse Lloyd loop,
    // the residual computation and the PQ training each launch jobs
    // over this frame — unpinned, every one re-scans the source and
    // re-normalizes (O(iters) redundant passes)
    val (c, seeds) = pinWithSeeds(s, cRaw, "__id", "__cvn", nlist)
    val coarse = buildCentroids(c, "__id", "__cvn", iters, nearestCellFn,
      seeds)
    if (coarse.isEmpty)
      return (coarse, Array.empty,
        c.select(col("__id"), lit(0).as("cell"),
          typedlit(Seq.empty[Int]).as("codes")).limit(0))
    val dim = coarse(0).length
    require(dim % m == 0,
      s"embedding dim $dim is not divisible by m=$m subspaces")
    val dsub = dim / m
    val coarseLit = typedlit(coarse.toSeq.map(_.toSeq))
    val assignedRaw = c.withColumn("cell",
        nearestCellFn(coarse, col("__cvn")))
      .withColumn("__resid", zip_with(col("__cvn"),
        element_at(coarseLit, col("cell") + 1), (x, y) => x - y))
    // codebook seed collect overlapped with the residual pin — the raw
    // lineage reads the already-pinned `c`, so the duplicated work is
    // one narrow assign+residual map
    val (assigned, seeds2) =
      pinWithSeeds(s, assignedRaw, "__id", "__resid", ksub)
    val codebooks = trainCodebooks(assigned, "__resid", m, dsub, ksub,
      iters, seeds2)
    val index = assigned.select(col("__id"), col("cell"),
      pqEncodeNative(col("__resid"),
        codebooks.toSeq.map(_.toSeq.map(_.toSeq))).as("codes"))
    (coarse, codebooks, index)
  }

  /**
   * IVF-PQ search against a prebuilt [[ivfpqIndex]]: queries probe
   * their `nprobe` nearest coarse cells; candidates in those cells are
   * scored by ADC — `dot(q, centroid[cell]) + Σ_m dot(q_m,
   * codebook[m][code_m])`, exact linear algebra over the
   * reconstruction, reading only codes — then the per-query `shortlist`
   * best are re-ranked with EXACT cosine against the original vectors
   * and the top `k` returned. Output matches [[ivfTopK]]:
   * (queryId, corpusId, cosine, rank).
   *
   * Scale shape: the candidate scan is a broadcast-hash join on `cell`
   * against the codes-only index (partition-pruned when the index is
   * persisted partitioned by cell); the rerank re-reads the corpus
   * ONCE with a broadcast semi-join on the shortlist ids (queries ×
   * shortlist rows — small by contract, same class as the broadcast
   * query set). Both windows partition by query id — no global sort.
   */
  def ivfpqSearch(index: DataFrame, coarse: Array[Seq[Double]],
                  codebooks: Array[Array[Seq[Double]]],
                  corpus: DataFrame, queries: DataFrame,
                  corpusId: String, corpusVec: String,
                  queryId: String, queryVec: String,
                  k: Int, nprobe: Int = 4,
                  shortlist: Int = 64): DataFrame = {
    require(coarse.nonEmpty,
      "empty coarse centroids: an empty corpus has nothing to search " +
        "— ivfpqTopK handles that case")
    val cbSeq = codebooks.toSeq.map(_.toSeq.map(_.toSeq))
    val coarseLit = typedlit(coarse.toSeq.map(_.toSeq))
    val q = Embeddings.l2Normalize(
        queries.select(col(queryId), col(queryVec).as("__qv")),
        "__qv", "qv")
      .select(col(queryId), col("qv"))
      .withColumn("cell", explode(nearestCells(coarse, nprobe)))
      .withColumn("__cdot", dot(col("qv"), element_at(coarseLit,
        col("cell") + 1)))
    val cand = index.join(broadcast(q), Seq("cell"))
      .withColumn("__adc",
        col("__cdot") + pqAdcNative(col("qv"), col("codes"), cbSeq))
    val ws = Window.partitionBy(col(queryId))
      .orderBy(col("__adc").desc, col("__id"))
    val short = cand.withColumn("__r", row_number().over(ws))
      .where(col("__r") <= shortlist)
      .select(col(queryId), col("__id"), col("qv"))
    val cv = corpus.select(col(corpusId).as("__id"),
      col(corpusVec).cast("array<double>").as("cv"))
    val rer = cv.join(broadcast(short), Seq("__id"))
      .withColumn("cosine", round(cosineNative(col("cv"), col("qv")), 4))
    val w = Window.partitionBy(col(queryId))
      .orderBy(col("cosine").desc, col("__id"))
    rer.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(queryId), col("__id").as(corpusId),
        col("cosine"), col("rank"))
  }

  /** [[ivfpqSearch]] with the index built inline via [[ivfpqIndex]] —
    * the self-contained form, completing the ANN ladder (brute →
    * hyperplane LSH → IVF → IVF-PQ). */
  def ivfpqTopK(corpus: DataFrame, queries: DataFrame,
                corpusId: String, corpusVec: String,
                queryId: String, queryVec: String,
                k: Int, nlist: Int = 16, nprobe: Int = 4,
                m: Int = 8, ksub: Int = 16, iters: Int = 2,
                shortlist: Int = 64): DataFrame = {
    val (coarse, codebooks, index) = ivfpqIndex(corpus, corpusId,
      corpusVec, nlist, m, ksub, iters)
    if (coarse.isEmpty) {
      val c = corpus.select(col(corpusId),
        col(corpusVec).cast("array<double>").as("cv"))
      return c.crossJoin(queries.select(col(queryId)))
        .select(col(queryId), col(corpusId),
          lit(0.0).as("cosine"), lit(0).as("rank"))
        .limit(0)
    }
    ivfpqSearch(index, coarse, codebooks, corpus, queries,
      corpusId, corpusVec, queryId, queryVec, k, nprobe, shortlist)
  }

  def lshTopK(corpus: DataFrame, queries: DataFrame,
              corpusId: String, corpusVec: String,
              queryId: String, queryVec: String,
              k: Int, planes: Int = 8): DataFrame = {
    val c = corpus.select(col(corpusId),
        col(corpusVec).cast("array<double>").as("cv"))
      .withColumn("bucket", hyperplaneBucketNative(col("cv"), planes))
    val q = queries.select(col(queryId),
        col(queryVec).cast("array<double>").as("qv"))
      .withColumn("bucket", hyperplaneBucketNative(col("qv"), planes))
    val joined = c.join(broadcast(q), Seq("bucket"))
      .withColumn("cosine", round(cosineNative(col("cv"), col("qv")), 4))
    val w = Window.partitionBy(col(queryId))
      .orderBy(col("cosine").desc, col(corpusId))
    joined.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(queryId), col(corpusId), col("cosine"), col("rank"))
  }

  /** Exact per-query top-k by cosine: corpus vectors stream past the
    * BROADCAST query set, one per-query window ranks them — the
    * ground-truth side of a recall evaluation (and the exact dense
    * retriever for small corpora). Queries are small by contract. */
  def exactTopK(corpus: DataFrame, queries: DataFrame,
                corpusId: String, corpusVec: String,
                queryId: String, queryVec: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val qv = queries.select(col(queryId),
      col(queryVec).cast("array<double>").as("__qv"))
    val w = Window.partitionBy(col(queryId))
      .orderBy(col("__cos").desc, col(corpusId))
    corpus.select(col(corpusId),
        col(corpusVec).cast("array<double>").as("__cv"))
      .crossJoin(broadcast(qv))
      .withColumn("__cos", cosineNative(col("__cv"), col("__qv")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(queryId), col(corpusId),
        round(col("__cos"), 4).as("cosine"), col("rank"))
  }

  /**
   * Recall@k of an approximate retriever against the exact top-k:
   * per query, `|approx ∩ exact| / k`. Both inputs are `(queryId,
   * id, ...)` hit tables (rank columns ignored — set membership is
   * the metric). The join is hits-sized (≤ k rows per query per
   * side), never corpus-sized — evaluating an ANN index over any
   * corpus costs the two retrievals plus this tiny join, which is
   * what makes a RECALL GATE cheap enough to run on every index
   * rebuild.
   */
  def recallAtK(approx: DataFrame, exact: DataFrame,
                queryId: String, id: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val hits = exact.select(col(queryId), col(id))
      .join(approx.select(col(queryId), col(id)), Seq(queryId, id),
        "left_semi")
      .groupBy(col(queryId)).agg(count(lit(1)).as("__hits"))
    exact.select(col(queryId)).distinct()
      .join(hits, Seq(queryId), "left")
      .select(col(queryId),
        (coalesce(col("__hits"), lit(0L)).cast("double") / k)
          .as("recall"))
  }
}
