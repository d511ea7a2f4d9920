package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.{AggOp, Measure}

/**
 * Skew-resilient aggregation: two-phase group-by with key salting.
 *
 * Problem at scale: a hash-partitioned `groupBy(dims)` sends ALL rows of
 * one hot key to one reducer — a single straggler task bounds the job at
 * 100 TB. AQE's skew handling splits skewed *join* partitions but does not
 * re-shard a skewed aggregation key.
 *
 * Scheme (standard salting): phase 1 groups by (dims, salt) where
 * `salt = pmod(hash(row-random), buckets)`, spreading a hot key over
 * `buckets` reducers; phase 2 re-aggregates the per-salt partials by dims
 * alone. Phase-2 input is ≤ buckets rows per key — tiny by construction.
 *
 * Only ops closed under re-aggregation decompose exactly (the same
 * algebra behind the reference's `SAFE_PREAGGREGATE`, `parquery/tool.py:37`,
 * and Spark's partial aggregation): sum/count/count_na → sum of partials,
 * min/max/one → min/max of partials, mean → sum÷count pair. `std` and
 * `count_distinct` are rejected — they need moment pairs / distinct sets,
 * not partials (use the plain engine path; Spark's own partial
 * aggregation already handles their shuffle correctly).
 */
object Skew {

  def saltedAggregate(df: DataFrame, dims: Seq[String],
                      measureSpecs: Seq[Seq[String]],
                      buckets: Int = 16): DataFrame = {
    require(dims.nonEmpty, "saltedAggregate needs at least one dimension")
    val measures = Measure.normalize(measureSpecs)

    val unsupported = measures.filter(m => m.op match {
      case AggOp.Std | AggOp.CountDistinct | AggOp.SortedCountDistinct =>
        true
      case _ => false
    })
    require(unsupported.isEmpty,
      s"ops not decomposable over salt: ${unsupported.map(_.op.name).distinct.mkString(", ")}")

    // phase 1: per-(dims, salt) partials. Salt from a uniform random —
    // independent of the data, so hot keys spread evenly.
    val salted = df.withColumn("__salt",
      pmod((rand(42) * buckets).cast("int"), lit(buckets)))
    val p1Exprs: Seq[Column] = measures.zipWithIndex.flatMap { case (m, i) =>
      val c = col(m.input)
      m.op match {
        case AggOp.Sum     => Seq(sum(c).as(s"__p$i"))
        case AggOp.Count   => Seq(count(c).as(s"__p$i"))
        case AggOp.CountNa => Seq(count(when(c.isNull, 1)).as(s"__p$i"))
        case AggOp.Min | AggOp.One => Seq(min(c).as(s"__p$i"))
        case AggOp.Max     => Seq(max(c).as(s"__p$i"))
        case AggOp.Mean    => Seq(sum(c).as(s"__p${i}_s"),
          count(c).as(s"__p${i}_c"))
        case other => throw new IllegalStateException(other.name)
      }
    }
    val phase1 = salted.groupBy((dims :+ "__salt").map(col): _*)
      .agg(p1Exprs.head, p1Exprs.tail: _*)

    // phase 2: merge partials by dims alone (≤ buckets rows per key)
    val p2Exprs: Seq[Column] = measures.zipWithIndex.map { case (m, i) =>
      val p = col(s"__p$i")
      (m.op match {
        case AggOp.Sum | AggOp.Count | AggOp.CountNa => sum(p)
        case AggOp.Min | AggOp.One => min(p)
        case AggOp.Max => max(p)
        case AggOp.Mean =>
          sum(col(s"__p${i}_s")) / sum(col(s"__p${i}_c"))
        case other => throw new IllegalStateException(other.name)
      }).as(m.output)
    }
    phase1.groupBy(dims.map(col): _*).agg(p2Exprs.head, p2Exprs.tail: _*)
  }

  /** Join types for which salting is semantics-preserving: the replicated
    * (right) side never produces output rows of its own. */
  private val saltableJoins =
    Set("inner", "left", "leftouter", "left_outer", "leftsemi", "left_semi",
      "leftanti", "left_anti")

  /**
   * Skew-resilient equi-join: the big (possibly hot-keyed) side gets a
   * uniform random salt in [0, buckets); the small side is replicated
   * once per salt value; the join runs on (keys, salt). A hot key's rows
   * spread over `buckets` reducers instead of one straggler task.
   *
   * Use when the small side is too large to broadcast but small enough
   * to replicate `buckets`× through the shuffle (cost: |small| × buckets
   * shuffle rows). If it fits in executor memory, prefer `broadcast()` —
   * zero shuffle beats salted shuffle. AQE's skew-join split covers many
   * cases at runtime; this is the explicit form for when the skew is
   * known and you want the plan deterministic.
   *
   * Only join types where the replicated side emits no rows of its own
   * are allowed (inner/left/semi/anti) — a right or full join through
   * replication would duplicate unmatched small-side rows.
   */
  def saltedJoin(big: DataFrame, small: DataFrame, keyCols: Seq[String],
                 buckets: Int = 16,
                 joinType: String = "inner"): DataFrame = {
    require(keyCols.nonEmpty, "saltedJoin needs join keys")
    require(buckets >= 1, "buckets must be >= 1")
    require(saltableJoins.contains(joinType.toLowerCase),
      s"join type '$joinType' not preserved under salting " +
        "(allowed: inner, left, left_semi, left_anti)")
    val b = big.withColumn("__salt",
      pmod((rand(42) * buckets).cast("int"), lit(buckets)))
    val s = small.withColumn("__salt",
      explode(sequence(lit(0), lit(buckets - 1))))
    // SHUFFLE_HASH on the replicated side (optimization round 19, guide
    // §3.1): the small side is by contract the one that fits
    // per-partition (the same bound that makes replication affordable),
    // so a per-partition hash build replaces sorting BOTH sides — the
    // planner won't pick SHJ itself here because the explode hides the
    // side's true size from its stats (measured −0.8 s at sf0.1, same
    // rows). Partition counts grow with data under AQE, keeping the
    // per-partition build bounded at scale; AQE skew split still
    // applies to shuffled-hash joins.
    b.join(s.hint("SHUFFLE_HASH"), (keyCols :+ "__salt").toSeq, joinType)
      .drop("__salt")
  }

  /** Join types for which pre-filtering the big side cannot change the
    * result: every big-side row that survives to the output must have a
    * small-side match. Left/anti joins keep unmatched big rows, so a
    * gate that drops might-not-match rows would corrupt them. */
  private val gateableJoins = Set("inner", "left_semi", "leftsemi", "semi")

  /**
   * Semi-join reduction via a Bloom sketch: the classic distributed-DB
   * move for a 100 TB fact table joined to a selective dimension. A
   * plain `big ⋈ small` shuffles the ENTIRE big side on the join key
   * even when only a sliver of it can match; here the small side's key
   * set is first compressed into a Bloom filter (one aggregation, a
   * `numBits/8`-byte sketch — the bounded-collect class of
   * [[graft.operators.Dedup.buildSeenSketch]]), the big side is gated
   * at the SCAN by a codegen'd membership probe on the sketch literal,
   * and only probable matches enter the shuffle. No false negatives —
   * every true match survives the gate, so the exact join downstream
   * returns exactly the ungated result; false positives (at the
   * sketch's rate) merely ride the shuffle and fall out of the join.
   * This is the explicit, deterministic form of what AQE's
   * runtime-bloom-filter injection (`InjectRuntimeFilter`) does
   * opportunistically — same sketch machinery
   * (`BloomFilterAggregate` / `might_contain`), but under the
   * caller's control: a plan you can rely on, not a heuristic.
   *
   * Restricted to inner/semi joins ([[gateableJoins]]): for left or
   * anti joins the gate would drop big-side rows the join must keep.
   * Sketch sizing is clamp-checked like `buildSeenSketch` — an
   * oversized request fails loudly instead of silently degrading the
   * false-positive rate. An empty small side yields a null sketch; the
   * gate is then constant-false (the join result IS empty).
   *
   * Two correctness guards the sketch forces that a plain join would
   * not: (1) each key column must have the SAME type on both sides —
   * a plain join inserts an implicit cast, but `xxhash64` hashes by
   * type, so an int-vs-long key pair would probe with different
   * hashes and silently gate out every true match (rejected loudly
   * here; cast explicitly at the call site); (2) the small side is
   * pinned (local pin) so the sketch and the join read ONE
   * materialization — without it, a source that changes between the
   * eager sketch build and the join action (an appended-to directory,
   * a nondeterministic view) would contain join keys the frozen
   * sketch never saw. Construction therefore RUNS A JOB (pin +
   * sketch aggregation) — the same eager-literal contract as
   * `buildSeenSketch`/IVF centroids; build the frame once, not in a
   * planning loop.
   */
  def bloomGatedJoin(big: DataFrame, small: DataFrame,
                     keyCols: Seq[String],
                     expectedItems: Long = 1000000L,
                     numBits: Long = 1L << 23,
                     joinType: String = "inner")
      : DataFrame = Checkpoints.scoped { s =>
    import graft.plans.NativeFunctions
    require(keyCols.nonEmpty, "bloomGatedJoin needs join keys")
    require(gateableJoins.contains(joinType.toLowerCase),
      s"join type '$joinType' not preserved under big-side gating " +
        "(allowed: inner, left_semi)")
    keyCols.foreach { k =>
      val bt = big.schema(big.schema.fieldIndex(k)).dataType
      val st = small.schema(small.schema.fieldIndex(k)).dataType
      require(bt == st,
        s"key '$k' types differ (big: ${bt.simpleString}, small: " +
          s"${st.simpleString}) — xxhash64 hashes by type, so the gate " +
          "would miss every true match; cast one side explicitly")
    }
    val conf = big.sparkSession.conf
    def cap(key: String, dflt: Long): Long =
      conf.getOption(key).map(_.toLong).getOrElse(dflt)
    val maxItems =
      cap("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", 4000000L)
    val maxBits =
      cap("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", 1L << 26)
    require(expectedItems <= maxItems && numBits <= maxBits,
      s"sketch size ($expectedItems items / $numBits bits) exceeds " +
        s"BloomFilterAggregate's clamp ($maxItems / $maxBits)")
    def keyHash(df: DataFrame): Column =
      xxhash64(keyCols.map(df.apply): _*)
    // one materialization feeds BOTH the sketch and the join — see the
    // scaladoc's guard (2)
    val pinned = s.pinLocal(small)
    val sketch = Option(pinned
      .agg(NativeFunctions.bloomAggNative(keyHash(pinned),
        expectedItems, numBits).as("bf"))
      .collect()(0).getAs[Array[Byte]](0)) // null ⟺ empty small side
    val gate = sketch match {
      case Some(bytes) =>
        NativeFunctions.bloomMightContain(lit(bytes), keyHash(big))
      case None => lit(false)
    }
    big.where(gate).join(pinned, keyCols, joinType)
  }
}
