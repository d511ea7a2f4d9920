package graft

import graft.operators.Frequency
import graft.plans.NativeFunctions
import org.apache.spark.sql.functions._

class FrequencySpec extends SparkSpec {
  import spark.implicits._

  /** Zipf-ish multiset: item i (1..n) appears `freq(i)` times. */
  private def skewed(n: Int, freq: Int => Int) =
    (1 to n).flatMap(i => Seq.fill(freq(i))(f"item_$i%04d"))

  test("exact regime: capacity >= cardinality reproduces exact counts") {
    val data = skewed(20, i => 21 - i) // item_0001 x20 ... item_0020 x1
    val df = new scala.util.Random(42).shuffle(data).toDF("v").repartition(8)
    val hh = Frequency.heavyHitters(df, "v", k = 5, capacity = 64,
      recount = false).collect()
    assert(hh.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(
      ("item_0001", 20L), ("item_0002", 19L), ("item_0003", 18L),
      ("item_0004", 17L), ("item_0005", 16L)))
  }

  test("sketch regime: MG bound holds and heavy items survive") {
    // 5 heavy items (1000 each) + 2000 singletons, capacity 64:
    // threshold n/(cap+1) = 7000/65 ≈ 108 << 1000 — all heavies must
    // be candidates with est within the bound
    val data = skewed(5, _ => 1000) ++
      (1 to 2000).map(i => f"noise_$i%05d")
    val df = new scala.util.Random(42).shuffle(data).toDF("v").repartition(16)
    val sum = Frequency.mgSummary(df, "v", capacity = 64).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sum.size <= 64)
    val n = data.size
    val bound = n / 65 + 1
    (1 to 5).foreach { i =>
      val est = sum.getOrElse(f"item_$i%04d", 0L)
      assert(est >= 1000 - bound && est <= 1000,
        s"item_$i est $est outside [${1000 - bound}, 1000]")
    }
  }

  test("recount restores exact counts and exact top-k in the sketch regime") {
    val data = skewed(5, _ => 1000) ++
      (1 to 2000).map(i => f"noise_$i%05d")
    val df = new scala.util.Random(42).shuffle(data).toDF("v").repartition(16)
    val hh = Frequency.heavyHitters(df, "v", k = 5, capacity = 64)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(hh.toSeq == (1 to 5).map(i => (f"item_$i%04d", 1000L)))
  }

  test("partition-count invariance of the recounted result") {
    // capacity such that the k-th item (count 100) clears the MG
    // survival threshold n/(capacity+1) = 4100/65 ≈ 63 — below it the
    // guarantee (and hence this equality) genuinely does not hold
    val data = skewed(8, i => 100 * (9 - i)) ++
      (1 to 500).map(i => f"noise_$i%05d")
    def run(parts: Int) =
      Frequency.heavyHitters(data.toDF("v").repartition(parts), "v",
        k = 8, capacity = 64).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(run(1) == run(32))
  }

  test("nulls are ignored; empty input yields empty output") {
    val df = Seq(Some("a"), None, Some("a"), Some("b"), None)
      .toDF("v")
    val hh = Frequency.heavyHitters(df, "v", k = 3, capacity = 8)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(hh.toSeq == Seq(("a", 2L), ("b", 1L)))
    assert(Frequency.heavyHitters(df.limit(0), "v", 3, 8).count() == 0)
  }

  test("grouped usage: per-group summaries via the raw aggregate") {
    val df = Seq(("g1", "x"), ("g1", "x"), ("g1", "y"),
      ("g2", "z")).toDF("g", "v")
    val out = df.groupBy("g")
      .agg(NativeFunctions.mgSummaryNative(col("v"), 8).as("s"))
      .select(col("g"), explode(col("s")).as("e"))
      .select(col("g"), col("e.item"), col("e.cnt"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(out == Set(("g1", "x", 2L), ("g1", "y", 1L), ("g2", "z", 1L)))
  }

  test("mergeSummaries: keywise sum, then the (capacity+1)-th-largest " +
      "cut — the MisraGriesAgg.merge rule, hand-computed") {
    val merged = Frequency.mergeSummaries(Seq(
      Seq(("a", 5L), ("b", 4L), ("c", 3L)),
      Seq(("b", 2L), ("d", 2L))), capacity = 3)
    // raw sums a5 b6 c3 d2 → size 4 > 3 → cut 4th-largest (2):
    // b4 a3 c1, d dropped
    assert(merged == Seq(("b", 4L), ("a", 3L), ("c", 1L)))
    // under capacity: plain keywise sum, sorted (est desc, item asc)
    assert(Frequency.mergeSummaries(Seq(Seq(("x", 1L)), Seq(("y", 1L))),
      capacity = 8) == Seq(("x", 1L), ("y", 1L)))
    assert(Frequency.mergeSummaries(Nil, 4) == Nil)
  }

  test("tie-break and eval ordering: cnt desc then item asc") {
    val df = Seq("b", "a", "c", "a", "b", "c").toDF("v")
    val sum = Frequency.mgSummary(df, "v", capacity = 8).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(sum == Seq(("a", 2L), ("b", 2L), ("c", 2L)))
  }

  test("CMS: never underestimates, bit-exact across partitionings, string keys") {
    val data = skewed(50, i => 51 - i)
    val keys = (1 to 50).map(i => f"item_$i%04d") ++
      Seq("absent_a", "absent_b")
    val exact = data.groupBy(identity).view.mapValues(_.size.toLong).toMap
    // two different partitionings must give IDENTICAL estimates —
    // CMS merge is a commutative counter sum
    val ests = Seq(2, 16).map { parts =>
      val df = new scala.util.Random(7).shuffle(data).toDF("v")
        .repartition(parts)
      Frequency.cmsEstimates(df, "v", keys.toDF("k"), "k",
          eps = 0.01, confidence = 0.99, seed = 13)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    assert(ests(0) == ests(1), "estimates must not depend on partitioning")
    val n = data.size
    ests(0).foreach { case (k, est) =>
      val truth = exact.getOrElse(k, 0L)
      assert(est >= truth, s"$k: CMS underestimated $est < $truth")
      assert(est <= truth + math.ceil(eps01 * n).toLong + n / 10,
        s"$k: overshoot beyond any plausible bound ($est vs $truth)")
    }
  }
  private val eps01 = 0.01

  test("CMS sketch frame: one row, deserializable, exact total count") {
    val df = (1 to 500).map(i => (i % 11).toLong).toDF("v")
    val rows = Frequency.cmsSketch(df, "v", eps = 0.01,
      confidence = 0.99, seed = 3).collect()
    assert(rows.length == 1)
    val bytes = rows(0).getAs[Array[Byte]]("cms")
    val sk = org.apache.spark.util.sketch.CountMinSketch
      .readFrom(new java.io.ByteArrayInputStream(bytes))
    assert(sk.totalCount() == 500L)
    assert(sk.relativeError() <= 0.01 + 1e-12)
  }

  test("HLL sketch log: small-set exactness, parquet persistence, cross-group dedup") {
    import org.apache.spark.sql.functions.{col => c, hll_sketch_estimate}
    // 3 groups sharing members: g0 = 0..99, g1 = 50..149, g2 = 100..199
    val rows = (0 until 3).flatMap(g =>
      (g * 50 until g * 50 + 100).map(v => (s"g$g", v.toLong)))
    val df = rows.toDF("grp", "v").repartition(8)
    val sk = Frequency.hllSketches(df, "v", "grp")
    // small sets stay in the sketch's exact (coupon) regime
    val per = sk.select(c("grp"), hll_sketch_estimate(c("hll")))
      .as[(String, Long)].collect().toMap
    assert(per == Map("g0" -> 100L, "g1" -> 100L, "g2" -> 100L))
    // persisted log: write the sketch rows, read back, union — the
    // binary survives parquet and the union dedups the 50-overlaps
    val dir = tmpDir("graft_hll") + "/log"
    sk.write.parquet(dir)
    val est = Frequency.hllUnionEstimate(spark.read.parquet(dir))
      .as[Long].head()
    assert(est == 200L, s"union over persisted log: $est != 200")
  }

  test("CMS: bigint keys probe the same sketch the aggregate built") {
    val df = (1 to 1000).map(i => (i % 7).toLong).toDF("v")
    val keys = (0L to 7L).toDF("k") // 7 is absent
    val est = Frequency.cmsEstimates(df, "v", keys, "k",
        eps = 0.001, confidence = 0.99, seed = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L to 6L).foreach { k =>
      val truth = (1 to 1000).count(_ % 7 == k).toLong
      assert(est(k) >= truth && est(k) <= truth + 1,
        s"key $k: ${est(k)} vs $truth (eps bound = 1)")
    }
    assert(est(7L) <= 1L, "absent key must estimate ~0 under eps bound")
  }

  test("KLL: union of part sketches matches a whole-data sketch (N exact, ranks within bound)") {
    // two disjoint halves with different distributions: a union that
    // dropped or double-merged a part would miss the global median
    val a = (1 to 4000).map(_.toDouble)            // uniform 1..4000
    val b = (1 to 4000).map(i => 10000.0 + i * 3)  // shifted + spread
    val whole = (a ++ b).toDF("v").repartition(16)
    val parts = a.map(("pa", _)).++(b.map(("pb", _)))
      .toDF("part", "v").repartition(16)
    val skParts = Frequency.kllSketches(parts, "v", "part")
    assert(skParts.count() == 2)
    val merged = Frequency.kllUnionSketch(skParts)
      .select(Frequency.kllQuantiles(col("kll"),
        Seq(0.25, 0.5, 0.75, -1.0)).as("qs"))
      .collect()(0).getSeq[Double](0)
    assert(merged(3) == 8000.0, s"union N must be exact, got ${merged(3)}")
    // replay each estimate's exact inclusive rank against the data —
    // the KLL contract (~1.65% at k=200, 99%/probe); 2x headroom like
    // q_kll_log
    val all = (a ++ b).sorted
    Seq(0.25, 0.5, 0.75).zipWithIndex.foreach { case (r, i) =>
      val exactRank = all.count(_ <= merged(i)).toDouble / all.size
      assert(math.abs(exactRank - r) <= 0.033,
        s"rank $r: estimate ${merged(i)} has exact rank $exactRank")
    }
    // and the union agrees with a directly-built whole-data sketch on N
    val wholeN = Frequency.kllSketches(
        whole.withColumn("g", lit("all")), "v", "g")
      .select(Frequency.kllQuantiles(col("kll"), Seq(-1.0)))
      .collect()(0).getSeq[Double](0).head
    assert(wholeN == 8000.0)
  }

  test("KLL: sketches persist to parquet and union after re-read (the log shape)") {
    val dir = tmpDir()
    val day1 = (1 to 3000).map(_.toDouble).toDF("v")
      .withColumn("day", lit("d1"))
    val day2 = (3001 to 6000).map(_.toDouble).toDF("v")
      .withColumn("day", lit("d2"))
    Frequency.kllSketches(day1, "v", "day")
      .write.mode("overwrite").parquet(s"$dir/log")
    Frequency.kllSketches(day2, "v", "day")
      .write.mode("append").parquet(s"$dir/log")
    val log = spark.read.parquet(s"$dir/log")
    assert(log.count() == 2)
    val qs = Frequency.kllUnionSketch(log)
      .select(Frequency.kllQuantiles(col("kll"), Seq(0.5, -1.0)))
      .collect()(0).getSeq[Double](0)
    assert(qs(1) == 6000.0, "re-read union must carry exact total N")
    assert(math.abs(qs(0) - 3000.0) <= 6000 * 0.033,
      s"median over the unioned log off: ${qs(0)}")
  }

  test("KLL: rank (CDF) probe inverts the quantile probe within the bound") {
    val df = (1 to 10000).map(_.toDouble).toDF("v")
      .withColumn("g", lit("all"))
    val sk = Frequency.kllSketches(df, "v", "g")
    // known distribution: rank of value x over uniform 1..10000 is
    // x/10000 — probe three fixed values, 2x-bound gate as everywhere
    val rs = sk.select(Frequency.kllRanks(col("kll"),
      Seq(2500.0, 5000.0, 9000.0))).collect()(0).getSeq[Double](0)
    Seq(0.25, 0.5, 0.9).zip(rs).foreach { case (want, got) =>
      assert(math.abs(got - want) <= 0.033, s"rank($want): $got")
    }
    // inversion: rank(quantile(r)) ≈ r for interior ranks
    val q = sk.select(Frequency.kllQuantiles(col("kll"),
      Seq(0.3, 0.7))).collect()(0).getSeq[Double](0)
    val back = sk.select(Frequency.kllRanks(col("kll"), q))
      .collect()(0).getSeq[Double](0)
    Seq(0.3, 0.7).zip(back).foreach { case (r, got) =>
      assert(math.abs(got - r) <= 0.066, // two probes' error budgets
        s"rank(quantile($r)) = $got")
    }
    // empty sketch → null, matching the quantile probe
    val empty = Frequency.kllSketches(df.where(col("v") < 0), "v", "g")
    assert(Frequency.kllUnionSketch(empty)
      .select(Frequency.kllRanks(col("kll"), Seq(1.0)))
      .collect()(0).isNullAt(0))
  }

  test("KLL: null values skipped; empty sketch probes to null") {
    val df = Seq[(String, java.lang.Double)](("g", 1.0), ("g", null),
      ("g", 3.0)).toDF("grp", "v")
    val sk = Frequency.kllSketches(df, "v", "grp")
    val n = sk.select(Frequency.kllQuantiles(col("kll"), Seq(-1.0)))
      .collect()(0).getSeq[Double](0).head
    assert(n == 2.0, s"nulls must not count, got N=$n")
    val empty = df.where(col("v") > 100)
    val uq = Frequency.kllUnionSketch(
        Frequency.kllSketches(empty, "v", "grp"))
      .select(Frequency.kllQuantiles(col("kll"), Seq(0.5)))
      .collect()(0)
    assert(uq.isNullAt(0), "empty sketch must probe to null, not throw")
  }

  test("theta: exact-mode set ops equal exact counts; union of parts == whole") {
    // keys 1..3000 split into A (even) and B (div by 3): overlap =
    // multiples of 6. lgK=14 (16384 nominal) >> 3000 → exact mode.
    val df = (1 to 3000).map(k => (k.toLong, s"g${k % 4}"))
      .toDF("k", "grp").repartition(16)
    val sa = Frequency.thetaSketches(
      df.where($"k" % 2 === 0).withColumn("g", lit("a")), "k", "g", 14)
      .select($"theta".as("ta"))
    val sb = Frequency.thetaSketches(
      df.where($"k" % 3 === 0).withColumn("g", lit("b")), "k", "g", 14)
      .select($"theta".as("tb"))
    val r = sa.crossJoin(sb).select(
      element_at(Frequency.thetaEstimate(
        Frequency.thetaSetOp($"ta", $"tb", "intersect")), 2),
      element_at(Frequency.thetaEstimate(
        Frequency.thetaSetOp($"ta", $"tb", "anotb")), 2),
      element_at(Frequency.thetaEstimate(
        Frequency.thetaSetOp($"ta", $"tb", "union")), 2)).collect()(0)
    assert(r.getDouble(0) == 500.0, s"intersect ${r.getDouble(0)}")   // 3000/6
    assert(r.getDouble(1) == 1000.0, s"anotb ${r.getDouble(1)}")      // 1500-500
    assert(r.getDouble(2) == 2000.0, s"union ${r.getDouble(2)}")      // 1500+1000-500
    // mergeability: union of the 4 per-group sketches == 3000 exactly
    val merged = Frequency.thetaUnionSketch(
      Frequency.thetaSketches(df, "k", "grp", 14), lgK = 14)
      .select(element_at(Frequency.thetaEstimate($"theta"), 2))
      .collect()(0).getDouble(0)
    assert(merged == 3000.0, s"union-of-parts $merged")
  }

  test("theta: estimation mode bounds bracket the truth; partition-invariant; strings") {
    // 20000 distinct string keys at lgK=8 (256 nominal) → heavy
    // sampling; 3-sigma bounds must bracket, and the estimate must be
    // identical across partitionings (deterministic default seed)
    val keys = (1 to 20000).map(i => f"user_$i%06d")
    def est(parts: Int): (Double, Double, Double) = {
      val df = keys.toDF("k").repartition(parts)
        .withColumn("g", lit("all"))
      val r = Frequency.thetaSketches(df, "k", "g", lgK = 8)
        .select(Frequency.thetaEstimate($"theta")).collect()(0)
        .getSeq[Double](0)
      (r(0), r(1), r(2))
    }
    val (lb, e, ub) = est(16)
    assert(lb <= 20000.0 && ub >= 20000.0, s"bounds [$lb, $ub] miss 20000")
    assert(e > 10000.0 && e < 40000.0, s"estimate $e wildly off")
    assert(est(3) == ((lb, e, ub)), "estimate must not depend on partitioning")
  }

  test("theta: sketches persist to parquet and set-op after re-read (the log shape)") {
    val dir = tmpDir("theta-log")
    val df = (1 to 800).map(k => (k.toLong, if (k <= 500) "day1" else "day2"))
      .toDF("k", "day")
    Frequency.thetaSketches(df, "k", "day", 12)
      .write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
    val u = Frequency.thetaUnionSketch(back, lgK = 12)
      .select(element_at(Frequency.thetaEstimate($"theta"), 2))
      .collect()(0).getDouble(0)
    assert(u == 800.0, s"re-read union $u")
    // intersection of the two persisted days is empty (disjoint keys)
    val days = back.orderBy($"day").collect().map(_.getAs[Array[Byte]]("theta"))
    val i = Seq((days(0), days(1))).toDF("a", "b")
      .select(element_at(Frequency.thetaEstimate(
        Frequency.thetaSetOp($"a", $"b", "intersect")), 2))
      .collect()(0).getDouble(0)
    assert(i == 0.0, s"disjoint intersection $i")
  }

  test("theta: nulls skipped; null sketch inputs propagate null") {
    val df = Seq[(java.lang.Long, String)]((1L, "g"), (null, "g"), (3L, "g"))
      .toDF("k", "grp")
    val n = Frequency.thetaSketches(df, "k", "grp", 12)
      .select(element_at(Frequency.thetaEstimate($"theta"), 2))
      .collect()(0).getDouble(0)
    assert(n == 2.0, s"nulls must not count, got $n")
    val r = Seq((Option.empty[Array[Byte]], Option.empty[Array[Byte]]))
      .toDF("a", "b")
      .select(Frequency.thetaSetOp($"a", $"b", "union"),
        Frequency.thetaEstimate($"a")).collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1))
  }
}
