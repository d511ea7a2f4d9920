package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Sampling}
import graft.functions.TextAnalysis

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val ids = spark.range(0, 2000).toDF("id")

  test("hashSample is deterministic and partitioning-independent") {
    val a = Sampling.hashSample(ids, "id", 0.2).select("id")
      .as[Long].collect().toSet
    val b = Sampling.hashSample(ids.repartition(7), "id", 0.2).select("id")
      .as[Long].collect().toSet
    assert(a == b)
    // roughly the asked-for fraction (md5 prefix is uniform)
    assert(a.size > 300 && a.size < 500, s"got ${a.size} of 2000 at 0.2")
  }

  test("hashSample honors salt and edge fractions") {
    val s1 = Sampling.hashSample(ids, "id", 0.2, salt = "a")
      .select("id").as[Long].collect().toSet
    val s2 = Sampling.hashSample(ids, "id", 0.2, salt = "b")
      .select("id").as[Long].collect().toSet
    assert(s1 != s2) // different salt, different (overlapping) sample
    assert(Sampling.hashSample(ids, "id", 0.0).isEmpty)
    assert(Sampling.hashSample(ids, "id", 1.0).count() == 2000L)
  }

  test("hashSample nests: a sub-fraction sample is a subset") {
    val small = Sampling.hashSample(ids, "id", 0.1).select("id")
      .as[Long].collect().toSet
    val big = Sampling.hashSample(ids, "id", 0.3).select("id")
      .as[Long].collect().toSet
    assert(small.subsetOf(big))
  }

  test("splitAssign covers every row exactly once, deterministically") {
    val out = Sampling.splitAssign(ids, "id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    assert(out.count() == 2000L)
    val counts = out.groupBy("split").count()
      .as[(String, Long)].collect().toMap
    assert(counts.keySet == Set("train", "val", "test"))
    assert(counts("train") > 1500L && counts("train") < 1700L)
    // stable across recomputation
    val again = Sampling.splitAssign(ids.repartition(5), "id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .groupBy("split").count().as[(String, Long)].collect().toMap
    assert(counts == again)
  }

  test("splitAssign rejects fractions that do not sum to 1") {
    intercept[IllegalArgumentException] {
      Sampling.splitAssign(ids, "id", Seq("a" -> 0.5, "b" -> 0.2))
    }
  }

  test("hashSamplePerGroup keeps at most k per group, deterministically") {
    val df = spark.range(0, 300)
      .selectExpr("id", "CAST(id % 3 AS STRING) AS g")
    val out = Sampling.hashSamplePerGroup(df, "id", Seq("g"), 5)
    val counts = out.groupBy("g").count().as[(String, Long)]
      .collect().toMap
    assert(counts.values.forall(_ == 5L))
    val again = Sampling.hashSamplePerGroup(df.repartition(11), "id",
      Seq("g"), 5).select("id").as[Long].collect().toSet
    assert(again == out.select("id").as[Long].collect().toSet)
  }

  test("hashSampleWeighted keeps weight-0 never, weight-1 always") {
    val df = spark.range(0, 600).selectExpr("id",
      "CASE WHEN id < 200 THEN 0.0 WHEN id < 400 THEN 1.0 ELSE 0.5 END AS w")
    val kept = Sampling.hashSampleWeighted(df, "id", "w")
      .select("id").as[Long].collect()
    assert(!kept.exists(_ < 200))                  // weight 0: none
    assert(kept.count(i => i >= 200 && i < 400) == 200) // weight 1: all
    val half = kept.count(_ >= 400)
    assert(half > 60 && half < 140, s"got $half of 200 at weight 0.5")
  }

  test("leakageSafeSplitAssign: cluster members share a split; " +
      "unlabeled docs match plain splitAssign") {
    val docs = Seq((1L, "x"), (2L, "x"), (3L, "y"), (10L, "z"))
      .toDF("doc_id", "text")
    val labels = Seq((1L, 1L), (2L, 1L)).toDF("id", "cluster")
    val got = Sampling.leakageSafeSplitAssign(docs, labels, "doc_id",
        Seq("a" -> 0.5, "b" -> 0.5), "s").collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got(1L) == got(2L)) // the dup family cannot straddle splits
    val plain = Sampling.splitAssign(docs, "doc_id",
        Seq("a" -> 0.5, "b" -> 0.5), "s").collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got(3L) == plain(3L) && got(10L) == plain(10L))
  }

  test("hashSampleWeighted weight 1.0 keeps the md5-prefix-ffff key too") {
    // md5("40691") starts with ffff — a 'ffff'-capped threshold silently
    // dropped this key despite an explicit keep-all weight; the 'g'
    // sentinel (like hexThreshold) must keep it
    val df = Seq((40691L, 1.0)).toDF("id", "w")
    assert(Sampling.hashSampleWeighted(df, "id", "w").count() == 1)
  }

  test("deterministicShuffle/interleave reject reserved output columns") {
    val clash = Seq((1L, 2L)).toDF("doc_id", "pos")
    intercept[IllegalArgumentException] {
      Sampling.deterministicShuffle(clash, "doc_id")
    }
    val clash2 = Seq((1L, 2L)).toDF("doc_id", "batch")
    intercept[IllegalArgumentException] {
      Sampling.interleaveBySource(clash2, "doc_id", "doc_id")
    }
  }

  test("hashSampleN ranks null keys by the sentinel hash, not first") {
    // without the sentinel, md5(null)=null sorts FIRST under asc and a
    // null-keyed row would always win sample membership
    val df = Seq(Some("a"), Some("b"), Some("c"), None, Some("d"),
      Some("e")).toDF("k")
    // md5 order: a(0cc1) < sentinel(1601) < c(4a8a) < d(8277) < b < e —
    // the null row ranks by the sentinel's hash: IN at n=3, and NOT
    // first (nulls-first ordering would put it in at n=1)
    assert(Sampling.hashSampleN(df, "k", n = 3)
      .as[Option[String]].collect().toSet ==
      Set(Some("a"), None, Some("c")))
    assert(Sampling.hashSampleN(df, "k", n = 1)
      .as[Option[String]].collect().toSet == Set(Some("a")))
  }

  test("capPerGroup keeps at most cap rows per group, all of small groups") {
    val df = spark.range(100)
      .selectExpr("id", "CASE WHEN id < 80 THEN 'big' ELSE 'small' END AS g")
    val out = Sampling.capPerGroup(df, "g", "id", cap = 25)
      .groupBy("g").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out("big") == 25L)   // capped
    assert(out("small") == 20L) // under cap: kept whole
  }

  test("capPerGroup survivors are partitioning-invariant and deterministic") {
    val df = spark.range(200).selectExpr("id", "CAST(id % 3 AS STRING) AS g")
    val a = Sampling.capPerGroup(df.repartition(1), "g", "id", cap = 10)
      .select("id").as[Long].collect().toSet
    val b = Sampling.capPerGroup(df.repartition(32), "g", "id", cap = 10)
      .select("id").as[Long].collect().toSet
    assert(a == b)
    assert(a.size == 30)
    // hash order, not head-of-file order: the kept set must not be 0..9
    val g0 = a.filter(_ % 3 == 0)
    assert(g0 != (0L to 27L by 3).take(10).toSet)
  }
}

class RepetitionRedactSpec extends SparkSpec {
  import spark.implicits._

  test("repetitionStats: hand-computed fractions") {
    val docs = Seq(
      (1L, "a a b"),          // 3 tok, 2 distinct; bigrams: "a a","a b"
      (2L, "x y z w"),        // all distinct; 3 bigrams each unique
      (3L, "go go go go")     // 4 tok 1 distinct; bigram "go go" x3
    ).toDF("doc_id", "text")
    val m = TextAnalysis.repetitionStats(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    assert(m(1L) == (0.3333, 0.5))
    assert(m(2L) == (0.0, 0.3333))
    assert(m(3L) == (0.75, 1.0))
  }

  test("repetitionStats: single-token doc gets zero bigram fraction") {
    val m = TextAnalysis.repetitionStats(
      Seq((1L, "solo")).toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    assert(m(1L) == (0.0, 0.0))
  }

  test("redactPii replaces email, phone and ip; piiCount counts them") {
    val df = Seq(
      "write to jo.doe+x@sub.example.org or call 1-555-867-5309 " +
        "from 192.168.0.17 today",
      "no pii here at all"
    ).toDF("t").select(
      TextAnalysis.redactPii(col("t")).as("r"),
      TextAnalysis.piiCount(col("t")).as("n"))
    val rows = df.as[(String, Int)].collect()
    assert(rows(0)._1 ==
      "write to <EMAIL> or call <PHONE> from <IP> today")
    assert(rows(0)._2 == 3)
    assert(rows(1)._1 == "no pii here at all" && rows(1)._2 == 0)
  }
}

class ContaminationLineDedupSpec extends SparkSpec {
  import spark.implicits._

  test("contaminationScore flags overlap with the benchmark set") {
    val bench = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta")
    ).toDF("doc_id", "text")
    val docs = Seq(
      // shares the 5-gram window "alpha beta gamma delta epsilon" etc.
      (1L, "alpha beta gamma delta epsilon zeta unrelated tail words"),
      (2L, "fully disjoint content with no overlap at all whatsoever")
    ).toDF("doc_id", "text")
    val m = graft.operators.Dedup
      .contaminationScore(docs, bench, "doc_id", "text", 5)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // doc 1: 9 tokens -> 5 shingles; "alpha..epsilon" and "beta..zeta"
    // also occur in the benchmark doc
    assert(m(1L)._1 == 5L && m(1L)._2 == 2L)
    assert(m(2L)._2 == 0L)
  }

  test("lineDedup keeps first occurrence corpus-wide and reassembles") {
    val docs = Seq(
      (1L, "header\nunique one\nfooter"),
      (2L, "header\nunique two\nfooter"),
      (3L, "header\nfooter") // nothing unique -> disappears
    ).toDF("doc_id", "text")
    val out = Dedup.lineDedup(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2)))
      .toMap
    assert(out(1L) == ("header\nunique one\nfooter", 3L))
    assert(out(2L) == ("unique two", 1L))
    assert(!out.contains(3L))
  }

  test("lineDedup drops blank lines and preserves in-doc order") {
    val docs = Seq((1L, "b\n\na\nb")).toDF("doc_id", "text")
    val out = Dedup.lineDedup(docs, "doc_id", "text").collect()
    assert(out.length == 1)
    // duplicate "b" within the same doc also deduped (first kept)
    assert(out(0).getString(1) == "b\na")
  }

  test("stableOrdinals: contiguous 0..N-1 in key order, any partitioning") {
    import graft.operators.Ids
    val df = spark.range(0, 1000).selectExpr("id * 7 % 1000 AS k")
      .repartition(13) // scrambled input partitioning
    val out = Ids.stableOrdinals(df, "k", "ordinal", numPartitions = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size == 1000)
    assert(out.values.toSeq.sorted == (0L until 1000L))
    // ordinal order == key order
    assert(out.toSeq.sortBy(_._1).map(_._2) == (0L until 1000L))
  }

  test("prefixSum matches a sequential scan, any partitioning") {
    import graft.operators.Pack
    val df = spark.range(0, 500).selectExpr("id AS k", "id % 13 + 1 AS v")
      .repartition(9)
    val got = Pack.prefixSum(df, "k", "v", "cum", numPartitions = 7)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    var run = 0L
    (0L until 500L).foreach { k =>
      run += k % 13 + 1
      assert(got(k) == run, s"at k=$k")
    }
  }

  test("prefixSum and stableOrdinals: one partitioning for both branches " +
      "when the range bounds come from a reservoir sample") {
    import graft.operators.{Ids, Pack}
    // one input partition far above the per-partition sample size, and
    // a column only the windows read: the offset branch and the window
    // branch plan separate range exchanges, each with its own sample
    val df = spark.range(0, 20000, 1, 1)
      .selectExpr("md5(CAST(id AS STRING)) AS k", "id % 13 + 1 AS v",
        "id AS payload")
    // (payload stays in the output: pruned, both exchanges would match
    // and Spark would reuse one)
    val sums = Pack.prefixSum(df, "k", "v", "cum", numPartitions = 8)
      .select("k", "v", "cum", "payload").as[(String, Long, Long, Long)]
      .collect().sortBy(_._1)
    val running = sums.map(_._2).scanLeft(0L)(_ + _).tail
    val badSums = sums.indices.count(i => sums(i)._3 != running(i))
    assert(badSums == 0, s"$badSums of ${sums.length} running sums wrong")
    val ords = Ids.stableOrdinals(df, "k", "ordinal", numPartitions = 8)
      .select("k", "ordinal", "payload").as[(String, Long, Long)]
      .collect().sortBy(_._1)
    val badOrds = ords.indices.count(i => ords(i)._2 != i)
    assert(badOrds == 0, s"$badOrds of ${ords.length} ordinals wrong")
  }

  test("packSequences: offsets stay under budget, ids monotone in order") {
    import graft.operators.Pack
    val df = spark.range(0, 100).selectExpr("id AS k", "30 AS tok")
    val out = Pack.packSequences(df, "k", "tok", maxTokens = 100L)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    // 30-token docs in 100-token bins: doc i starts at 30i
    out.foreach { case (k, seqId, off) =>
      assert(seqId == 30 * k / 100, s"doc $k")
      assert(off == 30 * k - seqId * 100 && off >= 0 && off < 100)
    }
  }

  test("takeTokenBudget never exceeds the budget and is prefix-closed") {
    import graft.operators.Pack
    val df = spark.range(0, 200).selectExpr("id AS k", "id % 7 + 1 AS v")
    val kept = Pack.takeTokenBudget(df, "k", "v", budget = 100L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kept.values.sum <= 100L)
    // prefix property: every key below the max kept key is kept
    val mx = kept.keys.max
    assert((0L to mx).forall(kept.contains))
  }

  test("sampleBy (engine RNG) hits per-stratum fractions approximately") {
    // df.stat.sampleBy is the partition-seeded-RNG contrast to
    // stratifiedHashSample (membership changes under repartitioning):
    // kept here so the engine path stays exercised after the registry
    // query moved to the deterministic sampler
    val df = spark.range(0, 4000)
      .selectExpr("id AS k",
        "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS s")
    val n = df.stat.sampleBy("s", Map("a" -> 0.5, "b" -> 0.1), 42L)
      .groupBy("s").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(n("a") - 1000L) < 200)
    assert(math.abs(n("b") - 200L) < 120)
  }

  test("stratifiedHashSample: per-stratum fractions, partition-invariant") {
    import graft.operators.Sampling
    val df = spark.range(0, 2000)
      .selectExpr("id AS k", "CASE WHEN id % 2 = 0 THEN 'big' ELSE 'rare' END AS s")
    val fr = Map("big" -> 0.25, "rare" -> 1.0)
    val out = Sampling.stratifiedHashSample(df, "k", "s", fr, salt = "t")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val bySt = out.groupBy(_._2).view.mapValues(_.length).toMap
    assert(bySt("rare") == 1000) // fraction 1.0 keeps EVERYTHING
    assert(math.abs(bySt("big") - 250) < 60) // ~0.25 of 1000
    // unseen stratum defaults to fraction 0
    val none = Sampling.stratifiedHashSample(
      df.withColumn("s", lit("other")), "k", "s", fr, salt = "t")
    assert(none.isEmpty)
    // membership is a pure function of the key: repartitioning the input
    // must not change the sample (the sampleBy contrast: its partition-
    // seeded RNG does)
    val rep = Sampling.stratifiedHashSample(df.repartition(13), "k", "s",
      fr, salt = "t").collect().map(r => r.getLong(0) -> r.getString(1))
    assert(rep.sortBy(_._1).toSeq == out.sortBy(_._1).toSeq)
  }

  test("mixture planFractions: binding source keeps 1.0, blend is exact") {
    import graft.operators.Mixture
    // masses 1000/4000/5000 with targets 0.5/0.3/0.2: source a is the
    // scarcest relative to its share (1000/0.5 = 2000 binds)
    val f = Mixture.planFractions(
      Map("a" -> 1000L, "b" -> 4000L, "c" -> 5000L),
      Map("a" -> 0.5, "b" -> 0.3, "c" -> 0.2))
    assert(f("a") == 1.0)
    assert(math.abs(f("b") - 0.3 * 2000 / 4000) < 1e-12)
    assert(math.abs(f("c") - 0.2 * 2000 / 5000) < 1e-12)
    // retained masses hit the target shares exactly
    val kept = Map("a" -> 1000 * f("a"), "b" -> 4000 * f("b"),
      "c" -> 5000 * f("c"))
    val tot = kept.values.sum
    assert(math.abs(kept("a") / tot - 0.5) < 1e-12)
    assert(math.abs(kept("b") / tot - 0.3) < 1e-12)
    // a target source with no corpus mass must be rejected loudly
    intercept[IllegalArgumentException] {
      Mixture.planFractions(Map("a" -> 1000L), Map("a" -> 0.5, "z" -> 0.5))
    }
  }

  test("mixture rebalance approaches the target blend on real rows") {
    import graft.operators.Mixture
    val df = spark.range(0, 3000)
      .selectExpr("id AS k", "CASE WHEN id % 6 < 3 THEN 'big' ELSE 'small' END AS src",
        "CASE WHEN id % 6 < 3 THEN 200 ELSE 50 END AS wt")
    val out = Mixture.rebalance(df, "k", "src", "wt",
      Map("big" -> 0.5, "small" -> 0.5))
      .groupBy("src").sum("wt").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // small (mass 75k) binds; big (300k) downsamples to ~75k
    val tot = out.values.sum.toDouble
    assert(math.abs(out("big") / tot - 0.5) < 0.05)
    assert(out("small") == 75000L) // binding source kept whole
  }

  test("incrementalExact drops seen texts and in-batch repeats") {
    val seen = Seq((1L, "old doc"), (2L, "another old")).toDF("id", "text")
    val batch = Seq(
      (10L, "old doc"),      // exact repeat of history -> dropped
      (11L, "fresh one"),    // new -> kept
      (12L, "fresh two"),    // new -> kept
      (13L, "fresh one")     // in-batch repeat of 11 -> dropped
    ).toDF("id", "text")
    val out = Dedup.incrementalExact(batch, seen, "id", "text")
      .select("id").as[Long].collect().toSet
    assert(out == Set(11L, 12L))
  }
  test("temperatureShares: alpha 1 is the natural distribution, " +
      "smaller alpha flattens toward uniform, shares sum to 1") {
    import graft.operators.Mixture
    val masses = Map("big" -> 900L, "small" -> 100L)
    val nat = Mixture.temperatureShares(masses, alpha = 1.0)
    assert(math.abs(nat("big") - 0.9) < 1e-12)
    assert(math.abs(nat("small") - 0.1) < 1e-12)
    val half = Mixture.temperatureShares(masses, alpha = 0.5)
    // sqrt(900)/(sqrt(900)+sqrt(100)) = 30/40 = 0.75 — exact in doubles
    assert(half("big") == 0.75 && half("small") == 0.25)
    val flat = Mixture.temperatureShares(masses, alpha = 0.01)
    assert(flat("small") > 0.4 && flat("small") < 0.5)
    Seq(nat, half, flat).foreach(m =>
      assert(math.abs(m.values.sum - 1.0) < 1e-12))
    intercept[IllegalArgumentException](
      Mixture.temperatureShares(masses, alpha = 0.0))
    intercept[IllegalArgumentException](
      Mixture.temperatureShares(Map("x" -> 0L), alpha = 0.5))
  }

  test("rebalanceTemperature: flattening keeps ALL of the scarce " +
      "source and downsamples the dominant one") {
    import graft.operators.Mixture
    // 10 heavy docs vs 2 light ones, equal weights within source
    val df = ((1 to 10).map(i => (i.toLong, "web", 100L)) ++
      Seq((100L, "books", 100L), (101L, "books", 100L)))
      .toDF("k", "src", "wt")
    val out = Mixture.rebalanceTemperature(df, "k", "src", "wt",
      alpha = 0.5).collect().map(r => (r.getLong(0), r.getString(1)))
    // books is the binding source under any flattening: fraction 1.0
    assert(out.count(_._2 == "books") == 2)
    // web downsamples: sqrt shares are (sqrt10 : sqrt2)/z -> web target
    // share ~0.69 => T = 200/0.31; f_web = 0.69*T/1000 ~ 0.45
    val webKept = out.count(_._2 == "web")
    assert(webKept < 10, s"web not downsampled: $webKept")
  }

}
