package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis
import graft.operators.Similarity
import graft.plans.NativeFunctions

class NativeExprSpec extends SparkSpec {
  import spark.implicits._

  /** Staged HOF winnowing — the reference `winnowingFingerprints`'s
    * kernel ([[graft.plans.WinnowingExpr]]) must match bit-for-bit. Each
    * stage is its own projection so the interpreted lambdas capture
    * bound attributes, not expressions (a lambda capturing the
    * tokenization would re-tokenize once per window). */
  private def winnowingReference(df: DataFrame, textCol: String,
                                 k: Int = 3, window: Int = 4): DataFrame = {
    val orig = df.columns.map(col).toSeq
    df.select(orig :+ TextAnalysis.tokens(col(textCol)).as("__wf_t"): _*)
      .select(orig :+ transform(
          sequence(lit(0), greatest(size(col("__wf_t")) - k, lit(0))),
          i => xxhash64(concat_ws(" ", slice(col("__wf_t"), i + lit(1), lit(k)))))
        .as("__wf_h"): _*)
      .select(orig :+ array_distinct(transform(
          sequence(lit(0), greatest(size(col("__wf_h")) - window, lit(0))),
          j => array_min(slice(col("__wf_h"), j + lit(1), lit(window)))))
        .as("fingerprints"): _*)
  }

  /** Greatest-of-structs nearest centroid — the reference
    * [[graft.plans.NearestCentroidExpr]] must match, ties to the larger
    * cell included: pack (cosine, cellId) per centroid, take the max. */
  private def nearestCellReference(centroids: Seq[Seq[Double]],
                                   v: Column): Column =
    if (centroids.length == 1) lit(0)
    else greatest(centroids.zipWithIndex.map { case (ct, i) =>
      struct(Similarity.cosine(v, typedlit(ct)).as("sim"),
        lit(i).as("cell"))
    }: _*).getField("cell")

  private lazy val vecs = (0 until 200).map { i =>
    (i.toLong, Seq.tabulate(32)(j => math.sin(i * 32 + j)))
  }.toDF("id", "v")

  test("native cosine ≡ HOF cosine bit-for-bit (same fold order)") {
    val both = vecs.crossJoin(vecs.select(col("id").as("id2"),
        col("v").as("v2")).limit(5))
      .select(
        NativeFunctions.cosineNative(col("v"), col("v2")).as("nat"),
        Similarity.cosine(col("v"), col("v2")).as("hof"))
      .collect()
    assert(both.length == 1000)
    both.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("native cosine: null in → null out; zero vector → 0.0") {
    val df = Seq(
      (Some(Seq(1.0, 2.0)), Some(Seq(1.0, 2.0))),
      (None, Some(Seq(1.0, 2.0))),
      (Some(Seq(0.0, 0.0)), Some(Seq(1.0, 2.0))))
      .toDF("a", "b")
      .select(NativeFunctions.cosineNative(col("a"), col("b")).as("c"))
    val got = df.collect()
    assert(math.abs(got(0).getDouble(0) - 1.0) < 1e-12)
    assert(got(1).isNullAt(0))
    assert(got(2).getDouble(0) == 0.0)
  }

  test("native cosine participates in whole-stage codegen") {
    // spark.range (not a LocalRelation, which is folded at plan time)
    val df = spark.range(100)
      .withColumn("v", transform(sequence(lit(0), lit(15)),
        j => (col("id") + j).cast("double")))
      .select(NativeFunctions.cosineNative(col("v"), col("v")).as("c"))
    // "*(n)" prefix marks a WholeStageCodegen stage in the plan string
    assert(df.queryExecution.executedPlan.toString
      .matches("(?s).*\\*\\(\\d+\\) Project \\[graft_cosine.*"))
    // and produces correct values through the codegen path
    assert(df.agg(min(col("c"))).collect()(0).getDouble(0) > 0.999999)
  }

  test("unicode normalize: decomposed -> composed, codegen'd, null-safe") {
    NativeFunctions.register(spark)
    val decomposed = "cafe\u0301 cre\u0300me" // e + combining acute/grave
    val composed = java.text.Normalizer.normalize(
      decomposed, java.text.Normalizer.Form.NFC) // single-char accents
    assert(composed.length == decomposed.length - 2)
    val df = spark.range(3).withColumn("t",
      when(col("id") === 2, lit(null).cast("string"))
        .otherwise(lit(decomposed)))
      .select(col("id"),
        NativeFunctions.unicodeNormalize(col("t"), "NFC").as("nfc"),
        NativeFunctions.unicodeNormalize(col("t"), "NFD").as("nfd"))
    val rows = df.orderBy("id").collect()
    assert(rows(0).getString(1) == composed)            // NFC composes
    assert(rows(0).getString(2) == decomposed)          // NFD keeps apart
    assert(rows(2).isNullAt(1) && rows(2).isNullAt(2))  // null passthrough
    // participates in whole-stage codegen (spark.range source)
    assert(df.queryExecution.executedPlan.toString.contains("*(1)"))
    // idempotent
    val twice = spark.sql(
      s"SELECT graft_unicode_normalize(graft_unicode_normalize(" +
        s"'$decomposed', 'NFC'), 'NFC') AS x").collect()(0).getString(0)
    assert(twice == composed)
  }

  test("an integer SQL argument outside int range fails naming its value") {
    val e = intercept[Exception](spark.sql(
      "SELECT graft_minhash('a b c d', 4294967360, 2) AS s").collect())
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
    assert(messages.exists(_.contains("4294967360")), messages)
  }

  test("float arrays work via explicit cast (SQL registry path)") {
    NativeFunctions.register(spark)
    val got = Seq((Seq(1.0f, 0.0f), Seq(1.0f, 0.0f))).toDF("a", "b")
      .selectExpr("graft_cosine(cast(a as array<double>), cast(b as array<double>)) as c")
      .as[Double].collect()(0)
    assert(math.abs(got - 1.0) < 1e-12)
  }

  test("native hyperplane bucket ≡ HOF bucket bit-for-bit") {
    val diffs = vecs.select(
        NativeFunctions.hyperplaneBucketNative(col("v"), 12).as("nat"),
        Similarity.hyperplaneBucket(col("v").cast("array<double>"), 12)
          .as("hof"))
      .where(col("nat") =!= col("hof")).count()
    assert(diffs == 0)
  }

  test("native minhash/simhash/shingles produce sane shapes") {
    val df = Seq("the quick brown fox jumps over the lazy dog", "", "one two")
      .toDF("t")
      .select(
        NativeFunctions.minhashNative(col("t"), 16, 3).as("mh"),
        NativeFunctions.simhashNative(col("t")).as("sh"),
        NativeFunctions.shinglesNative(col("t"), 3).as("sg"))
    val rows = df.collect()
    assert(rows.forall(_.getSeq[Long](0).length == 16))
    // 9 tokens, 3-word shingles → 7 distinct shingles
    assert(rows(0).getSeq[String](2).length == 7)
    assert(rows(0).getSeq[String](2).head == "the quick brown")
  }

  test("native shingles match HOF shingles value-for-value") {
    val docs = Seq("alpha beta gamma delta epsilon", "x", "  padded   text  ",
      "trailing newline\n", "\ttab lead")
      .toDF("t")
    val both = docs.select(
      NativeFunctions.shinglesNative(col("t"), 3).as("nat"),
      graft.functions.Shingles.wordShingles(col("t"), 3).as("hof")).collect()
    both.foreach(r =>
      assert(r.getSeq[String](0).sorted == r.getSeq[String](1).sorted))
  }

  test("native simhash ≡ HOF simhash bit-for-bit") {
    val docs = Seq("The Quick Brown Fox", "x", "  padded   text  ",
      "trailing newline\n", "\ttab lead", "")
      .toDF("t")
    val both = docs.select(
      NativeFunctions.simhashNative(col("t")).as("nat"),
      graft.operators.Dedup.simhash(col("t")).as("hof")).collect()
    both.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("native winnowing ≡ HOF winnowing bit-for-bit") {
    // includes the whitespace edge cases where naive Java
    // trim/split/filter diverges from Spark semantics: trailing
    // newline (Spark keeps a trailing empty token), leading tab
    // (leading empty token), and tabs Spark's trim does NOT strip
    val docs = Seq(
      "the quick brown fox jumps over the lazy dog again and again",
      "x", "  padded   text  ", "a b c d e f g h i j k l m n o p",
      "hello world\n", "\tleading tab", "mixed \t inner\nnewline\t")
      .toDF("text")
    val nat = TextAnalysis.winnowingFingerprints(docs, "text")
      .select("fingerprints").collect().map(_.getSeq[Long](0))
    val hof = winnowingReference(docs, "text")
      .select("fingerprints").collect().map(_.getSeq[Long](0))
    nat.zip(hof).foreach { case (n, h) => assert(n == h) } // order too
    assert(nat.forall(_.nonEmpty))
  }

  test("bruteForceTopK: k rows by descending cosine, the query's own " +
      "vector first") {
    val emb = (0 until 100).map(i =>
      (i.toLong, Seq.tabulate(16)(j => math.cos(i * 16 + j).toFloat)))
      .toDF("vec_id", "embedding")
    val q = Seq.tabulate(16)(j => math.cos(7 * 16 + j).toFloat)
    val nat = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(nat.length == 5)
    assert(nat(0) == (7L, 1.0))
    assert(nat.map(_._2).toSeq == nat.map(_._2).sorted.reverse.toSeq)
  }

  test("nearest centroid: fused native assignment, cosine-tie goes to " +
      "the larger cell (greatest-of-structs semantics)") {
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(1.0, 0.0))
    val got = Seq(
      (1L, Seq(2.0, 0.0)),  // ties cells 0 and 2 at cosine 1 → 2 wins
      (2L, Seq(0.0, 3.0)),  // cell 1
      (3L, Seq(0.0, 0.0)),  // zero vector: all sims 0.0 → last cell wins
      // NaN component → every sim NaN; Spark's double ordering (and so
      // greatest-of-structs) ranks NaN LARGEST, all tie → last cell —
      // a plain >= comparison would diverge and leave it in cell 0
      (4L, Seq(Double.NaN, 1.0))
    ).toDF("id", "v")
      .select(col("id"),
        NativeFunctions.nearestCentroidNative(col("v"), cents).as("c"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 2, 2L -> 1, 3L -> 2, 4L -> 2))
  }

  test("two-level nearest centroid: one group holding every centroid " +
      "is bit-exact with the flat form, incl. tie/NaN/zero rows") {
    val cents: Seq[Seq[Double]] =
      (0 until 8).map(c => Seq.tabulate(32)(j => math.cos(c * 32 + j)))
    val oneGroup = Seq(Seq.tabulate(32)(_ => 0.0))
    val members = Seq((0 until 8).toSeq)
    val both = vecs.select(
        NativeFunctions.nearestCentroidNative(col("v"), cents).as("flat"),
        NativeFunctions.nearestCentroidTwoLevelNative(col("v"), oneGroup,
          members, cents).as("two"))
      .collect()
    assert(both.length == 200)
    both.foreach(r => assert(r.getInt(0) == r.getInt(1)))
    // the flat spec's tie scenarios, through the two-level path with a
    // single group: identical verdicts (larger cell wins, NaN largest)
    val tieCents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(1.0, 0.0))
    val got = Seq(
      (1L, Seq(2.0, 0.0)), (2L, Seq(0.0, 3.0)),
      (3L, Seq(0.0, 0.0)), (4L, Seq(Double.NaN, 1.0))
    ).toDF("id", "v")
      .select(col("id"),
        NativeFunctions.nearestCentroidTwoLevelNative(col("v"),
          Seq(Seq(0.0, 0.0)), Seq(Seq(0, 1, 2)), tieCents).as("c"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 2, 2L -> 1, 3L -> 2, 4L -> 2))
  }

  test("two-level nearest centroid: coarse routing confines the fine " +
      "argmax to the routed group's members") {
    // centroid 2 (the diagonal, grouped under the y coarse cell) is the
    // GLOBAL argmax for v = (0.9, 0.8), but the vector routes to the x
    // coarse cell (cos 0.747 vs 0.664) and must pick among that cell's
    // members only → 0. The flat scan picks 2 — the documented
    // boundary-vector divergence, asserted both ways.
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(0.6, 0.8))
    val coarse = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val members = Seq(Seq(0), Seq(1, 2))
    val got = Seq(
      (1L, Seq(0.9, 0.8)),   // routes x → confined to member 0
      (2L, Seq(0.05, 1.0))   // routes y → c1 (pure y) beats c2 → 1
    ).toDF("id", "v")
      .select(col("id"),
        NativeFunctions.nearestCentroidTwoLevelNative(col("v"), coarse,
          members, cents).as("two"),
        NativeFunctions.nearestCentroidNative(col("v"), cents)
          .as("flat"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2)))
      .toMap
    assert(got == Map(1L -> ((0, 2)), 2L -> ((1, 1))))
  }

  test("coarseCentroidGroups: exact partition of centroid ids, " +
      "ascending members, no empty groups; degenerate small nlist is " +
      "identity; two-level assignment agrees with flat on the bulk") {
    val cents: Array[Seq[Double]] = Array.tabulate(64)(c =>
      Seq.tabulate(16)(j => math.sin(c * 16 + j)))
    val (coarse, members) = Similarity.coarseCentroidGroups(cents)
    assert(coarse.length == members.length)
    assert(members.forall(_.nonEmpty))
    assert(members.forall(m => m.sameElements(m.sorted)))
    assert(members.flatten.sorted.sameElements(0 until 64))
    assert(coarse.length <= 8 + 1)  // ~√64, empty groups pruned
    // degenerate: ncoarse >= nlist → one group per centroid
    val tiny: Array[Seq[Double]] =
      Array(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val (tc, tm) = Similarity.coarseCentroidGroups(tiny)
    assert(tc.map(_.toSeq).toSeq == tiny.map(_.toSeq).toSeq)
    assert(tm.map(_.toSeq).toSeq == Seq(Seq(0), Seq(1)))
    // bulk agreement between flat and two-level on deterministic data:
    // boundary rows may differ (the documented IVF trade), the bulk
    // must not
    val centsSeq = cents.toSeq.map(_.toSeq)
    val agree = vecs.select(
        (NativeFunctions.nearestCentroidNative(col("v"), centsSeq) ===
          NativeFunctions.nearestCentroidTwoLevelNative(col("v"),
            coarse.toSeq.map(_.toSeq), members.toSeq.map(_.toSeq),
            centsSeq)).cast("int").as("same"))
      .agg(avg(col("same"))).collect()(0).getDouble(0)
    assert(agree >= 0.6, s"flat/two-level agreement $agree")
  }

  test("native PQ encode/ADC ≡ HOF forms bit-for-bit; ties to smaller " +
      "code") {
    // 4 subspaces × 3 codes over dim 32 (dsub 8), deterministic values
    val books: Seq[Seq[Seq[Double]]] = (0 until 4).map(m =>
      (0 until 3).map(j =>
        Seq.tabulate(8)(i => math.cos(m * 100 + j * 10 + i))))
    val both = vecs.select(col("v"),
        NativeFunctions.pqEncodeNative(col("v"), books).as("natCodes"),
        Similarity.pqEncode(col("v"), books).as("hofCodes"))
      .withColumn("natAdc",
        NativeFunctions.pqAdcNative(col("v"), col("natCodes"), books))
      .withColumn("hofAdc",
        Similarity.pqAdc(col("v"), col("hofCodes"), books))
      .collect()
    assert(both.length == 200)
    both.foreach { r =>
      assert(r.getSeq[Int](1) == r.getSeq[Int](2))
      assert(r.getDouble(3) == r.getDouble(4))
    }
    // distance tie: identical codebook entries → both paths pick code 0
    val tieBooks: Seq[Seq[Seq[Double]]] =
      Seq(Seq(Seq(1.0, 0.0), Seq(1.0, 0.0)))
    val tied = Seq((1L, Seq(1.0, 0.0))).toDF("id", "v").select(
        NativeFunctions.pqEncodeNative(col("v"), tieBooks).as("nat"),
        Similarity.pqEncode(col("v"), tieBooks).as("hof"))
      .collect()(0)
    assert(tied.getSeq[Int](0) == Seq(0) && tied.getSeq[Int](1) == Seq(0))
  }

  test("PQ ADC degraded-input parity: null, out-of-range, and short " +
      "codes skip their subspace on BOTH paths") {
    val books: Seq[Seq[Seq[Double]]] = (0 until 4).map(m =>
      (0 until 3).map(j =>
        Seq.tabulate(2)(i => math.cos(m * 100 + j * 10 + i))))
    val q = Seq.tabulate(8)(i => math.sin(i.toDouble))
    val df = Seq(1).toDF("one").select(typedlit(q).as("q"))
      // subspace 1 null, subspace 2 out-of-range high, subspace 3
      // negative; and a 2-element codes array missing subspaces 2-3
      .withColumn("bad", array(lit(1), lit(null).cast("int"), lit(99),
        lit(-2)))
      .withColumn("short", array(lit(1), lit(0)))
    val got = df.select(
        NativeFunctions.pqAdcNative(col("q"), col("bad"), books).as("nb"),
        Similarity.pqAdc(col("q"), col("bad"), books).as("hb"),
        NativeFunctions.pqAdcNative(col("q"), col("short"), books)
          .as("ns"),
        Similarity.pqAdc(col("q"), col("short"), books).as("hs"))
      .collect()(0)
    assert(got.getDouble(0) == got.getDouble(1)) // bad codes agree
    assert(got.getDouble(2) == got.getDouble(3)) // short codes agree
    // only subspace 0 (code 1) contributes for "bad"
    val expect = q.slice(0, 2).zip(books(0)(1)).map { case (a, b) => a * b }
      .sum
    assert(math.abs(got.getDouble(0) - expect) < 1e-12)
  }

  test("PQ null-input parity: null/short VECTORS encode to code 0; a " +
      "NULL codes array scores 0.0; a null query scores null — both paths") {
    val books: Seq[Seq[Seq[Double]]] = (0 until 2).map(m =>
      (0 until 3).map(j =>
        Seq.tabulate(2)(i => math.cos(m * 100 + j * 10 + i))))
    val df = Seq(1).toDF("one").select(
      lit(null).cast("array<double>").as("nullv"),
      typedlit(Seq(0.9, 0.9, 0.9)).as("shortv"), // 3 < 2 subspaces x 2
      typedlit(Seq.tabulate(4)(i => math.sin(i.toDouble))).as("q"),
      lit(null).cast("array<int>").as("nullCodes"))
    val got = df.select(
        NativeFunctions.pqEncodeNative(col("nullv"), books).as("nn"),
        Similarity.pqEncode(col("nullv"), books).as("hn"),
        NativeFunctions.pqEncodeNative(col("shortv"), books).as("nsv"),
        Similarity.pqEncode(col("shortv"), books).as("hsv"),
        NativeFunctions.pqAdcNative(col("q"), col("nullCodes"), books)
          .as("nc"),
        Similarity.pqAdc(col("q"), col("nullCodes"), books).as("hc"),
        NativeFunctions.pqAdcNative(col("nullv"),
          Similarity.pqEncode(col("q"), books), books).as("nq"),
        Similarity.pqAdc(col("nullv"),
          Similarity.pqEncode(col("q"), books), books).as("hq"),
        NativeFunctions.pqAdcNative(col("nullv"), col("nullCodes"), books)
          .as("nboth"),
        Similarity.pqAdc(col("nullv"), col("nullCodes"), books)
          .as("hboth"))
      .collect()(0)
    // null vector → all-zero codes on BOTH paths (least-of-structs
    // falls through null distances to the code tiebreak)
    assert(got.getSeq[Int](0) == Seq(0, 0))
    assert(got.getSeq[Int](1) == Seq(0, 0))
    // short vector: subspace 0 complete (argmin may be nonzero),
    // subspace 1 incomplete → code 0; paths agree exactly
    assert(got.getSeq[Int](2) == got.getSeq[Int](3))
    assert(got.getSeq[Int](2)(1) == 0)
    // NULL codes array → 0.0, not null, on BOTH paths
    assert(!got.isNullAt(4) && got.getDouble(4) == 0.0)
    assert(!got.isNullAt(5) && got.getDouble(5) == 0.0)
    // null query with USABLE codes → null on BOTH paths
    assert(got.isNullAt(6) && got.isNullAt(7))
    // both null: codes-null wins → 0.0 on BOTH paths (the HOF
    // CaseWhen short-circuits before any dot)
    assert(!got.isNullAt(8) && got.getDouble(8) == 0.0)
    assert(!got.isNullAt(9) && got.getDouble(9) == 0.0)
  }

  test("semanticDuplicates finds planted copies; nearest centroid ≡ " +
      "HOF form") {
    val emb = (0 until 60).map(i =>
      (i.toLong, Seq.tabulate(8)(j => math.cos(i * 8 + j)))) ++
      (0 until 10).map(i => (100L + i,
        Seq.tabulate(8)(j => math.cos(i * 8 + j)))) // planted copies
    val df = emb.toDF("vec_id", "embedding")
    // centroids drawn from the data, one duplicated so ties occur
    val cents = Seq(0, 13, 13, 29, 47).map(i => emb(i)._2)
    Seq(1, 2, 5).foreach { n =>
      val both = df.select(
        NativeFunctions.nearestCentroidNative(col("embedding"), cents.take(n))
          .as("nat"),
        nearestCellReference(cents.take(n), col("embedding")).as("ref"))
        .collect()
      both.foreach(r => assert(r.getInt(0) == r.getInt(1), s"nlist $n"))
    }
    val pairs = graft.operators.Dedup.semanticDuplicates(df, "vec_id",
        "embedding", nlist = 4, minCosine = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((0 until 10).forall(i => pairs.contains((i.toLong, 100L + i))))
  }

  test("GraftExtensions injects every native function at session build") {
    // spark.sql.extensions is a static conf — it only applies to the
    // JVM's first SparkContext, so the config path can't run inside this
    // shared-context suite; the probe applies the extensions object the
    // same way session building does
    val names = org.apache.spark.sql.GraftExtensionsProbe
      .injectedFunctionNames(new graft.plans.GraftExtensions)
    Seq(NativeFunctions.cosineName, NativeFunctions.minhashName,
      NativeFunctions.simhashName, NativeFunctions.shinglesName,
      NativeFunctions.hyperplaneName, NativeFunctions.winnowName,
      NativeFunctions.unicodeNormalizeName).foreach { n =>
      assert(names.contains(n), s"$n not injected (got: $names)")
    }
  }

  test("register is idempotent: a second call leaves the registry as it " +
      "was and logs no replacement WARN") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry
    import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
    val warned = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("graft-register-probe", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        warned.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = LogManager.getLogger(classOf[SimpleFunctionRegistry]
      .getName).asInstanceOf[Logger]
    val reg = spark.sessionState.functionRegistry
    def snapshot() = reg.listFunction().map(id => id -> reg.lookupFunction(id))
    val cosine = FunctionIdentifier(NativeFunctions.cosineName)
    logger.addAppender(appender)
    try {
      NativeFunctions.register(spark)
      // a name bound to another builder is rebound (and the registry says
      // so, which shows the probe hears its WARNs) …
      reg.createOrReplaceTempFunction(NativeFunctions.cosineName,
        (_: Seq[Expression]) => Literal(0.0), "scala_udf")
      val stranger = reg.lookupFunctionBuilder(cosine)
      NativeFunctions.register(spark)
      assert(reg.lookupFunctionBuilder(cosine) != stranger)
      assert(warned.size == 2, warned)
      // … and a name already bound to its builder is left as it is
      val before = snapshot()
      NativeFunctions.register(spark)
      val after = snapshot()
      assert(before.map(_._1) == after.map(_._1))
      before.zip(after).foreach { case ((id, a), (_, b)) =>
        assert(a.get eq b.get, s"$id was rebound")
      }
      assert(warned.size == 2, warned)
      assert(spark.range(1).select(NativeFunctions.cosineNative(
        array(lit(1.0)), array(lit(1.0)))).head().getDouble(0) == 1.0)
    } finally {
      logger.removeAppender(appender)
      appender.stop()
    }
  }

  test("PublicSuffixes.registrable: rules, wildcards, exceptions, defaults") {
    import graft.plans.PublicSuffixes.registrable
    // multi-label registry rules
    assert(registrable("www.shop.example.co.uk") == "example.co.uk")
    assert(registrable("news.example.com.au") == "example.com.au")
    assert(registrable("a.b.c.gouv.fr") == "c.gouv.fr")
    // default rule: unknown TLD keeps last two labels
    assert(registrable("a.b.example.com") == "example.com")
    assert(registrable("example.dev") == "example.dev")
    // wildcard zones: *.bd makes <x>.bd itself the public suffix
    assert(registrable("x.y.foo.bd") == "y.foo.bd")
    assert(registrable("deep.a.b.ck") == "a.b.ck")
    // exception rules cancel the wildcard: city.kobe.jp is registrable
    assert(registrable("sub.city.kobe.jp") == "city.kobe.jp")
    assert(registrable("city.kobe.jp") == "city.kobe.jp")
    assert(registrable("a.www.ck") == "www.ck")
    // host IS a public suffix -> identity (safe dedup key)
    assert(registrable("co.uk") == "co.uk")
    assert(registrable("x.kobe.jp") == "x.kobe.jp")
    // lowercasing, single label, malformed hosts
    assert(registrable("WWW.Example.COM") == "example.com")
    assert(registrable("localhost") == "localhost")
    assert(registrable("bad..host") == "bad..host")
    assert(registrable("") == "")
  }

  test("cached rlike matches Spark rlike semantics over a pattern col") {
    import graft.plans.NativeFunctions
    val rows = Seq(("/tmp/a", "^/tmp.*"), ("/x", "^/x$"), ("/xy", "^/x$"),
      ("/dl/a.zip", "^/dl/.*\\.zip"), ("abc", "b"), (null, "^a"),
      ("a", null)).toDF("s", "p")
    val got = rows.select(
        NativeFunctions.rlikeCached(col("s"), col("p")).as("m"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getBoolean(0))
    assert(got.toSeq == Seq(true, true, false, true, true, null, null))
    // the cache returns the same compiled pattern across calls
    val p1 = graft.plans.RegexCache.pattern("^/tmp.*")
    assert(graft.plans.RegexCache.pattern("^/tmp.*") eq p1)
  }

  test("PublicSuffixes: full bundled list, beyond the fallback snapshot") {
    import graft.plans.PublicSuffixes.registrable
    // ICANN registries absent from the curated fallback
    assert(registrable("shop.example.co.bw") == "example.co.bw")
    assert(registrable("a.b.example.com.cy") == "example.com.cy")
    // PRIVATE-section suffixes (each github.io user site is its own
    // origin — exactly the merge boundary a crawl cap wants)
    assert(registrable("blog.demo.github.io") == "demo.github.io")
    assert(registrable("x.mysite.blogspot.com") == "mysite.blogspot.com")
    // unicode rule matched in BOTH representations: 公司.cn is a PSL
    // rule; its IDNA ASCII form xn--55qx5d.cn is indexed alongside
    assert(registrable("foo.bar.公司.cn") == "bar.公司.cn")
    assert(registrable("foo.bar.xn--55qx5d.cn") == "bar.xn--55qx5d.cn")
  }

  test("PctNormalize: decode unreserved, uppercase kept hex, malformed verbatim") {
    import graft.plans.PctNormalize.normalize
    assert(normalize("/P%61th%2fx%7E") == "/Path%2Fx~")
    assert(normalize("%41%42%63%2d%5f%2e") == "ABc-_.")
    // reserved escapes keep meaning, canonical uppercase
    assert(normalize("a%3db&c%26d") == "a%3Db&c%26d")
    // malformed: bad hex, truncated tail, unicode digit is NOT hex
    assert(normalize("x%zz%4") == "x%zz%4")
    assert(normalize("%") == "%")
    assert(normalize("%٠٠1") == "%٠٠1")
    assert(normalize("no escapes") == "no escapes")
  }

  test("registrable-domain and pct native exprs run under codegen") {
    val rows = Seq("www.shop.example.co.uk", "x.y.foo.bd").toDF("h")
      .select(NativeFunctions.registrableDomainNative(col("h")).as("d"),
        NativeFunctions.pctNormalizeNative(lit("p%61th%2f")).as("p"))
      .collect()
    assert(rows.map(_.getString(0)).toSeq ==
      Seq("example.co.uk", "y.foo.bd"))
    assert(rows.forall(_.getString(1) == "path%2F"))
  }

  test("IDN host: known ACE decodings (RFC/registry examples)") {
    import graft.plans.IdnHostExpr.normalize
    assert(normalize("xn--bcher-kva.example", toAscii = false) ==
      "bücher.example")
    assert(normalize("XN--MNCHEN-3YA.de", toAscii = false) ==
      "münchen.de")
    assert(normalize("www.xn--fiqs8s", toAscii = false) ==
      "www.中国")
    assert(normalize("xn--p1ai", toAscii = false) == "рф")
    // plain ASCII is identity-lowercased either direction
    assert(normalize("WWW.Example.COM", toAscii = false) ==
      "www.example.com")
    assert(normalize("WWW.Example.COM", toAscii = true) ==
      "www.example.com")
  }

  test("IDN host: Unicode→ACE→Unicode round-trips") {
    import graft.plans.IdnHostExpr.normalize
    for (h <- Seq("münchen.de", "bücher.example",
        "www.中国", "рф", "españa.com")) {
      val ace = normalize(h, toAscii = true)
      assert(ace.startsWith("xn--") || ace.contains(".xn--") ||
        ace.contains("xn--"), s"$h -> $ace")
      assert(normalize(ace, toAscii = false) == h, s"$h -> $ace")
    }
  }

  test("IDN host: hostile input passes through lowercased-verbatim") {
    import graft.plans.IdnHostExpr.normalize
    // overlong label (>63 chars post-encode) and junk ACE must not
    // throw — crawl data is hostile
    val longLabel = "ü" * 80 + ".test"
    assert(normalize(longLabel, toAscii = true) == longLabel)
    assert(normalize("xn--this-is-not-valid-ace.test",
      toAscii = false) == "xn--this-is-not-valid-ace.test")
    assert(normalize("", toAscii = false) == "")
  }

  test("IDN native expr runs under codegen") {
    val df = spark.range(3)
      .withColumn("h",
        when(col("id") >= 0, lit("XN--MNCHEN-3YA.de")).otherwise("x"))
      .select(NativeFunctions.idnHostNative(col("h"),
        toAscii = false).as("u"))
    assert(df.queryExecution.executedPlan.toString
      .matches("(?s).*\\*\\(\\d+\\) Project \\[graft_idn_host.*"))
    assert(df.collect().forall(_.getString(0) == "münchen.de"))
  }

  test("sorted-jaccard native expr equals the portable " +
      "array_intersect/array_union form on random sorted-distinct " +
      "arrays, and runs under codegen") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val rows = (0 until 300).map { i =>
      def arr(seed: Int, n: Int): Array[Long] =
        Array.fill(n)((rnd.nextLong() % 50 + 50) % 50) // dense → overlaps
          .distinct.sorted
      val n1 = 1 + rnd.nextInt(30)
      val n2 = 1 + rnd.nextInt(30)
      (i.toLong, arr(i, n1), arr(i + 7, n2))
    }
    val df = rows.toDF("id", "a", "b")
    val both = df.select(col("id"),
      NativeFunctions.sortedJaccardNative(col("a"), col("b")).as("jn"),
      (size(array_intersect(col("a"), col("b"))).cast("double") /
        size(array_union(col("a"), col("b")))).as("jp"))
    // plan/codegen assertion on a range-backed frame (the local Seq
    // above constant-folds to a LocalTableScan before execution)
    val ranged = spark.range(16).select(
      NativeFunctions.sortedJaccardNative(
        sequence(col("id"), col("id") + 3),
        sequence(col("id") + 2, col("id") + 5)).as("j"))
    assert(ranged.queryExecution.executedPlan.toString
      .matches("(?s).*\\*\\(\\d+\\) Project \\[graft_sorted_jaccard.*"),
      "expression must run inside whole-stage codegen")
    assert(ranged.collect().forall(r =>
      math.abs(r.getDouble(0) - 2.0 / 6.0) < 1e-12),
      "overlap 2 of union 6")
    both.collect().foreach { r =>
      assert(math.abs(r.getDouble(1) - r.getDouble(2)) < 1e-12,
        s"row ${r.getLong(0)}: native ${r.getDouble(1)} vs " +
          s"portable ${r.getDouble(2)}")
    }
    // edge shapes: empty vs non-empty, identical, disjoint
    val edges = Seq(
      (Array.empty[Long], Array.empty[Long], 0.0),
      (Array.empty[Long], Array(1L, 2L), 0.0),
      (Array(1L, 2L, 3L), Array(1L, 2L, 3L), 1.0),
      (Array(1L, 2L), Array(3L, 4L), 0.0),
      (Array(Long.MinValue, 0L, Long.MaxValue),
        Array(Long.MinValue, Long.MaxValue), 2.0 / 3.0))
    edges.zipWithIndex.foreach { case ((a, b, want), i) =>
      val got = Seq((a, b)).toDF("a", "b")
        .select(NativeFunctions.sortedJaccardNative(col("a"), col("b")))
        .collect()(0).getDouble(0)
      assert(math.abs(got - want) < 1e-12, s"edge $i: $got != $want")
    }
  }
}
