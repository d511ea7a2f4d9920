package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}

/**
 * ScalaCheck property tests for the query-spec algebra — an upgrade the
 * reference's test suite lacks (SURVEY.md §5: "No property-based
 * testing"). Engine-level invariants are checked on one shared dataset
 * to keep Spark job counts bounded.
 */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def checkProp(p: Prop, minSuccessful: Int = 20): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(minSuccessful), p)
    assert(res.passed, res.status.toString)
  }

  private val opNames = Gen.oneOf("sum", "mean", "avg", "std", "stddev",
    "count", "count_na", "count_distinct", "sorted_count_distinct",
    "min", "max", "one")
  private val colName = Gen.identifier.suchThat(_.nonEmpty).map(_.take(10))

  test("measure normalization is total and idempotent on valid specs") {
    checkProp(Prop.forAll(colName, opNames, colName) { (in, op, out) =>
      val one = Measure.normalize(Seq(Seq(in)))
      val two = Measure.normalize(Seq(Seq(in, op)))
      val three = Measure.normalize(Seq(Seq(in, op, out)))
      one == Seq(Measure(in, AggOp.Sum, in)) &&
        two.head.input == in && two.head.output == in &&
        three.head.output == out &&
        // re-normalizing the canonical triple is the identity
        Measure.normalize(Seq(Seq(three.head.input, three.head.op.name,
          three.head.output))) == three
    })
  }

  test("op parse/name round-trips for every op") {
    assert(AggOp.all.forall(op => AggOp.parse(op.name) == op))
    assert(FilterOp.all.forall(op => FilterOp.parse(op.name) == op))
  }

  private lazy val nums = (-50L to 50L).map(i => (i, i * 2)).toDF("k", "v")
  private lazy val tmpP = { val p = tmpDir() + "/p.parquet"
    nums.write.parquet(p); p }

  private def cnt(f: Filter): Long =
    AggregateEngine.aggregatePq(spark, tmpP, Nil,
      Seq(Seq("v", "count", "n")), Seq(f)).collect()(0).getLong(0)

  test("filter complement: count(P) + count(!P) = total, for each op pair") {
    val total = 101L
    checkProp(Prop.forAll(Gen.choose(-60L, 60L)) { x =>
      cnt(Filter("k", ">", x)) + cnt(Filter("k", "<=", x)) == total &&
      cnt(Filter("k", "==", x)) + cnt(Filter("k", "!=", x)) == total &&
      cnt(Filter("k", ">=", x)) + cnt(Filter("k", "<", x)) == total
    }, minSuccessful = 6) // each case = 6 Spark jobs
  }

  test("in-filter equals union of point filters") {
    checkProp(Prop.forAll(Gen.listOfN(3, Gen.choose(-55L, 55L))) { xs =>
      cnt(Filter("k", "in", xs.distinct)) ==
        xs.distinct.map(x => cnt(Filter("k", "==", x))).sum
    }, minSuccessful = 4)
  }

  test("sum is partition-invariant (pre-aggregation soundness, A13)") {
    checkProp(Prop.forAll(Gen.choose(1, 8)) { parts =>
      nums.repartition(parts).groupBy().sum("v").collect()(0).getLong(0) ==
        (-50L to 50L).map(_ * 2).sum
    }, minSuccessful = 4)
  }

  test("simhash Manku blocking: full recall at every maxHamming (property)") {
    import spark.implicits._
    // arbitrary fingerprints, arbitrary flip positions, arbitrary k:
    // every planted pair within Hamming k MUST be found — the pigeonhole
    // guarantee over concatenated chunk keys is not probabilistic
    val gen = for {
      k <- Gen.choose(0, 10)
      seeds <- Gen.listOfN(6, Gen.long)
      flips <- Gen.listOfN(6, Gen.listOfN(64, Gen.choose(0, 63))
        .map(_.distinct))
    } yield (k, seeds.zip(flips.map(_.take(k))))
    checkProp(Prop.forAll(gen) { case (k, rows) =>
      // flip positions are DISTINCT, so each partner differs from its
      // base in exactly |flips| ≤ k bits — recall must be total
      val df = rows.zipWithIndex.flatMap { case ((fp, fl), i) =>
        Seq((i.toLong, fp),
          (i + 1000L, fl.foldLeft(fp)((a, p) => a ^ (1L << p))))
      }.toDF("id", "fp")
      val found = graft.operators.Dedup
        .simhashPairsFromFingerprints(df, "id", "fp", maxHamming = k)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      rows.indices.forall(i => found.contains((i.toLong, i + 1000L)))
    }, minSuccessful = 8) // each case = 1 Spark job over 12 rows
  }

  test("winnowing guarantee: a shared window+k-1 word run shares a " +
      "fingerprint (property)") {
    import spark.implicits._
    // Schleimer et al.'s core guarantee: any two documents sharing a
    // word run of at least window+k-1 words have at least one common
    // fingerprint. The shared run gives window consecutive identical
    // shingle hashes, so the run's first full window's min is selected
    // on both sides. Arbitrary surrounding words must not break it.
    val k = 3
    val win = 4
    val word = Gen.choose('a', 'z').flatMap(c =>
      Gen.choose(1, 3).map(n => c.toString * n))
    val gen = for {
      runLen <- Gen.choose(win + k - 1, win + k + 4)
      run <- Gen.listOfN(runLen, word)
      preA <- Gen.listOfN(5, word)
      postA <- Gen.listOfN(5, word)
      preB <- Gen.listOfN(7, word)
      postB <- Gen.listOfN(3, word)
    } yield ((preA ++ run ++ postA).mkString(" "),
      (preB ++ run ++ postB).mkString(" "))
    checkProp(Prop.forAll(gen) { case (a, b) =>
      val fps = graft.functions.TextAnalysis
        .winnowingFingerprints(Seq((1L, a), (2L, b)).toDF("id", "text"),
          "text", k, win)
        .orderBy("id").collect()
        .map(_.getAs[Seq[Long]]("fingerprints").toSet)
      fps(0).intersect(fps(1)).nonEmpty
    }, minSuccessful = 10)
  }

  test("mojibake repair is idempotent and identity on ASCII") {
    import graft.plans.Mojibake.repair
    // arbitrary strings over ASCII + the cp1252 glyph block + common
    // non-ASCII: repair must reach a fixpoint within its pass budget
    // (a second application changes nothing) and never touch pure
    // ASCII. Idempotence is what makes re-running a cleaning pipeline
    // over already-cleaned shards safe.
    val charGen = Gen.frequency(
      6 -> Gen.choose(' ', '~'),
      2 -> Gen.oneOf("€‚ƒ„…†‡ˆ‰Š‹ŒŽ‘’“”•–—˜™š›œžŸ".toSeq),
      2 -> Gen.choose(0x00A0.toChar, 0x00FF.toChar),
      1 -> Gen.oneOf("éüñ中文😀".toSeq))
    val strGen = Gen.listOf(charGen).map(_.mkString)
    // maxPasses = 10: a k-pass chain needs ≥ 2^k source chars, so for
    // generator-sized strings (≪ 1024 chars) 10 passes IS the true
    // fixpoint — the property tests the algorithm, not the production
    // pass budget (3, sized for real-world double encoding)
    checkProp(Prop.forAll(strGen) { s =>
      val once = repair(s, maxPasses = 10)
      repair(once, maxPasses = 10) == once
    }, minSuccessful = 200)
    val asciiGen = Gen.listOf(Gen.choose(' ', '~')).map(_.mkString)
    checkProp(Prop.forAll(asciiGen) { s => repair(s) == s },
      minSuccessful = 100)
  }

  test("tokens(): array_remove form ≡ independent trim-split reference " +
      "on whitespace-ridden strings; normalizeForDedup idempotent; " +
      "langid native ≡ HOF") {
    import org.apache.spark.sql.functions.col
    import graft.functions.TextAnalysis
    // generator biased toward the \s class and edge cases — the
    // whitespace handling is exactly what round 11 changed
    val charGen = Gen.frequency(
      5 -> Gen.choose('a', 'z'),
      3 -> Gen.oneOf(' ', '\t', '\n', '\r', '\f', '\u000B'),
      1 -> Gen.oneOf('é', '中', '!', '3', 'の'))
    val gen = Gen.listOf(charGen).map(_.mkString)
    val crafted = Seq("", " ", "\t", "\n", " \r\n ", "a", " a ", "\ta\n",
      "ab", "the  cat", "…", "of\tand")
    val strings = crafted ++
      (1 to 300).flatMap(_ => gen.sample) ++
      // profile-gram-rich rows so the langid comparison exercises wins
      RegistryText.langIdPlants.map(_._2)
    // independent JVM reference (NOT NativeText — a third opinion):
    // strip the Java \s class at the edges, split interior runs
    def ref(s: String): Seq[String] = {
      val t = s.replaceAll("^\\s+|\\s+$", "")
      if (t.isEmpty) Seq.empty else t.split("\\s+").toSeq
    }
    val rows = strings.toDF("t").select(
      col("t"),
      TextAnalysis.tokens(col("t")).as("toks"),
      TextAnalysis.normalizeForDedup(col("t")).as("k1"),
      TextAnalysis.normalizeForDedup(
        TextAnalysis.normalizeForDedup(col("t"))).as("k2"),
      TextAnalysis.langIdCharNgram(col("t")).as("hof"),
      graft.plans.NativeFunctions.langIdNgramNative(col("t")).as("nat"))
      .collect()
    rows.foreach { r =>
      val t = r.getString(0)
      assert(r.getSeq[String](1) == ref(t), s"tokens mismatch on ${t.map(_.toInt)}")
      assert(r.getString(2) == r.getString(3), s"normalize not idempotent on ${t.map(_.toInt)}")
      assert(r.getString(4) == r.getString(5), s"langid native/HOF split on ${t.map(_.toInt)}")
    }
  }

  test("deterministicShuffle is a bijection onto contiguous positions") {
    // property over random key sets: every input row appears exactly
    // once, shards partition the rows, and positions within a shard
    // are exactly 1..n_shard — no drops, no duplicates, no gaps,
    // whatever the key distribution
    val keysGen = Gen.nonEmptyListOf(Gen.choose(-1000000L, 1000000L))
      .map(_.distinct)
    checkProp(Prop.forAll(keysGen) { keys =>
      val out = graft.operators.Sampling.deterministicShuffle(
          keys.toDF("id"), "id", shards = 4, salt = "p")
        .select("id", "shard", "pos")
        .as[(Long, Int, Int)].collect()
      out.length == keys.length &&
        out.map(_._1).toSet == keys.toSet &&
        out.groupBy(_._2).values.forall(rows =>
          rows.map(_._3).sorted.toSeq == (1 to rows.length))
    }, minSuccessful = 10)
  }

  test("byte-level BPE: decode∘encode = id for ANY text and merges") {
    import graft.plans.BpeCodec
    // arbitrary unicode strings (astral planes included via Gen's
    // full-char strings), arbitrary small merge lists over the
    // byte-alphabet spellings the encoder actually produces
    val text = Gen.listOf(Gen.oneOf(
      Gen.alphaNumStr.map(_.take(8)),
      Gen.oneOf(" ", "\n", "\t", "'s", "it's", "3.14", "😀", "中文",
        "préfixe", "Ġ", "  ", "a-b_c!"))).map(_.mkString)
    val merge = for {
      a <- Gen.oneOf("t", "h", "e", "Ġ", "i", "n", "th", "Ġt")
      b <- Gen.oneOf("h", "e", "t", "n", "g", "he", "'s")
    } yield (a, b)
    checkProp(Prop.forAll(text, Gen.listOfN(6, merge)) { (t, ms) =>
      val lefts = ms.map(_._1).toArray
      val rights = ms.map(_._2).toArray
      val syms = BpeCodec.pretokenize(t)
        .flatMap(BpeCodec.encodePretoken(_, lefts, rights))
      BpeCodec.decodeByteSymbols(syms.mkString) == t
    }, minSuccessful = 100)
  }
  test("CDC chunking properties: exact byte tiling for arbitrary " +
      "unicode text, determinism, and resync after a prefix edit") {
    import graft.plans.CdcChunking
    import org.apache.spark.unsafe.types.UTF8String
    val anyText = Gen.listOf(Gen.oneOf(
      Gen.alphaNumStr.map(_.take(12)),
      Gen.oneOf("\u00e9t\u00e9", "\u4e2d\u6587\u8bcd", "\ud83d\ude00", "  ", "\n", "\u0440\u0443\u0441"),
      Gen.asciiPrintableStr.map(_.take(8))
    )).map(_.mkString(" "))
    def rows(t: String, min: Int, avg: Int, max: Int) = {
      val arr = CdcChunking.chunks(UTF8String.fromString(t), min, avg, max)
      (0 until arr.numElements()).map { i =>
        val r = arr.getStruct(i, 3)
        (r.getLong(0), r.getInt(1), r.getInt(2))
      }
    }
    checkProp(Prop.forAll(anyText) { t =>
      val cs = rows(t, 8, 16, 64)
      val bytes = t.getBytes("UTF-8")
      val tiles = cs.isEmpty && bytes.isEmpty ||
        (cs.nonEmpty && cs.head._2 == 0 &&
          cs.sliding(2).forall {
            case Seq((_, s1, l1), (_, s2, _)) => s1 + l1 == s2
            case _ => true
          } && cs.last._2 + cs.last._3 == bytes.length)
      val sized = cs.dropRight(1).forall(c => c._3 >= 8 && c._3 <= 64)
      val deterministic = cs == rows(t, 8, 16, 64)
      tiles && sized && deterministic
    }, minSuccessful = 60)
    // resync: for long-enough text, a prefix edit leaves most chunk
    // hashes intact (the content-defined property itself)
    val longText = Gen.listOfN(60,
      Gen.alphaNumStr.suchThat(_.nonEmpty).map(_.take(10)))
      .map(_.mkString(" "))
    checkProp(Prop.forAll(longText) { t =>
      val base = rows(t, 8, 16, 64).map(_._1)
      val edited = rows("EDITPREFIX!! " + t, 8, 16, 64).map(_._1)
      val shared = base.toSet.intersect(edited.toSet).size
      // everything past the first few chunks re-synchronizes
      shared >= base.length - 4
    }, minSuccessful = 30)
  }

  test("temperatureShares properties: shares sum to 1 and smaller " +
      "alpha monotonically lifts the scarcest source") {
    import graft.operators.Mixture
    val massesGen = Gen.chooseNum(2, 6).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(1L, 1000000L)))
      .map(_.zipWithIndex.map { case (m, i) => s"s$i" -> m }.toMap)
    val alphaPair = for {
      a <- Gen.chooseNum(0.05, 0.95)
      b <- Gen.chooseNum(0.05, 0.95)
    } yield (math.min(a, b), math.max(a, b))
    checkProp(Prop.forAll(massesGen, alphaPair) { case (masses, (lo, hi)) =>
      val sLo = Mixture.temperatureShares(masses, lo)
      val sHi = Mixture.temperatureShares(masses, hi)
      val scarcest = masses.minBy(_._2)._1
      math.abs(sLo.values.sum - 1.0) < 1e-9 &&
        math.abs(sHi.values.sum - 1.0) < 1e-9 &&
        sLo(scarcest) >= sHi(scarcest) - 1e-12
    }, minSuccessful = 60)
  }

}
