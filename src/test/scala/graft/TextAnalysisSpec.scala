package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis
import graft.operators.Similarity

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  /** The Gopher rule set as interpreted HOF lambdas — the reference
    * `gopherSignals`'s kernel ([[graft.plans.GopherSignalsExpr]]) must
    * match on every output column (`maxWords` at the operator's
    * default, 100000). */
  private def gopherReference(docs: DataFrame, idCol: String,
      textCol: String, minWords: Int,
      functionWords: Seq[String] = TextAnalysis.gopherStopwords)
      : DataFrame = {
    import TextAnalysis.tokens
    val t = col(textCol)
    val toks = tokens(t)
    val nWords = size(toks)
    val mwl = when(nWords === 0, lit(0.0)).otherwise(
      aggregate(toks, lit(0), (a, x) => a + length(x)).cast("double") /
        nWords)
    // non-overlapping counts, same semantics as DuckDB regexp_extract_all
    val hashes = regexp_count(t, lit("#")).cast("double")
    val ellipses = (regexp_count(t, lit("\\.\\.\\.")) +
      regexp_count(t, lit("…"))).cast("double")
    val hashRatio = when(nWords === 0, lit(0.0)).otherwise(hashes / nWords)
    val ellipsisRatio =
      when(nWords === 0, lit(0.0)).otherwise(ellipses / nWords)
    val alphaWords = size(filter(toks, w => w.rlike("\\p{L}")))
    val alphaFrac = when(nWords === 0, lit(0.0)).otherwise(
      alphaWords.cast("double") / nWords)
    // line tier: bullet-START and ellipsis-END fractions over \r?\n
    // lines (CRLF-safe: a bare-\n split leaves '...\r' endings that the
    // ellipsis anchor would miss)
    val lines = filter(split(t, "\r?\n"), l => length(trim(l)) > 0)
    val nLines = size(lines)
    // common bullet glyphs plus bare '-'/'*' lines, per the Gopher rule
    val bulletFrac = when(nLines === 0, lit(0.0)).otherwise(
      size(filter(lines, l => trim(l).rlike("^([•‣◦·–]|[-*]( |$))")))
        .cast("double") / nLines)
    val ellEndFrac = when(nLines === 0, lit(0.0)).otherwise(
      size(filter(lines, l => trim(l).rlike("(\\.\\.\\.|…)$")))
        .cast("double") / nLines)
    // strip edge punctuation/symbols before the function-word check so
    // 'the,' / '(with' still count as stopword hits
    val stopHits = size(array_intersect(
      array_distinct(transform(tokens(lower(t)),
        w => regexp_replace(w, "^[\\p{P}\\p{S}]+|[\\p{P}\\p{S}]+$", ""))),
      typedlit(functionWords)))
    docs.select(col(idCol),
      nWords.cast("long").as("n_words"),
      round(mwl, 4).as("mean_word_len"),
      round(hashRatio, 4).as("hash_ratio"),
      round(ellipsisRatio, 4).as("ellipsis_ratio"),
      round(alphaFrac, 4).as("alpha_word_frac"),
      round(bulletFrac, 4).as("bullet_line_frac"),
      round(ellEndFrac, 4).as("ellipsis_line_frac"),
      stopHits.cast("long").as("stop_hits"),
      (nWords.between(minWords, 100000) &&
        mwl.between(3.0, 10.0) &&
        hashRatio <= 0.1 && ellipsisRatio <= 0.1 &&
        bulletFrac <= 0.9 && ellEndFrac <= 0.3 &&
        alphaFrac >= 0.8 && stopHits >= 2).cast("int").as("keep"))
  }

  test("tokenCount: whitespace runs, trims, empty text") {
    val got = Seq("a b  c", "  x ", "", "one").toDF("t")
      .select(TextAnalysis.tokenCount(col("t"))).as[Int].collect().toSeq
    assert(got == Seq(3, 1, 0, 1))
  }

  test("langId picks the dominant stopword profile") {
    val got = Seq(
      "the cat sat on the mat and it was happy with this",
      "der Hund ist nicht auf der Straße und das ist gut",
      "le chat est dans la maison avec les enfants pour une journée",
      "el perro es un animal que vive en la casa con su familia",
      "zzz qqq xxx www").toDF("t")
      .select(TextAnalysis.langId(col("t"))).as[String].collect().toSeq
    assert(got == Seq("en", "de", "fr", "es", "und"))
  }

  test("qualityScore in [0,1]; garbage scores below clean prose") {
    val rows = Seq(
      ("clean", "the quick brown fox jumps over the lazy dog and then " +
        "it runs into the forest to find some food for the winter"),
      ("garbage", "@@@@ #### !!!! %%%% ^^^^ &&&& **** (((( ))))")).toDF("k", "t")
      .select(col("k"), TextAnalysis.qualityScore(col("t")).as("q"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rows.values.forall(v => v >= 0.0 && v <= 1.0))
    assert(rows("clean") > rows("garbage") + 0.3)
  }

  test("fingerprint invariant to case and whitespace runs") {
    val fps = Seq("Hello  World", "hello world", "different thing").toDF("t")
      .select(TextAnalysis.fingerprint(col("t"))).as[Long].collect()
    assert(fps(0) == fps(1))
    assert(fps(0) != fps(2))
  }

  test("rollingFingerprint stable under a late-document edit") {
    val s = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val fps = Seq(s, s + " omega", "unrelated words entirely here now").toDF("t")
      .select(TextAnalysis.rollingFingerprint(col("t"))).as[Long].collect()
    assert(fps(0) == fps(1)) // min-shingle-hash usually survives suffix edit
    assert(fps(0) != fps(2))
  }

  test("subwordCountEstimate >= word count, grows with long words") {
    val got = Seq("short words here", "antidisestablishmentarianism").toDF("t")
      .select(TextAnalysis.subwordCountEstimate(col("t"))).as[Int].collect()
    assert(got(0) == 3)
    assert(got(1) >= 4) // 28-char word fragments
  }

  test("stopwordRatio exact arithmetic") {
    val got = Seq("the dog and the cat").toDF("t")
      .select(TextAnalysis.stopwordRatio(col("t"))).as[Double].collect()(0)
    assert(math.abs(got - 3.0 / 5.0) < 1e-12) // the, and, the
  }

  test("tfidfTopTerms: corpus-distinctive terms rank first") {
    val docs = Seq(
      (1L, "spark spark spark common word"),
      (2L, "duck duck common word"),
      (3L, "common word only here")).toDF("doc_id", "text")
    val got = TextAnalysis.tfidfTopTerms(docs, "doc_id", "text", k = 1)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // "common"/"word" appear everywhere (low idf); the doc-specific
    // terms must win
    assert(got == Map(1L -> "spark", 2L -> "duck", 3L -> "here") ||
      got(1L) == "spark" && got(2L) == "duck")
    // hand-check doc 1's score: tf=3, df=1, n=3 → 3·ln(4/2)
    val s = TextAnalysis.tfidfTopTerms(docs, "doc_id", "text", k = 1)
      .where(col("doc_id") === 1L).collect()(0).getDouble(2)
    assert(math.abs(s - math.rint(3 * math.log(2.0) * 10000) / 10000) < 1e-9)
  }

  test("brute-force topK returns self first for an exact query vector") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)),
      (2L, Seq(0.9f, 0.1f, 0.0f)),
      (3L, Seq(0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
      Seq(1.0f, 0.0f, 0.0f), 2).collect()
    assert(top(0).getLong(0) == 1L && top(0).getDouble(1) == 1.0)
    assert(top(1).getLong(0) == 2L)
  }

  test("ivfTopK finds the planted neighbor; probes fraction of cells") {
    val corpus = (0 until 200).map(i =>
      (i.toLong, Seq.tabulate(8)(j => math.sin(i * 8 + j).toFloat)))
      .toDF("vec_id", "embedding")
    val queries = Seq(
      (100L, Seq.tabulate(8)(j => math.sin(42 * 8 + j).toFloat)))
      .toDF("query_id", "qv") // identical to corpus vec 42
    val got = Similarity.ivfTopK(corpus, queries, "vec_id", "embedding",
      "query_id", "qv", k = 3, nlist = 8, nprobe = 3).collect()
    assert(got.nonEmpty)
    assert(got(0).getLong(1) == 42L && got(0).getDouble(2) == 1.0)
  }

  test("hardNegatives: same-label items never appear, ranks are dense") {
    val corpus = (0 until 100).map(i =>
      (i.toLong, Seq.tabulate(8)(j => math.sin(i * 8 + j).toFloat),
        (i % 3)))
      .toDF("vec_id", "embedding", "label")
    val anchors = corpus.where($"vec_id" < 4)
      .select($"vec_id".as("anchor_id"), $"embedding".as("av"),
        $"label".as("albl"))
    val got = Similarity.hardNegatives(corpus, anchors,
      "vec_id", "embedding", "label", "anchor_id", "av", "albl", k = 5)
      .collect()
    assert(got.length == 20) // 4 anchors x 5 negatives
    val labelOf = (0 until 100).map(i => i.toLong -> (i % 3)).toMap
    got.foreach { r =>
      val anchor = r.getLong(0)
      assert(r.getInt(2) != labelOf(anchor),
        s"anchor $anchor got same-label negative ${r.getLong(1)}")
      assert(r.getInt(2) == labelOf(r.getLong(1)))
    }
    // top negative for an anchor identical to a wrong-label vector is
    // that vector at cosine 1.0: anchor 0 (label 0) vs planted copy
    val planted = corpus.unionByName(Seq(
      (500L, Seq.tabulate(8)(j => math.sin(0 * 8 + j).toFloat), 1))
      .toDF("vec_id", "embedding", "label"))
    val top = Similarity.hardNegatives(planted,
      anchors.where($"anchor_id" === 0),
      "vec_id", "embedding", "label", "anchor_id", "av", "albl", k = 1)
      .collect()(0)
    assert(top.getLong(1) == 500L && top.getDouble(3) == 1.0)
  }

  test("recallAtK: exact-vs-exact is 1.0; approx recall in [0,1]") {
    val corpus = (0 until 100).map(i =>
      (i.toLong, Seq.tabulate(8)(j => math.sin(i * 8 + j).toFloat)))
      .toDF("vec_id", "embedding")
    val queries = (0 until 5).map(i =>
      (1000L + i, Seq.tabulate(8)(j => math.sin(i * 17 * 8 + j).toFloat)))
      .toDF("query_id", "qv")
    val exact = Similarity.topKPerQuery(corpus, queries,
      "vec_id", "embedding", "query_id", "qv", 5)
    assert(Similarity.recallAtK(exact, exact, "query_id", "vec_id") == 1.0)
    val ivf = Similarity.ivfTopK(corpus, queries, "vec_id", "embedding",
      "query_id", "qv", k = 5, nlist = 4, nprobe = 2)
    val r = Similarity.recallAtK(ivf, exact, "query_id", "vec_id")
    assert(r >= 0.0 && r <= 1.0)
    assert(r > 0.2) // nprobe/nlist = half the cells → decent recall
  }

  test("lshTopK finds the planted neighbor (recall sanity)") {
    val corpus = (0 until 50).map(i =>
      (i.toLong, Seq.tabulate(8)(j => math.sin(i * 8 + j).toFloat)))
      .toDF("vec_id", "embedding")
    val queries = Seq((100L, Seq.tabulate(8)(j => math.sin(7 * 8 + j).toFloat)))
      .toDF("query_id", "qv") // identical to corpus vec 7
    val got = Similarity.lshTopK(corpus, queries, "vec_id", "embedding",
      "query_id", "qv", k = 3, planes = 4).collect()
    assert(got.nonEmpty)
    assert(got(0).getLong(1) == 7L) // rank 1 = exact match
  }

  test("ivfpqTopK ≡ exact top-k when nothing is pruned (nprobe=nlist, " +
      "shortlist ≥ corpus)") {
    val corpus = (0 until 80).map(i =>
      (i.toLong, Seq.tabulate(8)(j => math.sin(i * 8 + j).toFloat)))
      .toDF("vec_id", "embedding")
    val queries = (0 until 3).map(i =>
      (1000L + i, Seq.tabulate(8)(j => math.sin(i * 13 * 8 + j).toFloat)))
      .toDF("query_id", "qv")
    // with every cell probed and the shortlist covering the whole
    // corpus, the exact-cosine rerank sees every candidate — the PQ
    // stage can only reorder the shortlist, not drop anyone, so the
    // result must equal the exact baseline exactly
    val exact = Similarity.topKPerQuery(corpus, queries,
      "vec_id", "embedding", "query_id", "qv", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    val pq = Similarity.ivfpqTopK(corpus, queries, "vec_id", "embedding",
      "query_id", "qv", k = 5, nlist = 4, nprobe = 4, m = 4, ksub = 8,
      shortlist = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    assert(pq == exact)
  }

  test("ivfpqTopK finds the planted self-match through real pruning") {
    val corpus = (0 until 200).map(i =>
      (i.toLong, Seq.tabulate(8)(j => math.sin(i * 8 + j).toFloat)))
      .toDF("vec_id", "embedding")
    val queries = Seq(
      (100L, Seq.tabulate(8)(j => math.sin(42 * 8 + j).toFloat)))
      .toDF("query_id", "qv") // identical to corpus vec 42
    val got = Similarity.ivfpqTopK(corpus, queries, "vec_id", "embedding",
      "query_id", "qv", k = 3, nlist = 8, nprobe = 3, m = 4, ksub = 8,
      shortlist = 16).collect()
    assert(got.nonEmpty)
    assert(got(0).getLong(1) == 42L && got(0).getDouble(2) == 1.0)
  }

  test("ivfpq index frame carries codes only — no vector column") {
    val corpus = (0 until 60).map(i =>
      (i.toLong, Seq.tabulate(8)(j => math.sin(i * 8 + j).toFloat)))
      .toDF("vec_id", "embedding")
    val (coarse, books, index) = Similarity.ivfpqIndex(corpus,
      "vec_id", "embedding", nlist = 4, m = 4, ksub = 8)
    assert(coarse.nonEmpty && books.length == 4)
    assert(index.columns.toSeq == Seq("__id", "cell", "codes"))
    val row = index.collect()(0)
    assert(row.getSeq[Int](2).length == 4) // m codes per row, no floats
    // recall through the pruned path stays useful
    val queries = (0 until 5).map(i =>
      (1000L + i, Seq.tabulate(8)(j => math.sin(i * 17 * 8 + j).toFloat)))
      .toDF("query_id", "qv")
    val exact = Similarity.topKPerQuery(corpus, queries,
      "vec_id", "embedding", "query_id", "qv", 5)
    val pq = Similarity.ivfpqSearch(index, coarse, books, corpus, queries,
      "vec_id", "embedding", "query_id", "qv", k = 5, nprobe = 2,
      shortlist = 16)
    val r = Similarity.recallAtK(pq, exact, "query_id", "vec_id")
    assert(r > 0.2, s"ivfpq recall $r")
  }

  test("gopherSignals: rule arithmetic and keep decision") {
    val rows = Seq(
      // clean prose: all eight stopwords present, keeps
      (1L, "the words to be written of and that have with more body " +
        "here so the word count clears the minimum bar easily today"),
      // bullet-heavy: 4 of 5 lines bullet-started (incl. bare '-')
      (2L, "the of and that have with to be\n• a\n- b\n* c\n-"),
      // ellipsis line endings and ellipsis symbol ratio
      (3L, "the of and to be that have with\nwait...\nmore…"),
      // tab-leading text + punctuation-adjacent stopwords still count
      (4L, "\tthe, (of) [and] {that}! have. with? to; be:"),
      // hash spam fails the symbol-ratio rule
      (5L, "the of and to be that have with # # # # # # #")).toDF("id", "t")
    val got = TextAnalysis.gopherSignals(rows, "id", "t", minWords = 8)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got(1).getAs[Int]("keep") == 1)
    assert(got(1).getAs[Long]("stop_hits") == 8)
    // doc 2: 5 lines, 4 bullets
    assert(got(2).getAs[Double]("bullet_line_frac") == 0.8)
    // doc 3: 3 lines, 2 ellipsis-ended; ellipsis_ratio = 2/10 > 0.1
    assert(got(3).getAs[Double]("ellipsis_line_frac") == 0.6667)
    assert(got(3).getAs[Int]("keep") == 0)
    // doc 4: tab edge must NOT create an empty token; punct-adjacent
    // stopwords all counted
    assert(got(4).getAs[Long]("n_words") == 8)
    assert(got(4).getAs[Long]("stop_hits") == 8)
    // doc 5: 7 hashes / 15 words > 0.1 → rejected
    assert(got(5).getAs[Double]("hash_ratio") > 0.1)
    assert(got(5).getAs[Int]("keep") == 0)
  }

  test("gopherSignals: CRLF lines and '...\\r' endings handled") {
    val rows = Seq((1L, "to be continued...\r\nthe of and that have " +
      "with plain\r\n")).toDF("id", "t")
    val r = TextAnalysis.gopherSignals(rows, "id", "t", minWords = 3)
      .collect().head
    // 2 non-empty lines after \r?\n split; first ends in '...'
    assert(r.getAs[Double]("ellipsis_line_frac") == 0.5)
  }

  test("normalizeForDedupFolded collapses composed/decomposed/" +
      "accentless; plain normalizeForDedup keeps accentless apart") {
    val rows = Seq(
      "Café piñata Résumé No. 3", // composed
      "Cafe\u0301 pin\u0303ata Re\u0301sume\u0301 no 7", // decomposed
      "CAFE PINATA RESUME NO 9", // accentless re-typing
      "cafe pinatas resume no 1") // a DIFFERENT word must not merge
      .toDF("t")
      .select(TextAnalysis.normalizeForDedupFolded(col("t")).as("f"),
        TextAnalysis.normalizeForDedup(col("t")).as("p"))
      .collect()
    val folded = rows.map(_.getString(0))
    val plain = rows.map(_.getString(1))
    assert(folded(0) == "cafe pinata resume no 0")
    assert(folded(0) == folded(1) && folded(1) == folded(2))
    assert(folded(3) != folded(0))
    // the plain key unifies the two accent ENCODINGS only after NFC —
    // and can never reach the accentless copy
    assert(plain(2) != plain(0))
  }

  test("gopherSignals native ≡ HOF reference on adversarial strings " +
      "(bullets, terminators, supplementary chars, final sigma)") {
    import org.scalacheck.Gen
    val crafted = Seq("", " ", "\t", "the of and",
      "• a\n- b\n-\n* c\n‣ d\n– e\n-x\n- y",
      "wait...\nmore…\nmid...here\nend...\r\nbare...\rtail",
      "\tthe, (of) [and] {that}! have. with? to; be:",
      "## a # b ## c", "😀 emoji 😀😀 token", "ΑΣ ΒΑΣ σίγμα",
      "ab c\fd", "-", "*", "- ", "…", "...", "x…", "línea á é",
      "\r\n\r\n", "one two", "mixed \r bare \r\n crlf \n lf")
    val charGen = Gen.frequency(
      5 -> Gen.choose('a', 'z'),
      2 -> Gen.oneOf(' ', '\t', '\n', '\r'),
      2 -> Gen.oneOf('•', '-', '*', '#', '.', '…', ',', '(', ')'),
      1 -> Gen.oneOf('é', '中', 'Σ', 'の')) // astral chars via crafted 😀
    val strings = crafted ++
      (1 to 250).flatMap(_ => Gen.listOf(charGen).map(_.mkString).sample)
    val df = strings.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "t")
    val nat = TextAnalysis.gopherSignals(df, "id", "t", minWords = 2)
      .collect().map(r => r.getLong(0) -> r.toSeq).toMap
    val hof = gopherReference(df, "id", "t", minWords = 2)
      .collect().map(r => r.getLong(0) -> r.toSeq).toMap
    assert(nat.keySet == hof.keySet)
    nat.keySet.foreach { id =>
      assert(nat(id) == hof(id),
        s"gopher parity split on ${strings(id.toInt).map(_.toInt)}: " +
          s"native=${nat(id)} hof=${hof(id)}")
    }
  }

  test("langIdCharNgram classifies every planted sentence (HOF form)") {
    val plants = RegistryText.langIdPlants
    val got = plants.map(_._2).toDF("t")
      .select(TextAnalysis.langIdCharNgram(col("t")))
      .as[String].collect().toSeq
    assert(got == plants.map(_._1),
      plants.map(_._1).zip(got).filter(p => p._1 != p._2).toString)
  }

  test("langIdNgramNative ≡ HOF form on planted sentences and edges") {
    val texts = RegistryText.langIdPlants.map(_._2) ++
      Seq("", " ", "MiXeD Case THE AND ing", "12345 67")
    val both = texts.toDF("t").select(
      TextAnalysis.langIdCharNgram(col("t")).as("hof"),
      graft.plans.NativeFunctions.langIdNgramNative(col("t")).as("nat"))
      .collect()
    both.foreach(r => assert(r.getString(0) == r.getString(1),
      s"native/HOF divergence: $r"))
  }

  test("normalizeForDedup collapses case/digit/punct variants; " +
    "idempotent; distinct texts stay distinct") {
    val n = TextAnalysis.normalizeForDedup(col("t"))
    val got = Seq(
      "The Cat, sat. On page 3 of 99!",
      "¡THE CAT SAT ON PAGE 7 OF 42…",
      "the   cat\tsat on page 0 of 00",
      "an unrelated document entirely").toDF("t")
      .select(n.as("k")).as[String].collect()
    assert(got(0) == "the cat sat on page 0 of 00")
    assert(got(0) == got(1) && got(1) == got(2))
    assert(got(3) != got(0))
    // digit→0 preserves length: '3' and '10' must NOT collide
    val lens = Seq("page 3", "page 10").toDF("t")
      .select(n.as("k")).as[String].collect()
    assert(lens(0) != lens(1))
    // idempotence: normalizing a normalized key is the identity
    val twice = Seq("  A!  b2c  ").toDF("t")
      .select(n.as("k1"),
        TextAnalysis.normalizeForDedup(n).as("k2")).collect().head
    assert(twice.getString(0) == twice.getString(1))
  }

  test("ivfpqTopK on an empty corpus returns an empty, well-typed frame") {
    val corpus = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    val queries = Seq((1L, Seq.tabulate(8)(_.toFloat)))
      .toDF("query_id", "qv")
    val got = Similarity.ivfpqTopK(corpus, queries, "vec_id", "embedding",
      "query_id", "qv", k = 3)
    assert(got.columns.toSeq ==
      Seq("query_id", "vec_id", "cosine", "rank"))
    assert(got.count() == 0)
  }

  test("stopword profiles are a TABLE swap: loaded table reproduces " +
      "the compiled-in results, and a 6th language needs no recompile") {
    import graft.functions.TextAnalysis
    import spark.implicits._
    val dir = tmpDir() + "/stopwords"
    TextAnalysis.writeStopwordProfiles(spark, TextAnalysis.stopwords, dir)
    val loaded = TextAnalysis.loadStopwordProfiles(spark, dir)
    assert(loaded == TextAnalysis.stopwords)
    val docs = Seq(
      (1L, "the cat sat on the mat and it was happy with this"),
      (2L, "der hund ist ein tier und das ist auch nicht schlimm"),
      (3L, "questa e una frase che parla di cose della vita nella citta"),
      (4L, "")).toDF("doc_id", "text")
    // identical-semantics contract: table-driven == compiled-in
    val a = docs.select(col("doc_id"),
      TextAnalysis.langId(col("text")).as("l"),
      TextAnalysis.qualityScore(col("text")).as("q")).collect().toSeq
    val b = docs.select(col("doc_id"),
      TextAnalysis.langId(col("text"), loaded).as("l"),
      TextAnalysis.qualityScore(col("text"), loaded).as("q"))
      .collect().toSeq
    assert(a == b)
    // the 6th language: Italian words added to the TABLE only
    val widened = TextAnalysis.stopwords +
      ("it" -> Seq("che", "di", "della", "nella", "una", "questa", "e"))
    TextAnalysis.writeStopwordProfiles(spark, widened, dir)
    val table = TextAnalysis.loadStopwordProfiles(spark, dir)
    val langs = docs.select(col("doc_id"),
        TextAnalysis.langId(col("text"), table).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(langs(1L) == "en" && langs(2L) == "de")
    assert(langs(3L) == "it",
      s"widened table must classify Italian, got ${langs(3L)}")
    assert(langs(4L) == "und")
    // duplicate lang rows are rejected, not silently last-wins
    spark.createDataFrame(Seq(("en", Seq("a")), ("en", Seq("b"))))
      .toDF("lang", "words").write.mode("overwrite").parquet(dir)
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.loadStopwordProfiles(spark, dir)
    }
    assert(e.getMessage.contains("duplicate"))
  }

  test("Gopher function words are a TABLE swap: custom list changes " +
      "stop_hits identically through the native and HOF forms") {
    import graft.functions.TextAnalysis
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat and the dog went to be with that other thing " +
        "which have been around for a long while in this place"),
      (2L, "der hund und die katze von dem haus mit der maus sind " +
        "auch nicht immer ganz so wie die anderen tiere im garten"))
      .toDF("doc_id", "text")
    val german = Seq("der", "die", "und", "von", "mit", "auch",
      "nicht", "im")
    def hits(signals: DataFrame): Map[Long, Long] = signals
      .select(col("doc_id"), col("stop_hits"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def native(words: Seq[String]): Map[Long, Long] =
      hits(TextAnalysis.gopherSignals(docs, "doc_id", "text", minWords = 5,
        functionWords = words))
    // default list: the English doc hits, the German one starves
    val defN = native(TextAnalysis.gopherStopwords)
    assert(defN(1L) >= 6 && defN(2L) <= 1, defN.toString)
    // swapped list: the German doc hits — no recompile, same operator
    val deN = native(german)
    val deH = hits(gopherReference(docs, "doc_id", "text", minWords = 5,
      functionWords = german))
    assert(deN == deH, s"native $deN vs HOF $deH with a custom list")
    assert(deN(2L) == 8 && deN(1L) <= 1, deN.toString)
  }
}
