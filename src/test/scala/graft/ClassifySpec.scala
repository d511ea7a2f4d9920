package graft

import graft.functions.Classify
import org.apache.spark.sql.functions._

class ClassifySpec extends SparkSpec {
  import spark.implicits._

  // Tiny two-class corpus with clearly separated vocabularies plus one
  // ambiguous and one empty document.
  private def corpus = Seq(
    (1L, "the cat sat on the mat", "en"),
    (2L, "the dog ate the cat food", "en"),
    (3L, "a cat and a dog", "en"),
    (4L, "der hund und die katze", "de"),
    (5L, "die katze sitzt auf der matte", "de"),
    (6L, "der hund frisst", "de"),
    (7L, "cat katze", "en"),
    (8L, "", "de")
  ).toDF("id", "text", "label")

  test("predicts the training label on separable vocabulary") {
    val docs = corpus
    val model = Classify.trainNaiveBayes(docs, "id", "text", "label")
    val pred = Classify.predictNaiveBayes(docs, "id", "text", model)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // cleanly separated docs recover their labels
    Seq(1L, 2L, 3L).foreach(id => assert(pred(id) == "en", s"doc $id"))
    Seq(4L, 5L, 6L).foreach(id => assert(pred(id) == "de", s"doc $id"))
  }

  test("empty document scores on priors alone; equal priors tiebreak by label") {
    val docs = corpus
    val model = Classify.trainNaiveBayes(docs, "id", "text", "label")
    val scores = Classify.scoreNaiveBayes(docs, "id", "text", model)
      .where(col("id") === 8L)
      .collect().map(r => r.getString(1) -> r.getDouble(2)).toMap
    // dl = 0: score is exactly the log prior (4 docs each of 8)
    assert(math.abs(scores("en") - math.log(0.5)) < 1e-12)
    assert(math.abs(scores("de") - math.log(0.5)) < 1e-12)
    val pred = Classify.predictNaiveBayes(docs, "id", "text", model)
      .where(col("id") === 8L).collect().head.getString(1)
    assert(pred == "de") // label-ascending tiebreak
  }

  test("score matches the textbook formula computed by hand") {
    val docs = Seq(
      (1L, "a a b", "x"),
      (2L, "b c", "y")
    ).toDF("id", "text", "label")
    val model = Classify.trainNaiveBayes(docs, "id", "text", "label")
    val scores = Classify.scoreNaiveBayes(docs, "id", "text", model)
      .where(col("id") === 1L)
      .collect().map(r => r.getString(1) -> r.getDouble(2)).toMap
    // vocab = {a, b, c} -> V = 3, alpha = 1
    // class x: prior 1/2, tok_c = 3; p(a|x) = (2+1)/(3+3), p(b|x) = (1+1)/6
    val expX = math.log(0.5) + 2 * math.log(3.0 / 6) + math.log(2.0 / 6)
    // class y: prior 1/2, tok_c = 2; p(a|y) = 1/5, p(b|y) = 2/5
    val expY = math.log(0.5) + 2 * math.log(1.0 / 5) + math.log(2.0 / 5)
    assert(math.abs(scores("x") - expX) < 1e-9, s"x: ${scores("x")} vs $expX")
    assert(math.abs(scores("y") - expY) < 1e-9, s"y: ${scores("y")} vs $expY")
  }

  test("feature hashing with ample buckets reproduces exact predictions") {
    val docs = corpus
    val exact = Classify.predictNaiveBayes(docs, "id", "text",
      Classify.trainNaiveBayes(docs, "id", "text", "label"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // 1 << 20 buckets >> ~20 distinct terms: collisions (if any) are
    // vanishingly unlikely to flip a clearly separated prediction;
    // the model carries its own feature space — no score-side knob
    val hashed = Classify.predictNaiveBayes(docs, "id", "text",
      Classify.trainNaiveBayes(docs, "id", "text", "label",
        featureHash = Some(1 << 20)))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(hashed == exact)
  }

  test("hashed model bounds vocabulary at the bucket count") {
    val docs = (1 to 50).map(i =>
      (i.toLong, (1 to 20).map(j => s"tok_${i}_$j").mkString(" "),
        if (i % 2 == 0) "a" else "b")).toDF("id", "text", "label")
    val model = Classify.trainNaiveBayes(docs, "id", "text", "label",
      featureHash = Some(16))
    // 1000 distinct raw tokens collapse into <= 16 buckets per class
    val vocab = model.stats.collect().head.getAs[Long]("vocab")
    assert(vocab <= 16, s"vocab $vocab")
    assert(model.termCond.count() <= 32)
  }

  test("model round-trips through parquet: frames ARE the serialization") {
    val docs = corpus
    val m = Classify.trainNaiveBayes(docs, "id", "text", "label")
    val dir = tmpDir("nbmodel")
    m.classStats.write.mode("overwrite").parquet(s"$dir/cls")
    m.termCond.write.mode("overwrite").parquet(s"$dir/tc")
    m.stats.write.mode("overwrite").parquet(s"$dir/st")
    val m2 = Classify.NbModel(spark.read.parquet(s"$dir/cls"),
      spark.read.parquet(s"$dir/tc"), spark.read.parquet(s"$dir/st"),
      featureHash = None)
    val live = Classify.predictNaiveBayes(docs, "id", "text", m)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .toSet
    val loaded = Classify.predictNaiveBayes(docs, "id", "text", m2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .toSet
    assert(loaded == live)
  }

  test("null text behaves like an empty document (priors only)") {
    val docs = Seq((1L, "a b", "x"), (2L, null.asInstanceOf[String], "y"))
      .toDF("id", "text", "label")
    val model = Classify.trainNaiveBayes(docs, "id", "text", "label")
    // doc 2 trains as dl = 0 (tok_c for y is 0, not null)
    val tokC = model.classStats.collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(tokC("y") == 0L)
    // and scores on priors alone — ln(1/2) for both classes, never null
    val s2 = Classify.scoreNaiveBayes(docs, "id", "text", model)
      .where(col("id") === 2L)
      .collect().map(r => r.getString(1) -> r.getDouble(2)).toMap
    assert(math.abs(s2("x") - math.log(0.5)) < 1e-12)
    assert(math.abs(s2("y") - math.log(0.5)) < 1e-12)
  }

  test("null labels are rejected at train time") {
    val docs = Seq((1L, "a b", "x"), (2L, "c", null))
      .toDF("id", "text", "label")
    val ex = intercept[Exception] {
      Classify.trainNaiveBayes(docs, "id", "text", "label")
        .classStats.collect()
    }
    // pin the raise_error path, not just "some exception happened"
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("null label for 2")),
      s"got: ${messages(ex).mkString(" | ")}")
  }
}
