package graft

import org.apache.spark.sql.functions._

import graft.operators.{Sampling, Similarity, Skew}
import graft.plans.{Mojibake, NativeFunctions}

/** Round-8 additions: bloom-gated join reduction, deterministic
  * training shuffle / source interleave, k-NN label propagation,
  * mojibake repair. */
class Round8OpsSpec extends SparkSpec {
  import spark.implicits._

  test("mojibake repair: single, double, and identity cases") {
    assert(Mojibake.repair("cafÃ©") == "café")
    assert(Mojibake.repair("naÃ¯ve donâ€™t") == "naïve don’t")
    assert(Mojibake.repair("Â°C and Â£5") == "°C and £5")
    // four-byte sequence (emoji) through the cp1252 glyph block
    assert(Mojibake.repair("ðŸ˜€ ok") == "😀 ok")
    // double encoding unwinds over two passes
    assert(Mojibake.repair("cafÃƒÂ©") == "café")
    // clean ASCII is identity (and allocation-free by construction)
    assert(Mojibake.repair("clean ascii text") == "clean ascii text")
    // legitimate non-ASCII: 'á' IS a UTF-8 lead byte under cp1252,
    // but its neighbors fail the continuation window — untouched
    assert(Mojibake.repair("já correct é") == "já correct é")
    // overlong/surrogate guards, exercising each lead-specific
    // continuation window (NOT just the length/generic-range
    // short-circuits): C0/C1 leads invalid outright; E0 requires
    // A0-BF (E0 80 80 would be overlong); ED excludes A0-BF
    // (surrogates) but admits 9F (U+D7C0, just below them); F4 caps
    // the second byte at 8F (U+10FFFF is the last valid codepoint)
    assert(Mojibake.repair("\u00C0\u00AF") == "\u00C0\u00AF") // C0 lead: seqLen 0
    assert(Mojibake.repair("\u00E0\u00A0\u20AC") == "\u0800") // E0 A0 80 valid
    assert(Mojibake.repair("\u00E0\u20AC\u20AC") == "\u00E0\u20AC\u20AC") // E0 80 80 overlong
    assert(Mojibake.repair("\u00ED\u00A0\u20AC") == "\u00ED\u00A0\u20AC") // ED A0 80 = D800
    assert(Mojibake.repair("\u00ED\u009F\u20AC") == "\uD7C0") // ED 9F 80 valid
    assert(Mojibake.repair("\u00F4\u008F\u00BF\u00BF") == "\uDBFF\uDFFF") // F4 8F BF BF = U+10FFFF
    assert(Mojibake.repair("\u00F4\u00BF\u00BF\u00BF") == "\u00F4\u00BF\u00BF\u00BF") // F4 BF: above 10FFFF
  }

  test("mojibake expression runs under whole-stage codegen") {
    val out = Seq("cafÃ©", "plain", null)
      .toDF("t")
      .select(NativeFunctions.fixMojibakeNative(col("t")).as("f"))
      .collect().map(r => Option(r.getString(0)))
    assert(out.toSeq == Seq(Some("café"), Some("plain"), None))
  }

  test("bloomGatedJoin equals the plain join") {
    val big = (1L to 5000L).map(i => (i % 400, i)).toDF("k", "v")
    val small = (0L until 400L).filter(_ % 13 == 0)
      .map(k => (k, s"d$k")).toDF("k", "name")
    val gated = Skew.bloomGatedJoin(big, small, Seq("k"))
      .select("k", "v", "name").as[(Long, Long, String)].collect().toSet
    val plain = big.join(small, Seq("k"))
      .select("k", "v", "name").as[(Long, Long, String)].collect().toSet
    assert(gated == plain && gated.nonEmpty)
  }

  test("bloomGatedJoin: empty small side and unsafe join types") {
    val big = (1L to 100L).map(i => (i, i)).toDF("k", "v")
    val empty = Seq.empty[(Long, String)].toDF("k", "name")
    assert(Skew.bloomGatedJoin(big, empty, Seq("k")).count() == 0)
    intercept[IllegalArgumentException] {
      Skew.bloomGatedJoin(big, empty, Seq("k"), joinType = "left")
    }
    intercept[IllegalArgumentException] {
      Skew.bloomGatedJoin(big, empty, Seq("k"), joinType = "left_anti")
    }
  }

  test("deterministicShuffle: contiguous per-shard positions, " +
      "layout-independent") {
    val df = (1L to 500L).toDF("id")
    val out = Sampling.deterministicShuffle(df, "id", shards = 4, salt = "s")
      .select("id", "shard", "pos")
      .as[(Long, Int, Int)].collect()
    assert(out.length == 500 && out.map(_._1).distinct.length == 500)
    out.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length))
    }
    // same (shard, pos) regardless of input partitioning
    val re = Sampling.deterministicShuffle(
        df.repartition(7), "id", shards = 4, salt = "s")
      .select("id", "shard", "pos").as[(Long, Int, Int)].collect()
    assert(re.sortBy(_._1).toSeq == out.sortBy(_._1).toSeq)
    intercept[IllegalArgumentException] {
      Sampling.deterministicShuffle(df, "id", shards = 5)
    }
  }

  test("hashSampleN: exactly n, layout-stable, TakeOrdered plan") {
    val df = (1L to 1000L).toDF("id")
    val a = Sampling.hashSampleN(df, "id", 50, "s")
      .as[Long].collect().toSet
    val b = Sampling.hashSampleN(df.repartition(13), "id", 50, "s")
      .as[Long].collect().toSet
    assert(a.size == 50 && a == b)
    val plan = Sampling.hashSampleN(df, "id", 50, "s")
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
    // n larger than the input returns everything
    assert(Sampling.hashSampleN(df, "id", 5000).count() == 1000)
  }

  test("interleaveBySource: batch b holds the b-th doc of each source") {
    val df = (1L to 90L).map(i => (i, s"src${i % 3}")).toDF("id", "src")
    val out = Sampling.interleaveBySource(df, "src", "id", salt = "x")
      .select("src", "batch").as[(String, Long)].collect()
    out.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (0L until 30L))
    }
  }

  test("schemaContract: ok / drift / missing / extra statuses") {
    val df = Seq((1L, "a", 2)).toDF("id", "name", "cnt")
    val out = graft.operators.Profile.schemaContract(df,
        Seq("id" -> "bigint", "cnt" -> "bigint", "added" -> "string"))
      .as[(String, String, String, String)].collect().toSeq
    assert(out == Seq(
      ("id", "bigint", "bigint", "ok"),
      ("cnt", "bigint", "int", "type_drift"),
      ("added", "string", null, "missing"),
      ("name", null, "string", "extra")))
    // case-insensitive resolution, contract name reported as declared
    val ci = graft.operators.Profile.schemaContract(df,
        Seq("ID" -> "bigint")).select("status").as[String].collect()
    assert(ci.head == "ok")
    // case-duplicate actual columns (legal under caseSensitive=true):
    // exact name wins, the unconsumed sibling surfaces as extra; with
    // no exact match the diff says ambiguous instead of picking one
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("Id",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.StringType)))
    val dup = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    val out1 = graft.operators.Profile.schemaContract(dup,
        Seq("id" -> "int"))
      .as[(String, String, String, String)].collect().toSeq
    assert(out1 == Seq(("id", "int", "string", "type_drift"),
      ("Id", null, "int", "extra")))
    val out2 = graft.operators.Profile.schemaContract(dup,
        Seq("ID" -> "int"))
      .as[(String, String, String, String)].collect().toSeq
    assert(out2 == Seq(("ID", "int", null, "ambiguous"),
      ("Id", null, "int", "extra"), ("id", null, "string", "extra")))
  }

  test("schemaContract: exact matches resolve before any ci fallback") {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ID",
        org.apache.spark.sql.types.StringType)))
    val df = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    // the first row's ci fallback must NOT steal 'ID' from the second
    // row's exact match
    val out = graft.operators.Profile.schemaContract(df,
        Seq("id" -> "int", "ID" -> "string"))
      .as[(String, String, String, String)].collect().toSeq
    assert(out == Seq(("id", "int", null, "missing"),
      ("ID", "string", "string", "ok")))
  }

  test("meanPool keeps groups whose vectors are all null/empty") {
    val df = Seq((1, Seq(1.0f, 3.0f)), (1, Seq(3.0f, 5.0f)),
        (2, Seq.empty[Float]), (3, null: Seq[Float]))
      .toDF("g", "v")
    val out = graft.operators.Embeddings.meanPool(df, "g", "v")
      .select("g", "n").as[(Int, Long)].collect().toMap
    assert(out == Map(1 -> 2L, 2 -> 0L, 3 -> 0L))
  }

  test("bloomGatedJoin rejects mismatched key types") {
    val big = (1L to 10L).map(i => (i, i)).toDF("k", "v")
    val small = Seq((1, "a")).toDF("k", "name") // k: INT vs big's BIGINT
    val e = intercept[IllegalArgumentException] {
      Skew.bloomGatedJoin(big, small, Seq("k"))
    }
    assert(e.getMessage.contains("types differ"))
  }

  test("packedText: offset-ordered assembly, count per sequence") {
    val packed = Seq(
      (0L, 0L, "first"), (0L, 5L, "second"), (0L, 11L, "third"),
      (1L, 0L, "solo")).toDF("seq_id", "seq_offset", "text")
    val out = graft.operators.Pack.packedText(packed, "text", sep = " ")
      .select("seq_id", "n_docs", "text")
      .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(out == Seq((0L, 3L, "first second third"), (1L, 1L, "solo")))
  }

  test("knnLabel: planted neighborhoods vote their label") {
    // labeled: 6 copies of vector A (label 1), 6 of vector B (label 2);
    // unlabeled u1 == A must take label 1 with 5/5 votes, u2 == B → 2
    val a = Seq(1.0f, 0.0f, 0.0f)
    val b = Seq(0.0f, 1.0f, 0.0f)
    val labeled = ((1L to 6L).map(i => (i, a, 1)) ++
      (7L to 12L).map(i => (i, b, 2))).toDF("nid", "nv", "label")
    val unlabeled = Seq((101L, a), (102L, b)).toDF("id", "v")
    val out = Similarity.knnLabel(unlabeled, labeled,
        "id", "v", "nid", "nv", "label", k = 5)
      .select("id", "label").as[(Long, Int)].collect().toMap
    val votes = Similarity.knnLabel(unlabeled, labeled,
        "id", "v", "nid", "nv", "label", k = 5)
      .select("id", "votes").as[(Long, Long)].collect().toMap
    assert(out == Map(101L -> 1, 102L -> 2))
    assert(votes == Map(101L -> 5L, 102L -> 5L))
  }

  test("knnLabelBucketed: agrees on planted neighborhoods, labeled " +
    "side never broadcast") {
    val a = Seq(1.0f, 0.0f, 0.0f)
    val b = Seq(0.0f, 1.0f, 0.0f)
    val labeled = ((1L to 6L).map(i => (i, a, 1)) ++
      (7L to 12L).map(i => (i, b, 2))).toDF("nid", "nv", "label")
    val unlabeled = Seq((101L, a), (102L, b)).toDF("id", "v")
    // planes = 1: two buckets, and identical vectors always share one
    val res = Similarity.knnLabelBucketed(unlabeled, labeled,
      "id", "v", "nid", "nv", "label", k = 5, planes = 1)
    val out = res.select("id", "label").as[(Long, Int)].collect().toMap
    assert(out == Map(101L -> 1, 102L -> 2))
    // the point of the variant: the labeled side must come in through
    // a shuffle, not a broadcast — even when it is tiny
    val plan = res.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastHashJoin"),
      s"labeled side was broadcast:\n$plan")
    assert(plan.contains("ShuffledHashJoin"),
      s"expected a shuffled hash join on the bucket key:\n$plan")
  }

  test("knnLabel: count ties break toward the smaller label") {
    // two labeled vectors equally close, different labels → k=2 splits
    // 1-1; the smaller label wins deterministically
    val u = Seq((1L, Seq(1.0f, 0.0f))).toDF("id", "v")
    val lab = Seq((10L, Seq(1.0f, 0.1f), 7), (11L, Seq(1.0f, -0.1f), 3))
      .toDF("nid", "nv", "label")
    val out = Similarity.knnLabel(u, lab, "id", "v", "nid", "nv",
        "label", k = 2)
      .select("label").as[Int].collect().toSeq
    assert(out == Seq(3))
  }

  test("exactTopK ranks by cosine with id tiebreak; recallAtK counts " +
      "set overlap per query, missing queries score 0") {
    val corpus = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)),
      (3L, Seq(0.0f, 1.0f)), (4L, Seq(1.0f, 0.0f))).toDF("id", "v")
    val q = Seq((100L, Seq(1.0f, 0.0f))).toDF("qid", "qv")
    val exact = Similarity.exactTopK(corpus, q, "id", "v", "qid", "qv",
      k = 3)
    val got = exact.orderBy(col("rank")).collect()
      .map(r => (r.getLong(1), r.getInt(3)))
    // cosine 1.0 for ids 1 and 4 (tie → id order), then 2, never 3
    assert(got.toSeq == Seq((1L, 1), (4L, 2), (2L, 3)))
    // approx found {1, 2} of exact {1, 4, 2} → recall 2/3; a query
    // with NO approx rows at all scores 0, not a dropped row
    val approx = Seq((100L, 1L), (100L, 2L)).toDF("qid", "id")
    val exact2 = exact.select(col("qid"), col("id"))
      .unionByName(Seq((200L, 9L)).toDF("qid", "id"))
    val rec = Similarity.recallAtK(approx, exact2, "qid", "id", 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(math.abs(rec(100L) - 2.0 / 3) < 1e-9)
    assert(rec(200L) == 0.0)
  }
}
