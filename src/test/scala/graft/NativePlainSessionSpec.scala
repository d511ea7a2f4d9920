package graft

import org.apache.spark.sql.{Column, DataFrame, GraftPlainSession, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Bpe, TextAnalysis}
import graft.operators.{Dedup, Frequency, Similarity}
import graft.plans.NativeFunctions._

/**
 * Every `NativeFunctions` Column helper builds its kernel's expression
 * itself, so it resolves on a session that has neither graft's
 * extensions nor a `register` call — a session on the same context
 * built with no extensions — and gives there the rows it gives on the
 * shared session. Graft's operators leave that session's function
 * registry as they found it.
 */
class NativePlainSessionSpec extends SparkSpec {

  private lazy val plain: SparkSession = GraftPlainSession.of(spark)

  /** One partition, so sketch aggregates merge in one order. */
  private def source(s: SparkSession): DataFrame = s.createDataFrame(Seq(
    (1L, "the quick brown fox jumps over the lazy dog",
      "www.shop.Example.co.uk", Seq(1.0, 0.0, 0.5, 0.2), Seq(1L, 3L, 5L),
      Seq(3L, 5L, 7L), 0.1, "café &amp; cafÃ© %7euser",
      "^the.*"),
    (2L, "Hello world, it's rank 42 and the end", "xn--mnchen-3ya.de",
      Seq(0.0, 1.0, 0.0, 0.3), Seq(2L), Seq(2L), 0.4, "naÃ¯ve %41b",
      "rank \\d+"),
    (3L, "der schnelle braune fuchs springt über den hund",
      "München.DE", Seq(0.2, 0.2, 0.9, 0.9), Seq.empty[Long], Seq(9L),
      0.7, "&lt;p&gt; plain", "fuchs"),
    (4L, null, "b.example.com", Seq(0.5, 0.5, 0.5, 0.5), Seq(4L, 8L),
      Seq(8L), 0.9, "", "x"))).toDF("id", "text", "host", "vec", "a", "b",
    "num", "raw", "pat").coalesce(1)

  private val centroids = Seq(Seq(1.0, 0.0, 0.0, 0.0),
    Seq(0.0, 1.0, 0.0, 0.0), Seq(0.0, 0.0, 1.0, 1.0))
  private val codebooks = Seq(Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)),
    Seq(Seq(0.5, 0.5), Seq(0.0, 0.0)))
  private val merges = Bpe.demoMerges
  private val byteMerges = Bpe.demoByteMerges

  private def sel(c: Column): DataFrame => DataFrame = _.select(c.as("r"))
  private def agg(c: Column): DataFrame => DataFrame = _.agg(c.as("r"))
  private def bloom(df: DataFrame): DataFrame =
    df.agg(bloomAggNative(xxhash64(col("text")), 100L, 1024L).as("bf"))
  private def kll(df: DataFrame): DataFrame =
    df.agg(kllAggNative(col("num")).as("k"))
  private def theta(df: DataFrame): DataFrame =
    df.agg(thetaAggNative(col("id")).as("t"))

  /** (helper, query over [[source]]) — one row per public helper. */
  private val cases: Seq[(String, DataFrame => DataFrame)] = Seq(
    "cosineNative" -> sel(cosineNative(col("vec"), reverse(col("vec")))),
    "sortedJaccardNative" -> sel(sortedJaccardNative(col("a"), col("b"))),
    "minhashNative" -> sel(minhashNative(col("text"), 8, 2)),
    "simhashNative" -> sel(simhashNative(col("text"))),
    "shinglesNative" -> sel(shinglesNative(col("text"), 2)),
    "hyperplaneBucketNative" -> sel(hyperplaneBucketNative(col("vec"), 4)),
    "winnowNative" -> sel(winnowNative(col("text"), 2, 3)),
    "unicodeNormalize" -> sel(unicodeNormalize(col("raw"), "NFC")),
    "htmlEntitiesNative" -> sel(htmlEntitiesNative(col("raw"))),
    "fixMojibakeNative" -> sel(fixMojibakeNative(col("raw"))),
    "langIdNgramNative" -> sel(langIdNgramNative(col("text"))),
    "langIdNgramNative(profiles)" -> sel(langIdNgramNative(col("text"),
      TextAnalysis.charNgramProfiles)),
    "gopherSignalsNative" -> sel(gopherSignalsNative(col("text"), 1, 100)),
    "gopherSignalsNative(functionWords)" -> sel(gopherSignalsNative(
      col("text"), 1, 100, Seq("the", "over", "and"))),
    "cdcChunksNative" -> sel(cdcChunksNative(col("text"), 4, 8, 16)),
    "bloomAggNative" -> (df => bloom(df)),
    "bloomMightContain" -> (df => {
      val bf = bloom(df).head().getAs[Array[Byte]](0)
      df.select(bloomMightContain(lit(bf), xxhash64(col("host"))))
    }),
    "bloomProbe" -> (df => df.crossJoin(bloom(df))
      .select(bloomProbe(col("bf"), xxhash64(col("text"))))),
    "nearestCentroidNative" -> sel(nearestCentroidNative(col("vec"),
      centroids)),
    "nearestCentroidTwoLevelNative" -> sel(nearestCentroidTwoLevelNative(
      col("vec"), Seq(Seq(1.0, 1.0, 0.0, 0.0), Seq(0.0, 0.0, 1.0, 1.0)),
      Seq(Seq(0, 1), Seq(2)), centroids)),
    "pqEncodeNative" -> sel(pqEncodeNative(col("vec"), codebooks)),
    "pqAdcNative" -> sel(pqAdcNative(col("vec"),
      pqEncodeNative(col("vec"), codebooks), codebooks)),
    "mgSummaryNative" -> agg(mgSummaryNative(col("host"), 2)),
    "cmsEstimateNative" -> (df => df.crossJoin(df.agg(count_min_sketch(
        col("id"), lit(0.01), lit(0.99), lit(42)).as("cms")))
      .select(cmsEstimateNative(col("cms"), col("id")))),
    "kllAggNative" -> (df => kll(df)),
    "kllUnionNative" -> (df => kll(df).agg(kllUnionNative(col("k")))),
    "kllQuantilesNative" -> (df => kll(df)
      .select(kllQuantilesNative(col("k"), Seq(0.0, 0.5, 1.0)))),
    "kllRanksNative" -> (df => kll(df)
      .select(kllRanksNative(col("k"), Seq(0.3, 0.8)))),
    "thetaAggNative" -> (df => theta(df)),
    "thetaUnionNative" -> (df => theta(df).agg(thetaUnionNative(col("t")))),
    "thetaSetOpNative" -> (df => theta(df)
      .select(thetaSetOpNative(col("t"), col("t"), "intersect"))),
    "thetaEstimateNative" -> (df => theta(df)
      .select(thetaEstimateNative(col("t")))),
    "bucketizeNative" -> sel(bucketizeNative(col("num"),
      Seq(0.25, 0.5, 0.75))),
    "registrableDomainNative" -> sel(registrableDomainNative(col("host"))),
    "bpeEncodeNative" -> sel(bpeEncodeNative(lower(col("text")), merges)),
    "bpeEncodeBytesNative" -> sel(bpeEncodeBytesNative(col("text"),
      byteMerges)),
    "bpePretokenizeNative" -> sel(bpePretokenizeNative(col("text"))),
    "bpeDecodeBytesNative" -> sel(bpeDecodeBytesNative(
      bpeEncodeBytesNative(col("text"), byteMerges))),
    "idnHostNative" -> sel(idnHostNative(col("host"), toAscii = true)),
    "pctNormalizeNative" -> sel(pctNormalizeNative(col("raw"))),
    "rlikeCached" -> sel(rlikeCached(col("text"), col("pat"))))

  /** Row values with binaries as hex, so sketches compare by content. */
  private def canon(v: Any): Any = v match {
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(canon)
    case s: scala.collection.Seq[_] => s.map(canon)
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => k -> canon(x) }
    case other => other
  }

  private def rows(s: SparkSession, q: DataFrame => DataFrame): Seq[Any] =
    q(source(s)).collect().toSeq.map(canon)

  private def graftNames(s: SparkSession): Seq[String] =
    s.sessionState.functionRegistry.listFunction().map(_.funcName)
      .filter(_.startsWith("graft_"))

  test("the table covers every public Column helper, overloads included") {
    val helpers = graft.plans.NativeFunctions.getClass.getMethods
      .filter(m => m.getReturnType == classOf[Column])
    assert(cases.size == helpers.length,
      s"${cases.size} cases for ${helpers.length} helpers: " +
        helpers.map(_.getName).sorted.mkString(", "))
    assert(cases.map(_._1).distinct.size == cases.size)
    assert(helpers.map(_.getName).toSet ==
      cases.map(_._1.takeWhile(_ != '(')).toSet)
  }

  cases.foreach { case (name, q) =>
    test(s"$name resolves on a session with nothing registered and " +
        "matches the shared session") {
      val got = rows(plain, q)
      assert(got.nonEmpty)
      assert(got == rows(spark, q))
    }
  }

  test("a helper's default column name is the SQL call's") {
    val df = source(spark)
    Seq(minhashNative(col("text"), 8, 2) -> "graft_minhash(text, 8, 2)",
      cosineNative(col("vec"), col("vec")) -> ("graft_cosine(" +
        "cast(vec as array<double>), cast(vec as array<double>))"),
      thetaAggNative(col("id")) -> "graft_theta_agg(id, 12)",
      kllAggNative(col("num")) -> "graft_kll_agg(cast(num as double), 200)",
      unicodeNormalize(col("text"), "NFD") ->
        "graft_unicode_normalize(text, 'NFD')",
      bloomAggNative(xxhash64(col("text")), 10L, 100L) ->
        "graft_bloom_agg(xxhash64(text), 10L, 100L)"
    ).foreach { case (c, sql) =>
      assert(df.select(c).columns.toSeq == df.selectExpr(sql).columns.toSeq)
    }
  }

  test("minhashBands, knnLabel and the Frequency sketch operators leave " +
      "no graft_* name in the session's function registry") {
    val s = GraftPlainSession.of(spark)
    val docs = source(s)
    assert(Dedup.minhashBands(docs.where(col("text").isNotNull), "id",
      "text", numHashes = 8, bands = 4, shingleWords = 2).count() > 0)
    val unl = docs.select(col("id"), col("vec"))
    val lab = docs.select(col("id").as("nid"), col("vec").as("nv"),
      (col("id") % 2).as("label"))
    assert(Similarity.knnLabel(unl, lab, "id", "vec", "nid", "nv", "label",
      k = 2).count() == 4)
    assert(Frequency.mgSummary(docs, "host", 2).count() == 1)
    val grouped = docs.withColumn("g", col("id") % 2)
    val klls = Frequency.kllSketches(grouped, "num", "g")
    assert(Frequency.kllUnionSketch(klls).count() == 1)
    val thetas = Frequency.thetaSketches(grouped, "id", "g")
    assert(Frequency.thetaUnionSketch(thetas).count() == 1)
    assert(Frequency.cmsEstimates(docs, "id", docs.select(col("id")), "id")
      .count() == 4)
    assert(graftNames(s).isEmpty, graftNames(s))
  }
}
