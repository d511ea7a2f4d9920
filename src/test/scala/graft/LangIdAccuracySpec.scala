package graft

import org.apache.spark.sql.functions._
import graft.functions.TextAnalysis

/**
 * Per-language planted-accuracy harness for the 50-language char-ngram
 * identifier (round 12 widened 27→50). Two layers:
 *
 *  1. every `langIdPlants` sentence must classify to its label through
 *     BOTH the HOF form and the native expression (the oracle-gated
 *     q_langid_ngram path) — asserted language BY language so a failure
 *     names the broken profile;
 *  2. the classically-confusable same-script pairs get INDEPENDENT
 *     fixture sentences (not the plants), so profile drift that happens
 *     to keep the plants green still trips the gate: es/pt, da/sv,
 *     da/no, ru/uk, cs/sk, sl/hr, bg/ru, sr/ru, be/uk, ar/fa, fa/ur.
 *
 * The final test prints the accuracy table (one row per language over
 * all fixtures) and asserts it is 100% — the table is the documentation
 * artifact, the assertion is the gate.
 */
class LangIdAccuracySpec extends SparkSpec {
  import spark.implicits._

  private def classifyAll(texts: Seq[String]): Seq[(String, String)] = {
    texts.toDF("t")
      .select(col("t"),
        TextAnalysis.langIdCharNgram(col("t")).as("hof"),
        graft.plans.NativeFunctions.langIdNgramNative(col("t")).as("nat"))
      .collect()
      .map(r => (r.getString(1), r.getString(2)))
      .toSeq
  }

  test("the profile table holds exactly the 50 documented languages") {
    assert(TextAnalysis.charNgramProfiles.size == 50)
    // every profiled language has a planted sentence (und is the
    // deliberate 51st plant with no profile)
    val plantLangs = RegistryText.langIdPlants.map(_._1).toSet
    val missing = TextAnalysis.charNgramProfiles.keySet -- plantLangs
    assert(missing.isEmpty, s"profiled languages without a plant: $missing")
  }

  test("every planted sentence classifies to its label (HOF and native)") {
    val plants = RegistryText.langIdPlants
    val got = classifyAll(plants.map(_._2))
    plants.zip(got).foreach { case ((want, text), (hof, nat)) =>
      assert(hof == want, s"HOF: '$text' → $hof, want $want")
      assert(nat == want, s"native: '$text' → $nat, want $want")
    }
  }

  // independent fixtures per confusable pair — NOT the plants
  private val confusables: Seq[(String, String)] = Seq(
    "es" -> "la canción de los pueblos era una parte del mundo por ahora",
    "pt" -> "a solução não está com os homens mas com uma ação de todos",
    "da" -> "der er ikke noget der kommer til byen og alle skal til stedet",
    "sv" -> "och det är något som är för alla och en lösning för dem",
    "no" -> "dette er en stasjon og jeg skal på toget så det går fort å komme fram",
    "ru" -> "при этом осталось много статей что были это примеры",
    "uk" -> "від цього враження є відчуття що це цікавість і не можна зупинятися",
    "cs" -> "pro mnoho lidí je to most přes řeku a soused je dobrý i ostatní",
    "sk" -> "som veľmi rád že môžem byť pre ľudí tu a nie je to zlé miesto",
    "sl" -> "to je mesto in lahko tudi mi pridemo ki smo želeli videti potovanje",
    "hr" -> "to nije prije bilo pitanje koje ima smisla i ako su ljudi koji rade tu i pitanja traju",
    "bg" -> "градът и хората искат да се разходят на улицата и да видят новите неща",
    "sr" -> "то је било прије у малим местима и да се зна шта је прича о људима",
    "be" -> "гэта добра што ў горадзе можна пайсці і паглядзець на новыя рэчы і жыццё",
    "ar" -> "هذا من الماء في البيت وقد قالت لها المرأة الكثير من الكلام",
    "fa" -> "این خانه است که با پدر می توان در گلستان های خوب دید",
    "ur" -> "یہ گھر میں ہے اور کے ساتھ ڈاکٹر نے پڑھا تھا")

  test("confusable same-script pairs classify to the right side") {
    val got = classifyAll(confusables.map(_._2))
    confusables.zip(got).foreach { case ((want, text), (hof, nat)) =>
      assert(hof == want, s"HOF confusable: '$text' → $hof, want $want")
      assert(nat == want, s"native confusable: '$text' → $nat, want $want")
    }
  }

  test("data-driven profiles: write/load round-trips the compiled-in " +
      "table and the loaded table classifies every plant identically " +
      "through HOF and native") {
    val dir = tmpDir("langid_profiles") + "/profiles"
    TextAnalysis.writeNgramProfiles(spark,
      TextAnalysis.charNgramProfiles, dir)
    val loaded = TextAnalysis.loadNgramProfiles(spark, dir)
    assert(loaded == TextAnalysis.charNgramProfiles)
    val plants = RegistryText.langIdPlants
    val got = plants.map(_._2).toDF("t")
      .select(
        TextAnalysis.langIdCharNgram(col("t"), loaded).as("hof"),
        graft.plans.NativeFunctions.langIdNgramNative(col("t"), loaded)
          .as("nat"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    plants.zip(got).foreach { case ((want, text), (hof, nat)) =>
      assert(hof == want, s"loaded HOF: '$text' → $hof, want $want")
      assert(nat == want, s"loaded native: '$text' → $nat, want $want")
    }
  }

  test("a 51st language is a TABLE swap, not a recompile: widened " +
      "table classifies it, compiled-in table does not") {
    // a synthetic orthography whose grams collide with no real profile
    val xxText = "zxqa qzxo zxqe vzxq ozxq zxqi"
    val widened = TextAnalysis.charNgramProfiles +
      ("xx" -> Seq("zxq", "qzx", "xqa", "zxo"))
    val dir = tmpDir("langid_profiles_xx") + "/profiles"
    TextAnalysis.writeNgramProfiles(spark, widened, dir)
    val loaded = TextAnalysis.loadNgramProfiles(spark, dir)
    assert(loaded.size == 51)
    val r = Seq(xxText).toDF("t")
      .select(
        graft.plans.NativeFunctions.langIdNgramNative(col("t"), loaded)
          .as("wide_nat"),
        TextAnalysis.langIdCharNgram(col("t"), loaded).as("wide_hof"),
        graft.plans.NativeFunctions.langIdNgramNative(col("t"))
          .as("default_nat"))
      .collect()(0)
    assert(r.getString(0) == "xx")
    assert(r.getString(1) == "xx")
    assert(r.getString(2) == "und")
    // existing languages are untouched by the widening
    val en = Seq(RegistryText.langIdPlants.head._2).toDF("t")
      .select(graft.plans.NativeFunctions
        .langIdNgramNative(col("t"), loaded))
      .collect()(0).getString(0)
    assert(en == RegistryText.langIdPlants.head._1)
  }

  test("loadNgramProfiles rejects duplicate lang rows and empty tables") {
    import org.apache.spark.sql.types._
    val dir = tmpDir("langid_profiles_bad")
    Seq(("en", Seq("the")), ("en", Seq("and")))
      .toDF("lang", "grams").write.parquet(dir + "/dup")
    assertThrows[IllegalArgumentException] {
      TextAnalysis.loadNgramProfiles(spark, dir + "/dup")
    }
    spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("lang", StringType),
          StructField("grams", ArrayType(StringType)))))
      .write.parquet(dir + "/empty")
    assertThrows[IllegalArgumentException] {
      TextAnalysis.loadNgramProfiles(spark, dir + "/empty")
    }
  }

  test("accuracy table over all fixtures is 100%") {
    val all = RegistryText.langIdPlants ++ confusables
    val got = classifyAll(all.map(_._2))
    val byLang = all.zip(got).groupBy(_._1._1).toSeq.sortBy(_._1)
    val rows = byLang.map { case (lang, xs) =>
      val ok = xs.count { case ((want, _), (hof, nat)) =>
        hof == want && nat == want }
      (lang, ok, xs.size)
    }
    rows.foreach { case (lang, ok, n) => info(f"$lang%-4s $ok/$n") }
    assert(rows.forall { case (_, ok, n) => ok == n },
      "accuracy below 100% for: " +
        rows.filter { case (_, ok, n) => ok != n }.map(_._1).mkString(","))
  }
}
