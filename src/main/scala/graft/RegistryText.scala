package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import SparkEntry._

/** Text operators: statistics and normalization, quality filters
  * (C4, Gopher, LM perplexity, Naive Bayes), language ID, HTML and
  * URL/robots parsing, and BPE tokenization. */
private[graft] object RegistryText {

  /** Planted sentences for [[graft.functions.TextAnalysis
    * .langIdCharNgram]] — one per profiled language plus an
    * out-of-profile row, shared by q_langid_ngram's query AND its
    * generated oracle so the two cannot drift (the bpeEncodeOracleSql
    * move). No apostrophes and no multi-space runs: the sentences
    * become single-quoted SQL literals under oracleSql's whitespace
    * collapse. */
  private[graft] val langIdPlants: Seq[(String, String)] = Seq(
    "en" -> "the cat and the dog are running for the morning train",
    "de" -> "der schnelle braune fuchs springt über die faulen hunde und lacht",
    "nl" -> "het is een mooie dag van het jaar voor een wandeling",
    "sv" -> "det är en vacker dag och att gå för en promenad",
    "da" -> "det er ikke en dårlig dag og der kommer flere til",
    "fr" -> "les enfants sont dans une grande maison que nous avons",
    "es" -> "los niños están en una casa del pueblo por la mañana con la canción",
    "pt" -> "não é uma solução para os problemas dos homens com ação",
    "it" -> "che bella giornata per una passeggiata con gli amici della città",
    "ro" -> "aceasta este o carte pentru copii și din multe ori și pentru oameni",
    "pl" -> "nie wiem czy się uda ale przez tego czasu nie mogę",
    "cs" -> "pro mnoho lidí je soused velmi dobrý a most přes řeku a zpět",
    "hu" -> "egy szép napon meg kell nézni hogy mire jó a szerencse",
    "fi" -> "tässä talossa voi istua mukavalla tuolilla ja katsella maisemia",
    "tr" -> "bunlar için bir şey yapmak istiyor ve onlar da geliyor",
    "id" -> "orang yang ada di dalam rumah itu sedang membaca dan menulis",
    "vi" -> "một người không được nói về của cải và tiền bạc",
    "ru" -> "это очень хорошо что при работе есть много возможностей",
    "uk" -> "від цього питання є враження що не можна зробити",
    "el" -> "και αυτό είναι που λένε την ιστορία της πόλης τους",
    "ar" -> "هذا من الماء في البيت وقد قالت لها الكثير",
    "he" -> "זה את הספר של הילדים ואת המים על השולחן",
    "hi" -> "यह किताब है और वह मेरे घर में का काम से की है",
    "zh" -> "这是一个很好的地方我们都在这里有人来了",
    "ja" -> "これは日本のです私たちにはをたくさんあります",
    "ko" -> "이것은 우리의 집이다 그리고 하늘을 보고 있다",
    "th" -> "การที่ของเราและในบ้านไม่ได้มีอะไร",
    // round-12 additions (profiles widened 27→50)
    "no" -> "jeg har en god følelse på denne stasjonen og det er ikke så langt å gå",
    "is" -> "það er ekki gott að vera einn um kvöldið og maður þarf að fara inn",
    "ca" -> "aquest és un dels llibres que també parlen amb molta atenció dels nens",
    "et" -> "see on üks asi mis oli olemas ja mida tuleb teha kui on vaja ning kõik on läinud koju",
    "lt" -> "tai yra geras dalykas kad žmonės gali dirbti namuose ir miestuose visą laiką",
    "lv" -> "tā ir laba diena un cilvēkiem patīk iet ar draugiem kas arī dzīvo šeit",
    "sk" -> "som rád že môžem pracovať a nie je to zlé pre ľudí ktorí sa boja o svoje zdravie",
    "sl" -> "to je lepo mesto in mislim da lahko tudi mi pridemo tja ki smo želeli potovanje v hribe",
    "hr" -> "to nije prije bilo pitanje koje ima smisla jer su ljudi koji rade morali doći i ako mogu ostati i to su pitanja bez kraja",
    "bg" -> "градът е хубав и хората искат да се разходят на улицата през деня и да видят новите неща",
    "sr" -> "ово је прича о људима који су живели у малим местима и да се зна шта је било прије него што су дошли ту",
    "be" -> "гэта вельмі добра што ў горадзе ёсць месца дзе можна пайсці і паглядзець на новыя рэчы і жыццё людзей",
    "fa" -> "این کتاب های خوب است که می توان با پدر و مادر در گلستان خواند",
    "ur" -> "یہ کتاب میرے گھر میں ہے اور اس کے اندر بہت سی اچھی باتیں لکھی ہیں ڈاکٹر نے بھی پڑھا",
    "bn" -> "আমাদের দেশের মানুষেরা খুব ভালো করে কাজ করছে এবং তারা নতুন কিছু শিখছে",
    "ta" -> "அவர்கள் நாட்டில் நல்ல வேலைகளை செய்கிறார்கள் மற்றும் புதியவற்றை கற்றுக்கொள்கிறார்கள்",
    "te" -> "ప్రజలు తమ దేశంలో మంచి పనులను చేస్తున్నారు మరియు కొత్త విషయాలను నేర్చుకుంటున్నారు",
    "ml" -> "ആളുകൾ അവരുടെ രാജ്യത്ത് നല്ല ജോലികൾ ചെയ്യുന്നു ഒപ്പം പുതിയ കാര്യങ്ങൾ പഠിക്കുന്നു",
    "kn" -> "ಜನರು ತಮ್ಮ ದೇಶದಲ್ಲಿ ಒಳ್ಳೆಯ ಕೆಲಸಗಳನ್ನು ಮಾಡುತ್ತಿದ್ದಾರೆ ಮತ್ತು ಹೊಸ ವಿಷಯಗಳನ್ನು ಕಲಿಯುತ್ತಿದ್ದಾರೆ",
    "ka" -> "ეს არის კარგი ადგილი სადაც ხალხს შეუძლია იმუშაოს და ისწავლოს რომ ცხოვრება უკეთესი იყოს ქვეყანაში",
    "hy" -> "սա լավ տեղ է որտեղ մարդիկ կարող են աշխատել և սովորել նոր բաներ իրենց կյանքում ամեն օր",
    "am" -> "ይህ ጥሩ ቦታ ነው ሰዎች የሚሰሩበት እና አዲስ ነገር የሚማሩበት በየቀኑ ላይ",
    "km" -> "នេះគឺជាកន្លែងល្អដែលមនុស្សអាចធ្វើការនិងរៀនអ្វីថ្មីនៅក្នុងជីវិតរបស់ពួកគេបាន",
    "und" -> "zzz qqq xw vjq kkk")

  /** Oracle for q_langid_ngram, generated from [[langIdPlants]]: the
    * expected label per planted row is a literal CASE — falsifiable
    * (a wrong winner or an und-regression mismatches) and immune to
    * drift between the plant list and the replay. */
  private val langIdNgramOracleSql: String = {
    val n = langIdPlants.size
    val cases = langIdPlants.zipWithIndex.map { case ((lang, _), i) =>
      s"WHEN $i THEN '$lang'" }.mkString(" ")
    s"""SELECT doc_id, CASE CAST(doc_id % $n AS INT) $cases
        END AS lang_pred FROM documents"""
  }

  /** q_text_quality's full-score SQL replay — shared verbatim by
    * q_text_quality_table (the data-driven-profile twin). */
  private val textQualityOracleSql: String =
    raw"""WITH t AS (
                SELECT doc_id, text,
                  CASE WHEN length(regexp_replace(text, '^\s+|\s+$$', '', 'g')) = 0 THEN []::VARCHAR[]
                    ELSE string_split_regex(lower(regexp_replace(text, '^\s+|\s+$$', '', 'g')), '\s+') END
                    AS ltoks,
                  CASE WHEN length(regexp_replace(text, '^\s+|\s+$$', '', 'g')) = 0 THEN []::VARCHAR[]
                    ELSE string_split_regex(regexp_replace(text, '^\s+|\s+$$', '', 'g'), '\s+') END AS toks
                FROM documents
              ), f AS (
                SELECT doc_id,
                  CAST(len(toks) AS DOUBLE) AS ntok,
                  CASE WHEN length(text) = 0 THEN CAST(0.0 AS DOUBLE)
                    ELSE CAST(length(regexp_replace(text, '[^\p{L}]', '',
                      'g')) AS DOUBLE) / length(text) END AS alpha_r,
                  CASE WHEN length(text) = 0 THEN CAST(0.0 AS DOUBLE)
                    ELSE CAST(length(regexp_replace(text, '[^[:punct:]]',
                      '', 'g')) AS DOUBLE) / length(text) END AS punct_r,
                  CASE WHEN len(toks) = 0 THEN CAST(0.0 AS DOUBLE)
                    ELSE CAST(list_sum(list_transform(toks,
                      x -> length(x))) AS DOUBLE) / len(toks) END AS mtl,
                  CASE WHEN len(ltoks) = 0 THEN CAST(0.0 AS DOUBLE)
                    ELSE CAST(len(list_filter(ltoks, x -> list_contains(
                    $qualityStopwordsSql, x))) AS DOUBLE) / len(ltoks) END AS stop_r,
                  $langHitsSql
                FROM t
              )
              SELECT doc_id,
                $qualityScoreSql
              FROM f"""

  /** tok/ln/sig CTE chain replaying [[graft.functions.TextAnalysis
    * .gopherSignals]]'s rule arithmetic over a `raw(doc_id, t)` CTE —
    * shared by q_gopher_signals (adversarial injected text) and
    * q_gopher_pipeline (raw corpus text) so the replay cannot drift
    * between the unit-altitude and pipeline-altitude gates.
    *
    * KNOWN ORACLE/ENGINE DIVERGENCE (documented, not currently
    * reachable): DuckDB regexes are RE2, the engine's are java.util
    * .regex, and they disagree on exactly two character classes —
    * (a) RE2 `\s` excludes vertical tab U+000B, which Java `\s`
    * includes (affects every `^\s+|\s+$` edge-trim replay in this
    * file), and (b) RE2 `$` does not match before a bare final line
    * terminator the way Java `rlike`'s `$` does for `\r`, U+0085,
    * U+2028, U+2029 (affects the bullet `[-*]( |$)` and ellipsis
    * `(\.\.\.|…)$` anchors below). The driver corpora and every
    * injected fixture in this file are free of all five characters
    * (U+000B, bare U+000D, U+0085, U+2028, U+2029) — guarded by
    * OracleDivergenceSpec — so the gates compare the
    * engines only where they agree; a future corpus containing them
    * would need the oracle made explicit (strip trailing `\r` before
    * anchoring, add `\x0B` to the trim class) rather than widened. */
  private val gopherSigCtes: String =
    """tok AS (SELECT doc_id, t,
        CASE WHEN length(regexp_replace(t, '^\s+|\s+$', '', 'g'))
            = 0 THEN []::VARCHAR[]
          ELSE string_split_regex(
            regexp_replace(t, '^\s+|\s+$', '', 'g'), '\s+') END
          AS toks FROM raw),
      ln AS (SELECT doc_id,
        list_filter(string_split_regex(t, '\r?\n'),
          l -> length(trim(l)) > 0) AS lines FROM raw),
      sig AS (SELECT tok.doc_id AS doc_id,
        len(toks) AS n_words,
        CASE WHEN len(toks) = 0 THEN 0.0
          ELSE CAST(list_aggregate(list_transform(toks,
            w -> length(w)), 'sum') AS DOUBLE) / len(toks) END
          AS mwl,
        CASE WHEN len(toks) = 0 THEN 0.0
          ELSE CAST(len(regexp_extract_all(t, '#')) AS DOUBLE)
            / len(toks) END AS hr,
        CASE WHEN len(toks) = 0 THEN 0.0
          ELSE CAST(len(regexp_extract_all(t, '\.\.\.'))
            + len(regexp_extract_all(t, '…')) AS DOUBLE)
            / len(toks) END AS er,
        CASE WHEN len(toks) = 0 THEN 0.0
          ELSE CAST(len(list_filter(toks,
            w -> regexp_matches(w, '\p{L}'))) AS DOUBLE)
            / len(toks) END AS af,
        CASE WHEN len(lines) = 0 THEN 0.0
          ELSE CAST(len(list_filter(lines, l -> regexp_matches(
            trim(l), '^([•‣◦·–]|[-*]( |$))'))) AS DOUBLE)
            / len(lines) END AS bf,
        CASE WHEN len(lines) = 0 THEN 0.0
          ELSE CAST(len(list_filter(lines, l -> regexp_matches(
            trim(l), '(\.\.\.|…)$'))) AS DOUBLE)
            / len(lines) END AS ef,
        len(list_intersect(list_distinct(list_transform(toks,
          w -> regexp_replace(lower(w),
            '^[\p{P}\p{S}]+|[\p{P}\p{S}]+$', '', 'g'))),
          ['the','be','to','of','and','that','have','with']))
          AS sh
        FROM tok JOIN ln ON tok.doc_id = ln.doc_id)"""

  /** The combined Gopher keep decision over [[gopherSigCtes]]'s sig
    * columns, parameterized on the word-count floor. */
  private def gopherKeepSql(minWords: Int): String =
    s"""CASE WHEN n_words BETWEEN $minWords AND 100000
        AND mwl BETWEEN 3.0 AND 10.0
        AND hr <= 0.1 AND er <= 0.1
        AND bf <= 0.9 AND ef <= 0.3
        AND af >= 0.8 AND sh >= 2
        THEN 1 ELSE 0 END"""

  /** The adversarial injected-structure corpus q_gopher_signals runs
    * on — shared by q_gopher_signals_table (the data-driven
    * function-word twin). */
  private def gopherInjectedDocs(s: org.apache.spark.sql
      .SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val variants = array(
      lit("\u2022 first point\n- second point\n* third\n\u2023 fourth\n\u2013 dash\n-"),
      lit("to be continued...\nand then\u2026\nthe end comes later..."),
      lit("## tagged ### content #### with # extra # tags #"),
      lit("\tthe, cat. (with) [of] {and} !that!\r\nplain line\r\n"))
    val injected = concat(substring(col("text"), 1, 60), lit("\n"),
      element_at(variants, (col("doc_id") % 4 + 1).cast("int")))
    s.read.parquet(pq(d, "documents"))
      .select(col("doc_id"), injected.as("text"))
  }

  /** q_gopher_signals' full rule replay, shared verbatim by the
    * data-driven twin. */
  private val gopherSignalsOracleSql: String =
    s"""WITH raw AS (SELECT doc_id,
                substr(text, 1, 60) || chr(10) ||
                  (CASE CAST(doc_id % 4 AS INT)
                    WHEN 0 THEN '• first point' || chr(10) ||
                      '- second point' || chr(10) || '* third' || chr(10)
                      || '‣ fourth' || chr(10) || '– dash' || chr(10) || '-'
                    WHEN 1 THEN 'to be continued...' || chr(10) ||
                      'and then…' || chr(10) || 'the end comes later...'
                    WHEN 2 THEN '## tagged ### content #### with # extra'
                      || ' # tags #'
                    ELSE chr(9) || 'the, cat. (with) [of] {and} !that!'
                      || chr(13) || chr(10) || 'plain line' || chr(13)
                      || chr(10) END) AS t
                FROM documents),
              $gopherSigCtes
              SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
                ROUND(mwl, 4) AS mean_word_len,
                ROUND(hr, 4) AS hash_ratio,
                ROUND(er, 4) AS ellipsis_ratio,
                ROUND(af, 4) AS alpha_word_frac,
                ROUND(bf, 4) AS bullet_line_frac,
                ROUND(ef, 4) AS ellipsis_line_frac,
                CAST(sh AS BIGINT) AS stop_hits,
                ${gopherKeepSql(5)} AS keep
              FROM sig"""

  /** Oracle for q_bpe_encode, generated from [[graft.functions.Bpe
    * .demoMerges]] so the SQL replay and the shipped merge list cannot
    * drift. Each symbol carries its OWN boundary spaces (symbols
    * joined by two spaces), under which nested REPLACE is exactly the
    * greedy merge semantics of [[graft.plans.BpeCodec]] — see
    * BpeSpec's property test. */
  private val bpeEncodeOracleSql: String = {
    // NB: `oracleSql` collapses ALL whitespace runs (including inside
    // string literals), so the double-space symbol delimiter is built
    // with repeat(' ', 2) expressions, never a two-space literal
    val chain = graft.functions.Bpe.demoMerges.foldLeft(
      "' ' || array_to_string(string_split(w, ''), repeat(' ', 2))" +
        " || ' '") {
      case (acc, (a, b)) =>
        s"REPLACE($acc, ' ' || '$a' || repeat(' ', 2) || '$b' || ' '," +
          s" ' ' || '$a$b' || ' ')"
    }
    raw"""WITH e AS (SELECT doc_id, array_to_string(list_transform(
            list_filter(string_split_regex(lower(regexp_replace(text, '^\s+|\s+$$', '', 'g')), '\s+'),
              w -> w <> ''),
            w -> REPLACE(trim($chain), repeat(' ', 2), ' ')), ' ')
              AS enc
          FROM documents)
        SELECT doc_id,
          CASE WHEN enc = '' THEN 0
            ELSE len(string_split(enc, ' ')) END AS n_subwords,
          enc
        FROM e"""
  }

  /** The shared `e` CTE replaying the byte-level demo encode: the
    * REPLACE-chain generated from demoByteMerges (single quotes
    * SQL-escaped — the merge list contains the contraction
    * apostrophe); the pre-token list is the GPT-2 regex grounded out
    * BY HAND on the synthesized text — letters/punct map to
    * themselves under bytes_to_unicode, the pre-token's leading space
    * to 'Ġ' — so the oracle replays pre-tokenization, byte mapping,
    * and merges without needing lookahead regex support in DuckDB. */
  private val bpeBytesEncCte: String = {
    val chain = graft.functions.Bpe.demoByteMerges.foldLeft(
      "' ' || array_to_string(string_split(w, ''), repeat(' ', 2))" +
        " || ' '") {
      case (acc, (a, b)) =>
        s"REPLACE($acc, ' ' || '${sqlEsc(a)}' || repeat(' ', 2) || " +
          s"'${sqlEsc(b)}' || ' ', ' ' || '${sqlEsc(a + b)}' || ' ')"
    }
    raw"""e AS (SELECT doc_id, array_to_string(list_transform(
            ['hello', 'Ġworld', ',', 'Ġit', chr(39) || 's', 'Ġrank',
             'Ġ' || CAST(doc_id AS VARCHAR)],
            w -> REPLACE(trim($chain), repeat(' ', 2), ' ')), ' ')
              AS enc
          FROM documents WHERE doc_id < 200)"""
  }

  private val bpeEncodeBytesOracleSql: String =
    raw"""WITH $bpeBytesEncCte
        SELECT doc_id,
          CASE WHEN enc = '' THEN 0
            ELSE len(string_split(enc, ' ')) END AS n_subwords,
          enc
        FROM e"""

  /** Token-id replay: the vocabulary [[graft.functions.Bpe.vocabBytes]]
    * induces for demoByteMerges, inlined as a generated CASE — ids on
    * both sides come from the same deterministic assignment, so drift
    * is impossible. */
  private val bpeTokenIdsOracleSql: String = {
    val vocabCase = graft.functions.Bpe
      .vocabBytes(graft.functions.Bpe.demoByteMerges)
      .map { case (t, i) => s"WHEN '${sqlEsc(t)}' THEN $i" }
      .mkString(" ")
    raw"""WITH $bpeBytesEncCte
        SELECT doc_id, array_to_string(list_transform(
            string_split(enc, ' '),
            t -> CAST(CASE t $vocabCase END AS VARCHAR)), ',') AS ids
        FROM e"""
  }

  val entries: Seq[Q] = Seq(
    // ---- text statistics and normalization -------------------------
    Q("q_text_stats",
      (s, d) => s.read.parquet(pq(d, "documents"))
        .select(col("doc_id"),
          graft.functions.TextAnalysis.tokenCount(col("text")).as("n_tok"),
          length(col("text")).cast("long").as("n_char")),
      // CASE mirrors Spark tokens(): empty/whitespace-only text is 0
      // tokens, where a bare split yields [''] (len 1)
      Some("""SELECT doc_id,
              CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0 THEN 0
                ELSE CAST(len(regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+'))
                  AS INT) END AS n_tok,
              LENGTH(text) AS n_char FROM documents""")),

    // unicode canonicalization (native codegen'd expression over JDK
    // Normalizer): composed and decomposed forms of the same glyph must
    // agree before any hash-based dedup; corpus is ASCII so the query
    // injects a decomposed "cafe" + COMBINING ACUTE per row — the
    // oracle's nfc_normalize must produce the identical composed string
    Q("q_text_normalize",
      (s, d) => {
        s.read.parquet(pq(d, "documents"))
          .select(col("doc_id"),
            graft.plans.NativeFunctions.unicodeNormalize(
              concat(substring(col("text"), 1, 20), lit(" cafe\u0301")),
              "NFC").as("norm"))
          .withColumn("norm_len", length(col("norm")).cast("long"))
      },
      Some("""SELECT doc_id,
              nfc_normalize(substr(text, 1, 20) || ' cafe' || chr(769))
                AS norm,
              CAST(length(nfc_normalize(substr(text, 1, 20) || ' cafe' ||
                chr(769))) AS BIGINT) AS norm_len
              FROM documents""")),

    // mojibake repair over planted UTF-8-as-cp1252 corruptions: the
    // expected outputs are literal (the q_url_idn planted pattern) —
    // single and double encoding repair, strict-validation identity on
    // clean ASCII AND on legitimate non-ASCII ('á' is a UTF-8 lead
    // byte under cp1252, but its neighbors fail continuation checks)
    Q("q_fix_mojibake",
      (s, d) => {
        val planted = array(
          lit("cafÃ©"), lit("naÃ¯ve donâ€™t"), lit("Â°C and Â£5"),
          lit("clean ascii text"), lit("já correct é"),
          lit("cafÃƒÂ©"), lit("ðŸ˜€ ok"))
        s.read.parquet(pq(d, "documents")).where(col("doc_id") < 200)
          .select(col("doc_id"),
            graft.plans.NativeFunctions.fixMojibakeNative(
              element_at(planted, (col("doc_id") % 7 + 1).cast("int")))
              .as("fixed"))
      },
      Some("""SELECT doc_id,
                CASE CAST(doc_id % 7 AS INT)
                  WHEN 0 THEN 'café'
                  WHEN 1 THEN 'naïve don’t'
                  WHEN 2 THEN '°C and £5'
                  WHEN 3 THEN 'clean ascii text'
                  WHEN 4 THEN 'já correct é'
                  WHEN 5 THEN 'café'
                  ELSE '😀 ok' END AS fixed
              FROM documents WHERE doc_id < 200""")),

    // Gopher-style repetition signals; bigram histogram computed
    // distributed (explode + groupBy), not per-row O(n^2) HOFs
    Q("q_text_repetition",
      (s, d) => graft.functions.TextAnalysis.repetitionStats(
        s.read.parquet(pq(d, "documents"))
          .repartition(s.sparkContext.defaultParallelism),
        "doc_id", "text"),
      Some("""WITH t AS (SELECT doc_id,
                string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS toks FROM documents),
              b AS (SELECT doc_id, len(toks) AS n,
                len(list_distinct(toks)) AS nd,
                list_transform(generate_series(1, len(toks)-1),
                  i -> toks[i] || ' ' || toks[i+1]) AS bgs FROM t),
              e AS (SELECT doc_id, unnest(bgs) AS bg FROM b),
              c AS (SELECT doc_id, bg, count(*) AS c FROM e
                GROUP BY doc_id, bg),
              m AS (SELECT doc_id, max(c) AS mx,
                CAST(sum(c) AS BIGINT) AS tot FROM c GROUP BY doc_id)
              SELECT b.doc_id AS doc_id,
                ROUND(CAST(1.0 AS DOUBLE) - CAST(nd AS DOUBLE)/n, 4)
                  AS dup_word_frac,
                COALESCE(ROUND(CAST(mx AS DOUBLE)/tot, 4),
                  CAST(0.0 AS DOUBLE)) AS top_bigram_frac
              FROM b LEFT JOIN m ON b.doc_id = m.doc_id""")),

    // PII scrub: corpus has no PII, so inject a deterministic email/
    // phone/IP per doc in the query body, then redact — the expected
    // output is fully SQL-expressible
    Q("q_text_redact",
      (s, d) => {
        import graft.functions.TextAnalysis
        val injected = concat(substring(col("text"), 1, 40),
          lit(" mail user"), col("doc_id").cast("string"),
          lit("@example.com call 1-555-123-4567 ip 10.0.0."),
          (col("doc_id") % 256).cast("string"))
        s.read.parquet(pq(d, "documents"))
          .select(col("doc_id"), injected.as("__t"))
          .select(col("doc_id"),
            TextAnalysis.redactPii(col("__t")).as("redacted"),
            TextAnalysis.piiCount(col("__t")).cast("long").as("pii_n"))
      },
      Some("""WITH p AS (SELECT doc_id, substr(text, 1, 40) || ' mail user' ||
                CAST(doc_id AS VARCHAR) ||
                '@example.com call 1-555-123-4567 ip 10.0.0.' ||
                CAST(doc_id % 256 AS VARCHAR) AS t FROM documents)
              SELECT doc_id,
                regexp_replace(regexp_replace(regexp_replace(t,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                  '<EMAIL>', 'g'),
                  '(?:\+?[0-9]{1,2}[-. ])?\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}',
                  '<PHONE>', 'g'),
                  '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g')
                  AS redacted,
                CAST(len(regexp_extract_all(t,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                + len(regexp_extract_all(t,
                  '(?:\+?[0-9]{1,2}[-. ])?\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}'))
                + len(regexp_extract_all(t,
                  '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS BIGINT) AS pii_n
              FROM p""")),

    // Unicode-script letter ratios: the corpus is ASCII-Latin, so the
    // query plants a fixed mixed-script suffix (Cyrillic + Han +
    // Arabic) — counts and fractions are deterministic in both
    // engines' regex implementations (Java \p{IsX} ≡ RE2 \p{X})
    Q("q_text_script",
      (s, d) => {
        val t = concat(col("text"),
          lit(" Привет мир 你好世界 مرحبا بالعالم"))
        s.read.parquet(pq(d, "documents")).where(col("doc_id") < 200)
          .select(col("doc_id"),
            graft.functions.TextAnalysis.letterCount(t).as("n_letters"),
            graft.functions.TextAnalysis.scriptLetterCount(t, "Latin")
              .as("latin"),
            graft.functions.TextAnalysis.scriptLetterCount(t, "Cyrillic")
              .as("cyrillic"),
            graft.functions.TextAnalysis.scriptLetterCount(t, "Han")
              .as("han"),
            graft.functions.TextAnalysis.scriptLetterCount(t, "Arabic")
              .as("arabic"))
          .withColumn("latin_frac",
            round(col("latin").cast("double") / col("n_letters"), 4))
      },
      Some("""WITH t AS (SELECT doc_id,
                text || ' Привет мир 你好世界 مرحبا بالعالم' AS tt
                FROM documents WHERE doc_id < 200)
              SELECT doc_id,
                len(regexp_extract_all(lt, '\p{L}')) AS n_letters,
                len(regexp_extract_all(lt, '\p{Latin}')) AS latin,
                len(regexp_extract_all(lt, '\p{Cyrillic}')) AS cyrillic,
                len(regexp_extract_all(lt, '\p{Han}')) AS han,
                len(regexp_extract_all(lt, '\p{Arabic}')) AS arabic,
                ROUND(CAST(len(regexp_extract_all(lt, '\p{Latin}'))
                    AS DOUBLE)
                  / len(regexp_extract_all(lt, '\p{L}')), 4) AS latin_frac
              FROM (SELECT doc_id,
                regexp_replace(tt, '[^\p{L}]', '', 'g') AS lt FROM t)""")),

    // ---- quality filters -------------------------------------------
    // CPU-bound featurization over a FEW parquet files: Spark assigns one
    // task per file split, so a small-file corpus serializes onto one
    // core while 31 idle. repartition to the cluster's parallelism first
    // — the narrow shuffle is pennies next to the per-row expression
    // work. (At 100 TB the corpus has thousands of splits and this
    // repartition becomes unnecessary, not wrong.)
    // full SQL replication of the composite quality score + stopword
    // language ID (same term order and double arithmetic; corpus is
    // ASCII so \p{L} / [[:punct:]] agree across engines; zh profile
    // omitted from the oracle — its hits are always 0 on ASCII text)
    Q("q_text_quality",
      (s, d) => s.read.parquet(pq(d, "documents"))
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"),
          graft.functions.TextAnalysis.qualityScore(col("text")).as("quality"),
          graft.functions.TextAnalysis.langId(col("text")).as("lang_pred")),
      // empty/whitespace-doc guards mirror the Spark terms exactly:
      // tokens() → 0 tokens (not ['']), zero-length text → 0.0 ratios
      Some(textQualityOracleSql)),

    // Data-driven stopword profiles (round 14): the SAME documents
    // and the SAME oracle as q_text_quality, but the stopword tables
    // behind qualityScore's stop-mass term AND the langId vote are
    // LOADED from a parquet fixture (writeStopwordProfiles →
    // loadStopwordProfiles round-trip of the compiled-in 5) and ride
    // as plan literals. Identical oracle = the data-driven path is
    // semantics-preserving; a 6th language (or a retuned word list)
    // is then a table swap, not a recompile — TextAnalysisSpec proves
    // the swap case. Closes the langid-table pattern
    // (q_langid_table) over the remaining compiled-in profiles.
    Q("q_text_quality_table",
      (s, d) => {
        import graft.functions.TextAnalysis
        val root = Fixture(
          new java.io.File(d, "documents.parquet"),
          "graft_stopword_profiles",
          codeKey = TextAnalysis.stopwords.toSeq
            .sortBy(_._1).toString.hashCode.toString) { tmp =>
          TextAnalysis.writeStopwordProfiles(s, TextAnalysis.stopwords,
            new java.io.File(tmp, "profiles").toString)
        }
        val table = TextAnalysis.loadStopwordProfiles(s,
          new java.io.File(root, "profiles").toString)
        s.read.parquet(pq(d, "documents"))
          .repartition(s.sparkContext.defaultParallelism)
          .select(col("doc_id"),
            TextAnalysis.qualityScore(col("text"), table).as("quality"),
            TextAnalysis.langId(col("text"), table).as("lang_pred"))
      },
      Some(textQualityOracleSql)),

    Q("q_quality_c4",
      (s, d) => graft.functions.TextAnalysis.c4Signals(
        s.read.parquet(pq(d, "documents")), "doc_id", "text")
        .withColumn("n_words", col("n_words").cast("long")),
      // empty/whitespace docs: Spark's tokens() yields an EMPTY array
      // (n_words 0, mean_word_len 0.0) where a bare string_split_regex
      // would yield [''] (n_words 1) — the CASEs keep the engines aligned
      Some("""WITH t AS (SELECT doc_id, text,
                CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0 THEN []::VARCHAR[]
                  ELSE string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') END AS toks
                FROM documents),
              s AS (SELECT doc_id, len(toks) AS n_words,
                CASE WHEN len(toks) = 0 THEN 0.0
                  ELSE ROUND(list_aggregate(list_transform(toks,
                    w -> length(w)),
                  'sum') / CAST(len(toks) AS DOUBLE), 4) END
                  AS mean_word_len,
                CASE WHEN regexp_matches(text, '[.!?]\s*$') THEN 1 ELSE 0
                  END AS ends_punct,
                CASE WHEN contains(text, '{') THEN 1 ELSE 0 END AS has_brace,
                CASE WHEN contains(lower(text), 'lorem ipsum') THEN 1
                  ELSE 0 END AS has_lorem FROM t)
              SELECT doc_id, n_words, mean_word_len, ends_punct, has_brace,
                has_lorem,
                CASE WHEN n_words BETWEEN 50 AND 100000
                  AND mean_word_len BETWEEN 3.0 AND 10.0
                  AND has_brace = 0 AND has_lorem = 0
                  THEN 1 ELSE 0 END AS keep
              FROM s""")),

    // full Gopher/MassiveText rule set over adversarial injected
    // structure (bullets incl. bare '-', ellipsis line endings, hash
    // spam, CRLF + tab-leading + punctuation-adjacent stopwords) so
    // every rule tier fires somewhere; the oracle replays the whole
    // rule arithmetic in SQL
    Q("q_gopher_signals",
      (s, d) => graft.functions.TextAnalysis.gopherSignals(
        gopherInjectedDocs(s, d), "doc_id", "text", minWords = 5),
      Some(gopherSignalsOracleSql)),

    // Data-driven Gopher function words (round 14): the SAME
    // adversarial injected corpus and full-rule-replay oracle as
    // q_gopher_signals, but the >=2-of-8 function-word list is LOADED
    // from a parquet fixture and rides the fused native expression as
    // a codegen reference object (GopherSignalsExpr's optional stop
    // set — the LangIdNgramExpr table pattern). Identical oracle =
    // semantics-preserving; retuning the list for another language's
    // corpus is a table swap, not a recompile (TextAnalysisSpec
    // proves the swap changes stop_hits without touching this code).
    // With q_langid_table and q_text_quality_table this closes the
    // last compiled-in word table.
    Q("q_gopher_signals_table",
      (s, d) => {
        import graft.functions.TextAnalysis
        val root = Fixture(
          new java.io.File(d, "documents.parquet"),
          "graft_gopher_words",
          codeKey = TextAnalysis.gopherStopwords.toString
            .hashCode.toString) { tmp =>
          TextAnalysis.writeStopwordProfiles(s,
            Map("gopher" -> TextAnalysis.gopherStopwords),
            new java.io.File(tmp, "words").toString)
        }
        val words = TextAnalysis.loadStopwordProfiles(s,
          new java.io.File(root, "words").toString)("gopher")
        TextAnalysis.gopherSignals(
          gopherInjectedDocs(s, d),
          "doc_id", "text", minWords = 5, functionWords = words)
      },
      Some(gopherSignalsOracleSql)),

    // the COMPLETE MassiveText filter: the shuffle-free Gopher rule
    // tier (gopherSignals) AND the repetition tier (repetitionStats —
    // the one that genuinely needs a shuffle) composed into one keep
    // decision. Thresholds chosen where the corpus discriminates both
    // ways (dup_word_frac median 0.54, top_bigram_frac p90 0.069 at
    // sf0.01); the same stopword preamble as q_gopher_pipeline keeps
    // the rule tier non-degenerate. Oracle replays BOTH tiers
    Q("q_gopher_full",
      (s, d) => {
        import graft.functions.TextAnalysis
        val pre = "it has to be that good with and of all them "
        val docs = s.read.parquet(pq(d, "documents"))
          .repartition(s.sparkContext.defaultParallelism)
          .select(col("doc_id"),
            when(col("doc_id") % 3 =!= 2,
              concat(lit(pre), col("text")))
              .otherwise(col("text")).as("text"))
        val rules = TextAnalysis.gopherSignals(docs, "doc_id", "text",
          minWords = 10).select(col("doc_id"), col("keep"))
        val rep = TextAnalysis.repetitionStats(docs, "doc_id", "text")
        rules.join(rep, "doc_id")
          .select(col("doc_id"), col("keep").as("keep_rules"),
            ((col("dup_word_frac") <= 0.5) &&
              (col("top_bigram_frac") <= 0.08)).cast("int")
              .as("keep_rep"),
            ((col("keep") === 1) && (col("dup_word_frac") <= 0.5) &&
              (col("top_bigram_frac") <= 0.08)).cast("int").as("keep"))
      },
      Some(s"""WITH raw AS (SELECT doc_id,
                CASE WHEN CAST(doc_id % 3 AS INT) <> 2
                  THEN 'it has to be that good with and of all them '
                    || text
                  ELSE text END AS t
                FROM documents),
              $gopherSigCtes,
              rt AS (SELECT doc_id,
                string_split_regex(
                  regexp_replace(t, '^\\s+|\\s+$$', '', 'g'), '\\s+')
                  AS toks FROM raw),
              rb AS (SELECT doc_id, len(toks) AS n,
                len(list_distinct(toks)) AS nd,
                list_transform(generate_series(1, len(toks)-1),
                  i -> toks[i] || ' ' || toks[i+1]) AS bgs FROM rt),
              re AS (SELECT doc_id, unnest(bgs) AS bg FROM rb),
              rc AS (SELECT doc_id, bg, count(*) AS c FROM re
                GROUP BY doc_id, bg),
              rm AS (SELECT doc_id, max(c) AS mx,
                CAST(sum(c) AS BIGINT) AS tot FROM rc GROUP BY doc_id),
              rep AS (SELECT rb.doc_id AS doc_id,
                ROUND(CAST(1.0 AS DOUBLE) - CAST(nd AS DOUBLE)/n, 4)
                  AS dwf,
                COALESCE(ROUND(CAST(mx AS DOUBLE)/tot, 4),
                  CAST(0.0 AS DOUBLE)) AS tbf
                FROM rb LEFT JOIN rm ON rb.doc_id = rm.doc_id)
              SELECT sig.doc_id AS doc_id,
                ${gopherKeepSql(10)} AS keep_rules,
                CASE WHEN dwf <= 0.5 AND tbf <= 0.08 THEN 1 ELSE 0 END
                  AS keep_rep,
                CASE WHEN ${gopherKeepSql(10)} = 1
                  AND dwf <= 0.5 AND tbf <= 0.08 THEN 1 ELSE 0 END
                  AS keep
              FROM sig JOIN rep ON sig.doc_id = rep.doc_id""")),

    // curation capstone with the FULL Gopher keep decision as the
    // quality gate (pipeline altitude for gopherSignals, the
    // q_curation_pipeline shape): gopher gate → per-source cap →
    // deterministic split. The synthetic corpus vocabulary contains
    // "the" but none of the other seven Gopher function words, so the
    // ≥2-of-8 rule would reject EVERY raw doc (verified: 0 hits at
    // sf0.01) — docs with doc_id % 3 != 2 get a function-word preamble
    // so the gate discriminates and both outcomes flow into the
    // cap/split stages; the oracle replays the whole rule arithmetic
    Q("q_gopher_pipeline",
      (s, d) => {
        import graft.functions.TextAnalysis
        import graft.operators.Sampling
        val pre = "it has to be that good with and of all them "
        val docs = s.read.parquet(pq(d, "documents"))
          .select(col("doc_id"), col("source"),
            when(col("doc_id") % 3 =!= 2,
              concat(lit(pre), col("text")))
              .otherwise(col("text")).as("text"))
        val sig = TextAnalysis.gopherSignals(docs, "doc_id", "text",
          minWords = 10)
        val kept = docs.select(col("doc_id"), col("source"))
          .join(sig.where(col("keep") === 1)
            .select(col("doc_id"), col("n_words"), col("stop_hits")),
            "doc_id")
        val capped = Sampling.capPerGroup(kept, "source", "doc_id",
          cap = 40)
        Sampling.splitAssign(capped, "doc_id",
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), "gopher")
          .select(col("doc_id"), col("source"), col("n_words"),
            col("stop_hits"), col("split"))
      },
      Some(s"""WITH raw AS (SELECT doc_id,
                CASE WHEN CAST(doc_id % 3 AS INT) <> 2
                  THEN 'it has to be that good with and of all them '
                    || text
                  ELSE text END AS t
                FROM documents),
              $gopherSigCtes,
              kept AS (SELECT d.doc_id, d.source,
                  CAST(s.n_words AS BIGINT) AS n_words,
                  CAST(s.sh AS BIGINT) AS stop_hits
                FROM documents d JOIN sig s ON d.doc_id = s.doc_id
                WHERE ${gopherKeepSql(10)} = 1),
              capped AS (SELECT doc_id, source, n_words, stop_hits
                FROM (SELECT doc_id, source, n_words, stop_hits,
                    ROW_NUMBER() OVER (PARTITION BY source
                      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                      AS rk
                  FROM kept)
                WHERE rk <= 40)
              SELECT doc_id, source, n_words, stop_hits,
                CASE WHEN substr(md5('gopher'
                    || CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc'
                    THEN 'train'
                  WHEN substr(md5('gopher'
                    || CAST(doc_id AS VARCHAR)), 1, 4) < 'e666'
                    THEN 'val'
                  ELSE 'test' END AS split
              FROM capped""")),

    // CCNet-style LM quality scoring (Wenzek et al.): bigram LM trained
    // on the en subset, every >= 2-token doc scored by smoothed
    // perplexity. Counting only, so the oracle replays the exact
    // formula; bigrams are space-joined token pairs (collision-free:
    // whitespace tokens cannot contain a space); round in the final
    // projection.
    Q("q_lm_perplexity",
      (s, d) => {
        val docs = s.read.parquet(pq(d, "documents"))
        val model = graft.functions.LanguageModel.trainBigramLm(
          docs.where(col("lang") === "en"), "text")
        graft.functions.LanguageModel.perplexity(
            docs, "doc_id", "text", model)
          .select(col("doc_id"), col("n_bigrams"),
            round(col("ppl"), 4).as("ppl"))
      },
      Some(bigramLmOracleCtes + """
              SELECT doc_id, COUNT(*) AS n_bigrams,
                ROUND(EXP(-SUM(lp) / COUNT(*)), 4) AS ppl
              FROM lp GROUP BY doc_id""")),

    // multinomial Naive Bayes, trained and scored on the corpus with
    // lang as the class: training is pure counting, so the oracle
    // replays the full smoothed-posterior argmax in SQL — same
    // baseline+correction decomposition as the Scala plan, so the
    // float paths match shape-for-shape (round only in the final
    // projection; label-asc tiebreak both sides).
    Q("q_classify_nb",
      (s, d) => {
        val docs = s.read.parquet(pq(d, "documents"))
        val model = graft.functions.Classify.trainNaiveBayes(
          docs, "doc_id", "text", "lang")
        graft.functions.Classify.predictNaiveBayes(
            docs, "doc_id", "text", model)
          .select(col("doc_id"), col("predicted"),
            round(col("score"), 4).as("score"))
      },
      Some("""WITH toks AS (SELECT doc_id,
                  unnest(string_split_regex(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+'))
                    AS term
                FROM documents WHERE length(regexp_replace(text, '^\s+|\s+$', '', 'g')) > 0),
              n AS (SELECT doc_id, term, COUNT(*) AS n
                FROM toks GROUP BY 1, 2),
              dl AS (SELECT doc_id, CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0
                  THEN 0 ELSE
                  len(string_split_regex(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+')) END
                    AS dl
                FROM documents),
              cls AS (SELECT d.lang AS label, COUNT(*) AS n_docs,
                  SUM(dl.dl) AS tok_c
                FROM documents d JOIN dl USING (doc_id) GROUP BY 1),
              tc AS (SELECT d.lang AS label, n.term, SUM(n.n) AS cnt
                FROM n JOIN documents d USING (doc_id) GROUP BY 1, 2),
              st AS (SELECT (SELECT COUNT(*) FROM documents) AS n_total,
                  (SELECT COUNT(DISTINCT term) FROM toks) AS vocab),
              base AS (SELECT dl.doc_id, cls.label,
                  LN(cls.n_docs * 1.0 / st.n_total)
                    + dl.dl * LN(1.0 / (cls.tok_c + 1.0 * st.vocab))
                    AS b
                FROM dl CROSS JOIN cls CROSS JOIN st),
              corr AS (SELECT n.doc_id, tc.label,
                  SUM(n.n * LN((tc.cnt + 1.0) / 1.0)) AS c
                FROM n JOIN tc USING (term) GROUP BY 1, 2),
              scored AS (SELECT base.doc_id, base.label,
                  base.b + COALESCE(corr.c, 0.0) AS score
                FROM base LEFT JOIN corr
                  ON base.doc_id = corr.doc_id
                  AND base.label = corr.label)
              SELECT doc_id, label AS predicted,
                ROUND(score, 4) AS score
              FROM (SELECT doc_id, label, score, ROW_NUMBER() OVER (
                  PARTITION BY doc_id ORDER BY score DESC, label) AS rk
                FROM scored)
              WHERE rk = 1""")),

    // ---- language ID -----------------------------------------------
    // char-ngram language ID over the 28 planted rows (27 languages
    // across 9 scripts + one out-of-profile row): expected labels are
    // literal — the q_fix_mojibake pattern
    Q("q_langid_ngram",
      (s, d) => {
        val plants = array(langIdPlants.map(p => lit(p._2)): _*)
        s.read.parquet(pq(d, "documents"))
          .select(col("doc_id"),
            graft.plans.NativeFunctions.langIdNgramNative(
              element_at(plants,
                (col("doc_id") % langIdPlants.size + 1).cast("int")))
              .as("lang_pred"))
      },
      Some(langIdNgramOracleSql)),

    // data-driven language-ID profiles (round 13): the SAME planted
    // sentences and generated oracle as q_langid_ngram, but the
    // profile table is LOADED from a parquet fixture
    // (writeNgramProfiles → loadNgramProfiles round-trip of the
    // compiled-in 50) and rides the native expression as a codegen
    // reference object. Identical oracle = the contract that the
    // data-driven path is semantics-preserving; swapping to a wider
    // table (fastText breadth, a 51st language) is then a TABLE swap —
    // LangIdAccuracySpec proves the 51st-language case without a
    // recompile.
    Q("q_langid_table",
      (s, d) => {
        import graft.functions.TextAnalysis
        val root = Fixture(
          new java.io.File(d, "documents.parquet"),
          "graft_langid_profiles",
          // the fixture IS the compiled-in table: key on its content
          // so widening the table rebuilds instead of reusing stale
          codeKey = TextAnalysis.charNgramProfiles.toSeq
            .sortBy(_._1).toString.hashCode.toString) { tmp =>
          TextAnalysis.writeNgramProfiles(s,
            TextAnalysis.charNgramProfiles,
            new java.io.File(tmp, "profiles").toString)
        }
        val profiles = TextAnalysis.loadNgramProfiles(s,
          new java.io.File(root, "profiles").toString)
        val plants = array(langIdPlants.map(p => lit(p._2)): _*)
        s.read.parquet(pq(d, "documents"))
          .select(col("doc_id"),
            graft.plans.NativeFunctions.langIdNgramNative(
              element_at(plants,
                (col("doc_id") % langIdPlants.size + 1).cast("int")),
              profiles).as("lang_pred"))
      },
      Some(langIdNgramOracleSql)),

    // language-ID at pipeline altitude: native char-ngram classifier
    // feeds the mixture rebalancer (the q_gopher_pipeline move for
    // langid) — planted multilingual corpus, target blend en/zh/ru/ar
    // 40/30/20/10, every other language dropped. The oracle replays
    // the classifier as the planted CASE, the scarcest-source-binds
    // fraction plan, and the deterministic sampler's md5 threshold
    Q("q_langid_mixture",
      (s, d) => {
        val plants = array(langIdPlants.map(p => lit(p._2)): _*)
        val docs = s.read.parquet(pq(d, "documents"))
          .select(col("doc_id"),
            graft.plans.NativeFunctions.langIdNgramNative(
              element_at(plants,
                (col("doc_id") % langIdPlants.size + 1).cast("int")))
              .as("lang_pred"))
          .withColumn("w", lit(1L))
        graft.operators.Mixture.rebalance(docs, "doc_id", "lang_pred",
          "w", Map("en" -> 0.4, "zh" -> 0.3, "ru" -> 0.2, "ar" -> 0.1),
          salt = "lang")
          .groupBy(col("lang_pred")).agg(count(lit(1)).as("n_kept"))
      },
      Some {
        val n = langIdPlants.size
        val cases = langIdPlants.zipWithIndex.map { case ((l, _), i) =>
          s"WHEN $i THEN '$l'" }.mkString(" ")
        s"""WITH lp AS (SELECT doc_id, CASE CAST(doc_id % $n AS INT)
              $cases END AS lang_pred FROM documents),
            m AS (SELECT lang_pred, COUNT(*) AS mass FROM lp
              GROUP BY lang_pred),
            w AS (SELECT * FROM (VALUES ('en', CAST(0.4 AS DOUBLE)),
              ('zh', CAST(0.3 AS DOUBLE)), ('ru', CAST(0.2 AS DOUBLE)),
              ('ar', CAST(0.1 AS DOUBLE))) t(lang_pred, share)),
            f AS (SELECT m.lang_pred, LEAST(1.0, w.share *
                (SELECT MIN(m2.mass / w2.share) FROM m m2
                  JOIN w w2 USING (lang_pred)) / m.mass) AS frac
              FROM m JOIN w USING (lang_pred)),
            thr AS (SELECT lang_pred,
              CASE WHEN frac >= 1.0 - 1e-12 THEN 'g'
                ELSE printf('%04x', CAST(LEAST(floor(frac * 65536),
                  65535) AS INTEGER)) END AS th FROM f)
            SELECT lp.lang_pred, COUNT(*) AS n_kept
            FROM lp JOIN thr USING (lang_pred)
            WHERE substr(md5('lang' || CAST(lp.doc_id AS VARCHAR)), 1, 4)
              < thr.th
            GROUP BY lp.lang_pred"""
      }),

    // ---- HTML ------------------------------------------------------
    // crawl-HTML -> text extraction: the corpus has no HTML, so the
    // query synthesizes a document wrapper (head/style/script with an
    // embedded '<', entities, a comment, block tags) deterministically
    // in BOTH engines, then runs the identical RE2-portable
    // regexp_replace chain — script/style payload gone, blocks become
    // newlines, entities decoded (&amp; last)
    Q("q_html_extract",
      (s, d) => {
        val html = concat(
          lit("<html><head><title>T</title><style>p{color:red}</style>" +
            "<script>var x = 1 < 2;</script></head><body><h1>"),
          col("source"), lit("</h1>\n<p>"), col("text"),
          lit(" &amp; A &lt; B</p><!-- hidden --><div>tail</div>" +
            "</body></html>"))
        s.read.parquet(pq(d, "documents")).where(col("doc_id") < 200)
          .select(col("doc_id"),
            graft.functions.TextAnalysis.extractHtmlText(html)
              .as("extracted"))
      },
      Some("""WITH h AS (SELECT doc_id,
                '<html><head><title>T</title><style>p{color:red}</style><script>var x = 1 < 2;</script></head><body><h1>' ||
                source || '</h1>' || chr(10) || '<p>' || text ||
                ' &amp; A &lt; B</p><!-- hidden --><div>tail</div></body></html>'
                AS html FROM documents WHERE doc_id < 200),
              s1 AS (SELECT doc_id, regexp_replace(html,
                '(?is)<script\b[^>]*>.*?</script\s*>', ' ', 'g') AS t FROM h),
              s2 AS (SELECT doc_id, regexp_replace(t,
                '(?is)<style\b[^>]*>.*?</style\s*>', ' ', 'g') AS t FROM s1),
              s3 AS (SELECT doc_id, regexp_replace(t,
                '(?s)<!--.*?-->', ' ', 'g') AS t FROM s2),
              s4 AS (SELECT doc_id, regexp_replace(t,
                '(?i)</?(?:p|div|br|h[1-6]|li|ul|ol|table|tr|td|th|section|article|header|footer|blockquote|pre)\b[^>]*>',
                chr(10), 'g') AS t FROM s3),
              s5 AS (SELECT doc_id, regexp_replace(t,
                '(?s)<[^>]*>', ' ', 'g') AS t FROM s4),
              s6 AS (SELECT doc_id, regexp_replace(regexp_replace(
                regexp_replace(regexp_replace(regexp_replace(
                regexp_replace(t,
                '&nbsp;', ' ', 'g'), '&lt;', '<', 'g'), '&gt;', '>', 'g'),
                '&quot;', '"', 'g'), '&#39;|&apos;', '''', 'g'),
                '&amp;', '&', 'g') AS t FROM s5),
              s7 AS (SELECT doc_id, regexp_replace(t,
                '[ \t\x0B\f\r]+', ' ', 'g') AS t FROM s6),
              s8 AS (SELECT doc_id, regexp_replace(regexp_replace(t,
                ' ?\n ?', chr(10), 'g'), '\n{2,}', chr(10), 'g') AS t
                FROM s7)
              SELECT doc_id, regexp_replace(t, '^\s+|\s+$', '', 'g')
                AS extracted FROM s8""")),

    // text-density boilerplate removal: the synthesized page wraps the
    // document text with a nav bar, a too-short block, a link-heavy
    // "related" strip and a linky footer — only content-length,
    // link-sparse blocks survive. Lengths are counted pre-decode and
    // the density threshold is integer percent, so the keep decision is
    // exact in both engines; the oracle replays the identical
    // block-split + lambda scoring (COALESCE on the anchor join:
    // DuckDB's array_to_string of an empty list is NULL where Spark's
    // concat_ws is '')
    Q("q_html_boilerplate",
      (s, d) => {
        val html = concat(
          lit("<html><head><script>nav()</script></head><body>" +
            "<div><a href=\"/\">Home</a> <a href=\"/a\">About</a> " +
            "<a href=\"/c\">Contact</a></div><p>"),
          col("text"),
          lit("</p><div>This is the main article body, long enough " +
            "to keep.</div><div>Related: <a href=\"/x\">"),
          col("source"),
          lit(" article one</a></div><footer><a href=\"/p\">Privacy " +
            "policy</a> &amp; Example</footer></body></html>"))
        s.read.parquet(pq(d, "documents")).where(col("doc_id") < 200)
          .select(col("doc_id"),
            graft.functions.TextAnalysis.removeBoilerplate(html)
              .as("content"))
      },
      Some("""WITH h AS (SELECT doc_id,
                '<html><head><script>nav()</script></head><body><div><a href="/">Home</a> <a href="/a">About</a> <a href="/c">Contact</a></div><p>' ||
                text ||
                '</p><div>This is the main article body, long enough to keep.</div><div>Related: <a href="/x">' ||
                source ||
                ' article one</a></div><footer><a href="/p">Privacy policy</a> &amp; Example</footer></body></html>'
                AS html FROM documents WHERE doc_id < 200),
              s1 AS (SELECT doc_id,
                regexp_replace(regexp_replace(regexp_replace(html,
                  '(?is)<script\b[^>]*>.*?</script\s*>', ' ', 'g'),
                  '(?is)<style\b[^>]*>.*?</style\s*>', ' ', 'g'),
                  '(?s)<!--.*?-->', ' ', 'g') AS t FROM h),
              b AS (SELECT doc_id, string_split_regex(t,
                '(?i)</?(?:p|div|br|h[1-6]|li|ul|ol|table|tr|td|th|section|article|header|footer|blockquote|pre)\b[^>]*>')
                AS blocks FROM s1),
              sc AS (SELECT doc_id, list_transform(blocks,
                x -> struct_pack(
                  t := trim(regexp_replace(regexp_replace(x,
                    '(?s)<[^>]*>', ' ', 'g'), '\s+', ' ', 'g')),
                  l := trim(regexp_replace(regexp_replace(
                    COALESCE(array_to_string(regexp_extract_all(x,
                      '(?is)<a\b[^>]*>(.*?)</a\s*>', 1), ' '), ''),
                    '(?s)<[^>]*>', ' ', 'g'), '\s+', ' ', 'g'))))
                AS bs FROM b),
              k AS (SELECT doc_id, list_filter(bs,
                s -> length(s.t) >= 25
                  AND length(s.l) * 100 <= length(s.t) * 40) AS ks
                FROM sc)
              SELECT doc_id,
                regexp_replace(regexp_replace(regexp_replace(
                regexp_replace(regexp_replace(regexp_replace(
                  array_to_string(list_transform(ks, s -> s.t), chr(10)),
                '&nbsp;', ' ', 'g'), '&lt;', '<', 'g'),
                '&gt;', '>', 'g'), '&quot;', '"', 'g'),
                '&#39;|&apos;', '''', 'g'), '&amp;', '&', 'g')
                AS content
              FROM k""")),

    // numeric + named character-reference decode via the native
    // expression (no engine-portable SQL form exists for codepoint
    // emission, so the oracle CONSTRUCTS the expected decode of the
    // planted references: A/B by decimal/hex, curly quote + emoji by
    // chr(), single-pass &amp;lt; semantics, unknown and surrogate
    // references verbatim). Corpus text is &-free (checked), so the
    // planted suffix is the only decode site.
    Q("q_html_entities",
      (s, d) => {
        s.read.parquet(pq(d, "documents")).where(col("doc_id") < 200)
          .select(col("doc_id"),
            graft.plans.NativeFunctions.htmlEntitiesNative(concat(
              col("text"),
              lit(" &#65;&#x42; &rsquo;&#128077; &amp;lt; &bogus; &#xD800;")))
              .as("decoded"))
      },
      Some("""SELECT doc_id, text || ' AB ' || chr(8217) || chr(128077) ||
                ' &lt; &bogus; &#xD800;' AS decoded
              FROM documents WHERE doc_id < 200""")),

    // outlink extraction: planted pages exercising double/single/un-
    // quoted hrefs, attribute order, and a non-anchor href that must
    // NOT extract; the oracle replays the identical RE2 chain
    Q("q_html_links",
      (s, d) => {
        val pages = array(
          lit("<p>x</p><a href=\"/a1\">one</a><a id=q href='/a2'>two" +
            "</a>"),
          lit("<a class=z href=/bare>b</a><link href=\"/css\">" +
            "<A HREF=\"/caps\">c</A>"),
          lit("<a data-href=\"/tracker\" href=\"/real\">t</a>" +
            "no other links"))
        val html = element_at(pages, (col("doc_id") % 3 + 1).cast("int"))
        s.read.parquet(pq(d, "documents")).where(col("doc_id") < 150)
          .select(col("doc_id"),
            posexplode_outer(
              graft.functions.TextAnalysis.extractLinks(html))
              .as(Seq("pos", "link")))
      },
      Some("""WITH h AS (SELECT doc_id,
                CASE CAST(doc_id % 3 AS INT)
                  WHEN 0 THEN '<p>x</p><a href="/a1">one</a>' ||
                    '<a id=q href=''/a2''>two</a>'
                  WHEN 1 THEN '<a class=z href=/bare>b</a>' ||
                    '<link href="/css"><A HREF="/caps">c</A>'
                  ELSE '<a data-href="/tracker" href="/real">t</a>' ||
                    'no other links' END AS html
                FROM documents WHERE doc_id < 150),
              l AS (SELECT doc_id, list_transform(
                  regexp_extract_all(html,
                    '(?i)<a[\t\n\f\r ](?:[^>]*?[\t\n\f\r "''])?href[\t\n\f\r ]*=[\t\n\f\r ]*("[^"]*"|''[^'']*''|[^\t\n\f\r >"'']+)',
                    1),
                  v -> regexp_replace(v, '^["'']|["'']$', '', 'g'))
                  AS links
                FROM h),
              i AS (SELECT doc_id, links,
                  unnest(range(1, greatest(len(links), 1) + 1)) AS p
                FROM l)
              SELECT doc_id,
                CASE WHEN len(links) = 0 THEN NULL
                  ELSE CAST(p - 1 AS INT) END AS pos,
                links[p] AS link
              FROM i""")),

    // anchor (url, text) pairs: visible anchor text beside each link
    // target — inner tags stripped, whitespace collapsed; an anchor
    // never closed before EOF is dropped (no text to extract). The
    // oracle replays the identical two-group RE2 pattern and the
    // identical strip/collapse/trim chain, zipped by index.
    Q("q_html_anchors",
      (s, d) => {
        val pages = array(
          lit("<p>x</p><a href=\"/a1\">one</a>" +
            "<a id=q href='/a2'><b>two</b>\nwords</a>"),
          lit("<a class=z href=/bare>b</a><link href=\"/css\">" +
            "<A HREF=\"/caps\">Caps  Text</A>"),
          lit("<a href=\"/open\">never closed"))
        val html = element_at(pages, (col("doc_id") % 3 + 1).cast("int"))
        s.read.parquet(pq(d, "documents")).where(col("doc_id") < 150)
          .select(col("doc_id"),
            posexplode_outer(
              graft.functions.TextAnalysis.extractAnchors(html))
              .as(Seq("pos", "a")))
          .select(col("doc_id"), col("pos"),
            col("a.url").as("url"), col("a.anchor").as("anchor"))
      },
      Some("""WITH h AS (SELECT doc_id,
                CASE CAST(doc_id % 3 AS INT)
                  WHEN 0 THEN '<p>x</p><a href="/a1">one</a>' ||
                    '<a id=q href=''/a2''><b>two</b>' || chr(10) ||
                    'words</a>'
                  WHEN 1 THEN '<a class=z href=/bare>b</a>' ||
                    '<link href="/css"><A HREF="/caps">Caps  Text</A>'
                  ELSE '<a href="/open">never closed' END AS html
                FROM documents WHERE doc_id < 150),
              l AS (SELECT doc_id,
                list_transform(regexp_extract_all(html,
                  '(?is)<a[\t\n\f\r ](?:[^>]*?[\t\n\f\r "''])?href[\t\n\f\r ]*=[\t\n\f\r ]*("[^"]*"|''[^'']*''|[^\t\n\f\r >"'']+)[^>]*>(.*?)</[aA][\t\n\f\r ]*>',
                  1),
                  v -> regexp_replace(v, '^["'']|["'']$', '', 'g'))
                  AS urls,
                list_transform(regexp_extract_all(html,
                  '(?is)<a[\t\n\f\r ](?:[^>]*?[\t\n\f\r "''])?href[\t\n\f\r ]*=[\t\n\f\r ]*("[^"]*"|''[^'']*''|[^\t\n\f\r >"'']+)[^>]*>(.*?)</[aA][\t\n\f\r ]*>',
                  2),
                  t -> trim(regexp_replace(regexp_replace(t,
                    '<[^>]*>', ' ', 'g'), '\s+', ' ', 'g')))
                  AS texts
                FROM h),
              i AS (SELECT doc_id, urls, texts,
                  unnest(range(1, greatest(len(urls), 1) + 1)) AS p
                FROM l)
              SELECT doc_id,
                CASE WHEN len(urls) = 0 THEN NULL
                  ELSE CAST(p - 1 AS INT) END AS pos,
                urls[p] AS url, texts[p] AS anchor
              FROM i""")),

    // ---- URLs and robots.txt ---------------------------------------
    // URL canonicalization: synthesized crawl URLs exercise the tricky
    // cases — LEADING tracking param (seam repair must re-anchor the
    // query to '?'), trailing tracking param, fragment, default port,
    // mixed-case scheme/host vs case-preserved path — and the oracle
    // replays the identical regex chain (DuckDB \1 replacement syntax
    // for Spark's $1)
    Q("q_url_normalize",
      (s, d) => {
        val u = concat(lit("HTTPS://WWW."), col("source"),
          lit(".Example.COM:443/Path/"), col("doc_id").cast("string"),
          lit("?utm_source=news&id="), col("doc_id").cast("string"),
          lit("&fbclid=x#frag"))
        s.read.parquet(pq(d, "documents")).where(col("doc_id") < 200)
          .select(col("doc_id"),
            graft.functions.Urls.urlHost(u).as("host"),
            graft.functions.Urls.urlDomain(u).as("domain"),
            graft.functions.Urls.urlPath(u).as("path"),
            graft.functions.Urls.urlCanonicalize(u).as("canonical"))
      },
      Some("""WITH u AS (SELECT doc_id,
                'HTTPS://WWW.' || source || '.Example.COM:443/Path/' ||
                CAST(doc_id AS VARCHAR) || '?utm_source=news&id=' ||
                CAST(doc_id AS VARCHAR) || '&fbclid=x#frag' AS url
                FROM documents WHERE doc_id < 200),
              h AS (SELECT doc_id, url,
                lower(regexp_replace(regexp_replace(regexp_extract(url,
                  '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1),
                  '^[^@]*@', ''), ':[0-9]*$', '')) AS host FROM u),
              nf AS (SELECT doc_id, url, host,
                regexp_replace(url, '#.*', '', 'g') AS s FROM h),
              nt AS (SELECT doc_id, url, host, regexp_replace(s,
                '([?&])(utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid|mc_eid|ref_src)=[^&]*',
                '\1', 'g') AS s FROM nf),
              sm AS (SELECT doc_id, url, host,
                regexp_replace(regexp_replace(regexp_replace(s,
                  '\?&+', '?', 'g'), '&&+', '&', 'g'), '[?&]+$', '', 'g')
                AS s FROM nt),
              np AS (SELECT doc_id, url, host, regexp_replace(s,
                '^([A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#]*@)?[^/:?#]*):(?:80|443)([/?#]|$)',
                '\1\2', 'g') AS s FROM sm)
              SELECT doc_id, host,
                regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS domain,
                regexp_extract(url,
                  '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1)
                  AS path,
                lower(regexp_extract(s,
                  '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', 0)) ||
                substr(s, length(regexp_extract(s,
                  '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', 0)) + 1)
                  AS canonical
              FROM np""")),

    // PSL registrable domains: planted hosts exercise every rule class
    // — multi-label registries (co.uk/com.au), the Japanese city
    // wildcard+exception pair, wildcard-only zones (*.bd, *.ck with
    // !www.ck), and the default rule. The engine matches its full PSL
    // snapshot; the oracle replays longest-suffix match against the
    // EFFECTIVE suffixes of the planted hosts (wildcards expanded,
    // exceptions omitted — how a PSL rule set grounds out on concrete
    // hosts), so both sides compute the answer independently. Two
    // hosts sit beyond the curated fallback snapshot (co.bw, the
    // private-section github.io) and are green only with the full
    // bundled publicsuffix.org list loaded.
    Q("q_url_domain",
      (s, d) => {
        val hosts = array(
          lit("www.shop.example.co.uk"), lit("news.example.com.au"),
          lit("sub.city.kobe.jp"), lit("shop.foo.kobe.jp"),
          lit("x.y.foo.bd"), lit("a.www.ck"),
          lit("deep.a.b.ck"), lit("WWW.Example.COM"),
          // beyond the curated fallback snapshot — green only when the
          // FULL bundled list is loaded: an ICANN registry absent from
          // the fallback and a PRIVATE-section suffix
          lit("shop.example.co.bw"), lit("blog.demo.github.io"))
        val u = concat(lit("https://"),
          element_at(hosts, (col("doc_id") % 10 + 1).cast("int")),
          lit("/p"))
        s.read.parquet(pq(d, "documents")).where(col("doc_id") < 200)
          .select(col("doc_id"),
            graft.functions.Urls.urlHost(u).as("host"),
            graft.functions.Urls.urlDomain(u, psl = true)
              .as("domain_psl"),
            graft.functions.Urls.urlDomain(u).as("domain_naive"))
      },
      Some("""WITH hosts AS (SELECT doc_id, lower(CASE CAST(doc_id % 10 AS INT)
                  WHEN 0 THEN 'www.shop.example.co.uk'
                  WHEN 1 THEN 'news.example.com.au'
                  WHEN 2 THEN 'sub.city.kobe.jp'
                  WHEN 3 THEN 'shop.foo.kobe.jp'
                  WHEN 4 THEN 'x.y.foo.bd'
                  WHEN 5 THEN 'a.www.ck'
                  WHEN 6 THEN 'deep.a.b.ck'
                  WHEN 7 THEN 'WWW.Example.COM'
                  WHEN 8 THEN 'shop.example.co.bw'
                  ELSE 'blog.demo.github.io' END) AS host
                FROM documents WHERE doc_id < 200),
              sfx AS (SELECT * FROM (VALUES ('co.uk'), ('com.au'),
                  ('kobe.jp'), ('foo.kobe.jp'), ('foo.bd'), ('b.ck'),
                  ('co.bw'), ('github.io'))
                  t(s)),
              m AS (SELECT h.doc_id, h.host, MAX(length(s.s)) AS sl
                FROM hosts h LEFT JOIN sfx s
                  ON (h.host = s.s OR h.host LIKE '%.' || s.s)
                GROUP BY 1, 2)
              SELECT doc_id, host,
                CASE WHEN sl IS NULL THEN
                    regexp_extract(host, '([^.]+\.[^.]+)$', 1)
                  WHEN length(host) = sl THEN host
                  ELSE regexp_extract(
                      substr(host, 1, length(host) - sl - 1),
                      '([^.]+)$', 1) || '.' ||
                    substr(host, length(host) - sl + 1) END AS domain_psl,
                regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS domain_naive
              FROM m""")),

    // percent-encoding normalization: planted %-escapes cover decode
    // (unreserved %61/%41/%7e -> a/A/~), canonical-uppercase of kept
    // escapes (%2f -> %2F), and malformed passthrough (%zz); the
    // oracle replays the same spellings as literal replaces, and the
    // canonical column proves the pass rides urlCanonicalize ahead of
    // the fragment/lowercase steps
    Q("q_url_pct",
      (s, d) => {
        val u = concat(lit("HTTPS://Example.COM/P%61th/"),
          col("doc_id").cast("string"),
          lit("?q=%2fv%41l%7e&x=%4d%zz#f"))
        s.read.parquet(pq(d, "documents")).where(col("doc_id") < 200)
          .select(col("doc_id"),
            graft.functions.Urls.urlPctNormalize(u).as("normalized"),
            graft.functions.Urls.urlCanonicalize(u).as("canonical"))
      },
      Some("""WITH u AS (SELECT doc_id,
                'HTTPS://Example.COM/P%61th/' || CAST(doc_id AS VARCHAR) ||
                '?q=%2fv%41l%7e&x=%4d%zz#f' AS url
                FROM documents WHERE doc_id < 200),
              n AS (SELECT doc_id, replace(replace(replace(replace(
                replace(url, '%61', 'a'), '%41', 'A'), '%7e', '~'),
                '%2f', '%2F'), '%4d', 'M') AS normalized FROM u),
              c AS (SELECT doc_id, normalized,
                regexp_replace(normalized, '#.*', '', 'g') AS s FROM n)
              SELECT doc_id, normalized,
                lower(regexp_extract(s,
                  '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', 0)) ||
                substr(s, length(regexp_extract(s,
                  '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', 0)) + 1)
                  AS canonical
              FROM c""")),

    // IDN/punycode host normalization: planted ACE and plain hosts
    // (the q_url_domain planted pattern); host_unicode decodes xn--
    // labels through the JDK's RFC 3490 codec, host_ascii is the
    // encode direction (identity on already-ACE/plain input). The
    // oracle's expected decodings are literal and independently
    // documented (bücher/münchen/中国/рф/españa are the standard IDN
    // examples); the Unicode→ACE round trip is property-tested in
    // NativeExprSpec.
    Q("q_url_idn",
      (s, d) => {
        val hosts = array(
          lit("xn--bcher-kva.example"), lit("XN--MNCHEN-3YA.de"),
          lit("www.xn--fiqs8s"), lit("shop.xn--p1ai"),
          lit("xn--espaa-rta.com"), lit("plain.example.co.uk"),
          lit("münchen.de"), lit("www.中国"))
        val u = concat(lit("https://"),
          element_at(hosts, (col("doc_id") % 8 + 1).cast("int")),
          lit("/p"))
        s.read.parquet(pq(d, "documents")).where(col("doc_id") < 200)
          .select(col("doc_id"),
            graft.functions.Urls.urlHost(u).as("host"),
            graft.functions.Urls.urlIdnHost(u).as("host_unicode"),
            graft.functions.Urls.urlIdnHost(u, ascii = true)
              .as("host_ascii"))
      },
      Some("""WITH h AS (SELECT doc_id, CAST(doc_id % 8 AS INT) AS k,
                lower(CASE CAST(doc_id % 8 AS INT)
                  WHEN 0 THEN 'xn--bcher-kva.example'
                  WHEN 1 THEN 'XN--MNCHEN-3YA.de'
                  WHEN 2 THEN 'www.xn--fiqs8s'
                  WHEN 3 THEN 'shop.xn--p1ai'
                  WHEN 4 THEN 'xn--espaa-rta.com'
                  WHEN 5 THEN 'plain.example.co.uk'
                  WHEN 6 THEN 'münchen.de'
                  ELSE 'www.中国' END) AS host
                FROM documents WHERE doc_id < 200)
              SELECT doc_id, host,
                CASE k WHEN 0 THEN 'bücher.example'
                  WHEN 1 THEN 'münchen.de'
                  WHEN 2 THEN 'www.中国'
                  WHEN 3 THEN 'shop.рф'
                  WHEN 4 THEN 'españa.com'
                  WHEN 5 THEN 'plain.example.co.uk'
                  WHEN 6 THEN 'münchen.de'
                  ELSE 'www.中国' END AS host_unicode,
                CASE k WHEN 0 THEN 'xn--bcher-kva.example'
                  WHEN 1 THEN 'xn--mnchen-3ya.de'
                  WHEN 2 THEN 'www.xn--fiqs8s'
                  WHEN 3 THEN 'shop.xn--p1ai'
                  WHEN 4 THEN 'xn--espaa-rta.com'
                  WHEN 5 THEN 'plain.example.co.uk'
                  WHEN 6 THEN 'xn--mnchen-3ya.de'
                  ELSE 'www.xn--fiqs8s' END AS host_ascii
              FROM h""")),

    // robots.txt politeness gate over planted bodies + URL cases: the
    // Spark side runs the FULL parse (groups, comments, specific-group
    // precedence) then the longest-match verdict; the oracle replays
    // the matching math against the hand-derived effective rule table
    // for the agent — if the parse produced different rules, the
    // verdicts would diverge, so both layers are pinned
    Q("q_robots_filter",
      (s, d) => {
        val robotsA = "User-agent: *\nDisallow: /private\n" +
          "Allow: /private/ok # curated\nDisallow: /tmp*\n\n" +
          "User-agent: graftbot\nDisallow: /only-star-blocked\n"
        val robotsB = "User-agent: graftbot\nUser-agent: otherbot\n" +
          "Disallow: /\nAllow: /pub\n"
        val robotsD = "User-agent: *\nDisallow: /dl/*.zip\n" +
          "Allow: /dl/free\n"
        val robots = s.range(3).toDF("i").select(
          when(col("i") === 0, "a.com").when(col("i") === 1, "b.com")
            .otherwise("d.com").as("domain"),
          when(col("i") === 0, robotsA).when(col("i") === 1, robotsB)
            .otherwise(robotsD).as("body"))
        val ruleTable = graft.functions.Robots.rules(robots,
          "domain", "body")
        val domains = array(lit("a.com"), lit("a.com"), lit("a.com"),
          lit("b.com"), lit("b.com"), lit("c.com"), lit("b.com"),
          lit("a.com"), lit("d.com"), lit("d.com"))
        val paths = array(lit("/private/ok/x"),
          lit("/only-star-blocked/z"), lit("/tmp/y"), lit("/pub/doc"),
          lit("/secret"), lit("/anything"), lit("/"), lit("/private"),
          lit("/dl/stuff.zip"), lit("/dl/readme.txt"))
        val urls = s.read.parquet(pq(d, "documents"))
          .where(col("doc_id") < 200)
          .select(col("doc_id"),
            element_at(domains, (col("doc_id") % 10 + 1).cast("int"))
              .as("domain"),
            element_at(paths, (col("doc_id") % 10 + 1).cast("int"))
              .as("path"))
        graft.functions.Robots.verdict(urls, ruleTable, "graftbot",
          "domain", "path")
      },
      Some("""WITH rules AS (SELECT * FROM (VALUES
                ('a.com', FALSE, '/only-star-blocked', FALSE, NULL, 18),
                ('b.com', FALSE, '/', FALSE, NULL, 1),
                ('b.com', TRUE, '/pub', FALSE, NULL, 4),
                ('d.com', FALSE, NULL, TRUE, '^/dl/.*\.zip', 9),
                ('d.com', TRUE, '/dl/free', FALSE, NULL, 8))
                AS r(domain, allow, prefix, wildcard, pattern,
                  priority)),
              urls AS (SELECT doc_id,
                CASE CAST(doc_id % 10 AS INT)
                  WHEN 0 THEN 'a.com' WHEN 1 THEN 'a.com'
                  WHEN 2 THEN 'a.com' WHEN 3 THEN 'b.com'
                  WHEN 4 THEN 'b.com' WHEN 5 THEN 'c.com'
                  WHEN 6 THEN 'b.com' WHEN 7 THEN 'a.com'
                  ELSE 'd.com' END AS domain,
                CASE CAST(doc_id % 10 AS INT)
                  WHEN 0 THEN '/private/ok/x'
                  WHEN 1 THEN '/only-star-blocked/z'
                  WHEN 2 THEN '/tmp/y' WHEN 3 THEN '/pub/doc'
                  WHEN 4 THEN '/secret' WHEN 5 THEN '/anything'
                  WHEN 6 THEN '/' WHEN 7 THEN '/private'
                  WHEN 8 THEN '/dl/stuff.zip'
                  ELSE '/dl/readme.txt' END AS path
                FROM documents WHERE doc_id < 200),
              ranked AS (SELECT u.doc_id, u.domain, u.path, r.allow,
                  ROW_NUMBER() OVER (PARTITION BY u.doc_id
                    ORDER BY r.priority DESC NULLS LAST,
                      r.allow DESC) AS rk
                FROM urls u LEFT JOIN rules r
                  ON u.domain = r.domain
                    AND CASE WHEN r.wildcard
                      THEN regexp_matches(u.path, r.pattern)
                      ELSE starts_with(u.path, r.prefix) END)
              SELECT doc_id, domain, path,
                COALESCE(allow, TRUE) AS robots_allowed
              FROM ranked WHERE rk = 1""")),

    // effective Crawl-delay per domain — the frontier scheduler's
    // rate limit beside the allow/deny verdict. The fixture covers
    // the precedence matrix: agent delay shades '*' (a.com), '*'
    // fallback (b.com), unparsable agent value falls back rather
    // than meaning "no limit" (c.com has no '*' → absent), and
    // multiple delays collapse to the minimum (d.com). The oracle is
    // the hand-derived ground truth of those semantics.
    Q("q_crawl_delay",
      (s, d) => {
        val bodyA = "User-agent: *\nCrawl-delay: 10\nDisallow: /x\n\n" +
          "User-agent: graftbot\nCrawl-delay: 2.5\n"
        val bodyB = "User-agent: *\nCrawl-delay: 5\n"
        val bodyC = "User-agent: graftbot\nCrawl-delay: oops\n"
        val bodyD = "User-agent: graftbot\nDisallow: /q\n" +
          "Crawl-delay: 7\nCrawl-delay: 3\n"
        val robots = s.range(4).toDF("i").select(
          element_at(array(lit("a.com"), lit("b.com"), lit("c.com"),
            lit("d.com")), (col("i") + 1).cast("int")).as("domain"),
          element_at(array(lit(bodyA), lit(bodyB), lit(bodyC),
            lit(bodyD)), (col("i") + 1).cast("int")).as("body"))
        graft.functions.Robots.crawlDelays(robots, "domain", "body",
          "GraftBot")
      },
      Some("""SELECT * FROM (VALUES
              ('a.com', CAST(2.5 AS DOUBLE)),
              ('b.com', CAST(5 AS DOUBLE)),
              ('d.com', CAST(3 AS DOUBLE)))
              t(domain, crawl_delay)""")),

    // Sitemap records are domain-global (valid anywhere in the file,
    // never part of a group): extraction is a field filter with the
    // URL's case preserved; duplicates collapse
    Q("q_sitemaps",
      (s, d) => {
        val bodyA = "Sitemap: https://a.com/sm1.xml\nUser-agent: *\n" +
          "Disallow: /x\nSitemap: https://a.com/sm2.xml\n"
        val bodyB = "User-agent: *\nCrawl-delay: 5\n"
        val bodyD = "Sitemap: https://d.com/SM.xml\n" +
          "Sitemap: https://d.com/SM.xml\n"
        val robots = s.range(3).toDF("i").select(
          element_at(array(lit("a.com"), lit("b.com"), lit("d.com")),
            (col("i") + 1).cast("int")).as("domain"),
          element_at(array(lit(bodyA), lit(bodyB), lit(bodyD)),
            (col("i") + 1).cast("int")).as("body"))
        graft.functions.Robots.sitemaps(robots, "domain", "body")
      },
      Some("""SELECT * FROM (VALUES
              ('a.com', 'https://a.com/sm1.xml'),
              ('a.com', 'https://a.com/sm2.xml'),
              ('d.com', 'https://d.com/SM.xml'))
              t(domain, sitemap)""")),

    // ---- BPE tokenization ------------------------------------------
    // BPE merge-pair statistics (Sennrich et al. 2016): top-20
    // adjacent-symbol pairs at merge step 0, counted over distinct
    // word types weighted by frequency — the corpus touches ONE
    // counting aggregation; pairs come off the vocabulary-scale type
    // table. Deterministic through ties (cnt desc, pair asc).
    Q("q_bpe_pairs",
      (s, d) => graft.functions.Bpe.topPairs(
        s.read.parquet(pq(d, "documents")), "text", 20),
      Some("""WITH words AS (SELECT
                  unnest(string_split_regex(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+'))
                    AS w
                FROM documents),
              wf AS (SELECT w, COUNT(*) AS wf FROM words
                WHERE w <> '' GROUP BY 1),
              p AS (SELECT unnest(list_transform(range(1, len(c)),
                    i -> c[i] || ' ' || c[i + 1])) AS pair, wf
                FROM (SELECT string_split(w, '') AS c, wf FROM wf))
              SELECT pair, CAST(SUM(wf) AS BIGINT) AS cnt FROM p
              GROUP BY 1 ORDER BY cnt DESC, pair LIMIT 20""")),

    // Greedy BPE encode under a fixed literal merge list (including a
    // same-symbol merge, the run-adjacency edge case). The oracle
    // replays the encoder EXACTLY via nested REPLACE over a sequence
    // whose symbols each carry their own boundary spaces — with
    // per-symbol boundaries, SQL REPLACE's continue-after-replacement
    // scan IS the paper's merge semantics (property-checked against
    // the native expression in BpeSpec); the REPLACE chain is
    // generated from the same demoMerges list the query ships, so the
    // two sides cannot drift.
    Q("q_bpe_encode",
      (s, d) => {
        s.read.parquet(pq(d, "documents"))
          .select(col("doc_id"),
            graft.functions.Bpe.encode(lower(trim(col("text"))),
              graft.functions.Bpe.demoMerges).as("sub"))
          .select(col("doc_id"),
            size(col("sub")).cast("long").as("n_subwords"),
            concat_ws(" ", col("sub")).as("enc"))
      },
      Some(bpeEncodeOracleSql)),

    // byte-level (GPT-2-style) BPE on RAW synthesized text: the
    // engine runs the real regex pre-tokenizer + bytes_to_unicode
    // alphabet + merge list; the oracle replays the same pipeline
    // with the pre-tokens grounded out analytically (the text is
    // built from literals chosen to exercise contractions,
    // punctuation, space-carrying 'Ġ' tokens, and a per-doc digit
    // run that stays unmerged)
    Q("q_bpe_encode_bytes",
      (s, d) => {
        val t = concat(lit("hello world, it's rank "),
          col("doc_id").cast("string"))
        s.read.parquet(pq(d, "documents")).where(col("doc_id") < 200)
          .select(col("doc_id"),
            graft.functions.Bpe.encodeBytes(t,
              graft.functions.Bpe.demoByteMerges).as("sub"))
          .select(col("doc_id"),
            size(col("sub")).cast("long").as("n_subwords"),
            concat_ws(" ", col("sub")).as("enc"))
      },
      Some(bpeEncodeBytesOracleSql)),

    // text → token IDS, the form a trainer consumes: encodeBytesToIds
    // rides the vocabulary as one map literal; ids on both sides come
    // from the same deterministic vocabBytes assignment (the oracle's
    // CASE is GENERATED from it), so the check pins the id layout —
    // GPT-2's base-byte ids then rank-ordered merge products
    Q("q_bpe_token_ids",
      (s, d) => {
        val t = concat(lit("hello world, it's rank "),
          col("doc_id").cast("string"))
        s.read.parquet(pq(d, "documents")).where(col("doc_id") < 200)
          .select(col("doc_id"),
            concat_ws(",", graft.functions.Bpe.encodeBytesToIds(t,
                graft.functions.Bpe.demoByteMerges)
              .cast("array<string>")).as("ids"))
      },
      Some(bpeTokenIdsOracleSql)),

    // byte-level losslessness, proven over REAL corpus text (not a
    // synthesized fixture): decode(encode(text)) must equal text for
    // every document — the property that makes byte-level the right
    // alphabet for training data (no OOV, no normalization loss). The
    // oracle is the analytic constant the property asserts; any
    // pre-tokenizer character drop or byte-map error breaks the hash.
    Q("q_bpe_roundtrip_bytes",
      (s, d) => {
        val enc = graft.functions.Bpe.encodeBytes(col("text"),
          graft.functions.Bpe.demoByteMerges)
        s.read.parquet(pq(d, "documents"))
          .select(col("doc_id"),
            (graft.functions.Bpe.decodeBytes(enc) === col("text"))
              .as("lossless"))
      },
      Some("""SELECT doc_id, CAST(TRUE AS BOOLEAN) AS lossless
              FROM documents""")),

    // one full BPE TRAINING iteration under the driver gate: find the
    // best step-0 pair (cnt desc, pair asc — the trainer's tiebreak),
    // apply it to every word type, recount. The oracle computes the
    // best pair itself and replays the application via the wrapped-
    // symbol REPLACE (symbols keep owning their boundary spaces after
    // a merge, so post-merge symbols are exactly the double-space
    // split), proving the iterative loop's core — count/pick/apply —
    // in SQL, not just its step-0 statistics.
    Q("q_bpe_train_step",
      (s, d) => {
        val docs = s.read.parquet(pq(d, "documents"))
        val best = graft.functions.Bpe.topPairs(docs, "text", 1)
          .collect()(0).getString(0).split(" ", 2)
        graft.functions.Bpe.pairCountsWithMerges(
            docs, "text", Seq(best(0) -> best(1)))
          .orderBy(col("cnt").desc, col("pair").asc).limit(20)
      },
      Some("""WITH words AS (SELECT
                  unnest(string_split_regex(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+'))
                    AS w
                FROM documents),
              wf AS (SELECT w, COUNT(*) AS wf FROM words
                WHERE w <> '' GROUP BY 1),
              p0 AS (SELECT unnest(list_transform(range(1, len(c)),
                    i -> c[i] || ' ' || c[i + 1])) AS pair, wf
                FROM (SELECT string_split(w, '') AS c, wf FROM wf)),
              best AS (SELECT pair, CAST(SUM(wf) AS BIGINT) AS cnt FROM p0
                GROUP BY 1 ORDER BY cnt DESC, pair LIMIT 1),
              applied AS (SELECT REPLACE(
                  ' ' || array_to_string(string_split(w, ''),
                    repeat(' ', 2)) || ' ',
                  ' ' || split_part(best.pair, ' ', 1) ||
                    repeat(' ', 2) ||
                    split_part(best.pair, ' ', 2) || ' ',
                  ' ' || replace(best.pair, ' ', '') || ' ') AS s, wf
                FROM wf CROSS JOIN best),
              rc AS (SELECT unnest(list_transform(range(1, len(sy)),
                    i -> sy[i] || ' ' || sy[i + 1])) AS pair, wf
                FROM (SELECT string_split(trim(s), repeat(' ', 2))
                    AS sy, wf
                  FROM applied))
              SELECT pair, CAST(SUM(wf) AS BIGINT) AS cnt FROM rc
              GROUP BY 1 ORDER BY cnt DESC, pair LIMIT 20""")))
}
