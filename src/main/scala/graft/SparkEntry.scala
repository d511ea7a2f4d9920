package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Driver contract — one `queries` entry per implemented operator from
 * SURVEY.md §2, each paired (where SQL-expressible) with DuckDB oracle SQL
 * over the same parquet tables.
 *
 * Conventions shared by every query/oracle pair:
 *  - every computed column is aliased identically on both sides (the
 *    driver's compare sorts columns by name before hashing);
 *  - order-dependent double aggregates (sum/avg/stddev over doubles) are
 *    rounded to 4 decimals on BOTH sides, since Spark and DuckDB may sum
 *    partitions in different orders (min/max/count need no rounding —
 *    they are exact);
 *  - no query relies on row order (the driver sorts before hashing);
 *    explicitly ordered queries (top-k) use unique tie-breakers.
 */
object SparkEntry {

  /** One registered query: name, Spark impl, optional DuckDB oracle SQL. */
  private[graft] final case class Q(
      name: String,
      run: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  private[graft] def pq(dir: String, table: String) = s"$dir/$table.parquet"

  /** One oracle for BOTH q_merge_upsert and q_cdc_snapshot — the two
    * queries are documented to produce the identical final state, so
    * they must share one literal (two copies would let the gates
    * silently test different oracles if the change set evolves). */
  private[graft] val mergeUpsertOracleSql =
    """WITH base AS (SELECT o_orderkey, o_totalprice,
                o_orderstatus, 0 AS version, FALSE AS is_delete, 0 AS src
                FROM orders),
              upd AS (
                SELECT o_orderkey, CAST(o_orderkey AS DOUBLE)
                    AS o_totalprice, 'U' AS o_orderstatus, 1 AS version,
                  FALSE AS is_delete, 1 AS src
                FROM orders WHERE o_orderkey % 10 < 3
                UNION ALL
                SELECT o_orderkey, NULL, NULL, 1, TRUE, 1
                FROM orders WHERE o_orderkey % 10 = 3
                UNION ALL
                SELECT -o_orderkey, CAST(o_orderkey AS DOUBLE), 'N', 1,
                  FALSE, 1
                FROM orders WHERE o_orderkey % 10 = 4),
              log AS (SELECT * FROM base UNION ALL SELECT * FROM upd),
              win AS (SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY o_orderkey
                  ORDER BY version DESC, src DESC) AS rk FROM log)
              SELECT o_orderkey, o_totalprice, o_orderstatus
              FROM win WHERE rk = 1 AND NOT is_delete"""

  /** One exact-profile oracle shared by q_profile (verbatim) and
    * q_profile_approx (wrapped with the constant verdict column) — the
    * sketch gate and the exact gate must replay the SAME arithmetic, so
    * they share one literal. */
  private[graft] val profileExactOracleSql =
    """SELECT 'l_quantity' AS "column", COUNT(*) AS n_rows,
                COUNT(l_quantity) AS n_nonnull,
                COUNT(DISTINCT l_quantity) AS n_distinct,
                ROUND(CAST(MIN(l_quantity) AS DOUBLE), 4) AS min_v,
                ROUND(CAST(MAX(l_quantity) AS DOUBLE), 4) AS max_v,
                ROUND(CAST(AVG(l_quantity) AS DOUBLE), 4) AS avg_v
              FROM lineitem
              UNION ALL
              SELECT 'l_extendedprice', COUNT(*),
                COUNT(l_extendedprice), COUNT(DISTINCT l_extendedprice),
                ROUND(CAST(MIN(l_extendedprice) AS DOUBLE), 4),
                ROUND(CAST(MAX(l_extendedprice) AS DOUBLE), 4),
                ROUND(CAST(AVG(l_extendedprice) AS DOUBLE), 4)
              FROM lineitem
              UNION ALL
              SELECT 'l_discount', COUNT(*),
                COUNT(l_discount), COUNT(DISTINCT l_discount),
                ROUND(CAST(MIN(l_discount) AS DOUBLE), 4),
                ROUND(CAST(MAX(l_discount) AS DOUBLE), 4),
                ROUND(CAST(AVG(l_discount) AS DOUBLE), 4)
              FROM lineitem"""


  /** Oracle for q_bpe_encode, generated from [[graft.functions.Bpe
    * .demoMerges]] so the SQL replay and the shipped merge list cannot
    * drift. Each symbol carries its OWN boundary spaces (symbols
    * joined by two spaces), under which nested REPLACE is exactly the
    * greedy merge semantics of [[graft.plans.BpeCodec]] — see
    * BpeSpec's property test. */
  private[graft] val bpeEncodeOracleSql: String = {
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

  /** SQL-escape a single-quoted literal's body. */
  private[graft] def sqlEsc(s: String): String = s.replace("'", "''")

  /** The shared `e` CTE replaying the byte-level demo encode: the
    * REPLACE-chain generated from demoByteMerges (single quotes
    * SQL-escaped — the merge list contains the contraction
    * apostrophe); the pre-token list is the GPT-2 regex grounded out
    * BY HAND on the synthesized text — letters/punct map to
    * themselves under bytes_to_unicode, the pre-token's leading space
    * to 'Ġ' — so the oracle replays pre-tokenization, byte mapping,
    * and merges without needing lookahead regex support in DuckDB. */
  private[graft] val bpeBytesEncCte: String = {
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

  private[graft] val bpeEncodeBytesOracleSql: String =
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
  private[graft] val bpeTokenIdsOracleSql: String = {
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

  /** Round an order-dependent double aggregate for oracle stability. */
  private[graft] def r4(df: DataFrame, cols: String*): DataFrame =
    cols.foldLeft(df)((d, c) => d.withColumn(c, round(col(c), 4)))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference README's own example — `aggregate_pq(file, ['f0'],
    * ['f2'])` (`/root/reference/README.md:83-97`) — on lineitem. */
  def entry(spark: SparkSession): DataFrame =
    AggregateEngine.aggregatePq(spark,
      "/root/testdata/sf0.001/lineitem.parquet",
      groupbyCols = Seq("l_returnflag"),
      measureCols = Seq(Seq("l_quantity", "sum", "sum_qty")))


  private[graft] def events(s: SparkSession, d: String): DataFrame = {
    // driver testdata has stored ts as timestamp[ns] (Spark reads nanos
    // only as a long, via this legacy conf) or timestamp[us] (read
    // natively as TIMESTAMP_NTZ, no annotation). Accept either physical
    // layout and normalize to session-zone TimestampType micros so every
    // downstream events query sees one ts type.
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = s.read.parquet(pq(d, "events"))
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ => df.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  // Round-6 extensions: semantic dedup, span cuts, persisted-state
  // admission, 128-bit span keys, bucket-drop accounting
  // =========================================================================

  /** Shared planting for the span-cut queries: every doc gets the first
    * 12 words of donor doc (doc_id % 10) appended — identical to
    * q_dup_spans, so the three span queries exercise one corpus shape. */
  private[graft] def spanAugmented(s: SparkSession, d: String): DataFrame = {
    import graft.functions.TextAnalysis
    val docs = s.read.parquet(pq(d, "documents"))
      .repartition(s.sparkContext.defaultParallelism)
    val donors = docs.where(col("doc_id") < 10)
      .select(col("doc_id").as("__don_id"),
        concat_ws(" ", slice(TextAnalysis.tokens(col("text")), 1, 12))
          .as("__don_txt"))
    docs.select(col("doc_id"), col("text"))
      .join(broadcast(donors), col("doc_id") % 10 === col("__don_id"))
      .select(col("doc_id"),
        concat(col("text"), lit(" "), col("__don_txt")).as("text"))
  }

  /** DuckDB replay of [[spanAugmented]] + per-doc span statistics —
    * shared verbatim by q_dup_spans (64-bit keys) and q_dup_spans_128:
    * the two modes are the same semantics by contract, so they get the
    * same oracle STRING, not a copy. A `def` (not val): referenced
    * from the round-3 section, which initializes earlier in the
    * object. */
  private[graft] def spanStatsOracle: String =
    """WITH don AS (SELECT doc_id AS don_id, array_to_string(
         list_slice(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+'), 1, 12),
         ' ') AS don_txt
         FROM documents WHERE doc_id < 10),
       aug AS (SELECT d.doc_id, d.text || ' ' ||
           don.don_txt AS text
         FROM documents d JOIN don ON d.doc_id % 10 = don.don_id),
       t AS (SELECT doc_id,
         string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS toks FROM aug),
       e AS (SELECT doc_id, unnest(list_transform(
           generate_series(0, greatest(len(toks) - 10, 0)),
           i -> array_to_string(list_slice(toks, i+1, i+10), ' ')))
           AS win FROM t),
       c AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY win) AS occ
         FROM e)
       SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
         CAST(SUM(CASE WHEN occ >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_spans,
         ROUND(CAST(SUM(CASE WHEN occ >= 2 THEN 1 ELSE 0 END)
           AS DOUBLE) / COUNT(*), 4) AS dup_span_frac
       FROM c GROUP BY doc_id"""

  /** DuckDB replay of [[spanAugmented]] + window occurrence counts +
    * interval merge — the shared oracle prefix for the span-cut pair. */
  private[graft] val spanCutOracleCtes =
    """WITH don AS (SELECT doc_id AS don_id, array_to_string(
         list_slice(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+'), 1, 12), ' ')
           AS don_txt
         FROM documents WHERE doc_id < 10),
       aug AS (SELECT d.doc_id, d.text || ' ' || don.don_txt AS text
         FROM documents d JOIN don ON d.doc_id % 10 = don.don_id),
       t AS (SELECT doc_id,
         string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS toks FROM aug),
       w0 AS (SELECT doc_id, toks, unnest(generate_series(0,
           greatest(len(toks) - 10, 0))) AS i FROM t),
       w AS (SELECT doc_id, i, least(i + 10, len(toks)) AS e,
           array_to_string(list_slice(toks, i + 1, i + 10), ' ') AS win
         FROM w0),
       c AS (SELECT doc_id, i, e, COUNT(*) OVER (PARTITION BY win) AS occ
         FROM w),
       dup AS (SELECT doc_id, i, e FROM c WHERE occ >= 2),
       f AS (SELECT doc_id, i, e, CASE WHEN i > COALESCE(MAX(e) OVER (
           PARTITION BY doc_id ORDER BY i
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
           THEN 1 ELSE 0 END AS ng FROM dup),
       g AS (SELECT doc_id, i, e, SUM(ng) OVER (PARTITION BY doc_id
           ORDER BY i ROWS UNBOUNDED PRECEDING) AS grp FROM f),
       cuts AS (SELECT doc_id, MIN(i) AS s, MAX(e) AS e
         FROM g GROUP BY doc_id, grp)"""

  /** Shared CDC change set over orders: base snapshot (version 0) plus
    * updates / tombstones / inserts (version 1) — exact-valued payloads
    * (a cast key), so no FP arithmetic rides the gate. Used by
    * `q_merge_upsert` (one-shot merge) and `q_cdc_snapshot` (the same
    * merge through the epoch/bucket snapshot layout) so both share one
    * oracle shape. */
  private[graft] def ordersChangeSet(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val orders = s.read.parquet(pq(d, "orders"))
    val base = orders.select(col("o_orderkey"), col("o_totalprice"),
      col("o_orderstatus"), lit(0L).as("version"),
      lit(false).as("is_delete"))
    val updates = orders.where(col("o_orderkey") % 10 < 3)
      .select(col("o_orderkey"),
        col("o_orderkey").cast("double").as("o_totalprice"),
        lit("U").as("o_orderstatus"), lit(1L).as("version"),
        lit(false).as("is_delete"))
      .unionAll(orders.where(col("o_orderkey") % 10 === 3)
        .select(col("o_orderkey"),
          lit(null).cast("double").as("o_totalprice"),
          lit(null).cast("string").as("o_orderstatus"),
          lit(1L).as("version"), lit(true).as("is_delete")))
      .unionAll(orders.where(col("o_orderkey") % 10 === 4)
        .select((-col("o_orderkey")).as("o_orderkey"),
          col("o_orderkey").cast("double").as("o_totalprice"),
          lit("N").as("o_orderstatus"), lit(1L).as("version"),
          lit(false).as("is_delete")))
    (base, updates)
  }

  /** Lazily-materialized CDC snapshot fixture: the [[ordersChangeSet]]
    * applied as two epochs through [[graft.streaming.CdcPipeline]]'s
    * log-structured layout — built once per testdata identity, so the
    * steady-state bench time measures the snapshot READ (latest
    * committed epoch per bucket), the shape a downstream consumer
    * pays. */
  private[graft] def cdcSnapshotFixture(s: SparkSession, d: String): String = {
    val root = Fixture(new java.io.File(d, "orders.parquet"),
      "graft_cdc_snapshot") { tmp =>
      val snap = new java.io.File(tmp, "snap").toString
      val (base, updates) = ordersChangeSet(s, d)
      graft.streaming.CdcPipeline.applyBatch(s, base, snap,
        Seq("o_orderkey"), "version", "is_delete", numBuckets = 16,
        epoch = 0L)
      graft.streaming.CdcPipeline.applyBatch(s, updates, snap,
        Seq("o_orderkey"), "version", "is_delete", numBuckets = 16,
        epoch = 1L)
    }
    new java.io.File(root, "snap").toString
  }

  /** [[cdcSnapshotFixture]]'s end-of-life twin: the same two epochs,
    * then a FULL compaction, then the old epoch dirs deleted — the
    * retention flow the log-structured layout exists for. The staged
    * rename-commit (data + tombstoned-empty-bucket sentinels + bucket
    * marker published atomically) is what makes the deletion safe: the
    * compacted epoch alone must serve every bucket, including the
    * empty-now ones, or deleted keys would resurrect. Final state is
    * identical to the uncompacted snapshot, so the oracle is shared. */
  private[graft] def cdcCompactedFixture(s: SparkSession, d: String): String = {
    val root = Fixture(new java.io.File(d, "orders.parquet"),
      "graft_cdc_compacted") { tmp =>
      val snap = new java.io.File(tmp, "snap").toString
      val (base, updates) = ordersChangeSet(s, d)
      graft.streaming.CdcPipeline.applyBatch(s, base, snap,
        Seq("o_orderkey"), "version", "is_delete", numBuckets = 16,
        epoch = 0L)
      graft.streaming.CdcPipeline.applyBatch(s, updates, snap,
        Seq("o_orderkey"), "version", "is_delete", numBuckets = 16,
        epoch = 1L)
      val next = graft.streaming.CdcPipeline.compactSnapshot(s, snap,
        Seq("o_orderkey"), numBuckets = 16)
      require(next == 2L, s"expected compaction epoch 2, got $next")
      Seq(0L, 1L).foreach { e =>
        org.apache.commons.io.FileUtils.deleteDirectory(
          new java.io.File(s"$snap/epoch=$e"))
      }
    }
    new java.io.File(root, "snap").toString
  }

  /** Lazily-materialized admission-state fixture (band index parquet +
    * Bloom sketch bytes) via [[Fixture]] — built on first
    * use, REUSED by every later run in any process, so
    * q_ingest_admission_state's steady-state bench time measures
    * admission against prebuilt state (the production shape: state is
    * maintained incrementally beside the corpus, never rebuilt per
    * batch — `IngestPipeline.nearDupIngestIncremental` is the writer). */
  private[graft] def admissionState(s: SparkSession, d: String,
                             history: DataFrame): (Array[Byte], DataFrame) = {
    val root = Fixture(new java.io.File(d, "documents.parquet"),
      "graft_admission_state") { tmp =>
      graft.operators.Dedup.minhashBands(history, "doc_id", "text")
        .withColumnRenamed("doc_id", "seen_id")
        .write.mode("overwrite")
        .parquet(new java.io.File(tmp, "bands").toString)
      val sketch = graft.operators.Dedup.buildSeenSketch(history, "text",
        expectedItems = 10000L, numBits = 1L << 17).get
      java.nio.file.Files.write(
        new java.io.File(tmp, "sketch").toPath, sketch)
    }
    (java.nio.file.Files.readAllBytes(
      new java.io.File(root, "sketch").toPath),
      s.read.parquet(new java.io.File(root, "bands").toString))
  }

  /** Lazily-materialized Z-ordered lineitem fixture via
    * [[Fixture]]: built once per testdata identity and
    * REUSED — earlier revisions rebuilt the clustered copy into a
    * fresh never-deleted temp dir on EVERY query construction (each
    * bench warmup/run, each Verify, each PlanGuard plan), leaking a
    * full table copy per call. The steady-state bench number now
    * measures the read-side skipping, which is the operator's claim —
    * the one-time write cost is the build, exercised by ZOrderSpec. */
  private[graft] def zorderFixture(s: SparkSession, d: String): String =
    Fixture(new java.io.File(d, "lineitem.parquet"),
      "graft_zorder") { tmp =>
      val li = s.read.parquet(pq(d, "lineitem"))
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
      graft.sources.ZOrder.writeZOrdered(li, tmp.toString,
        Seq("l_orderkey", "l_partkey"), bits = 10, numFiles = 16)
    }.toString

  /** Range-clustered lineitem copy (16 files tight in l_orderkey) plus
    * its [[graft.sources.StatsIndex]] manifest, built once per source
    * content — the bench then measures the index-consulted read. */
  private[graft] def statsIndexFixture(s: SparkSession, d: String): java.io.File =
    Fixture(new java.io.File(d, "lineitem.parquet"),
      "graft_stats_index_v3") { tmp =>
      val li = s.read.parquet(pq(d, "lineitem"))
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
      val data = new java.io.File(tmp, "data").toString
      li.repartitionByRange(16, col("l_orderkey"))
        .sortWithinPartitions("l_orderkey")
        .write.mode("overwrite").parquet(data)
      graft.sources.StatsIndex.writeIndex(s, data,
        new java.io.File(tmp, "index").toString, Seq("l_orderkey"),
        bloomCols = Seq("l_orderkey"))
    }


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


  /** Every operator query runs in its own pin scope: pins its operators
    * keep for results the query consumes eagerly are released when it
    * returns (the parity queries pin nothing). */
  private[graft] val registry: Seq[Q] =
    RegistryParity.entries ++ (RegistryExtensions.entries ++
      RegistryPipelines.entries ++ RegistryRound3.entries ++
      RegistryRound6.entries ++ RegistryRound11.entries ++
      RegistryRound13.entries ++ RegistryRound14.entries ++
      RegistryRound15.entries ++ RegistryRound16.entries ++
      RegistryRound17.entries ++ RegistryRound18.entries ++
      RegistryRound19.entries).map(q => q.copy(run = (s, d) =>
        graft.operators.Checkpoints.scoped(_ => q.run(s, d))))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    * Whitespace runs collapse to one space — INCLUDING inside string
    * literals, so multi-space literals must be built as expressions
    * (`repeat(' ', 2)`, the BPE oracles). No `stripMargin`: it was a
    * no-op for every legitimate literal and destructively ate the
    * first pipe of any line-leading `||` (bit two round-8 oracles;
    * RegistrySpec's lone-pipe guard keeps the class out). */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(o =>
      q.name -> o.replaceAll("\\s+", " ").trim)).toMap
}
