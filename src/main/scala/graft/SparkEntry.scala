package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
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

  /** SQL-escape a single-quoted literal's body. */
  private[graft] def sqlEsc(s: String): String = s.replace("'", "''")

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

  /** The events table with `ts` as session-zone TimestampType micros.
    * The table may store ts as timestamp[ns] (read as a long under the
    * nanosAsLong conf [[GraftSession.builder]] sets) or timestamp[us]
    * (read natively as TIMESTAMP_NTZ, no annotation); either layout
    * normalizes to one ts type for every events query, in the SQL and
    * the streaming domains. */
  private[graft] def events(s: SparkSession, d: String): DataFrame = {
    val df = s.read.parquet(pq(d, "events"))
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ => df.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** DuckDB replay of LanguageModel.trainBigramLm on the en subset and
    * of each >= 2-token doc's add-one-smoothed bigram log-probabilities
    * `lp(doc_id, lp)`: the oracle prefix of q_lm_perplexity and
    * q_curation_pipeline. */
  private[graft] val bigramLmOracleCtes =
    """WITH uni AS (SELECT w, COUNT(*) AS cnt FROM (
          SELECT unnest(string_split_regex(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')),
            '\s+')) AS w
          FROM documents
          WHERE lang = 'en' AND length(regexp_replace(text, '^\s+|\s+$', '', 'g')) > 0)
        GROUP BY 1),
      voc AS (SELECT COUNT(*) AS v FROM uni),
      bi AS (SELECT bg, COUNT(*) AS cnt FROM (
          SELECT unnest(list_transform(range(1, len(l)),
            i -> l[i] || ' ' || l[i + 1])) AS bg
          FROM (SELECT string_split_regex(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')),
              '\s+') AS l
            FROM documents
            WHERE lang = 'en' AND length(regexp_replace(text, '^\s+|\s+$', '', 'g')) > 0)
          WHERE len(l) >= 2)
        GROUP BY 1),
      cand AS (SELECT doc_id,
          unnest(list_transform(range(1, len(l)),
            i -> l[i] || ' ' || l[i + 1])) AS bg
        FROM (SELECT doc_id,
            string_split_regex(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+') AS l
          FROM documents WHERE length(regexp_replace(text, '^\s+|\s+$', '', 'g')) > 0)
        WHERE len(l) >= 2),
      lp AS (SELECT cand.doc_id,
          LN((COALESCE(bi.cnt, 0) + 1.0)
            / (COALESCE(uni.cnt, 0) + 1.0 * voc.v)) AS lp
        FROM cand LEFT JOIN bi USING (bg)
          LEFT JOIN uni
            ON uni.w = split_part(cand.bg, ' ', 1)
          CROSS JOIN voc)"""

  /** English stopwords of TextAnalysis.qualityScore's stopword ratio,
    * as a DuckDB list literal. */
  private[graft] val qualityStopwordsSql =
    """['the','of','and','to','a','in','is','it','that',
      'was','for','on','with','as','at','by','this','are',
      'be']"""

  /** Per-language stopword hits over a CTE list column `ltoks`, the
    * counts TextAnalysis.langId takes the argmax of. */
  private[graft] val langHitsSql =
    s"""len(list_intersect(list_distinct(ltoks),
        $qualityStopwordsSql)) AS h_en,
      len(list_intersect(list_distinct(ltoks),
        ['der','die','das','und','ist','ein','eine','zu',
         'den','von','mit','auf','für','im','nicht','sich',
         'auch'])) AS h_de,
      len(list_intersect(list_distinct(ltoks),
        ['le','la','les','de','des','et','est','un','une',
         'du','dans','que','qui','pour','pas','sur','au',
         'avec'])) AS h_fr,
      len(list_intersect(list_distinct(ltoks),
        ['el','la','los','las','de','y','es','un','una',
         'del','en','que','no','por','con','para','se',
         'su'])) AS h_es"""

  /** `quality` and `lang_pred` over the ratio columns and
    * [[langHitsSql]]: TextAnalysis.qualityScore's weights and
    * langId's argmax, as q_text_quality and q_pipeline_e2e replay them. */
  private[graft] val qualityScoreSql =
    """ROUND(least(ntok / 50.0, CAST(1.0 AS DOUBLE)) * 0.25
        + alpha_r * 0.25
        + greatest(CAST(0.0 AS DOUBLE),
            1.0 - punct_r * 5.0) * 0.2
        + (CASE WHEN mtl BETWEEN 2.0 AND 12.0
            THEN CAST(1.0 AS DOUBLE)
            ELSE CAST(0.2 AS DOUBLE) END) * 0.15
        + least(stop_r * 5.0, CAST(1.0 AS DOUBLE)) * 0.15, 4)
        AS quality,
      CASE WHEN greatest(h_en, h_de, h_fr, h_es) = 0 THEN 'und'
        ELSE (SELECT l FROM (VALUES ('en', h_en), ('de', h_de),
          ('fr', h_fr), ('es', h_es)) v(l, h)
          ORDER BY h DESC, l DESC LIMIT 1)
      END AS lang_pred"""

  /** Every operator query runs in its own pin scope: pins its operators
    * keep for results the query consumes eagerly are released when it
    * returns (the parity queries pin nothing). */
  private[graft] val registry: Seq[Q] =
    RegistryParity.entries ++ (RegistrySql.entries ++
      RegistryStreaming.entries ++ RegistryDedup.entries ++
      RegistryRetrieval.entries ++ RegistryText.entries ++
      RegistryFormats.entries ++ RegistryMultimodal.entries ++
      RegistryPipelines.entries).map(q => q.copy(run = (s, d) =>
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
