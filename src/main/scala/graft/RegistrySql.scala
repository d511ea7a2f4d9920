package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import SparkEntry._

/** SQL-surface queries beyond the reference (SURVEY.md §2.4-2.8):
  * joins, windows, sorts, set operations, grouping sets, reshapes,
  * scalar functions, event analytics, column profiles, percentiles
  * and the mergeable sketches (MG, HLL, CMS, KLL, theta). */
private[graft] object RegistrySql {

  /** One exact-profile oracle shared by q_profile (verbatim) and
    * q_profile_approx (wrapped with the constant verdict column) — the
    * sketch gate and the exact gate must replay the SAME arithmetic, so
    * they share one literal. */
  private val profileExactOracleSql =
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

  val entries: Seq[Q] = Seq(
    // ---- joins -----------------------------------------------------
    // Star-schema join: fact lineitem ⋈ broadcast dims. At 100 TB the dims
    // stay broadcast-able (region/nation/customer are small); the single
    // shuffle is the lineitem↔orders equi-join.
    Q("q_join_star",
      (s, d) => {
        val li = s.read.parquet(pq(d, "lineitem"))
        val o = s.read.parquet(pq(d, "orders"))
        val c = s.read.parquet(pq(d, "customer"))
        val n = s.read.parquet(pq(d, "nation"))
        val r = s.read.parquet(pq(d, "region"))
        // revenue summed as DECIMAL: a double sum of 10^5+ terms at 1e9+
        // magnitude depends on partial-sum order (Spark partials vs the
        // oracle's sequential scan diverged in the 4th decimal at
        // sf0.1). The per-row product is computed in double identically
        // by both engines, then cast to decimal — exact, order-free
        // addition — and only the final value returns to double.
        // SHUFFLE_HASH on orders (optimization round 19, guide §3.1):
        // the projected orders side is a quarter of the fact table —
        // hash-building it per partition replaces sorting both sides
        // of the only shuffled join (measured −0.4 s at sf0.1); AQE
        // partition sizing keeps the per-partition build bounded at
        // scale
        li.join(o.hint("SHUFFLE_HASH"), li("l_orderkey") === o("o_orderkey"))
          .join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .groupBy(col("r_name"))
          .agg(round(sum((col("l_extendedprice") *
              (lit(1.0) - col("l_discount"))).cast("decimal(20,6)"))
              .cast("double"), 4)
            .as("revenue"),
            count(lit(1)).as("n_rows"))
      },
      Some("""SELECT r_name,
              ROUND(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                AS DECIMAL(20,6))) AS DOUBLE), 4) AS revenue,
              COUNT(*) AS n_rows
              FROM lineitem
              JOIN orders ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
              JOIN nation ON c_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
              GROUP BY r_name""")),

    Q("q_join_left",
      (s, d) => {
        val o = s.read.parquet(pq(d, "orders"))
        val c = s.read.parquet(pq(d, "customer"))
        o.join(broadcast(c), o("o_custkey") === c("c_custkey"), "left")
          .groupBy(col("c_mktsegment"))
          .agg(count(col("o_orderkey")).as("n_orders"),
            round(sum(col("o_totalprice")), 4).as("total"))
      },
      Some("""SELECT c_mktsegment, COUNT(o_orderkey) AS n_orders,
              ROUND(SUM(o_totalprice), 4) AS total
              FROM orders LEFT JOIN customer ON o_custkey = c_custkey
              GROUP BY c_mktsegment""")),

    Q("q_join_semi",
      (s, d) => {
        val o = s.read.parquet(pq(d, "orders"))
        val li = s.read.parquet(pq(d, "lineitem"))
          .where(col("l_quantity") > 45).select(col("l_orderkey"))
        o.join(li, o("o_orderkey") === li("l_orderkey"), "left_semi")
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"))
      },
      Some("""SELECT o_orderstatus, COUNT(*) AS n FROM orders
              WHERE o_orderkey IN
                (SELECT l_orderkey FROM lineitem WHERE l_quantity > 45)
              GROUP BY o_orderstatus""")),

    Q("q_join_anti",
      (s, d) => {
        val o = s.read.parquet(pq(d, "orders"))
        val li = s.read.parquet(pq(d, "lineitem"))
          .where(col("l_quantity") > 45).select(col("l_orderkey"))
        o.join(li, o("o_orderkey") === li("l_orderkey"), "left_anti")
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"))
      },
      Some("""SELECT o_orderstatus, COUNT(*) AS n FROM orders
              WHERE o_orderkey NOT IN
                (SELECT l_orderkey FROM lineitem WHERE l_quantity > 45)
              GROUP BY o_orderstatus""")),

    // as-of join (operator Spark lacks; see operators.TemporalJoin):
    // latest 'view' value at-or-before each 'click', per user. Both
    // sides truncated to seconds (events carry nanosecond timestamps —
    // DuckDB compares at ns, Spark at µs; sub-second ordering would
    // diverge) and views pre-aggregated to one row per (user, second)
    // so the matched value is deterministic in both engines.
    Q("q_asof_join",
      (s, d) => {
        val ev = events(s, d)
        val clicks = ev.where(col("event_type") === "click")
          .select(col("user_id"), col("event_id"),
            date_trunc("second", col("ts")).as("cts"))
        val views = ev.where(col("event_type") === "view")
          .groupBy(col("user_id"),
            date_trunc("second", col("ts")).as("vts"))
          .agg(max(col("value")).as("view_value"))
        graft.operators.TemporalJoin.asofJoin(clicks, views,
          Seq("user_id"), "cts", "vts", Seq("view_value"))
          .select(col("user_id"), col("event_id"),
            date_format(col("cts"), "yyyy-MM-dd HH:mm:ss").as("ts_str"),
            round(col("view_value"), 4).as("view_value"))
      },
      Some("""SELECT l.user_id, l.event_id,
              strftime(l.cts, '%Y-%m-%d %H:%M:%S') AS ts_str,
              ROUND(r.view_value, 4) AS view_value
              FROM (SELECT user_id, event_id,
                      date_trunc('second', ts) AS cts
                    FROM events WHERE event_type = 'click') l
              ASOF LEFT JOIN
                   (SELECT user_id, date_trunc('second', ts) AS vts,
                           MAX(value) AS view_value
                    FROM events WHERE event_type = 'view'
                    GROUP BY 1, 2) r
              ON l.user_id = r.user_id AND l.cts >= r.vts""")),

    // range-containment join (bin-bucketed, no cartesian): distinct ship
    // days falling inside each order's [orderdate, orderdate + k] window
    Q("q_range_join",
      (s, d) => {
        val shipDays = s.read.parquet(pq(d, "lineitem"))
          .select(col("l_shipdate")).distinct()
        val ranges = s.read.parquet(pq(d, "orders"))
          .where(col("o_orderkey") < 500)
          .select(col("o_orderkey"), col("o_orderdate"),
            date_add(col("o_orderdate").cast("date"),
              (col("o_orderkey") % 30 + 1).cast("int")).as("r_end"))
        graft.operators.TemporalJoin.rangeJoin(shipDays, ranges,
          "l_shipdate", "o_orderdate", "r_end", binSeconds = 86400L * 16)
          .groupBy(col("o_orderkey"))
          .agg(count(lit(1)).as("n_ship_days"))
      },
      Some("""SELECT o.o_orderkey, COUNT(*) AS n_ship_days
              FROM (SELECT DISTINCT l_shipdate FROM lineitem) p
              JOIN (SELECT o_orderkey, o_orderdate,
                      o_orderdate::DATE
                        + CAST((o_orderkey % 30) + 1 AS INTEGER) AS r_end
                    FROM orders WHERE o_orderkey < 500) o
              ON p.l_shipdate BETWEEN o.o_orderdate AND o.r_end
              GROUP BY o.o_orderkey""")),

    // blocked fuzzy join: part names vs a typo'd copy (last char dropped)
    Q("q_fuzzy_join",
      (s, d) => {
        val names = s.read.parquet(pq(d, "part"))
          .groupBy(col("p_name")).agg(min(col("p_partkey")).as("id"))
        val typos = names.select((col("id") + 1000000L).as("id"),
          expr("substring(p_name, 1, length(p_name) - 1)").as("p_name"))
        graft.operators.FuzzyJoin.levenshteinJoin(
          names, "id", "p_name", typos, "id", "p_name",
          maxDist = 2, prefixLen = 2, bandWidth = 8)
      },
      Some("""WITH nm AS (SELECT p_name, MIN(p_partkey) AS id FROM part
                GROUP BY p_name),
              ty AS (SELECT id + 1000000 AS id_r,
                substr(p_name, 1, length(p_name) - 1) AS text_r FROM nm),
              l AS (SELECT id AS id_l, p_name AS text_l FROM nm)
              SELECT id_l, id_r, text_l, text_r,
                CAST(levenshtein(text_l, text_r) AS INTEGER) AS dist
              FROM l JOIN ty ON substr(text_l, 1, 2) = substr(text_r, 1, 2)
                AND abs(floor(length(text_l) / 8) -
                  floor(length(text_r) / 8)) <= 1
                AND levenshtein(text_l, text_r) <= 2""")),

    // Bloom-gated semi-join reduction: lineitem joined to a selective
    // part slice with the big side pre-filtered at the scan by the
    // small side's key sketch — no false negatives, so the gated join
    // ≡ the plain join the oracle runs. The 100 TB shape: only
    // probable matches enter the shuffle.
    Q("q_bloom_join",
      (s, d) => {
        val li = s.read.parquet(pq(d, "lineitem"))
          .select(col("l_partkey"), col("l_quantity"))
        val pt = s.read.parquet(pq(d, "part"))
          .where(col("p_size") === 1)
          .select(col("p_partkey").as("l_partkey"), col("p_brand"))
        graft.operators.Skew.bloomGatedJoin(li, pt, Seq("l_partkey"))
          .groupBy(col("p_brand"))
          .agg(sum(col("l_quantity")).cast("long").as("sum_qty"),
            count(lit(1)).as("n"))
      },
      Some("""SELECT p_brand, CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
                COUNT(*) AS n
              FROM lineitem JOIN part ON l_partkey = p_partkey
              WHERE p_size = 1
              GROUP BY p_brand""")),

    // salting must be semantically invisible: oracle is the plain join
    Q("q_skew_salted_join",
      (s, d) => graft.operators.Skew.saltedJoin(
        s.read.parquet(pq(d, "lineitem"))
          .select(col("l_orderkey"), col("l_quantity")),
        s.read.parquet(pq(d, "orders"))
          .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus")),
        Seq("l_orderkey"), buckets = 8)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 4).as("qty")),
      Some("""SELECT o_orderstatus, COUNT(*) AS n,
              ROUND(SUM(l_quantity), 4) AS qty
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              GROUP BY o_orderstatus""")),

    // ---- window functions ------------------------------------------
    Q("q_window_rank",
      (s, d) => {
        val o = s.read.parquet(pq(d, "orders"))
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        o.withColumn("rn", row_number().over(w))
          .where(col("rn") <= 3)
          .select(col("o_custkey"), col("o_orderkey"),
            col("o_totalprice"), col("rn"))
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
                SELECT o_custkey, o_orderkey, o_totalprice,
                  ROW_NUMBER() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
                FROM orders) t WHERE rn <= 3""")),

    Q("q_window_running_sum",
      (s, d) => {
        val o = s.read.parquet(pq(d, "orders"))
        val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        o.select(col("o_custkey"), col("o_orderkey"),
          round(sum(col("o_totalprice")).over(w), 4).as("running_total"))
      },
      Some("""SELECT o_custkey, o_orderkey,
              ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey
                ORDER BY o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
                AS running_total
              FROM orders""")),

    Q("q_window_lag_lead",
      (s, d) => {
        val o = s.read.parquet(pq(d, "orders"))
        val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
        o.select(col("o_custkey"), col("o_orderkey"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"),
          lead(col("o_totalprice"), 1).over(w).as("next_price"))
      },
      Some("""SELECT o_custkey, o_orderkey,
              LAG(o_totalprice, 1) OVER (PARTITION BY o_custkey
                ORDER BY o_orderkey) AS prev_price,
              LEAD(o_totalprice, 1) OVER (PARTITION BY o_custkey
                ORDER BY o_orderkey) AS next_price
              FROM orders""")),

    // ---- sorts / limits / top-k ------------------------------------
    Q("q_sort_limit",
      (s, d) => s.read.parquet(pq(d, "orders"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
        .select(col("o_orderkey"), col("o_totalprice")),
      Some("""SELECT o_orderkey, o_totalprice FROM orders
              ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""")),

    Q("q_topk_agg",
      (s, d) => s.read.parquet(pq(d, "lineitem"))
        .groupBy(col("l_partkey"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("l_partkey"))
        .limit(10),
      Some("""SELECT l_partkey,
              ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
              FROM lineitem GROUP BY l_partkey
              ORDER BY revenue DESC, l_partkey LIMIT 10""")),

    // ---- set operations --------------------------------------------
    Q("q_union",
      (s, d) => {
        val c = s.read.parquet(pq(d, "customer"))
          .select(col("c_nationkey").as("nk"))
        val su = s.read.parquet(pq(d, "supplier"))
          .select(col("s_nationkey").as("nk"))
        c.union(su).distinct()
      },
      Some("""SELECT c_nationkey AS nk FROM customer
              UNION SELECT s_nationkey AS nk FROM supplier""")),

    Q("q_intersect",
      (s, d) => {
        val c = s.read.parquet(pq(d, "customer"))
          .select(col("c_nationkey").as("nk"))
        val su = s.read.parquet(pq(d, "supplier"))
          .select(col("s_nationkey").as("nk"))
        c.intersect(su)
      },
      Some("""SELECT c_nationkey AS nk FROM customer
              INTERSECT SELECT s_nationkey AS nk FROM supplier""")),

    Q("q_except",
      (s, d) => {
        val c = s.read.parquet(pq(d, "customer"))
          .select(col("c_nationkey").as("nk"))
        val su = s.read.parquet(pq(d, "supplier"))
          .select(col("s_nationkey").as("nk"))
        c.except(su)
      },
      Some("""SELECT c_nationkey AS nk FROM customer
              EXCEPT SELECT s_nationkey AS nk FROM supplier""")),

    Q("q_distinct",
      (s, d) => s.read.parquet(pq(d, "lineitem"))
        .select(col("l_returnflag"), col("l_linestatus")).distinct(),
      Some("""SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem""")),

    // by-name union across drifted schemas: the second shard gained
    // n_chars and narrowed doc_id to int; lang is null-filled there,
    // n_chars on the first, and doc_id widens back to bigint
    Q("q_union_evolve",
      (s, d) => {
        val docs = s.read.parquet(pq(d, "documents"))
        graft.operators.Merge.unionEvolve(Seq(
          docs.where(col("doc_id") < 100)
            .select(col("doc_id"), col("source"), col("lang")),
          docs.where(col("doc_id") >= 400)
            .select(col("doc_id").cast("int").as("doc_id"), col("source"),
              length(col("text")).cast("bigint").as("n_chars"))))
      },
      Some("""SELECT doc_id, source, lang, NULL AS n_chars
              FROM documents WHERE doc_id < 100
              UNION ALL
              SELECT doc_id, source, NULL AS lang, length(text) AS n_chars
              FROM documents WHERE doc_id >= 400""")),

    // ---- grouping sets and reshapes --------------------------------
    Q("q_rollup",
      (s, d) => s.read.parquet(pq(d, "lineitem"))
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 4).as("sum_qty"),
          count(lit(1)).as("n")),
      Some("""SELECT l_returnflag, l_linestatus,
              ROUND(SUM(l_quantity), 4) AS sum_qty, COUNT(*) AS n
              FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""")),

    Q("q_cube",
      (s, d) => s.read.parquet(pq(d, "lineitem"))
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n")),
      Some("""SELECT l_returnflag, l_linestatus, COUNT(*) AS n
              FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""")),

    // pivot (wide aggregation); coalesce because Spark yields null for an
    // empty (group, pivot-value) cell where SQL FILTER counts give 0
    Q("q_pivot",
      (s, d) => {
        val p = events(s, d)
          .groupBy((col("user_id") % 10).as("user_mod"))
          .pivot("event_type", Seq("click", "view", "purchase"))
          .agg(count(lit(1)))
        p.select(col("user_mod"),
          coalesce(col("click"), lit(0L)).as("click"),
          coalesce(col("view"), lit(0L)).as("view"),
          coalesce(col("purchase"), lit(0L)).as("purchase"))
      },
      Some("""SELECT user_id % 10 AS user_mod,
              COUNT(*) FILTER (WHERE event_type = 'click') AS click,
              COUNT(*) FILTER (WHERE event_type = 'view') AS view,
              COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase
              FROM events GROUP BY 1""")),

    // wide-to-long reshape (Spark Dataset.unpivot; SURVEY §2.6 family)
    Q("q_unpivot",
      (s, d) => s.read.parquet(pq(d, "lineitem"))
        .where(col("l_orderkey") < 100)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("double").as("l_quantity"),
          col("l_extendedprice"), col("l_discount"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
          "metric", "val")
        .withColumn("val", round(col("val"), 4)),
      Some("""SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
                ROUND(CAST(l_quantity AS DOUBLE), 4) AS val
              FROM lineitem WHERE l_orderkey < 100
              UNION ALL
              SELECT l_orderkey, l_linenumber, 'l_extendedprice',
                ROUND(CAST(l_extendedprice AS DOUBLE), 4)
              FROM lineitem WHERE l_orderkey < 100
              UNION ALL
              SELECT l_orderkey, l_linenumber, 'l_discount',
                ROUND(CAST(l_discount AS DOUBLE), 4)
              FROM lineitem WHERE l_orderkey < 100""")),

    // salting must be semantically invisible: oracle is the plain GROUP BY
    Q("q_skew_salted",
      (s, d) => graft.operators.Skew.saltedAggregate(
        s.read.parquet(pq(d, "lineitem")), Seq("l_returnflag"), Seq(
          Seq("l_quantity", "sum", "qty_sum"),
          Seq("l_quantity", "count", "qty_n"),
          Seq("l_quantity", "mean", "qty_avg"),
          Seq("l_quantity", "min", "qty_min"),
          Seq("l_quantity", "max", "qty_max")), buckets = 8)
        .withColumn("qty_sum", round(col("qty_sum"), 4))
        .withColumn("qty_avg", round(col("qty_avg"), 4)),
      Some("""SELECT l_returnflag, ROUND(SUM(l_quantity), 4) AS qty_sum,
              COUNT(l_quantity) AS qty_n, ROUND(AVG(l_quantity), 4) AS qty_avg,
              MIN(l_quantity) AS qty_min, MAX(l_quantity) AS qty_max
              FROM lineitem GROUP BY l_returnflag""")),

    // ---- scalar functions ------------------------------------------
    Q("q_scalar_string",
      (s, d) => s.read.parquet(pq(d, "part"))
        .select(col("p_partkey"),
          upper(col("p_brand")).as("brand_u"),
          substring(col("p_name"), 1, 5).as("name_pfx"),
          length(col("p_type")).as("type_len"),
          concat(col("p_brand"), lit("#"), col("p_type")).as("brand_type")),
      Some("""SELECT p_partkey, UPPER(p_brand) AS brand_u,
              SUBSTRING(p_name, 1, 5) AS name_pfx,
              CAST(LENGTH(p_type) AS INT) AS type_len,
              p_brand || '#' || p_type AS brand_type FROM part""")),

    Q("q_scalar_date",
      (s, d) => s.read.parquet(pq(d, "orders"))
        .groupBy(year(col("o_orderdate")).cast("long").as("yr"),
          month(col("o_orderdate")).cast("long").as("mo"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 4).as("total")),
      Some("""SELECT EXTRACT(YEAR FROM o_orderdate) AS yr,
              EXTRACT(MONTH FROM o_orderdate) AS mo, COUNT(*) AS n,
              ROUND(SUM(o_totalprice), 4) AS total
              FROM orders GROUP BY 1, 2""")),

    Q("q_scalar_math",
      (s, d) => s.read.parquet(pq(d, "lineitem"))
        .where(col("l_orderkey") <= 500)
        .select(col("l_orderkey"), col("l_linenumber"),
          abs(col("l_quantity") - lit(25.0)).as("qty_dev"),
          floor(col("l_extendedprice")).as("price_floor"),
          ceil(col("l_discount") * lit(100.0)).as("disc_pct"),
          sqrt(col("l_quantity")).as("qty_sqrt")),
      Some("""SELECT l_orderkey, l_linenumber,
              ABS(l_quantity - 25.0) AS qty_dev,
              CAST(FLOOR(l_extendedprice) AS BIGINT) AS price_floor,
              CAST(CEIL(l_discount * 100.0) AS BIGINT) AS disc_pct,
              SQRT(l_quantity) AS qty_sqrt
              FROM lineitem WHERE l_orderkey <= 500""")),

    Q("q_case_when",
      (s, d) => s.read.parquet(pq(d, "lineitem"))
        .select(when(col("l_quantity") < 10, "low")
          .when(col("l_quantity") < 30, "mid")
          .otherwise("high").as("qty_band"))
        .groupBy(col("qty_band")).agg(count(lit(1)).as("n")),
      Some("""SELECT CASE WHEN l_quantity < 10 THEN 'low'
                WHEN l_quantity < 30 THEN 'mid' ELSE 'high' END AS qty_band,
              COUNT(*) AS n FROM lineitem GROUP BY 1""")),

    // JSON scalar functions (§2.8) over the events.props JSON column;
    // oracle SUM(BIGINT) CAST to BIGINT (DuckDB surfaces it as hugeint)
    Q("q_scalar_json",
      (s, d) => events(s, d)
        .select(get_json_object(col("props"), "$.k").cast("bigint").as("k"))
        .groupBy((col("k") % 10).as("k_mod"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("k_sum")),
      Some("""SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10
                AS k_mod, COUNT(*) AS n,
              CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS k_sum
              FROM events GROUP BY 1""")),

    // array scalar functions (§2.8) over the embeddings vector column:
    // fold in declared order on both engines (element order preserved)
    Q("q_scalar_array",
      (s, d) => s.read.parquet(pq(d, "embeddings"))
        .where(col("vec_id") < 100)
        .select(col("vec_id"),
          size(col("embedding")).cast("bigint").as("dim"),
          round(aggregate(col("embedding").cast("array<double>"),
            lit(0.0), (acc, x) => acc + x), 4).as("vec_sum"),
          round(array_max(col("embedding")).cast("double"), 4)
            .as("vec_max")),
      Some("""SELECT vec_id, len(embedding) AS dim,
              ROUND(list_sum(list_transform(embedding,
                x -> CAST(x AS DOUBLE))), 4) AS vec_sum,
              ROUND(CAST(list_max(embedding) AS DOUBLE), 4) AS vec_max
              FROM embeddings WHERE vec_id < 100""")),

    // ---- event analytics -------------------------------------------
    Q("q_funnel",
      (s, d) => graft.operators.Analytics.funnel(events(s, d),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase")),
      Some("""WITH t1 AS (SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS t1
                FROM events WHERE event_type = 'view' GROUP BY user_id),
              t2 AS (SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t2
                FROM events e JOIN t1 ON e.user_id = t1.user_id
                WHERE e.event_type = 'click'
                  AND CAST(e.ts AS TIMESTAMP) > t1.t1 GROUP BY e.user_id),
              t3 AS (SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t3
                FROM events e JOIN t2 ON e.user_id = t2.user_id
                WHERE e.event_type = 'purchase'
                  AND CAST(e.ts AS TIMESTAMP) > t2.t2 GROUP BY e.user_id)
              SELECT 'view' AS step, 1 AS step_idx, COUNT(*) AS n_users
                FROM t1
              UNION ALL SELECT 'click', 2, COUNT(*) FROM t2
              UNION ALL SELECT 'purchase', 3, COUNT(*) FROM t3""")),

    Q("q_cohort",
      (s, d) => graft.operators.Analytics.cohortRetention(events(s, d),
        "user_id", "ts"),
      Some("""WITH f AS (SELECT user_id, CAST(MIN(ts) AS DATE) AS cohort
                FROM events GROUP BY user_id),
              a AS (SELECT e.user_id, f.cohort,
                CAST(floor(date_diff('day', f.cohort, CAST(e.ts AS DATE))
                  / 7.0) AS BIGINT) AS age_weeks
                FROM events e JOIN f ON e.user_id = f.user_id)
              SELECT strftime(cohort, '%Y-%m-%d') AS cohort_date, age_weeks,
                COUNT(DISTINCT user_id) AS n_users
              FROM a GROUP BY 1, 2""")),

    Q("q_histogram",
      (s, d) => graft.operators.Analytics.histogram(
        s.read.parquet(pq(d, "lineitem")), "l_extendedprice", 5000.0),
      Some("""SELECT CAST(floor(l_extendedprice / 5000.0) AS BIGINT) *
                CAST(5000.0 AS DOUBLE) AS bin_lo, COUNT(*) AS n
              FROM lineitem WHERE l_extendedprice IS NOT NULL
              GROUP BY 1""")),

    // snapshot drift: price distribution of even- vs odd-orderkey halves
    // (a deterministic split standing in for two ingestion rounds);
    // per-bin probabilities + total-variation distance
    Q("q_drift",
      (s, d) => {
        val li = s.read.parquet(pq(d, "lineitem"))
        graft.operators.Analytics.distributionDrift(
          li.where(col("l_orderkey") % 2 === 0),
          li.where(col("l_orderkey") % 2 === 1),
          "l_extendedprice", 10000.0)
      },
      Some("""WITH b AS (SELECT CAST(floor(l_extendedprice / 10000.0)
                  AS BIGINT) AS bin, COUNT(*) AS nb
                FROM lineitem WHERE l_orderkey % 2 = 0
                  AND l_extendedprice IS NOT NULL GROUP BY 1),
              a AS (SELECT CAST(floor(l_extendedprice / 10000.0)
                  AS BIGINT) AS bin, COUNT(*) AS na
                FROM lineitem WHERE l_orderkey % 2 = 1
                  AND l_extendedprice IS NOT NULL GROUP BY 1),
              j AS (SELECT COALESCE(b.bin, a.bin) AS bin,
                  COALESCE(nb, 0) AS nb, COALESCE(na, 0) AS na
                FROM b FULL OUTER JOIN a ON b.bin = a.bin),
              t AS (SELECT CAST(SUM(nb) AS BIGINT) AS tb,
                  CAST(SUM(na) AS BIGINT) AS ta FROM j),
              p AS (SELECT bin * CAST(10000.0 AS DOUBLE) AS bin_lo,
                  CAST(nb AS DOUBLE) / tb AS pb,
                  CAST(na AS DOUBLE) / ta AS pa
                FROM j CROSS JOIN t),
              tv AS (SELECT CAST(SUM(CAST(abs(round(pb, 6) - round(pa, 6))
                  AS DECIMAL(18,6))) / 2 AS DOUBLE) AS tvd FROM p)
              SELECT bin_lo, round(pb, 6) AS p_before,
                round(pa, 6) AS p_after, round(tvd, 6) AS tv_distance
              FROM p CROSS JOIN tv""")),

    Q("q_zscore_outlier",
      (s, d) => graft.operators.Analytics.zscoreOutliers(events(s, d),
        "event_type", "value", zThreshold = 3.0),
      Some("""WITH m AS (SELECT event_type, AVG(value) AS mu,
                STDDEV_SAMP(value) AS sd FROM events GROUP BY event_type)
              SELECT e.event_type, COUNT(*) AS n,
                CAST(SUM(CASE WHEN sd > 0 AND abs(value - mu) / sd > 3.0
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
              FROM events e JOIN m ON e.event_type = m.event_type
              GROUP BY e.event_type""")),

    // per-source percentile-rank normalization: exact percent_rank
    // semantics computed from the DISTINCT-value CDF (the window's
    // per-task data is distinct scores per source, never a whole
    // source), replayed by the oracle's real PERCENT_RANK window
    Q("q_score_normalize",
      (s, d) => graft.operators.Analytics.rankNormalize(
          s.read.parquet(pq(d, "documents"))
            .select(col("doc_id"), col("source"), col("n_chars")),
          "source", "n_chars")
        .select(col("doc_id"), col("source"),
          round(col("pct_rank"), 4).as("pct_rank")),
      Some("""SELECT doc_id, source, ROUND(PERCENT_RANK() OVER (
                PARTITION BY source ORDER BY n_chars), 4) AS pct_rank
              FROM documents""")),

    // sketch-quantile variant (approx cut points; per-group state
    // O(buckets) at any score cardinality). Bounded-error gate: the
    // bucketed rank counts cut points ≤ score, whose exact analogue is
    // CUME_DIST (fraction of rows ≤ score — same tie semantics), so the
    // per-ROW verdict |approx − cume_dist| ≤ 1/buckets + sketch slack
    // holds by construction when the sketch is healthy and breaks when
    // it is not. The window is partitioned by source, never global.
    Q("q_score_normalize_approx",
      (s, d) => {
        val docs = s.read.parquet(pq(d, "documents"))
          .select(col("doc_id"), col("source"), col("n_chars"))
        graft.operators.Analytics
          .rankNormalizeApprox(docs, "source", "n_chars", buckets = 20)
          .withColumn("__cume", cume_dist().over(
            Window.partitionBy(col("source")).orderBy(col("n_chars"))))
          .select(col("doc_id"), col("source"),
            (abs(col("pct_rank") - col("__cume")) <= lit(0.075))
              .as("within_bound"))
      },
      Some("""SELECT doc_id, source, CAST(1 AS BOOLEAN) AS within_bound
              FROM documents""")),

    // ---- profiles and contracts ------------------------------------
    // single-pass column profiler (corpus QA): stats for all columns in
    // ONE aggregation, unpivoted with stack — not a scan per column
    Q("q_profile",
      // the exact-distinct Expand (4× input replication) runs in the
      // PARTIAL aggregate — single scan task on the one-row-group
      // local file; hash repartition parallelizes it (round 19, guide
      // §2.5 — the q_percentile rationale)
      (s, d) => graft.operators.Profile.profileNumeric(
        s.read.parquet(pq(d, "lineitem"))
          .repartition(s.sparkContext.defaultParallelism,
            col("l_extendedprice")),
        Seq("l_quantity", "l_extendedprice", "l_discount")),
      Some(profileExactOracleSql)),

    // the 100 TB profile path: HLL-sketch n_distinct (a few KB per
    // column, still one pass) replaces the exact-distinct Expand that
    // makes q_profile the slowest bench query. Bounded-error gate: the
    // sketch pass joins its exact twin (two 3-row frames, broadcast) and
    // the output carries the EXACT stats plus a per-column verdict —
    // |approx_ndv − exact_ndv| ≤ 0.2·exact_ndv (4·rsd at default 0.05) —
    // so a silently broken sketch goes red instead of rows-only-green.
    Q("q_profile_approx",
      (s, d) => {
        // both legs' partials parallelized off one exchange (round 19,
        // guide §2.5 — the q_profile rationale)
        val li = s.read.parquet(pq(d, "lineitem"))
          .repartition(s.sparkContext.defaultParallelism,
            col("l_extendedprice"))
        val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
        // NOT fused into one aggregation (optimization round 19,
        // measured): computing the HLL estimates inside the same
        // Aggregate as the three exact count_distincts rides the
        // distinct-rewrite Expand (4× input replication) and forced a
        // slower aggregate path — 2.64 s vs 1.32 s for this twin-pass
        // form, so the two-scan shape stays.
        val exact = graft.operators.Profile.profileNumeric(li, cols)
        val approx = graft.operators.Profile
          .profileNumeric(li, cols, exactDistinct = false)
          .select(col("column"), col("n_distinct").as("__approx_nd"))
        exact.join(broadcast(approx), Seq("column"))
          .select(col("column"), col("n_rows"), col("n_nonnull"),
            col("n_distinct"), col("min_v"), col("max_v"), col("avg_v"),
            (abs(col("__approx_nd") - col("n_distinct")) <=
              lit(0.2) * col("n_distinct")).as("ndv_within_bound"))
      },
      Some(
        s"""SELECT *, CAST(1 AS BOOLEAN) AS ndv_within_bound
            FROM ($profileExactOracleSql)""")),

    // schema data contract against the documents table: planted
    // type-drift (n_chars contracted int, stored bigint), a missing
    // contracted column, and an uncontracted extra — pure footer
    // metadata, zero jobs over the data; the oracle is the literal
    // expected diff
    Q("q_schema_contract",
      (s, d) => graft.operators.Profile.schemaContract(
        s.read.parquet(pq(d, "documents")),
        Seq("doc_id" -> "bigint", "text" -> "string",
          "lang" -> "string", "n_chars" -> "int",
          "quality" -> "double")),
      Some("""SELECT * FROM (VALUES
                ('doc_id', 'bigint', 'bigint', 'ok'),
                ('text', 'string', 'string', 'ok'),
                ('lang', 'string', 'string', 'ok'),
                ('n_chars', 'int', 'bigint', 'type_drift'),
                ('quality', 'double', NULL, 'missing'),
                ('source', NULL, 'string', 'extra'))
                AS t("column", expected_type, actual_type, status)""")),

    // ---- percentiles and sketches ----------------------------------
    // exact interpolated percentiles: Spark `percentile` ≡ DuckDB
    // quantile_cont (both linear interpolation over the sorted set)
    Q("q_percentile",
      // exact percentile builds a per-value hash map per group in the
      // PARTIAL aggregate — heavy per-row work that the one-row-group
      // local file serializes onto a single scan task (optimization
      // round 19 / guide §2.5; hash repartition on the value column is
      // deterministic and adds no round-robin pre-sort; interleaved A/B
      // −0.25 s). At 100 TB the scan has thousands of splits and the
      // repartition becomes unnecessary, not wrong.
      (s, d) => s.read.parquet(pq(d, "lineitem"))
        .repartition(s.sparkContext.defaultParallelism,
          col("l_extendedprice"))
        .groupBy(col("l_returnflag"))
        // array form: ONE per-group value buffer + sort serves all three
        // percentiles (three scalar calls would keep three copies)
        .agg(expr("percentile(l_extendedprice, array(0.5, 0.9, 0.99))")
          .as("pcts"))
        .select(col("l_returnflag"),
          round(element_at(col("pcts"), 1), 4).as("p50"),
          round(element_at(col("pcts"), 2), 4).as("p90"),
          round(element_at(col("pcts"), 3), 4).as("p99")),
      Some("""SELECT l_returnflag,
              ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
              ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
              ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS p99
              FROM lineitem GROUP BY l_returnflag""")),

    // bounded-error gate (not rows-only): the HLL++ estimate is
    // algorithm-specific, so the query computes approx AND exact in ONE
    // aggregation pass and emits a per-group verdict the oracle can
    // state as a constant — |approx − exact| ≤ 4·rsd·exact (rsd 0.05
    // default ⇒ 0.2). A silently broken sketch now turns the gate red.
    // The exact twin lives only in the gate; the production scale path
    // remains the sketch alone.
    Q("q_approx_count_distinct",
      (s, d) => s.read.parquet(pq(d, "lineitem"))
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey")).as("__approx"),
          count_distinct(col("l_partkey")).as("exact_parts"))
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("__approx") - col("exact_parts")) <=
            lit(0.2) * col("exact_parts")).as("within_bound")),
      Some("""SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_parts,
              CAST(1 AS BOOLEAN) AS within_bound
              FROM lineitem GROUP BY l_returnflag""")),

    // the scale path beside q_percentile: exact `percentile` shuffles
    // every group's full value set to one reducer buffer — fine at
    // thousands of values per group, not at 10^9; approx_percentile
    // keeps a bounded sketch per group and partial-aggregates map-side,
    // so memory is O(sketch) however large the group
    // bounded-error gate: KLL-sketch values are algorithm-specific, so
    // the query computes approx AND exact percentiles in ONE aggregation
    // and emits the EXACT values plus a verdict — each approx value
    // within 1% relative of its exact twin (accuracy 10000 ⇒ rank error
    // ≤ 1e-4·N; the value gap across ±6 ranks at sf0.01 is far inside
    // 1%). The oracle replays the exact quantiles and the constant TRUE.
    Q("q_approx_percentile",
      (s, d) => {
        def ok(i: Int) =
          abs(element_at(col("__ap"), i) - element_at(col("__ep"), i)) <=
            lit(0.01) * abs(element_at(col("__ep"), i))
        s.read.parquet(pq(d, "lineitem"))
          // parallel partials for the per-group value buffers — the
          // q_percentile repartition rationale (round 19, guide §2.5)
          .repartition(s.sparkContext.defaultParallelism,
            col("l_extendedprice"))
          .groupBy(col("l_returnflag"))
          .agg(expr(
            "approx_percentile(l_extendedprice, array(0.5, 0.9, 0.99), 10000)")
            .as("__ap"),
            expr("percentile(l_extendedprice, array(0.5, 0.9, 0.99))")
              .as("__ep"))
          .select(col("l_returnflag"),
            round(element_at(col("__ep"), 1), 4).as("p50"),
            round(element_at(col("__ep"), 2), 4).as("p90"),
            round(element_at(col("__ep"), 3), 4).as("p99"),
            (ok(1) && ok(2) && ok(3)).as("within_bound"))
      },
      Some("""SELECT l_returnflag,
              ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
              ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
              ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS p99,
              CAST(1 AS BOOLEAN) AS within_bound
              FROM lineitem GROUP BY l_returnflag""")),

    // bounded-memory heavy hitters: the Misra-Gries sketch nominates
    // candidates (<= capacity counters per task, any cardinality), the
    // recount pass restores exact counts — so the oracle is plain
    // exact SQL. capacity 256 >> corpus vocabulary and >> n/(k-th
    // count), putting the run deep inside the sketch's correctness
    // window at every sf.
    Q("q_heavy_hitters",
      (s, d) => {
        val toks = s.read.parquet(pq(d, "documents"))
          .select(explode(graft.functions.TextAnalysis.tokens(
            lower(col("text")))).as("term"))
        graft.operators.Frequency.heavyHitters(toks, "term", k = 15,
          capacity = 256)
          .select(col("item").as("term"), col("cnt"))
      },
      Some("""WITH toks AS (SELECT
                  unnest(string_split_regex(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+'))
                    AS term
                FROM documents WHERE length(regexp_replace(text, '^\s+|\s+$', '', 'g')) > 0)
              SELECT term, COUNT(*) AS cnt FROM toks
              GROUP BY term ORDER BY cnt DESC, term LIMIT 15""")),

    // Mergeable HLL cardinality log (round 13): Datasketches HLL
    // binaries via Spark's OWN hll_sketch_agg/hll_union_agg — unlike
    // approx_count_distinct's internal HLL++, these sketches persist
    // and union across frames, which is the incremental shape: one
    // sketch row per (source, day, shard), any later union answers
    // "distinct over any subset" without re-reading data. Gate
    // (bounded-error, the r12 sketch pattern): per-event-type user
    // sketches within 4% of their exact distincts (measured worst
    // 1.3% at sf0.1, exact at sf0.01's sparse-mode sizes), the
    // cross-group UNION within 4% of the global exact, and — the
    // mergeability proof — the union estimate strictly BELOW the sum
    // of per-group estimates (users overlap across event types; a
    // "union" that merely added counts reds this).
    Q("q_hll_log",
      (s, d) => {
        import graft.operators.Frequency
        val ev = s.read.parquet(pq(d, "events"))
          .select(col("event_type"), col("user_id"))
        val sk = Frequency.hllSketches(ev, "user_id", "event_type")
        val per = sk.select(col("event_type"),
            hll_sketch_estimate(col("hll")).as("__e"))
          .join(ev.groupBy(col("event_type"))
            .agg(count_distinct(col("user_id")).as("__n")), "event_type")
          .agg(count(lit(1)).as("n_groups"),
            (max(abs(col("__e") - col("__n")) / col("__n")) <= 0.04)
              .as("groups_ok"),
            sum(col("__e")).as("__est_sum"))
        Frequency.hllUnionEstimate(sk)
          .crossJoin(ev.agg(count_distinct(col("user_id")).as("__g")))
          .crossJoin(per)
          .select(col("n_groups"), col("groups_ok"),
            ((abs(col("distinct_est") - col("__g")) / col("__g")) <= 0.04)
              .as("union_ok"),
            (col("distinct_est") < col("__est_sum"))
              .as("union_dedups_across_groups"))
      },
      Some("""SELECT (SELECT COUNT(DISTINCT event_type) FROM events)
                AS n_groups,
              CAST(1 AS BOOLEAN) AS groups_ok,
              CAST(1 AS BOOLEAN) AS union_ok,
              CAST(1 AS BOOLEAN) AS union_dedups_across_groups""")),

    // Count-Min point-frequency estimation (round 13): the complement
    // of the Misra-Gries family — MG answers "which items are
    // frequent" in ≤ capacity counters, CMS answers "how often did
    // THIS item occur" for ANY item in ⌈e/eps⌉·depth counters, built
    // by Spark's OWN count_min_sketch aggregate and probed by the
    // graft_cms_estimate expression (Spark ships the builder but no
    // SQL probe). Gate (bounded-error, the r12 sketch pattern): every
    // distinct l_partkey probed against its exact in-plan count —
    // under-estimates are IMPOSSIBLE (one-sided guarantee, asserted
    // exactly 0). Over-estimates respect eps·n only with probability
    // ≥ confidence PER KEY, so the upper gate allows the bound's own
    // failure budget, ceil((1-confidence)·n_keys), rather than
    // pinning 0 (measured: 0 violations at seed 42, max overshoot 39
    // vs bound 60 at sf0.01 and 350 vs 600 at sf0.1 — but a new
    // fixture or scale factor may legitimately spend the budget).
    // Every count is deterministic: CMS update/merge are commutative
    // sums, so estimates are pure functions of the multiset and seed,
    // independent of partitioning.
    Q("q_cms_estimate",
      (s, d) => {
        import graft.operators.Frequency
        val li = s.read.parquet(pq(d, "lineitem"))
          .select(col("l_partkey"))
        val exact = li.groupBy(col("l_partkey"))
          .agg(count(lit(1)).as("cnt"))
        val est = Frequency.cmsEstimates(li, "l_partkey",
          exact, "l_partkey", eps = 0.001, confidence = 0.99, seed = 42)
        val n = li.agg(count(lit(1)).as("__n"))
        est.crossJoin(n)
          .agg(count(lit(1)).as("n_keys"),
            sum(when(col("est") < col("cnt"), 1L).otherwise(0L))
              .as("n_under"),
            sum(when(col("est") > col("cnt") +
              ceil(col("__n") * 0.001).cast("long"), 1L).otherwise(0L))
              .as("__viol"))
          .select(col("n_keys"), col("n_under"),
            (col("__viol") <=
              ceil(col("n_keys") * (1.0 - 0.99)).cast("long"))
              .as("upper_within_budget"))
      },
      Some("""SELECT (SELECT COUNT(DISTINCT l_partkey) FROM lineitem)
                AS n_keys,
              CAST(0 AS BIGINT) AS n_under,
              CAST(1 AS BOOLEAN) AS upper_within_budget""")),

    // Mergeable KLL quantile sketch log (round 14): the quantile
    // member of the persisted-sketch family (MG = frequent items,
    // CMS = point counts, HLL = cardinality) — Spark ships NO
    // persistable quantile state (percentile_approx cannot be stored
    // or unioned), so graft_kll_agg/graft_kll_union wrap
    // org.apache.datasketches.kll (already on the Spark classpath).
    // Incremental shape: one ~3 KB sketch row per (source, day,
    // shard); any later union answers any percentile over any subset
    // without re-reading data. Gate (bounded-error, the r12 sketch
    // pattern + the CMS probability-budget lesson): KLL's rank error
    // at k=200 is ~1.65% per probe at 99% confidence and estimates
    // are RANDOMIZED (compaction offsets), so rank errors are gated
    // at 2x the advertised bound (0.033 — measured worst 0.50% at
    // sf0.01 and 0.43% at sf0.1, so the margin is wide) while the two things KLL
    // tracks EXACTLY through merges are pinned deterministically:
    // per-group sketch N == exact group count, and union N == total
    // row count (a dropped or double-merged group reds this). The
    // rank check replays each estimate against the DATA: the exact
    // inclusive rank of q-hat within its group must sit within the
    // bound of the target rank — that is the KLL contract itself,
    // not a self-comparison.
    Q("q_kll_log",
      (s, d) => {
        import graft.operators.Frequency
        val ranks = Seq(0.25, 0.5, 0.75, 0.95)
        val li = s.read.parquet(pq(d, "lineitem"))
          .select(col("l_returnflag"),
            col("l_extendedprice").cast("double").as("v"))
        val sk = Frequency.kllSketches(li, "v", "l_returnflag")
        val probes = sk.select(col("l_returnflag"),
          Frequency.kllQuantiles(col("kll"), ranks :+ -1.0).as("qs"))
        // per-group deterministic N pin + estimate rows to replay
        val grpN = probes.select(col("l_returnflag"),
            element_at(col("qs"), ranks.size + 1).as("sketch_n"))
          .join(li.groupBy(col("l_returnflag"))
            .agg(count(lit(1)).as("exact_n")), "l_returnflag")
        val est = probes.select(col("l_returnflag"),
            posexplode(slice(col("qs"), 1, ranks.size))
              .as(Seq("ri", "qhat")))
          .withColumn("target",
            element_at(typedlit(ranks), col("ri") + 1))
        // exact inclusive rank of each estimate within its group —
        // est is groups x ranks rows (12), broadcast by construction
        val rankErr = li.join(broadcast(est), Seq("l_returnflag"))
          .groupBy(col("l_returnflag"), col("target"), col("qhat"))
          .agg((sum(when(col("v") <= col("qhat"), 1L).otherwise(0L))
            .cast("double") / count(lit(1))).as("r_exact"))
          .agg(max(abs(col("r_exact") - col("target"))).as("max_err"))
        // union: merge the per-group sketches, replay vs global data
        val uSketch = Frequency.kllUnionSketch(sk)
        val u = uSketch
          .select(Frequency.kllQuantiles(col("kll"), ranks :+ -1.0)
            .as("qs"))
        val uniEst = u.select(posexplode(slice(col("qs"), 1,
            ranks.size)).as(Seq("ri", "qhat")))
          .withColumn("target",
            element_at(typedlit(ranks), col("ri") + 1))
        val uniErr = li.crossJoin(broadcast(uniEst))
          .groupBy(col("target"), col("qhat"))
          .agg((sum(when(col("v") <= col("qhat"), 1L).otherwise(0L))
            .cast("double") / count(lit(1))).as("r_exact"))
          .agg(max(abs(col("r_exact") - col("target"))).as("u_max_err"))
        val uniN = u.select(
          element_at(col("qs"), ranks.size + 1).as("union_n"))
        // the INVERSE probe (CDF direction): rank estimates for three
        // fixed values spanning the price range, replayed against the
        // exact in-plan inclusive ranks — same ε contract, other axis
        val probeVals = Seq(10000.0, 30000.0, 60000.0)
        val cdfEst = uSketch.select(posexplode(
            Frequency.kllRanks(col("kll"), probeVals))
          .as(Seq("pi", "r_est")))
          .withColumn("pv", element_at(typedlit(probeVals), col("pi") + 1))
        val cdfErr = li.crossJoin(broadcast(cdfEst))
          .groupBy(col("pv"), col("r_est"))
          .agg((sum(when(col("v") <= col("pv"), 1L).otherwise(0L))
            .cast("double") / count(lit(1))).as("r_exact"))
          .agg(max(abs(col("r_exact") - col("r_est"))).as("cdf_max_err"))
        grpN.agg(count(lit(1)).as("n_groups"),
            (sum(when(col("sketch_n") === col("exact_n"), 0L)
              .otherwise(1L)) === 0L).as("groups_n_exact"))
          .crossJoin(rankErr).crossJoin(uniErr).crossJoin(uniN)
          .crossJoin(cdfErr)
          .crossJoin(li.agg(count(lit(1)).as("__tot")))
          .select(col("n_groups"), col("groups_n_exact"),
            (col("max_err") <= 0.033).as("groups_rank_ok"),
            (col("union_n") === col("__tot")).as("union_n_exact"),
            (col("u_max_err") <= 0.033).as("union_rank_ok"),
            (col("cdf_max_err") <= 0.033).as("cdf_probe_ok"))
      },
      Some("""SELECT (SELECT COUNT(DISTINCT l_returnflag) FROM lineitem)
                AS n_groups,
              CAST(1 AS BOOLEAN) AS groups_n_exact,
              CAST(1 AS BOOLEAN) AS groups_rank_ok,
              CAST(1 AS BOOLEAN) AS union_n_exact,
              CAST(1 AS BOOLEAN) AS union_rank_ok,
              CAST(1 AS BOOLEAN) AS cdf_probe_ok""")),

    // Theta sketch set-operation cardinality (round 15): the
    // INTERSECT/DIFFERENCE member of the persisted-sketch-log family
    // (MG = frequent items, CMS = point counts, HLL = cardinality,
    // KLL = quantiles). HLL unions but cannot intersect — train/eval
    // contamination at 100 TB is exactly "how many keys are in BOTH
    // corpora", which today's q_contamination answers by an exact
    // batch-sized join; the theta form answers it from two persisted
    // ~2^lgK·8B binaries. Gate design (the KLL/CMS lesson —
    // deterministic pins where the sketch is deterministic, bounded
    // verdicts where it estimates; theta's fixed default hash seed
    // makes even the estimation leg a deterministic function of the
    // data):
    //  - EXACT leg (lgK=20 ≫ distinct orderkeys at gated SFs): theta
    //    stays 1.0, so intersection/difference/union estimates are
    //    pinned EXACTLY equal to the in-plan exact counts;
    //  - MERGEABILITY pin: union of per-returnflag sketches ==
    //    whole-corpus distinct count, exactly (a dropped or
    //    double-merged part reds this);
    //  - ESTIMATION leg (lgK=9 = 512 nominal entries, forced sampling
    //    at both gated SFs): the sketch's own 3-σ lower/upper bounds
    //    must bracket the exact count for all three set ops — the
    //    documented theta contract, replayed against the data.
    Q("q_theta_overlap",
      (s, d) => {
        import graft.operators.Frequency
        val li = s.read.parquet(pq(d, "lineitem"))
          .select(col("l_orderkey"))
        val a = li.where(col("l_orderkey") % 2 === 0)
        val b = li.where(col("l_orderkey") % 3 === 0)
        def legs(lgK: Int) = {
          val sa = Frequency.thetaSketches(
            a.withColumn("g", lit("a")), "l_orderkey", "g", lgK)
            .select(col("theta").as("ta"))
          val sb = Frequency.thetaSketches(
            b.withColumn("g", lit("b")), "l_orderkey", "g", lgK)
            .select(col("theta").as("tb"))
          sa.crossJoin(broadcast(sb)) // 1 x 1 rows
            .select(
              Frequency.thetaEstimate(
                Frequency.thetaSetOp(col("ta"), col("tb"), "intersect"))
                .as("i"),
              Frequency.thetaEstimate(
                Frequency.thetaSetOp(col("ta"), col("tb"), "anotb"))
                .as("dx"),
              Frequency.thetaEstimate(
                Frequency.thetaSetOp(col("ta"), col("tb"), "union"))
                .as("u"))
        }
        val exact = a.join(b, Seq("l_orderkey"), "left_semi")
          .agg(countDistinct(col("l_orderkey")).as("n_overlap"))
          .crossJoin(broadcast(
            a.agg(countDistinct(col("l_orderkey")).as("n_a"))))
          .crossJoin(broadcast(
            b.agg(countDistinct(col("l_orderkey")).as("n_b"))))
        // mergeability: union-of-parts (per returnflag) vs the whole
        val parts = Frequency.thetaSketches(
          s.read.parquet(pq(d, "lineitem"))
            .select(col("l_orderkey"), col("l_returnflag")),
          "l_orderkey", "l_returnflag", lgK = 20)
        val merged = Frequency.thetaUnionSketch(parts, lgK = 20)
          .select(element_at(Frequency.thetaEstimate(col("theta")), 2)
            .as("merged_est"))
        val whole = li.agg(countDistinct(col("l_orderkey")).as("n_all"))
        exact.crossJoin(broadcast(legs(20))).crossJoin(broadcast(legs(9)
            .select(col("i").as("ei"), col("dx").as("edx"),
              col("u").as("eu"))))
          .crossJoin(broadcast(merged)).crossJoin(broadcast(whole))
          .select(col("n_overlap"), col("n_a"), col("n_b"),
            // exact leg: estimate == exact count, exactly
            (element_at(col("i"), 2) === col("n_overlap").cast("double"))
              .as("exact_intersect_ok"),
            (element_at(col("dx"), 2) ===
              (col("n_a") - col("n_overlap")).cast("double"))
              .as("exact_anotb_ok"),
            (element_at(col("u"), 2) ===
              (col("n_a") + col("n_b") - col("n_overlap")).cast("double"))
              .as("exact_union_ok"),
            // mergeability pin: union of parts == whole, exactly
            (col("merged_est") === col("n_all").cast("double"))
              .as("merge_exact_ok"),
            // estimation leg: 3-sigma bounds bracket the truth
            (element_at(col("ei"), 1) <= col("n_overlap") &&
              element_at(col("ei"), 3) >= col("n_overlap"))
              .as("est_intersect_bounded"),
            (element_at(col("edx"), 1) <= col("n_a") - col("n_overlap") &&
              element_at(col("edx"), 3) >= col("n_a") - col("n_overlap"))
              .as("est_anotb_bounded"),
            (element_at(col("eu"), 1) <=
              col("n_a") + col("n_b") - col("n_overlap") &&
              element_at(col("eu"), 3) >=
                col("n_a") + col("n_b") - col("n_overlap"))
              .as("est_union_bounded"))
      },
      Some("""SELECT
                (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem
                 WHERE l_orderkey % 6 = 0) AS n_overlap,
                (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem
                 WHERE l_orderkey % 2 = 0) AS n_a,
                (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem
                 WHERE l_orderkey % 3 = 0) AS n_b,
                CAST(1 AS BOOLEAN) AS exact_intersect_ok,
                CAST(1 AS BOOLEAN) AS exact_anotb_ok,
                CAST(1 AS BOOLEAN) AS exact_union_ok,
                CAST(1 AS BOOLEAN) AS merge_exact_ok,
                CAST(1 AS BOOLEAN) AS est_intersect_bounded,
                CAST(1 AS BOOLEAN) AS est_anotb_bounded,
                CAST(1 AS BOOLEAN) AS est_union_bounded""")))
}
