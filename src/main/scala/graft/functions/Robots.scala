package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * robots.txt compliance filtering (RFC 9309, public) — the crawl
 * pipeline's politeness gate: given fetched robots bodies per domain
 * and a URL table, decide which URLs the named agent may keep. At
 * 100 TB of crawl the shape matters: robots bodies are DOMAIN-scale
 * (millions of rows, KBs each), URLs are corpus-scale — rules are
 * extracted once into a small table and the verdict is one
 * (domain-keyed) join + a per-URL longest-match window, never a
 * per-URL re-parse.
 *
 * Parsing follows the RFC's line grammar: `#` comments stripped,
 * `user-agent:` lines open a group (consecutive agent lines share the
 * group), `allow:`/`disallow:` rules attach to the open group's
 * agents, unknown directives ignored. Matching: rules for the given
 * agent (case-insensitive exact product token) plus `*` groups, the
 * agent's own groups taking precedence when it has ANY (the RFC's
 * most-specific-group rule); within the selected rule set the longest
 * matching path prefix wins, allow beating disallow on equal length
 * (the RFC's least-restrictive tie-break); no matching rule = allowed
 * (and a domain with no robots rows at all = allowed — RFC: unreadable
 * robots is not a ban).
 *
 * The RFC's `*` (any run) and trailing `$` (end anchor) are fully
 * supported: each rule carries a translated anchored regex beside its
 * literal prefix, and matching uses the cheap `startsWith` for
 * literal rules and, for wildcard rules, the cached native matcher
 * ([[graft.plans.RegexCache]]) — compile once per distinct rule
 * pattern per executor, never per (URL, rule) row. Specificity is the
 * raw rule length (the longest-match convention used by major
 * crawlers).
 */
object Robots {

  /**
   * Extract `(domain, agent, allow, prefix, priority)` rules from
   * robots bodies `(domainCol, textCol)`. One generator projection —
   * line split + a running agent-group id via a per-domain window over
   * line number (domain-keyed shuffle, robots-table-sized). `priority`
   * is the raw rule length used for longest-match ranking.
   * Empty-path rules (`disallow:` with nothing — the RFC's canonical
   * allow-all robots.txt) are emitted as ALLOW with prefix "" and
   * priority 0: they match everything, which under the default-allow
   * verdict is a no-op — but their presence still registers the
   * agent's group, so specific-group precedence sees it.
   */
  /** RFC whitespace is space OR tab (Spark's trim strips spaces
    * only); a stray CR survives only on malformed mixed-EOL input —
    * the line split handles CRLF — but trimming it is free. */
  private def ws(c: Column): Column =
    regexp_replace(c, "^[ \\t\\r]+|[ \\t\\r]+$", "")

  /** All syntactically-recognized lines of every robots body:
    * `(domain, __ln, __field, __value)` — comments stripped, fields
    * lowercased, values whitespace-trimmed, domain aliased from the
    * caller's column. RFC 9309 EOL is CR / LF / CRLF — a CRLF body
    * (the common wire form over HTTP) must not leave `\r` glued to
    * every value; a leading UTF-8 BOM must not corrupt the first
    * field name. */
  private def parsedLines(robots: DataFrame, domainCol: String,
                          textCol: String): DataFrame =
    robots
      .select(col(domainCol).as("domain"),
        posexplode(split(regexp_replace(col(textCol), "^\uFEFF", ""),
          "\r\n|\r|\n")).as(Seq("__ln", "__raw")))
      .select(col("domain"), col("__ln"),
        ws(regexp_replace(col("__raw"), "#.*$", "")).as("__line"))
      .where(col("__line") =!= "")
      .select(col("domain"), col("__ln"),
        lower(ws(regexp_extract(col("__line"), "^([^:]+):", 1)))
          .as("__field"),
        ws(regexp_extract(col("__line"), "^[^:]+:(.*)$", 1))
          .as("__value"))

  /** Adds the running agent-group id `__grp`. Input must already be
    * filtered to agent/rule lines: RFC 9309 §2.2.4 — other records
    * (sitemap:, crawl-delay:, unknown directives) MUST NOT interfere,
    * so one between two user-agent lines must not split their shared
    * group. A user-agent line following a RULE line opens a new
    * group; consecutive user-agent lines extend the current one. */
  private def withGroups(lines: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("domain")).orderBy(col("__ln"))
    lines
      .withColumn("__isAgent", (col("__field") === "user-agent").cast("int"))
      .withColumn("__prevAgent",
        lag(col("__isAgent"), 1, 0).over(w))
      .withColumn("__open",
        (col("__isAgent") === 1 && col("__prevAgent") === 0).cast("int"))
      .withColumn("__grp", sum(col("__open")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)))
  }

  def rules(robots: DataFrame, domainCol: String,
            textCol: String): DataFrame = {
    // NB: everything downstream works on the RENAMED "domain" column —
    // parsedLines aliases `domainCol` to it (a caller-named column
    // would not resolve past that projection)
    val grouped = withGroups(parsedLines(robots, domainCol, textCol)
      .where(col("__field").isin("user-agent", "allow", "disallow")))
    val agents = grouped.where(col("__field") === "user-agent")
      .select(col("domain"), col("__grp"),
        lower(col("__value")).as("agent")).distinct()
    val ruleRows = grouped
      .where(col("__field").isin("allow", "disallow"))
      .select(col("domain"), col("__grp"),
        // empty path = RFC allow-all: a matches-everything ALLOW at
        // priority 0 (no-op under default-allow, group still registers)
        (col("__field") === "allow" || col("__value") === "").as("allow"),
        col("__value").as("path"))
    // wildcard translation: a TRAILING '$' is the RFC end anchor
    // (elsewhere it is literal — such rules also take the regex path,
    // with the '$' escaped); '*' is any run; everything else is
    // regex-escaped. Purely-literal rules keep a fast startsWith path
    // via `prefix`; `priority` is the raw rule length (longest wins).
    val endAnchor = col("path").endsWith("$")
    val body = when(endAnchor,
      expr("substring(path, 1, length(path) - 1)")).otherwise(col("path"))
    val escaped = regexp_replace(body,
      "([.\\[\\]{}()+?^$|\\\\])", "\\\\$1")
    val pattern = concat(lit("^"),
      regexp_replace(escaped, "\\*", ".*"),
      when(endAnchor, lit("$")).otherwise(lit("")))
    // ONE left join builds both row kinds: an agent×rule match is a
    // real rule row; an agent whose group has no allow/disallow lines
    // at all (e.g. only crawl-delay:) keeps its null-path row as a
    // REGISTRATION row — RFC most-specific-group says that agent's
    // own empty group wins (allow-all) over the '*' group. A
    // null-prefix row matches no path (the verdict join condition
    // grounds to null), so it cannot affect any ranking; its presence
    // just makes the agent's domain visible to [[verdict]]'s
    // '*'-fallback. (The union-plus-anti-join formulation would
    // re-evaluate the parse subtree once per branch.)
    agents.join(ruleRows, Seq("domain", "__grp"), "left")
      .select(col("domain"), col("agent"),
        coalesce(col("allow"), lit(true)).as("allow"),
        col("path").as("prefix"),
        coalesce(col("path").contains("*") || col("path").contains("$"),
          lit(false)).as("wildcard"),
        when(col("path").isNotNull, pattern).as("pattern"),
        length(col("path")).as("priority"))
  }

  /**
   * Verdict per URL row: input plus `robots_allowed`. `urls` must
   * carry `domainCol` and `pathCol` (e.g. from
   * [[Urls.urlDomain]]/path extraction). One domain-keyed join of the
   * corpus against the rule table (broadcast when small) + a per-URL
   * longest-match window over MATCHING rules only — never all rules.
   */
  def verdict(urls: DataFrame, ruleTable: DataFrame, agent: String,
              domainCol: String, pathCol: String): DataFrame = {
    val a = lower(lit(agent))
    // groups for this agent, falling back to '*' groups only where the
    // agent has none on that domain (RFC most-specific-group rule).
    // One domain-partitioned window instead of a forAgent/starOnly
    // anti-join: the rule table (and everything upstream of it, when
    // the caller passes the lazy rules() frame) stays in the plan
    // exactly once.
    val wd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("domain"))
    val effective = ruleTable
      .where(col("agent") === a || col("agent") === "*")
      .withColumn("__hasAgent",
        max(when(col("agent") === a, 1).otherwise(0)).over(wd))
      .where(col("agent") === a || col("__hasAgent") === 0)
      .select(col("domain").as("__rd"), col("allow"), col("prefix"),
        col("wildcard"), col("pattern"), col("priority"))
    // the verdict is a function of (domain, path) alone — compute it
    // once per DISTINCT pair and join back, so duplicate URL rows (or
    // extra payload columns) cannot collapse through the rank window
    val pairs = urls
      .select(col(domainCol).as("__d"), col(pathCol).as("__p"))
      .distinct()
    // wildcard rules carry a pattern COLUMN: Spark's own regexp_like
    // would recompile it per (URL, rule) row. The native cached
    // matcher compiles once per distinct rule pattern per executor.
    val matches = when(col("wildcard"),
      graft.plans.NativeFunctions.rlikeCached(col("__p"), col("pattern")))
      .otherwise(col("__p").startsWith(col("prefix")))
    val joined = pairs.join(effective,
      col("__d") === col("__rd") && matches, "left")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__d"), col("__p"))
      .orderBy(col("priority").desc_nulls_last, col("allow").desc)
    val verdicts = joined
      .withColumn("__rk", row_number().over(w))
      .where(col("__rk") === 1)
      // no matching rule (null join) = allowed
      .select(col("__d"), col("__p"),
        coalesce(col("allow"), lit(true)).as("robots_allowed"))
    // null-safe join-back: a URL row with a null domain/path (failed
    // extraction upstream) must come out with its default-allow
    // verdict, not silently vanish from the gate's output
    urls.join(verdicts,
      urls(domainCol) <=> col("__d") && urls(pathCol) <=> col("__p"))
      .drop("__d", "__p")
  }

  /**
   * Effective per-domain `Crawl-delay` for the named agent — the
   * politeness RATE limit a frontier scheduler needs beside the
   * [[verdict]] allow/deny gate. Crawl-delay is the de-facto
   * extension honored by Bing/Yandex (not in RFC 9309; Google ignores
   * it): a delay line attaches to the group of the most recent
   * user-agent run, with non-rule records never splitting groups.
   * Precedence is by VALID DELAY presence: the agent's own groups'
   * delays win; `*`-group delays apply only on domains where the
   * agent has none (an unparsable agent delay therefore falls back
   * rather than silently meaning "no limit"). Multiple delays for one
   * agent collapse to the MINIMUM (most polite). Non-numeric values
   * are ignored. Output: `(domain, crawl_delay: double)` — domains
   * with no applicable delay are absent (schedule at full rate).
   *
   * Scale shape: everything here is robots-table-sized — two
   * domain-keyed windows + one small join; corpus URLs never enter.
   */
  def crawlDelays(robots: DataFrame, domainCol: String,
                  textCol: String, agent: String): DataFrame = {
    val a = lower(lit(agent))
    val pl = parsedLines(robots, domainCol, textCol)
    val grouped = withGroups(
      pl.where(col("__field").isin("user-agent", "allow", "disallow")))
    val agents = grouped.where(col("__field") === "user-agent")
      .select(col("domain"), col("__grp"),
        lower(col("__value")).as("agent")).distinct()
    // assign each crawl-delay line the running group id of the last
    // agent/rule line above it (rule lines carry their group's id, so
    // last-non-null over the union is exactly the open group)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("domain")).orderBy(col("__ln"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    val delayLines = grouped
      .select(col("domain"), col("__ln"), col("__grp"),
        lit(null).cast("double").as("__delay"))
      .unionByName(pl.where(col("__field") === "crawl-delay")
        .select(col("domain"), col("__ln"),
          lit(null).cast("bigint").as("__grp"),
          // try_cast, not cast: under ANSI (the Spark 4 default) an
          // unparsable delay value would fail the whole scan — hostile
          // robots bodies must degrade to "no delay", never throw
          expr("try_cast(__value AS double)").as("__delay")))
      .withColumn("__g", last(col("__grp"), ignoreNulls = true).over(w))
      // negative/NaN/Infinity delays are hostile: under minimum-wins
      // one "Crawl-delay: -100" would defeat the rate limit (negative
      // fetch offsets = a burst), and try_cast parses "Infinity" —
      // which scheduleFrontier would turn into 0×Inf = NaN offsets.
      // Only FINITE non-negative values count as declared delays.
      .where(col("__delay").isNotNull && !isnan(col("__delay")) &&
        col("__delay") >= 0 &&
        col("__delay") =!= lit(Double.PositiveInfinity) &&
        col("__g").isNotNull)
    // rename the agents side: it shares lineage with delayLines (both
    // come from the same parse), and an unaliased join trips Spark's
    // ambiguous-self-join detection on __grp
    val agentsR = agents.select(col("domain").as("__adom"),
      col("__grp").as("__agrp"), col("agent"))
    // agent-shades-star precedence as ONE conditional aggregation —
    // the anti-join formulation would evaluate (and so recompute) the
    // whole parse subtree once per branch; a single groupBy keeps the
    // robots-body parse in the plan exactly once
    delayLines
      .join(agentsR, col("__g") === col("__agrp") &&
        col("domain") === col("__adom"))
      .where(col("agent") === a || col("agent") === "*")
      .groupBy(col("domain"))
      .agg(min(when(col("agent") === a, col("__delay"))).as("__ad"),
        min(when(col("agent") === "*", col("__delay"))).as("__sd"))
      .select(col("domain"),
        coalesce(col("__ad"), col("__sd")).as("crawl_delay"))
      .where(col("crawl_delay").isNotNull)
  }

  /**
   * `Sitemap:` URLs per domain — frontier seeding. Sitemap records
   * are domain-global (RFC 9309 §2.2.4: not part of any group, valid
   * anywhere in the file), so this is a plain field filter: one
   * generator projection, robots-table-sized, distinct `(domain,
   * sitemap)` with the URL's case preserved (values are
   * case-sensitive; only field names are lowercased).
   */
  def sitemaps(robots: DataFrame, domainCol: String,
               textCol: String): DataFrame =
    parsedLines(robots, domainCol, textCol)
      .where(col("__field") === "sitemap" && col("__value") =!= "")
      .select(col("domain"), col("__value").as("sitemap"))
      .distinct()

  /**
   * Politeness schedule: give every URL a per-domain fetch slot under
   * the domain's [[crawlDelays]] rate limit — the step that turns an
   * allowed frontier into a dispatchable one. Each domain's URLs are
   * ordered by `(md5(url), url)` (deterministic, layout-independent —
   * the [[graft.operators.Sampling]] hash-order convention) and the
   * n-th gets `fetch_offset_s = n × delay` (`defaultDelay` where the
   * domain declares none). Output: input plus `fetch_seq` (0-based)
   * and `fetch_offset_s`.
   *
   * Scale shape: one domain-keyed shuffle + per-domain window (never
   * global) + a left join against the domain-scale delay table
   * (broadcast when small). A 100 TB frontier schedules in one pass;
   * wall-clock per domain is bounded by its own URL count × delay,
   * which is the physical politeness constraint itself.
   */
  def scheduleFrontier(urls: DataFrame, delays: DataFrame,
                       domainCol: String, urlCol: String,
                       defaultDelay: Double = 1.0): DataFrame = {
    require(defaultDelay >= 0,
      s"defaultDelay must be >= 0, got $defaultDelay")
    Seq("fetch_seq", "fetch_offset_s").foreach(c =>
      require(!urls.columns.contains(c),
        s"scheduleFrontier emits a '$c' column; input already has one"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(domainCol))
      .orderBy(md5(col(urlCol)), col(urlCol))
    urls
      .join(delays.select(col("domain").as("__sd"),
        col("crawl_delay").as("__delay")),
        urls(domainCol) <=> col("__sd"), "left")
      .withColumn("fetch_seq", row_number().over(w) - 1)
      .withColumn("fetch_offset_s",
        col("fetch_seq") * coalesce(col("__delay"), lit(defaultDelay)))
      .drop("__sd", "__delay")
  }
}
