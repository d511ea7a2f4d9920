package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Web-graph analytics over an edge list — the ranking half of a crawl
 * pipeline (outlink extraction builds the edges, PageRank turns them
 * into a quality/centrality prior for crawl scheduling and corpus
 * weighting; Page et al. 1999, public). Extension beyond the
 * reference surface (single-table OLAP, `parquery/README.md:4-8`).
 */
object Graph {

  /** 1e-12 rank grid: ranks are LONGs counting trillionths of the
    * total mass. Fine enough that per-op rounding (≤ half a unit)
    * never shows at any emitted precision; coarse enough that every
    * intermediate stays far inside Long. */
  private val Scale = 1000000000000L

  /**
   * Power-iteration PageRank on `(srcCol, dstCol)` edges: `iters`
   * rounds of `r' = (1-d)/N + d·(Σ in-contributions + dangling/N)`,
   * with dangling mass (nodes without outlinks) redistributed
   * uniformly. Returns `(node, rank)` for every node of the graph
   * (isolated receivers included), `rank` on the [[Scale]] grid
   * divided out to a double.
   *
   * == Determinism discipline ==
   *
   * The ENTIRE iteration is integer arithmetic on the 1e-12 grid —
   * the DSIR/`distributionDrift` discipline taken to its limit. The
   * damping factor is a RATIONAL `dampingNum/dampingDen` (default
   * 17/20 = 0.85), so every step is a half-away-from-zero integer
   * rounding: contribution `⌊(2r + deg) / 2deg⌋`, damped in-sum
   * `⌊(2·p·Σ + q) / 2q⌋`, base and dangling shares likewise. Long
   * sums are associative — no partial-sum order, no decimal scale
   * rules, no double conversion anywhere — so each round's ranks are
   * bit-identical across runs, partitionings, AND engines (an oracle
   * replays the identical `div` arithmetic).
   *
   * Scale shape: per round ONE hash join (ranks ⋈ edges on src) + ONE
   * groupBy(dst) with map-side Long partials + a one-row dangling
   * aggregate; the rank frame is pinned per round via
   * [[Checkpoints.Scope.pin]] — reliable checkpoint when the session has a
   * checkpoint dir, localCheckpoint otherwise; the `duplicateClusters`
   * lineage discipline: plan growth O(1) per round, each round
   * computed once. Driver holds one Long per
   * round. `iters` is a fixed small constant (crawl priors use 3-10),
   * so cost is iters × (join + agg) — no convergence scan.
   */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int = 3, dampingNum: Long = 17L,
               dampingDen: Long = 20L): DataFrame = Checkpoints.scoped { s =>
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(dampingNum > 0 && dampingNum < dampingDen,
      s"damping must be a rational in (0,1), got $dampingNum/$dampingDen")
    // overflow headroom: 2·Scale·(q−p) and 2·p·(total mass) must stay
    // inside Long — q ≤ 1000 caps both at ~2e15 while giving damping
    // 3-digit precision, far past any PageRank use
    require(dampingDen <= 1000L,
      s"dampingDen must be <= 1000 (Long overflow headroom), " +
        s"got $dampingDen")
    val e = s.pin(edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .distinct())
    // node count rides the node pin as an observe metric (optimization
    // round 20, the duplicateClusters convergence pattern): a separate
    // count() job re-scanned the just-materialized frame once per call
    val nodes0 = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
    val (nodes, obsN) = s.observed(nodes0, count(lit(1)).as("n"))
    val n = obsN.getAs[Long]("n")
    require(n > 0, "pageRank needs a non-empty edge list")
    val (p, q) = (dampingNum, dampingDen)
    // base share (1-d)/N on the grid, half-away-from-zero
    val base = (2L * Scale * (q - p) + q * n) / (2L * q * n)
    val outdeg = s.pin(e.groupBy(col("src")).agg(count(lit(1)).as("__deg")))
    // the uniform start needs no pin of its own: it is one narrow
    // literal column over the pinned node set (optimization round 20 —
    // the pin here cost a job per call and saved nothing)
    var ranks = nodes
      .withColumn("r", lit((2L * Scale + n) / (2L * n)))
    for (_ <- 1 to iters) {
      // ONE ranks⋈outdeg join per round, pinned so the dangling
      // aggregate and the contribution pass read the same
      // materialization instead of re-running the join; the dangling
      // mass (nodes without outlinks redistribute their whole rank)
      // rides the pin as an observe metric — a separate aggregate job
      // re-scanned the materialization once per round (optimization
      // round 20, guide §1.2: fewer sequential driver-blocking jobs)
      val (withDeg, obs) = s.observed(
        ranks.join(outdeg, ranks("node") === outdeg("src"), "left"),
        coalesce(sum(when(col("__deg").isNull, col("r"))), lit(0L))
          .as("dm"))
      val dangling = obs.getAs[Long]("dm")
      val dshare = (2L * p * dangling + q * n) / (2L * q * n)
      val contribs = withDeg.where(col("__deg").isNotNull)
        .select(col("node"),
          expr("(2 * r + __deg) div (2 * __deg)").as("__c"))
        .join(e.select(col("src").as("__es"), col("dst").as("__ed")),
          col("node") === col("__es"))
        .groupBy(col("__ed").as("node"))
        .agg(sum(col("__c")).as("__in"))
      val prev = ranks
      ranks = s.pin(nodes.join(contribs, Seq("node"), "left")
        .select(col("node"),
          (lit(base + dshare) +
            expr(s"(2 * $p * coalesce(__in, 0L) + $q) div (2 * $q)"))
            .as("r")))
      // exactly one live rank snapshot: the new round is materialized
      // (eager pin above), so the previous round's blocks — and the
      // per-round join pin — can go
      s.release(prev)
      s.release(withDeg)
    }
    ranks.select(col("node"),
      (col("r").cast("double") / Scale).as("rank"))
  }

  /**
   * HITS hubs-and-authorities on `(srcCol, dstCol)` edges (Kleinberg
   * 1999, public) — the OTHER link-graph prior a crawl pipeline wants
   * beside [[pageRank]]: authorities are pages good to KEEP (pointed
   * at by good hubs — reference pages, documentation roots), hubs are
   * pages good to CRAWL FROM (pointing at good authorities — link
   * hubs, indexes). Returns `(node, hub, authority)` for every node.
   *
   * == Determinism discipline (the [[pageRank]] rules) ==
   *
   * `iters` rounds of the mutual recursion `a ← Σ_{i→j} h_i`,
   * `h ← Σ_{i→j} a_j`, each half SUM-normalized back onto the
   * [[Scale]] grid with half-away-from-zero integer rounding:
   * `x ← (2·Scale·x' + S) div (2·S)`, `S = Σ x'`. The product
   * `Scale·x'` reaches ~n·Scale² — far past Long — so normalization
   * runs in `decimal(38,0)` (exact integer arithmetic, headroom to
   * 1e38) with `div` bringing the result back to a Long on the grid.
   * Long/decimal sums are associative, every step is exact integer
   * math — ranks are bit-identical across runs, partitionings and
   * engines, and an oracle replays the identical arithmetic (DuckDB
   * side: HUGEINT and `//`).
   *
   * Scale shape per round: two key joins (scores ⋈ edges) + two
   * map-side-combined groupBys + two one-row sums; score frames are
   * pinned per round ([[Checkpoints.Scope.pin]] — plan growth O(1) per
   * round). Nodes without outlinks keep hub 0; without inlinks,
   * authority 0 — they stay in the output.
   */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iters: Int = 2): DataFrame = Checkpoints.scoped { s =>
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val e = s.pin(edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .distinct())
    // node count rides the node pin as an observe metric (optimization
    // round 20 — the pageRank rationale)
    val nodes0 = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
    val (nodes, obsN) = s.observed(nodes0, count(lit(1)).as("n"))
    val n = obsN.getAs[Long]("n")
    require(n > 0, "hits needs a non-empty edge list")

    // SUM-normalize a long score column back onto the Scale grid:
    // decimal(38,0) exact product, half-away-from-zero div. The raw
    // aggregation is pinned ONCE and its one-row sum rides the pin as
    // an observe metric (optimization round 20: the separate aggregate
    // job re-scanned the materialization once per half-round), so the
    // sum and the normalize pass read the same materialization (the
    // pageRank dangling-aggregate discipline).
    def normalized(raw: DataFrame, c: String): DataFrame = {
      val (pre, obs) = s.observed(raw, coalesce(sum(col(c)), lit(0L)).as("s"))
      val m = obs.getAs[Long]("s")
      require(m > 0, "score mass vanished — empty edge list half")
      val out = s.pin(pre.select(col("node"),
        expr(s"(2 * cast($Scale as decimal(38,0)) * cast($c as " +
          s"decimal(38,0)) + $m) div (2 * cast($m as decimal(38,0)))")
          .as(c)))
      s.release(pre)
      out
    }

    // uniform start: one narrow literal column over the pinned node
    // set — needs no pin of its own (optimization round 20)
    var hubs = nodes
      .withColumn("h", lit((2L * Scale + n) / (2L * n)))
    var auths: DataFrame = null
    for (_ <- 1 to iters) {
      // authorities from hubs: a'_j = Σ_{i→j} h_i
      val prevA = auths
      auths = normalized(
        e.join(hubs, col("src") === col("node"))
          .groupBy(col("dst").as("__node"))
          .agg(sum(col("h")).as("a"))
          .join(nodes, col("__node") === col("node"), "right")
          .select(col("node"), coalesce(col("a"), lit(0L)).as("a")),
        "a")
      if (prevA != null) s.release(prevA)
      // hubs from authorities: h'_i = Σ_{i→j} a_j
      val prevH = hubs
      hubs = normalized(
        e.join(auths, col("dst") === col("node"))
          .groupBy(col("src").as("__node"))
          .agg(sum(col("a")).as("h"))
          .join(nodes, col("__node") === col("node"), "right")
          .select(col("node"), coalesce(col("h"), lit(0L)).as("h")),
        "h")
      s.release(prevH)
    }
    hubs.join(auths, Seq("node"))
      .select(col("node"),
        (col("h").cast("double") / Scale).as("hub"),
        (col("a").cast("double") / Scale).as("authority"))
  }
}
