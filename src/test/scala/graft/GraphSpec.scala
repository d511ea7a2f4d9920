package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.SpanSugar._

import graft.operators.Graph

/** PageRank invariants on hand-checkable graphs: symmetry, dangling
  * redistribution, mass conservation, and layout-independence of the
  * integer-grid iteration. */
class GraphSpec extends SparkSpec with TimeLimits {
  import spark.implicits._

  // interrupt, not just report, an operator stuck on Observation.get
  implicit val signaler: Signaler = ThreadSignaler

  private val noEdges: Seq[(String, () => DataFrame)] = Seq(
    "empty" -> (() => Seq.empty[(Long, Long)].toDF("s", "t")),
    "all-null" -> (() => Seq[(Option[Long], Option[Long])](
      (None, None), (None, None)).toDF("s", "t")))
  private val ops: Seq[(String, DataFrame => DataFrame)] = Seq(
    "pageRank" -> (e => Graph.pageRank(e, "s", "t")),
    "hits" -> (e => Graph.hits(e, "s", "t")))

  for ((op, run) <- ops; (kind, edges) <- noEdges)
    test(s"$op on $kind edges fails fast with its require message") {
      val e = failAfter(60.seconds) {
        intercept[IllegalArgumentException](run(edges()))
      }
      assert(e.getMessage.contains(s"$op needs a non-empty edge list"))
    }

  test("a 2-cycle is symmetric at exactly half the mass each") {
    val e = Seq((1L, 2L), (2L, 1L)).toDF("s", "t")
    val r = Graph.pageRank(e, "s", "t", iters = 5)
      .as[(Long, Double)].collect().toMap
    assert(math.abs(r(1L) - 0.5) < 1e-9)
    assert(math.abs(r(2L) - 0.5) < 1e-9)
  }

  test("dangling mass redistributes; total mass stays ~1") {
    // 1 -> 2, 2 is dangling: without redistribution node 1 would decay
    // to the base share only
    val e = Seq((1L, 2L)).toDF("s", "t")
    val r = Graph.pageRank(e, "s", "t", iters = 10)
      .as[(Long, Double)].collect().toMap
    assert(math.abs(r.values.sum - 1.0) < 1e-6)
    assert(r(2L) > r(1L)) // the sink holds more than its feeder
    assert(r(1L) > 0.15 / 2 - 1e-6) // above the bare base share
  }

  test("star graph: the hub out-ranks the leaves") {
    val e = (2L to 6L).map(i => (i, 1L)).toDF("s", "t")
    val r = Graph.pageRank(e, "s", "t", iters = 5)
      .as[(Long, Double)].collect().toMap
    assert((2L to 6L).forall(i => r(1L) > r(i)))
    assert(math.abs(r.values.sum - 1.0) < 1e-6)
  }

  test("extractLinks: boundary-anchored href, real link not shadowed") {
    import org.apache.spark.sql.functions._
    val out = Seq(
      "<a data-href=\"/tracker\" href=\"/real\">x</a>",
      "<a xhref=\"/no\">y</a>",
      "<a\thref=\"/tabbed\">z</a>")
      .toDF("h")
      .select(graft.functions.TextAnalysis.extractLinks(col("h"))
        .as("l"))
      .as[Seq[String]].collect().toSeq
    assert(out == Seq(Seq("/real"), Seq(), Seq("/tabbed")))
  }

  test("extractAnchors: pairs, nested tags stripped, unclosed dropped") {
    import org.apache.spark.sql.functions.col
    val h = "<a href=\"/a\"> <b>Bold</b>\n link </a>" +
      "<A HREF='/b'>plain</A><a href=/c>never closed"
    val got = Seq(Tuple1(h)).toDF("h")
      .select(graft.functions.TextAnalysis.extractAnchors(col("h"))
        .as("a"))
      .selectExpr("inline(a)")
      .as[(String, String)].collect().toSeq
    assert(got == Seq(("/a", "Bold link"), ("/b", "plain")))
  }

  test("pageRank rejects overflow-prone damping denominators") {
    val e = Seq((1L, 2L)).toDF("s", "t")
    intercept[IllegalArgumentException] {
      Graph.pageRank(e, "s", "t", dampingNum = 3400000000L,
        dampingDen = 4000000000L)
    }
  }

  test("integer-grid iteration is partition-layout independent") {
    val edges = (1L to 200L).map(i => (i % 23, (i * 7 + 5) % 23))
    val a = Graph.pageRank(edges.toDF("s", "t"), "s", "t", iters = 3)
      .as[(Long, Double)].collect().toMap
    val b = Graph.pageRank(edges.toDF("s", "t").repartition(13),
        "s", "t", iters = 3)
      .as[(Long, Double)].collect().toMap
    assert(a == b) // bit-identical, not approximately equal
  }

  test("hits: structure, ordering, mass, and partition independence") {
    // bipartite: hub 2 points at both authorities, hubs 1/3 at one
    // each; authority 10 and 11 tie by symmetry (1→10, 3→11 mirror)
    val edges = Seq((1L, 10L), (2L, 10L), (2L, 11L), (3L, 11L))
    val run = (parts: Int) => Graph.hits(
      edges.toDF("s", "t").repartition(parts), "s", "t", iters = 2)
      .as[(Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val m = run(1)
    assert(m.keySet == Set(1L, 2L, 3L, 10L, 11L))
    // structural zeros: pure hubs have no authority and vice versa
    Seq(1L, 2L, 3L).foreach(h => assert(m(h)._2 == 0.0))
    Seq(10L, 11L).foreach(a => assert(m(a)._1 == 0.0))
    // hub 2 dominates; the symmetric pairs tie exactly
    assert(m(2L)._1 > m(1L)._1)
    assert(m(1L) == m(3L))
    assert(m(10L) == m(11L))
    // sum-normalization: each mass sums to 1 up to grid rounding
    assert(math.abs(m.values.map(_._1).sum - 1.0) < 1e-6)
    assert(math.abs(m.values.map(_._2).sum - 1.0) < 1e-6)
    assert(run(7) == m) // bit-identical across partitionings
  }

  test("hits keeps every node of a graph with dangling halves") {
    // 5 has no outlinks (hub 0), 1 has no inlinks (authority 0)
    val m = Graph.hits(Seq((1L, 5L), (1L, 2L), (2L, 5L)).toDF("s", "t"),
        "s", "t", iters = 1)
      .as[(Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(m.keySet == Set(1L, 2L, 5L))
    assert(m(5L)._1 == 0.0 && m(1L)._2 == 0.0)
    assert(m(1L)._1 > m(2L)._1) // 1 points at two authorities
  }
}
