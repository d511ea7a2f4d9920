package graftbench

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Invariants of the benchmark itself (not of the program it measures). */
class BenchSpec extends AnyFunSuite {

  private val table = new Lineitem(24000, 24, 7L)

  private def ops(seed: Long, n: Int, from: Int = 0) =
    (from until from + n).map(i =>
      ReportGen.spec(table, 24, 8, seed, Gen.TimedStream, i.toLong))

  test("op sequence is a pure function of the seed and the op index") {
    assert(ops(7, 64) == ops(7, 64))
    // op i does not depend on which ops ran before it
    assert(ops(7, 32, from = 32) == ops(7, 64).drop(32))
    assert(ops(7, 64).map(_.toString) == ops(7, 64).reverse.reverse.map(_.toString))
  }

  test("a different seed gives a different sequence") {
    assert(ops(7, 64) != ops(8, 64))
    assert(ReportGen.spec(table, 24, 8, 7, Gen.WarmupStream, 0) !=
      ReportGen.spec(table, 24, 8, 7, Gen.TimedStream, 0))
  }

  test("shard-count schedule: every block of 16 ops reads 1..8 shards " +
       "twice, except that one 2-shard slot is a whole-table registry query") {
    for (seed <- Seq(1L, 2L, 3L))
      ops(seed, 64).grouped(ReportGen.Block).foreach { b =>
        val (reg, rest) = b.partition(_.kind == Kind.Registry)
        assert(reg.map(_.shards) == Seq((0 until 24).toVector))
        assert(rest.map(_.shards.size).sorted ==
          (1 to 8).flatMap(k => Seq(k, k)).diff(Seq(2)))
      }
  }

  test("registry queries rotate by block and each has a DuckDB oracle") {
    val qs = ops(3, 64).flatMap(_.query)
    assert(qs == table.registryQueries ++ table.registryQueries.take(1))
    qs.foreach(q => assert(graft.SparkEntry.oracleSql.contains(q), q))
  }

  test("a raw read's order-key range lies inside one of its shards") {
    for (seed <- 1L to 20L; o <- ops(seed, 64) if o.kind == Kind.Raw) {
      val lo = o.filters.head.value.asInstanceOf[Long]
      val hi = o.filters(1).value.asInstanceOf[Long] - 1
      assert(o.shards.exists { s =>
        val (a, b) = table.shardKeys(s)
        a <= lo && hi <= b
      }, o)
    }
  }

  test("every block of 16 ops has the same cost mix, whatever the seed") {
    // the one edge-case op per block rotates M1..M4 by block
    def mix(b: Seq[ReportSpec]) = b.filterNot(o => Kind.edge.contains(o.kind))
      .map(o => (o.shards.size, o.kind, o.dims.size,
        o.dims.contains("l_suppkey"), o.measures.map(_.take(2)),
        o.filters.map(_.op))).sortBy(_.toString)
    val blocks = Seq(1L, 2L).flatMap(ops(_, 64).grouped(ReportGen.Block))
    blocks.map(mix).distinct.size == 1 || fail("blocks differ in cost mix")
  }

  test("shard_publish reads 1..8 shards by op position, then compacts") {
    assert((0L until 20L).map(p => ShardPublish.slot(p)._2 + 1) ==
      (1 to 8) ++ (1 to 8) ++ (1 to 4))
    assert(ShardPublish.slot(17) == (2L, 1))
  }

  test("the op mix covers every AggOp, FilterOp and edge case") {
    val s = ops(5, 64)
    assert(s.flatMap(_.measures.map(_(1))).toSet ==
      graft.AggOp.all.map(_.name).toSet)
    assert(s.flatMap(_.filters.map(_.op)).toSet == graft.FilterOp.all.toSet)
    assert(s.map(_.kind).toSet ==
      (Kind.edge :+ Kind.Agg :+ Kind.Raw :+ Kind.Registry).toSet)
  }

  test("publish batches are pure functions of the seed and batch index") {
    val a = new PublishBatches(100, 3L)
    val b = new PublishBatches(100, 3L)
    assert(a.base64(a.batch(5)) == b.base64(b.batch(5)))
    assert(a.base64(a.batch(5)) != a.base64(a.batch(6)))
    assert(a.base64(a.batch(5)) != new PublishBatches(100, 4L).base64(
      new PublishBatches(100, 4L).batch(5)))
  }

  test("every metric name matches [A-Za-z0-9_.-]+ and BENCHMARK.json") {
    val names = (Main.endToEnd ++ Main.perLayer).map(_._1)
    names.foreach(n => assert(n.matches("[A-Za-z0-9_.-]+"), n))
    assert(names.distinct.size == names.size)
    val json = new String(Files.readAllBytes(Paths.get("..", "BENCHMARK.json")))
    names.foreach(n => assert(json.contains("\"" + n + "\""), n))
  }

  test("a tiny smoke run emits every end-to-end metric for each workload") {
    val work = Files.createTempDirectory("graftbench-smoke")
    for (w <- Main.workloads) {
      val dir = work.resolve(w)
      Files.createDirectories(dir)
      val out = new ByteArrayOutputStream()
      Console.withOut(out) {
        Main.run(Main.Args(w, seed = 1, seconds = 1, trace = false,
          work = dir, launchedMs = System.currentTimeMillis(),
          scale = 0.01, warmup = Some(2)))
      }
      val lines = out.toString.trim.split("\n")
      val last = new ObjectMapper().readTree(lines.last)
      assert(last.get("correct").asBoolean, last)
      val diag = new ObjectMapper().readTree(lines
        .find(_.startsWith("graftbench diagnostics ")).get
        .stripPrefix("graftbench diagnostics "))
      // the timed phase runs whole blocks, at least two, so every run has
      // the same mix
      val timed = diag.get("timed_ops").asInt
      assert(timed >= 2 * ReportGen.Block && timed % ReportGen.Block == 0,
        timed)
      assert(diag.get("fixture_build_ms").size == Main.fixtureBuilds)
      Main.endToEnd.foreach { case (n, u) =>
        assert(last.get("metrics").get(n).get("value").isNumber, n)
        assert(last.get("metrics").get(n).get("unit").asText == u, n)
      }
      assert(Files.exists(dir.resolve("ops.jsonl")))
    }
  }
}
