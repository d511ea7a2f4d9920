package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.GraftSession

/**
 * One benchmark run: `--workload --seed --seconds --trace --work
 * --launched-ms`. Prints a diagnostics line, then the result as the last
 * stdout line, and leaves `ops.jsonl` in the work directory for the result
 * checks (graftbench/check.py). See graftbench/README.md.
 */
object Main {

  /** name → (unit, higher is better) of the metrics a trace-off run reports. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_ms" -> "ms", "op_tail_ms" -> "ms",
    "ops_per_s" -> "1/s", "rows_per_s" -> "1/s",
    "stored_bytes_per_user_byte" -> "ratio", "peak_rss_mb" -> "MB")

  /** The metrics a traced run reports, by layer. */
  val perLayer: Seq[(String, String)] = Seq(
    "AggregateEngine.plan_ms" -> "ms",
    "AggregateEngine.plan_jobs" -> "count",
    "AggregateEngine.plan_ms_per_shard" -> "ms",
    "AggregateEngine.exec_ms" -> "ms",
    "AggregateEngine.exec_jobs" -> "count",
    "AggregateEngine.exec_tasks" -> "count",
    "AggregateEngine.shuffle_bytes" -> "B",
    "AggregateEngine.input_bytes" -> "B",
    "AggregateEngine.rows_scanned_per_row_out" -> "ratio",
    "Transport.serialize_ms" -> "ms",
    "Transport.ipc_bytes" -> "B",
    "Transport.deserialize_ms" -> "ms",
    "Naming.rename_ms" -> "ms",
    "Writer.write_ms" -> "ms",
    "Writer.write_jobs" -> "count",
    "Writer.bytes_per_row" -> "B/row",
    "Writer.files_per_publish" -> "count",
    "Writer.compact_ms" -> "ms",
    "Writer.compact_bytes_rewritten_per_user_byte" -> "ratio",
    "SparkEntry.build_ms" -> "ms",
    "SparkEntry.build_jobs" -> "count",
    "SparkEntry.exec_ms" -> "ms",
    "SparkEntry.exec_jobs" -> "count",
    "GraftSession.start_ms" -> "ms",
    "jvm.gc_ms_per_op" -> "ms",
    "bench.op_self_ms" -> "ms",
    "trace.overhead_frac" -> "ratio")

  val workloads: Seq[String] = Seq("shard_report", "shard_publish")

  /** Fixed warm-up op counts, sized in graftbench/EVIDENCE.md. */
  val defaultWarmup: Map[String, Int] =
    Map("shard_report" -> 24, "shard_publish" -> 16)

  /** Set-up builds the fixture this many times; `setup_s` counts the
    * median build. */
  val fixtureBuilds = 3

  /** `scale` (a fraction of the data size) and `warmup` (an op count) are
    * for the smoke test; a benchmark run always uses the defaults. */
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, launchedMs: Long, scale: Double = 1.0,
      warmup: Option[Int] = None)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def get(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val w = get("workload")
    require(workloads.contains(w), s"unknown workload $w; have $workloads")
    Args(w, get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", Paths.get(get("work")),
      m.get("launched-ms").map(_.toLong)
        .getOrElse(System.currentTimeMillis()))
  }

  private val t0 = System.nanoTime()
  private def progress(msg: String): Unit =
    System.err.println(f"graftbench ${(System.nanoTime() - t0) / 1e9}%7.1fs $msg")

  def main(argv: Array[String]): Unit = {
    run(parse(argv))
    System.out.flush()
    progress("exiting")
    sys.exit(0)
  }

  def run(a: Args): Unit = {
    val probe0 = Host.probes()
    val cpu0 = Host.cpu()
    val (spark, startMs) =
      Workload.timed(GraftSession.local("graftbench", 4))
    val tracer = new Tracer(spark.sparkContext)
    val w: Workload = a.workload match {
      case "shard_report" => new ShardReport(spark, a.work, a.seed,
        math.max(2400L, (600000 * a.scale).toLong), tracer)
      case "shard_publish" => new ShardPublish(spark, a.work, a.seed,
        math.max(50, (2000 * a.scale).toInt), tracer)
    }

    // ---- setup: fixture builds, fixed warm-up ---------------------------
    val sessionReady = System.currentTimeMillis()
    progress(s"session started in ${startMs.toLong} ms")
    val buildsMs = (1 to fixtureBuilds).map(_ => Workload.timed(w.build())._2)
    progress(s"fixture built $fixtureBuilds times")
    val warmupOps = a.warmup.getOrElse(defaultWarmup(a.workload))
    val errors = mutable.ArrayBuffer.empty[String]
    val (warm, warmupMs) = Workload.timed((0L until warmupOps).flatMap(i =>
      attempt(w, i, Gen.WarmupStream, "warmup", tracer, errors)))
    progress(s"$warmupOps warm-up ops done")
    // launch → session, the median fixture build, the warm-up
    val setupS = ((sessionReady - a.launchedMs) + Stats.median(buildsMs) +
      warmupMs) / 1000.0
    val cpu1 = Host.cpu()
    val gc0 = Host.gcMs()

    // ---- timed phase; a traced run then replays it with tracing on -----
    val plain = phase(w, a.seconds, "timed", tracer, errors)
    val (timed, gcMs) =
      if (!a.trace) (plain, Host.gcMs() - gc0)
      else {
        val g = Host.gcMs()
        tracer.start()
        val t = phase(w, a.seconds, "traced", tracer, errors)
        tracer.stop()
        (t, Host.gcMs() - g)
      }
    val recs = timed.all
    val kept = timed.kept
    val cpu2 = Host.cpu()
    val peakRss = Host.peakRssMb()
    val probe1 = Host.probes()
    val (stored, user) = w.storedAndUserBytes(recs)

    progress(s"timed phase done: ${recs.size} ops")

    // ---- op log for the result checks (graftbench/check.py) -------------
    val all = if (a.trace) plain.all ++ recs else plain.all
    OpLog.write(a.work.resolve("ops.jsonl"), all, w)
    all.foreach(r => r.rowsOut = OpLog.arrowRows(r.result))
    val failed = errors.size
    val attempted = all.size + failed

    // the percentile of the shortest phase, two blocks (68th), so a run
    // that keeps a third block reports the same one
    val (tailP, tailV) = Stats.tail(kept.map(_.opMs), 2 * ReportGen.Block)
    val e2e = Map(
      "setup_s" -> setupS,
      "op_p50_ms" -> Stats.median(kept.map(_.readMs)),
      "op_tail_ms" -> tailV,
      "ops_per_s" -> kept.size / timed.keptSeconds,
      "rows_per_s" -> kept.map(_.rowsIn).sum / timed.keptSeconds,
      "stored_bytes_per_user_byte" -> stored.toDouble / user,
      "peak_rss_mb" -> peakRss)
    val layers =
      if (!a.trace) Map.empty[String, Double]
      else Layers.metrics(tracer, w, recs, plain.all, startMs, gcMs)

    val diag = Json.obj(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "timed_ops" -> recs.size, "timed_s" -> timed.seconds,
      "kept_ops" -> kept.size, "kept_s" -> timed.keptSeconds,
      // per block run: seconds, host steal share, kept for the metrics
      "timed_blocks" -> timed.blocks.map { case (s, st, k) =>
        Json.obj("s" -> s, "steal_frac" -> st, "kept" -> k) },
      "warmup_ops" -> warmupOps, "fixture_build_ms" -> buildsMs,
      "warmup_ms" -> warmupMs,
      // median op latency per block of 10 warm-up ops: sizes the warm-up
      "warmup_block_p50_ms" -> warm.grouped(10).map(b =>
        Stats.median(b.map(_.opMs))).toSeq,
      "timed_block_p50_ms" -> recs.grouped(ReportGen.Block).map(b =>
        Stats.median(b.map(_.opMs))).toSeq,
      "op_tail_percentile" -> tailP,
      "op_tail_samples_beyond" -> (kept.size * (100 - tailP) / 100),
      "ops_threw" -> failed,
      "publish_p50_ms" -> (if (a.workload == "shard_publish")
        Stats.median(recs.map(_.publishMs)) else null),
      "graftsession_start_ms" -> startMs,
      "host_probe_before" -> probe0, "host_probe_after" -> probe1,
      "setup_host" -> Json.obj(cpu0.fractions(cpu1).toSeq: _*),
      "timed_host" -> Json.obj(cpu1.fractions(cpu2).toSeq: _*),
      "timed_minflt_per_op" ->
        (cpu2.minflt - cpu1.minflt).toDouble / math.max(1, recs.size),
      "loadavg_1m" -> Host.loadavg(),
      "errors" -> errors.toSeq,
      "end_to_end" -> Json.obj(endToEnd.map { case (n, u) =>
        n -> Json.obj("value" -> e2e(n), "unit" -> u) }: _*))
    println("graftbench diagnostics " + Json.write(diag))

    if (a.trace) {
      val out = a.work.getParent.resolve(s"trace-${a.workload}-${a.seed}.json")
      Files.write(out, Layers.spansJson(tracer).getBytes(UTF_8))
      println(s"graftbench spans written to $out")
    }
    spark.stop()
    progress("session stopped")

    val shown = if (a.trace) perLayer.map { case (n, u) => n -> (layers(n), u) }
                else endToEnd.map { case (n, u) => n -> (e2e(n), u) }
    println(Json.write(Json.obj(
      "correct" -> (failed == 0), "attempted" -> math.max(1, attempted),
      "failed" -> failed,
      "metrics" -> Json.obj(shown.map { case (n, (v, u)) =>
        n -> Json.obj("value" -> v, "unit" -> u) }: _*))))
  }

  private def attempt(w: Workload, i: Long, stream: Long, phase: String,
                      tracer: Tracer, errors: mutable.ArrayBuffer[String])
      : Option[Rec] =
    try {
      tracer.beginOp(i)
      Some(tracer.span("op")(w.op(i, stream, phase)))
    } catch {
      case e: Exception =>
        errors += s"$phase op $i: $e"
        None
    }

  /** Host steal above this share of a block's CPU time marks the block
    * as disturbed (see [[phase]]). */
  val maxBlockSteal = 0.02

  /** A timed phase: every op it ran, the ops of its kept blocks and their
    * seconds, the phase's length, and per block run (seconds, host steal
    * share, kept). */
  final case class Phase(all: Vector[Rec], kept: Vector[Rec],
      keptSeconds: Double, seconds: Double,
      blocks: Seq[(Double, Double, Boolean)])

  /** Runs timed ops 0, 1, ... in whole blocks of [[ReportGen.Block]] ops,
    * at least two, until `seconds` have passed, so every phase runs the
    * same cost mix (the block running at the deadline completes and
    * counts). A block during which the host stole more than
    * [[maxBlockSteal]] of all CPU time (/proc/stat) measured the host, not
    * the program: while fewer than two blocks are undisturbed, one more
    * block runs, up to three in all. The metrics come from the
    * undisturbed blocks, or, if fewer than two, from the two with the
    * least steal. */
  private def phase(w: Workload, seconds: Double, name: String,
                    tracer: Tracer, errors: mutable.ArrayBuffer[String])
      : Phase = {
    val blocks = mutable.ArrayBuffer.empty[(Vector[Rec], Double, Double)]
    var i = 0L
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    def quiet = blocks.count(_._3 <= maxBlockSteal)
    while (blocks.size < 2 || elapsed < seconds ||
           (quiet < 2 && blocks.size < 3)) {
      val (c0, b0) = (Host.cpu(), System.nanoTime())
      val recs = Vector.fill(ReportGen.Block) {
        val r = attempt(w, i, Gen.TimedStream, name, tracer, errors)
        i += 1
        r
      }.flatten
      val steal = c0.fractions(Host.cpu())("steal_frac")
      blocks += ((recs, (System.nanoTime() - b0) / 1e9, steal))
    }
    val keep =
      if (quiet >= 2) blocks.indices.filter(blocks(_)._3 <= maxBlockSteal)
      else blocks.indices.sortBy(blocks(_)._3).take(2)
    Phase(blocks.flatMap(_._1).toVector,
      keep.sorted.flatMap(blocks(_)._1).toVector,
      keep.map(blocks(_)._2).sum, elapsed,
      blocks.indices.map(k =>
        (blocks(k)._2, blocks(k)._3, keep.contains(k))).toSeq)
  }
}

/** The run's output lines, rendered by the Jackson that Spark ships. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** A JSON object whose fields keep their order. */
  def obj(fields: (String, Any)*): ListMap[String, Any] = ListMap(fields: _*)

  def write(v: Any): String = mapper.writeValueAsString(v)
}
