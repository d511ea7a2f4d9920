package graftbench

/**
 * Per-layer metrics from a traced phase's spans and job counters. A layer
 * the workload never calls reports 0. Self time is a span's duration less
 * the part of it its children (spans or Spark jobs) cover.
 */
object Layers {

  /** Total length, ms, of the union of [start, end) intervals (ns). */
  def unionMs(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1)) {
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    (total + curE - curS) / 1e6
  }

  def metrics(tracer: Tracer, w: Workload, recs: Seq[Rec],
              untraced: Seq[Rec], startMs: Double, gcMs: Long)
      : Map[String, Double] = {
    val spans = tracer.spans.toVector
    val jobs = tracer.jobs().groupBy(_.span)
    val named = spans.groupBy(_.name).withDefaultValue(Vector.empty)
    val children = spans.groupBy(_.parent).withDefaultValue(Vector.empty)
    val recOf = recs.map(r => r.i -> r).toMap
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def jobsIn(s: Span) = jobs.getOrElse(s.id, Nil)
    def jobMs(s: Span) = unionMs(jobsIn(s).map(j => (j.start, j.end)))
    def selfMs(s: Span) = math.max(0.0, s.ms - unionMs(
      children(s.id).map(c => (c.start, c.end)) ++
        jobsIn(s).map(j => (j.start, j.end))))

    val reports = recs.filter(_.spec.kind != Kind.Registry)
    val plan = named("AggregateEngine.aggregatePqShards")
    val build = named("SparkEntry.queries")
    val collect = named("SparkEntry.collect")
    val ser = named("Transport.serializeArrowBytes")
    val exec = ser.flatMap(jobsIn)
    val publishes = recs.flatMap(_.shardDir)
    val compactions = recs.flatMap(r => r.compacted.map(r -> _._2))
    val published = publishes.map(Workload.dirBytes).sum
    val compactUser = w match {
      case p: ShardPublish => compactions.map(c => p.compactUserBytes(c._1)).sum
      case _               => 0L
    }
    // both phases ran the same op sequence from op 0: compare its prefix
    val n = math.min(recs.size, untraced.size)
    val p50 = (rs: Seq[Rec]) => med(rs.take(n).map(_.opMs))

    Map(
      "AggregateEngine.plan_ms" -> med(plan.map(_.ms)),
      "AggregateEngine.plan_jobs" -> Stats.mean(plan.map(jobsIn(_).size.toDouble)),
      "AggregateEngine.plan_ms_per_shard" -> med(plan.flatMap(s =>
        recOf.get(s.op).map(r => s.ms / r.paths.size))),
      "AggregateEngine.exec_ms" -> med(ser.map(jobMs)),
      "AggregateEngine.exec_jobs" -> Stats.mean(ser.map(jobsIn(_).size.toDouble)),
      "AggregateEngine.exec_tasks" ->
        Stats.mean(ser.map(jobsIn(_).map(_.tasks.toDouble).sum)),
      "AggregateEngine.shuffle_bytes" ->
        Stats.mean(ser.map(jobsIn(_).map(_.shuffleBytes.toDouble).sum)),
      "AggregateEngine.input_bytes" ->
        Stats.mean(ser.map(jobsIn(_).map(_.inputBytes.toDouble).sum)),
      "AggregateEngine.rows_scanned_per_row_out" ->
        exec.map(_.inputRows).sum.toDouble /
          math.max(1L, reports.map(_.rowsOut).sum),
      "Transport.serialize_ms" -> med(ser.map(selfMs)),
      "Transport.ipc_bytes" ->
        Stats.mean(reports.map(_.result.length.toDouble)),
      "Transport.deserialize_ms" ->
        med(named("Transport.deserializeArrowBase64").map(_.ms)),
      "Naming.rename_ms" -> med(named("Naming.dfToNaturalName").map(_.ms)),
      "Writer.write_ms" -> med(named("Writer.dfToParquet").map(_.ms)),
      "Writer.write_jobs" ->
        Stats.mean(named("Writer.dfToParquet").map(jobsIn(_).size.toDouble)),
      "Writer.bytes_per_row" -> published.toDouble / math.max(1L,
        recs.filter(_.shardDir.nonEmpty).map(_.rowsIn).sum),
      "Writer.files_per_publish" ->
        Stats.mean(publishes.map(Workload.parquetFiles(_).toDouble)),
      "Writer.compact_ms" -> med(named("Writer.compact").map(_.ms)),
      "Writer.compact_bytes_rewritten_per_user_byte" ->
        compactions.map(c => Workload.dirBytes(c._2)).sum.toDouble /
          math.max(1L, compactUser),
      "SparkEntry.build_ms" -> med(build.map(_.ms)),
      "SparkEntry.build_jobs" -> Stats.mean(build.map(jobsIn(_).size.toDouble)),
      "SparkEntry.exec_ms" -> med(collect.map(_.ms)),
      "SparkEntry.exec_jobs" ->
        Stats.mean(collect.map(jobsIn(_).size.toDouble)),
      "GraftSession.start_ms" -> startMs,
      "jvm.gc_ms_per_op" -> gcMs.toDouble / math.max(1, recs.size),
      "bench.op_self_ms" -> med(named("op").map(selfMs)),
      "trace.overhead_frac" -> (p50(recs) / p50(untraced) - 1))
  }

  /** Spans and job counters as one JSON document. */
  def spansJson(tracer: Tracer): String = {
    val spans = tracer.spans.map(s => Json.obj("id" -> s.id,
      "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "start_ns" -> s.start, "end_ns" -> s.end))
    val jobs = tracer.jobs().map(j => Json.obj("span" -> j.span,
      "start_ns" -> j.start, "end_ns" -> j.end, "tasks" -> j.tasks,
      "input_bytes" -> j.inputBytes, "input_rows" -> j.inputRows,
      "shuffle_bytes" -> j.shuffleBytes))
    Json.write(Json.obj("spans" -> spans, "jobs" -> jobs))
  }
}
