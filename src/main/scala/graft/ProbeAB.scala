package graft

/**
 * Dev measurement tool: same-session timer for a few registry queries,
 * plus per-run Spark JOB counts — the honest statistic for
 * driver-orchestration-bound queries whose final physical plan is just
 * a checkpoint scan. One warm-up run per query, then N rounds; prints
 * per query the min, median and max seconds over the rounds and the min
 * and max job count, so a difference can be read against the spread.
 *
 * Methodology (r19, reproduced from OPTIMIZATION_r19.md): hosts show
 * ambient co-tenancy drift up to 2x between sessions, so cross-session
 * numbers are ordering hints only; compare two builds by running this
 * against each, alternated, min of >=3 rounds, 5% tie band.
 *
 * Usage: runMain graft.ProbeAB q_name [q_name ...]
 *   env SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as in Bench; rounds via
 *   SPARK_GRAFT_PROBE_ROUNDS (default 3); SPARK_GRAFT_PROBE_JOBS=1 adds
 *   a per-job log of one extra run per query.
 */
object ProbeAB {

  private final class JobCounter extends org.apache.spark.scheduler.SparkListener {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val log = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    private val starts =
      new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    @volatile var verbose = false
    override def onJobStart(
        js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      if (verbose) {
        val site = Option(js.properties)
          .flatMap(p => Option(p.getProperty("callSite.short")))
          .getOrElse("?")
        starts.put(js.jobId, (System.nanoTime(), site))
      }
    }
    override def onJobEnd(
        je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
      if (verbose) Option(starts.remove(je.jobId)).foreach {
        case (t0, site) =>
          log.add(f"    job ${je.jobId}%4d ${(System.nanoTime() - t0) / 1e9}%7.3fs  $site")
      }
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ProbeAB q_name [q_name ...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val rounds = sys.env.getOrElse("SPARK_GRAFT_PROBE_ROUNDS", "3").toInt
    val spark = GraftSession.local("graft-probe", cpus)
    val byName = SparkEntry.queries
    val names = args.toSeq
    names.foreach(n => require(byName.contains(n), s"unknown query $n"))

    val counter = new JobCounter
    spark.sparkContext.addSparkListener(counter)

    def run(n: String): (Double, Int) = {
      val j0 = counter.jobs.get()
      val t0 = System.nanoTime()
      byName(n)(spark, sfDir).write.format("noop").mode("overwrite").save()
      ((System.nanoTime() - t0) / 1e9, counter.jobs.get() - j0)
    }

    names.foreach(run) // warm-up: codegen/JIT, fixture first touch
    val res = scala.collection.mutable.Map.empty[String, Vector[(Double, Int)]]
    (1 to rounds).foreach { r =>
      names.foreach { n => res(n) = res.getOrElse(n, Vector.empty) :+ run(n) }
      System.err.println(s"[probe] round $r done")
    }
    // verbose per-job profile of one extra run per query: the honest
    // breakdown for driver-orchestration-bound queries
    if (sys.env.get("SPARK_GRAFT_PROBE_JOBS").contains("1")) {
      names.foreach { n =>
        counter.verbose = true
        counter.log.clear()
        val (t, j) = run(n)
        counter.verbose = false
        Thread.sleep(200) // let listener drain
        println(f"  [jobs] $n: $t%.3fs, $j jobs")
        counter.log.forEach(l => println(l))
      }
    }
    println(f"${"query"}%-36s ${"min_s"}%8s ${"median_s"}%8s ${"max_s"}%8s " +
      f"${"jobs_min"}%8s ${"jobs_max"}%8s")
    names.foreach { n =>
      val secs = res(n).map(_._1).sorted
      val jobs = res(n).map(_._2)
      val median =
        if (secs.size % 2 == 1) secs(secs.size / 2)
        else (secs(secs.size / 2 - 1) + secs(secs.size / 2)) / 2
      println(f"$n%-36s ${secs.head}%8.3f $median%8.3f ${secs.last}%8.3f " +
        f"${jobs.min}%8d ${jobs.max}%8d")
    }
    spark.stop()
  }
}
