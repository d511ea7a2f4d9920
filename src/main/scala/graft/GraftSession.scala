package graft

import org.apache.spark.sql.SparkSession

import graft.plans.GraftExtensions

/**
 * Session factory embodying the engine's scale configuration. One place
 * for every knob, so local harnesses and cluster deployments share the
 * same posture.
 *
 * The defaults and why (all public Spark configuration):
 *  - AQE on (default in Spark 4, pinned explicitly): runtime re-planning
 *    replaces the reference's hand-rolled heuristics — coalescing tiny
 *    shuffle partitions stands in for "disable pre-aggregation at ≥5
 *    dims", skew-join splitting stands in for nothing the reference has
 *    (`parquery/aggregate_pyarrow.py:98-116` — do NOT port those magic
 *    constants).
 *  - `shuffle.partitions` sized to the core count locally; on a cluster
 *    leave AQE's coalescing to shrink from a generous initial number.
 *  - `files.maxPartitionBytes` 128m (default): one task per ~128 MB split
 *    is the distributed analog of the reference's one-row-group-at-a-time
 *    streaming read (`parquery/aggregate_pyarrow.py:157-167`) — bounded
 *    memory per task, no giant partitions.
 *  - session timezone pinned UTC: timestamp semantics must not depend on
 *    executor locale (and the DuckDB verify oracle runs UTC).
 *  - parquet filter pushdown + vectorized reader are Spark defaults the
 *    engine RELIES on (SURVEY.md §4 O1/O2); pinned against env drift.
 *  - `codegen.cache.maxEntries` [[codegenCacheEntries]] (a static conf
 *    Spark marks internal): Spark's compiled-class cache
 *    (`CodeGenerator.compile`) holds 100 entries by default, fewer than
 *    graft's working set, so a repeated report shape was compiled again
 *    (Janino, ~15–25 ms a class) once other shapes had evicted it. In
 *    Spark 4.1 the cache key is (thread context class loader, source):
 *    the driver thread and the local executor's task threads carry
 *    different loaders, so a source that is compiled on both sides takes
 *    two entries. The size is read once per JVM, at its first compile,
 *    from the session active then — so it holds when the JVM's first
 *    session is built here.
 *  - `parquet.nanosAsLong` on (a legacy conf): Spark reads a Parquet
 *    nanosecond timestamp only as a long, under this conf, and fails on
 *    it otherwise. Set here, it is fixed for the session's life, so a
 *    nanosecond file reads the same whatever ran before it (an events
 *    table may store `ts` as nanoseconds; `SparkEntry.events` converts
 *    the long back to a timestamp).
 *  - [[GraftExtensions]] installed (`withExtensions`, the same object a
 *    `spark.sql.extensions` deployment names): the native functions, and
 *    the rule that keeps filter values out of generated code, so a
 *    shape's classes are reused across filter values.
 */
object GraftSession {

  /** Entries in Spark's compiled-class cache: the measured working set,
    * distinct generated sources × 2 class loaders, with headroom. With
    * the filter-value rule on, on 4 cores: one `graft.Verify` run at
    * sf0.01 (all 259 queries) generated 1,596 distinct sources and held
    * 2,691 entries (not every source is compiled on both sides);
    * graftbench's `shard_report` 110 sources / 183 entries and
    * `shard_publish` 110 / 184 (seed 1, `--seconds 15`).
    * 2 × 1,596 = 3,192, rounded up to 4,096. The cache grows only to the
    * classes actually compiled, so a small working set holds no more
    * memory for it. */
  val codegenCacheEntries: Int = 4096

  def builder(appName: String = "graft",
              master: Option[String] = None,
              shufflePartitions: Option[Int] = None): SparkSession.Builder = {
    val cores = Runtime.getRuntime.availableProcessors()
    val b = SparkSession.builder()
      .appName(appName)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.parquet.enableVectorizedReader", "true")
      .config("spark.sql.files.maxPartitionBytes", "134217728")
      .config("spark.sql.shuffle.partitions",
        shufflePartitions.getOrElse(cores).toString)
      .config("spark.sql.codegen.cache.maxEntries",
        codegenCacheEntries.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .withExtensions(new GraftExtensions)
    master.fold(b)(b.master)
  }

  /** Local session for tools/harnesses: local[n], n shuffle partitions. */
  def local(appName: String, cores: Int, uiEnabled: Boolean = false)
      : SparkSession = {
    val s = builder(appName, Some(s"local[$cores]"), Some(cores))
      .config("spark.ui.enabled", uiEnabled.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
