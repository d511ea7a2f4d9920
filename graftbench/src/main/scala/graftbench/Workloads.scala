package graftbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count}

import graft.{AggregateEngine, SparkEntry}
import graft.functions.Naming
import graft.sources.{Transport, Writer}

/** One op as run: its report spec, the paths it read, its Arrow result,
  * and its latencies. `rowsIn` counts input rows aggregated or published. */
final class Rec(val i: Long, val spec: ReportSpec, val paths: Seq[String],
                val present: Seq[String]) {
  var result: Array[Byte] = Array.emptyByteArray
  var readMs = 0.0
  var publishMs = 0.0
  var opMs = 0.0
  var rowsIn = 0L
  var rowsOut = 0L
  /** Publish only: the batch index, shard dir and compaction it did. */
  var batch = -1L
  var shardDir: Option[String] = None
  var compacted: Option[(String, String, Seq[Long])] = None
}

/** A workload: a fixture build, then ops by index. */
trait Workload {
  def build(): Unit
  /** Op `i` of `stream`; every phase starts at op 0. */
  def op(i: Long, stream: Long, phase: String): Rec
  def domainColumns: Set[String]
  /** On-disk bytes and user bytes of everything the timed phase (or, for
    * shard_report, the fixture) published. */
  def storedAndUserBytes(recs: Seq[Rec]): (Long, Long)
  /** What the directories an op published must hold, for the checks. */
  def expectedSums(r: Rec): Seq[Map[String, Any]] = Nil
}

object Workload {
  def dirBytes(p: String): Long = {
    val root = java.nio.file.Paths.get(p)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  def parquetFiles(p: String): Int = {
    val s = Files.list(java.nio.file.Paths.get(p))
    try s.iterator.asScala.count(_.getFileName.toString.endsWith(".parquet"))
    finally s.close()
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e6)
  }
}

/** The reference's traffic: report calls over a seeded subset of shards,
  * and one registry query over the whole table per block of ops. */
final class ShardReport(spark: SparkSession, work: Path, seed: Long,
    rows: Long, tracer: Tracer) extends Workload {
  import Workload._

  val shards = 24
  val maxShards = 8
  val table = new Lineitem(rows, shards, seed)
  private var dirs: Vector[String] = Vector.empty

  def domainColumns: Set[String] = table.columns

  /** One `Writer.dfToParquet` call writes all shards, `shard=k`, one
    * ZSTD file each (each range partition holds exactly one shard). The
    * directory is `lineitem.parquet`, the name the registry reads. */
  def build(): Unit = {
    val base = work.resolve("lineitem.parquet")
    Writer.dfToParquet(table.table(spark), base.toString,
      partitionBy = Seq("shard"))
    dirs = (0 until shards).toVector.map(s =>
      base.resolve(f"shard=$s").toString)
  }

  def op(i: Long, stream: Long, phase: String): Rec = {
    val spec = ReportGen.spec(table, shards, maxShards, seed, stream, i)
    val present = spec.shards.map(dirs)
    val paths = present ++
      (if (spec.missingShard) Seq(work.resolve(s"absent-$i").toString) else Nil)
    val rec = new Rec(i, spec, paths, present)
    rec.rowsIn = spec.shards.map(table.shardRows).sum
    val t0 = System.nanoTime()
    rec.result = spec.query match {
      case Some(q) => registry(q)
      case None    => ShardReport.report(tracer, spark, rec)
    }
    rec.readMs = (System.nanoTime() - t0) / 1e6
    rec.opMs = rec.readMs
    rec
  }

  /** One registry query: its construction, then its execution (the
    * collect that serializes its result). */
  private def registry(q: String): Array[Byte] = {
    val df = tracer.span("SparkEntry.queries")(
      SparkEntry.queries(q)(spark, work.toString))
    tracer.span("SparkEntry.collect")(Transport.serializeArrowBytes(df))
  }

  def storedAndUserBytes(recs: Seq[Rec]): (Long, Long) = {
    val nonNull = spark.read.parquet(dirs: _*)
      .agg(count(col("l_discount"))).head().getLong(0)
    (dirs.map(dirBytes).sum, table.userBytes(table.rows, nonNull))
  }
}

object ShardReport {
  /** One report call and the serialization of its result. */
  def report(tracer: Tracer, spark: SparkSession, rec: Rec): Array[Byte] = {
    val s = rec.spec
    val df = tracer.span("AggregateEngine.aggregatePqShards")(
      AggregateEngine.aggregatePqShards(spark, rec.paths, s.dims, s.measures,
        s.filters, s.aggregate))
    tracer.span("Transport.serializeArrowBytes")(
      Transport.serializeArrowBytes(df))
  }
}

/**
 * Writes beside reads: each op publishes one seeded Arrow batch as a new
 * shard, then reports over every shard of the current cycle. Every
 * `cycle` publishes, `Writer.compact` rewrites the cycle's shards into a
 * fresh directory and the next cycle starts with no shards, so the shard
 * count read cycles 1..cycle. Where an op writes and what it reads are
 * functions of its index only. Shards are Hive-style `shard=k`
 * directories, so a cycle directory is one parquet dataset that
 * `Writer.compact` can read (with `shard` as a column).
 */
final class ShardPublish(spark: SparkSession, work: Path, seed: Long,
    rowsPerBatch: Int, tracer: Tracer) extends Workload {
  import Workload._

  import ShardPublish.{cycle, slot => cycleSlot}
  val pool = 64
  val batches = new PublishBatches(rowsPerBatch, seed)
  private var encoded: Vector[String] = Vector.empty
  private var userBytes: Vector[Long] = Vector.empty
  def domainColumns: Set[String] = PublishDomain.columns

  /** The fixture is the pool of encoded batches; ops cycle through it. */
  def build(): Unit = {
    val bs = (0 until pool).toVector.map(j => batches.batch(j))
    encoded = bs.map(batches.base64)
    userBytes = bs.map(_.userBytes)
  }

  def op(i: Long, stream: Long, phase: String): Rec = {
    val (c, slot) = cycleSlot(i)
    val cycleDir = work.resolve(s"pub-$phase").resolve(f"cycle-$c%04d")
    val shards = (0 to slot).map(k =>
      cycleDir.resolve(f"shard=$k%03d").toString)
    val shardDir = shards.last
    val j = i % pool
    val spec = ReportGen.spec(PublishDomain, 1, 1, seed, stream, i)
      .copy(shards = shards.indices.toVector)
    val paths = shards ++ (if (spec.missingShard)
      Seq(cycleDir.resolve("absent").toString) else Nil)
    val rec = new Rec(i, spec, paths, shards)
    rec.batch = j
    rec.shardDir = Some(shardDir)
    rec.rowsIn = rowsPerBatch
    val t0 = System.nanoTime()
    val df = tracer.span("Transport.deserializeArrowBase64")(
      Transport.deserializeArrowBase64(spark, encoded(j.toInt)))
    val natural = tracer.span("Naming.dfToNaturalName")(
      Naming.dfToNaturalName(df))
    tracer.span("Writer.dfToParquet")(
      Writer.dfToParquet(natural, shardDir, singleFile = true))
    val t1 = System.nanoTime()
    rec.result = ShardReport.report(tracer, spark, rec)
    val t2 = System.nanoTime()
    if (slot == cycle - 1) {
      val out = work.resolve(s"pub-$phase").resolve(f"compact-$c%04d").toString
      tracer.span("Writer.compact")(
        Writer.compact(spark, cycleDir.toString, out))
      rec.compacted = Some((cycleDir.toString, out,
        (i - slot to i).map(_ % pool)))
    }
    val t3 = System.nanoTime()
    rec.publishMs = (t1 - t0) / 1e6
    rec.readMs = (t2 - t1) / 1e6
    rec.opMs = (t3 - t0) / 1e6
    rec
  }

  def storedAndUserBytes(recs: Seq[Rec]): (Long, Long) =
    (recs.flatMap(_.shardDir).map(dirBytes).sum,
      recs.map(r => userBytes(r.batch.toInt)).sum)

  def compactUserBytes(r: Rec): Long =
    r.compacted.map(_._3.map(j => userBytes(j.toInt)).sum).getOrElse(0L)

  /** What the published shard, and any compaction, must hold: its
    * directory, column names and (rows, non-null f4, sum f5, sum f_n_6). */
  override def expectedSums(r: Rec): Seq[Map[String, Any]] = {
    def sums(js: Seq[Long]) = {
      val bs = js.map(batches.batch)
      Seq(rowsPerBatch.toLong * js.size, bs.map(_.f4.count(_ != null).toLong).sum,
        bs.map(_.f5.sum).sum, bs.map(_.f6.map(_.toLong).sum).sum)
    }
    val cols = Seq("f0", "f1", "f2", "f3", "f4", "f5", "f_n_6")
    Json.obj("dir" -> r.shardDir.get, "columns" -> cols,
      "sums" -> sums(Seq(r.batch))) +:
      r.compacted.toSeq.map { case (_, out, js) =>
        Json.obj("dir" -> out, "columns" -> (cols :+ "shard"),
          "sums" -> sums(js)) }
  }
}

object ShardPublish {
  val cycle = 8

  /** The cycle and slot of op `i` of a phase: it writes shard `slot` of
    * cycle `c` and reads shards 0..slot. */
  def slot(i: Long): (Long, Int) = (i / cycle, (i % cycle).toInt)
}
